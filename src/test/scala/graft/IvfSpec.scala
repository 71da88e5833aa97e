package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Sources
import graft.ops.{Ivf, Similarity}

class IvfSpec extends AnyFunSuite with SparkFixture {

  private def emb = Sources.embeddings(spark, sfDir)

  test("IVF index assigns every vector to a valid cell; build is deterministic") {
    val cents = Ivf.buildCentroids(emb, k = 8, iters = 2)
    assert(cents.length === 8)
    val idx = Ivf.index(emb, cents)
    assert(idx.filter(col("cell") < 0 || col("cell") >= 8).count() === 0)
    assert(idx.count() === emb.count())
    val cents2 = Ivf.buildCentroids(emb, k = 8, iters = 2)
    assert(cents.map(_._2.toSeq).toSeq === cents2.map(_._2.toSeq).toSeq)
  }

  test("IVF search recall vs brute force is reasonable; nprobe=all is exact") {
    val probes = emb.filter(col("vec_id") < 15)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
    val corpus = emb.filter(col("vec_id") >= 15)
    val cents = Ivf.buildCentroids(corpus, k = 8, iters = 2)
    val idx = Ivf.index(corpus, cents)
    val exact = Reference.bruteForceTopK(corpus, probes, 1)
      .select("probe_id", "vec_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // nprobe = k ⇒ every cell searched ⇒ identical to brute force
    val full = Ivf.search(idx, probes, cents, k = 1, nprobe = 8)
      .select("probe_id", "vec_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full === exact)
    // nprobe = 3 of 8 cells ⇒ decent recall
    val approx = Ivf.search(idx, probes, cents, k = 1, nprobe = 3)
      .select("probe_id", "vec_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = exact.count { case (p, v) => approx.get(p).contains(v) }
    info(s"IVF recall@1 at nprobe=3/8: $hits/${exact.size}")
    // the build is deterministic (asserted above), so the recall at this
    // fixed seed/nprobe is an exact number — pin it: measured 10/15.
    // A drop means the quantizer or cell assignment regressed.
    assert(hits >= 10, s"IVF recall@1 regressed below the pinned floor: $hits/${exact.size} < 10/15")
  }

  test("q_ivf_search: corpus is never shuffled — assignment is map-side, search joins broadcast") {
    val df = Ivf.ivfSearchQuery(spark, sfDir)
    // cell assignment (index) is pure column math over broadcast-literal
    // centroids: its plan must contain NO Exchange at all
    val cents = Ivf.buildCentroids(emb.filter(col("vec_id") >= 10), k = 8, iters = 2)
    val idxPlan = plan(Ivf.index(emb.filter(col("vec_id") >= 10), cents))
    assert(!idxPlan.contains("Exchange"),
      s"cell assignment must not shuffle the corpus:\n$idxPlan")
    // the full search may shuffle ONLY on probe_id (the per-probe top-k
    // window); any exchange keyed on corpus columns means the corpus moved
    val searchPlan = plan(df)
    val badEx = searchPlan.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .filterNot(_.contains("probe_id")).toSeq
    assert(badEx.isEmpty, s"corpus-keyed shuffle in IVF search:\n${badEx.mkString("\n")}")
    assert(searchPlan.contains("BroadcastHashJoin"),
      s"probe-cells must broadcast against the indexed corpus:\n$searchPlan")
    // recall-1 content is pinned against brute force by the test above and
    // by the DuckDB oracle gate (q_ivf_search)
    assert(df.count() === 50) // 10 probes x top-5
  }

  test("partitioned index: a search with nprobe=2 scans ONLY the 2 probed cell directories") {
    import org.apache.spark.sql.functions._
    val corpus = emb.filter(col("vec_id") >= 15)
    val cents = Ivf.buildCentroids(corpus, k = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Ivf.writeIndex(Ivf.index(corpus, cents), dir)
    // on disk: one directory per cell (hive layout — any reader prunes it)
    val cellDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.length >= 4, s"expected multiple cell dirs, got ${cellDirs.length}")
    val probes = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))
    val res = Ivf.searchPartitioned(spark, dir, probes, cents, k = 3, nprobe = 2)
    val p = plan(res)
    // the scan's PartitionFilters must carry the cell IN-list: pruning at
    // planning time, not a data filter over every directory
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell"), s"cell predicate not in PartitionFilters:\n$p")
    // and the results agree with the unpartitioned search path exactly
    val mem = Ivf.search(Ivf.index(corpus, cents), probes, cents, k = 3, nprobe = 2)
      .select("probe_id", "vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val disk = res.select("probe_id", "vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(disk === mem, "materialized-index search must equal the in-memory path")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("ann recall: every probe reported once; recall = n_hits/5 and pruned ⊆ exact logic holds") {
    val rows = Ivf.annRecallQuery(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == (8L until 18L).toSeq, "10 probes, each exactly once")
    rows.foreach { case (p, hits, rec) =>
      assert(hits >= 0L && hits <= 5L, s"probe $p hits $hits")
      assert(math.abs(rec - hits / 5.0) < 1e-12, s"probe $p recall")
    }
    // pruning can only LOSE neighbours: nprobe=2 recall <= 1, and the
    // average should be positive on this fixture (cells share structure)
    assert(rows.map(_._3).sum > 0.0, "all-zero recall would mean a broken probe path")
  }
}
