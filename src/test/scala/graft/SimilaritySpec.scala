package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Sources
import graft.ops.Similarity

class SimilaritySpec extends AnyFunSuite with SparkFixture {

  private def emb = Sources.embeddings(spark, sfDir)

  test("cosine: self-similarity is 1, symmetric") {
    val self = emb.limit(10)
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    assert(self.forall(c => math.abs(c - 1.0) < 1e-9))
  }

  test("normalize: unit norm afterwards") {
    val n = emb.limit(10)
      .select(Similarity.norm(Similarity.normalize(col("embedding"))).as("n"))
      .collect().map(_.getDouble(0))
    assert(n.forall(v => math.abs(v - 1.0) < 1e-5))
  }

  test("native codegen cosine is bit-identical to the HOF formulation") {
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .filter(col("a.vec_id") < 30 && col("b.vec_id") < 30)
      .select(
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("hof"),
        Similarity.cosineNative(col("a.embedding"), col("b.embedding")).as("native"))
      .collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getDouble(0) == r.getDouble(1)),
      "same double arithmetic order ⇒ bit-equal results")
  }

  test("cosine_similarity callable from SQL after extension registration") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                          array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""".stripMargin)
      .head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    // extensions object wires the same builders (smoke the entry point)
    new graft.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("cosineTopK returns 5 rows, descending") {
    val rows = Similarity.cosineTopK(spark, sfDir).collect()
    assert(rows.length === 5)
    val sims = rows.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("knnMajority: one prediction per probe; votes in 1..5") {
    val rows = Similarity.knnMajority(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSet === (0L until 10L).toSet)
    assert(rows.forall(r => r.getLong(2) >= 1 && r.getLong(2) <= 5))
  }

  test("LSH join prunes the candidate space vs full cross join") {
    val n = emb.count()
    val full = n * (n - 1) / 2
    val candidates = Similarity.embedLshCandidates(emb).count()
    assert(candidates < full / 2, s"banding should prune: $candidates vs $full")
  }

  test("embedLshCandidates finds planted duplicate embeddings at sim 1.0") {
    val base = emb.filter(col("vec_id") < 50)
    val planted = base.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 1000)
    val corpus = base.unionByName(planted)
    val pairs = Similarity.embedLshCandidates(corpus)
      .filter(col("id_b") >= 1000 && col("id_a") === col("id_b") - 1000)
      .collect()
    assert(pairs.length === 5, s"expected 5 planted dup pairs, got ${pairs.length}")
    assert(pairs.forall(_.getDouble(2) >= 0.999999))
  }

  test("simPairsQuery: exact pair mining agrees with the LSH path at sim=1 recall") {
    val rows = Similarity.simPairsQuery(spark, sfDir).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(2) >= 0.45))
  }

  test("simPairsExact block equi-join equals the naive all-pairs miner") {
    val e = emb.filter(col("vec_id") < 100)
    val naive = {
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      a.join(b, col("id_a") < col("id_b") &&
                graft.Det.r6(Similarity.cosineNative(col("ea"), col("eb"))) >= 0.45)
        .select(col("id_a"), col("id_b"),
                graft.Det.r6(Similarity.cosineNative(col("ea"), col("eb"))).as("sim"))
    }
    val block = Similarity.simPairsExact(e, 0.45)
    assert(block.exceptAll(naive).isEmpty && naive.exceptAll(block).isEmpty)
  }

  test("declared q_sim_neardup plan is a hash/sort-merge join, not BNLJ") {
    val p = plan(Similarity.simPairsQuery(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }


  test("user behavioral similarity: top-5 per probe, sims in (0,1], no self-pairs") {
    val rows = Similarity.userSimilarityQuery(spark, sfDir).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.forall(_._2.length <= 5))
    assert(rows.forall(r => r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("cluster assignment: total partition of the corpus; centroids self-assign") {
    val assign = Similarity.clusterAssign(emb, 8)
      .select(col("vec_id"), col("centroid_id")).collect()
    val n = emb.count()
    assert(assign.length === n, "every vector assigned exactly once")
    assert(assign.map(_.getLong(0)).distinct.length === n)
    // each centroid's own vector lands in its own cluster (self-cosine ~ 1)
    assign.filter(_.getLong(0) < 8).foreach { r =>
      assert(r.getLong(1) === r.getLong(0), s"centroid ${r.getLong(0)} self-assignment")
    }
    // declared rollup covers the same total
    val rollup = Similarity.clusterAssignQuery(spark, sfDir).collect()
    assert(rollup.map(_.getLong(1)).sum === n)
  }

  test("kmeans: two Lloyd rounds partition the corpus; update moves centroids toward members") {
    val rows = graft.ops.Similarity.kmeansQuery(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(rows.map(_.getLong(1)).sum === emb.count(), "every vector in exactly one cluster")
    // updated centroids are means of ~100+ near-zero-mean random vectors:
    // far smaller in magnitude than any single member, but not all zero
    val dims = rows.flatMap(r => Seq(r.getDouble(2), r.getDouble(3)))
    assert(dims.forall(d => math.abs(d) < 0.2))
    assert(dims.exists(_ != 0.0))
  }

  test("semantic dedup: pairs stay within a cluster and meet the threshold") {
    val k = math.max(1L, (emb.count() + 249L) / 250L) // the query's adaptive k
    val assign = Similarity.clusterAssign(emb, k)
      .select(col("vec_id"), col("centroid_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Similarity.semanticDedupQuery(spark, sfDir).collect()
    assert(rows.nonEmpty, "sf0.001 must yield >= 1 cluster with near pairs")
    rows.foreach { r =>
      val (cl, nPairs, nVecs) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(nVecs >= 2 && nVecs <= 2 * nPairs, s"cluster $cl member/pair bounds")
      assert(r.getDouble(3) >= 0.3, s"cluster $cl max_sim under threshold")
      assert(assign.values.toSet.contains(cl))
    }
  }
}
