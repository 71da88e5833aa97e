package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Scale

class ScaleSpec extends AnyFunSuite with SparkFixture {

  test("bucketed join of two co-bucketed tables plans NO shuffle") {
    import graft.io.Sources
    Scale.writeBucketed(Sources.orders(spark, sfDir), "b_orders",
      Seq("o_custkey"), 4, Seq("o_custkey"))
    Scale.writeBucketed(Sources.customer(spark, sfDir), "b_customer",
      Seq("c_custkey"), 4, Seq("c_custkey"))
    // disable broadcast so the planner actually exercises the buckets
    // (with a broadcastable side it rightly prefers BroadcastHashJoin)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("b_orders")
        .join(spark.table("b_customer"),
          col("o_custkey") === col("c_custkey"))
      val p = plan(j)
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      assert(j.count() === Sources.orders(spark, sfDir).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("salted join returns the same rows as the plain join") {
    import spark.implicits._
    // hot key: 90% of the large side is key 7
    val large = (1 to 1000).map(i => (if (i % 10 == 0) i.toLong % 20 else 7L, i)).toDF("k", "v")
    val small = (0L to 19L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = large.join(small, "k")
    val salted = Scale.saltedJoinBy(large, small, "k", col("v"), 8)
      .select(plain.columns.map(col): _*)
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salt spreads the hot key across buckets") {
    import spark.implicits._
    val large = (1 to 1000).map(i => (7L, i)).toDF("k", "v")
    val buckets = large.withColumn("__salt", pmod(xxhash64(col("v")), lit(8)))
      .groupBy("__salt").count().collect()
    assert(buckets.length === 8, "all salt buckets should be populated")
    assert(buckets.map(_.getLong(1)).max < 1000 / 2, "no bucket holds most of the hot key")
  }

  test("stratifiedSample: exactly 10 per language, deterministic, rows from the corpus") {
    val a = graft.ops.Scale.stratifiedSampleQuery(spark, sfDir).collect()
    val b = graft.ops.Scale.stratifiedSampleQuery(spark, sfDir).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq, "sample must be deterministic")
    val perLang = a.groupBy(_.getString(0))
    assert(perLang.nonEmpty)
    perLang.foreach { case (lang, rows) =>
      assert(rows.length === 10, s"$lang: ${rows.length}")
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 10), s"$lang ranks")
    }
    val ids = graft.io.Sources.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.forall(r => ids(r.getLong(2))))
  }

  test("sampleByHash: deterministic, referentially consistent across tables") {
    import graft.io.Sources
    val o1 = Scale.sampleByHash(Sources.orders(spark, sfDir), "o_orderkey", 0.2)
    val o2 = Scale.sampleByHash(Sources.orders(spark, sfDir), "o_orderkey", 0.2)
    assert(o1.exceptAll(o2).isEmpty, "same fraction+key ⇒ identical sample")
    val n = o1.count().toDouble / Sources.orders(spark, sfDir).count()
    assert(n > 0.1 && n < 0.3, s"sampled fraction $n far from 0.2")
    // referential consistency: lineitem sampled on the SAME key joins fully
    val l = Scale.sampleByHash(
      Sources.lineitem(spark, sfDir).withColumnRenamed("l_orderkey", "o_orderkey"),
      "o_orderkey", 0.2)
    assert(l.join(o1, "o_orderkey").count() === l.count())
  }

  test("AQE OptimizeSkewedJoin splits the hot partition (when salting is NOT needed)") {
    import spark.implicits._
    // one pathological key: ~80% of the left side lands in a single reducer.
    // Thresholds are lowered so the test-scale bytes trip the same decision
    // a production hot partition would; payload is incompressible-ish so
    // shuffle sizes reflect row counts.
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k)).toMap
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "262144")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "131072")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val left = spark.range(200000L)
        .select(when(col("id") < 160000L, 0L).otherwise(col("id")).as("k"),
                md5(col("id").cast("string")).as("pad"))
      val right = spark.range(0L, 200000L, 1000L).select(col("id").as("k"),
                md5(col("id").cast("string")).as("dim"))
      // keep the payload columns in the output — selecting only k would let
      // column pruning shrink the shuffle below the skew threshold
      val joined = left.join(right, "k").select(col("k"), col("pad"), col("dim"))
      // collect() executes THIS dataset's QueryExecution — count() would
      // build a fresh one and the inspected plan would never finalize
      assert(joined.collect().length === 160000 + 40) // hot key + every 1000th id
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the join skewed:\n$finalPlan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("zorder2 matches a reference bit-interleave") {
    import spark.implicits._
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val pts = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), Scale.zorder2(col("x"), col("y"), 4).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) === ref(x, y, 4), s"interleave mismatch at ($x,$y)")
    }
    // bijective on the 4-bit grid
    assert(got.values.toSet.size === pts.size)
  }

  test("z-order locality: a 1-dim predicate touches few z-ranges") {
    import spark.implicits._
    val pts = (for (x <- 0L until 256L; y <- 0L until 256L by 8) yield (x, y))
      .toDF("x", "y")
      .select(col("x"), col("y"), Scale.zorder2(col("x"), col("y"), 8).as("z"))
    // files of 256 consecutive z values; x in [0,16) must hit a small
    // fraction of them (the clustering property layout jobs rely on),
    // while under a plain x-major sort the SAME predicate would hit the
    // ranges proportional to its selectivity times ALL y values
    val hit = pts.filter(col("x") < 16)
      .select(shiftright(col("z"), 8).as("zr")).distinct().count()
    val total = pts.select(shiftright(col("z"), 8).as("zr")).distinct().count()
    assert(hit.toDouble / total <= 0.20, s"x<16 hit $hit of $total z-ranges")
  }

  test("OPTIMIZE ZORDER end-to-end: z-laid-out catalog groups prune on BOTH dimensions") {
    // the full layout story: the same rows land in a GraftCatalog table
    // twice — hash-scattered vs range-partitioned by z — and the
    // manifest's per-group (min,max) stats are what a point predicate
    // prunes against. Scattered groups all straddle the full x and y
    // ranges (no group prunable); z-ordered groups localize BOTH
    // dimensions at once, so most groups are provably skippable for a
    // point lookup on either column — file skipping from layout alone.
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val pts = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
      .select(col("x"), col("y"), Scale.zorder2(col("x"), col("y"), 6).as("z"))
    def groupsOf(table: String, layout: org.apache.spark.sql.DataFrame) = {
      spark.sql(s"DROP TABLE IF EXISTS graft_fb.default.$table")
      spark.sql(s"CREATE TABLE graft_fb.default.$table (x BIGINT, y BIGINT, z BIGINT)")
      layout.createOrReplaceTempView(s"${table}_src")
      spark.sql(s"INSERT INTO graft_fb.default.$table SELECT x, y, z FROM ${table}_src")
      val cat = spark.sessionState.catalogManager.catalog("graft_fb")
        .asInstanceOf[graft.catalog.GraftCatalog]
      val dir = java.nio.file.Paths.get(cat.loadTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array("default"), table))
        .asInstanceOf[graft.catalog.GraftTable].location)
      graft.catalog.GroupFiles.live(dir)
    }
    val scattered = groupsOf("fb_scatter", pts.repartition(16, col("y")))
    val zordered = groupsOf("fb_zorder", pts.repartitionByRange(16, col("z")))
    assert(scattered.size >= 8 && zordered.size >= 8, "need a multi-group layout")
    def hits(gs: Seq[graft.catalog.Group], c: String, v: Long) =
      gs.count(_.mayContain(c, v)).toDouble / gs.size
    // hash-scattered: every group straddles the x range -> nothing prunes
    assert(hits(scattered, "x", 7) === 1.0)
    // z-ordered: a point on x OR y prunes most groups via manifest stats
    assert(hits(zordered, "x", 7) <= 0.5, s"x=7 hit ${hits(zordered, "x", 7)}")
    assert(hits(zordered, "y", 7) <= 0.5, s"y=7 hit ${hits(zordered, "y", 7)}")
    spark.sql("DROP TABLE graft_fb.default.fb_scatter")
    spark.sql("DROP TABLE graft_fb.default.fb_zorder")
  }

  test("runtime filter: bloom injects under forced confs and preserves the join result") {
    import graft.ops.Scale
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "true")
      spark.conf.set(keys(1), "0")
      spark.conf.set(keys(2), "-1")
      val plan = Scale.runtimeFilterPlan(spark, sfDir)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") || plan.contains("might_contain"),
        s"InjectRuntimeFilter did not fire; optimized plan:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(s) => spark.conf.set(k, s); case None => spark.conf.unset(k) }
    }
    // semantics: the forced-on key equals the default-conf plain join
    val a = Scale.runtimeFilterQuery(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Scale.runtimeFilterPlan(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b, "bloom-filtered join must equal the plain join")
  }
}
