package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Materialize.snapshot

/** Cluster-scale join machinery (SURVEY §4 / the 100 TB mandate):
  * bucketing for shuffle-free co-located joins, and key salting for skew.
  * These do nothing the optimizer can't verify — tests assert the plans
  * (no Exchange under bucketed joins; salt spreads a hot key).
  */
object Scale {

  /** Write a table bucketed by join key — repeated joins/aggregations on
    * the key then need NO shuffle (co-located partitions). At 100 TB this
    * converts every fact⋈fact join on the bucket key from a full shuffle
    * of both sides into a zip of pre-sorted buckets.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Salted join for skewed keys: the skewed (large) side gets a salt in
    * [0, salt) derived from a unique column (deterministic, so replays and
    * the oracle agree); the small side is exploded to all salt values.
    * Spreads one hot key over `salt` reducers. AQE's skew join handles
    * moderate skew automatically; salting is for the pathological hot-key
    * case (one key ≫ a partition).
    */
  def saltedJoinBy(large: DataFrame, small: DataFrame, key: String,
                   saltFrom: Column, salt: Int): DataFrame = {
    val l = large.withColumn("__salt", pmod(xxhash64(saltFrom), lit(salt)))
    val s = small.withColumn("__salt", explode(sequence(lit(0), lit(salt - 1))))
      .withColumn("__salt", col("__salt").cast("long"))
    l.join(s, Seq(key, "__salt")).drop("__salt")
  }

  /** Deterministic hash sample: keep a row iff xxhash64(key) mod N falls
    * under fraction·N. Unlike df.sample, this is stable across runs,
    * partitionings and engines, and the SAME keys survive in every table
    * sampled with the same key — giving referentially-consistent samples
    * of a star schema (sample orders and lineitem by orderkey and the join
    * still works).
    */
  def sampleByHash(df: DataFrame, key: String, fraction: Double,
                   buckets: Long = 1L << 16): DataFrame =
    df.filter(pmod(xxhash64(col(key)), lit(buckets)) < (fraction * buckets).toLong)

  /** Engine-portable deterministic sample: bucket by a hex digit of
    * md5(key) — md5 agrees across every engine (unlike xxhash64, which is
    * Spark-specific), so the SAME rows are sampled when a different system
    * replays the pipeline. 2 of 16 digit values = a 1/8 sample.
    * sampleByHash above is the faster in-engine form.
    */
  def sampleByMd5(df: DataFrame, key: String, hexDigits: Seq[String]): DataFrame =
    df.filter(substring(md5(col(key).cast("string")), 1, 1).isin(hexDigits: _*))

  /** q_stratified_sample: EXACT-k deterministic stratified sample — the
    * first 10 documents per language in md5(doc_id) order (md5 agrees
    * across engines, so any system replaying the pipeline keeps the SAME
    * rows; doc_id tiebreak makes the order total). The rate-sampling
    * sibling is q_mixture_sample (keep-probability per stratum — the
    * preferred 100 TB form); exact-k needs a per-stratum order, computed
    * as the two-phase form (per-partition keep the k smallest hashes,
    * then re-rank the ≤ k·P survivors — Rank.topK), which bounds every
    * sort task regardless of per-stratum skew.
    */
  def stratifiedSampleQuery(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.io.Sources.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
              md5(col("doc_id").cast("string")).as("h"))
    // the "two-phase form" promised above, now the implementation:
    // Rank.topK keeps ≤ 10 smallest hashes per (input partition, lang)
    // locally, then ranks the bounded survivors — lang is a 5-value
    // domain, so a single per-lang window would be 5 tasks at scale
    graft.ops.Rank.topK(d, Seq("lang"), Seq(col("h"), col("doc_id")), 10, "rk")
      .withColumn("rk", col("rk").cast("int"))
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Every unordered row pair (idCol_a < idCol_b) of a BOUNDED frame as a
    * block-replicated EQUI-join (same shape as Similarity.simPairsExact):
    * the right side is hashed into `blocks` groups, the left side exploded
    * to every block id — a shuffled hash/sort-merge join, never a
    * nested-loop/cartesian plan (PlanGateSpec bans those), with the O(n²)
    * comparisons spread evenly over `blocks` reducers. Columns return
    * suffixed _a / _b. Bound n before calling — all-pairs is inherently
    * quadratic; this controls the plan shape, not the asymptotics.
    */
  def allPairsBlocked(df: DataFrame, idCol: String, blocks: Int = 16): DataFrame = {
    val left = df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, c + "_a"))
      .withColumn("__blk", explode(array((0 until blocks).map(i => lit(i.toLong)): _*)))
    val right = df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, c + "_b"))
      .withColumn("__blk", pmod(xxhash64(col(idCol + "_b")), lit(blocks)))
    left.join(right, Seq("__blk")).filter(col(idCol + "_a") < col(idCol + "_b")).drop("__blk")
  }

  /** q_join_skew: the salted skew join DECLARED against a plain-join
    * oracle — proving the salt is semantically invisible (same rows, same
    * aggregates) while physically spreading each hot key over 8 reducers.
    * The salt on the large side derives deterministically from o_orderkey.
    */
  /** q_bucket_join: the CO-LOCATED bucketed join under the oracle gate —
    * both sides written bucketed+sorted on the join key (8 buckets), then
    * merge-join-hinted so the plan zips pre-sorted buckets with NO shuffle
    * Exchange on either side (asserted in PlanGateSpec). This is THE
    * repeated-fact-join layout at 100 TB: the shuffle is paid once at
    * write time, never per query. The bucketed twins are built once per
    * (session, source dir) through `graft.Session.once`, so steady-state
    * runs time the join, not the layout.
    */
  def bucketJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.moneySum
    graft.Session.once(spark, "bucket_join", dir) {
      // a PREVIOUS JVM's warehouse directory survives while the in-memory
      // catalog does not — saveAsTable then fails LOCATION_ALREADY_EXISTS;
      // drop the entry AND clear the leftover location before writing
      // (Sinks owns the path parsing: file: URIs are percent-DECODED)
      Seq("graft_b_orders", "graft_b_customer")
        .foreach(graft.io.Sinks.dropTableAndLocation(spark, _))
      writeBucketed(
        graft.io.Sources.orders(spark, dir).select(col("o_custkey"), col("o_totalprice")),
        "graft_b_orders", Seq("o_custkey"), 8, Seq("o_custkey"))
      writeBucketed(
        graft.io.Sources.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
        "graft_b_customer", Seq("c_custkey"), 8, Seq("c_custkey"))
      ""
    }
    spark.table("graft_b_orders").hint("merge")
      .join(spark.table("graft_b_customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** Z-order (Morton) value of two long columns: the low `bits` bits of
    * each are interleaved (x in even positions, y in odd). Sorting or
    * range-partitioning a table by this value clusters rows that are close
    * in BOTH dimensions into the same files, so per-file min/max stats
    * prune scans filtered on EITHER column — the multi-dimensional layout
    * trick behind Delta/Iceberg OPTIMIZE ZORDER, here as a plain codegen'd
    * column expression usable with writePartitioned/writeBucketed/sortBy.
    * Pure integer bit math (shifts, masks, adds) — engine-portable and
    * exactly reproducible.
    */
  def zorder2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      (shiftright(x.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(y.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
  }

  /** q_zorder_layout: the z-order clustering key under the oracle gate —
    * orders mapped to a 16-bit Morton code over (o_custkey mod 256,
    * o_orderkey mod 256), then rolled up per 256-wide z-range exactly as a
    * layout job would assign rows to files. The declared result pins the
    * interleave itself (min/max z per range + row count); the locality
    * property (a predicate on either source dimension touches few
    * z-ranges) is asserted in ScaleSpec.
    */
  def zorderLayoutQuery(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.io.Sources.orders(spark, dir)
      .select((col("o_custkey") % 256).as("x"), (col("o_orderkey") % 256).as("y"))
      .withColumn("z", zorder2(col("x"), col("y"), 8))
    o.groupBy(shiftright(col("z"), 8).as("z_range"))
      .agg(count(lit(1)).as("n"), min(col("z")).as("z_min"), max(col("z")).as("z_max"),
           min(col("x")).as("x_min"), max(col("x")).as("x_max"))
      .orderBy(col("z_range"))
  }

  def skewJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.moneySum
    val o = graft.io.Sources.orders(spark, dir)
      .select(col("o_custkey").as("custkey"), col("o_totalprice"), col("o_orderkey"))
    val c = graft.io.Sources.customer(spark, dir)
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    saltedJoinBy(o, c, "custkey", col("o_orderkey"), 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** q_skew_diag: join-key skew diagnostics — the census you run BEFORE
    * choosing between a plain join, a broadcast, salting (q_join_skew)
    * or AQE skew splitting: per join side, the key count, row count,
    * heaviest key's row count, the exact MEDIAN rows-per-key, and the
    * skew ratio max/mean. Two-level aggregation keeps everything
    * bounded: the per-key census shuffles once at key grain, then
    * collapses to a VALUE HISTOGRAM of rows-per-key (|distinct count
    * values| rows — tens at any SF, the q_agg_percentile_disc shape), so
    * the median comes from a cumulative over the tiny histogram, never a
    * sort of the key census. All integers; skew = max·n_keys/n_rows is
    * ONE IEEE division of exact integers, round-6.
    */
  def skewDiagQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    import org.apache.spark.sql.expressions.Window
    def sideExact(name: String, df: DataFrame, key: String): DataFrame = {
      val census = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
      val hist = census.groupBy(col("c")).agg(count(lit(1)).as("nk"))
      val wCum = Window.orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      hist
        .withColumn("cum", sum(col("nk")).over(wCum))
        .withColumn("n_keys", sum(col("nk")).over(wAll))
        .withColumn("n_rows", sum(col("c") * col("nk")).over(wAll))
        .withColumn("max_c", max(col("c")).over(wAll))
        .filter(col("cum") >= expr("(n_keys + 1) div 2") &&
                col("cum") - col("nk") < expr("(n_keys + 1) div 2"))
        .select(lit(name).as("side"), col("n_keys"), col("n_rows"),
          col("max_c").as("max_per_key"), col("c").as("p50_per_key"),
          r6((col("max_c") * col("n_keys")).cast("double") /
             col("n_rows").cast("double")).as("skew_ratio"))
    }
    sideExact("lineitem_per_orderkey",
        graft.io.Sources.lineitem(spark, dir).select(col("l_orderkey")), "l_orderkey")
      .unionByName(sideExact("orders_per_custkey",
        graft.io.Sources.orders(spark, dir).select(col("o_custkey")), "o_custkey"))
      .orderBy(col("side"))
  }

  /** q_runtime_filter: the RUNTIME BLOOM FILTER join — Spark's
    * InjectRuntimeFilter builds a bloom filter from the SELECTIVE side of
    * a shuffle join and pushes `might_contain` onto the big side's scan,
    * so most non-matching fact rows die BEFORE the shuffle: at 100 TB
    * this is the difference between shuffling the whole fact table and
    * shuffling the ~1/5 that can possibly join. The key executes the
    * URGENT-orders ⋈ lineitem rollup with the filter FORCED ON at test
    * scale (application-side size threshold → 0; broadcast disabled so
    * the shuffle-join path — the one that matters at scale — is the one
    * exercised), materializes the result INSIDE the conf window
    * (`Materialize.snapshot`), then restores every conf — session
    * plans for other keys never change. The oracle is the plain join:
    * bloom false-positives only ever pass rows through to the exact
    * join, so the hash gate proves the injected filter is
    * semantics-preserving. RuntimeFilterSpec asserts the bloom actually
    * injects (bloom_filter_agg / might_contain in the optimized plan) —
    * the gate alone can't distinguish "filter ran" from "filter skipped".
    */
  def runtimeFilterQuery(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.Session.withConfs(spark,
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      snapshot(runtimeFilterPlan(spark, dir)) // planned and run before the confs are restored
    }
    out.orderBy(col("l_suppkey"))
  }

  /** The un-materialized plan (shared with RuntimeFilterSpec's plan
    * assertion): URGENT orders filter → shuffle join → supplier rollup.
    */
  def runtimeFilterPlan(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.moneySum
    val ord = graft.io.Sources.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val li = graft.io.Sources.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("sum_price"))
  }
}
