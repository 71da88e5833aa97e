package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Det._
import graft.io.Sources
import graft.model.Schemas

/** Scan / bulk-load / semi-structured extraction surface (SURVEY.md §2 A).
  */
object Etl {

  /** q_scan_project_filter: projection + predicate that must reach the
    * parquet scan (PushedFilters + pruned ReadSchema — asserted in tests).
    * At 100 TB this is the difference between reading 2 columns and 11.
    */
  def scanProjectFilter(spark: SparkSession, dir: String): DataFrame =
    Sources.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"), col("l_extendedprice"))
      .filter(col("l_extendedprice") > 90000.0)
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** q_csv_roundtrip: the COPY FROM CSV analogue (postpy dml.copy_from_csv
    * [unverified, SURVEY §0]). Writes a deterministic lineitem slice to a
    * temp CSV (header, empty-string nulls, UTF-8), reads it back with the
    * explicit schema, and aggregates — the declared result must equal the
    * same aggregate straight off parquet, proving the roundtrip lossless.
    * The write happens eagerly; the returned plan reads only the CSV.
    */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    // FIXED scratch path (Spark's overwrite mode replaces the contents):
    // a fresh createTempDirectory per invocation accumulates populated
    // dirs forever (deleteOnExit is a no-op on non-empty directories), and
    // Verify+Bench call this dozens of times per round
    val tmp = graft.Session.scratch("csv_roundtrip")
    val slice = Sources.lineitem(spark, dir).filter(col("l_orderkey") % 5 === 0)
    slice.write.mode("overwrite")
      .option("header", "true").option("nullValue", "")
      // timestampFormat with micros so ns-truncated shipdates survive
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(tmp)
    Sources.csv(spark, tmp, Schemas.lineitem)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           moneySum(col("l_quantity")).as("sum_qty"),
           moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** q_json_roundtrip: JSON-lines bulk load — write a documents slice as
    * JSONL, read it back with the explicit schema (no inference pass), and
    * aggregate; the declared result must equal the same aggregate straight
    * off parquet, proving the roundtrip lossless. The newline-delimited
    * JSON source/sink is the interchange format most ingest feeds arrive
    * in at scale.
    */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Session.scratch("json_roundtrip")
    Sources.documents(spark, dir).filter(col("doc_id") % 3 === 0)
      .write.mode("overwrite").json(tmp)
    Sources.jsonLines(spark, tmp, Schemas.documents)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
           countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  /** q_orc_roundtrip: columnar-format interop — write an orders slice as
    * ORC (Spark's second first-class columnar format; the interchange
    * format of Hive-era warehouses), read it back with the explicit
    * schema, and aggregate. The declared result must equal the same
    * aggregate straight off parquet, proving the cross-format roundtrip
    * lossless (timestamps included, under the UTC session contract).
    */
  /** q_schema_merge: SCHEMA EVOLUTION under the gate — two parquet
    * generations of the same table (v1: three columns; v2: a money
    * column appeared) read back as ONE frame via mergeSchema, the
    * lakehouse reality every long-lived ingest pipeline hits: old files
    * never get rewritten, the reader reconciles. v1 rows surface the new
    * column as NULL; the declared aggregate proves both the union'd
    * schema and the NULL semantics (count(price) counts only v2 rows,
    * sum skips NULLs). The oracle recomputes from the base table with
    * the same even/odd writer rule — the evolved read must be
    * indistinguishable from never having evolved. Scale note:
    * mergeSchema costs one footer-read per FILE at planning time — on
    * 100 TB, pin the merged schema in the catalog (GraftCatalog stores
    * it) and pass it explicitly instead of re-sniffing.
    */
  def schemaMerge(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Session.scratch("schema_merge")
    val o = Sources.orders(spark, dir)
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$tmp/gen=1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
              money(col("o_totalprice")).as("price"))
      .write.mode("overwrite").parquet(s"$tmp/gen=2")
    spark.read.option("mergeSchema", "true").parquet(s"$tmp/gen=1", s"$tmp/gen=2")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           count(col("price")).as("n_with_price"),
           asOut(sum(col("price"))).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Session.scratch("orc_roundtrip")
    Sources.orders(spark, dir).filter(col("o_orderkey") % 7 === 0)
      .write.mode("overwrite").orc(tmp)
    spark.read.schema(Schemas.orders).orc(tmp)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
           moneySum(col("o_totalprice")).as("sum_price"),
           countDistinct(col("o_orderpriority")).as("n_priorities"))
      .orderBy(col("o_orderstatus"))
  }

  /** q_xml_roundtrip: XML bulk load — Spark 4's built-in XML source (the
    * spark-xml lineage merged upstream). A part slice is written as
    * row-tagged XML, read back with the explicit schema (no inference
    * pass), and aggregated; the declared result must equal the same
    * aggregate straight off parquet, proving the roundtrip lossless —
    * entity escaping included. XML is the remaining feed format of
    * document/EDI-era ingest pipelines; at scale the source splits by row
    * tag like any text source.
    */
  def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Session.scratch("xml_roundtrip")
    Sources.part(spark, dir).filter(col("p_partkey") % 4 === 0)
      .write.mode("overwrite")
      .option("rootTag", "parts").option("rowTag", "part")
      .xml(tmp)
    spark.read.option("rowTag", "part").schema(Schemas.part)
      .xml(tmp)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
           moneySum(col("p_retailprice")).as("sum_price"),
           countDistinct(col("p_type")).as("n_types"))
      .orderBy(col("p_brand"))
  }

  /** Hive-layout scratch table for the partition-pruning surface: orders
    * written partitioned by order month (`o_month=yyyy-MM/` directories)
    * via Sinks.writePartitioned. Built once per (session, source dir)
    * through `graft.Session.once`, so repeated Bench/Verify passes time
    * the PRUNED READ (the key's subject), not a rewrite. At 100 TB this
    * layout IS the table design: a month predicate must skip whole
    * directories at planning time instead of scanning 84 months of data.
    */
  def partitionedOrdersPath(spark: SparkSession, dir: String): String = {
    val tmp = graft.Session.scratch("partitioned_orders")
    graft.Session.once(spark, "partitioned_orders", dir) {
      val orders = Sources.orders(spark, dir)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      graft.io.Sinks.writePartitioned(orders, tmp, Seq("o_month"), 1000000L)
      ""
    }
    tmp
  }

  /** The schema of the layout `partitionedOrdersPath` writes: orders plus
    * the `o_month` partition column. Reading with it launches no
    * schema-inference job and keeps `o_month` a string.
    */
  private val partitionedOrdersSchema =
    Schemas.orders.add("o_month", org.apache.spark.sql.types.StringType)

  private def readPartitionedOrders(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(partitionedOrdersSchema).parquet(partitionedOrdersPath(spark, dir))

  /** q_partition_prune: partitioned-layout roundtrip + PRUNED read — write
    * orders hive-partitioned by month, read back with a month-range
    * predicate that resolves against directory names only (PartitionFilters
    * in the scan; asserted in PlanGateSpec — 3 of ~80 month directories
    * touched, the rest never opened; the synthetic orders span
    * 1995-01..2001-08, so the range sits mid-table). The declared result
    * must equal the
    * same aggregate straight off flat parquet (the oracle's form), proving
    * the partitioned layout lossless AND the pruned read correct.
    */
  def partitionPrune(spark: SparkSession, dir: String): DataFrame =
    readPartitionedOrders(spark, dir)
      .filter(col("o_month").between("1996-01", "1996-03"))
      .groupBy(col("o_month"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_month"), col("o_orderpriority"))

  /** q_partition_dpp: DYNAMIC partition pruning under the oracle gate —
    * the month predicate reaches the partitioned fact only THROUGH a
    * broadcast dim join (a month dimension derived from orders, filtered
    * on its quarter attribute), so the pruning decision happens at
    * runtime via the DPP subquery (plan shape asserted in PlanGateSpec).
    * The declared result must equal the same aggregate off flat parquet
    * with the equivalent literal predicate — DPP must be semantically
    * invisible, only the files-read change.
    */
  def partitionDpp(spark: SparkSession, dir: String): DataFrame = {
    val fact = readPartitionedOrders(spark, dir)
    val dim = fact.select(col("o_month")).distinct()
      .withColumn("yr", substring(col("o_month"), 1, 4))
      .withColumn("q1", substring(col("o_month"), 6, 2).isin("01", "02", "03"))
    fact.join(broadcast(dim.filter(col("yr") === "1997" && col("q1"))), Seq("o_month"))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_month"))
  }

  /** q_partition_catalog: the CATALOG twin of q_partition_prune — events
    * loaded once into a GraftCatalog table `PARTITIONED BY (days(ts))`
    * (per-day group files, #p manifest tags, tight per-group ts stats),
    * then a 5-day range aggregate. The manifest's stats prune the scan to
    * the in-range day groups at PLAN time (PlanGateSpec asserts the
    * planned-partition count); the oracle twin runs the same aggregate on
    * flat parquet — the partitioned layout must be semantically
    * invisible, only the files-opened change. This puts round-7's
    * catalog time-partitioning under the oracle gate the way
    * q_bucket_join gates the bucketed layout.
    */
  def partitionCatalog(spark: SparkSession, dir: String): DataFrame = {
    val T = "graft_ev.default.events_by_day"
    spark.conf.set("spark.sql.catalog.graft_ev", "graft.catalog.GraftCatalog")
    graft.Session.once(spark, "partition_catalog", dir) {
      spark.sql(s"DROP TABLE IF EXISTS $T")
      spark.sql(s"""CREATE TABLE $T (event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,
                    event_type STRING, value DOUBLE)
                    PARTITIONED BY (days(ts))""")
      val src = "graft_partition_catalog_src"
      Sources.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .createOrReplaceTempView(src)
      spark.sql(s"INSERT INTO $T SELECT * FROM $src")
      spark.catalog.dropTempView(src)
      ""
    }
    spark.table(T)
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp_ntz") &&
              col("ts") < lit("2024-01-15").cast("timestamp_ntz"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_json_extract: JSON field extraction from a string column — the
    * codegen'd get_json_object path, no UDF.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Sources.events(spark, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** q_variant_extract: Spark 4 VARIANT ingestion of semi-structured
    * event properties — parse_json into the binary VARIANT encoding once,
    * then typed path extraction (variant_get) drives the aggregate. At
    * 100 TB this is the schema-on-read shape for heterogeneous event
    * payloads: VARIANT decodes fields by offset (no re-tokenizing the
    * JSON text per extraction, unlike get_json_object — q_json_extract is
    * the string-path twin of this key), stays columnar through the scan,
    * and shreds to typed columns at the first reference. The oracle twin
    * is DuckDB's JSON extraction — same values, so the gate proves the
    * VARIANT path is semantically invisible.
    */
  def variantExtract(spark: SparkSession, dir: String): DataFrame =
    Sources.events(spark, dir)
      .select(col("event_type"),
              variant_get(parse_json(col("props")), "$.k", "long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"), max(col("k")).as("max_k"),
           count_distinct(col("k")).as("n_distinct_k"))
      .orderBy(col("event_type"))

  /** Data-quality expectations over a table: each check is a (name,
    * violation-predicate) pair evaluated in ONE conditional-aggregation
    * pass — the ingest-gate report a 100 TB pipeline runs before
    * publishing a partition (reject/alert on nonzero counts). Uniqueness
    * checks need their own small aggregate (they are not row-local).
    */
  def dqChecks(df: DataFrame, checks: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.{count, when, lit}
    val aggs = checks.map { case (name, violated) =>
      count(when(violated, 1)).as(name)
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    // long format: one row per check
    row.unpivot(Array.empty, checks.map(c => org.apache.spark.sql.functions.col(c._1)).toArray,
                "chk", "violations")
  }

  /** q_dq_checks: the declared data-quality report on lineitem — range,
    * domain and null checks (row-local, one pass) plus a composite-key
    * duplicate count.
    */
  def dqChecksQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val l = Sources.lineitem(spark, dir)
    val rowChecks = dqChecks(l, Seq(
      "qty_out_of_range" -> !col("l_quantity").between(1, 50),
      "discount_out_of_range" -> !col("l_discount").between(0.0, 0.1),
      "null_orderkey" -> col("l_orderkey").isNull,
      "bad_returnflag" -> !col("l_returnflag").isin("A", "N", "R")))
    val dups = l.groupBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(coalesce(sum(col("c") - 1), lit(0L)).as("violations"))
      .select(lit("dup_composite_key").as("chk"), col("violations"))
    rowChecks.unionByName(dups).orderBy(col("chk"))
  }

  /** DATASET DIFF — the reconciliation verb every migration / backfill /
    * replication audit runs ("did the copy change anything?"): full outer
    * join on the primary key, non-key columns compared via a portable
    * row fingerprint (md5 over control-byte-joined values (sep \\u0001, null marker
    * \\u0000) — unambiguous because the separator cannot occur in the
    * fixture domains; for arbitrary binary-ish columns swap in length-
    * prefixed encoding). Returns the row-grain status frame
    * (key…, status ∈ added|removed|changed|unchanged). ONE shuffle per
    * side on the key; fingerprints are map-side, so wide rows ride the
    * shuffle as 32-byte digests plus the key.
    */
  def datasetDiff(a: DataFrame, b: DataFrame, pk: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(a.columns.sameElements(b.columns), "diff requires identical schemas")
    val vals = a.columns.filterNot(pk.contains)
    def fp(df: DataFrame, name: String) = df.select(
      pk.map(col) :+ md5(concat_ws("\u0001",
        vals.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)).as(name): _*)
    fp(a, "__fa").join(fp(b, "__fb"), pk, "full_outer")
      .withColumn("status",
        when(col("__fa").isNull, "added")
          .when(col("__fb").isNull, "removed")
          .when(col("__fa") === col("__fb"), "unchanged")
          .otherwise("changed"))
      .drop("__fa", "__fb")
  }

  /** q_dataset_diff: datasetDiff under the gate — the "after" side is a
    * deterministic arithmetic perturbation of orders built identically in
    * both engines (drop key%13=0, retag priority on key%17=0, clone
    * key%19=0 under key+10^9), so the oracle replays the construction and
    * the diff in SQL. Output: per-status row count + key-range pin (min /
    * max key and an exact key sum — membership, not just counts).
    */
  def datasetDiffQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = Sources.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    val after = base
      .filter(pmod(col("o_orderkey"), lit(13)) =!= 0)
      .withColumn("o_orderpriority",
        when(pmod(col("o_orderkey"), lit(17)) === 0,
             concat(lit("X-"), col("o_orderpriority")))
          .otherwise(col("o_orderpriority")))
      .unionAll(base.filter(pmod(col("o_orderkey"), lit(19)) === 0)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
                col("o_orderstatus"), col("o_orderpriority")))
    datasetDiff(base, after, Seq("o_orderkey"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"),
           min(col("o_orderkey")).as("min_key"),
           max(col("o_orderkey")).as("max_key"),
           sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("status"))
  }
}
