package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Det._
import graft.io.Sources
import org.apache.spark.sql.graftbridge.Materialize.reuse

/** Relational query surface (SURVEY.md §2 B/D) — the capability a postpy
  * user gets by passing SQL through sql.select [unverified, SURVEY §0],
  * re-expressed as declarative DataFrame plans so Catalyst gets full
  * pushdown/pruning/join-selection freedom.
  *
  * Scale notes are attached per operator: the test data is tiny, but every
  * plan here is shaped for the 1000-executor / 100 TB case — partial
  * aggregation before shuffle, group keys with bounded cardinality, and no
  * driver-side collection anywhere.
  */
object Relational {

  /** TPC-H Q1-style pricing summary (flagship). Hash aggregate with
    * map-side partial aggregation; group-key cardinality is tiny (RF×LS)
    * so the shuffle moves only partial states, not rows — the canonical
    * 100 TB-safe aggregation shape. The l_quantity predicate is pushed
    * into the parquet scan.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val l = Sources.lineitem(spark, dir)
    l.filter(col("l_quantity") <= 45)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        discSum(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        moneySum(col("l_quantity")).as("sum_qty"),
        moneyAvg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"),
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** §2 B q_predicates: IN / BETWEEN / LIKE / IS NOT NULL / boolean
    * composition + a computed projection. All predicates are Column
    * expressions ⇒ Catalyst pushes them into the parquet scan
    * (PushedFilters); the computed column is exact decimal arithmetic.
    */
  def predicates(spark: SparkSession, dir: String): DataFrame = {
    val c = Sources.customer(spark, dir)
    c.filter(
        (col("c_mktsegment").isin("AUTOMOBILE", "BUILDING") || col("c_mktsegment") === "MACHINERY") &&
        col("c_acctbal").between(1000, 9000) &&
        col("c_name").like("Customer#00%") &&
        col("c_name").isNotNull)
      .select(
        col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"),
        asOut(money(col("c_acctbal")) * lit(1.1).cast(DecimalType(2, 1))).as("bal_uplift"))
      .orderBy(col("c_custkey"))
  }

  /** §2 B q_conditional: CASE WHEN / coalesce / nullif / greatest / least.
    * Pure per-row projection — no shuffle at any scale.
    */
  def conditional(spark: SparkSession, dir: String): DataFrame = {
    val o = Sources.orders(spark, dir)
    o.select(
        col("o_orderkey"),
        when(col("o_orderstatus") === "F", "finished")
          .when(col("o_orderstatus") === "O", "open")
          .otherwise("pending").as("status_label"),
        coalesce(nullif(col("o_orderpriority"), lit("4-NOT SPECIFIED")), lit("none")).as("priority_or_none"),
        greatest(col("o_totalprice"), lit(100000.0)).as("price_floor"),
        least(col("o_totalprice"), lit(400000.0)).as("price_cap"))
      .orderBy(col("o_orderkey"))
  }

  /** §2 D q_agg_distinct: COUNT(DISTINCT) per group — Spark plans the
    * two-phase expand + partial agg automatically; distinct state is
    * bounded by (group, suppkey) cardinality, safe at scale.
    */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    Sources.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
           count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** §2 D q_agg_multi_distinct: several DISTINCT aggregates in one query
    * (Expand-based multi-distinct plan).
    */
  def aggMultiDistinct(spark: SparkSession, dir: String): DataFrame =
    Sources.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
           countDistinct(col("o_orderpriority")).as("n_prio"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))

  /** Level id that is engine-portable: grouping(a)*2+grouping(b), cast to
    * BIGINT on both sides (must appear inside agg — Catalyst resolves
    * grouping() only under Rollup/Cube/GroupingSets). Ordering by
    * (gid, keys) is total and null-placement-independent — within one gid
    * the rolled-up columns are uniformly NULL (SURVEY §2.1.3).
    */
  private def gid2(a: String, b: String) =
    (grouping(col(a)) * 2 + grouping(col(b))).cast("long").as("gid")

  /** §2 D q_agg_rollup: hierarchy totals status→priority. */
  def aggRollup(spark: SparkSession, dir: String): DataFrame =
    Sources.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("sum_price"),
           gid2("o_orderstatus", "o_orderpriority"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))

  /** §2 D q_agg_cube: all grouping combinations of (returnflag, linestatus). */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    Sources.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("sum_price"),
           gid2("l_returnflag", "l_linestatus"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  /** §2 D q_agg_grouping_sets: explicit grouping sets via SQL (the
    * DataFrame API has no grouping-sets verb; Spark SQL is first-class).
    */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Sources.lineitem(spark, dir).createOrReplaceTempView("gs_lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag)*2 + grouping(l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
  }

  /** §2 D q_agg_stats: sample stddev/variance/correlation, rounded to 6 dp
    * per SURVEY §2.1.2. Variance is computed on the small-magnitude column
    * (quantity) so double error stays far below the rounding grain.
    */
  def aggStats(spark: SparkSession, dir: String): DataFrame =
    Sources.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(r6(stddev_samp(col("l_extendedprice"))).as("sd_price"),
           r6(var_samp(col("l_quantity"))).as("var_qty"),
           r6(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"))
      .orderBy(col("l_returnflag"))

  /** §2 D q_agg_percentile: exact median (interpolating percentile, not
    * approx) — at 100 TB one would switch to approx_percentile; the exact
    * form is the oracle-checkable contract.
    */
  def aggPercentile(spark: SparkSession, dir: String): DataFrame =
    Sources.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(r6(expr("percentile(l_quantity, 0.5)")).as("median_qty"),
           r6(expr("percentile(l_extendedprice, 0.25)")).as("p25_price"))
      .orderBy(col("l_returnflag"))

  /** q_agg_percentile_disc: DISCRETE percentile (PostgreSQL
    * percentile_disc / DuckDB quantile_disc — an actually-occurring value,
    * the first whose cumulative fraction reaches q, i.e. rank ⌈q·n⌉ in
    * ascending order). Spark has no discrete-percentile aggregate; the
    * engine form is the rank-selection window (the value at rank ⌈q·n⌉ is
    * well-defined under duplicates regardless of tie order). q ∈ {.5,.25}
    * are dyadic so ⌈q·n⌉ is exact in a double; values go through
    * DECIMAL(18,2). Gated against DuckDB's NATIVE quantile_disc — probed
    * to use the identical ⌈q·n⌉ rank rule.
    */
  def aggPercentileDisc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // VALUE-HISTOGRAM selection, not a per-group row sort: one hash
    // aggregate to (group, value) counts, then the rank-⌈q·n⌉ value is
    // the first whose running count reaches the rank — the window runs
    // over |distinct values| rows, not |rows| (the first cut sorted every
    // group's rows in one task: 9x wall at 10x data; this form is flat
    // past the aggregate, the correct 100 TB selection shape for
    // bounded-domain columns — for unbounded ones see q_winsorize's
    // approx_percentile note)
    val counts = Sources.lineitem(spark, dir)
      .select(col("l_returnflag"), money(col("l_quantity")).as("q"))
      .groupBy(col("l_returnflag"), col("q"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("q"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    val cum = counts
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
    def pick(qf: Double, name: String) = {
      val rank = ceil(col("n") * qf)
      cum.filter(col("cum") >= rank && col("cum") - col("c") < rank)
        .select(col("l_returnflag"), asOut(col("q")).as(name))
    }
    pick(0.5, "p50_disc").join(pick(0.25, "p25_disc"), Seq("l_returnflag"))
      .orderBy(col("l_returnflag"))
  }

  /** q_distinct_on: PostgreSQL's DISTINCT ON — keep ONE row per key by an
    * explicit sort preference (here: each customer's LATEST order, order
    * key as tiebreak). The single most idiomatic "latest row per entity"
    * spelling a Postgres user brings over; Spark's engine form is the
    * row_number window, which is also the right 100 TB plan (one hash
    * shuffle on the key, no self-join). The oracle runs DuckDB's NATIVE
    * DISTINCT ON with the same ORDER BY, proving the window form
    * row-for-row identical to the Postgres construct.
    */
  def distinctOn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Sources.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
              asOut(money(col("o_totalprice"))).as("latest_price"))
      .orderBy(col("o_custkey"))
  }

  /** §2 D q_agg_collect: ordered list aggregation — sort_array makes the
    * collected list deterministic (collect_list order is not). The declared
    * output serializes the list (array_join) because the comparator's
    * row-sort cannot order raw array cells; the collect itself is the
    * operator under test.
    */
  def aggCollect(spark: SparkSession, dir: String): DataFrame = {
    val n = Sources.nation(spark, dir)
    n.groupBy(col("n_regionkey"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy(col("n_regionkey"))
  }

  /** q_pivot: wide-format conditional aggregation — groupBy().pivot()
    * with an explicit value list (never let pivot scan for distinct values
    * at scale; the value list is a catalog fact). Oracle twin: COUNT(*)
    * FILTER per value — the portable formulation of the same thing.
    */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame =
    Sources.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnRenamed("F", "n_f").withColumnRenamed("O", "n_o")
      .withColumnRenamed("P", "n_p")
      .orderBy(col("o_orderpriority"))

  /** q_string_agg: ordered string aggregation (LISTAGG/string_agg) —
    * sort_array(collect_list) + concat_ws, deterministic by §2.1.
    */
  def stringAgg(spark: SparkSession, dir: String): DataFrame =
    Sources.nation(spark, dir)
      .groupBy(col("n_regionkey"))
      .agg(concat_ws("|", sort_array(collect_list(col("n_name")))).as("nations"),
           count(lit(1)).as("n"))
      .orderBy(col("n_regionkey"))

  /** q_unpivot: wide→long melt of the lineitem money columns — the
    * inverse of pivot (Expand node; no shuffle until the aggregate).
    */
  def unpivotMoney(spark: SparkSession, dir: String): DataFrame =
    Sources.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
              col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_extendedprice"), col("l_discount"), col("l_tax")),
        variableColumnName = "measure", valueColumnName = "v")
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n"), moneySum(col("v")).as("sum_v"))
      .orderBy(col("measure"))

  /** q_histogram: equi-width binning as 1+floor(x/width) — the SQL-standard
    * in-range width_bucket formula, spelled out identically on both sides
    * (width_bucket would CLAMP out-of-range values to bucket 11 while the
    * formula keeps growing, so the twins would diverge once o_totalprice
    * exceeds the nominal [0, 500000) range at larger scale factors).
    */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Sources.orders(spark, dir)
      .select((lit(1) + floor(col("o_totalprice") / 50000.0)).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  /** q_scalar_subquery: correlated scalar subqueries — customers above
    * their nation's average balance, compared in EXACT decimal arithmetic
    * (bal·n > sum, not bal > avg: engine-specific double averages could
    * flip a boundary row). Catalyst decorrelates into aggregates + joins
    * (RewriteCorrelatedScalarSubquery).
    */
  def scalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Sources.customer(spark, dir).createOrReplaceTempView("ssq_customer")
    spark.sql(
      """SELECT c_custkey, c_nationkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM ssq_customer c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
        |        (SELECT COUNT(*) FROM ssq_customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM ssq_customer c3
        |         WHERE c3.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** q_corr_subquery: the TPC-H Q17 shape — line items whose quantity is
    * below 20% of their part's average, rolled up per brand. ONE correlated
    * scalar subquery (two would each decorrelate into their own aggregate —
    * measured: a third full lineitem scan; correlated subqueries are not
    * merged the way uncorrelated ones are). The threshold stays
    * deterministic across engines without trusting either AVG
    * implementation: 5·qty < Σqty/n, where Σqty is an exact integer cast to
    * double (exact below 2⁵³) and the division is a single identical IEEE
    * op on both sides. Catalyst decorrelates into one per-part aggregate
    * joined back on l_partkey (RewriteCorrelatedScalarSubquery) — two scans
    * total, the canonical Q17 plan.
    */
  def corrSubquery(spark: SparkSession, dir: String): DataFrame = {
    Sources.lineitem(spark, dir).createOrReplaceTempView("csq_lineitem")
    Sources.part(spark, dir).createOrReplaceTempView("csq_part")
    spark.sql(
      """SELECT p.p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM csq_lineitem l JOIN csq_part p ON p.p_partkey = l.l_partkey
        |WHERE 5 * CAST(l.l_quantity AS BIGINT)
        |  < (SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE)
        |       / COUNT(*)
        |     FROM csq_lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin)
  }

  /** q_exists_subquery: EXISTS and NOT EXISTS predicate subqueries in one
    * WHERE — Catalyst's RewritePredicateSubquery turns them into a semi
    * join and an anti join on o_custkey (the SQL spelling of the
    * q_join_semi/q_join_anti dataflow shapes; both rewrites exercised in
    * a single plan). Thresholds use raw 2-dp data doubles — no computed
    * floating arithmetic, so the comparison is engine-exact.
    */
  def existsSubquery(spark: SparkSession, dir: String): DataFrame = {
    Sources.customer(spark, dir).createOrReplaceTempView("exq_customer")
    Sources.orders(spark, dir).createOrReplaceTempView("exq_orders")
    spark.sql(
      """SELECT c.c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(c.c_custkey) AS BIGINT) AS sum_key
        |FROM exq_customer c
        |WHERE EXISTS (SELECT 1 FROM exq_orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
        |  AND NOT EXISTS (SELECT 1 FROM exq_orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F' AND o2.o_totalprice > 400000)
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)
  }

  /** q_lateral_join: correlated LATERAL subquery — a per-customer derived
    * table (order count + max price) joined laterally, then rolled up per
    * segment. Catalyst decorrelates the lateral aggregate into a
    * per-custkey aggregate joined back (DecorrelateInnerQuery) — the same
    * scale-safe shape as the scalar-subquery keys, but through the
    * LATERAL surface. Money sum goes through the exact-decimal rule;
    * MAX of raw 2-dp doubles is engine-exact.
    */
  def lateralJoin(spark: SparkSession, dir: String): DataFrame = {
    Sources.customer(spark, dir).createOrReplaceTempView("lat_customer")
    Sources.orders(spark, dir).createOrReplaceTempView("lat_orders")
    spark.sql(
      """SELECT c.c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(t.n_orders) AS BIGINT) AS sum_orders,
        |  CAST(SUM(CAST(t.max_price AS DECIMAL(18,2))) AS DOUBLE) AS sum_max
        |FROM lat_customer c, LATERAL (
        |  SELECT COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
        |  FROM lat_orders o WHERE o.o_custkey = c.c_custkey) t
        |WHERE t.n_orders > 0
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin)
  }

  /** q_agg_filtered: FILTER-style conditional aggregation plus boolean
    * aggregates (bool_and/bool_or) — count(when(...)) is Spark's portable
    * spelling of COUNT(*) FILTER (WHERE ...). One hash aggregate, tiny
    * group cardinality — the same 100 TB-safe shape as the pricing summary.
    */
  def aggFiltered(spark: SparkSession, dir: String): DataFrame =
    Sources.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
        count(when(col("o_totalprice") > 200000, 1)).as("n_big"),
        bool_and(col("o_totalprice") > 0).as("all_positive"),
        bool_or(col("o_totalprice") > 450000).as("any_huge"))
      .orderBy(col("o_orderpriority"))

  /** q_date_spine: series generation + zero-filled calendar join — the
    * monthly order volume over a complete month spine (1995-01..2001-12,
    * trailing months legitimately zero). sequence()+explode generates the
    * spine without any driver-side loop; the left join zero-fills.
    */
  def dateSpine(spark: SparkSession, dir: String): DataFrame = {
    val months = spark.range(1).select(explode(expr(
      "sequence(CAST('1995-01-01' AS TIMESTAMP_NTZ), CAST('2001-12-01' AS TIMESTAMP_NTZ), INTERVAL 1 MONTH)"))
      .as("month_start"))
    val m = Sources.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("ms"))
      .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("sum_price"))
    months.join(m, col("month_start") === col("ms"), "left")
      .select(col("month_start"),
              coalesce(col("n_orders"), lit(0L)).as("n_orders"),
              coalesce(col("sum_price"), lit(0.0)).as("sum_price"))
      .orderBy(col("month_start"))
  }

  /** q_agg_bitwise: bitwise AND/OR/XOR aggregates — bitmap/flag rollups
    * (permission masks, feature flags) in one hash aggregate.
    */
  def aggBitwise(spark: SparkSession, dir: String): DataFrame =
    Sources.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(bit_and(col("l_linenumber")).cast("long").as("band"),
           bit_or(col("l_linenumber")).cast("long").as("bor"),
           bit_xor(col("l_linenumber")).cast("long").as("bxor"))
      .orderBy(col("l_returnflag"))

  /** q_recursive_cte: WITH RECURSIVE hierarchy walk — Spark 4's recursive
    * common table expressions (UnionLoop execution), the engine surface
    * behind org charts, BOM explosions and graph reachability in plain
    * SQL. The hierarchy is the deterministic binary tree parent(c) =
    * floor(c/2) over customers (root 0): the recursion computes every
    * customer's depth, then rolls up count + exact-decimal balance per
    * level. The recursive step is one equi-join per level against the
    * previous frontier — exactly the iterative-join dataflow pageRank/
    * connectedComponents hand-write, but planned by the engine; depth =
    * log₂(N) levels, so the loop count grows logarithmically, not with
    * data volume. Identical SQL runs on DuckDB (its recursive CTE is the
    * oracle twin); DECIMAL(18,2) through the sum per §2.1.
    */
  def recursiveCte(spark: SparkSession, dir: String): DataFrame = {
    // materialize the projected join side ONCE: UnionLoop re-executes the
    // recursive step per level, and without this each of the ~log2(N)
    // levels would re-scan the parquet file
    reuse(Sources.customer(spark, dir).select(col("c_custkey"), col("c_acctbal")))
      .createOrReplaceTempView("rc_customer")
    spark.sql(
      """WITH RECURSIVE h(ck, depth, bal) AS (
        |  SELECT c_custkey, CAST(0 AS BIGINT) AS depth,
        |         CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |  FROM rc_customer WHERE c_custkey = 0
        |  UNION ALL
        |  SELECT c.c_custkey, h.depth + 1, CAST(c.c_acctbal AS DECIMAL(18,2))
        |  FROM rc_customer c JOIN h ON CAST(floor(c.c_custkey / 2) AS BIGINT) = h.ck
        |  WHERE c.c_custkey > 0)
        |SELECT depth, COUNT(*) AS n, CAST(SUM(bal) AS DOUBLE) AS sum_bal
        |FROM h GROUP BY depth ORDER BY depth""".stripMargin)
  }

  /** q_mode: the PostgreSQL `mode() WITHIN GROUP (ORDER BY x)` ordered-set
    * aggregate — the most frequent value per group, with PG's own tie rule
    * (first value in the ORDER BY among the tied counts) made explicit:
    * (count desc, value asc) under row_number. Spark has no mode-with-
    * deterministic-ties aggregate (builtin `mode` breaks ties arbitrarily,
    * as does DuckDB's), so BOTH engines run the explicit counts+rank form
    * — one (group, value) aggregate, then a |groups|-partition window
    * over the tiny distinct-value frame.
    */
  def modeQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Sources.orders(spark, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("n").desc, col("o_orderpriority"))))
      .filter(col("rk") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"), col("n"))
      .orderBy(col("o_orderstatus"))
  }

  /** q_quantile_bands: EQUI-DEPTH deciles of order value within each order
    * priority — the complement of q_histogram's fixed-width bands (equal
    * POPULATION per band, data-driven edges; what percentile-based SLAs
    * and feature bucketizers use). NTILE(10) over (exact cents, orderkey
    * tiebreak) — a total order, so band assignment is deterministic and
    * identical in both engines (NTILE fills earlier buckets first under
    * the same rule). Band edges reported as exact-cents-derived doubles.
    *
    * SCALE (VERDICT r9 #2): o_orderpriority has 5 values — a per-priority
    * ntile window is 5 tasks at any scale. Rank.ntileExact computes the
    * identical bands over an equi-depth price grid PROBED from the data
    * (Rank.gridFor: approx-percentile → ≈256 chunks/priority), so
    * parallelism is grid-grain, each sort touches only one chunk's rows,
    * and the grid re-sizes itself under any domain or mass-shape shift
    * (VERDICT r10 #3).
    */
  def quantileBands(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.cents
    val base = Sources.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_orderkey"),
              cents(col("o_totalprice")).as("p_cents"))
    Rank.ntileExact(base, "o_orderpriority", col("p_cents"),
        col("o_orderkey"), 10, Rank.gridFor(base, col("p_cents")),
        desc = false, "band0")
      .withColumn("band", col("band0").cast("long")).drop("band0")
      .groupBy(col("o_orderpriority"), col("band"))
      .agg(count(lit(1)).as("n"),
           (min(col("p_cents")).cast("double") / 100.0).as("lo"),
           (max(col("p_cents")).cast("double") / 100.0).as("hi"))
      .orderBy(col("o_orderpriority"), col("band"))
  }

  /** q_percent_total: ratio-to-report — each market segment's share of
    * total account balance (the "% of total" column every BI tool bolts
    * onto a rollup). Exact decimal sums per segment AND for the total;
    * the share is one double division of two exactly-agreed operands,
    * round-6. The total is a 1-row broadcast (the q_benford pattern),
    * never a global window.
    */
  def percentTotal(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.{money, r6}
    val seg = Sources.customer(spark, dir)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(money(col("c_acctbal"))).as("seg_bal"))
    val tot = Sources.customer(spark, dir)
      .agg(sum(money(col("c_acctbal"))).as("tot_bal"))
    seg.crossJoin(broadcast(tot))
      .select(col("c_mktsegment"), col("n"),
              col("seg_bal").cast("double").as("seg_bal"),
              r6(col("seg_bal").cast("double") / col("tot_bal").cast("double")).as("share"))
      .orderBy(col("c_mktsegment"))
  }
}
