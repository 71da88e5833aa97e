package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Sources
import org.apache.spark.sql.graftbridge.Materialize.reuse

/** Event-analytics operators (north-star extension): cohort retention and
  * funnel conversion — the product-analytics verbs every event store gets
  * asked for, as pure declarative plans.
  *
  * Scale shape: both reduce to per-user aggregates first (one shuffle on
  * user_id, state bounded by |users|), then tiny rollups — never a
  * per-event self-join. Week boundaries are ISO (Monday) in both engines;
  * all timestamps leave as epoch-microsecond BIGINTs (SURVEY §2.1.7).
  */
object Analytics {

  /** q_retention_cohort: users bucketed by first-activity week; distinct
    * active users per (cohort week, activity week) — the retention matrix
    * in long form.
    */
  def retentionCohort(spark: SparkSession, dir: String): DataFrame = {
    val e = Sources.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    e.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_wk"), col("wk"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(unix_micros(col("cohort_wk").cast("timestamp")).as("cohort_us"),
              unix_micros(col("wk").cast("timestamp")).as("week_us"),
              col("n_users"))
      .orderBy(col("cohort_us"), col("week_us"))
  }

  /** q_outlier_zscore: per-segment account-balance outliers (|z| > 2) —
    * the anomaly gate a data-quality pipeline runs before training ingest.
    * Scale shape: ONE aggregate over the table (5 segment rows) broadcast
    * back onto it — never a window sort of the full table.
    *
    * Determinism: IEEE summation order differs between engines, so the
    * moments are computed EXACTLY first — n, Σx as DECIMAL(18,2), Σx² as
    * the exact decimal product sum — and only then finalized to double.
    * From identical (n, s1, s2) both engines run the identical IEEE
    * expression tree for mean/variance/z, so even the |z| > 2 boundary
    * cannot flip. (Σx² unscaled stays under 2^53 through sf0.1; see
    * Det.asOut's bound note.)
    */
  def outlierZscore(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.{money, r6}
    val c = Sources.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val stats = c.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           sum(money(col("c_acctbal"))).cast("double").as("s1"),
           sum(money(col("c_acctbal")) * money(col("c_acctbal"))).cast("double").as("s2"))
    val mean = col("s1") / col("n")
    val variance = (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)
    // degenerate-segment guard: n=1 (variance undefined) or zero variance
    // would make z a 0/0 — Spark yields NULL there while DuckDB yields
    // NaN (which it orders ABOVE any threshold), so without this filter
    // the two engines disagree on exactly those rows
    c.join(broadcast(stats), Seq("c_mktsegment"))
      .filter(col("n") > 1 && variance > 0.0)
      // 1.7 not 2: uniform-ish balances are bounded at |z| ~ sqrt(3) = 1.73,
      // so a 2-sigma gate returns 0 rows at sf0.01+ (a vacuous oracle pass);
      // 1.7 keeps a genuine two-tail fraction (~0.2%) at every scale factor
      .withColumn("z", (col("c_acctbal") - mean) / sqrt(variance))
      .filter(abs(col("z")) > 1.7)
      .select(col("c_custkey"), col("c_mktsegment"), r6(col("z")).as("z"))
      .orderBy(col("c_custkey"))
  }

  /** q_funnel: strictly-ordered view → click → purchase conversion. One
    * conditional-min aggregate per user collapses the event stream to
    * first-occurrence timestamps; the funnel counts are NULL-safe integer
    * comparisons over that tiny frame (a NULL step simply never counts).
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Sources.events(spark, dir)
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
    val firsts = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("us"))).as("t_view"),
           min(when(col("event_type") === "click", col("us"))).as("t_click"),
           min(when(col("event_type") === "purchase", col("us"))).as("t_purchase"))
    firsts.agg(
      count(col("t_view")).as("n_view"),
      count(when(col("t_click") > col("t_view"), 1)).as("n_view_click"),
      count(when(col("t_click") > col("t_view") && col("t_purchase") > col("t_click"), 1))
        .as("n_full_funnel"))
  }

  /** q_winsorize: per-segment WINSORIZATION — clip account balances to
    * the segment's [p05, p95] exact percentiles, the outlier-capping
    * step of feature preprocessing (its gate sibling q_outlier_zscore
    * DETECTS outliers; this one NEUTRALIZES them). Exact interpolated
    * percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`, both the
    * (n−1)·q linear-interpolation definition) over doubles; the bounds
    * frame is |segments| rows broadcast back, the clip is pure column
    * math, round-6 absorbs any 1-ulp interpolation-order drift. At
    * 100 TB swap percentile for approx_percentile and re-tune the gate —
    * the plan shape (tiny agg, broadcast, map-side clip) is unchanged.
    */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val c = Sources.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal").cast("double").as("v"))
    val bounds = c.groupBy(col("c_mktsegment"))
      .agg(expr("percentile(v, 0.05)").as("p05"), expr("percentile(v, 0.95)").as("p95"))
    c.join(broadcast(bounds), Seq("c_mktsegment"))
      .select(col("c_custkey"), col("c_mktsegment"),
              r6(least(greatest(col("v"), col("p05")), col("p95"))).as("clipped"))
      .orderBy(col("c_custkey"))
  }

  /** q_regression: per-event-type ordinary least squares of value against
    * days-since-2024-01-01 — "is this metric drifting over time", the
    * trend-detection primitive. The portability pattern is the
    * q_outlier_zscore one: EXACT moments first (n and Σx/Σx² as integers
    * over the small centered x; Σy, Σxy, Σy² as decimals — value is
    * exactly 2 dp), each cast to double, then slope/intercept/r² as ONE
    * identical IEEE expression tree in both engines, round-6. Centering x
    * at the epoch date keeps n·Σx² inside a long at any SF. One hash
    * aggregate, |event_type| result rows — nothing here scales with data
    * beyond the scan.
    */
  def regression(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.{money, r6}
    val e = Sources.events(spark, dir).select(
      col("event_type"),
      datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long").as("x"),
      col("value"))
    val m = e.groupBy(col("event_type")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      sum(money(col("value"))).cast("double").as("sy"),
      sum(money(col("value")) * money(col("value"))).cast("double").as("syy"),
      sum(money(col("value")) * col("x")).cast("double").as("sxy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val varX = col("n") * col("sxx") - col("sx") * col("sx")
    val varY = col("n") * col("syy") - col("sy") * col("sy")
    val slope = cov / varX
    // degenerate-group guard (the q_outlier_zscore rule): a single point,
    // a single distinct x (vertical line) or constant y makes slope/r2 a
    // 0/0 — Spark yields NaN where DuckDB's division may disagree, so
    // exclude exactly those groups in BOTH engines
    m.filter(col("n") > 1 && varX > 0.0 && varY > 0.0)
      .select(col("event_type"),
             r6(slope).as("slope"),
             r6((col("sy") - slope * col("sx")) / col("n")).as("intercept"),
             r6(cov * cov / (varX * varY)).as("r2"))
      .orderBy(col("event_type"))
  }

  /** q_autocorr: lag-1 and lag-7 AUTOCORRELATION of the per-type daily
    * event-count series — the seasonality detector a pipeline runs before
    * choosing partition/trigger cadence or alert baselines (lag-7 high =
    * weekly rhythm; lag-1 high = bursty/trending). Daily counts are exact
    * integers; corr is Pearson over (cnt, lag(cnt)) pairs with NULL-lag
    * pairs dropped identically by both engines; round-6 absorbs the
    * double-sum ordering (the q_agg_stats pattern). One (type, day)
    * aggregate then a |types|-partition window — nothing scales with raw
    * event count past the first shuffle.
    */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    import org.apache.spark.sql.expressions.Window
    val daily = Sources.events(spark, dir)
      .select(col("event_type"), col("ts").cast("date").as("d"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    daily
      .withColumn("l1", lag(col("cnt"), 1).over(w))
      .withColumn("l7", lag(col("cnt"), 7).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
           r6(corr(col("cnt"), col("l1"))).as("acf1"),
           r6(corr(col("cnt"), col("l7"))).as("acf7"))
      .orderBy(col("event_type"))
  }

  /** q_streaks: longest CONSECUTIVE-DAY activity streak per user — the
    * gaps-and-islands SQL classic (and the engagement metric behind
    * "n-day streak" features): distinct active days, row_number within
    * user, and day − rn is constant exactly along a consecutive run, so
    * it IS the island key. One user-partition window over DISTINCT
    * (user, day) rows — state bounded by active days, not events.
    */
  def streaks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Sources.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    days
      .withColumn("island", date_sub(col("d"), row_number().over(w)))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("max_streak"),
           count(lit(1)).as("n_streaks"),
           sum(col("len")).as("n_active_days"))
      .orderBy(col("user_id"))
  }

  /** q_chisq: chi-square INDEPENDENCE TEST of event type × weekday — the
    * contingency-table statistic behind "is behavior day-of-week
    * dependent?" A/B sanity checks and drift monitors. The weekday is
    * epoch-day mod 7 (pure integer arithmetic — engine-portable, unlike
    * dayofweek whose origin differs between engines); observed counts are
    * exact integers; expected = row·col/N and the (obs−exp)²/exp terms
    * are one identical double tree, with round-6 absorbing the Σ order
    * over the ≤35 cells (the q_entropy pattern). Output: one row —
    * N, cells, degrees of freedom, χ². Two tiny aggregates + broadcast
    * joins; nothing scales past the first (type, dow) rollup.
    */
  def chisq(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val cells = Sources.events(spark, dir)
      .select(col("event_type"),
        pmod(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")), lit(7))
          .cast("long").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("obs"))
    val rowTot = cells.groupBy(col("event_type")).agg(sum(col("obs")).as("rt"))
    val colTot = cells.groupBy(col("dow")).agg(sum(col("obs")).as("ct"))
    val tot = cells.agg(sum(col("obs")).cast("double").as("n"),
                        count_distinct(col("event_type")).as("nr"),
                        count_distinct(col("dow")).as("nc"))
    val exp0 = col("rt").cast("double") * col("ct").cast("double") / col("n")
    cells
      .join(broadcast(rowTot), Seq("event_type"))
      .join(broadcast(colTot), Seq("dow"))
      .crossJoin(broadcast(tot))
      .groupBy(col("n"), col("nr"), col("nc"))
      .agg(count(lit(1)).as("n_cells"),
           r6(sum((col("obs").cast("double") - exp0) * (col("obs").cast("double") - exp0) / exp0))
             .as("chi2"))
      .select(col("n").cast("long").as("n_events"), col("n_cells"),
              ((col("nr") - 1) * (col("nc") - 1)).as("dof"), col("chi2"))
  }

  /** q_growth_accounting: the weekly GROWTH-ACCOUNTING decomposition —
    * every product review's first table: active users split into NEW
    * (first-ever week), RETAINED (also active the week before) and
    * RESURRECTED (returning after a gap), plus CHURNED (active last week,
    * absent this week) — with the identity active(w) = new + retained +
    * resurrected and churned(w) = active(w−1) − retained(w) holding
    * exactly. Weeks are epoch_day DIV 7 (pure integer arithmetic, no
    * locale). One (user, week) census, one lag and one lead under the
    * SAME user partitioning (one shuffle), two tiny per-week aggregates
    * full-outer joined — churn at week w+1 is only reported through the
    * last observed week (beyond it nothing is observable). All counts
    * exact integers.
    */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uw = Sources.events(spark, dir)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("d"))
      .select(col("user_id"), expr("CAST(d DIV 7 AS BIGINT)").as("week"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("week"))
    val flagged = uw
      .withColumn("prev", lag(col("week"), 1).over(w))
      .withColumn("nxt", lead(col("week"), 1).over(w))
    val states = flagged.groupBy(col("week")).agg(
      sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("prev") === col("week") - 1L, 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("prev").isNotNull && col("prev") < col("week") - 1L, 1L)
        .otherwise(0L)).as("n_resurrected"))
    val maxW = uw.agg(max(col("week")).as("max_week"))
    val churn = flagged
      .filter(col("nxt").isNull || col("nxt") > col("week") + 1L)
      .select((col("week") + 1L).as("week"))
      .crossJoin(broadcast(maxW))
      .filter(col("week") <= col("max_week"))
      .groupBy(col("week")).agg(count(lit(1)).as("n_churned"))
    states.join(churn, Seq("week"), "full_outer")
      .select(col("week"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("week"))
  }

  /** q_dau_mau: the DAU/MAU STICKINESS ratio per day — "of everyone who
    * showed up this month, how many showed up today": the
    * engagement-quality headline (≥0.5 is daily-habit territory).
    * Trailing-28-day distinct counts WITHOUT a sliding distinct window:
    * each (user, active-day) census row COVERS the 28 output days it
    * contributes to (explode of a 28-element sequence — a bounded 28×
    * expansion of the census, never of raw events), distinct (user, day)
    * after coverage, then two plain counts joined on the day. Early days
    * carry truncated trailing windows by construction (the ramp — the
    * honest reading); the ratio is one exact BIGINT pair, single IEEE
    * division, round-6.
    */
  def dauMau(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val days = Sources.events(spark, dir)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"))
      .distinct()
    val dau = days.groupBy(col("d").as("day")).agg(count(lit(1)).as("dau"))
    val mau = days
      .select(col("user_id"), explode(sequence(col("d"), col("d") + 27L)).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        r6(col("dau").cast("double") / col("mau").cast("double")).as("stickiness"))
      .orderBy(col("day"))
  }

  /** q_l28_histogram: the L28 ENGAGEMENT CURVE — how many users were
    * active on exactly k of the first 28 days: the healthy-product
    * signature is a smile (casual spike at 1, power-user spike at 28);
    * the curve's shift over releases is the canonical engagement metric.
    * Day 0 anchors at the dataset's own min epoch day (a 1-row broadcast,
    * the q_rfm anchor-date pattern). One (user, day) distinct census →
    * per-user day count → histogram; sum_uid pins membership, not just
    * counts. All integers, fully partition-parallel.
    */
  def l28Histogram(spark: SparkSession, dir: String): DataFrame = {
    val days = Sources.events(spark, dir)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("epoch_day"))
      .distinct()
    val d0 = days.agg(min(col("epoch_day")).as("d0"))
    days.crossJoin(broadcast(d0))
      .filter(col("epoch_day") < col("d0") + 28L)
      .groupBy(col("user_id")).agg(count(lit(1)).as("days_active"))
      .groupBy(col("days_active"))
      .agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("sum_uid"))
      .orderBy(col("days_active"))
  }

  /** q_cramers_v: Cramér's V EFFECT SIZE for the order-priority ×
    * order-status contingency table — the companion q_chisq lacks: χ²
    * says "dependence is statistically detectable" (and grows with N
    * without bound); V = sqrt(χ² / (N·(min(r,c)−1))) ∈ [0,1] says how
    * STRONG the association is, comparable across tables and scale
    * factors — the feature-selection / drift-triage number. Same shape
    * as q_chisq: exact integer observed counts, expected = row·col/N and
    * the χ² terms as one shared IEEE tree over ≤ 15 cells, V derived
    * from the UNROUNDED χ² before the two round-6s. Nothing scales past
    * the first (priority, status) rollup.
    */
  def cramersV(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val cells = Sources.orders(spark, dir)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("obs"))
    val rowTot = cells.groupBy(col("o_orderpriority")).agg(sum(col("obs")).as("rt"))
    val colTot = cells.groupBy(col("o_orderstatus")).agg(sum(col("obs")).as("ct"))
    val tot = cells.agg(sum(col("obs")).cast("double").as("n"),
                        count_distinct(col("o_orderpriority")).as("nr"),
                        count_distinct(col("o_orderstatus")).as("nc"))
    val exp0 = col("rt").cast("double") * col("ct").cast("double") / col("n")
    cells
      .join(broadcast(rowTot), Seq("o_orderpriority"))
      .join(broadcast(colTot), Seq("o_orderstatus"))
      .crossJoin(broadcast(tot))
      .groupBy(col("n"), col("nr"), col("nc"))
      .agg(count(lit(1)).as("n_cells"),
           sum((col("obs").cast("double") - exp0) * (col("obs").cast("double") - exp0) / exp0)
             .as("chi2raw"))
      .select(col("n").cast("long").as("n_orders"), col("n_cells"),
              r6(col("chi2raw")).as("chi2"),
              r6(sqrt(col("chi2raw") / (col("n") *
                (least(col("nr"), col("nc")) - 1).cast("double")))).as("v"))
  }

  /** q_sessionize: assign SESSION IDS to raw events — a gap of more than
    * 30 minutes between a user's consecutive events starts a new session
    * (the batch sibling of the streaming session window: that one
    * AGGREGATES per session, this one LABELS every event, which is what
    * sessionized exports and per-session feature joins need). The
    * classic two-window form: lag finds gap starts, a running sum of
    * gap-start flags numbers the sessions; per-session stats roll up
    * after. Both windows share ONE partitioning (user_id) — one shuffle
    * total, per-user state bounded by the user's own events.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.moneySum
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    val labeled = Sources.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"),
              unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(byUser) > gapUs || lag(col("us"), 1).over(byUser).isNull, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    labeled.groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
           (max(col("us")) - min(col("us"))).as("duration_us"),
           moneySum(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** q_event_bigrams: the event-TRANSITION matrix — for every user's
    * time-ordered stream, each consecutive (previous, next) event-type
    * pair, counted globally with its share of all transitions. The
    * sequence-mining primitive behind Markov session models, "what do
    * users do after X" questions, and anomalous-flow detection.
    *
    * Scale shape: ONE shuffle on user_id for the lag window (per-user
    * streams are short and bounded), then a partial-agg'd rollup over at
    * most |event_types|² transition rows. Determinism: ordering within a
    * user is (ts, event_id) — event_id is unique, so ties in ts cannot
    * reorder between engines; pct is an exact integer ratio rounded-6.
    */
  def eventBigrams(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val transitions = Sources.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    val total = transitions.agg(count(lit(1)).as("n_total"))
    transitions
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("prev_type"), col("next_type"), col("n"),
              r6(col("n").cast("double") / col("n_total").cast("double")).as("pct"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** q_survival: KAPLAN-MEIER time-to-conversion curve — days from a
    * user's first event to their first PURCHASE, with users who never
    * purchased CENSORED at their observed span (the correct handling a
    * naive "average days to purchase over converters" biases low). At
    * each distinct duration t: d conversions, c censored, n at risk
    * (duration >= t); S(t) = Π(1 − d/n) over conversion times <= t,
    * computed as exp of the RUNNING ln-sum — both engines add the
    * identical IEEE terms in the identical window order, round-6 on
    * top; a terminal d == n step pins S to exactly 0 via the running
    * flag (ln(0) would poison the sum). One user-grain aggregate + one
    * ~30-row ordered window — flat in event count past the first
    * shuffle.
    */
  def survival(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    import org.apache.spark.sql.expressions.Window
    val perUser = Sources.events(spark, dir)
      .select(col("user_id"), col("event_type"),
              unix_micros(col("ts").cast("timestamp")).as("us"))
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("first_us"),
           max(col("us")).as("last_us"),
           min(when(col("event_type") === "purchase", col("us"))).as("conv_us"))
    val durations = perUser.select(
      when(col("conv_us").isNotNull,
           expr("(conv_us - first_us) DIV 86400000000L"))
        .otherwise(expr("(last_us - first_us) DIV 86400000000L")).as("t"),
      when(col("conv_us").isNotNull, lit(0L)).otherwise(lit(1L)).as("censored"))
    val byT = durations.groupBy(col("t"))
      .agg(sum(lit(1L) - col("censored")).as("d"), sum(col("censored")).as("c"))
    val ord = Window.orderBy(col("t"))
    val atRisk = sum(col("d") + col("c")).over(
      ord.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    val stepped = byT
      .withColumn("n_at_risk", atRisk)
      // ln((n-d)/n) only where a conversion occurs and survivors remain
      .withColumn("term",
        when(col("d") > 0 && col("d") < col("n_at_risk"),
             log((col("n_at_risk") - col("d")).cast("double") /
                 col("n_at_risk").cast("double"))).otherwise(lit(0.0)))
      .withColumn("dead_end", max(when(col("d") === col("n_at_risk"), 1L).otherwise(0L))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("s", when(col("dead_end") === 1L, lit(0.0))
        .otherwise(r6(exp(sum(col("term")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))))))
    stepped.select(col("t"), col("d"), col("c"), col("n_at_risk"), col("s"))
      .orderBy(col("t"))
  }

  /** q_rfm: RFM (recency / frequency / monetary) customer segmentation —
    * the classic CRM slicing. Per customer: R = days from last order to
    * the dataset's max order date (a deterministic data-derived anchor —
    * never wall clock), F = order count, M = exact decimal spend. Buckets
    * are QUARTILES WITHIN MARKET SEGMENT — "top spender quartile within
    * BUILDING", the form a campaign targets. Every quartile order ends in
    * the custkey tiebreak, so bucket assignment is a total order in both
    * engines (NTILE fills earlier buckets first under the same rule in
    * Spark and DuckDB). Output: the 3-digit RFM cell census per segment.
    *
    * SCALE (VERDICT r9 #1): c_mktsegment has 5 values, so a per-segment
    * ntile window runs on 5 tasks at any scale. Each quartile is instead
    * computed by Rank.ntileExact — two-phase exact rank over a
    * deterministic value grid PROBED from the checkpointed per-customer
    * frame (Rank.gridFor: 1-row approx-percentile → ≈256-cell equi-depth
    * grid), not hard-coded — identical buckets, grid-grain parallelism,
    * and the grid re-sizes itself under any generator/domain shift.
    */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.cents
    val o = Sources.orders(spark, dir)
    val anchor = o.agg(max(col("o_orderdate").cast("date")).as("anchor"))
    // read by 3 grid probes, 3 censuses and 3 rank joins
    val perCust = reuse(o
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate").cast("date")).as("last_d"),
           count(lit(1)).as("f"),
           sum(cents(col("o_totalprice"))).as("m_cents"))
      .crossJoin(broadcast(anchor))
      .withColumn("r_days", datediff(col("anchor"), col("last_d")))
      .join(Sources.customer(spark, dir)
              .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("seg")),
            Seq("o_custkey")))
    // equi-depth grids probed from the materialized frame — all three
    // metrics in ONE 1-row aggregate job (Rank.gridsFor, r12 opt), not
    // hard-coded: a domain or mass-shape shift re-sizes the grid instead
    // of collapsing it (VERDICT r10 #3)
    val grids = Rank.gridsFor(perCust,
      Seq(col("r_days"), col("f"), col("m_cents")))
    val bucketed = Seq[(String, org.apache.spark.sql.Column, Boolean)](
      ("r_bucket", col("r_days"), false),  // recent = bucket 1 (asc)
      ("f_bucket", col("f"), true),        // frequent = bucket 1 (desc)
      ("m_bucket", col("m_cents"), true)   // big spender = bucket 1 (desc)
    ).zip(grids).foldLeft(perCust) { case (d, ((out, metric, desc), grid)) =>
      Rank.ntileExact(d, "seg", metric, col("o_custkey"), 4, grid, desc, out)
    }
    bucketed
      .groupBy(col("seg"), col("r_bucket"), col("f_bucket"), col("m_bucket"))
      .agg(count(lit(1)).as("n_customers"),
           // exact BIGINT cents sum, ONE double division at the end
           (sum(col("m_cents")).cast("double") / 100.0).as("cell_value"))
      .orderBy(col("seg"), col("r_bucket"), col("f_bucket"), col("m_bucket"))
  }

  /** q_cumulative_uniques: daily NEW users and the cumulative distinct-user
    * count — the growth curve every event product reports. Exact form: a
    * user contributes to "new" only on their FIRST day (min over their
    * events — one user_id shuffle), then a running sum over the daily
    * rollup. The cumulative window is global but its input is the DAILY
    * aggregate — cardinality = calendar days (30 here; 365/decade at any
    * scale), a bounded domain like q_ks_test's (PlanGate-allowlisted with
    * that justification).
    */
  def cumulativeUniques(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstDay = Sources.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))).as("epoch_day"))
    firstDay.groupBy(col("epoch_day")).agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(
        Window.orderBy(col("epoch_day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("epoch_day"))
  }

  /** q_attribution: FIRST-TOUCH revenue attribution — each user's total
    * purchase value credited to the channel (event_type) of their very
    * first event, the marketing-analytics primitive behind "which channel
    * acquires buyers". First touch by the (ts, event_id) total order (one
    * row_number window), purchase value as exact decimal money; both
    * per-user passes share the user_id shuffle, the final rollup is
    * |channels| rows.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.moneySum
    import org.apache.spark.sql.expressions.Window
    val e = Sources.events(spark, dir)
    val firstTouch = e
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("channel"))
    val spend = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(moneySum(col("value")).as("purchased"), count(lit(1)).as("n_purchases"))
    firstTouch.join(spend, Seq("user_id"), "left")
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_users"),
           count(col("purchased")).as("n_buyers"),
           sum(col("n_purchases")).as("n_purchases"),
           moneySum(coalesce(col("purchased"), lit(0.0))).as("attributed_value"))
      .orderBy(col("channel"))
  }

  /** q_changepoint: CUSUM change-point detection per event_type — the day
    * where the cumulative deviation from the series mean peaks (the
    * level-shift detector behind "when did traffic change"). ENTIRELY
    * INTEGER until the final rendering: with daily counts x_1..x_n,
    * T_i = n·cum_i − i·total is the mean-centered CUSUM scaled by n —
    * exact BIGINT — so the argmax over |T_i| (ties → earliest day) can
    * never flip between engines; the reported statistic T/n is one double
    * division, round-6. One shuffle (daily rollup); windows partitioned
    * by event_type.
    */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    import org.apache.spark.sql.expressions.Window
    val daily = Sources.events(spark, dir)
      .groupBy(col("event_type"),
               datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"))
      .agg(count(lit(1)).as("x"))
    val byType = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
    val run = byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("event_type"))
    daily
      .withColumn("i", row_number().over(byType).cast("long"))
      .withColumn("cum", sum(col("x")).over(run))
      .withColumn("total", sum(col("x")).over(whole))
      .withColumn("n_days", count(lit(1)).over(whole))
      .withColumn("t_stat", col("n_days") * col("cum") - col("i") * col("total"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(abs(col("t_stat")).desc, col("epoch_day"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("epoch_day").as("cp_day"), col("n_days"),
              r6(col("t_stat").cast("double") / col("n_days").cast("double")).as("cusum_peak"))
      .orderBy(col("event_type"))
  }

  /** q_user_paths: top user JOURNEYS — each user's first three event types
    * in (ts, event_id) order joined with '>', counted across users, top-20
    * by (count desc, path). The sequence-mining rollup behind onboarding
    * funnels and UX flow dashboards (q_event_bigrams is the memoryless
    * transition view; this is the path-prefix view). One user_id shuffle
    * for the window + per-user aggregate; the path table is tiny
    * (<= |event_types|^3 rows) and the top-20 is a TakeOrdered.
    */
  def userPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Sources.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
                                x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(20)
  }

  /** q_event_regex: CEP-lite pattern matching over each user's FULL
    * chronological event-type sequence — the MATCH_RECOGNIZE-shaped
    * question ("which users converted after a view? spiraled through 3+
    * consecutive errors? only ever browsed?") that q_funnel's fixed
    * step-order counters and q_user_paths' first-3 census can't express:
    * the sequence becomes a comma-joined string and the pattern is a
    * REGEX over it. Patterns use the RE2 ∩ Java dialect (alternation,
    * classes, anchors, bounded repeats — no lookarounds/backrefs), so
    * both engines run the same automaton semantics. The path string is
    * built from an array_sort over (ts, event_id) structs — a total
    * order, and the oracle's string_agg(… ORDER BY ts, event_id) is the
    * identical sequence. All five patterns evaluate in ONE pass via an
    * explode over a literal (pattern, matched) array — the paths
    * aggregate is never recomputed per pattern. Counts + Σuser_id exact.
    * Scale: one user-grain shuffle (the sessionize/funnel shuffle);
    * per-user sequences are user-activity-bounded; the match is
    * map-side codegen'd rlike.
    */
  def eventRegex(spark: SparkSession, dir: String): DataFrame = {
    val pats = Seq(
      "converted"      -> "view.*purchase",
      "error_spiral"   -> "error(,error){2,}",
      "error_recovery" -> "error.*purchase",
      "signup_first"   -> "^signup",
      "pure_browse"    -> "^view(,view)*$")
    val paths = Sources.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
        x => x.getField("event_type")), ",").as("path"))
    val arr = array(pats.map { case (n, p) =>
      struct(lit(n).as("pattern"), col("path").rlike(p).as("m")) }: _*)
    paths.select(col("user_id"), explode(arr).as("e"))
      .filter(col("e.m"))
      .groupBy(col("e.pattern").as("pattern"))
      .agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("sum_uid"))
      .orderBy(col("pattern"))
  }

  /** q_time_to_convert: view→purchase latency distribution — n
    * converters and the exact min/p50/p90/max seconds between a user's
    * FIRST view and the FIRST purchase at-or-after it: the funnel-LATENCY
    * question ("how long does conversion take") that q_funnel's
    * step-coverage counters and q_funnel_window's fixed horizon don't
    * answer, and the number that sets any attribution/retargeting
    * window. Deltas are exact integer seconds (epoch-µs subtraction,
    * div 10⁶); the percentiles are PERCENTILE_DISC picks — value at rank
    * ⌈n/2⌉ / ⌈9n/10⌉ of the (sec, user_id) total order — via the
    * two-phase Rank.rankExact (no single-partition sort at any scale),
    * with the 1-row count/min/max frame broadcast for the rank targets
    * (integer `div` arithmetic, no float rank boundary). Scale: two
    * user-grain hash joins + the grid-chunked rank; output is one row.
    */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Sources.events(spark, dir)
      .select(col("user_id"), col("event_type"),
              unix_micros(col("ts").cast("timestamp")).as("us"))
    val tv = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("tv"))
    val tp = ev.filter(col("event_type") === "purchase")
      .join(tv, Seq("user_id"))
      .filter(col("us") >= col("tv"))
      .groupBy(col("user_id"), col("tv")).agg(min(col("us")).as("tp"))
    // the grid probe (an action inside Rank), the rank and the stats
    // share the two joins' work
    val d = reuse(tp.select(col("user_id"), expr("(tp - tv) div 1000000").as("sec")))
    val rk = Rank.rankExact(d.withColumn("__all", lit(0)), "__all",
      col("sec"), col("user_id"), grid = Rank.gridFor(d, col("sec")),
      desc = false, out = "rk")
    val stats = d.agg(count(lit(1)).as("n"),
      min(col("sec")).as("mn"), max(col("sec")).as("mx"))
    // groupBy the broadcast stats (like the oracle's GROUP BY n, mn, mx)
    // rather than a global agg: with ZERO converters a global agg over
    // the empty cross join would emit one all-NULL row while the oracle
    // emits none — a latent hash divergence on degenerate data (ADVICE
    // r11). With converters present this is the same single-group agg.
    rk.crossJoin(broadcast(stats))
      .groupBy(col("n"), col("mn"), col("mx"))
      .agg(max(when(col("rk") === expr("(n + 1) div 2"), col("sec"))).as("p50_s"),
           max(when(col("rk") === expr("(9 * n + 9) div 10"), col("sec"))).as("p90_s"))
      .select(col("n").as("n_converters"), col("mn").as("min_s"),
              col("p50_s"), col("p90_s"), col("mx").as("max_s"))
  }

  /** q_cohort_ltv: cumulative purchase value per signup cohort by week
    * offset — the LTV curve (q_retention_cohort counts heads; this one
    * follows the money). Cohort = each user's first ISO week; purchase
    * money lands in exact decimal cells at (cohort, offset) grain; the
    * running cumulative sums those exact 2-dp doubles over an ordered
    * partitioned frame (identical order both engines), round-6 on output.
    * Offsets are exact integer day-diffs / 7. One user_id shuffle + a
    * |cohorts| x |weeks| rollup.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.{moneySum, r6}
    import org.apache.spark.sql.expressions.Window
    val e = Sources.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
              date_trunc("week", col("ts")).as("wk"))
    val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val cells = e.filter(col("event_type") === "purchase")
      .join(cohort, Seq("user_id"))
      .groupBy(col("cohort_wk"),
               (datediff(col("wk").cast("date"), col("cohort_wk").cast("date")) / 7)
                 .cast("long").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_buyers"),
           moneySum(col("value")).as("wk_value"))
    val w = Window.partitionBy(col("cohort_wk")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_value", r6(sum(col("wk_value")).over(w)))
      .select(unix_micros(col("cohort_wk").cast("timestamp")).as("cohort_us"),
              col("week_offset"), col("n_buyers"),
              col("wk_value"), col("cum_value"))
      .orderBy(col("cohort_us"), col("week_offset"))
  }

  /** q_funnel_window: the ordered funnel under a CONVERSION WINDOW — a
    * click only converts if within 24h of the first view, a purchase
    * within 72h of that click (real funnels always carry deadlines;
    * q_funnel is the unbounded form). Same shape: one conditional-min
    * aggregate per user, then NULL-safe integer microsecond comparisons —
    * a missing step or a blown deadline simply never counts.
    */
  def funnelWindow(spark: SparkSession, dir: String): DataFrame = {
    val e = Sources.events(spark, dir)
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
    val dayUs = 24L * 3600 * 1000000
    val firsts = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("us"))).as("t_view"),
           min(when(col("event_type") === "click", col("us"))).as("t_click"),
           min(when(col("event_type") === "purchase", col("us"))).as("t_purchase"))
    firsts.agg(
      count(col("t_view")).as("n_view"),
      count(when(col("t_click") > col("t_view") &&
                 col("t_click") - col("t_view") <= dayUs, 1)).as("n_click_24h"),
      count(when(col("t_click") > col("t_view") &&
                 col("t_click") - col("t_view") <= dayUs &&
                 col("t_purchase") > col("t_click") &&
                 col("t_purchase") - col("t_click") <= 3 * dayUs, 1)).as("n_purchase_72h"))
  }

  /** q_error_spikes: the TOP-3 spikiest days by daily error share — the
    * ops-analytics anomaly view ("which days did the error rate run
    * hottest"), with the overall share alongside for contrast. A top-k
    * rather than a fixed multiplicative threshold: under the law of large
    * numbers daily shares concentrate toward the mean as volume grows, so
    * any fixed "2× the overall rate" gate goes VACUOUS at scale (measured:
    * 9 qualifying days at sf0.001, 1 at sf0.01, none at sf1) — the top-k
    * form asks the question that stays answerable. Counts exact; ranking
    * on the ROUND-6 share with the epoch-day tiebreak (a total order both
    * engines agree on); top-3 is a TakeOrderedAndProject.
    */
  def errorSpikes(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val daily = Sources.events(spark, dir)
      .groupBy(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"))
      .agg(count(lit(1)).as("n"),
           count(when(col("event_type") === "error", 1)).as("n_err"))
    val tot = daily.agg(sum(col("n")).as("nt"), sum(col("n_err")).as("et"))
    daily.crossJoin(broadcast(tot))
      .select(col("epoch_day"), col("n"), col("n_err"),
              r6(col("n_err").cast("double") / col("n").cast("double")).as("day_rate"),
              r6(col("et").cast("double") / col("nt").cast("double")).as("overall_rate"))
      .orderBy(col("day_rate").desc, col("epoch_day"))
      .limit(3)
  }

  /** q_retention_curve: the NORMALIZED retention curve — per cohort week
    * and week offset, the share of the cohort still active (the rate form
    * of q_retention_cohort's head counts; what actually gets plotted).
    * Cohort sizes and active counts are exact distinct counts; the rate
    * is one division, round-6; offsets are exact integer day-diffs / 7.
    */
  def retentionCurve(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val e = Sources.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val cohort = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohort.groupBy(col("cohort_wk")).agg(countDistinct(col("user_id")).as("cohort_n"))
    e.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_wk"),
               (datediff(col("wk").cast("date"), col("cohort_wk").cast("date")) / 7)
                 .cast("long").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(sizes, Seq("cohort_wk"))
      .select(unix_micros(col("cohort_wk").cast("timestamp")).as("cohort_us"),
              col("week_offset"), col("cohort_n"), col("n_active"),
              r6(col("n_active").cast("double") / col("cohort_n").cast("double")).as("retention"))
      .orderBy(col("cohort_us"), col("week_offset"))
  }
}
