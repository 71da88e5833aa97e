package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.Sources
import org.apache.spark.sql.graftbridge.Materialize.reuse

/** Time-series operators (north-star extension): the resampling /
  * gap-filling / interval-algebra verbs a metrics or finance pipeline runs
  * over an event stream — each as pure declarative dataflow.
  *
  * Scale shape: every operator here shuffles ONCE on its entity key
  * (user_id / event_type) and runs windows inside that partitioning;
  * per-entity state is bounded by the entity's own events (or by the
  * spine length for gap-fill), never by the corpus. Determinism: integer
  * microsecond arithmetic end-to-end — money doubles go through
  * DECIMAL(18,2) (graft.Det) and surface as exact integer cents wherever
  * they enter products, so every declared value is either an exact
  * integer or a single shared IEEE expression tree (SURVEY §2.1).
  */
object Timeseries {

  private def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.Det.cents(c)

  /** q_time_weighted_avg: per-user TIME-WEIGHTED average of `value`
    * between consecutive events — the metric that answers "what level was
    * this gauge AT on average", which a plain AVG (per-observation) gets
    * wrong whenever sampling is irregular. Each event's value is held
    * until the next event (step interpolation, the observability-metrics
    * convention); weight = whole seconds held (integer DIV — exact and
    * identical in both engines).
    *
    * TWA = Σ cents_i · dt_i / (100 · Σ dt_i), computed as one exact
    * BIGINT ratio finalized by a single shared IEEE division (round-6).
    * One user_id window + one user_id aggregate — a single shuffle.
    */
  def timeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Sources.events(spark, dir)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts").cast("timestamp")).as("us"),
              cents(col("value")).as("cents"))
      .withColumn("dt_us", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("dt_us").isNotNull)
      // integer DIV (exact, engine-identical) — never a double division
      .withColumn("dt_s", expr("dt_us DIV 1000000L"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_segments"),
           sum(col("dt_s")).as("total_s"),
           sum(col("cents") * col("dt_s")).as("weighted_cents_s"))
      .filter(col("total_s") > 0)
      .select(col("user_id"), col("n_segments"), col("total_s"),
        r6(col("weighted_cents_s").cast("double") /
           (lit(100.0) * col("total_s").cast("double"))).as("twa"))
      .orderBy(col("user_id"))
  }

  /** q_ohlc: daily OHLC resampling per event type — open/high/low/close/
    * volume bars, the downsampling verb behind every financial or metrics
    * rollup. Open/close are the values at the per-(type, day) min/max of
    * the total order (us, event_id) — picked by two row_number windows
    * sharing ONE (type, day) partitioning, so first/last are deterministic
    * even under timestamp ties. high/low/volume/sum ride the same
    * aggregate. Days leave as epoch-day integers (engine-portable, no TZ).
    */
  def ohlc(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.moneySum
    val e = Sources.events(spark, dir)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"),
              unix_micros(col("ts").cast("timestamp")).as("us"),
              col("event_id"), col("value"))
    val part = Window.partitionBy(col("event_type"), col("epoch_day"))
    e.withColumn("rn_a", row_number().over(part.orderBy(col("us"), col("event_id"))))
      .withColumn("rn_z", row_number().over(part.orderBy(col("us").desc, col("event_id").desc)))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(max(when(col("rn_a") === 1, col("value"))).as("open"),
           max(col("value")).as("high"),
           min(col("value")).as("low"),
           max(when(col("rn_z") === 1, col("value"))).as("close"),
           count(lit(1)).as("volume"),
           moneySum(col("value")).as("sum_value"))
      .orderBy(col("event_type"), col("epoch_day"))
  }

  /** q_locf_gapfill: gap-fill a daily spine per user with LOCF (last
    * observation carried forward) — the resample-then-fill verb behind
    * feature stores and daily snapshots ("what was the last known value
    * on every calendar day, observed or not"). Spine = |users| × 30 days
    * (generated, never scanned); per-(user, day) observation = the day's
    * LAST value by (us, event_id); fill = last(ignoreNulls) over the
    * user-ordered running frame. Days before a user's first observation
    * stay NULL in both engines. One user_id shuffle; per-user state = the
    * spine length, not the event count.
    */
  def locfGapfill(spark: SparkSession, dir: String): DataFrame = {
    val e = Sources.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("d"),
              unix_micros(col("ts").cast("timestamp")).as("us"),
              col("event_id"), col("value"))
    val lastPerDay = e
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("d"))
          .orderBy(col("us").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("d"), col("value"))
    val spine = e.select(col("user_id")).distinct()
      .crossJoin(spark.range(1).select(explode(sequence(
        lit("2024-01-01").cast("date"), lit("2024-01-30").cast("date"))).as("d")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(lastPerDay, Seq("user_id", "d"), "left")
      .withColumn("filled", last(col("value"), ignoreNulls = true).over(w))
      .select(col("user_id"),
              datediff(col("d"), lit("1970-01-01").cast("date")).as("epoch_day"),
              col("filled"),
              col("value").isNotNull.cast("int").as("is_observed"))
      .orderBy(col("user_id"), col("epoch_day"))
  }

  /** q_ema: exponentially-weighted moving average of DAILY event counts
    * per event_type — the smoothing primitive behind trend dashboards and
    * anomaly baselines. pandas `ewm(adjust=True)` semantics with
    * CALENDAR-distance decay (a missing day decays the history by its
    * real gap, not by observation index): ema_d = Σ x_i·α^(d−i) / Σ α^(d−i)
    * over observed days i ≤ d, α = 0.8.
    *
    * Portability: both engines evaluate the FACTORED running form
    * S1_d = Σ x_i·α^(−idx_i), S2_d = Σ α^(−idx_i) over the same ordered
    * running frame (the α^idx_d factors cancel in the ratio exactly), so
    * the op sequence is identical; pow/divide ulp drift is absorbed by
    * round-6 (the q_entropy argument). idx ≤ 30 keeps α^(−idx) ≤ ~840 —
    * no overflow risk. One shuffle (the daily aggregate); the window is
    * |event_types| partitions × ~30 rows.
    */
  def ema(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val daily = Sources.events(spark, dir)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("n"))
    val idx = (col("epoch_day") - 19723).cast("double") // days since 2024-01-01
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("s1", sum(col("n").cast("double") * pow(lit(0.8), -idx)).over(w))
      .withColumn("s2", sum(pow(lit(0.8), -idx)).over(w))
      .select(col("event_type"), col("epoch_day"), col("n"),
              r6(col("s1") / col("s2")).as("ema"))
      .orderBy(col("event_type"), col("epoch_day"))
  }

  /** q_interp_gapfill: LINEAR interpolation over the daily spine — the
    * sibling of q_locf_gapfill for continuous signals (sensor readings,
    * balances) where carrying the last value flat is wrong. Known value
    * per (user, day) = the day's LAST observation in EXACT integer cents;
    * for spine days between two observations,
    * v = vp + (vn − vp)·(d − dp)/(dn − dp) — every input an exact BIGINT,
    * ONE shared double tree, round-6. Days before the first / after the
    * last observation stay NULL (interpolation never extrapolates; LOCF
    * is the extrapolating form). Bracketing values ride two IGNORE-NULLS
    * window passes (backward last, forward first) over ONE user_id
    * partitioning — the same shuffle budget as LOCF.
    */
  def interpGapfill(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val e = Sources.events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("d"),
              unix_micros(col("ts").cast("timestamp")).as("us"),
              col("event_id"), cents(col("value")).as("v_cents"))
    val lastPerDay = e
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("d"))
          .orderBy(col("us").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("d"), col("v_cents"))
    val spine = e.select(col("user_id")).distinct()
      .crossJoin(spark.range(1).select(explode(sequence(
        lit("2024-01-01").cast("date"), lit("2024-01-30").cast("date"))).as("d")))
    val day = datediff(col("d"), lit("1970-01-01").cast("date"))
    val wBack = Window.partitionBy(col("user_id")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(col("user_id")).orderBy(col("d"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("v_cents").isNotNull, day)
    val joined = spine.join(lastPerDay, Seq("user_id", "d"), "left")
      .withColumn("vp", last(col("v_cents"), ignoreNulls = true).over(wBack))
      .withColumn("dp", last(obsDay, ignoreNulls = true).over(wBack))
      .withColumn("vn", first(col("v_cents"), ignoreNulls = true).over(wFwd))
      .withColumn("dn", first(obsDay, ignoreNulls = true).over(wFwd))
    val interp =
      when(col("v_cents").isNotNull, col("v_cents").cast("double") / 100.0)
        .when(col("vp").isNotNull && col("vn").isNotNull,
          col("vp").cast("double") / 100.0 +
            (col("vn") - col("vp")).cast("double") / 100.0 *
            ((day - col("dp")).cast("double") / (col("dn") - col("dp")).cast("double")))
    joined.select(col("user_id"), day.as("epoch_day"),
                  r6(interp).as("interp"),
                  col("v_cents").isNotNull.cast("int").as("is_observed"))
      .orderBy(col("user_id"), col("epoch_day"))
  }

  /** q_interval_coverage: merge OVERLAPPING intervals per user and report
    * island count + total covered microseconds — the interval-union
    * algebra behind "actual watch time", SLA uptime, and machine
    * utilization (where naive duration sums double-count overlaps).
    * Interval i = [us, us + value seconds) with the length in exact
    * integer µs via the cents rule. The classic sweep: running max of
    * prior interval ends flags island starts (strictly-after ⇒ new
    * island; containment folds in), a running sum numbers islands, and
    * coverage = Σ (island max end − island min start) — all BIGINT.
    * Both windows share ONE user_id partitioning.
    */
  def intervalCoverage(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Sources.events(spark, dir)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts").cast("timestamp")).as("us"),
              (cents(col("value")) * 10000L).as("len_us"))
      .withColumn("end_us", col("us") + col("len_us"))
      .withColumn("prev_max_end",
        max(col("end_us")).over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_end").isNull || col("us") > col("prev_max_end"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("us")).as("start_us"), max(col("end_us")).as("max_end_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
           sum(col("max_end_us") - col("start_us")).as("covered_us"))
      .orderBy(col("user_id"))
  }

  /** q_delta_rank: month-over-month revenue movers per market segment —
    * the period-over-period delta + rank view behind every "biggest
    * movers" dashboard. Monthly revenue = exact decimal sums over
    * orders ⋈ customer (dim side broadcast); prev month via lag inside a
    * |segments|-partition window; delta is a subtraction of two doubles
    * both engines derived from identical decimals (one shared IEEE op);
    * movers ranked per month by (delta desc, segment) — total order.
    * Month key = year·100 + month, a portable integer.
    */
  def deltaRank(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.moneySum
    val monthly = Sources.orders(spark, dir)
      .join(broadcast(Sources.customer(spark, dir)),
            col("o_custkey") === col("c_custkey"))
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).as("month_id"),
               col("c_mktsegment"))
      .agg(moneySum(col("o_totalprice")).as("rev"))
    val bySeg = Window.partitionBy(col("c_mktsegment")).orderBy(col("month_id"))
    monthly
      .withColumn("prev_rev", lag(col("rev"), 1).over(bySeg))
      .filter(col("prev_rev").isNotNull)
      .withColumn("delta", col("rev") - col("prev_rev"))
      .withColumn("mrank", row_number().over(
        Window.partitionBy(col("month_id"))
          .orderBy(col("delta").desc, col("c_mktsegment"))))
      .select(col("month_id"), col("c_mktsegment"), col("rev"),
              col("prev_rev"), col("delta"), col("mrank"))
      .orderBy(col("month_id"), col("mrank"))
  }

  /** q_rolling_median: trailing-7-day ROLLING MEDIAN of per-type daily
    * event counts — the robust-smoothing sibling of a moving average
    * (outlier days do not drag the baseline, which is why alerting
    * pipelines prefer it). Spark allows any aggregate as a window
    * function, so this is `percentile(cnt, 0.5)` over a ROWS 6 PRECEDING
    * frame — both engines share the (n−1)·q interpolation definition
    * (the q_winsorize argument) over exact integer daily counts, round-6
    * on top. One (type, day) aggregate + a |types|-partition window.
    */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val daily = Sources.events(spark, dir)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("med7", r6(expr("percentile(cnt, 0.5)").over(w)))
      .select(col("event_type"), col("epoch_day"), col("cnt").cast("long").as("cnt"),
              col("med7"))
      .orderBy(col("event_type"), col("epoch_day"))
  }

  /** q_drawdown: maximum drawdown of each event_type's DAILY volume from
    * its running peak — "how far below the best day seen so far did
    * traffic fall, at worst": the SLO/regression-alarm statistic (and,
    * over equity curves, the classic finance risk measure). Running peak
    * is a cumulative max over the per-type daily series (bounded by
    * calendar days — the documented window-input bound shared by
    * q_ema/q_rolling_median); drawdowns stay exact integers, the relative
    * form is a per-row double ratio whose max is taken BEFORE the single
    * round-6, so no rounding boundary can reorder the argmax.
    */
  def drawdown(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val daily = Sources.events(spark, dir)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("peak", max(col("cnt")).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
           max(col("peak")).as("peak"),
           max(col("peak") - col("cnt")).as("max_dd"),
           r6(max((col("peak") - col("cnt")).cast("double") /
                  col("peak").cast("double"))).as("max_dd_rel"))
      .orderBy(col("event_type"))
  }

  /** q_theil_sen: Theil–Sen robust trend slope of each event_type's
    * daily volume — the median of all pairwise day-slopes: up to ~29% of
    * days can be corrupted (outages, backfill spikes) without moving the
    * estimate, where q_regression's least-squares line chases every
    * outlier. The pair set lives on the CALENDAR-BOUNDED daily census
    * (≤ C(days,2) ≈ 435 rows/type at a 30-day window — bounded at ANY
    * data scale; the self-join never touches raw events), slopes are
    * single IEEE divisions of exact integers (bit-identical across
    * engines, so their sort order is too), and the median is the
    * DISCRETE lower median (rank ⌈m/2⌉, ties broken by the day pair) —
    * selected first, rounded-6 after.
    */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val daily = Sources.events(spark, dir)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("cnt"))
    val a = daily.select(col("event_type"), col("epoch_day").as("da"), col("cnt").as("ca"))
    val b = daily.select(col("event_type"), col("epoch_day").as("db"), col("cnt").as("cb"))
    val pairs = a.join(b, Seq("event_type")).filter(col("da") < col("db"))
      .withColumn("slope",
        (col("cb") - col("ca")).cast("double") / (col("db") - col("da")).cast("double"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("slope"), col("da"), col("db"))
    val wAll = Window.partitionBy(col("event_type"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("m", count(lit(1)).over(wAll))
      .filter(expr("rn = (m + 1) div 2"))
      .select(col("event_type"), col("m").as("n_pairs"), r6(col("slope")).as("slope"))
      .orderBy(col("event_type"))
  }

  /** q_mann_kendall: Mann–Kendall trend test per event_type's daily
    * volume — the SIGNIFICANCE half of the standard nonparametric trend
    * couple whose SLOPE half is q_theil_sen ("is there a monotone trend,
    * and how sure are we", robust to outliers and any monotone
    * transform). S = Σ_{i<j} sign(cnt_j − cnt_i) over the same bounded
    * C(days,2) pair join as theil_sen; the tie census over equal counts
    * feeds both tau-b's denominator and the variance correction
    * Σ t(t−1)(2t+5). S, n, and both corrections are EXACT BIGINTs, so
    * membership is pinned by integers; tau_b = S/√((n₀−T_x)·n₀) and the
    * continuity-corrected z = (S∓1)/√Var(S) are each ONE shared IEEE
    * tree, round-6. Types where all days tie (n₀ = T_x ⇒ σ = 0) are
    * refused by an exact integer test. Scale: pairs are
    * calendar-bounded (C(31,2) per type) — the same justification as
    * theil_sen's documented pair join; everything else is type-grain.
    */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val daily = reuse(Sources.events(spark, dir)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("cnt")))
    val a = daily.select(col("event_type"), col("epoch_day").as("da"), col("cnt").as("ca"))
    val b = daily.select(col("event_type"), col("epoch_day").as("db"), col("cnt").as("cb"))
    val s = a.join(b, Seq("event_type")).filter(col("da") < col("db"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("cb") > col("ca"), 1L)
            .when(col("cb") < col("ca"), -1L).otherwise(0L)).as("s"))
    val n = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    // `div`, not `/`: Column./ on integers is double division (the
    // q_theil_sen ADVICE-r10 trap); t(t−1) is even so div 2 is exact
    val tie = daily.groupBy(col("event_type"), col("cnt"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(expr("t * (t - 1) div 2")).as("tx"),
           sum(expr("t * (t - 1) * (2 * t + 5)")).as("tv"))
    val j = s.join(n, Seq("event_type")).join(tie, Seq("event_type"))
    val n0 = expr("n * (n - 1) div 2")
    val varNum = col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L) - col("tv")
    j.filter(n0 > col("tx") && varNum > 0L)
      .select(col("event_type"), col("s"), col("n"),
        r6(col("s").cast("double") /
           sqrt((n0 - col("tx")).cast("double") * n0.cast("double"))).as("tau_b"),
        r6((col("s") - signum(col("s").cast("double"))).cast("double") /
           sqrt(varNum.cast("double") / 18.0)).as("z"))
      .orderBy(col("event_type"))
  }

  /** q_rolling_corr: 14-observation rolling Pearson correlation between
    * each event_type's daily volume and the GLOBAL daily volume — the
    * regime monitor ("is this stream still moving with overall traffic,
    * or has it decoupled"): a beta/correlation breakdown is how
    * ops/finance pipelines detect that one component's dynamics changed
    * even while its level looks normal. The global series includes the
    * type itself (component-vs-aggregate, the index convention —
    * documented). All five window moments (Σx, Σy, Σxy, Σx², Σy²) are
    * EXACT BIGINTs over the 14-row frame; the two variance terms
    * 14Σx²−(Σx)² and 14Σy²−(Σy)² are exact BIGINTs whose zero test
    * (flat window) is integer-exact, and corr is ONE shared IEEE tree —
    * the BIGINT→double casts happen BEFORE the cross-term product so no
    * intermediate exceeds 2⁶³ — round-6. Full 14-observation windows
    * only (the q_wma honest-contract rule). Scale: one (type) window +
    * one day-grain equi-join over the calendar-bounded daily census.
    */
  def rollingCorr(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val ev = Sources.events(spark, dir)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"))
    val daily = ev.groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("x"))
    val total = ev.groupBy(col("epoch_day")).agg(count(lit(1)).as("y"))
    val w14 = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rowsBetween(-13, Window.currentRow)
    val mo = daily.join(total, Seq("epoch_day"))
      .withColumn("n14", count(lit(1)).over(w14))
      .withColumn("sx", sum(col("x")).over(w14))
      .withColumn("sy", sum(col("y")).over(w14))
      .withColumn("sxy", sum(col("x") * col("y")).over(w14))
      .withColumn("sxx", sum(col("x") * col("x")).over(w14))
      .withColumn("syy", sum(col("y") * col("y")).over(w14))
    val dx = lit(14L) * col("sxx") - col("sx") * col("sx")
    val dy = lit(14L) * col("syy") - col("sy") * col("sy")
    mo.filter(col("n14") === 14L && dx > 0L && dy > 0L)
      .select(col("event_type"), col("epoch_day"), col("x"), col("y"),
        r6((lit(14L) * col("sxy") - col("sx") * col("sy")).cast("double") /
           (sqrt(dx.cast("double")) * sqrt(dy.cast("double")))).as("corr14"))
      .orderBy(col("event_type"), col("epoch_day"))
  }

  /** q_wma: 7-observation linearly-weighted moving average of each
    * event_type's daily volume — the trend smoother that reacts faster
    * than the flat mean (newest day weight 7 … oldest weight 1, the
    * trading convention; observation-indexed like q_rolling_median, not
    * calendar-indexed — q_interp_gapfill is the calendar repair step if
    * gaps matter). Emitted only where the full 7-observation history
    * exists (partial-window WMAs silently re-weight — refusing them is
    * the honest contract). The weighted sum is an exact BIGINT
    * (Σ wᵢ·cntᵢ, weights 1..7), finalized by ONE IEEE division by 28,
    * round-6. Seven lag()s share a single (event_type) shuffle over the
    * calendar-bounded daily census.
    */
  def wma(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val daily = Sources.events(spark, dir)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
    val lags = (0 to 6).map(i => lag(col("cnt"), i).over(w).as(s"x$i"))
    val num = (0 to 6).map(i => lit(7L - i) * col(s"x$i")).reduce(_ + _)
    daily
      .select(col("event_type") +: col("epoch_day") +: col("cnt") +: lags: _*)
      .filter(col("x6").isNotNull)
      .select(col("event_type"), col("epoch_day"), col("cnt"),
              r6(num.cast("double") / 28.0).as("wma7"))
      .orderBy(col("event_type"), col("epoch_day"))
  }

  /** q_rsi: 14-observation Relative Strength Index (Cutler's SMA form)
    * of each event_type's daily volume — the over-extension oscillator
    * ("is this series overbought/oversold after a run"): RSI > 70 flags
    * unsustainable growth spurts, < 30 collapse, on any metric series.
    * Cutler's form is chosen over Wilder's DELIBERATELY: Wilder smooths
    * recursively (every value depends on the seed — a cross-engine
    * portability trap), while Cutler's simple moving averages make RSI
    * window-local and EXACT: gains/losses are integer day-over-day
    * deltas, the 14-observation sums ΣG, ΣL are exact BIGINTs, and
    * RSI = 100·ΣG/(ΣG+ΣL) is ONE IEEE division of exact integers,
    * round-6 (ΣG+ΣL = 0 rows — a 14-day flat line — are refused, the
    * boundary an exact integer test). Emitted only where the full
    * 14-delta history exists (the q_wma honest-contract rule). One
    * (event_type) shuffle over the calendar-bounded daily census.
    */
  def rsi(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val daily = Sources.events(spark, dir)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
    val w14 = w.rowsBetween(-13, Window.currentRow)
    daily
      .withColumn("delta", col("cnt") - lag(col("cnt"), 1).over(w))
      .withColumn("full14", count(col("delta")).over(w14) === 14)
      .withColumn("sg", sum(greatest(col("delta"), lit(0L))).over(w14))
      .withColumn("sl", sum(greatest(-col("delta"), lit(0L))).over(w14))
      .filter(col("full14") && col("sg") + col("sl") > 0)
      .select(col("event_type"), col("epoch_day"), col("cnt"),
              col("sg").as("sum_gain"), col("sl").as("sum_loss"),
              r6(col("sg").cast("double") * 100.0 /
                 (col("sg") + col("sl")).cast("double")).as("rsi14"))
      .orderBy(col("event_type"), col("epoch_day"))
  }

  /** q_bollinger: 7-day trailing mean ± 2σ volatility bands over each
    * event_type's daily volume, with an EXACT-INTEGER breach test — the
    * alerting primitive q_outlier_zscore's global form can't give ("is
    * TODAY anomalous vs the trailing week", not "vs all history"). All
    * window moments are exact BIGINTs over the calendar-bounded daily
    * census (the q_ema/q_rolling_median input bound); ma7/sd7 surface
    * through single IEEE trees round-6, and the breach flag NEVER
    * touches a float: cnt > ma+2σ  ⇔  d := n·cnt − Σx > 0  AND
    * d² > 4·(n·Σx² − (Σx)²) — pure integer arithmetic, so no rounding
    * boundary can flip a flag between engines. (Population σ over the
    * trailing window, the Bollinger convention.)
    */
  def bollinger(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val daily = Sources.events(spark, dir)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rowsBetween(-6, Window.currentRow)
    val d = col("n7") * col("cnt") - col("s7") // n·x − Σx, exact
    val varN2 = col("n7") * col("q7") - col("s7") * col("s7") // n·Σx² − (Σx)², exact ≥ 0
    daily
      .withColumn("n7", count(lit(1)).over(w))
      .withColumn("s7", sum(col("cnt")).over(w))
      .withColumn("q7", sum(col("cnt") * col("cnt")).over(w))
      .select(col("event_type"), col("epoch_day"), col("cnt"),
        r6(col("s7").cast("double") / col("n7").cast("double")).as("ma7"),
        r6(sqrt(varN2.cast("double")) / col("n7").cast("double")).as("sd7"),
        when(d > 0 && d * d > lit(4L) * varN2, 1).otherwise(0).as("breach_hi"))
      .orderBy(col("event_type"), col("epoch_day"))
  }

  /** q_seasonal_index: day-of-week seasonality index per event_type —
    * mean daily volume on each weekday relative to the type's overall
    * mean daily volume (index 1.0 = flat week; the capacity-planning /
    * anomaly-baseline primitive: an alert that ignores weekly shape pages
    * every Sunday). The ratio of two means collapses to ONE exact BIGINT
    * ratio — (Σ_dow · n_days) / (n_dow · Σ_total) — finalized by a single
    * shared IEEE division, round-6. Two tiny aggregates at (type, dow)
    * and (type) grain; dow is ISO (1 = Monday … 7 = Sunday) so both
    * engines share the same arithmetic definition, not a locale.
    */
  def seasonalIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val daily = Sources.events(spark, dir)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("cnt"))
      // ISO dow from the epoch day: 1970-01-01 was a Thursday (ISO 4)
      .withColumn("dow", (pmod(col("epoch_day") + 3L, lit(7L)) + 1L).cast("int"))
    val byDow = daily.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_dow"), sum(col("cnt")).as("s_dow"))
    val byType = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("s_tot"))
    byDow.join(broadcast(byType), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("n_dow"),
        r6((col("s_dow") * col("n_days")).cast("double") /
           (col("n_dow") * col("s_tot")).cast("double")).as("idx"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** q_burn_rate: SRE error-budget burn — the 7-observation rolling
    * error RATE against a 1% budget, as a burn MULTIPLE (burn7x > 1 ⇒
    * the budget exhausts before the window does): the alerting form SRE
    * playbooks page on, complementing q_error_spikes' single-day
    * z-score with the sustained-burn view that catches slow leaks a
    * daily outlier test never fires on. Numerator/denominator are exact
    * BIGINT window sums over the daily (errors, total) census — ONE
    * day-grain census carries both conditional counts, so the whole key
    * is one scan + one global-ordered window over the calendar-bounded
    * census (≤ |days| rows — the q_cumulative_uniques bound) — and
    * burn7x = (Σerr/Σtot)/0.01 is one shared IEEE tree, round-6. Full
    * windows only (the q_wma honest-contract rule).
    */
  /** q_cusum: one-sided CUSUM drift detection on the daily order-revenue
    * series — the sequential change detector SRE/data-quality monitoring
    * runs where q_changepoint does retrospective segmentation: has the
    * series drifted ABOVE its baseline mean by more than slack k, summed
    * persistently past decision threshold h? Classic recursion
    * S⁺_t = max(0, S⁺_{t−1} + (x_t − μ − k)) is not window-expressible,
    * but its closed form is: S⁺_t = P_t − min(0, min_{j≤t} P_j) with P
    * the prefix sum of deviations — one running sum + one running min.
    *
    * EXACT INTEGER arithmetic throughout (stronger than the ordered-
    * running-double precedent): deviations are scaled by n —
    * dev'_t = n·x_t − T − n·k with T = Σx (exact BIGINT cents),
    * k = ⌊0.05μ⌋ = T div (20n) and h = ⌊0.5μ⌋ = T div (2n) integer
    * cents — so P', S'⁺ and the alarm compare S'⁺ > n·h are all BIGINT:
    * no float ever crosses a threshold. s_plus surfaces at exact
    * FLOOR-CENT grain (S' div n, then /100 — see the in-body note on why
    * r6 of the raw division is not engine-stable at this magnitude).
    * Scale: the windows run over the DAILY
    * census (calendar-days domain, ~2.4k rows at any SF — PlanGate
    * allowlisted like q_cumulative_uniques/q_burn_rate).
    */
  def cusumQuery(spark: SparkSession, dir: String): DataFrame = {
    val daily = Sources.orders(spark, dir)
      .select(datediff(col("o_orderdate").cast("date"),
                       lit("1970-01-01").cast("date")).as("epoch_day"),
              graft.Det.cents(col("o_totalprice")).as("c"))
      .groupBy(col("epoch_day"))
      .agg(sum(col("c")).as("x"))
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("t"))
    val w = Window.orderBy(col("epoch_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(stats))
      .withColumn("dev", col("n") * col("x") - col("t")
        - col("n") * expr("t div (20 * n)"))
      .withColumn("p", sum(col("dev")).over(w))
      .withColumn("sp", col("p") - least(lit(0L), min(col("p")).over(w)))
      // s_plus surfaces at exact FLOOR-CENT grain (sp div n, then /100):
      // r6 of the raw division is NOT cross-engine stable here — s_plus
      // reaches ~1e8, where the 6th decimal sits at the double's 1e-16
      // relative precision floor (measured 1-ulp flip at sf1 row 2398)
      .select(col("epoch_day"),
        (col("x").cast("double") / 100.0).as("revenue"),
        (expr("sp div n").cast("double") / 100.0).as("s_plus"),
        (col("sp") > col("n") * expr("t div (2 * n)")).cast("int").as("alarm"))
      .orderBy(col("epoch_day"))
  }

  def burnRate(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val d = Sources.events(spark, dir)
      .select(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"),
              col("event_type"))
      .groupBy(col("epoch_day"))
      .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err"),
           count(lit(1)).as("tot"))
    val w7 = Window.orderBy(col("epoch_day")).rowsBetween(-6, Window.currentRow)
    d.withColumn("n7", count(lit(1)).over(w7))
      .withColumn("err7", sum(col("err")).over(w7))
      .withColumn("tot7", sum(col("tot")).over(w7))
      .filter(col("n7") === 7L)
      .select(col("epoch_day"), col("err"), col("tot"), col("err7"), col("tot7"),
        r6(col("err7").cast("double") / col("tot7").cast("double") / 0.01).as("burn7x"))
      .orderBy(col("epoch_day"))
  }

  /** q_decompose_daily: classical additive decomposition of each
    * event_type's daily volume — cnt = trend + seasonal + remainder, the
    * capacity/anomaly workhorse that SPLITS a series instead of just
    * indexing it (q_seasonal_index) or smoothing it (q_wma): trend is
    * the centered 7-day mean (full windows only — the honest-contract
    * rule), seasonal is the mean DETRENDED value per ISO weekday, and
    * the remainder is what an alert should actually fire on.
    * Determinism layers: the 7-day sum is an exact BIGINT, so
    * trend = s7/7 and det = cnt − trend are single IEEE expressions both
    * engines reproduce bit-identically; the per-(type, dow) seasonal
    * mean crosses rows (double sum, order-dependent) and is round-6
    * absorbed (the q_entropy argument — ≤ ⌈days/7⌉ terms); the
    * remainder subtracts the ROUNDED seasonal from the deterministic
    * det, then rounds — so no unbounded float chain ever spans engines.
    * Scale: one (type) census window + a (type, dow) aggregate.
    */
  def decomposeDaily(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.r6
    val daily = Sources.events(spark, dir)
      .select(col("event_type"),
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).as("epoch_day"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("cnt"))
    val w7 = Window.partitionBy(col("event_type")).orderBy(col("epoch_day"))
      .rowsBetween(-3, 3)
    val t = daily
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("s7", sum(col("cnt")).over(w7))
      .filter(col("n7") === 7L)
      .withColumn("trend", col("s7").cast("double") / 7.0)
      .withColumn("det", col("cnt").cast("double") - col("trend"))
      .withColumn("dow", (pmod(col("epoch_day") + 3L, lit(7L)) + 1L).cast("int"))
    val seas = t.groupBy(col("event_type"), col("dow"))
      .agg(r6(sum(col("det")) / count(lit(1)).cast("double")).as("seasonal"))
    t.join(seas, Seq("event_type", "dow"))
      .select(col("event_type"), col("epoch_day"), col("cnt"),
              r6(col("trend")).as("trend"), col("seasonal"),
              r6(col("det") - col("seasonal")).as("remainder"))
      .orderBy(col("event_type"), col("epoch_day"))
  }

  /** q_peak_concurrency: maximum concurrent 30-minute activity intervals
    * per event_type, and the earliest microsecond the peak is reached —
    * the interval-stacking / capacity-planning primitive ("how many
    * sessions were live at the worst moment") that q_interval_coverage's
    * union-length cannot answer. Classic sweep: each event opens
    * [ts, ts+30 min) → +1/−1 boundary deltas at microsecond precision
    * (unix_micros — the q_window_lag_lead integer-epoch convention, no
    * truncation ambiguity), and concurrency is the running sum of deltas
    * in boundary order. The running sum is TWO-PHASE like Rank: boundary
    * census rows carry an hour bucket (us div 3600·10⁶); within-hour
    * prefix sums run under a (type, hour) window whose partitions are
    * bounded by boundaries-per-hour, and hour-grain offsets come from a
    * (type) window over the calendar-bounded hour census (≤ 24·days
    * rows) — no type-partitioned window ever sees the unbounded event
    * stream. All integers end-to-end; peak argmax resolves by earliest
    * microsecond (exact), n_events pins membership.
    */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Sources.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts").cast("timestamp")).as("us"))
    // ±1 boundaries via a map-side explode — ONE events scan, not a
    // self-union's two (plan-checked: single parquet scan)
    val b = ev.select(col("event_type"), explode(array(
        struct(col("us"), lit(1L).as("delta")),
        struct((col("us") + 1800000000L).as("us"), lit(-1L).as("delta")))).as("x"))
      .select(col("event_type"), col("x.us").as("us"), col("x.delta").as("delta"))
    // starts carried through the census so n_events needs NO second
    // events scan
    val census = b.groupBy(col("event_type"), col("us"))
      .agg(sum(col("delta")).as("delta"),
           count(when(col("delta") === 1L, 1)).as("starts"))
      .withColumn("hr", expr("us div 3600000000"))
    val wHr = Window.partitionBy(col("event_type"), col("hr")).orderBy(col("us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = census.withColumn("run", sum(col("delta")).over(wHr))
    val hrTot = census.groupBy(col("event_type"), col("hr"))
      .agg(sum(col("delta")).as("dsum"))
    val wOff = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = hrTot
      .withColumn("off", coalesce(sum(col("dsum")).over(wOff), lit(0L)))
      .select(col("event_type"), col("hr"), col("off"))
    // single-pass peak argmax: max(struct(conc, -us)) picks max
    // concurrency then EARLIEST microsecond — no self-join re-evaluation
    run.join(off, Seq("event_type", "hr"))
      .select(col("event_type"), col("starts"),
              (col("off") + col("run")).as("conc"), col("us"))
      .groupBy(col("event_type"))
      .agg(sum(col("starts")).as("n_events"),
           max(struct(col("conc").as("c"), (-col("us")).as("nu"))).as("s"))
      .select(col("event_type"), col("n_events"),
              col("s.c").as("peak"), (-col("s.nu")).as("peak_us"))
      .orderBy(col("event_type"))
  }
}
