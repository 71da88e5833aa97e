package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.Det._
import graft.io.Sources

/** Event-time processing (SURVEY.md §2 H + q_join_asof from §2 C).
  *
  * Every declared key is implemented as BATCH dataflow (oracle-checkable);
  * each has a Structured-Streaming twin built by the `*Stream` methods on
  * an unbounded DataFrame — ScalaTest asserts stream(append, watermark
  * closed) == batch on the same rows (SURVEY §5.2.4).
  *
  * Scale: tumbling/sliding aggregation state is bounded by (window ×
  * event_type) cardinality; session state by active users within the
  * watermark horizon; the as-of join is ONE shuffle (union + running
  * window), not a per-row point lookup.
  *
  * Window-start columns are emitted as epoch-microsecond BIGINTs — both
  * engines agree on integer epochs, not on timestamp-type round-trips
  * (SURVEY §2.1.7).
  */
object Streaming {

  private def us(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** q_stream_tumbling (batch): 1-hour tumbling counts + money sums per
    * event_type.
    */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    tumblingOn(Sources.events(spark, dir))
      .orderBy(col("win_us"), col("event_type"))

  /** The shared plan — works on both batch and streaming inputs. */
  def tumblingOn(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .select(us(col("w.start")).as("win_us"), col("event_type"), col("n"), col("sum_value"))

  /** q_stream_sliding (batch): 1-hour windows sliding every 30 minutes —
    * each event lands in exactly two windows.
    */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    slidingOn(Sources.events(spark, dir))
      .orderBy(col("win_us"), col("event_type"))

  def slidingOn(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(us(col("w.start")).as("win_us"), col("event_type"), col("n"))

  /** q_stream_session (batch): 30-minute-gap sessions per user via
    * lag + running-sum sessionization. Gap boundary: delta >= gap starts a
    * NEW session — matching session_window's half-open [start, last+gap)
    * semantics exactly, so the streaming twin agrees.
    */
  def session(spark: SparkSession, dir: String): DataFrame =
    sessionizeOn(Sources.events(spark, dir))
      .orderBy(col("user_id"), col("sess_start_us"))

  /** Batch sessionization on any events frame (lag + running sum). */
  def sessionizeOn(events: DataFrame): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ws = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("us", us(col("ts")))
      .withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(w) >= gapUs, 1).otherwise(0))
      .withColumn("sess_id", sum(col("new_sess")).over(ws))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("us")).as("sess_start_us"), max(col("us")).as("sess_end_us"),
           count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sess_start_us"), col("sess_end_us"), col("n_events"))
  }

  /** q_session_native: Spark's NATIVE session_window run in batch, emitting
    * the exact q_stream_session output shape — and sharing that key's
    * lag/cumsum DuckDB oracle VERBATIM. The gate therefore proves the
    * equivalence both ways: the portable sessionization (q_stream_session)
    * and the native session windows (this key) hash-match the same ground
    * truth, including the >= gap boundary (half-open [start, last+gap)).
    * One shuffle on user_id; per-user state bounded like the lag form.
    */
  def sessionNative(spark: SparkSession, dir: String): DataFrame =
    Sources.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), max(us(col("ts"))).as("sess_end_us"))
      .select(col("user_id"), us(col("w.start")).as("sess_start_us"),
              col("sess_end_us"), col("n_events"))
      .orderBy(col("user_id"), col("sess_start_us"))

  /** q_stream_exec: the tumbling pipeline run as a TRUE Structured
    * Streaming job under the hash gate (VERDICT r9 "what's missing" #1) —
    * file source (`readStream` over the events parquet) → watermark →
    * 1-hour tumbling agg → APPEND-mode parquet sink, Trigger.AvailableNow,
    * then the sink is re-read and declared. The micro-batch engine, state
    * store, watermark advance and sink commit log all execute for real;
    * the batch twins only ever exercised the batch planner.
    *
    * Append mode emits exactly the windows CLOSED by the final watermark
    * (max event time − 0s; AvailableNow runs the trailing no-data batch
    * that evicts with it), so the window containing the stream's max ts
    * stays open and is NOT in the sink. The oracle applies the identical
    * closure predicate (win_end <= max(ts)) to the q_stream_tumbling SQL —
    * the declared semantics ARE the append-mode contract.
    *
    * The job runs once per (session, source dir) behind a conf marker
    * (the bucketed-twin pattern); sink + checkpoint are wiped first so a
    * stale append log can never double rows. Scale: state is bounded by
    * (open windows × event_type); the sink is partition-parallel parquet;
    * state lives in ROCKSDB for the run (the provider a 1000-executor
    * deployment uses — heap state caps at executor memory, RocksDB
    * spills; StreamingSpec proves heap/RocksDB equivalence separately).
    */
  def streamExec(spark: SparkSession, dir: String): DataFrame =
    runStreamOnce(spark, dir, "graft_stream_exec", "streamExec",
      src => tumblingOn(src), Seq(col("win_us"), col("event_type")))

  /** Shared once-per-(session, dir) streaming harness for the declared
    * `*_exec` keys: wipe sink+checkpoint, run the file-source micro-batch
    * job (append mode, watermark 0s, AvailableNow) with RocksDB state,
    * then read the sink back. The watermark cast: watermarks require
    * TIMESTAMP (ltz); the source ts is ntz — with the session pinned to
    * UTC the cast is epoch-identical.
    */
  private def runStreamOnce(spark: SparkSession, dir: String, prefix: String,
                            markerName: String, plan: DataFrame => DataFrame,
                            order: Seq[Column]): DataFrame =
    runStreamOnceRaw(spark, dir, prefix, markerName, () => plan(
      eventsStream(spark, dir)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "0 seconds"))).orderBy(order: _*)

  /** The raw harness: `build` constructs ANY streaming DataFrame (one or
    * several sources); result is the unordered sink read.
    */
  private def runStreamOnceRaw(spark: SparkSession, dir: String, prefix: String,
                               markerName: String,
                               build: () => DataFrame): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val base = sys.props("java.io.tmpdir") + s"/${prefix}_$tag"
    val sink = s"$base/sink"
    val schema = runOnce(spark, s"graft.$markerName.done.$tag") {
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val agg = build()
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val q = agg.writeStream
          .format("parquet")
          .option("path", sink)
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      agg.schema
    }
    spark.read.schema(schema).parquet(sink)
  }

  /** Run-once marker of the `*_exec` keys: `run` executes on the first
    * call per session and returns the schema of the files it wrote; the
    * marker (a session conf) keeps that schema, so every call reads the
    * files back with it and launches no schema-inference job.
    */
  private def runOnce(spark: SparkSession, marker: String)(run: => StructType): StructType =
    spark.conf.getOption(marker) match {
      case Some(json) => DataType.fromJson(json).asInstanceOf[StructType]
      case None =>
        val schema = run
        spark.conf.set(marker, schema.json)
        schema
    }

  /** q_stream_join_exec: a REAL stream-stream join execution under the
    * hash gate — the symmetric-hash-join state engine itself, the third
    * streaming pillar after fixed-window (q_stream_exec) and session
    * state (q_stream_session_exec). Two file-source streams over the same
    * events table self-join on user_id with the ±30-minute event-time
    * range condition (watermarks 0s both sides bound the join state: a
    * row's state is evictable once the other side's watermark passes
    * ts + 30 min). INNER stream-stream joins emit each matched pair
    * exactly once as both sides arrive — no closure predicate needed, so
    * the emitted pair set equals the batch interval join and the declared
    * aggregate shares the EXISTING q_join_interval oracle verbatim. The
    * per-user pair count is computed in batch over the re-read sink
    * (grouping by a non-time key in append mode is unsupported by design
    * — counting emitted pairs is the honest streaming form).
    */
  def streamJoinExec(spark: SparkSession, dir: String): DataFrame = {
    val pairs = runStreamOnceRaw(spark, dir, "graft_stream_join", "streamJoinExec", () => {
      def side(idCol: String, tsCol: String, userCol: String) =
        eventsStream(spark, dir)
          .select(col("user_id").as(userCol), col("event_id").as(idCol),
                  col("ts").cast("timestamp").as(tsCol))
          .withWatermark(tsCol, "0 seconds")
      side("id_a", "ts_a", "user_id")
        .join(side("id_b", "ts_b", "user_b"),
          col("user_id") === col("user_b") &&
            col("id_a") < col("id_b") &&
            col("ts_b") >= col("ts_a") - expr("INTERVAL 30 MINUTES") &&
            col("ts_b") <= col("ts_a") + expr("INTERVAL 30 MINUTES"),
          "inner")
        .select(col("user_id"), col("id_a"), col("id_b"))
    })
    pairs.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))
  }

  /** q_stream_sliding_exec: the SLIDING-window pipeline as a true
    * Structured Streaming job under the gate — completes the window-state
    * coverage (fixed/tumbling, session, join, dedup, now overlapping
    * windows): each event updates TWO window states (1-hour windows
    * sliding every 30 min), so state multiplicity and per-window
    * eviction both execute for real. Same harness and append-mode
    * closure contract as q_stream_exec: the sink holds exactly the
    * windows whose END the final watermark passed (win_us + 1h ≤
    * max ts); the oracle applies the identical predicate to the
    * q_stream_sliding SQL.
    */
  def streamSlidingExec(spark: SparkSession, dir: String): DataFrame =
    runStreamOnce(spark, dir, "graft_stream_sliding", "streamSlidingExec",
      src => slidingOn(src), Seq(col("win_us"), col("event_type")))

  /** q_stream_dedup_exec: streaming DEDUPLICATION state under the hash
    * gate — the fourth real-exec pillar after fixed-window, session and
    * stream-stream join state: the same events file read as TWO streams
    * and unioned (every event_id arrives exactly twice), then
    * dropDuplicates("event_id") — the at-least-once-ingest repair every
    * production stream needs. The sink must hold each event exactly
    * once, so the per-type count equals the plain batch census; any
    * double-emit or lost row breaks the hash. EXACT dedup keeps
    * unbounded key state BY DESIGN (documented; the bounded variant,
    * dropDuplicatesWithinWatermark, is equivalence-tested in ScalaTest
    * where batch timing is controlled — under AvailableNow the second
    * copy may land after the watermark already passed its event time,
    * which is exactly the eviction the bounded form is ALLOWED to make).
    * RocksDB state via the shared harness: the 1000-executor deployment
    * shape where key state exceeds heap.
    */
  def streamDedupExec(spark: SparkSession, dir: String): DataFrame = {
    val rows = runStreamOnceRaw(spark, dir, "graft_stream_dedup", "streamDedupExec", () => {
      def side = eventsStream(spark, dir)
        .select(col("event_id"), col("event_type"))
      side.unionByName(side).dropDuplicates("event_id")
    })
    rows.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** q_stream_session_exec: the SESSION pipeline as a true Structured
    * Streaming job under the hash gate — the stateful sibling of
    * q_stream_exec: where the tumbling run exercises fixed-window state,
    * this one exercises the session-window state store (dynamic window
    * MERGE as events extend a session) plus watermark-driven eviction.
    * Same harness: file source → watermark(0s) → session_window agg →
    * append-mode parquet sink (AvailableNow) → sink re-read and declared.
    *
    * Append mode emits exactly the sessions CLOSED by the final
    * watermark: a session window ends at last_event + gap, so the oracle
    * is the q_stream_session lag/cumsum SQL restricted to
    * sess_end + gap <= max(ts). Runs once per (session, dir) via the
    * shared runStreamOnce harness (RocksDB state, wiped sink+checkpoint).
    */
  def streamSessionExec(spark: SparkSession, dir: String): DataFrame =
    runStreamOnce(spark, dir, "graft_stream_sess", "streamSessionExec",
      src => src
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), max(us(col("ts"))).as("sess_end_us"))
        .select(col("user_id"), us(col("w.start")).as("sess_start_us"),
                col("sess_end_us"), col("n_events")),
      Seq(col("user_id"), col("sess_start_us")))

  /** q_stream_asof_exec: ARBITRARY-STATEFUL streaming under the hash
    * gate — the sixth and last real-exec pillar (VERDICT r10 #1): where
    * the other five gate ENGINE-OWNED state (window/session/join/dedup),
    * this one executes USER-OWNED state — the `asofStream`
    * flatMapGroupsWithState enrichment (one GroupState[Long] per user
    * holding the last signup μs, EventTimeTimeout timers registered per
    * batch) on RocksDB through the shared harness, sink re-read and
    * declared. This is the custom-state path a production enrichment
    * job writes first; until now the oracle only ever saw its batch
    * twin.
    *
    * Oracle: the q_join_asof ASOF-JOIN SQL VERBATIM. Why no closure
    * predicate: flatMapGroupsWithState emits rows the moment its batch
    * processes them (no watermark-closure holdback like windowed aggs),
    * and the file source delivers the single events file as ONE
    * micro-batch under AvailableNow, where asofStream's in-batch
    * event-time sort gives exactly the batch as-of matching — so the
    * full sink equals the batch twin row-for-row. Cross-batch state
    * carry (click in batch N matching a signup stored in batch N−1) is
    * the same code path and is equivalence-proven in StreamingSpec where
    * batch boundaries are controlled; a multi-batch split of ONE
    * unsorted file would instead make results depend on which rows the
    * source happened to deliver first — not a determinism the gate
    * could hash.
    */
  def streamAsofExec(spark: SparkSession, dir: String): DataFrame =
    runStreamOnceRaw(spark, dir, "graft_stream_asof", "streamAsofExec", () =>
      asofStream(eventsStream(spark, dir)
        .withColumn("ts", col("ts").cast("timestamp"))))
      .orderBy(col("event_id"))

  /** q_stream_cdc_exec: CONTINUOUS CDC APPLY under the hash gate — the
    * seventh real-exec pillar, and the one that moves `applyCdcStream`
    * (foreachBatch upsert → atomic table swap) from API-only into the
    * oracle's sight: a three-file change stream (initial load, price
    * corrections, repricing — built deterministically from orders) is
    * consumed with maxFilesPerTrigger=1, so the foreachBatch callback
    * runs three real micro-batch MERGE-and-swap cycles against the
    * growing table; the FINAL table state is declared and hash-compared.
    *
    * Determinism has two belts: file mtimes are pinned (the file source
    * orders batches by modification time, and the cross-batch upsert
    * chain is order-sensitive for overlapping keys), AND the seq column
    * increases across files, so even if the source coalesced files into
    * one batch, within-batch last-writer-wins by seq desc picks the
    * identical winner. Oracle: argmax-by-seq over the same three change
    * sets in SQL. Scale: each micro-batch merge is the Merge.upsert
    * dataflow (hash join on the key, never a full re-sort); the
    * atomic-swap sink is the directory form — applyCdcStreamCatalog is
    * the transactional-table form of the same loop.
    */
  def streamCdcExec(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.cents
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val base = sys.props("java.io.tmpdir") + s"/graft_stream_cdc_$tag"
    val table = s"$base/table"
    val schema = runOnce(spark, s"graft.streamCdcExec.done.$tag") {
      val bp = new org.apache.hadoop.fs.Path(base)
      val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(bp)) fs.delete(bp, true)
      val o = Sources.orders(spark, dir).select(
        col("o_orderkey").as("k"), col("o_orderpriority").as("pri"),
        cents(col("o_totalprice")).as("cents"))
      val changes = Seq(
        1L -> o.filter(col("k") % 3 === 0),
        2L -> o.filter(col("k") % 2 === 0).withColumn("cents", col("cents") + 100L),
        3L -> o.filter(col("k") % 5 === 0).withColumn("cents", col("cents") * 2L)
      ).map { case (s, df) => s -> df.withColumn("seq", lit(s)) }
      val stageDir = new org.apache.hadoop.fs.Path(s"$base/stage")
      fs.mkdirs(stageDir)
      changes.foreach { case (s, df) =>
        val tmp = s"$base/tmp$s"
        df.coalesce(1).write.parquet(tmp)
        val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*")).head.getPath
        val dst = new org.apache.hadoop.fs.Path(stageDir, f"c$s%02d.parquet")
        fs.rename(part, dst)
        fs.setTimes(dst, s * 60000L, -1)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      }
      val stage = spark.readStream.schema(changes.head._2.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stageDir.toString)
      val q = applyCdcStream(stage, table, Seq("k"), "seq", s"$base/ckpt")
      try {
        q.processAllAvailable()
      } finally q.stop()
      changes.head._2.schema
    }
    spark.read.schema(schema).parquet(table)
      .select(col("k"), col("pri"), col("cents"), col("seq"))
      .orderBy(col("k"))
  }

  /** q_stream_update_exec: UPDATE-MODE streaming under the hash gate —
    * the eighth real-exec pillar and the last output mode the oracle
    * never saw (the other execs are append or foreachBatch): the live
    * dashboard shape, where every micro-batch RE-EMITS the current
    * running value of each window it touched instead of holding rows
    * until watermark closure. Update mode cannot target a file sink
    * (parquet sinks are append-only by design), so the honest update
    * consumer is a keyed upsert — each batch's re-emissions overwrite
    * that key's previous value, exactly how a dashboard store consumes
    * an update stream. Three real micro-batches execute: the events
    * table is staged as three files split at exact event-time tercile
    * cuts (percentile_disc picks), consumed with maxFilesPerTrigger=1.
    *
    * Determinism has the q_stream_cdc_exec two belts: (1) file mtimes
    * are pinned so batches arrive in EVENT-TIME order — batch N+1's
    * rows are all >= batch N's max ts, so the 0s watermark can never
    * drop a row (a window that received a later-file row always has
    * end > that batch's watermark) and counts per key only accumulate,
    * making the LAST re-emission per key the final total regardless of
    * which batches touched it; (2) even if the source coalesced all
    * files into one batch, update mode emits each key exactly once with
    * the same final total. The final upserted table therefore equals
    * the full batch tumbling aggregate — the oracle is the
    * q_stream_tumbling SQL VERBATIM, with NO closure predicate: update
    * mode emits windows the watermark hasn't closed, the very thing
    * that distinguishes it from q_stream_exec's append run (whose sink
    * is missing the open window by contract).
    *
    * Scale: state = open (window × event_type) keys on RocksDB; the
    * upsert consumer is the Merge.upsert dataflow per batch (hash join
    * on the key), the directory-swap stand-in for the KV store a real
    * dashboard writes.
    */
  def streamUpdateExec(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val base = sys.props("java.io.tmpdir") + s"/graft_stream_update_$tag"
    val table = s"$base/table"
    val schema = runOnce(spark, s"graft.streamUpdateExec.done.$tag") {
      val bp = new org.apache.hadoop.fs.Path(base)
      val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(bp)) fs.delete(bp, true)
      val ev = Sources.events(spark, dir)
        .select(col("ts").cast("timestamp").as("ts"),
                col("event_type"), col("value"))
      val src = stageTimeOrderedTerciles(spark, ev, base, fs)
        .withWatermark("ts", "0 seconds")
      val agg = tumblingOn(src)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val q = agg.writeStream
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("update")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            if (!batch.isEmpty) {
              val spark0 = batch.sparkSession
              val p = new org.apache.hadoop.fs.Path(table)
              val tfs = p.getFileSystem(spark0.sparkContext.hadoopConfiguration)
              val target =
                if (tfs.exists(p)) spark0.read.schema(batch.schema).parquet(table) else batch.limit(0)
              graft.io.Sinks.atomicOverwrite(
                Merge.upsert(target, batch, Seq("win_us", "event_type")), table)
            }
            ()
          }
          .start()
        q.processAllAvailable()
        q.stop()
      } finally prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      agg.schema
    }
    spark.read.schema(schema).parquet(table)
      .select(col("win_us"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("win_us"), col("event_type"))
  }

  /** Stage `ev` (must carry a `ts` timestamp column) as three files cut
    * at exact event-time terciles (percentile_disc picks; equal-ts rows
    * stay in one file, so file k+1's min ts >= file k's max ts — the
    * no-late-drops belt) with PINNED mtimes (the file source orders
    * batches by modification time — the batch-order belt), and return
    * the maxFilesPerTrigger=1 streaming reader over them: the shared
    * multi-micro-batch determinism rig of q_stream_update_exec and
    * q_stream_tws_exec (the q_stream_cdc_exec pattern, generalized).
    */
  private def stageTimeOrderedTerciles(spark: SparkSession, ev: DataFrame,
                                       base: String,
                                       fs: org.apache.hadoop.fs.FileSystem): DataFrame = {
    val evc = ev.localCheckpoint() // cut probe + three filtered writes share one scan
    val evUs = evc.withColumn("__us", unix_micros(col("ts")))
    // percentile_disc returns DOUBLE; the picked value is an actual
    // epoch-μs (< 2^53), so the round-trip cast is exact
    val cuts = evUs.agg(
      expr("CAST(percentile_disc(0.3333) WITHIN GROUP (ORDER BY __us) AS BIGINT)").as("q1"),
      expr("CAST(percentile_disc(0.6667) WITHIN GROUP (ORDER BY __us) AS BIGINT)").as("q2")).head()
    val (q1, q2) = (cuts.getLong(0), cuts.getLong(1))
    val parts = Seq(
      1 -> evUs.filter(col("__us") <= q1),
      2 -> evUs.filter(col("__us") > q1 && col("__us") <= q2),
      3 -> evUs.filter(col("__us") > q2)).map { case (s, d) => s -> d.drop("__us") }
    val stageDir = new org.apache.hadoop.fs.Path(s"$base/stage")
    fs.mkdirs(stageDir)
    parts.foreach { case (s, df) =>
      val tmp = s"$base/tmp$s"
      df.coalesce(1).write.parquet(tmp)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*")).head.getPath
      val dst = new org.apache.hadoop.fs.Path(stageDir, f"t$s%02d.parquet")
      fs.rename(part, dst)
      fs.setTimes(dst, s * 60000L, -1)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    spark.readStream.schema(parts.head._2.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stageDir.toString)
  }

  /** q_stream_tws_exec: the transformWithState API (arbitrary-stateful
    * v2 — StatefulProcessor + named state variables, Spark 4's successor
    * to flatMapGroupsWithState) under the hash gate — the NINTH real-exec
    * pillar: q_stream_asof_exec gates the classic GroupState path; this
    * gates the handle/ValueState path a new enrichment job should be
    * written against. Per-user running totals accumulate in ONE named
    * ValueState[(Long, Long)] across THREE real micro-batches (the
    * tercile rig above) on RocksDB; each batch RE-EMITS the user's
    * running (n, cents) — the append history of a live accumulator.
    *
    * Determinism: state is (count, CENTS) — pure integer arithmetic, so
    * per-user totals are iterator-order-independent within a batch and
    * batch-order-independent across them. The DECLARED result is the
    * FINAL total per user (argmax-n row of the sink via max(struct)) —
    * the same belt as q_stream_cdc_exec: correct even if the source
    * coalesced the files into one batch (then each user emits exactly
    * its final row). The oracle is the plain per-user batch aggregate;
    * StreamingSpec separately asserts >= 3 commits and that the sink
    * holds true RUNNING prefixes (cross-batch accumulation really
    * happened). Scale: O(users) ValueState on RocksDB, one row per
    * (user, touching batch) emitted.
    */
  def streamTwsExec(spark: SparkSession, dir: String): DataFrame = {
    import graft.Det.cents
    val sink = runStreamOnceRaw(spark, dir, "graft_stream_tws", "streamTwsExec", () => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = sys.props("java.io.tmpdir") + s"/graft_stream_tws_$tag"
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ev = Sources.events(spark, dir)
        .select(col("ts").cast("timestamp").as("ts"), col("user_id"),
                cents(col("value")).as("cents"))
      runningUserCentsTws(stageTimeOrderedTerciles(spark, ev, s"$base/rig", fs))
    })
    sink.groupBy(col("user_id"))
      .agg(max(struct(col("n"), col("cents"))).as("m"))
      .select(col("user_id"), col("m.n").as("n_events"),
              (col("m.cents").cast("double") / 100.0).as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** transformWithState per-user running (count, cents) — the exact-
    * integer gate twin of [[runningUserTotalsTws]] (whose double sum is
    * iterator-order-sensitive and therefore only equivalence-testable).
    */
  def runningUserCentsTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark0 = events.sparkSession
    import spark0.implicits._
    events
      .select(col("user_id"), col("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RunningCentsProcessor,
                          TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "n", "cents")
  }

  private class RunningCentsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)](
        "totals", org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
                                 timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, s) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { r => n += 1; s += r._2 }
      totals.update((n, s))
      Iterator((user, n, s))
    }
  }

  /** Streaming twin of `session` — native session_window (same gap
    * semantics as the batch sessionization above).
    */
  def sessionOn(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), us(col("w.start")).as("sess_start_us"), col("n_events"))

  /** q_join_asof: each click paired with the latest signup of the same
    * user at-or-before it (DuckDB ASOF JOIN `>=` semantics, inner).
    *
    * Implementation: union signups(kind 0) + clicks(kind 1), one running
    * window per user carries the last signup time forward — a single
    * shuffle on user_id, no per-row lookup, no range join blowup. Ties
    * (click_ts == signup_ts) match because kind orders signups first.
    */
  def asofClickSignup(spark: SparkSession, dir: String): DataFrame =
    asofOnEvents(Sources.events(spark, dir))

  /** The batch as-of core over ANY events frame (event_id, user_id, ts,
    * event_type) — factored out so the streaming twin (asofStream) can be
    * equivalence-tested against the batch semantics on identical rows.
    */
  def asofOnEvents(events: DataFrame): DataFrame = {
    val e = events.withColumn("us", us(col("ts")))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("us"), lit(0).as("kind"), lit(null).cast("long").as("event_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("us"), lit(1).as("kind"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    signups.unionByName(clicks)
      .withColumn("signup_us",
        last(when(col("kind") === 0, col("us")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("signup_us").isNotNull)
      .select(col("event_id"), col("user_id"), col("us").as("click_us"), col("signup_us"))
      .orderBy(col("event_id"))
  }

  /** q_join_asof_fwd: FORWARD as-of — each click paired with the EARLIEST
    * signup of the same user at-or-after it (DuckDB `ASOF JOIN … ON
    * c.ts <= s.ts`, inner): the "time-to-next-event" direction
    * (click → conversion, alert → resolution) the backward key cannot
    * express. Same single-shuffle union trick as q_join_asof, mirrored:
    * the per-user window scans time DESCENDING and carries the last
    * signup seen — which in a descending scan is exactly the smallest
    * signup_us ≥ the current click. Signups order before clicks at equal
    * timestamps (kind tiebreak under the desc scan too), so a click
    * matches a same-instant signup in both engines. One shuffle on
    * user_id, no range-join blowup; wait_us is the exact integer
    * time-to-conversion.
    */
  def asofForward(spark: SparkSession, dir: String): DataFrame = {
    val e = Sources.events(spark, dir).withColumn("us", us(col("ts")))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("us"), lit(0).as("kind"), lit(null).cast("long").as("event_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("us"), lit(1).as("kind"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us").desc, col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    signups.unionByName(clicks)
      .withColumn("signup_us",
        last(when(col("kind") === 0, col("us")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("signup_us").isNotNull)
      .select(col("event_id"), col("user_id"), col("us").as("click_us"),
              col("signup_us"), (col("signup_us") - col("us")).as("wait_us"))
      .orderBy(col("event_id"))
  }

  /** q_join_asof_near: NEAREST as-of — each click paired with the signup
    * whose timestamp is closest in EITHER direction (ties → the backward
    * match, the "already signed up" reading): the sensor-fusion /
    * record-alignment semantics neither directional key gives. Both
    * directional candidates come from ONE union frame under ONE
    * partitioning (user_id): the ascending window carries the last
    * signup ≤ t, the descending window the first signup ≥ t — two sorts,
    * ONE shuffle, no range-join blowup. The winner is picked by exact
    * integer |Δus| comparison (never floats), inner on "some signup
    * exists either side". delta_us is signed (negative = matched
    * backward). Oracle: two DuckDB ASOF LEFT JOINs + the same integer
    * CASE.
    */
  def asofNearest(spark: SparkSession, dir: String): DataFrame = {
    val e = Sources.events(spark, dir).withColumn("us", us(col("ts")))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("us"), lit(0).as("kind"), lit(null).cast("long").as("event_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("us"), lit(1).as("kind"), col("event_id"))
    val sig = when(col("kind") === 0, col("us"))
    val wB = Window.partitionBy(col("user_id")).orderBy(col("us"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col("user_id")).orderBy(col("us").desc, col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val near = when(col("b_us").isNull, col("f_us"))
      .when(col("f_us").isNull, col("b_us"))
      .when(col("us") - col("b_us") <= col("f_us") - col("us"), col("b_us"))
      .otherwise(col("f_us"))
    signups.unionByName(clicks)
      .withColumn("b_us", last(sig, ignoreNulls = true).over(wB))
      .withColumn("f_us", last(sig, ignoreNulls = true).over(wF))
      .filter(col("kind") === 1 && (col("b_us").isNotNull || col("f_us").isNotNull))
      .select(col("event_id"), col("user_id"), col("us").as("click_us"),
              near.as("signup_us"), (near - col("us")).as("delta_us"))
      .orderBy(col("event_id"))
  }

  /** q_join_asof_bucketed: the SAME as-of semantics run over the CATALOG'S
    * bucketed layout — events loaded once into a GraftCatalog table
    * `PARTITIONED BY (bucket(8, user_id))`, whose scan reports
    * KeyGroupedPartitioning over the bucket transform. The as-of window
    * (partitionBy user_id) is then satisfied by the STORAGE partitioning:
    * no hash Exchange before the window at all — the only shuffle in the
    * plan is the final presentation sort (PlanGateSpec asserts exactly
    * that). This ties the table format to the time-series query surface
    * the way q_bucket_join ties it to equi-joins: at 100 TB the per-user
    * shuffle of every as-of/sessionize/lag query is paid ONCE at write
    * time. The oracle twin is the plain ASOF JOIN over flat parquet — the
    * layout must be semantically invisible.
    *
    * Single-scan formulation (filter to signup+click, kind-tagged running
    * window) — union-of-two-scans would discard the scan's reported
    * partitioning even when both sides are the same bucketed table.
    */
  def asofBucketedCatalog(spark: SparkSession, dir: String): DataFrame = {
    val confKey = "graft.asof.bucketed.src"
    val T = "graft_ev.default.events_by_user"
    spark.conf.set("spark.sql.catalog.graft_ev", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    if (!spark.conf.getOption(confKey).contains(dir)) {
      spark.sql(s"DROP TABLE IF EXISTS $T")
      spark.sql(s"""CREATE TABLE $T (event_id BIGINT, user_id BIGINT, us BIGINT, kind INT)
                    PARTITIONED BY (bucket(8, user_id))""")
      val src = "graft_asof_bucketed_src"
      Sources.events(spark, dir)
        .filter(col("event_type").isin("signup", "click"))
        .select(col("event_id"), col("user_id"), us(col("ts")).as("us"),
                when(col("event_type") === "signup", 0).otherwise(1).as("kind"))
        .createOrReplaceTempView(src)
      spark.sql(s"INSERT INTO $T SELECT * FROM $src")
      spark.catalog.dropTempView(src)
      spark.conf.set(confKey, dir)
    }
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spark.table(T)
      .withColumn("signup_us",
        last(when(col("kind") === 0, col("us")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("signup_us").isNotNull)
      .select(col("event_id"), col("user_id"), col("us").as("click_us"), col("signup_us"))
      .orderBy(col("event_id"))
  }

  /** q_join_asof_tol: as-of join with a match tolerance — a click only
    * pairs with a prior signup at most 7 days old (time-series joins
    * almost always carry a staleness bound). Same single-shuffle plan as
    * q_join_asof; the tolerance is a post-filter on the carried timestamp,
    * applied identically in the oracle twin (ASOF JOIN + WHERE).
    */
  def asofTolerance(spark: SparkSession, dir: String): DataFrame =
    asofClickSignup(spark, dir)
      .filter(col("click_us") - col("signup_us") <= 7L * 24 * 3600 * 1000000)

  /** q_join_interval: event-time interval self-join — pairs of events by
    * the same user within 30 minutes of each other.
    *
    * The equi-key is (user_id, time_bucket), not user_id alone: joining on
    * the user only makes the join quadratic PER USER (one bot with 1M
    * events = 10¹² pairs in a single task). Bucketing time into
    * bound-width cells and exploding the left side to {b-1, b, b+1} keeps
    * the exact ±bound semantics (any qualifying pair's buckets differ by
    * at most 1) while bounding each join group to the events of one user
    * in one 30-minute cell — the 100 TB-safe shape. Each qualifying pair
    * matches exactly once (the one exploded bucket equal to the right
    * row's own bucket); the ±30-min predicate stays as the exact residual.
    * Time math is integer microseconds on both engines.
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val bound = 30L * 60 * 1000000
    val e = Sources.events(spark, dir).withColumn("us", us(col("ts")))
    val a = e.select(col("user_id"), col("event_id").as("id_a"), col("us").as("us_a"))
      .withColumn("__b0", expr(s"us_a DIV $bound"))
      .withColumn("bkt", explode(array(col("__b0") - 1, col("__b0"), col("__b0") + 1)))
      .drop("__b0")
    val b = e.select(col("user_id"), col("event_id").as("id_b"), col("us").as("us_b"))
      .withColumn("bkt", expr(s"us_b DIV $bound"))
    a.join(b, Seq("user_id", "bkt"))
      .filter(col("id_a") < col("id_b") &&
              abs(col("us_a") - col("us_b")) <= bound)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("user_id"))
  }

  /** Generic as-of join operator (the library API): for each left row,
    * attach the greatest right `timeCol` ≤ left's, per key. Both inputs
    * must share key + time column names.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, timeCol: String,
               payload: Seq[String]): DataFrame = {
    val l = left.withColumn("__kind", lit(1))
    val r = right.select(
      (col(key) +: col(timeCol) +: payload.map(col)): _*).withColumn("__kind", lit(0))
    val all = r.unionByName(l, allowMissingColumns = true)
    val w = Window.partitionBy(col(key)).orderBy(col(timeCol), col("__kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withAsof = payload.foldLeft(
      all.withColumn("__rt", last(when(col("__kind") === 0, col(timeCol)), ignoreNulls = true).over(w))
    ) { (df, p) =>
      df.withColumn(s"asof_$p", last(when(col("__kind") === 0, col(p)), ignoreNulls = true).over(w))
    }
    withAsof.filter(col("__kind") === 1)
      .drop("__kind" +: payload: _*)
      .withColumnRenamed("__rt", s"asof_$timeCol")
  }

  /** Custom streaming state (§2 H API-only row): per-user running
    * count + money total maintained in GroupState across micro-batches —
    * the flatMapGroupsWithState surface. Emits the updated running totals
    * for each user touched by the batch.
    *
    * State is bounded to the ACTIVE user set via EventTimeTimeout: each
    * update arms a timeout at (last event time + horizon); once the
    * watermark passes it, the dormant key's state is dropped — without
    * this, per-user state grows forever at 100 TB/day. A user returning
    * after the horizon restarts from zero (the documented expiry
    * semantics, asserted in StreamingSpec).
    */
  def runningUserTotals(events: DataFrame, horizonMs: Long = 3600000L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark0 = events.sparkSession
    import spark0.implicits._
    // ts passes through UNPROJECTED: the event-time-timeout checker
    // requires the watermarked attribute itself in the stateful
    // operator's child output (a derived epoch column loses the
    // watermark metadata)
    events
      .withWatermark("ts", s"$horizonMs milliseconds")
      .select(col("user_id"), col("value"), col("ts"))
      .as[(Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)], state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var (n, s) = state.getOption.getOrElse((0L, 0.0))
            var maxMs = Long.MinValue
            rows.foreach { r => n += 1; s += r._2; maxMs = math.max(maxMs, r._3.getTime) }
            state.update((n, s))
            state.setTimeoutTimestamp(maxMs + horizonMs)
            Iterator((user, n, s))
          }
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** The same running per-user totals on Spark 4's MODERN arbitrary-state
    * surface: transformWithState + StatefulProcessor with a typed
    * ValueState and NATIVE state TTL (TTLConfig) — the successor API to
    * flatMapGroupsWithState (runningUserTotals above is the classic
    * form; both stay because both are public surface). Differences that
    * matter at 100 TB/day: named state variables (schema'd, evolvable,
    * inspectable via the state data source), per-state-variable TTL
    * enforced by the store itself (no hand-written timeout dance), and
    * composable state types (value/list/map) under one processor.
    * Requires the RocksDB state store provider — which is also the right
    * provider at scale (state spills off-heap instead of living on the
    * executor heap).
    *
    * `ttl = None` runs in TimeMode.None (state lives until overwritten;
    * batch-deterministic — micro-batches fire only on data).
    * `ttl = Some(d)` opts into TimeMode.ProcessingTime + per-state TTL —
    * the production form, with the caveat that a processing-time query
    * schedules timer-evaluation micro-batches CONTINUOUSLY (state expiry
    * must be checked even with no input), so `processAllAvailable` never
    * quiesces; drive it with a real trigger and poll the sink.
    */
  def runningUserTotalsTws(events: DataFrame,
                           ttl: Option[java.time.Duration] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark0 = events.sparkSession
    import spark0.implicits._
    val timeMode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    events
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor(ttl),
                          timeMode, OutputMode.Append())
      .toDF("user_id", "n_events", "sum_value")
  }

  /** StatefulProcessor for runningUserTotalsTws: one named ValueState
    * holding (n, sum) per user, expired by the store's own TTL when
    * configured.
    */
  private class RunningTotalsProcessor(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)](
        "totals", org.apache.spark.sql.Encoders.product[(Long, Double)],
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))
    override def handleInputRows(user: Long, rows: Iterator[(Long, Double)],
                                 timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
      var (n, s) = if (totals.exists()) totals.get() else (0L, 0.0)
      rows.foreach { r => n += 1; s += r._2 }
      totals.update((n, s))
      Iterator((user, n, s))
    }
  }

  /** Streaming as-of enrichment via custom state: each arriving click is
    * joined to the latest signup SEEN SO FAR for its user — the CDC/
    * enrichment form of the as-of join, running incrementally instead of
    * re-sorting history. State per user is ONE timestamp (the last signup
    * μs); EventTimeTimeout expires users dormant past `horizonMs` (the
    * as-of staleness bound — default 7 days, matching asofTolerance), so
    * memory is O(users active within the horizon), not O(all users ever):
    * the required shape at 100 TB/day.
    *
    * Within a micro-batch, rows arrive time-ordered per user via the
    * sort below only BETWEEN signups/clicks of the same batch — the
    * iterator is processed in event-time order after an in-group sort.
    * Emits (event_id, user_id, click_us, signup_us) for clicks with a
    * known prior-or-equal signup, matching asofClickSignup semantics.
    */
  def asofStream(events: DataFrame, horizonMs: Long = 7L * 24 * 3600000): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark0 = events.sparkSession
    import spark0.implicits._
    // ts passes through unprojected — see runningUserTotals; event-time
    // micros are derived in the lambda (ms·1000 + sub-ms nanos)
    events
      .withWatermark("ts", s"$horizonMs milliseconds")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[(Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user: Long, rows: Iterator[(Long, Long, String, java.sql.Timestamp)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // dormant past the staleness horizon: the stored signup could
            // never satisfy a future click's bound anyway — drop it
            state.remove()
            Iterator.empty
          } else {
            def us(t: java.sql.Timestamp): Long = t.getTime * 1000 + (t.getNanos / 1000) % 1000
            var lastSignup = state.getOption.getOrElse(Long.MinValue)
            var maxUs = Long.MinValue
            val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
            // event-time order within the batch: signups before clicks at
            // the same timestamp (kind 0 < 1), matching the batch twin
            rows.map(r => (r._1, r._2, r._3, us(r._4)))
              .toSeq.sortBy(r => (r._4, if (r._3 == "signup") 0 else 1)).foreach {
              case (_, _, "signup", t) => lastSignup = math.max(lastSignup, t); maxUs = math.max(maxUs, t)
              case (_, eid, "click", t) =>
                maxUs = math.max(maxUs, t)
                if (lastSignup != Long.MinValue && t >= lastSignup)
                  out += ((eid, user, t, lastSignup))
              case (_, _, _, t) => maxUs = math.max(maxUs, t)
            }
            if (lastSignup != Long.MinValue) {
              state.update(lastSignup)
              state.setTimeoutTimestamp(maxUs / 1000 + horizonMs)
            }
            out.iterator
          }
      }
      .toDF("event_id", "user_id", "click_us", "signup_us")
  }

  /** TRUE STREAM-STREAM inner interval join: attribute each click to the
    * views the same user made in the preceding `windowMs` — two live
    * streams, not stream-vs-static. Both sides carry watermarks and the
    * join condition bounds event-time distance, which is exactly what
    * lets Spark PURGE state: a buffered view older than
    * (click watermark − window) can never match a future click, so state
    * is O(in-horizon rows per side), not O(stream). This is the shape
    * fact-to-fact streaming enrichment takes at 100 TB/day; without the
    * interval bound the state grows without limit and the job dies at
    * scale, so the bound is load-bearing, not decorative.
    *
    * Output: (user_id, click_id, view_id, click_us, view_us). Inner join
    * ⇒ append mode; results finalize as the watermarks pass.
    */
  def streamStreamClickView(views: DataFrame, clicks: DataFrame,
                            horizon: String = "10 minutes",
                            windowMs: Long = 3600000L): DataFrame = {
    val v = views
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
              col("ts").as("v_ts"))
      .withWatermark("v_ts", horizon)
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
              col("ts").as("c_ts"))
      .withWatermark("c_ts", horizon)
    v.join(c, expr(
        s"""v_user = c_user AND
           |c_ts >= v_ts AND
           |c_ts <= v_ts + interval $windowMs milliseconds""".stripMargin))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
              unix_micros(col("c_ts")).as("click_us"),
              unix_micros(col("v_ts")).as("view_us"))
  }

  /** Batch twin of [[streamStreamClickView]] on identical inputs — the
    * equality oracle for the StreamingSpec multi-batch run. Literally the
    * same plan: withWatermark is a no-op on batch frames.
    */
  def clickViewBatch(views: DataFrame, clicks: DataFrame,
                     windowMs: Long = 3600000L): DataFrame =
    streamStreamClickView(views, clicks, windowMs = windowMs)

  /** Streaming exact dedup (north-star: dedup a document STREAM): drop
    * rows whose content hash was already seen, with the dedup state
    * bounded by the watermark horizon — the streaming twin of
    * Text.exactDedup. At 100 TB/day this is the ingest-side gate that
    * keeps the batch dedup's input small.
    */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
                  horizon: String = "1 hour"): DataFrame =
    docs.withColumn("__h", md5(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicates("__h")
      .drop("__h")

  /** File-source streaming reader for the events table (the readStream
    * twin of Sources.events — same nanos→micros normalization).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // schema + ts normalization shared with Sources.events (one source of
    // truth — the batch/stream twins can't drift), including the per-path
    // ns/us unit sniff; nanos flag scoped to this reader, no
    // session-global conf mutation. File-stream sources take a directory;
    // the glob selects just the events file.
    val (schema, norm) = graft.io.Sources.eventsReadPlan(spark, s"$dir/events.parquet")
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .option("spark.sql.legacy.parquet.nanosAsLong", "true")
      .parquet(dir)
      .withColumn("ts", expr(norm))
  }

  /** Continuous CDC apply (the STREAMING route to postpy's upsert verb):
    * maintain a path-addressed parquet table as the running UPSERT of an
    * unbounded change stream. Each micro-batch (a) keeps only the LATEST
    * change per key within the batch (`seqCol` descending — the Delta-
    * style last-writer-wins convention), (b) merges it into the current
    * table with the same Merge.upsert dataflow the batch verb uses, and
    * (c) atomically replaces the table (stage + rename), so readers
    * always see a complete post-merge state. foreachBatch is the
    * canonical Spark shape for merge sinks; at scale the same callback
    * body targets a transactional table format instead of rename.
    */
  def applyCdcStream(stage: DataFrame, tablePath: String, pk: Seq[String],
                     seqCol: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stage.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark0 = batch.sparkSession
        val w = Window.partitionBy(pk.map(col): _*).orderBy(col(seqCol).desc)
        val latest = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val p = new org.apache.hadoop.fs.Path(tablePath)
        val fs = p.getFileSystem(spark0.sparkContext.hadoopConfiguration)
        val target =
          if (fs.exists(p)) spark0.read.schema(latest.schema).parquet(tablePath) else latest.limit(0)
        // materialization order is safe: the merge plan reads the CURRENT
        // table files while atomicOverwrite writes the staging dir; the
        // rename happens only after the staged write completes
        graft.io.Sinks.atomicOverwrite(Merge.upsert(target, latest, pk), tablePath)
        ()
      }
      .start()

  /** Continuous CDC apply into a TRANSACTIONAL GraftCatalog table — the
    * scale form of [[applyCdcStream]]: instead of rewriting a whole
    * parquet directory per micro-batch, each batch is ONE executable
    * MERGE INTO, which the catalog commits copy-on-write on exactly the
    * group files whose key ranges can match (runtime group filtering).
    * Every micro-batch therefore becomes a numbered snapshot: time
    * travel sees each batch boundary, and ChangeFeed.tableChanges
    * between two batch versions is precisely what that window of the
    * stream changed — a streaming pipeline whose every increment is
    * auditable. Last-writer-wins within a batch via `seqCol` descending,
    * as in the directory variant.
    */
  def applyCdcStreamCatalog(stage: DataFrame, table: String, pk: Seq[String],
                            seqCol: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stage.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // an EMPTY batch (recovery batch 0, idle-source ticks) must not
        // commit: a burst of no-op snapshots would push real batch
        // boundaries out of RETAIN-bounded retention and break the
        // ChangeFeed audit contract
        if (!batch.isEmpty) applyCdcBatch(batch, batchId, table, pk, seqCol)
        ()
      }
      .start()

  /** One CDC micro-batch applied as ONE MERGE INTO commit — the batch
    * body of [[applyCdcStreamCatalog]], shared with the streaming
    * materialized view (catalog/IncrementalView.streamingMaterialize).
    */
  private[graft] def applyCdcBatch(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                                   batchId: Long, table: String,
                                   pk: Seq[String], seqCol: String): Unit = {
    val spark0 = batch.sparkSession
    val w = Window.partitionBy(pk.map(col): _*).orderBy(col(seqCol).desc)
    val latest = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // UUID, not batchId: two concurrent streaming queries in one session
    // can reach the same batchId simultaneously, and a shared name would
    // let one stream's MERGE read the other's rows
    val view = s"__cdc_catalog_src_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    latest.createOrReplaceTempView(view)
    try {
      // backtick-quote every identifier — pk/table names are caller
      // data, not trusted SQL fragments
      def q(id: String) = s"`${id.replace("`", "``")}`"
      val qualified = table.split('.').map(q).mkString(".")
      val on = pk.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
      spark0.sql(s"""MERGE INTO $qualified t USING ${q(view)} s ON $on
                    |WHEN MATCHED THEN UPDATE SET *
                    |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    } finally spark0.catalog.dropTempView(view)
  }

  /** Stream-stream time-interval join (the streaming twin of
    * intervalJoin): same-user event pairs within 30 minutes. BOTH sides
    * carry watermarks and the join condition bounds event time in both
    * directions, so Spark can expire join state — the required shape for
    * an unbounded stream-stream join (state would otherwise grow forever).
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.select(col("user_id").as("l_user"), col("event_id").as("id_a"),
                        col("ts").as("ts_a"))
      .withWatermark("ts_a", "1 hour")
    val r = right.select(col("user_id").as("r_user"), col("event_id").as("id_b"),
                         col("ts").as("ts_b"))
      .withWatermark("ts_b", "1 hour")
    l.join(r,
      col("l_user") === col("r_user") && col("id_a") < col("id_b") &&
      col("ts_b") >= col("ts_a") - expr("INTERVAL 30 MINUTES") &&
      col("ts_b") <= col("ts_a") + expr("INTERVAL 30 MINUTES"))
      .select(col("l_user").as("user_id"), col("id_a"), col("id_b"))
  }

  /** Stream-stream LEFT OUTER interval join: like intervalJoinStream but
    * unmatched left rows are EMITTED (null right side) once the watermark
    * proves no match can still arrive. Both watermarks + the time-bound
    * condition are mandatory — they are what lets Spark bound the state
    * and declare a left row definitively unmatched; without them the
    * planner rejects the outer join as unbounded.
    */
  def intervalJoinStreamLeftOuter(left: DataFrame, right: DataFrame): DataFrame = {
    val l = left.select(col("user_id").as("l_user"), col("event_id").as("id_a"),
                        col("ts").as("ts_a"))
      .withWatermark("ts_a", "1 hour")
    val r = right.select(col("user_id").as("r_user"), col("event_id").as("id_b"),
                         col("ts").as("ts_b"))
      .withWatermark("ts_b", "1 hour")
    l.join(r,
      col("l_user") === col("r_user") &&
      col("ts_b") >= col("ts_a") &&
      col("ts_b") <= col("ts_a") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("l_user").as("user_id"), col("id_a"), col("id_b"))
  }

  /** Streaming dedup keyed on content hash with the WITHIN-WATERMARK
    * guarantee (Spark 3.5+ dropDuplicatesWithinWatermark): duplicates
    * whose event times land within the watermark delay of the first
    * occurrence are dropped, and — unlike plain dropDuplicates — the state
    * for a key is GUARANTEED evictable once the watermark passes it, so
    * state stays O(in-horizon distinct content) even when the same content
    * recurs forever. The right shape for endless crawl/ingest feeds.
    */
  def dedupStreamWithinWatermark(docs: DataFrame, tsCol: String, textCol: String,
                                 horizon: String = "1 hour"): DataFrame =
    docs.withColumn("__h", md5(col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")
}
