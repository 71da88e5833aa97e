package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Streaming

/** Streaming twins (SURVEY §5.2.4): each §2 H key re-run as a real
  * Structured-Streaming query, asserting stream result == batch result on
  * the same rows; plus watermark late-data semantics.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var qn = 0
  private def runToTable(df: DataFrame, mode: String): DataFrame = {
    qn += 1
    val name = s"stream_result_$qn"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  test("tumbling: streaming (complete mode) equals batch") {
    val streamRes = runToTable(
      Streaming.tumblingOn(Streaming.eventsStream(spark, sfDir)), "complete")
    val batchRes = Streaming.tumbling(spark, sfDir)
    assert(streamRes.count() > 0)
    assert(streamRes.exceptAll(batchRes).isEmpty && batchRes.exceptAll(streamRes).isEmpty)
  }

  test("sliding: streaming (complete mode) equals batch") {
    val streamRes = runToTable(
      Streaming.slidingOn(Streaming.eventsStream(spark, sfDir)), "complete")
    val batchRes = Streaming.sliding(spark, sfDir)
    assert(streamRes.exceptAll(batchRes).isEmpty && batchRes.exceptAll(streamRes).isEmpty)
  }

  /** Run a MemoryStream query feeding batches one at a time, so the
    * watermark advances between them (one addData per micro-batch).
    */
  private def runBatches(events: MemoryStream[Ev], df: DataFrame,
                         batches: Seq[Seq[Ev]]): DataFrame = {
    qn += 1
    val name = s"stream_result_$qn"
    val q = df.writeStream.format("memory").queryName(name).outputMode("append").start()
    batches.foreach { b => events.addData(b: _*); q.processAllAvailable() }
    q.stop()
    spark.table(name)
  }

  test("append emission boundary: a window ending EXACTLY at the watermark IS emitted (<=)") {
    // pins the eviction predicate the q_stream_exec / q_stream_session_exec
    // oracles assume: Spark emits when window.end <= watermark, so the
    // closure filter is `win_end <= max(ts)` (NOT strict <). If a Spark
    // upgrade ever flips this to strict inequality, this test fails before
    // the oracle gate can silently hash-mismatch on an exactly-hour-aligned
    // max event time.
    val events = MemoryStream[Ev]
    val hour = 3600000L
    val base = 1700000000000L / hour * hour
    val streamed = runBatches(events,
      Streaming.tumblingOn(events.toDF.withWatermark("ts", "0 seconds")),
      Seq(
        Seq(Ev(1, new Timestamp(base + 10), 1, "view", 1.0)),
        // max ts lands EXACTLY on the next hour boundary → watermark ==
        // the end of window [base, base+1h)
        Seq(Ev(2, new Timestamp(base + hour), 1, "view", 1.0)),
        // same-max batch triggers eviction at that watermark
        Seq(Ev(3, new Timestamp(base + hour), 2, "view", 1.0))))
    assert(streamed.filter(col("win_us") === base * 1000).count() === 1,
      "window ending exactly at the watermark must be emitted (predicate is <=)")
  }

  test("watermark: late event beyond the horizon is dropped") {
    val events = MemoryStream[Ev]
    val base = 1700000000000L
    val res = runBatches(events,
      Streaming.tumblingOn(events.toDF.withWatermark("ts", "1 hour")),
      Seq(
        Seq(Ev(1, new Timestamp(base), 1, "view", 1.0)),
        // advance watermark far past the first window (delay 1h)
        Seq(Ev(2, new Timestamp(base + 10L * 3600000), 1, "view", 1.0)),
        // late arrival: inside the first (already closed) window
        Seq(Ev(3, new Timestamp(base + 60000), 1, "view", 2.0)),
        // flush once more so any (incorrect) re-emission would surface
        Seq(Ev(4, new Timestamp(base + 11L * 3600000), 1, "view", 1.0)),
      ))
    val firstWin = res.filter(col("win_us") === (base / 3600000 * 3600000) * 1000)
    assert(firstWin.count() === 1)
    // the late row (n would be 2) must NOT be reflected
    assert(firstWin.head.getLong(2) === 1L)
  }

  test("tumbling: out-of-order rows aggregate; row AT the watermark kept; window ENDING at it closed") {
    val events = MemoryStream[Ev]
    val hour = 3600000L
    // hour-ALIGNED base: tumbling windows start at epoch-hour multiples, so
    // alignment makes "window ending exactly at the watermark" exact
    val base = 1700000000000L / hour * hour
    val streamed = runBatches(events,
      Streaming.tumblingOn(events.toDF.withWatermark("ts", "1 hour")),
      Seq(
        // batch 1 advances the watermark to base+1h (max ts − 1h delay)
        Seq(Ev(1, new Timestamp(base + 2 * hour), 1, "view", 1.0)),
        Seq(
          // out-of-order but inside the horizon: must aggregate
          Ev(2, new Timestamp(base + hour + 30 * 60000), 1, "view", 2.0),
          // EXACTLY at the watermark: its window [1h,2h) is still open → kept
          Ev(3, new Timestamp(base + hour), 1, "view", 4.0),
          // in the window ENDING exactly at the watermark [0,1h) → dropped
          Ev(4, new Timestamp(base + 30 * 60000), 1, "view", 8.0)),
        // sentinel closes every real window so append mode emits them
        Seq(Ev(9, new Timestamp(base + 100 * hour), 9, "sent", 0.0))))
      .filter(col("event_type") =!= "sent")
    // stream == batch over exactly the rows the watermark admitted
    val kept = Seq(
      Ev(1, new Timestamp(base + 2 * hour), 1, "view", 1.0),
      Ev(2, new Timestamp(base + hour + 30 * 60000), 1, "view", 2.0),
      Ev(3, new Timestamp(base + hour), 1, "view", 4.0))
    val batch = Streaming.tumblingOn(kept.toDF())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // and the boundary facts, pinned explicitly:
    assert(streamed.filter(col("win_us") === base * 1000).count() === 0,
      "window ending exactly at the watermark must be closed to late data")
    val w1 = streamed.filter(col("win_us") === (base + hour) * 1000)
    assert(w1.head.getLong(2) === 2L,
      "the exactly-at-watermark row must be aggregated into its open window")
  }

  test("sliding: streaming with out-of-order late-but-in-horizon rows equals batch") {
    val events = MemoryStream[Ev]
    val base = 1700000000000L
    val hour = 3600000L
    val rows = Seq(
      Ev(1, new Timestamp(base + 2 * hour), 1, "view", 1.0),
      // arrives after the max-ts row, still inside the 1h horizon
      Ev(2, new Timestamp(base + hour + 45 * 60000), 2, "click", 1.0),
      Ev(3, new Timestamp(base + hour + 15 * 60000), 1, "view", 1.0))
    val streamed = runBatches(events,
      Streaming.slidingOn(events.toDF.withWatermark("ts", "1 hour")),
      rows.map(Seq(_)) :+ Seq(Ev(9, new Timestamp(base + 100 * hour), 9, "sent", 0.0)))
      .filter(col("event_type") =!= "sent")
    val batch = Streaming.slidingOn(rows.toDF())
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("transformWithState: per-user totals accumulate; ValueState + TTL under RocksDB") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = MemoryStream[Ev]
      val base = 1700000000000L
      qn += 1
      val name = s"stream_result_$qn"
      val q = graft.ops.Streaming.runningUserTotalsTws(events.toDF)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      events.addData(Ev(1, new Timestamp(base), 1, "view", 10.0),
                     Ev(2, new Timestamp(base + 1000), 1, "view", 5.0))
      q.processAllAvailable()
      events.addData(Ev(3, new Timestamp(base + 2000), 1, "view", 2.5),
                     Ev(4, new Timestamp(base + 2000), 2, "view", 4.0))
      q.processAllAvailable()
      q.stop()
      val out = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // identical cross-batch accumulation semantics as the classic
      // flatMapGroupsWithState form below
      assert(out === Set((1L, 2L, 15.0), (1L, 3L, 17.5), (2L, 1L, 4.0)))

      // TTL form: ProcessingTime mode triggers timer-evaluation batches
      // continuously, so poll the sink instead of processAllAvailable
      val events2 = MemoryStream[Ev]
      qn += 1
      val name2 = s"stream_result_$qn"
      val q2 = graft.ops.Streaming
        .runningUserTotalsTws(events2.toDF, Some(java.time.Duration.ofHours(1)))
        .writeStream.format("memory").queryName(name2).outputMode("append").start()
      events2.addData(Ev(1, new Timestamp(base), 7, "view", 3.0))
      val deadline = System.currentTimeMillis() + 30000
      var got = Array.empty[(Long, Long, Double)]
      while (got.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        got = spark.table(name2).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
      q2.stop()
      assert(got.toSet === Set((7L, 1L, 3.0)), "TTL-configured processor emits batch-1 totals")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("state data source: a stopped query's named ValueState is queryable offline") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = MemoryStream[Ev]
      val base = 1700000000000L
      qn += 1
      val name = s"stream_result_$qn"
      val ckpt = java.nio.file.Files.createTempDirectory("graft_tws_ckpt").toString
      val q = graft.ops.Streaming.runningUserTotalsTws(events.toDF)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ckpt).start()
      events.addData(Ev(1, new Timestamp(base), 1, "view", 10.0),
                     Ev(2, new Timestamp(base + 1000), 2, "view", 5.0))
      q.processAllAvailable()
      events.addData(Ev(3, new Timestamp(base + 2000), 1, "view", 2.5))
      q.processAllAvailable()
      q.stop()
      // the operational story at 100 TB/day: debug a stateful job by
      // QUERYING its state store from the checkpoint, no code changes
      val state = spark.read.format("statestore")
        .option("stateVarName", "totals")
        .load(ckpt)
      val got = state.selectExpr("key.value AS user", "value.*").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got === Map(1L -> ((2L, 12.5)), 2L -> ((1L, 5.0))),
        s"state snapshot after batch 2, got $got")
      // operator metadata is queryable the same way
      val meta = spark.read.format("state-metadata").load(ckpt)
      assert(meta.selectExpr("operatorName").collect()
        .map(_.getString(0)).contains("transformWithStateExec"))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("flatMapGroupsWithState: per-user totals accumulate across micro-batches") {
    val events = MemoryStream[Ev]
    val base = 1700000000000L
    qn += 1
    val name = s"stream_result_$qn"
    val q = graft.ops.Streaming.runningUserTotals(events.toDF)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    events.addData(Ev(1, new Timestamp(base), 1, "view", 10.0),
                   Ev(2, new Timestamp(base + 1000), 1, "view", 5.0))
    q.processAllAvailable()
    events.addData(Ev(3, new Timestamp(base + 2000), 1, "view", 2.5))
    q.processAllAvailable()
    q.stop()
    val out = spark.table(name).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSet
    // batch 1 emits (2, 15.0); batch 2 emits the ACCUMULATED (3, 17.5)
    assert(out === Set((2L, 15.0), (3L, 17.5)))
  }

  test("EventTimeTimeout: dormant user's running-total state is dropped past the horizon") {
    val events = MemoryStream[Ev]
    val base = 1700000000000L
    qn += 1
    val name = s"stream_result_$qn"
    val q = Streaming.runningUserTotals(events.toDF, horizonMs = 3600000L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    // b1: user 1 accumulates 10.0
    events.addData(Ev(1, new Timestamp(base), 1, "view", 10.0)); q.processAllAvailable()
    // b2: sentinel event far in the future — after this batch the
    // watermark advances past user 1's (last event + 1h) timeout
    events.addData(Ev(2, new Timestamp(base + 10 * 3600000L), 999, "view", 1.0)); q.processAllAvailable()
    // b3: the timeout actually fires here (timeouts are evaluated against
    // the watermark computed from the PREVIOUS batch)
    events.addData(Ev(3, new Timestamp(base + 11 * 3600000L), 999, "view", 1.0)); q.processAllAvailable()
    // b4: user 1 returns — totals must RESTART from zero, proving the
    // dormant state was dropped, not kept forever
    events.addData(Ev(4, new Timestamp(base + 12 * 3600000L), 1, "view", 7.0)); q.processAllAvailable()
    q.stop()
    val user1 = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).filter(_._1 == 1L).toSet
    assert(user1 === Set((1L, 1L, 10.0), (1L, 1L, 7.0)),
      "expected a restarted (n=1) total after expiry, not an accumulated one")
  }

  test("EventTimeTimeout: running totals still accumulate within the horizon (equal to batch)") {
    val events = MemoryStream[Ev]
    val base = 1700000000000L
    qn += 1
    val name = s"stream_result_$qn"
    val q = Streaming.runningUserTotals(events.toDF, horizonMs = 3600000L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    events.addData(Ev(1, new Timestamp(base), 1, "view", 10.0),
                   Ev(2, new Timestamp(base + 1000), 1, "view", 5.0))
    q.processAllAvailable()
    events.addData(Ev(3, new Timestamp(base + 2000), 1, "view", 2.5))
    q.processAllAvailable()
    q.stop()
    val out = spark.table(name).collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    // same accumulation as the batch twin: (2, 15.0) then (3, 17.5)
    assert(out === Set((2L, 15.0), (3L, 17.5)))
  }

  test("asofStream EventTimeTimeout: a dormant user's signup state expires") {
    val events = MemoryStream[Ev]
    def ts(h: Int) = new Timestamp(1700000000000L + h * 3600000L)
    qn += 1
    val name = s"stream_result_$qn"
    val q = Streaming.asofStream(events.toDF, horizonMs = 3600000L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    events.addData(Ev(1, ts(0), 1, "signup", 0)); q.processAllAvailable()
    events.addData(Ev(2, ts(10), 999, "view", 0)); q.processAllAvailable()  // watermark advances
    events.addData(Ev(3, ts(11), 999, "view", 0)); q.processAllAvailable()  // timeout fires
    events.addData(Ev(4, ts(12), 1, "click", 0)); q.processAllAvailable()   // signup forgotten
    q.stop()
    assert(spark.table(name).filter(col("user_id") === 1).count() === 0,
      "click after the expired signup must not match")
  }

  test("asofStream: late within-horizon signup is picked up; output equals batch twin on the same rows") {
    val events = MemoryStream[Ev]
    val base = 1700000000000L
    def t(s: Int) = new Timestamp(base + s * 1000L)
    qn += 1
    val name = s"stream_result_$qn"
    val q = Streaming.asofStream(events.toDF, horizonMs = 3600000L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    // batch 1: u1 signup@1000 and click@2000 (pairs with 1000); an
    // unrelated u2 view@5000 pushes the max seen event time forward so the
    // next signup is genuinely LATE (behind max event time) yet inside the
    // 1-hour watermark horizon
    events.addData(Ev(1, t(1000), 1, "signup", 0),
                   Ev(2, t(2000), 1, "click", 0),
                   Ev(3, t(5000), 2, "view", 0))
    q.processAllAvailable()
    // batch 2: the late signup@2500 — state must advance to it
    events.addData(Ev(4, t(2500), 1, "signup", 0))
    q.processAllAvailable()
    // batch 3: click@3000 must pair with the LATE 2500 signup, not 1000
    events.addData(Ev(5, t(3000), 1, "click", 0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the batch twin over the SAME five rows (asofOnEvents = the core of
    // asofClickSignup) must produce the identical pairing
    import spark.implicits._
    val staticEvents = Seq(
      Ev(1, t(1000), 1, "signup", 0), Ev(2, t(2000), 1, "click", 0),
      Ev(3, t(5000), 2, "view", 0), Ev(4, t(2500), 1, "signup", 0),
      Ev(5, t(3000), 1, "click", 0)).toDF
    val batch = Streaming.asofOnEvents(staticEvents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === batch, s"stream=$streamed batch=$batch")
    assert(streamed.map(x => (x._1, x._4)) ===
      Set((2L, t(1000).getTime * 1000), (5L, t(2500).getTime * 1000)))
  }

  test("applyCdcStream maintains the upsert post-state across micro-batches") {
    val events = MemoryStream[Ev]
    val base = 1700000000000L
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val table = s"$dir/t"
    val q = Streaming.applyCdcStream(
      events.toDF.select(col("user_id"), col("value"), col("ts")),
      table, Seq("user_id"), "ts", s"$dir/ckpt")
    // batch 1: two keys, plus an in-batch duplicate for user 1 — the
    // LATER change (value 11) must win within the batch
    events.addData(
      Ev(1, new Timestamp(base), 1, "u", 10.0),
      Ev(2, new Timestamp(base + 1000), 1, "u", 11.0),
      Ev(3, new Timestamp(base + 500), 2, "u", 20.0))
    q.processAllAvailable()
    val after1 = spark.read.parquet(table).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after1 === Map(1L -> 11.0, 2L -> 20.0))
    // batch 2: update user 2, insert user 3 — user 1 must carry over
    events.addData(Ev(4, new Timestamp(base + 2000), 2, "u", 21.0),
                   Ev(5, new Timestamp(base + 2500), 3, "u", 30.0))
    q.processAllAvailable()
    q.stop()
    val after2 = spark.read.parquet(table).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after2 === Map(1L -> 11.0, 2L -> 21.0, 3L -> 30.0))
  }

  test("applyCdcStreamCatalog: each micro-batch is a snapshot; the change feed audits it") {
    val events = MemoryStream[Ev]
    val base = 1700000000000L
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_cdc")
    spark.sql("CREATE TABLE graft_fb.default.fb_cdc (user_id BIGINT, value DOUBLE, us BIGINT)")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_cat").toString
    val q = Streaming.applyCdcStreamCatalog(
      events.toDF.select(col("user_id"), col("value"),
                         unix_micros(col("ts")).as("us")),
      "graft_fb.default.fb_cdc", Seq("user_id"), "us", s"$ckpt/ckpt")
    try {
      // batch 1: two keys + an in-batch duplicate (later us wins for user 1)
      events.addData(
        Ev(1, new Timestamp(base), 1, "u", 10.0),
        Ev(2, new Timestamp(base + 1000), 1, "u", 11.0),
        Ev(3, new Timestamp(base + 500), 2, "u", 20.0))
      q.processAllAvailable()
      val cat = spark.sessionState.catalogManager.catalog("graft_fb")
        .asInstanceOf[graft.catalog.GraftCatalog]
      val dir = java.nio.file.Paths.get(cat.loadTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array("default"), "fb_cdc"))
        .asInstanceOf[graft.catalog.GraftTable].location)
      val v1 = graft.catalog.GroupFiles.version(dir)
      def state() = spark.table("graft_fb.default.fb_cdc").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(state() === Map(1L -> 11.0, 2L -> 20.0))
      // batch 2: update user 2, insert user 3
      events.addData(Ev(4, new Timestamp(base + 2000), 2, "u", 21.0),
                     Ev(5, new Timestamp(base + 2500), 3, "u", 30.0))
      q.processAllAvailable()
      val v2 = graft.catalog.GroupFiles.version(dir)
      assert(v2 > v1, "the second micro-batch must commit its own snapshot")
      assert(state() === Map(1L -> 11.0, 2L -> 21.0, 3L -> 30.0))
      // time travel still sees the batch-1 state
      val old = spark.sql(s"SELECT * FROM graft_fb.default.fb_cdc VERSION AS OF $v1")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(old === Map(1L -> 11.0, 2L -> 20.0))
      // and the change feed over the batch-2 window is exactly its merge
      val feed = graft.catalog.ChangeFeed
        .tableChanges(spark, "graft_fb.default.fb_cdc", v1, v2)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(3))).toSet
      assert(feed === Set((2L, 20.0, "delete"), (2L, 21.0, "insert"), (3L, 30.0, "insert")))
    } finally {
      q.stop()
      spark.sql("DROP TABLE graft_fb.default.fb_cdc")
    }
  }

  test("streaming read of a catalog table: each commit becomes a micro-batch") {
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_streamsrc")
    spark.sql("CREATE TABLE graft_fb.default.fb_streamsrc (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_fb.default.fb_streamsrc VALUES (1, 'a'), (2, 'b')")
    qn += 1
    val name = s"stream_result_$qn"
    val q = spark.readStream.table("graft_fb.default.fb_streamsrc")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable()
      def got() = spark.table(name).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
      // batch 1 = everything committed before the stream started
      assert(got() === Set(1L -> "a", 2L -> "b"))
      // a new commit while the stream runs becomes its own batch
      spark.sql("INSERT INTO graft_fb.default.fb_streamsrc VALUES (3, 'c')")
      q.processAllAvailable()
      assert(got() === Set(1L -> "a", 2L -> "b", 3L -> "c"))
      // copy-on-write MERGE: the rewritten group re-emits its carried
      // rows alongside the update — the documented post-image feed
      spark.sql(
        """MERGE INTO graft_fb.default.fb_streamsrc t
          |USING (SELECT 2 AS k, 'b2' AS v) s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      q.processAllAvailable()
      assert(got().contains(2L -> "b2"), s"post-image of the MERGE must arrive: ${got()}")
      // a MERGE-ON-READ delete adds no files — the commit becomes an
      // EMPTY micro-batch (this source is the append/post-image feed;
      // deletions are ChangeFeed.tableChanges' job)
      val sizeBefore = got().size
      spark.sql("DELETE FROM graft_fb.default.fb_streamsrc WHERE k = 1")
      q.processAllAvailable()
      assert(got().size === sizeBefore,
        "a vector-only commit must not re-emit or emit rows into the append feed")
    } finally {
      q.stop()
      spark.sql("DROP TABLE graft_fb.default.fb_streamsrc")
    }
  }

  test("stream-static join: streaming events enrich against a static dimension") {
    val events = MemoryStream[Ev]
    val base = 1700000000000L
    // static dim: user → cohort (a plain batch DataFrame, no watermark —
    // stream-static joins are stateless, the dim is re-read per batch)
    val dim = Seq((1L, "alpha"), (2L, "beta")).toDF("user_id", "cohort")
    qn += 1
    val name = s"stream_result_$qn"
    val q = events.toDF().join(dim, Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("cohort"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    events.addData(
      Ev(1, new Timestamp(base), 1, "view", 1.0),
      Ev(2, new Timestamp(base + 1000), 2, "view", 1.0),
      Ev(3, new Timestamp(base + 2000), 3, "view", 1.0)) // no dim row → dropped (inner)
    q.processAllAvailable()
    events.addData(Ev(4, new Timestamp(base + 3000), 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(rows === Set((1L, "alpha"), (2L, "beta"), (4L, "alpha")),
      "inner stream-static join must enrich matched users across batches and drop unmatched")
  }

  test("stream sliding exec: sink equals the batch sliding aggregate under the closure predicate") {
    val sink = Streaming.streamSlidingExec(spark, sfDir)
    val maxUs = graft.io.Sources.events(spark, sfDir)
      .agg(max(unix_micros(col("ts").cast("timestamp")))).collect()(0).getLong(0)
    val batch = Streaming.sliding(spark, sfDir)
      .filter(col("win_us") + 3600000000L <= maxUs)
    assert(sink.exceptAll(batch).isEmpty && batch.exceptAll(sink).isEmpty)
    assert(sink.count() > 0)
  }

  test("stream update exec: final upserted table equals FULL batch tumbling (no closure cut) over >1 micro-batch") {
    val table = Streaming.streamUpdateExec(spark, sfDir)
    val batch = Streaming.tumbling(spark, sfDir) // NO closure predicate — update mode emits open windows
    assert(table.exceptAll(batch).isEmpty && batch.exceptAll(table).isEmpty)
    assert(table.count() > 0)
    // the run must have consumed MULTIPLE real micro-batches (three staged
    // files at maxFilesPerTrigger=1), not one coalesced pass — count the
    // committed batch ids in the checkpoint
    val commits = new java.io.File(Session.scratch("stream_update") + "/ckpt/commits")
    val n = commits.listFiles().count(_.getName.forall(_.isDigit))
    assert(n >= 3, s"expected >= 3 committed micro-batches, saw $n")
  }

  test("stream tws exec: final totals equal batch; sink holds true running prefixes over >= 3 micro-batches") {
    val finals = Streaming.streamTwsExec(spark, sfDir)
    val batch = graft.io.Sources.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           (sum(graft.Det.cents(col("value"))).cast("double") / 100.0).as("sum_value"))
    assert(finals.exceptAll(batch).isEmpty && batch.exceptAll(finals).isEmpty)
    assert(finals.count() > 0)
    // cross-batch accumulation really happened: the sink's per-user rows
    // are strict running prefixes — n strictly increasing, cents = the
    // cumulative sum at that n — and >= 3 micro-batches committed
    val sink = spark.read.parquet(Session.scratch("stream_tws") + "/sink")
    assert(sink.count() > finals.count(), "no user emitted more than one running row")
    val dupN = sink.groupBy("user_id", "n").count().filter(col("count") > 1).count()
    assert(dupN === 0, "duplicate running row for a (user, n)")
    val commits = new java.io.File(Session.scratch("stream_tws") + "/ckpt/commits")
    val nb = commits.listFiles().count(_.getName.forall(_.isDigit))
    assert(nb >= 3, s"expected >= 3 committed micro-batches, saw $nb")
  }

  test("dropDuplicatesWithinWatermark: in-horizon duplicate dropped, post-eviction duplicate re-emitted") {
    // the bounded sibling of q_stream_dedup_exec's exact form: state for a
    // key is evictable once the watermark passes its event time — a dup
    // arriving BEFORE that is dropped, one arriving AFTER legitimately
    // re-emits (the documented allowance)
    val events = MemoryStream[Ev]
    def t(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    qn += 1
    val name = s"stream_result_$qn"
    val q = events.toDF
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    events.addData(Ev(1, t(0), 1, "click", 0), Ev(1, t(0), 1, "click", 0))
    q.processAllAvailable() // same-batch duplicate: dropped
    events.addData(Ev(1, t(5), 1, "click", 0), Ev(2, t(5), 1, "view", 0))
    q.processAllAvailable() // watermark still <= t(0)+10s: id 1 dropped again
    events.addData(Ev(3, t(1000), 1, "view", 0))
    q.processAllAvailable() // watermark jumps past t(0)+10s: id 1 state evicted
    events.addData(Ev(1, t(1001), 1, "click", 0))
    q.processAllAvailable() // post-eviction duplicate re-emits
    q.stop()
    val ids = spark.table(name).collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 1L, 2L, 3L),
      s"expected one in-horizon dedup of id 1 and one post-eviction re-emit, got $ids")
  }

  test("asof nearest: equals the brute per-click nearest-signup scan (ties backward)") {
    val e = graft.io.Sources.events(spark, sfDir)
      .select(col("event_type"), col("user_id"), col("event_id"),
              unix_micros(col("ts").cast("timestamp")).as("us")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val signups = e.filter(_._1 == "signup").groupBy(_._2)
      .map { case (u, rs) => u -> rs.map(_._4).sorted }
    val got = graft.ops.Streaming.asofNearest(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    val want = e.filter(_._1 == "click").flatMap { case (_, u, id, t) =>
      signups.get(u).map { ss =>
        val back = ss.filter(_ <= t).lastOption
        val fwd = ss.find(_ >= t)
        val near = (back, fwd) match {
          case (Some(b), Some(f)) => if (t - b <= f - t) b else f
          case (Some(b), None) => b
          case (None, Some(f)) => f
          case _ => sys.error("unreachable")
        }
        id -> (near, near - t)
      }
    }.toMap
    assert(got == want, s"diff: ${(got.toSet diff want.toSet).take(3)} / ${(want.toSet diff got.toSet).take(3)}")
  }

  test("asof tolerance: subset of plain asof, staleness bound respected") {
    val plain = graft.ops.Streaming.asofClickSignup(spark, sfDir).count()
    val tol = graft.ops.Streaming.asofTolerance(spark, sfDir)
    val rows = tol.collect()
    assert(rows.length <= plain)
    assert(rows.forall(r => r.getLong(2) - r.getLong(3) <= 604800000000L))
  }


  test("bucketed interval join equals the naive user_id-only join; composite equi-key in plan") {
    // semantics: the (user_id, bucket) equi-key with left exploded to
    // {b-1, b, b+1} must reproduce the naive join on user_id exactly
    val bound = 30L * 60 * 1000000
    val e = graft.io.Sources.events(spark, sfDir)
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
    val a = e.select(col("user_id"), col("event_id").as("id_a"), col("us").as("us_a"))
    val b = e.select(col("user_id"), col("event_id").as("id_b"), col("us").as("us_b"))
    val naive = a.join(b, Seq("user_id"))
      .filter(col("id_a") < col("id_b") && abs(col("us_a") - col("us_b")) <= bound)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_pairs"))
    val bucketed = Streaming.intervalJoin(spark, sfDir)
    assert(bucketed.exceptAll(naive).isEmpty && naive.exceptAll(bucketed).isEmpty)
    // the plan must join on the composite key (bkt present as a join key),
    // never fall back to a nested-loop shape
    val p = plan(bucketed)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("bkt"), "composite (user_id, bkt) equi-key missing from plan:\n" + p)
  }

  test("asofStream: incremental stateful as-of matches expected enrichment across batches") {
    val events = MemoryStream[Ev]
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    qn += 1
    val name = s"stream_result_$qn"
    // ONE continuous query — signup state must persist across micro-batches
    val q = Streaming.asofStream(events.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    // batch 1: u1 signup+click, u2 click-before-any-signup then signup
    events.addData(
      Ev(1, ts(0), 1, "signup", 0), Ev(2, ts(5), 1, "click", 0),
      Ev(3, ts(2), 2, "click", 0), Ev(4, ts(4), 2, "signup", 0))
    q.processAllAvailable()
    // batch 2: u1 re-signup + click (matches NEW signup), u2 click
    // (matches the 10:04 signup CARRIED IN STATE from batch 1)
    events.addData(
      Ev(5, ts(10), 1, "signup", 0), Ev(6, ts(15), 1, "click", 0),
      Ev(7, ts(6), 2, "click", 0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def us(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00").getTime * 1000L
    assert(out === Set(
      (2L, 1L, us(5), us(0)),    // click after first signup
      (6L, 1L, us(15), us(10)),  // click matches the RE-signup, not the old one
      (7L, 2L, us(6), us(4))))   // u2's click after its signup; event 3 never matches
  }

  test("streamCdcExec: one micro-batch per change file; final state is the argmax-by-seq") {
    import graft.Det.cents
    val got = Streaming.streamCdcExec(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // batch twin of the oracle: union the three change sets, keep max seq
    val o = graft.io.Sources.orders(spark, sfDir).select(
      col("o_orderkey").as("k"), col("o_orderpriority").as("pri"),
      cents(col("o_totalprice")).as("cents"))
    val c = o.filter(col("k") % 3 === 0).withColumn("seq", lit(1L))
      .unionByName(o.filter(col("k") % 2 === 0)
        .withColumn("cents", col("cents") + 100L).withColumn("seq", lit(2L)))
      .unionByName(o.filter(col("k") % 5 === 0)
        .withColumn("cents", col("cents") * 2L).withColumn("seq", lit(3L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("seq").desc)
    val want = c.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("k"), col("pri"), col("cents"), col("seq")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want)
    assert(got.nonEmpty && got.exists(_._4 == 3L) && got.exists(_._4 == 1L))
    // the checkpoint proves the multi-batch path ran: >= 3 offset commits
    val off = new java.io.File(Session.scratch("stream_cdc") + "/ckpt/offsets")
    assert(off.isDirectory &&
      off.list().count(f => !f.startsWith(".")) >= 3,
      s"expected >= 3 micro-batch offsets in $off")
  }

}
