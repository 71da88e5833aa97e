// Lives under org.apache.spark only to reach LiveListenerBus.waitUntilEmpty,
// which the traced run needs to close each key's counters exactly.
package org.apache.spark.graftbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop benchmark harness: one client, one key at a time, every
  * result computed in full through Spark's `noop` sink.
  *
  * Run order: set-up (session up, inputs located), one cold pass, one
  * untimed pass that writes each key's result as parquet for the oracle
  * compare, then `--passes` steady passes. With `--trace 1` every other
  * steady pass runs traced: per-key listener counters and the span tree
  * `run > pass > key > build | exec`, kept in memory and written to
  * `trace.json` at the end.
  *
  * Usage: GraftBench --data DIR --keys FILE --cores N --passes P
  *                   --out DIR --trace 0|1 --launch-ns EPOCH_NANOS
  * where FILE has one `key<TAB>module` line per key, in pass order.
  */
object GraftBench {

  final case class Key(name: String, module: String,
                       fn: (SparkSession, String) => DataFrame)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    def intOpt(k: String): Int = opt(k).toIntOption.filter(_ > 0)
      .getOrElse(sys.error(s"--$k must be a positive integer, got '${opt(k)}'"))
    val launchNs = opt("launch-ns").toLongOption.getOrElse(sys.error("--launch-ns must be an integer"))
    val cores = intOpt("cores")
    val traced = opt("trace") == "1"
    val passes = intOpt("passes")
    require(!traced || passes % 2 == 1, "a traced run needs an odd --passes")
    val dataDir = opt("data")
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // graft's keys read their inputs from the data directory themselves, so
    // registering them means locating the files; set-up ends there
    val tables = Option(new java.io.File(dataDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    require(tables.nonEmpty, s"no parquet inputs in $dataDir")
    val setupS = sinceNs(launchNs)

    val queries = graft.SparkEntry.queries
    val keys = scala.io.Source.fromFile(opt("keys"), "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).map { line =>
        val Array(name, module) = line.split("\t")
        Key(name, module, queries.getOrElse(name, sys.error(s"unknown key $name")))
      }.toVector

    val sc = spark.sparkContext
    val peak = new PeakMemory
    sc.addSparkListener(peak)
    val errors = mutable.LinkedHashMap[String, String]()
    val calls = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)
    val threw = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)

    /** One key: build the frame (the ops call), then materialize it. */
    def runKey(k: Key, sink: DataFrame => Unit): Option[(Long, Long, Long)] = {
      calls(k.name) += 1
      sc.setJobGroup(k.name, k.name)
      val t0 = System.nanoTime()
      try {
        val df = k.fn(spark, dataDir)
        val t1 = System.nanoTime()
        sink(df)
        Some((t0, t1, System.nanoTime()))
      } catch {
        case e: Throwable =>
          threw(k.name) += 1
          errors.getOrElseUpdate(k.name, s"${e.getClass.getName}: ${e.getMessage}".take(500))
          None
      } finally sc.clearJobGroup()
    }
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
    /** One pass over every key; returns each key's seconds. */
    def pass(sink: Key => DataFrame => Unit): Vector[Double] = keys.map { k =>
      val t0 = System.nanoTime()
      runKey(k, sink(k))
      (System.nanoTime() - t0) / 1e9
    }

    val coldKeys = pass(_ => noop)
    val coldS = coldKeys.sum
    // untimed verification pass, the first after the cold one: each key's
    // full result as parquet, for the oracle compare. Its memory peak is not
    // that of the noop sink, so the listener skips it.
    val verifyDir = out.resolve("verify")
    sc.listenerBus.waitUntilEmpty()
    peak.enabled = false
    pass(k => _.write.mode("overwrite").parquet(verifyDir.resolve(k.name).toString))
    sc.listenerBus.waitUntilEmpty()
    peak.enabled = true
    val oracle = keys.map(k => k.name -> graft.SparkEntry.oracleSql.getOrElse(k.name, "")).toMap
    writeJson(out.resolve("oracle_sql.json"), oracle)

    val untraced = mutable.ArrayBuffer[Vector[Double]]()
    val tracedPasses = mutable.ArrayBuffer[TracedPass]()
    val tracer = if (traced) Some(new Tracer(sc)) else None
    // steady passes: the same number in every run of a workload, so the timed
    // passes sit at the same point of the JIT's warm-up however fast the
    // machine runs. The JIT keeps compiling for several passes after the cold
    // one, so the first half of the untraced passes is warm-up and the second
    // half is timed.
    // A traced run alternates traced and untraced passes, starting traced
    // (T U T ... T, an odd count): both sides sit at the same mean position
    // in the warm-up, so their ratio is the tracing overhead, and the
    // counters are medians over the traced passes.
    (0 until passes).foreach { i =>
      tracer match {
        case Some(tr) if i % 2 == 0 =>
          spark.listenerManager.register(tr)
          sc.addSparkListener(tr)
          tracedPasses += tr.tracedPass(keys, k => runKey(k, noop))
          sc.removeSparkListener(tr)
          spark.listenerManager.unregister(tr)
        case _ =>
          untraced += pass(_ => noop)
      }
    }
    // the steady pass: each key at its median over the timed passes, so a
    // burst of load on the shared machine during one key call drops out
    val timed = untraced.drop(untraced.size / 2).toSeq
    val wallS = keys.indices.map(i => median(timed.map(_(i)))).sum
    val peakMb = peak.maxBytes / 1e6

    val base = Map[String, Any](
      "setup_s" -> setupS, "cold_s" -> coldS,
      "pass_s" -> untraced.map(_.sum).toSeq, "wall_s" -> wallS,
      "cold_key_s" -> coldKeys, "key_s" -> untraced.toSeq,
      "mem_peak_mb" -> peakMb, "cores" -> cores,
      "calls" -> calls.toMap, "threw" -> threw.toMap, "errors" -> errors.toMap)
    val result = tracer match {
      case None => base
      case Some(tr) =>
        val layers = tr.layers(tracedPasses.toSeq, cores)
        val tracedWall = median(tracedPasses.map(_.wallS).toSeq)
        writeJson(out.resolve("trace.json"), Map(
          "run" -> Map("setup_s" -> setupS, "cold_s" -> coldS, "untraced_pass_s" -> untraced.map(_.sum).toSeq,
            "cores" -> cores, "passes" -> tracedPasses.map(_.json).toSeq)))
        base ++ Map("per_layer" -> (layers ++ Map(
          "trace.wall_s" -> tracedWall,
          "trace.overhead_pct" -> 100.0 * (tracedWall / median(untraced.map(_.sum).toSeq) - 1.0))))
    }
    writeJson(out.resolve("result.json"), result)
    spark.stop()
  }

  def sinceNs(epochNs: Long): Double = {
    val now = Instant.now()
    (now.getEpochSecond * 1000000000L + now.getNano - epochNs) / 1e9
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Largest per-task peak execution memory; the only listener of an untraced run. */
  final class PeakMemory extends SparkListener {
    @volatile var maxBytes = 0L
    @volatile var enabled = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled && e.taskMetrics != null) maxBytes = math.max(maxBytes, e.taskMetrics.peakExecutionMemory)
  }

  /** Counters of one key in one traced pass. */
  final class Counters {
    val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = c(k) = c(k) + v
  }

  final case class KeySpan(key: String, module: String, start: Long, buildEnd: Long, end: Long,
                           ok: Boolean, jobs: Seq[(Int, Long, Long)], counters: Counters) {
    def buildS: Double = (buildEnd - start) / 1e9
    def execS: Double = (end - buildEnd) / 1e9
    def wallS: Double = (end - start) / 1e9
    /** Milliseconds of the span during which one of its jobs ran. */
    def jobCoverMs: Long = covered(jobs.map(j => (j._2, j._3)), epochMs(start), epochMs(end))
  }

  final case class TracedPass(wallS: Double, keys: Seq[KeySpan]) {
    def json: Map[String, Any] = Map("wall_s" -> wallS, "keys" -> keys.map { k =>
      Map("key" -> k.key, "module" -> k.module, "ok" -> k.ok,
        "span_s" -> k.wallS, "build_s" -> k.buildS, "exec_s" -> k.execS,
        "start_ms" -> epochMs(k.start), "end_ms" -> epochMs(k.end),
        "self_s" -> (k.wallS - k.jobCoverMs / 1e3),
        "jobs" -> k.jobs.map(j => Map("id" -> j._1, "start_ms" -> j._2, "end_ms" -> j._3)),
        "counters" -> k.counters.c.toMap)
    })
  }

  // Spark stamps job events with System.currentTimeMillis; spans use nanoTime
  private val nanoOrigin = System.nanoTime()
  private val epochOriginMs = System.currentTimeMillis()
  def epochMs(nano: Long): Long = epochOriginMs + (nano - nanoOrigin) / 1000000

  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Listener state of the traced passes. Events go to the bucket of the key
    * running when they fire; the bus is drained after each key, outside its
    * span, so a key's bucket is complete before the next key starts. */
  final class Tracer(sc: org.apache.spark.SparkContext) extends SparkListener with QueryExecutionListener {
    @volatile private var bucket = new Counters
    private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
    private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long)]()
    private val stageSubmit = new ConcurrentHashMap[(Int, Int), Long]()

    private def drain(): Unit = sc.listenerBus.waitUntilEmpty()

    def tracedPass(keys: Seq[Key], run: Key => Option[(Long, Long, Long)]): TracedPass = {
      val t0 = System.nanoTime()
      var drainNs = 0L
      val spans = keys.map { k =>
        bucket = new Counters
        jobs.clear()
        val r = run(k)
        val d0 = System.nanoTime()
        drain()
        drainNs += System.nanoTime() - d0
        val myJobs = jobs.toArray(Array.empty[(Int, String, Long, Long)]).toSeq
          .filter(_._2 == k.name).map(j => (j._1, j._3, j._4))
        val now = System.nanoTime()
        val (s, b, e) = r.getOrElse((now, now, now))
        KeySpan(k.name, k.module, s, b, e, r.isDefined, myJobs, bucket)
      }
      TracedPass((System.nanoTime() - t0 - drainNs) / 1e9, spans)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStart.put(e.jobId, (group, e.time))
      bucket.add("sched.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (g, t) => jobs.add((e.jobId, g, t, e.time)) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      bucket.add("sched.stages", 1)
      stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val b = bucket
      b.add("sched.tasks", 1)
      Option(stageSubmit.get((e.stageId, e.stageAttemptId))).foreach { sub =>
        b.add("sched.task_wait_ms", math.max(0L, e.taskInfo.launchTime - sub).toDouble)
      }
      val m = e.taskMetrics
      if (m != null) {
        b.add("exec.run_ms", m.executorRunTime.toDouble)
        b.add("exec.cpu_ms", m.executorCpuTime / 1e6)
        b.add("exec.gc_ms", m.jvmGCTime.toDouble)
        b.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        b.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        b.add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        b.add("spill.mb", m.diskBytesSpilled / 1e6)
        b.add("io.read_mb", m.inputMetrics.bytesRead / 1e6)
        b.add("io.read_rows", m.inputMetrics.recordsRead.toDouble)
        b.add("io.write_mb", m.outputMetrics.bytesWritten / 1e6)
        b.add("io.write_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid) {
        bucket.add("materialize.blocks", 1)
        bucket.add("materialize.block_mb", (info.memSize + info.diskSize) / 1e6)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        phases.get(p).foreach(s => bucket.add(s"plan.${p}_ms", s.durationMs.toDouble))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    /** Per-layer metrics of a steady traced pass: the median over passes. */
    def layers(passes: Seq[TracedPass], cores: Int): Map[String, Double] = {
      val modules = Seq("Graph", "Text", "Similarity", "Pipeline", "Relational", "Windows", "Joins", "Etl", "Merge")
      val counterNames = Seq("sched.jobs", "sched.stages", "sched.tasks", "sched.task_wait_ms",
        "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "shuffle.read_mb", "shuffle.write_mb",
        "shuffle.fetch_wait_ms", "spill.mb", "io.read_mb", "io.read_rows", "io.write_mb", "io.write_rows",
        "materialize.blocks", "materialize.block_mb",
        "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms")
      val perPass: Seq[Map[String, Double]] = passes.map { p =>
        val sums = counterNames.map(n => n -> p.keys.map(_.counters.c(n)).sum).toMap
        val ops = modules.flatMap { m =>
          val ks = p.keys.filter(_.module == m)
          Seq(s"ops.$m.build_s" -> ks.map(_.buildS).sum, s"ops.$m.exec_s" -> ks.map(_.execS).sum)
        }.toMap
        val passMs = p.keys.map(k => (k.end - k.start) / 1e6).sum
        val jobMs = p.keys.map(_.jobCoverMs).sum
        sums ++ ops ++ Map(
          "sched.driver_gap_s" -> math.max(0.0, passMs - jobMs) / 1e3,
          "exec.core_util" -> sums("exec.run_ms") / (p.wallS * 1e3 * cores))
      }
      perPass.head.keys.map(n => n -> median(perPass.map(_(n)))).toMap
    }
  }

  def writeJson(path: Path, v: Any): Unit =
    Files.writeString(path, toJson(v))

  def toJson(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => toJson(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => toJson(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(toJson).mkString("[", ",", "]")
    case other => toJson(other.toString)
  }
}
