package graft.tools

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.Bridge
import graft.{Session, SparkEntry}

/** Dev tool: inspect declared keys one at a time. Each key matching
  * `keyRegex` runs once to warm up (JIT, codegen, footer caches); one more
  * run is timed and its structure counters printed: jobs, stages, tasks
  * and shuffle-read MB, which do not depend on wall-clock noise, plus the
  * call site of every job's first stage. With `outDir`, the key's
  * formatted physical plan is written to `<outDir>/<key>.txt`.
  *
  * Usage: runMain graft.tools.Inspect <keyRegex> [sfDir] [outDir]
  * sfDir defaults to $SPARK_GRAFT_SF_DIR; cores come from SPARK_GRAFT_CPUS.
  */
object Inspect {

  /** Counters of one run; the listener bus writes, `main` reads after a drain. */
  private final class RunCounters extends SparkListener {
    var jobs, stages, tasks = 0
    var shuffleReadBytes = 0L
    val callSites = mutable.ArrayBuffer[String]()
    // SQL execution id -> the call site of the action that started it
    private val sqlCallSites = mutable.Map[String, String]()

    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0; shuffleReadBytes = 0L
      callSites.clear(); sqlCallSites.clear()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { sqlCallSites(s.executionId.toString) = s.description }
      case _ =>
    }
    // AQE submits a query's stage jobs from its own threads, so their stage
    // names point into the JDK; the SQL execution keeps the caller's site
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      val sqlSite = Option(j.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(sqlCallSites.get)
      callSites += s"job ${j.jobId}: " + sqlSite.getOrElse(
        j.stageInfos.sortBy(_.stageId).headOption.fold("(no stages)")(_.name))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      shuffleReadBytes += s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized { tasks += 1 }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.tools.Inspect <keyRegex> [sfDir] [outDir]")
    val keyRe = args(0).r
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(
      throw new IllegalArgumentException("no sfDir argument and SPARK_GRAFT_SF_DIR is unset"))
    val outDir = args.lift(2)
    val spark = Session.local(Session.parseCpus(sys.env.get("SPARK_GRAFT_CPUS")))
    val sc = spark.sparkContext
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val counters = new RunCounters
    sc.addSparkListener(counters)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (k, _) => keyRe.findFirstIn(k).isDefined }
      .foreach { case (key, fn) =>
        try {
          fn(spark, sfDir).count()
          Bridge.waitUntilEmpty(sc)
          counters.reset()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val n = df.count()
          val wall = (System.nanoTime() - t0) / 1e9
          Bridge.waitUntilEmpty(sc)
          counters.synchronized {
            println(f"[inspect] $key: $wall%.3f s, $n rows, jobs=${counters.jobs}, " +
              f"stages=${counters.stages}, tasks=${counters.tasks}, " +
              f"shuffleReadMB=${counters.shuffleReadBytes / 1e6}%.1f")
            counters.callSites.foreach(c => println(s"[inspect]   $c"))
          }
          outDir.foreach { d =>
            val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
            Files.write(Paths.get(d, s"$key.txt"), plan.getBytes("UTF-8"))
          }
        } catch { case e: Throwable =>
          println(s"[inspect] $key ERROR ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
