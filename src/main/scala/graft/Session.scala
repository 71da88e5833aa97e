package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a SparkSession: Bench, Verify, the Inspect
  * tool and the test fixture all go through `configure`, so the master,
  * shuffle width, time zone and UI setting cannot drift between them.
  */
object Session {

  /** SPARK_GRAFT_CPUS as a positive core count (default 4). The value
    * becomes `local[n]`, the shuffle partition count and the `cpus` field
    * of Bench's result JSON, so anything else fails before a session starts.
    */
  def parseCpus(env: Option[String]): Int = env.map(_.trim) match {
    case None => 4
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** The shared settings on a builder: `local[cpus]`, as many shuffle
    * partitions as cores, UTC session time and no UI. Callers add their
    * own extras (the test fixture its warehouse dir) before `getOrCreate`.
    */
  def configure(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Run `body` with the session confs `confs` set, then restore each
    * key's previous value (or unset it), also when `body` throws. Work
    * that must see the confs — planning AND execution — has to finish
    * inside `body`.
    */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A local session on `cpus` cores with WARN logging. */
  def local(cpus: Int): SparkSession = {
    val spark = configure(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
