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

  /** The one scratch directory of `name`: `<java.io.tmpdir>/graft_<name>`.
    * A fixed path per purpose, reused by every run, so repeated
    * Verify/Bench passes keep one disk footprint instead of leaking a
    * fresh temp dir per call.
    */
  def scratch(name: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"), s"graft_$name").getAbsolutePath

  /** Build session state once per (session, source dir) and read it back
    * on every later call: the seam of every key whose first call does
    * the real work (the streaming `*_exec` runs, the IVM commit chain,
    * the catalog and bucketed layouts). The session conf
    * `graft.once.<name>` holds `dir` and the payload `build` returned;
    * a call with another `dir` rebuilds. Before it builds, `once` wipes
    * `scratch(name)`, so a stale sink or append log can never leak into
    * the new state. The marker is set only after `build` returns, so a
    * build that throws is retried on the next call.
    */
  def once(spark: SparkSession, name: String, dir: String)(build: => String): String = {
    val key = s"graft.once.$name"
    // length-prefixed, so no dir can pose as another dir plus payload
    val source = s"${dir.length}:$dir"
    spark.conf.getOption(key).filter(_.startsWith(source)) match {
      case Some(marker) => marker.substring(source.length)
      case None =>
        graft.io.Sinks.deleteRecursively(java.nio.file.Paths.get(scratch(name)))
        val payload = build
        spark.conf.set(key, source + payload)
        payload
    }
  }

  /** A local session on `cpus` cores with WARN logging. */
  def local(cpus: Int): SparkSession = {
    val spark = configure(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
