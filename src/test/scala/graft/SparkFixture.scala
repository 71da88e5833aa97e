package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared SparkSession for all suites (the postpy connection-fixture
  * analogue, SURVEY §5.2.1). One JVM-wide session — ScalaTest suites run
  * sequentially in the forked JVM, and session startup dominates test time.
  */
trait SparkFixture { this: Suite =>
  lazy val spark: SparkSession = SparkFixture.session
  val sfDir = SparkFixture.resolveSf("sf0.001")

  /** Resolve a scale-factor dir from SPARK_GRAFT_TESTDATA (root override)
    * with the driver's default root as fallback — tests that need a
    * specific SF call this and `assume` on existence rather than
    * hard-coding absolute paths (ADVICE r9).
    */
  def sfDirFor(tag: String): String = SparkFixture.resolveSf(tag)

  def sfDirExists(tag: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sfDirFor(tag)))

  /** The executed physical plan as a string, for strategy assertions. */
  def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString
}

object SparkFixture {
  def resolveSf(tag: String): String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/" + tag

  /** The shared graft settings on four cores (`Session.configure`) plus a
    * throwaway warehouse dir.
    */
  lazy val session: SparkSession = {
    val s = Session.configure(4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
