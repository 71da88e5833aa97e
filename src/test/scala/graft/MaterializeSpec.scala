package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Bridge, Materialize}
import org.scalatest.funsuite.AnyFunSuite

/** The materialization seam: what `reuse` and `snapshot` promise their
  * callers, and that the jobs they start name the graft call site.
  */
class MaterializeSpec extends AnyFunSuite with SparkFixture {

  /** A 100-row frame whose every computed row bumps `counter`. */
  private def counted(counter: org.apache.spark.util.LongAccumulator) = {
    val bump = udf { (x: Long) => counter.add(1); x }
    spark.range(100).select(bump(col("id")).as("x"))
  }

  test("reuse computes its source once across two consumers") {
    def twoConsumers(df: org.apache.spark.sql.DataFrame): Unit = {
      df.filter(col("x") % 2 === 0).count()
      df.agg(sum(col("x"))).collect()
    }
    val plain = spark.sparkContext.longAccumulator("plain")
    twoConsumers(counted(plain))
    assert(plain.value === 200L) // without the seam each consumer recomputes
    val seamed = spark.sparkContext.longAccumulator("seamed")
    twoConsumers(Materialize.reuse(counted(seamed)))
    assert(seamed.value === 100L)
  }

  test("a snapshot keeps its rows after the table it read is overwritten") {
    spark.range(5).write.mode("overwrite").saveAsTable("materialize_src")
    try {
      val snap = Materialize.snapshot(spark.table("materialize_src"))
      spark.sql("INSERT OVERWRITE materialize_src SELECT id + 100 FROM range(3)")
      assert(spark.table("materialize_src").collect().map(_.getLong(0)).sorted === Array(100L, 101L, 102L))
      assert(snap.collect().map(_.getLong(0)).sorted === (0L until 5L).toArray)
    } finally spark.sql("DROP TABLE IF EXISTS materialize_src")
  }

  test("a seam job's SQL call site names the calling file, not the seam") {
    val sites = mutable.ArrayBuffer[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sites.synchronized { sites += s.description }
        case _ =>
      }
    }
    val sc = spark.sparkContext
    Bridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      Materialize.snapshot(spark.range(10).toDF().repartition(2))
      Bridge.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    assert(sites.nonEmpty, "snapshot ran no SQL execution")
    assert(sites.forall(_.startsWith("snapshot at MaterializeSpec.scala:")), sites.mkString("; "))
  }
}
