package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.io.Sources

/** The base-table read path: declared schema, no Spark job, and a loud
  * failure when a file's footer disagrees with the declared schema.
  */
class SourcesSpec extends AnyFunSuite with SparkFixture {

  /** Descriptions of the Spark jobs that `body` launches. A marker job runs
    * after `body`; the listener bus delivers in order, so every job that
    * `body` started has been seen once the marker has.
    */
  private def jobsLaunchedBy(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).map(_.getProperty("spark.job.description", "")).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("graft-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      eventually(timeout(30.seconds), interval(20.millis)) {
        assert(seen.contains("graft-marker"))
      }
      seen.asScala.toSeq.takeWhile(_ != "graft-marker")
    } finally sc.removeSparkListener(listener)
  }

  /** A single-file parquet table at `path`, written from `df`. */
  private def writeSingleFile(df: DataFrame, path: String): Unit = {
    val tmp = Files.createTempDirectory("graft_single").toString + "/out"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a base-table read with its declared schema launches no Spark job") {
    val path = s"$sfDir/lineitem.parquet"
    // the listener sees the schema-inference job of a read without a schema
    assert(jobsLaunchedBy(spark.read.parquet(path).schema).nonEmpty)
    assert(jobsLaunchedBy(Sources.lineitem(spark, sfDir).schema).isEmpty)
    assert(jobsLaunchedBy(Sources.events(spark, sfDir).schema).isEmpty)
  }

  test("a file that lacks a declared column fails naming the column and the file") {
    val dir = Files.createTempDirectory("graft_src_missing").toString
    Sources.customer(spark, sfDir).drop("c_mktsegment")
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    val e = intercept[IllegalStateException](Sources.customer(spark, dir))
    assert(e.getMessage.contains("missing column c_mktsegment"), e.getMessage)
    assert(e.getMessage.contains(s"$dir/customer.parquet/part-"), e.getMessage)
  }

  test("a file that stores c_nationkey as BIGINT fails naming the column and both types") {
    val dir = Files.createTempDirectory("graft_src_bigint").toString
    Sources.customer(spark, sfDir)
      .withColumn("c_nationkey", col("c_nationkey").cast("bigint"))
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    val e = intercept[IllegalStateException](Sources.customer(spark, dir))
    assert(e.getMessage.contains("c_nationkey: expected int, got bigint"), e.getMessage)
  }

  test("rewriting a file at the same path invalidates the cached footer check") {
    val dir = Files.createTempDirectory("graft_src_rewrite").toString
    val path = s"$dir/customer.parquet"
    val good = Sources.customer(spark, sfDir)
    writeSingleFile(good, path)
    assert(Sources.customer(spark, dir).count() === good.count())
    writeSingleFile(good.drop("c_name"), path)
    val e = intercept[IllegalStateException](Sources.customer(spark, dir))
    assert(e.getMessage.contains("missing column c_name"), e.getMessage)
    writeSingleFile(good, path)
    assert(Sources.customer(spark, dir).count() === good.count())
  }

  /** An events file with ts as parquet TIMESTAMP(NANOS), which Spark
    * cannot write: one row per (event_id, ts nanos).
    */
  private def writeNanosEvents(path: String, rows: Seq[(Long, Long)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id; optional binary event_type (STRING);
        |  optional double value; optional binary props (STRING);
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ns) =>
      w.write(groups.newGroup().append("event_id", id).append("ts", ns).append("user_id", 7L)
        .append("event_type", "click").append("value", 1.5).append("props", "{}"))
    } finally w.close()
  }

  test("events stored as TIMESTAMP(NANOS) read as microseconds; mixed units fail loudly") {
    val dir = Files.createTempDirectory("graft_src_nanos").toString
    val ns = 1700000000123456789L // 2023-11-14 22:13:20.123456789
    writeNanosEvents(s"$dir/events.parquet", Seq(1L -> ns))
    val ts = Sources.events(spark, dir).select(col("ts").cast("string")).first().getString(0)
    assert(ts === "2023-11-14 22:13:20.123456")
    // a directory holding one NANOS and one MICROS file
    val mixed = Files.createTempDirectory("graft_src_mixed").toString + "/events.parquet"
    Files.createDirectories(Paths.get(mixed))
    writeNanosEvents(s"$mixed/a.parquet", Seq(1L -> ns))
    writeSingleFile(Sources.events(spark, sfDir).limit(1), s"$mixed/b.parquet")
    val e = intercept[IllegalArgumentException](Sources.events(spark, mixed.stripSuffix("/events.parquet")))
    assert(e.getMessage.contains("a.parquet=NANOS") && e.getMessage.contains("b.parquet=MICROS"),
      e.getMessage)
  }
}
