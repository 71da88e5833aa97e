package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{Sinks, Sources}
import graft.model.Schemas
import graft.ops.Etl

class EtlSpec extends AnyFunSuite with SparkFixture {

  test("scan: projection is pruned and filter pushed to parquet") {
    val p = plan(Etl.scanProjectFilter(spark, sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_extendedprice), GreaterThan(l_extendedprice,90000.0)]"),
      s"filter not pushed:\n$p")
    assert(p.contains("l_orderkey") && !p.contains("l_tax"),
      "projection should prune unused columns from ReadSchema")
  }

  test("csv roundtrip aggregate equals parquet aggregate (lossless COPY)") {
    val fromCsv = Etl.csvRoundtrip(spark, sfDir).collect()
    val fromParquet = Sources.lineitem(spark, sfDir)
      .filter(col("l_orderkey") % 5 === 0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           graft.Det.moneySum(col("l_quantity")).as("sum_qty"),
           graft.Det.moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag")).collect()
    assert(fromCsv.toSeq === fromParquet.toSeq)
  }

  test("schema drift detector flags missing and mistyped columns") {
    val df = spark.range(3).select(col("id").as("l_orderkey"))
    val drift = Sources.schemaDrift(df, Schemas.lineitem)
    assert(drift.exists(_.contains("missing column l_partkey")))
    // a read with the declared schema reports that schema whatever the
    // file holds, so the fixture is checked at the footer
    val files = Sources.footers(spark, s"$sfDir/lineitem.parquet")
    assert(files.nonEmpty)
    files.foreach(f => assert(Sources.schemaDrift(f.schema, Schemas.lineitem).isEmpty, f.file))
  }

  test("events source: nanosecond timestamps become microsecond TimestampType") {
    val e = Sources.events(spark, sfDir)
    assert(Sources.schemaDrift(e, Schemas.events).isEmpty)
    assert(e.count() > 0)
  }

  test("atomic overwrite: readers see old or new, never partial; rollback-safe") {
    val dir = Files.createTempDirectory("graft_atomic").toString
    val path = s"$dir/t"
    Sinks.atomicOverwrite(spark.range(10).toDF("id"), path)
    assert(spark.read.parquet(path).count() === 10)
    Sinks.atomicOverwrite(spark.range(25).toDF("id"), path)
    assert(spark.read.parquet(path).count() === 25)
    assert(!Files.exists(java.nio.file.Paths.get(path + ".__staging")))
    assert(!Files.exists(java.nio.file.Paths.get(path + ".__old")))
  }

  test("multi-table staged commit: both land on success, neither changes on stage failure") {
    val dir = Files.createTempDirectory("graft_multiatomic").toString
    val a = s"$dir/a"; val b = s"$dir/b"
    Sinks.atomicOverwriteAll(Seq(
      spark.range(10).toDF("id") -> a,
      spark.range(20).toDF("id") -> b))
    assert(spark.read.parquet(a).count() === 10)
    assert(spark.read.parquet(b).count() === 20)
    // second commit where table B's plan FAILS during staging: neither
    // target may change (stage-all-first means no swap has happened yet)
    val boom = spark.range(5).toDF("id")
      .withColumn("x", org.apache.spark.sql.functions.expr(
        "CASE WHEN id >= 0 THEN raise_error('stage failure') ELSE 'ok' END"))
    intercept[Exception] {
      Sinks.atomicOverwriteAll(Seq(spark.range(99).toDF("id") -> a, boom -> b))
    }
    assert(spark.read.parquet(a).count() === 10, "target A must be untouched")
    assert(spark.read.parquet(b).count() === 20, "target B must be untouched")
  }

  test("csv quarantine: malformed rows isolated, clean rows parsed") {
    val dir = Files.createTempDirectory("graft_csvq")
    Files.writeString(dir.resolve("data.csv"),
      "id,qty\n1,10\n2,not_a_number\n3,30\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("qty", org.apache.spark.sql.types.IntegerType)))
    val df = Sources.csvWithQuarantine(spark, dir.toString, schema).cache()
    assert(df.count() === 3, "no row may be dropped")
    assert(df.filter(col("_corrupt").isNotNull).count() === 1)
    assert(df.filter(col("_corrupt").isNull).count() === 2)
    assert(df.filter(col("_corrupt").isNotNull).head.getString(2).contains("not_a_number"))
  }

  test("encoding registry: PG codec names resolve; unknown names fail loudly") {
    assert(Sources.charsetFor("LATIN1") === "ISO-8859-1")
    assert(Sources.charsetFor("latin-1") === "ISO-8859-1")
    assert(Sources.charsetFor("latin_1") === "ISO-8859-1")
    assert(Sources.charsetFor("WIN1252") === "windows-1252")
    assert(Sources.charsetFor("UTF8") === "UTF-8")
    assert(Sources.charsetFor("ISO-8859-15") === "ISO-8859-15") // JVM passthrough
    intercept[IllegalArgumentException] { Sources.charsetFor("KLINGON") }
  }

  test("latin-1 CSV: bytes written as ISO-8859-1 decode correctly; UTF-8 read mangles them") {
    val dir = Files.createTempDirectory("graft_latin1")
    // 'café', 'Müller' — 0xE9 and 0xFC are NOT valid UTF-8 sequences
    Files.write(dir.resolve("data.csv"),
      "id,name\n1,café\n2,Müller\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    val names = Sources.csv(spark, dir.toString, schema, encoding = "LATIN1")
      .orderBy(col("id")).collect().map(_.getString(1))
    assert(names.toSeq === Seq("café", "Müller"))
    val mangled = Sources.csv(spark, dir.toString, schema)
      .orderBy(col("id")).collect().map(_.getString(1))
    assert(mangled.toSeq !== Seq("café", "Müller"),
      "a UTF-8 read of latin-1 bytes must NOT silently produce the right strings")
  }

  test("latin-1 CSV roundtrip through sink and source") {
    val dir = Files.createTempDirectory("graft_latin1rt").toString
    val df = spark.sql("SELECT * FROM VALUES (1, 'café'), (2, 'Müller') AS t(id, name)")
    Sinks.csv(df, dir, encoding = "latin1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    val back = Sources.csv(spark, dir, schema, encoding = "latin1")
      .orderBy(col("id")).collect().map(_.getString(1))
    assert(back.toSeq === Seq("café", "Müller"))
  }

  test("csv sink + source roundtrip preserves nulls via nullValue") {
    val dir = Files.createTempDirectory("graft_csvnull").toString
    val df = spark.sql("SELECT * FROM VALUES (1, 'a'), (2, CAST(NULL AS STRING)) AS t(id, s)")
    Sinks.csv(df, dir)
    val back = Sources.csv(spark, dir,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType))))
    assert(back.filter(col("s").isNull).count() === 1)
  }

  test("partitioned write: hive layout, file row cap respected, lossless roundtrip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_partwrite").toString
    val docs = Sources.documents(spark, sfDir)
    graft.io.Sinks.writePartitioned(docs, s"$dir/docs", Seq("lang"), maxRecordsPerFile = 50L)
    val langDirs = new java.io.File(s"$dir/docs").listFiles().filter(_.isDirectory).map(_.getName)
    assert(langDirs.nonEmpty && langDirs.forall(_.startsWith("lang=")))
    val back = spark.read.parquet(s"$dir/docs")
    assert(back.count() === docs.count())
    // no data file exceeds the row cap
    import org.apache.spark.sql.functions._
    val perFile = back.groupBy(input_file_name()).count().collect().map(_.getLong(1))
    assert(perFile.forall(_ <= 50L), s"files over cap: ${perFile.filter(_ > 50L).mkString(",")}")
  }


  test("dq checks: row-local checks clean; composite-key dup count matches direct count") {
    val rows = graft.ops.Etl.dqChecksQuery(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.size === 5)
    // synthetic data is range/domain/null-clean...
    assert(rows("qty_out_of_range") === 0L && rows("discount_out_of_range") === 0L)
    assert(rows("null_orderkey") === 0L && rows("bad_returnflag") === 0L)
    // ...but lineitem has NO unique composite key (known data quirk) — the
    // check must agree with an independent dup count
    import org.apache.spark.sql.functions._
    val expected = graft.io.Sources.lineitem(spark, sfDir)
      .groupBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(coalesce(sum(col("c") - 1), lit(0L))).collect()(0).getLong(0)
    assert(rows("dup_composite_key") === expected)
  }

  test("warehousePath decodes file: URIs (percent-encoding) and takes plain paths verbatim") {
    import graft.io.Sinks
    // the form Spark itself reports: a file: URI with %20 for spaces —
    // the decoded path is what exists on disk
    assert(Sinks.warehousePath("file:/tmp/graft%20wh%20test").toString
      === "/tmp/graft wh test")
    // a plain path with spaces is legal conf but not a valid URI — must
    // be taken verbatim, not rejected
    assert(Sinks.warehousePath("/tmp/graft wh plain").toString === "/tmp/graft wh plain")
    // the session form resolves to an existing directory for this JVM
    assert(java.nio.file.Files.exists(Sinks.warehousePath(spark).getParent))
  }

  test("dropTableAndLocation clears a leftover location so saveAsTable succeeds after 'restart'") {
    import java.nio.file.Files
    import graft.io.Sinks
    val loc = Sinks.warehousePath(spark).resolve("graft_stale_t")
    // simulate a previous JVM's leftover: a directory at the managed
    // location with no catalog entry
    Files.createDirectories(loc)
    Files.write(loc.resolve("junk"), "x".getBytes)
    Sinks.dropTableAndLocation(spark, "graft_stale_t")
    assert(!Files.exists(loc), "stale location must be cleared")
    spark.range(5).write.saveAsTable("graft_stale_t")
    assert(spark.table("graft_stale_t").count() === 5)
    Sinks.dropTableAndLocation(spark, "graft_stale_t")
    assert(!spark.catalog.tableExists("graft_stale_t") && !Files.exists(loc))
  }

  test("XML roundtrip equals the same aggregate straight off parquet") {
    import graft.Det.moneySum
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
    val viaXml = graft.ops.Etl.xmlRoundtrip(spark, sfDir).collect()
    val direct = graft.io.Sources.part(spark, sfDir)
      .filter(col("p_partkey") % 4 === 0)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
           moneySum(col("p_retailprice")).as("sum_price"),
           countDistinct(col("p_type")).as("n_types"))
      .orderBy(col("p_brand")).collect()
    assert(viaXml.toSeq === direct.toSeq)
    assert(viaXml.nonEmpty)
  }

  test("VARIANT extraction agrees with the string-path JSON extraction") {
    val viaVariant = Etl.variantExtract(spark, sfDir)
      .select("event_type", "n", "sum_k", "min_k", "max_k").collect()
    val viaJson = Etl.jsonExtract(spark, sfDir).collect()
    assert(viaVariant.toSeq === viaJson.toSeq)
    assert(viaVariant.nonEmpty)
  }

  test("schema merge: evolved read equals the never-evolved direct aggregate") {
    import org.apache.spark.sql.functions._
    import graft.Det.{asOut, money}
    val merged = Etl.schemaMerge(spark, sfDir).collect()
    val direct = graft.io.Sources.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
           count(when(col("o_orderkey") % 2 === 1, 1)).as("n_with_price"),
           asOut(sum(when(col("o_orderkey") % 2 === 1, money(col("o_totalprice")))))
             .as("sum_price"))
      .orderBy(col("o_orderpriority")).collect()
    assert(merged.toSeq === direct.toSeq)
    assert(merged.nonEmpty)
    // v1 rows really do lack the column: price is NULL for even keys
    assert(merged.forall(r => r.getLong(1) > r.getLong(2)),
      "some rows must come from the pre-evolution generation")
  }

}
