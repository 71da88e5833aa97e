package graft.io

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.model.Schemas

/** Readers — the engine's ingest layer (analogue of postpy's
  * connections/copy_from_csv surface; SURVEY.md §2 A).
  *
  * Parquet is the primary columnar source: the vectorized reader +
  * filter/column pushdown are what make the 100 TB case work — operators
  * must keep predicates/projections declarative so they reach
  * FileSourceScan as PushedFilters/ReadSchema.
  */
object Sources {

  /** Read a named test table from an sf dir with its declared schema
    * (Schemas.all), never an inferred one. Handing the reader the schema
    * is what keeps a table read free of Spark jobs: without it every read
    * launches a one-task job just to read a footer. A given schema has a
    * hazard inference lacks: a declared column the file does not hold
    * reads as nulls without a word. So the files' footers are checked
    * against the declared schema first (`requireFooterSchema`), and a
    * mismatch fails naming the file and the column.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = Schemas.all.getOrElse(name,
      throw new IllegalArgumentException(s"no declared schema for table $name"))
    requireFooterSchema(path, footers(spark, path), schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")

  /** One parquet data file's footer: its schema as Spark converts it
    * (TIMESTAMP(NANOS) as LongType, see `events`) and the top-level
    * columns stored as TIMESTAMP(NANOS).
    */
  final case class Footer(file: String, schema: StructType, nanosColumns: Set[String])

  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Footer]]()

  /** The footers of every data file at `path` (one file, or every
    * `*.parquet` file directly under a directory). Driver-side metadata reads only,
    * no Spark job and no data pass. The cache key carries each file's
    * (path, mtime, length): rewriting the data at the same path within
    * one JVM invalidates the entry instead of replaying a stale footer.
    */
  def footers(spark: SparkSession, path: String): Seq[Footer] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val root = fs.getFileStatus(p)
    val files =
      if (root.isDirectory) {
        val fl = fs.listStatus(p)
          .filter(f => f.getPath.getName.endsWith(".parquet") &&
                       !f.getPath.getName.startsWith("_"))
          .sortBy(_.getPath.getName)
        if (fl.isEmpty) throw new IllegalArgumentException(s"no parquet files under $path")
        fl.toSeq
      } else Seq(root)
    val key = files.map(f =>
      s"${f.getPath}@${f.getModificationTime}:${f.getLen}").mkString("|")
    footerCache.computeIfAbsent(key, _ => {
      import org.apache.parquet.schema.LogicalTypeAnnotation
      // the session's conversion rules (binary-as-string, NTZ inference,
      // ...), except that NANOS converts to LongType instead of failing
      val sqlConf = spark.sessionState.conf.clone()
      sqlConf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
      val converter = new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(sqlConf)
      files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, hadoopConf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val schema = reader.getFooter.getFileMetaData.getSchema
          val nanos = schema.getFields.asScala.filter(_.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
            case _ => false
          }).map(_.getName).toSet
          Footer(f.getPath.toString, converter.convert(schema), nanos)
        } finally reader.close()
      }
    })
  }

  /** Fail unless every file holds each `declared` column with its declared
    * type (`schemaDrift`: names and types, nullability ignored). Columns a
    * file holds beyond the declared ones are fine; the reader skips them.
    */
  private def requireFooterSchema(path: String, files: Seq[Footer], declared: StructType): Unit =
    files.foreach { f =>
      val drift = schemaDrift(f.schema, declared)
      if (drift.nonEmpty) throw new IllegalStateException(
        s"parquet file ${f.file} does not match the schema declared for $path: " +
          drift.mkString("; "))
    }

  /** events.ts physical-unit handling. Across driver rounds the test
    * generator has shipped events.ts BOTH as parquet INT64
    * TIMESTAMP(NANOS) — which Spark has no type for and refuses by
    * default — and as plain TIMESTAMP(MICROS). Hardcoding either unit
    * misreads the other by 1000× SILENTLY (the raw longs parse fine and
    * every date lands in Jan 1970), so the reader takes the unit from the
    * footers (`footers`, the same cached read that checks the schema) and
    * picks the plan:
    *
    *  - NANOS: force ts to LongType (the nanos-as-long reader option is
    *    scoped to this relation, not the session), then truncate with
    *    integer DIV — exactly DuckDB's ns→us conversion — into
    *    TIMESTAMP_NTZ to match the other tables (all naive timestamps,
    *    session pinned UTC — SURVEY §2.1.4).
    *  - MICROS (or anything Spark reads natively): request TIMESTAMP_NTZ
    *    directly; the normalization is an identity cast.
    */
  /** Raw on-disk events schema for the NANOS variant: ts as the
    * nanosecond long it physically is (derived from Schemas.events — ONE
    * source of truth for batch and streaming readers).
    */
  val eventsRawSchema: StructType = StructType(Schemas.events.fields.map {
    case f if f.name == "ts" => f.copy(dataType = org.apache.spark.sql.types.LongType)
    case f => f
  })

  /** The ns→us ts normalization (DuckDB-identical integer DIV). */
  val eventsTsNormalization: String = "CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"

  /** True iff the events `files` store ts as TIMESTAMP(NANOS). ALL data
    * files under a directory must agree — a mixed-unit directory would
    * otherwise have its remaining files silently misread by 1000×, so
    * disagreement fails loudly here.
    */
  private def tsIsNanos(path: String, files: Seq[Footer]): Boolean = {
    val units = files.map(f => f.file -> f.nanosColumns("ts"))
    val distinct = units.map(_._2).distinct
    require(distinct.size == 1,
      s"mixed ts timestamp units across parquet files at $path: " +
        units.map { case (f, n) => s"${f.split('/').last}=${if (n) "NANOS" else "MICROS"}" }
          .mkString(", "))
    distinct.head
  }

  /** The (forced schema, ts-normalization SQL) pair for an events source
    * at `path`, checked against its footers — shared by the batch reader
    * and the readStream twin so the two can't drift.
    */
  def eventsReadPlan(spark: SparkSession, path: String): (StructType, String) = {
    val files = footers(spark, path)
    val plan =
      if (tsIsNanos(path, files)) (eventsRawSchema, eventsTsNormalization)
      else (Schemas.events, "CAST(ts AS TIMESTAMP_NTZ)")
    requireFooterSchema(path, files, plan._1)
    plan
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    val (schema, norm) = eventsReadPlan(spark, s"$dir/events.parquet")
    spark.read
      .schema(schema)
      .option("spark.sql.legacy.parquet.nanosAsLong", "true")
      .parquet(s"$dir/events.parquet")
      .withColumn("ts", org.apache.spark.sql.functions.expr(norm))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Postgres codec name → Java charset name — the engine's analogue of
    * postpy's encoding registry (pg_encodings.get_postgres_encoding
    * [unverified, SURVEY §0], direction reversed: the reference maps
    * python codec → PG name to tell the server; we map PG name → JVM
    * charset to tell the reader). Keys are normalized uppercase with
    * separators stripped, so 'latin-1', 'LATIN1' and 'latin_1' all hit.
    * Wild-caught CSVs are routinely latin-1/cp1252 — hardwiring UTF-8
    * silently mangles them (no error, wrong bytes).
    */
  val pgEncodings: Map[String, String] = Map(
    "UTF8"      -> "UTF-8",
    "LATIN1"    -> "ISO-8859-1",
    "LATIN2"    -> "ISO-8859-2",
    "LATIN5"    -> "ISO-8859-9",
    "LATIN9"    -> "ISO-8859-15",
    "ISO88591"  -> "ISO-8859-1",
    "ISO885915" -> "ISO-8859-15",
    "WIN1250"   -> "windows-1250",
    "WIN1251"   -> "windows-1251",
    "WIN1252"   -> "windows-1252",
    "CP1252"    -> "windows-1252",
    "SQLASCII"  -> "US-ASCII",
    "KOI8R"     -> "KOI8-R",
    "EUCJP"     -> "EUC-JP",
    "EUCKR"     -> "EUC-KR",
    "SJIS"      -> "Shift_JIS",
    "GBK"       -> "GBK",
    "GB18030"   -> "GB18030",
    "BIG5"      -> "Big5",
    "UTF16"     -> "UTF-16",
  )

  /** Resolve a PG-style encoding name to a JVM charset; unknown names fall
    * through verbatim (the JVM may still know them) but must resolve to a
    * supported charset — failing LOUDLY beats decoding with wrong bytes.
    */
  def charsetFor(pgName: String): String = {
    val cs = pgEncodings.getOrElse(pgName.toUpperCase.replaceAll("[-_ ]", ""), pgName)
    require(java.nio.charset.Charset.isSupported(cs), s"unsupported encoding: $pgName")
    cs
  }

  /** CSV read with required explicit schema — the COPY FROM CSV analogue
    * (postpy dml.copy_from_csv [unverified, SURVEY §0]). Header on,
    * empty-string → null; `encoding` accepts either a PG codec name
    * (LATIN1, WIN1252…) or a Java charset name, via `charsetFor`.
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true, nullValue: String = "",
          encoding: String = "UTF-8"): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("nullValue", nullValue)
      .option("encoding", charsetFor(encoding))
      .csv(path)

  /** JSON-lines read with explicit schema. */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Forgiving CSV bulk load: malformed rows land in a quarantine column
    * instead of failing the job (PERMISSIVE + columnNameOfCorruptRecord) —
    * at 100 TB a single bad row must never kill a load; the caller splits
    * `_corrupt` IS NULL / IS NOT NULL into clean + quarantine sinks.
    */
  def csvWithQuarantine(spark: SparkSession, path: String, schema: StructType,
                        header: Boolean = true): DataFrame = {
    val withCorrupt = org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        "_corrupt", org.apache.spark.sql.types.StringType))
    spark.read
      .schema(withCorrupt)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
  }

  /** JDBC reader options from PG-style env (postpy connections.connect
    * analogue). Pure config construction — unit-testable without a server.
    */
  def jdbcOptions(env: Map[String, String], table: String): Map[String, String] = {
    val host = env.getOrElse("PGHOST", "localhost")
    val port = env.getOrElse("PGPORT", "5432")
    val db   = env.getOrElse("PGDATABASE", "postgres")
    Map(
      "url"      -> s"jdbc:postgresql://$host:$port/$db",
      "dbtable"  -> table,
      "user"     -> env.getOrElse("PGUSER", "postgres"),
      "password" -> env.getOrElse("PGPASSWORD", ""),
      "driver"   -> "org.postgresql.Driver",
      // scale: partitioned reads, not a single-connection scan
      "fetchsize" -> "10000",
    )
  }

  def jdbc(spark: SparkSession, env: Map[String, String], table: String): DataFrame =
    spark.read.format("jdbc").options(jdbcOptions(env, table)).load()

  /** Verify a loaded table matches the expected schema (names + types,
    * ignoring nullability). Returns mismatches; empty = ok.
    */
  def schemaDrift(df: DataFrame, expected: StructType): Seq[String] =
    schemaDrift(df.schema, expected)

  def schemaDrift(actual: StructType, expected: StructType): Seq[String] = {
    val types = actual.map(f => f.name -> f.dataType.simpleString).toMap
    expected.flatMap { f =>
      types.get(f.name) match {
        case None => Some(s"missing column ${f.name}")
        case Some(t) if t != f.dataType.simpleString =>
          Some(s"${f.name}: expected ${f.dataType.simpleString}, got $t")
        case _ => None
      }
    }
  }

  /** Names of test tables (reflection surface, postpy admin.get_user_tables
    * analogue for the file catalog).
    */
  val tableNames: Seq[String] = Schemas.all.keys.toSeq.sorted
}
