package graft.catalog

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.graftbridge.Materialize
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** FILE-BACKED DataSource-V2 catalog whose tables support ROW-LEVEL
  * OPERATIONS — this is what makes `MERGE INTO` EXECUTABLE SQL against the
  * engine (the reference's `INSERT … ON CONFLICT DO UPDATE`,
  * postpy dml.upsert_records [unverified, SURVEY §0]), rather than only a
  * dataflow (ops.Merge.upsert). Register with
  * `spark.sql.catalog.<name> = graft.catalog.GraftCatalog`; the warehouse
  * directory comes from `spark.sql.catalog.<name>.warehouse` (defaults to
  * `graft.Session.scratch("catalog_<name>")`).
  *
  * Storage is a minimal table FORMAT, not driver memory: each table is a
  * directory of immutable row-group files plus a `manifest` listing the
  * live ones. Write tasks stream their rows to new group files EXECUTOR-
  * side (nothing is collected to the driver); a commit publishes the new
  * live set by atomically replacing the manifest — readers see the pre- or
  * post-commit file set, never a mix. This is the Iceberg/Delta commit
  * shape in miniature: data files are immutable, the manifest swap is the
  * only mutation, and a crashed job leaves only unreferenced orphan files.
  *
  * The row-level strategy is GROUP-BASED copy-on-write sharded by file:
  * Spark's RewriteMergeIntoTable plans a ReplaceData — the operation's
  * scan reads the live groups, the post-merge rows (updated matched rows +
  * carried-over unmatched rows + inserts) are written as NEW groups, and
  * the commit swaps the manifest from the scanned file set to the new one.
  *
  * GROUP-FILE FORMAT — measured decision (round 7). Group files are
  * ROW-oriented (length-prefixed UnsafeRows). The columnar alternative
  * was A/B'd honestly (a since-deleted A/B tool — lineitem, min-of-3
  * per run, best of 3 runs on a shared box, local[32], sf1 = 6M rows;
  * GroupFormatABSpec pins that both formats answer its three shapes
  * identically):
  *
  *   shape            | rows s | parquet s | parquet speedup
  *   wide (all cols)  |  0.128 |   0.111   | ~1x (row format competitive)
  *   narrow 2-col agg |  0.303 |   0.194   | 1.6x
  *   filtered narrow  |  0.224 |   0.124   | 1.8x
  *
  * Parquet wins every PRUNED/FILTERED shape — vectorized decode and
  * per-column IO the row format cannot do — and the gap grows with
  * selectivity; full-width access is a wash (UnsafeRow decode is one
  * memcpy). The row format is kept anyway because the catalog's
  * differentiators are transactional, not scan-bound: merge-on-read
  * delete vectors index PHYSICAL ROW ORDINALS of the stream layout,
  * compaction is a zero-decode byte concatenation, and the row-level
  * rewrite paths move O(changed rows). The engine's guidance is
  * test-pinned (GroupFormatABSpec): immutable scan-bound fact tables
  * belong in plain parquet (Sources/Sinks — every declared bench key
  * reads it); catalog tables are for the MUTABLE surface (MERGE/upsert
  * dimensions, CDC apply targets, time travel), where scans are small
  * or filtered by the manifest's stats/blooms/partitions before any
  * file is opened. Forward path if scan-bound catalog tables become a
  * need: parquet group files keep the commit machinery intact (delete
  * vectors become parquet row ordinals; ParquetFileWriter.appendFile
  * preserves zero-decode compaction).
  *
  * RUNTIME GROUP FILTERING makes the rewrite proportional to the touched
  * data, not the table: the manifest carries per-file min/max stats for
  * long-typed columns, the operation's scan implements
  * SupportsRuntimeV2Filtering over those columns, and Spark's
  * RowLevelOperationRuntimeGroupFiltering rule feeds it the set of keys
  * that actually match the MERGE/DELETE/UPDATE source. Files whose stats
  * range can't contain any matching key are never scanned — and because
  * the commit replaces only the groups the scan PLANNED, they are never
  * rewritten either (CatalogSpec proves untouched groups survive a MERGE
  * byte-identical). This is the Iceberg copy-on-write shape: at 100 TB a
  * MERGE touching one day's keys rewrites one day's files.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
    with ProcedureCatalog {

  private var catalogName: String = "graft"
  private var warehouse: Path = Paths.get(graft.Session.scratch("catalog"))
  // the table registry is keyed by WAREHOUSE, not held per instance:
  // Spark re-instantiates catalog plugins in cloned sessions (streaming
  // micro-batches run in one; spark.newSession() makes another), and an
  // instance-held map would make tables vanish there. Same-warehouse
  // instances sharing one registry is exactly the semantics an external
  // metastore would give.
  private def tables: TrieMap[String, GraftTable] =
    GraftCatalog.registryFor(warehouse.toAbsolutePath.toString)

  private def key(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Paths.get(Option(options.get("warehouse"))
      .getOrElse(graft.Session.scratch(s"catalog_$name")))
  }
  override def name(): String = catalogName

  /** Column DEFAULT values are supported (`CREATE TABLE (c INT DEFAULT 5)`,
    * `ALTER TABLE ADD COLUMN c INT DEFAULT 5`): without this capability
    * Spark rejects the DDL before it ever reaches the catalog. INSERT-side
    * defaults are the analyzer's job (driven by the CURRENT_DEFAULT field
    * metadata this catalog stores); the READ side — rows in files written
    * before the column existed must serve the add-time default, not NULL —
    * is [[GroupRowsReader]]'s (the Iceberg initial-default model, still
    * metadata-only schema evolution).
    */
  override def capabilities(): util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** FunctionCatalog surface: Spark resolves the `bucket` transform in
    * write distributions and scan-reported partitionings against the
    * TABLE'S OWN catalog — without this, RequiresDistributionAndOrdering
    * on a bucket expression and KeyGroupedPartitioning both fail to
    * resolve and the storage-partitioned join never engages.
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array("bucket", "days", "months").map(Identifier.of(namespace, _))
  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name() match {
      case "bucket" => GraftBucketFunction
      case "days" => GraftPartitionTransforms.daysFunction
      case "months" => GraftPartitionTransforms.monthsFunction
      case _ => throw new NoSuchFunctionException(ident)
    }

  /** MAINTENANCE PROCEDURES (`CALL <cat>.system.<proc>(...)`) — the SQL
    * surface for the operations a table needs run periodically at scale
    * (Iceberg's `CALL catalog.system.rewrite_data_files` shape):
    * `compact(table, target_mb)` bin-packs small groups,
    * `materialize_deletes(table)` folds merge-on-read vectors back into
    * data files, `history(table)` lists the retained snapshots. Each
    * returns a small result set describing what it did.
    */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      Array("compact", "materialize_deletes", "history", "expire_snapshots",
            "rollback_to", "tag", "drop_tag", "rewrite_zorder", "validate_pk")
        .map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    require(ident.namespace().sameElements(Array("system")),
      s"unknown procedure namespace ${ident.namespace().mkString(".")}")

    def dirOf(tableName: String): Path = {
      val parts = tableName.split('.')
      val id = if (parts.length == 1) Identifier.of(Array("default"), parts.head)
               else Identifier.of(parts.dropRight(1), parts.last)
      Paths.get(loadTable(id).asInstanceOf[GraftTable].location)
    }

    def unbound(procName: String,
                params: Array[procedures.ProcedureParameter],
                schema: StructType,
                run: InternalRow => Seq[InternalRow]): procedures.UnboundProcedure =
      new procedures.UnboundProcedure {
        override def name(): String = procName
        override def bind(inputType: StructType): procedures.BoundProcedure =
          new procedures.BoundProcedure {
            override def name(): String = procName
            override def parameters(): Array[procedures.ProcedureParameter] = params
            override def isDeterministic: Boolean = false
            override def call(input: InternalRow): util.Iterator[Scan] =
              util.List.of[Scan](new GraftLocalScan(schema, run(input))).iterator()
          }
      }

    def out(vals: Any*): Seq[InternalRow] =
      Seq(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        vals.toArray))

    ident.name() match {
      case "compact" => unbound("compact",
        Array(procedures.ProcedureParameter.in("table", StringType).build(),
              procedures.ProcedureParameter.in("target_mb", IntegerType)
                .defaultValue("128").build()),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("groups_before", LongType, false),
          org.apache.spark.sql.types.StructField("groups_after", LongType, false))),
        { input =>
          val dir = dirOf(input.getUTF8String(0).toString)
          val before = GroupFiles.live(dir).size.toLong
          GroupFiles.compact(dir, input.getInt(1).toLong << 20)
          out(before, GroupFiles.live(dir).size.toLong)
        })
      case "materialize_deletes" => unbound("materialize_deletes",
        Array(procedures.ProcedureParameter.in("table", StringType).build()),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("groups_rewritten", LongType, false))),
        { input =>
          val dir = dirOf(input.getUTF8String(0).toString)
          val masked = GroupFiles.live(dir).count(_.deletes.isDefined).toLong
          GroupFiles.materializeDeletes(dir)
          out(masked)
        })
      case "history" => unbound("history",
        Array(procedures.ProcedureParameter.in("table", StringType).build()),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("version", LongType, false),
          org.apache.spark.sql.types.StructField("committed_at", LongType, false),
          org.apache.spark.sql.types.StructField("live_groups", LongType, false))),
        { input =>
          val dir = dirOf(input.getUTF8String(0).toString)
          GroupFiles.history(dir).map { case (v, at, n) =>
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](v, at, n.toLong)): InternalRow
          }
        })
      case "expire_snapshots" => unbound("expire_snapshots",
        Array(procedures.ProcedureParameter.in("table", StringType).build(),
              procedures.ProcedureParameter.in("keep", IntegerType)
                .defaultValue("2").build()),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("expired", LongType, false))),
        { input =>
          val dir = dirOf(input.getUTF8String(0).toString)
          out(GroupFiles.expireSnapshots(dir, input.getInt(1)).toLong)
        })
      case "rollback_to" => unbound("rollback_to",
        Array(procedures.ProcedureParameter.in("table", StringType).build(),
              procedures.ProcedureParameter.in("version", LongType).build()),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("previous_version", LongType, false),
          org.apache.spark.sql.types.StructField("current_version", LongType, false))),
        { input =>
          val dir = dirOf(input.getUTF8String(0).toString)
          val (prev, cur) = GroupFiles.rollbackToVersions(dir, input.getLong(1))
          out(prev, cur)
        })
      case "tag" => unbound("tag",
        Array(procedures.ProcedureParameter.in("table", StringType).build(),
              procedures.ProcedureParameter.in("name", StringType).build(),
              // -1 sentinel = tag the CURRENT version
              procedures.ProcedureParameter.in("version", LongType)
                .defaultValue("-1").build()),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("name", StringType, false),
          org.apache.spark.sql.types.StructField("version", LongType, false))),
        { input =>
          val dir = dirOf(input.getUTF8String(0).toString)
          val name = input.getUTF8String(1).toString
          val v = input.getLong(2) match {
            case -1L => GroupFiles.version(dir)
            case x => x
          }
          GroupFiles.setTag(dir, name, v)
          out(org.apache.spark.unsafe.types.UTF8String.fromString(name), v)
        })
      case "rewrite_zorder" => unbound("rewrite_zorder",
        // the OPTIMIZE ZORDER BY (c1, c2) analogue: rewrite the table
        // clustered by the Morton interleave of the two columns' 256-way
        // rank buckets, into `target_groups` contiguous-z group files —
        // after which per-group min/max stats prune scans filtered on
        // EITHER column. Rank buckets here come from ntile (a global
        // sort); at 100 TB substitute approximate range bounds (the
        // repartitionByRange sampler) — the layout contract is identical.
        Array(procedures.ProcedureParameter.in("table", StringType).build(),
              procedures.ProcedureParameter.in("col1", StringType).build(),
              procedures.ProcedureParameter.in("col2", StringType).build(),
              procedures.ProcedureParameter.in("target_groups", IntegerType)
                .defaultValue("8").build()),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("groups_before", LongType, false),
          org.apache.spark.sql.types.StructField("groups_after", LongType, false),
          org.apache.spark.sql.types.StructField("n_rows", LongType, false))),
        { input =>
          import org.apache.spark.sql.functions.{col, ntile}
          val spark = org.apache.spark.sql.SparkSession.active
          val tbl = input.getUTF8String(0).toString
          val (c1, c2) = (input.getUTF8String(1).toString, input.getUTF8String(2).toString)
          val ng = input.getInt(3)
          require(ng >= 1, s"target_groups must be >= 1, got $ng")
          val dir = dirOf(tbl)
          val before = GroupFiles.live(dir).size.toLong
          // bare one-part names resolve to 'default' exactly as dirOf does
          // — the spark.table identifier must agree with the directory
          val parts = if (tbl.contains('.')) tbl.split('.').toSeq else Seq("default", tbl)
          val qualified = (catalogName +: parts)
            .map(p => s"`${p.replace("`", "``")}`").mkString(".")
          val w = org.apache.spark.sql.expressions.Window
          val df = spark.table(qualified)
          val z = graft.ops.Scale.zorder2(
            ntile(256).over(w.orderBy(col(c1))).cast("long") - 1,
            ntile(256).over(w.orderBy(col(c2))).cast("long") - 1, 8)
          // materialize BEFORE the overwrite — the plan reads the table
          // it is about to replace
          val sorted = Materialize.snapshot(df.withColumn("__z", z)
            .repartitionByRange(ng, col("__z"))
            .sortWithinPartitions(col("__z"))
            .drop("__z"))
          val nRows = sorted.count()
          val tmp = s"__zorder_stage_${java.util.UUID.randomUUID().toString.replace("-", "")}"
          sorted.createOrReplaceTempView(tmp)
          try spark.sql(s"INSERT OVERWRITE $qualified SELECT * FROM $tmp")
          finally spark.catalog.dropTempView(tmp)
          out(before, GroupFiles.live(dir).size.toLong, nRows)
        })
      case "validate_pk" => unbound("validate_pk",
        // the postpy PrimaryKey audit, engine-side: PKs are not
        // engine-enforced in an analytical store (uniqueness on write
        // would serialize ingest), so the honest contract is a cheap
        // on-demand validation — duplicate key-group count and the
        // worst offender, computed as one aggregate (never row data to
        // the driver)
        Array(procedures.ProcedureParameter.in("table", StringType).build(),
              procedures.ProcedureParameter.in("key_cols", StringType).build()),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("n_rows", LongType, false),
          org.apache.spark.sql.types.StructField("n_keys", LongType, false),
          org.apache.spark.sql.types.StructField("n_dup_keys", LongType, false),
          org.apache.spark.sql.types.StructField("max_multiplicity", LongType, false))),
        { input =>
          import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, sum, when}
          val spark = org.apache.spark.sql.SparkSession.active
          val tbl = input.getUTF8String(0).toString
          val keys = input.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty)
          require(keys.nonEmpty, "key_cols must name at least one column")
          val parts = if (tbl.contains('.')) tbl.split('.').toSeq else Seq("default", tbl)
          val qualified = (catalogName +: parts)
            .map(p => s"`${p.replace("`", "``")}`").mkString(".")
          val perKey = spark.table(qualified)
            .groupBy(keys.map(col).toIndexedSeq: _*)
            .agg(count(lit(1)).as("n"))
          val r = perKey.agg(
            sum(col("n")).as("rows"),
            count(lit(1)).as("keys"),
            sum(when(col("n") > 1, 1L).otherwise(0L)).as("dups"),
            max(col("n")).as("maxm")).collect()(0)
          def lz(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
          out(lz(0), lz(1), lz(2), lz(3))
        })
      case "drop_tag" => unbound("drop_tag",
        Array(procedures.ProcedureParameter.in("table", StringType).build(),
              procedures.ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("existed", org.apache.spark.sql.types.BooleanType, false))),
        { input =>
          val dir = dirOf(input.getUTF8String(0).toString)
          out(Boolean.box(GroupFiles.dropTag(dir, input.getUTF8String(1).toString)))
        })
      case other => throw new UnsupportedOperationException(
        s"unknown procedure system.$other")
    }
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    tables.keys.toArray.sorted.map { k =>
      val parts = k.split('.'); Identifier.of(parts.dropRight(1), parts.last)
    }.filter(_.namespace().sameElements(namespace))

  /** Plain loads, plus Iceberg-style METADATA TABLES: `t.files` and
    * `t.snapshots` resolve as read-only driver-side tables over the
    * manifest (the multipart identifier arrives as namespace […, t] +
    * name "files"/"snapshots"). They answer the two operational questions
    * a 100 TB table gets asked daily — what files back you, what commits
    * exist — without opening a data file, and make the manifest auditable
    * from plain SQL instead of engine internals.
    */
  override def loadTable(ident: Identifier): Table =
    tables.get(key(ident)) match {
      case Some(t) => t
      case None =>
        val kind = ident.name().toLowerCase
        if (ident.namespace().nonEmpty && GraftMetadataTable.KINDS.contains(kind)) {
          val parent = Identifier.of(
            ident.namespace().dropRight(1), ident.namespace().last)
          tables.get(key(parent)) match {
            case Some(base) =>
              new GraftMetadataTable(s"${base.name()}.$kind", base, kind)
            case None => throw new NoSuchTableException(ident)
          }
        } else throw new NoSuchTableException(ident)
    }

  /** TIME TRAVEL by wall clock (`SELECT … FROM t TIMESTAMP AS OF ts`):
    * Spark hands the timestamp in MICROSECONDS; resolve to the newest
    * retained snapshot committed at or before it (snapshot commit time =
    * the manifest snapshot file's mtime — the same clock DESCRIBE HISTORY
    * reports). A timestamp before every retained snapshot fails loudly,
    * exactly like an expired VERSION AS OF.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val t = tables.getOrElse(key(ident), throw new NoSuchTableException(ident))
    val tsMillis = Math.floorDiv(timestamp, 1000L)
    val hist = GroupFiles.snapshotTimes(Paths.get(t.location)) // newest first
    val v = hist.collectFirst { case (ver, at) if at <= tsMillis => ver }
      .getOrElse(throw new IllegalArgumentException(
        s"no retained snapshot of ${t.name()} at or before epoch-ms $tsMillis " +
        s"(oldest retained: ${hist.lastOption.map(h => s"v${h._1} @ ${h._2}").getOrElse("none")})"))
    new GraftTable(t.name(), t.schema(), t.location, pinnedVersion = Some(v), props = t.props)
  }

  /** TIME TRAVEL (`SELECT … FROM t VERSION AS OF k`): every commit keeps a
    * numbered manifest snapshot (`manifest.v<k>`), so a versioned load is
    * just the same table pinned to snapshot k's live set. Reads use the
    * CURRENT schema (older, narrower groups null-pad exactly as they do on
    * live reads). Writes through a pinned table are rejected. Snapshots
    * expire after [[GroupFiles.RETAIN]] commits — an expired version fails
    * loudly rather than reading a partial file set.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = tables.getOrElse(key(ident), throw new NoSuchTableException(ident))
    // a non-numeric version string is a TAG lookup (`VERSION AS OF 'v1'`)
    // — names are never all-digits by construction, so the two spaces
    // cannot collide
    val v = version.toLongOption.getOrElse {
      GroupFiles.tags(Paths.get(t.location)).getOrElse(version,
        throw new IllegalArgumentException(
          s"'$version' is neither a commit number nor a tag of ${t.name()} " +
          s"(tags: ${GroupFiles.tags(Paths.get(t.location)).keys.toSeq.sorted.mkString(", ")})"))
    }
    new GraftTable(t.name(), t.schema(), t.location, pinnedVersion = Some(v), props = t.props)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tables.contains(key(ident))) throw new TableAlreadyExistsException(ident)
    // UNIQUE location per table INSTANCE, not per name: a renamed table
    // keeps its directory, so a name-derived location would collide when
    // the old name is re-created (reset would wipe the renamed table's
    // data). The uuid suffix makes directory ownership unambiguous across
    // any create/rename/drop sequence.
    val reserved = schema.fieldNames.filter(n =>
      n.equalsIgnoreCase(GraftTable.FILE_COL) || n.equalsIgnoreCase(GraftTable.POS_COL))
    require(reserved.isEmpty,
      s"column name(s) ${reserved.mkString(", ")} are reserved for scan metadata")
    // `PARTITIONED BY (...)` supports ONE transform: bucket(n, col) (the
    // transform spelling of TBLPROPERTIES bucket_by/buckets), identity
    // (`PARTITIONED BY (col)`), days(ts) or months(ts) — the Iceberg-style
    // value layouts. Anything else is an unsupported layout and must fail
    // the CREATE loudly rather than be silently ignored.
    require(partitions.length <= 1,
      "at most one partition transform is supported (bucket(n, col), identity col, days(ts) or months(ts))")
    val bucketProps = partitions.toSeq.map {
      case t if t.name().equalsIgnoreCase("bucket") =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value().toString.toInt
        }.getOrElse(throw new IllegalArgumentException("bucket() needs a bucket count"))
        val cols = t.references().toSeq
        require(cols.length == 1, "bucket() over exactly one column is supported")
        Map("bucket_by" -> cols.head.fieldNames().mkString("."),
            "buckets" -> n.toString)
      case t if GraftPartitionTransforms.names.contains(t.name().toLowerCase) =>
        val cols = t.references().toSeq
        require(cols.length == 1, s"${t.name()}() over exactly one column is supported")
        Map("partition_by" -> cols.head.fieldNames().mkString("."),
            "partition_transform" -> t.name().toLowerCase)
      case other => throw new UnsupportedOperationException(
        s"partition transform not supported: $other " +
        "(only bucket(n, col), identity col, days(ts), months(ts))")
    }.foldLeft(Map.empty[String, String])(_ ++ _)
    require(bucketProps.isEmpty ||
        !properties.asScala.keys.exists(k =>
          k.equalsIgnoreCase("bucket_by") || k.equalsIgnoreCase("buckets") ||
          k.equalsIgnoreCase("partition_by") || k.equalsIgnoreCase("partition_transform")),
      "layout declared both as a partition transform and in TBLPROPERTIES")
    val location = warehouse.resolve(
      key(ident).replace('.', '/') + "_" + java.util.UUID.randomUUID().toString.take(8))
    GroupFiles.reset(location)
    // bucketSpec validation happens in the constructor — a bad spec fails
    // the CREATE, not the first write
    val t = new GraftTable(key(ident), schema, location.toString,
                           props = properties.asScala.toMap ++ bucketProps)
    tables.put(key(ident), t)
    t
  }

  /** Schema evolution, Iceberg-style: ADD / RENAME / DROP COLUMN are all
    * METADATA-ONLY — no data file is ever touched. The mechanism is
    * stable FIELD IDS ([[GraftTable.fieldIds]]): a rename keeps the id
    * (old files keep serving the column under its new name), a drop
    * retires the id (old files' bytes for it are skipped at read), an
    * add mints a fresh id (old files read NULL for it). Files record
    * their id list in the manifest (`#f=`), so position stays decodable
    * forever. At 100 TB this is the only acceptable cost model for
    * evolving a schema.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = tables.getOrElse(key(ident), throw new NoSuchTableException(ident))
    val dir = Paths.get(t.location)
    var schema = t.schema()
    var ids = t.fieldIds
    var props = t.props
    // the high-water mark outlives drops: without it, dropping the
    // highest-id column and adding a new one would REUSE the retired id
    // and old files would serve the dead column's bytes as the new one
    var nextId = props.get(GraftTable.NEXT_ID).map(_.toInt)
      .getOrElse(ids.maxOption.getOrElse(-1) + 1)
    // manifest rewrites are DEFERRED and applied as ONE commit after all
    // changes validate: a failing later change must not leave the
    // manifest (stats rekeyed, ids materialized) divergent from the
    // table metadata this method then never installs
    val manifestEdits =
      scala.collection.mutable.ArrayBuffer.empty[Seq[Group] => Seq[Group]]
    // partition EVOLUTION marker: the spec seq bumps ONCE per ALTER and
    // only when the (partition_by, partition_transform) pair actually
    // changes VALUE — an idempotent re-apply of the identical layout must
    // not mint a new spec (it would permanently split compaction bins;
    // Iceberg likewise reuses the spec id for an identical spec)
    val layoutBefore =
      (props.get("partition_by"), props.get("partition_transform"))
    var layoutChanged = false
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "only top-level ADD COLUMN is supported")
        require(!schema.fieldNames.contains(add.fieldNames().head),
          s"column ${add.fieldNames().head} already exists")
        require(add.position() == null,
          "ADD COLUMN FIRST/AFTER is not supported (columns append; " +
          "field ids make position cosmetic anyway)")
        // DEFAULT is metadata-only like the rest of schema evolution:
        // CURRENT_DEFAULT drives the analyzer's INSERT-side fill;
        // EXISTS_DEFAULT (frozen at add time, stored as the EVALUATED
        // literal's SQL so later session state can't change it) is what
        // the reader serves for rows in files that predate the column
        var field = org.apache.spark.sql.types.StructField(
          add.fieldNames().head, add.dataType(), nullable = true)
        Option(add.defaultValue()).foreach { dv =>
          val frozen = org.apache.spark.sql.catalyst.expressions.Literal(
            dv.getValue.value, dv.getValue.dataType).sql
          import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns._
          field = field.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(field.metadata)
            .putString(CURRENT_DEFAULT_COLUMN_METADATA_KEY, dv.getSql)
            .putString(EXISTS_DEFAULT_COLUMN_METADATA_KEY, frozen)
            .build())
        }
        schema = StructType(schema.fields :+ field)
        ids = ids :+ nextId
        nextId += 1
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          "only top-level RENAME COLUMN is supported")
        val old = rn.fieldNames().head
        val i = schema.fieldIndex(old)
        require(!schema.fieldNames.contains(rn.newName()),
          s"column ${rn.newName()} already exists")
        schema = StructType(schema.fields.updated(i,
          schema.fields(i).copy(name = rn.newName())))
        // stats are keyed by NAME in the manifest: carry them across the
        // rename (they describe the same field id, so they stay valid)
        manifestEdits += (_.map(g => g.copy(
          stats = g.stats.map { case (c, v) => (if (c == old) rn.newName() else c) -> v },
          nonNull = g.nonNull.map { case (c, v) => (if (c == old) rn.newName() else c) -> v })))
        // a bucketed/partitioned table's layout follows its column
        // through the rename
        if (props.get("bucket_by").exists(_.equalsIgnoreCase(old)))
          props += ("bucket_by" -> rn.newName())
        if (props.get("partition_by").exists(_.equalsIgnoreCase(old)))
          props += ("partition_by" -> rn.newName())
        // retained snapshots still key their stats by the OLD name under
        // an unknowable old schema: pinned-version reads stop trusting
        // name-keyed stats once any rename happened (see statsReliable)
        props += (GraftTable.RENAMED -> "true")
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "only top-level DROP COLUMN is supported")
        val name = del.fieldNames().head
        if (!schema.fieldNames.contains(name)) {
          require(del.ifExists(), s"column $name does not exist")
        } else {
          require(schema.length > 1, "cannot drop the only column")
          require(!props.get("bucket_by").exists(_.equalsIgnoreCase(name)),
            s"cannot drop the bucketing column $name")
          require(!props.get("partition_by").exists(_.equalsIgnoreCase(name)),
            s"cannot drop the partitioning column $name")
          val i = schema.fieldIndex(name)
          // strip the dropped column's stats so a future same-named
          // column can never inherit them
          manifestEdits += (_.map(g =>
            g.copy(stats = g.stats - name, nonNull = g.nonNull - name)))
          schema = StructType(schema.fields.patch(i, Nil, 1))
          ids = ids.patch(i, Nil, 1)
          props += (GraftTable.DROPPED -> "true")
        }
      case set: TableChange.SetProperty =>
        // mode switches (delete_mode/update_mode/merge_mode), retention
        // knobs, comments — but never the engine-owned metadata that
        // encodes column identity. The BUCKET layout stays immutable (the
        // scan reports it as a KeyGroupedPartitioning — a mixed-layout
        // table would hand Spark a shuffle-free join plan that is wrong);
        // the VALUE-partition layout is EVOLVABLE (see partitionSpecSeq —
        // pruning is stats-driven, so old files stay correct, just less
        // tightly routed).
        require(!set.property().startsWith("graft."),
          s"property ${set.property()} is engine-managed")
        require(!Seq("bucket_by", "buckets")
            .exists(_.equalsIgnoreCase(set.property())),
          "bucket layout cannot be changed after CREATE (existing files are routed " +
          "and the scan reports the layout as a key-grouped partitioning)")
        // CHECK constraints validate at SET time — a bad expression must
        // fail THIS statement, not the next write
        if (set.property().startsWith(CheckConstraints.PREFIX))
          CheckConstraints.validate(org.apache.spark.sql.SparkSession.active,
            Map(set.property() -> set.value()), schema)
        if (Seq("partition_by", "partition_transform")
            .exists(_.equalsIgnoreCase(set.property()))) {
          layoutChanged = true
          props += (set.property().toLowerCase -> set.value())
        } else props += (set.property() -> set.value())
      case unset: TableChange.RemoveProperty =>
        require(!unset.property().startsWith("graft."),
          s"property ${unset.property()} is engine-managed")
        require(!Seq("bucket_by", "buckets")
            .exists(_.equalsIgnoreCase(unset.property())),
          "bucket layout cannot be removed after CREATE (existing files are routed " +
          "and the scan reports the layout as a key-grouped partitioning)")
        if (Seq("partition_by", "partition_transform")
            .exists(_.equalsIgnoreCase(unset.property()))) {
          layoutChanged = true
          props -= unset.property().toLowerCase
        } else props -= unset.property()
      case other =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE change not supported: $other")
    }
    if (layoutChanged &&
        (props.get("partition_by"), props.get("partition_transform")) != layoutBefore) {
      require(!(props.contains("partition_transform") && !props.contains("partition_by")),
        "partition_transform requires partition_by")
      val seq = props.get(GraftTable.PART_SEQ).map(_.toInt).getOrElse(0)
      props += (GraftTable.PART_SEQ -> (seq + 1).toString)
    }
    if (manifestEdits.nonEmpty && GroupFiles.version(dir) > 0)
      GroupFiles.mutate(dir)(gs => manifestEdits.foldLeft(gs)((acc, f) => f(acc)))
    props += (GraftTable.FIELD_IDS -> ids.mkString(","))
    props += (GraftTable.NEXT_ID -> nextId.toString)
    val replaced = new GraftTable(t.name(), schema, t.location, props = props)
    tables.put(key(ident), replaced)
    replaced
  }

  override def dropTable(ident: Identifier): Boolean =
    tables.remove(key(ident)) match {
      case Some(t) => GroupFiles.delete(Paths.get(t.location)); true
      case None => false
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (tables.contains(key(newIdent))) throw new TableAlreadyExistsException(newIdent)
    tables.remove(key(oldIdent)) match {
      case Some(t) => tables.put(key(newIdent), t) // location is name-independent
      case None => throw new NoSuchTableException(oldIdent)
    }
  }

  // -- minimal namespace surface (flat catalog: every namespace "exists") --
  override def listNamespaces(): Array[Array[String]] = Array(Array("default"))
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def namespaceExists(namespace: Array[String]): Boolean = namespace.length <= 1
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = ()
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit = ()
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = true
}

object GraftCatalog {
  private val registries = new TrieMap[String, TrieMap[String, GraftTable]]()
  private def registryFor(warehouse: String): TrieMap[String, GraftTable] =
    registries.getOrElseUpdate(warehouse, new TrieMap[String, GraftTable]())
}

/** The `bucket(numBuckets, col)` V2 function: pmod of the RAW long (nulls
  * to bucket 0). Deliberately transparent arithmetic, not a mixed hash —
  * the SAME rule is applied by the row-routing writer, by Spark when it
  * shuffles a write to satisfy the clustered distribution, and by the
  * storage-partitioned join when it matches both sides' partition values,
  * and any external engine can reproduce it to write co-bucketed files.
  * `canonicalName` is the SPJ compatibility token: two scans report
  * compatible partitionings iff this string and the argument values match.
  */
object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

  override def name(): String = "bucket"
  override def description(): String = "bucket(numBuckets, col): pmod hash bucket of a BIGINT column"

  def bucketOf(v: Long, n: Int): Int = (((v % n) + n) % n).toInt

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
            inputType.fields(0).dataType == IntegerType &&
            inputType.fields(1).dataType == LongType,
      s"bucket expects (INT numBuckets, BIGINT col), got ${inputType.simpleString}")
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        val v = if (input.isNullAt(1)) 0L else input.getLong(1)
        bucketOf(v, n)
      }
    }
  }
}

/** The VALUE partition transforms (`PARTITIONED BY (col)` / `(days(ts))` /
  * `(months(ts))`): one pure long→long function per transform, applied
  * identically by the row-routing writer and the write-side clustered
  * distribution. `days`/`months` operate on TIMESTAMP_NTZ micros (UTC
  * civil time — the engine pins session UTC, SURVEY §2.1.4); `identity`
  * is the raw long. These are the Iceberg partition-transform analogues —
  * the time layouts a 100 TB event lake is actually organized by.
  */
object GraftPartitionTransforms {
  import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType}

  val MICROS_PER_DAY = 86400000000L

  def apply(transform: String, v: Long): Long = transform match {
    case "identity" => v
    case "days" => Math.floorDiv(v, MICROS_PER_DAY)
    case "months" =>
      val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(v, MICROS_PER_DAY))
      (d.getYear - 1970) * 12L + (d.getMonthValue - 1)
  }

  /** Column types a transform accepts (physical representation must be a
    * long for the writer's getLong routing).
    */
  def accepts(transform: String, dt: DataType): Boolean = transform match {
    case "identity" => dt == LongType || dt == TimestampNTZType
    case "days" | "months" => dt == TimestampNTZType
    case _ => false
  }

  val names: Set[String] = Set("identity", "days", "months")

  /** V2 function forms, so Spark can resolve the transform in a write's
    * clustered distribution against the table's own FunctionCatalog
    * (the GraftBucketFunction pattern).
    */
  class TimeUnbound(fname: String) extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
    import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
    override def name(): String = fname
    override def description(): String = s"$fname(ts): $fname partition value of a TIMESTAMP_NTZ column"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1 &&
              inputType.fields(0).dataType == TimestampNTZType,
        s"$fname expects (TIMESTAMP_NTZ), got ${inputType.simpleString}")
      new ScalarFunction[java.lang.Long] {
        override def inputTypes(): Array[DataType] = Array(TimestampNTZType)
        override def resultType(): DataType = LongType
        override def name(): String = fname
        override def canonicalName(): String = s"graft.$fname"
        override def produceResult(input: InternalRow): java.lang.Long =
          if (input.isNullAt(0)) null
          else GraftPartitionTransforms(fname, input.getLong(0))
      }
    }
  }
  val daysFunction = new TimeUnbound("days")
  val monthsFunction = new TimeUnbound("months")
}

/** One live group file plus its pruning stats: per-column (min, max) for
  * the long-typed columns, gathered by the writing task; `rows` = the
  * file's physical row count; `fieldIds` = the stable field ids of its
  * columns in file position order; `bytes` = its size; `nonNull` =
  * per-column NON-NULL count (stats cover only non-null values, so
  * proving a predicate matches ALL of a group's rows additionally
  * requires nonNull(col) == rows — a NULL row never satisfies any
  * comparison).
  *
  * MANIFEST LINE GRAMMAR — one line per group, tab-separated, the file
  * name first:
  *
  *   required  `#n=<rows>`  `#f=<id,id,…>` (empty for no columns)
  *             `#z=<bytes>`
  *   optional  `#b=<bucket>`  `#p=<partition>`  `#d=<dvfile>:<count>`
  *             `#bm=1`
  *   stats     `<col>=<lo>:<hi>[:<nonNull>]`, one per long column
  *
  * A missing or malformed required token fails the parse; a malformed
  * stats token is dropped (stats only prune).
  */
case class Group(file: String, stats: Map[String, (Long, Long)],
                 rows: Long,
                 fieldIds: Seq[Int],
                 bytes: Long,
                 nonNull: Map[String, Long] = Map.empty,
                 bucket: Option[Int] = None,
                 deletes: Option[(String, Long)] = None,
                 bloom: Boolean = false,
                 part: Option[String] = None) {
  /** Conservative containment test: can this group hold `v` in `col`?
    * Unknown columns → true (no stats, no pruning).
    */
  def mayContain(col: String, v: Long): Boolean =
    stats.get(col).forall { case (lo, hi) => v >= lo && v <= hi }

  /** Provably no NULLs in `col`? (Requires both counts recorded.)
    *
    * Stats, row counts and non-null counts always describe the PHYSICAL
    * file — a delete vector masks a subset of those rows, so every proof
    * over the physical set ("no row matches", "every row matches", "no
    * row is NULL") holds a fortiori for the live subset. Only EXACT
    * answers (COUNT/MIN/MAX pushdown) must account for [[deletes]].
    */
  def noNulls(col: String): Boolean = nonNull.get(col).contains(rows)

  /** Rows visible after masking. */
  def liveRows: Long = rows - deletes.map(_._2).getOrElse(0L)
}

/** Tri-state evaluation of a DSv2 predicate against a group's (min,max)
  * stats: does it match ALL of the group's rows, NONE, or unprovable
  * (SOME)? ALL/NONE power METADATA-ONLY DELETE (drop a fully-covered
  * group from the manifest without opening it — the group-format
  * analogue of partition drop); SOME forces the copy-on-write rewrite.
  * Everything not understood is SOME — conservative, never wrong.
  */
private[catalog] object GroupPredicate {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}

  sealed trait Cov
  case object MatchesAll extends Cov
  case object MatchesNone extends Cov
  case object Unknown extends Cov

  def coverage(g: Group, p: V2Predicate): Cov = p.name() match {
    case "AND" =>
      val cs = p.children().toSeq.map {
        case c: V2Predicate => coverage(g, c)
        case _ => Unknown
      }
      if (cs.contains(MatchesNone)) MatchesNone
      else if (cs.forall(_ == MatchesAll)) MatchesAll
      else Unknown
    case "OR" =>
      val cs = p.children().toSeq.map {
        case c: V2Predicate => coverage(g, c)
        case _ => Unknown
      }
      if (cs.contains(MatchesAll)) MatchesAll
      else if (cs.forall(_ == MatchesNone)) MatchesNone
      else Unknown
    case op @ ("=" | "<" | "<=" | ">" | ">=") =>
      colValue(p) match {
        case Some((c, v)) => g.stats.get(c) match {
          case Some((lo, hi)) =>
            // stats cover NON-NULL values only, and a NULL row never
            // satisfies a comparison — MatchesAll additionally requires a
            // proof the group has no NULLs in the column (MatchesNone
            // needs no such proof: NULL rows don't match either way)
            val all = op match {
              case "=" => lo == v && hi == v
              case "<" => hi < v
              case "<=" => hi <= v
              case ">" => lo > v
              case ">=" => lo >= v
            }
            val none = op match {
              case "=" => v < lo || v > hi
              case "<" => lo >= v
              case "<=" => lo > v
              case ">" => hi <= v
              case ">=" => hi < v
            }
            if (all && g.noNulls(c)) MatchesAll
            else if (none) MatchesNone
            else Unknown
          case None => Unknown
        }
        case None => Unknown
      }
    case "IN" =>
      colValues(p) match {
        case Some((c, vs)) => g.stats.get(c) match {
          case Some((lo, hi)) =>
            if (lo == hi && vs.contains(lo) && g.noNulls(c)) MatchesAll
            else if (vs.forall(v => v < lo || v > hi)) MatchesNone
            else Unknown
          case None => Unknown
        }
        case None => Unknown
      }
    case _ => Unknown
  }

  private def colValue(p: V2Predicate): Option[(String, Long)] =
    colValues(p).collect { case (c, Seq(v)) => (c, v) }

  /** EVERY point-lookup demand a predicate makes: `c = v`, `c IN
    * (v...)`, and all such conjuncts inside an AND (each is necessary,
    * so refuting ANY ONE refutes the predicate). These are the forms a
    * BLOOM filter can refute when min/max stats cannot.
    */
  def equalityValues(p: V2Predicate): Seq[(String, Seq[Long])] = p.name() match {
    case "=" | "IN" => colValues(p).toSeq
    case "AND" =>
      p.children().toSeq.flatMap {
        case c: V2Predicate => equalityValues(c)
        case _ => Seq.empty
      }
    case _ => Seq.empty
  }

  private def colValues(p: V2Predicate): Option[(String, Seq[Long])] =
    p.children().headOption match {
      case scala.Some(ref: NamedReference) =>
        val vs = p.children().tail.toSeq.map {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value() match {
              case v: java.lang.Long => v.longValue()
              case v: java.lang.Integer => v.longValue()
              case _ => return scala.None
            }
          case _ => return scala.None
        }
        scala.Some(ref.fieldNames().mkString("."), vs)
      case _ => scala.None
    }
}

/** The on-disk layout: immutable `<uuid>.rows` group files (4-byte field
  * count header, then length-prefixed UnsafeRow payloads) + a `manifest`
  * text file naming the live groups, one [[Group]] line each. The
  * manifest replace is the atomic commit point (same-filesystem
  * ATOMIC_MOVE, like io.Sinks). Every commit also keeps a numbered
  * snapshot `manifest.v<k>` (the last [[RETAIN]] of them) — the
  * TIME-TRAVEL record: a group file stays on disk until no retained
  * snapshot references it, so `VERSION AS OF` reads of recent commits
  * are exact. The plain `manifest` is authoritative; snapshots are
  * read-only views of past commits.
  */
object GroupFiles {
  private val MANIFEST = "manifest"

  /** Commits retained for time travel; older snapshots (and the files only
    * they reference) are removed on the commit that expires them.
    */
  val RETAIN = 10

  /** Per-directory commit lock: publish is atomic on disk (rename), but a
    * commit is a read-modify-write of the manifest — two unsynchronized
    * committers would each base their new live set on the same old one,
    * and publish's orphan-deletion would then physically delete the loser's
    * freshly written groups. In-process serialization closes that race; it
    * does NOT by itself close the scan-to-commit window of a row-level
    * operation — that is what [[commitRowLevel]]'s validation is for.
    * Cross-JVM coordination is the metadata-pointer CAS a real object-store
    * format provides and is out of scope here (one driver owns a table).
    */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(dir: Path): Object =
    locks.computeIfAbsent(dir.toAbsolutePath.toString, _ => new Object)

  /** Atomically transform the live set: read + compute + publish under the
    * directory's commit lock. All commit paths go through this or
    * [[commitRowLevel]].
    */
  def mutate(dir: Path)(f: Seq[Group] => Seq[Group]): Unit =
    lockFor(dir).synchronized { publish(dir, f(live(dir))) }

  /** OPTIMISTIC-CONCURRENCY commit for a row-level operation (MERGE/
    * UPDATE/DELETE): replace exactly the `scanned` groups with `written`,
    * but FIRST validate — under the commit lock — that every scanned group
    * is still live. A concurrent commit (another row-level op, or a
    * compact()) that replaced any of them means this operation's rewrite
    * was computed from rows that no longer exist: committing anyway would
    * resurrect them as duplicates. The Iceberg-style answer is to fail the
    * commit cleanly (written files are aborted by the caller) and let the
    * caller re-run the operation against the new live set. Two row-level
    * ops whose runtime-filtered scans touched DISJOINT group sets both
    * validate and both commit.
    */
  def commitRowLevel(dir: Path, scanned: Set[(String, Option[String])],
                     written: Seq[Group]): Unit =
    lockFor(dir).synchronized {
      val liveNow = live(dir)
      // identity = (file, delete vector): a group whose VECTOR changed
      // since the scan is as much a conflict as a replaced file — the
      // rewrite was computed from rows a concurrent MoR delete removed,
      // and committing it would resurrect them
      val stale = scanned -- liveNow.map(g => (g.file, g.deletes.map(_._1))).toSet
      if (stale.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"row-level commit conflict: scanned groups were replaced by a concurrent " +
        s"commit (${stale.toSeq.map(_._1).sorted.mkString(", ")}); re-run the operation")
      val scannedFiles = scanned.map(_._1)
      publish(dir, liveNow.filterNot(g => scannedFiles(g.file)) ++ written)
    }

  def reset(dir: Path): Unit = { delete(dir); Files.createDirectories(dir) }

  /** Snapshot versions currently on disk, ascending. */
  def versions(dir: Path): Seq[Long] = {
    if (!Files.exists(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(MANIFEST + ".v"))
      .flatMap(n => n.stripPrefix(MANIFEST + ".v").toLongOption)
      .toSeq.sorted
    finally s.close()
  }

  /** Latest commit number (0 = never committed). */
  def version(dir: Path): Long = versions(dir).lastOption.getOrElse(0L)

  // ---- SNAPSHOT TAGS (Iceberg-style named refs) --------------------------
  // A tag is a named pointer to a snapshot version, stored as a one-line
  // `tag.<name>` file next to the manifests. Tags are RETENTION-AWARE:
  // expiration (automatic RETAIN horizon, expire_snapshots, and the
  // publish-time sweep) never drops a tagged snapshot or the files it
  // references — the whole point of tagging ("audit-2024", "v1-training-
  // set") is that the snapshot outlives the rolling window.

  private val TAG = "tag."

  /** Tag-name charset: never all-digits (VERSION AS OF must stay
    * unambiguous between commit numbers and tags), filesystem-safe.
    */
  private def validTagName(name: String): Boolean =
    name.nonEmpty && name.length <= 128 &&
      name.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.') &&
      !name.forall(_.isDigit)

  /** Create or move a tag to snapshot `v` (which must be on disk). */
  def setTag(dir: Path, name: String, v: Long): Unit =
    lockFor(dir).synchronized {
      require(validTagName(name),
        s"invalid tag name '$name': letters/digits/-_. only, not all digits")
      require(versions(dir).contains(v),
        s"cannot tag version $v: not a retained snapshot (have ${versions(dir).mkString(", ")})")
      publishFile(dir.resolve(TAG + name))(
        _.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }

  /** Drop a tag; returns whether it existed. The snapshot it pinned
    * becomes expirable again on the NEXT expiration (nothing is swept
    * here — dropping a ref must stay a metadata-only operation).
    */
  def dropTag(dir: Path, name: String): Boolean =
    lockFor(dir).synchronized { Files.deleteIfExists(dir.resolve(TAG + name)) }

  /** All tags of a table, name → version. */
  def tags(dir: Path): Map[String, Long] = {
    if (!Files.exists(dir)) return Map.empty
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(TAG))
      .flatMap { n =>
        val v = new String(Files.readAllBytes(dir.resolve(n)),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLongOption
        v.map(n.stripPrefix(TAG) -> _)
      }.toMap
    finally s.close()
  }

  /** Snapshot history, newest first — the DESCRIBE HISTORY analogue:
    * (version, committed-at epoch millis from the snapshot file's mtime,
    * live group-file count at that version). Only RETAIN-ed snapshots
    * appear (expired ones are gone by design — same contract as liveAt).
    */
  def history(dir: Path): Seq[(Long, Long, Int)] =
    versions(dir).sorted(Ordering[Long].reverse).map { v =>
      (v, Files.getLastModifiedTime(dir.resolve(s"$MANIFEST.v$v")).toMillis,
       liveAt(dir, v).size)
    }

  /** (version, committed-at ms) pairs newest first — the TIMESTAMP AS OF
    * resolution input: file metadata only, no manifest parse (history's
    * per-snapshot liveAt would pay RETAIN full parses on the load path).
    */
  def snapshotTimes(dir: Path): Seq[(Long, Long)] =
    versions(dir).sorted(Ordering[Long].reverse).map { v =>
      (v, Files.getLastModifiedTime(dir.resolve(s"$MANIFEST.v$v")).toMillis)
    }

  def live(dir: Path): Seq[Group] = parseManifest(dir.resolve(MANIFEST))

  /** The live set as of commit `v` — fails loudly if the snapshot has
    * expired (reading a partial file set silently would be corruption).
    */
  def liveAt(dir: Path, v: Long): Seq[Group] = {
    val m = dir.resolve(s"$MANIFEST.v$v")
    if (!Files.exists(m)) throw new IllegalArgumentException(
      s"version $v is not retained (available: ${versions(dir).mkString(", ")})")
    parseManifest(m)
  }

  /** Parse a manifest (grammar on [[Group]]). A missing or malformed
    * required token (`#n=`, `#f=`, `#z=`) fails loudly, naming the
    * manifest, the group file and the token: serving file positions as
    * field ids or guessing a size would read wrong data silently. A stats
    * token that does not split cleanly into `col=lo:hi[:nonNull]` with
    * numeric bounds is DROPPED (no stats ⇒ no pruning — conservative,
    * never wrong).
    */
  private def parseManifest(m: Path): Seq[Group] = {
    if (!Files.exists(m)) return Seq.empty
    Files.readAllLines(m).asScala.toSeq.filter(_.nonEmpty).map { line =>
      val parts = line.split('\t')
      def required[T](tok: String)(parse: String => Option[T]): T = {
        val raw = parts.tail.find(_.startsWith(tok)).getOrElse(
          throw new IllegalStateException(
            s"manifest $m: group ${parts.head} has no $tok token"))
        parse(raw.stripPrefix(tok)).getOrElse(
          throw new IllegalStateException(
            s"manifest $m: group ${parts.head} has a malformed $tok token '$raw'"))
      }
      // '#'-prefixed names are excluded from stats by statsSafe, so a
      // metadata token can never collide with a column's stats
      val rows = required("#n=")(_.toLongOption)
      // the STABLE FIELD IDS this file's columns were written with, in
      // file position order — the Iceberg-style identity that makes
      // RENAME/DROP COLUMN metadata-only (the reader maps schema ids to
      // file positions; a missing id reads NULL, an extra id is skipped)
      val fids = required("#f=") { raw =>
        if (raw.isEmpty) Some(Seq.empty[Int])
        else {
          val ids = raw.split(',').map(_.toIntOption)
          if (ids.forall(_.isDefined)) Some(ids.flatten.toSeq) else None
        }
      }
      // the file's size, recorded at write time so query-planning
      // statistics never stat() data files
      val size = required("#z=")(_.toLongOption)
      // "#b=<id>" tags the group with its hash bucket (bucketed tables
      // route every row at write time; the scan groups files by this tag
      // to report KeyGroupedPartitioning)
      val bucket = parts.tail.collectFirst {
        case s if s.startsWith("#b=") => s.stripPrefix("#b=").toIntOption
      }.flatten
      // "#p=<value>" tags the group with its VALUE partition (identity/
      // days/months transform of the partition column; "null" for the
      // NULL partition). The transform itself lives in table props.
      val part = parts.tail.collectFirst {
        case s if s.startsWith("#p=") => s.stripPrefix("#p=")
      }
      // "#d=<dvfile>:<count>" — MERGE-ON-READ positional delete vector:
      // <dvfile> holds the sorted physical row positions masked out of
      // this group, <count> is their number (so COUNT(*) pushdown can
      // answer without opening the vector). The group file itself is
      // untouched — old snapshots that reference the group WITHOUT this
      // token still read the pre-delete rows (time travel is free).
      val dv = parts.tail.collectFirst {
        case s if s.startsWith("#d=") =>
          val raw = s.stripPrefix("#d=")
          val cut = raw.lastIndexOf(':')
          if (cut <= 0) None
          else raw.drop(cut + 1).toLongOption.map(n => (raw.take(cut), n))
      }.flatten
      // "#bm=1" — a bloom-filter sidecar (<file>.bloom) exists for this
      // group's long columns (equality pruning; see GroupBloom)
      val bloom = parts.tail.contains("#bm=1")
      // stats token: col=lo:hi[:nonNullCount] — the third part is the
      // non-null count that lets MatchesAll prove NULL absence;
      // materializeDeletes writes two-part tokens (it cannot know the
      // masked rows' nulls)
      val parsed = parts.tail.filterNot(_.startsWith("#")).flatMap { s =>
        s.split("=", 2) match {
          case Array(col, range) => range.split(":", 3) match {
            case Array(lo, hi) =>
              for (l <- lo.toLongOption; h <- hi.toLongOption)
                yield (col, (l, h), Option.empty[Long])
            case Array(lo, hi, nn) =>
              for (l <- lo.toLongOption; h <- hi.toLongOption)
                yield (col, (l, h), nn.toLongOption)
            case _ => None
          }
          case _ => None
        }
      }
      Group(parts.head, parsed.map(t => t._1 -> t._2).toMap, rows, fids, size,
            parsed.flatMap(t => t._3.map(t._1 -> _)).toMap, bucket, dv, bloom, part)
    }
  }

  /** Column names containing a manifest delimiter cannot be recorded in
    * stats without an escaping scheme; skipping them only costs pruning.
    * '#' prefixes are reserved for manifest metadata tokens (row counts).
    */
  private def statsSafe(c: String): Boolean =
    !c.startsWith("#") &&
    !c.exists(ch => ch == '=' || ch == ':' || ch == '\t' || ch == '\n' || ch == '\r')

  /** The one way the catalog writes a file: `fill` writes `<path>.tmp`,
    * which then moves onto `path` (ATOMIC_MOVE, replacing), so readers
    * see the whole file or none of it. Snapshots MUST go through this
    * too — history()/VERSION AS OF readers parse snapshot files outside
    * the commit lock, and a plain Files.write would let them observe a
    * half-written (silently truncated) live set. On any failure the tmp
    * is deleted: an unpublished file is referenced by no manifest, so no
    * sweep would ever find it.
    */
  private[catalog] def publishFile(path: Path)(fill: DataOutputStream => Unit): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    try {
      val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(tmp)))
      try fill(out) finally out.close()
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
  }

  /** Atomically publish `groups` as the new live set, snapshot it as
    * `manifest.v<k+1>`, then expire snapshots beyond [[RETAIN]] and delete
    * the group files no retained snapshot (nor the new live set)
    * references. Deletion AFTER the swap is safe: no reader planning
    * against a retained manifest can see a deleted file; in-flight readers
    * on local/HDFS-style filesystems hold the open handle. Files never yet
    * referenced by any manifest (in-flight writer output) are never swept.
    */
  def publish(dir: Path, groups: Seq[Group]): Unit = {
    val old = live(dir)
    // Heal a crash that landed between the live-manifest swap and its
    // snapshot write: if the CURRENT live manifest is not byte-identical
    // to the latest retained snapshot, record it first — otherwise this
    // commit would reuse that snapshot number for DIFFERENT content and
    // VERSION AS OF would time-travel to the wrong state.
    val liveManifest = dir.resolve(MANIFEST)
    if (Files.exists(liveManifest)) {
      val liveBytes = Files.readAllBytes(liveManifest)
      val healNeeded = versions(dir).lastOption match {
        case None => liveBytes.nonEmpty
        case Some(v) => !java.util.Arrays.equals(
          liveBytes, Files.readAllBytes(dir.resolve(s"$MANIFEST.v$v")))
      }
      if (healNeeded) publishFile(dir.resolve(s"$MANIFEST.v${version(dir) + 1}"))(_.write(liveBytes))
    }
    val lines = groups.map { g =>
      (g.file +:
        (Seq(s"#n=${g.rows}") ++
         g.bucket.map(b => s"#b=$b").toSeq ++
         g.part.map(p => s"#p=$p").toSeq ++
         Seq(s"#f=${g.fieldIds.mkString(",")}") ++
         g.deletes.map { case (f, n) => s"#d=$f:$n" }.toSeq ++
         Seq(s"#z=${g.bytes}") ++
         (if (g.bloom) Seq("#bm=1") else Seq.empty) ++
         g.stats.toSeq.filter(kv => statsSafe(kv._1)).sortBy(_._1)
           .map { case (c, (lo, hi)) =>
             s"$c=$lo:$hi" + g.nonNull.get(c).map(nn => s":$nn").getOrElse("") }))
        .mkString("\t")
    }
    val bytes = lines.mkString("\n").getBytes("UTF-8")
    publishFile(dir.resolve(MANIFEST))(_.write(bytes))
    // commit point passed — record the snapshot and expire old ones
    val newV = version(dir) + 1
    publishFile(dir.resolve(s"$MANIFEST.v$newV"))(_.write(bytes))
    dropSnapshotsBefore(dir, newV - RETAIN + 1, refs(old), Some(groups))
  }

  /** A manifest references its group files AND their delete vectors:
    * both stay on disk until no retained snapshot mentions them.
    */
  private def refs(gs: Seq[Group]): Set[String] =
    gs.flatMap(g => g.file +: g.deletes.map(_._1).toSeq).toSet

  /** Delete every snapshot with version < `keepFrom`, then physically
    * sweep the files only those snapshots referenced. `extraCandidates`
    * widens the sweep to files the caller knows just became
    * unreferenced (publish passes the pre-commit live set).
    */
  private def dropSnapshotsBefore(dir: Path, keepFrom: Long,
                                  extraCandidates: Set[String] = Set.empty,
                                  liveNow: Option[Seq[Group]] = None): Int = {
    // tagged snapshots are pinned: a named ref exists exactly so its
    // snapshot outlives the rolling retention window. retainedRefs below
    // is computed from the SURVIVING manifest set, so every file a kept
    // tagged snapshot references survives the sweep with it.
    val tagged = tags(dir).values.toSet
    val expired = versions(dir).filter(v => v < keepFrom && !tagged(v))
    val expiredRefs = expired.flatMap(v => refs(liveAt(dir, v))).toSet
    expired.foreach(v => Files.deleteIfExists(dir.resolve(s"$MANIFEST.v$v")))
    val retainedRefs =
      versions(dir).flatMap(v => refs(liveAt(dir, v))).toSet ++
        refs(liveNow.getOrElse(live(dir)))
    ((extraCandidates ++ expiredRefs) -- retainedRefs)
      .foreach { f =>
        Files.deleteIfExists(dir.resolve(f))
        // the bloom sidecar lives and dies with its group file
        if (f.endsWith(".rows")) Files.deleteIfExists(dir.resolve(f + ".bloom"))
      }
    expired.size
  }

  /** ROLLBACK to a retained snapshot: publish snapshot `v`'s live set as
    * a NEW commit (the Iceberg `rollback_to_snapshot` shape — history
    * moves forward, nothing is erased; the rolled-back commits stay
    * time-travelable until they expire). Every file a retained snapshot
    * references is still on disk by the retention invariant, so the
    * restored live set is complete — including delete vectors, so a
    * rollback across a MoR DELETE restores the pre-delete mask exactly.
    * Schema is NOT rolled back: groups carry their field ids, so files
    * restored from before a later ADD/RENAME/DROP read under the current
    * schema exactly as live reads of old files do.
    *
    * Returns (previous_version, current_version), BOTH read
    * inside the commit lock — reading `previous` outside would let a
    * concurrent commit land between the read and the publish, reporting
    * a stale previous_version that disagrees with current by more than 1.
    */
  def rollbackToVersions(dir: Path, v: Long): (Long, Long) =
    lockFor(dir).synchronized {
      val prev = version(dir)
      publish(dir, liveAt(dir, v)) // liveAt fails loudly on an expired version
      (prev, version(dir))
    }

  /** EXPIRE SNAPSHOTS below the automatic [[RETAIN]] horizon: keep only
    * the newest `keep` versions and sweep everything only the expired
    * ones referenced. Shrinks time travel in exchange for space — the
    * vacuum knob every production table format ships.
    */
  def expireSnapshots(dir: Path, keep: Int): Int = {
    require(keep >= 1, s"must keep at least 1 snapshot, got $keep")
    lockFor(dir).synchronized {
      dropSnapshotsBefore(dir, version(dir) - keep + 1)
    }
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Write a MERGE-ON-READ delete vector: the sorted physical row
    * positions masked out of ONE group file, as big-endian longs. DV
    * files are immutable and content-complete (successive deletes write a
    * NEW vector holding the union, so every retained snapshot keeps
    * referencing exactly the vector that was live at its commit).
    */
  def writeDeleteVector(dir: Path, positions: Array[Long]): String = {
    require(positions.nonEmpty, "empty delete vector")
    val name = s"dv-${java.util.UUID.randomUUID()}.pos"
    publishFile(dir.resolve(name))(out => positions.foreach(out.writeLong))
    name
  }

  /** Sorted positions of a delete vector (the whole vector is loaded —
    * its size is O(deleted rows in one group), the merge-on-read bargain).
    */
  def readDeleteVector(dir: Path, name: String): Array[Long] = {
    val bytes = Files.readAllBytes(dir.resolve(name))
    require(bytes.length % 8 == 0, s"torn delete vector $name (${bytes.length} bytes)")
    val buf = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(buf.getLong)
  }

  /** MERGE-ON-READ DELETE commit: mask `newDeletes` (group file →
    * physical row positions) without rewriting a single data file. Under
    * the commit lock: validate every targeted group is still live (a
    * concurrent COW rewrite/compaction means our positions index a file
    * that is no longer part of the table → fail cleanly, Iceberg-style),
    * union with any existing vector — positions index the IMMUTABLE
    * physical file, so two concurrent MoR deletes of the same group are
    * NOT a conflict, their union is exactly both deletes applied — and
    * publish. A group whose live rows reach zero drops out entirely.
    */
  def addDeletes(dir: Path, newDeletes: Map[String, Array[Long]]): Unit =
    commitDelta(dir, None, newDeletes, Seq.empty)

  /** DELTA commit: apply delete vectors and append new groups in ONE
    * atomic manifest swap — the commit shape of a merge-on-read
    * UPDATE/MERGE (vectors mask the old row images, appended groups hold
    * the new ones; nothing is rewritten).
    *
    * Isolation: a commit validates the scanned (file, vector) identity
    * set like copy-on-write (`scanned = Some(...)` from the ScanHolder)
    * — a concurrent UPDATE's delete+insert pair, or a COW rewrite,
    * changes what this operation's predicate evaluation saw, and
    * committing over it produces states no serial order can (a DELETE
    * that misses the update's new image; two updates double-inserting
    * one key). The loser fails cleanly and re-runs. `scanned = None` is
    * for direct API callers who union pure position masks and accept
    * last-writer-union semantics.
    */
  def commitDelta(dir: Path, scanned: Option[Set[(String, Option[String])]],
                  newDeletes: Map[String, Array[Long]],
                  appended: Seq[Group]): Unit =
    lockFor(dir).synchronized {
      val liveNow = live(dir)
      scanned.foreach { sc =>
        val liveIds = liveNow.map(g => (g.file, g.deletes.map(_._1))).toSet
        val stale = sc -- liveIds
        if (stale.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"merge-on-read commit conflict: scanned groups changed under a concurrent " +
          s"commit (${stale.toSeq.map(_._1).sorted.mkString(", ")}); re-run the operation")
      }
      val stale = newDeletes.keySet -- liveNow.map(_.file).toSet
      if (stale.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"merge-on-read delete conflict: groups were rewritten by a concurrent " +
        s"commit (${stale.toSeq.sorted.mkString(", ")}); re-run the operation")
      // validate EVERY group's merged positions before writing ANY
      // vector file: a failed commit must leave zero orphans behind
      val mergedByFile = liveNow.flatMap { g =>
        newDeletes.get(g.file).filter(_.nonEmpty).map { ps =>
          val merged = (g.deletes.map(d => readDeleteVector(dir, d._1))
            .getOrElse(Array.empty[Long]).toSet ++ ps).toArray.sorted
          require(merged.forall(p => p >= 0 && p < g.rows),
            s"delete position out of range for ${g.file} (${g.rows} rows)")
          g.file -> merged
        }
      }.toMap
      val updated = liveNow.flatMap { g =>
        mergedByFile.get(g.file) match {
          case None => Some(g)
          case Some(merged) =>
            if (merged.length == g.rows) None // fully deleted
            else Some(g.copy(deletes =
              Some((writeDeleteVector(dir, merged), merged.length.toLong))))
        }
      }
      publish(dir, updated ++ appended)
    }

  /** Maintenance: REWRITE every delete-vector-carrying group without its
    * masked rows (the copy-on-write debt merge-on-read defers — run it
    * when vectors accumulate). Streaming row copy, no Spark job; stats
    * keep their physical bounds (superset — still sound for pruning) but
    * non-null counts are dropped (the masked rows' null pattern is
    * unknown without decoding, and a stale count would fake a NULL-
    * absence proof).
    */
  def materializeDeletes(dir: Path): Unit = mutate(dir) { groups =>
    groups.map { g =>
      g.deletes match {
        case None => g
        case Some((dvName, _)) =>
          val dv = readDeleteVector(dir, dvName)
          val newName = s"part-mat-${java.util.UUID.randomUUID()}.rows"
          var kept = 0L
          publishFile(dir.resolve(newName)) { out =>
            val in = new DataInputStream(new BufferedInputStream(
              Files.newInputStream(dir.resolve(g.file))))
            var pos = 0L; var di = 0
            try {
              out.writeInt(in.readInt())
              // the scan reader's torn-file discipline: rewriting a torn
              // file as "clean" would launder the corruption
              var bytes = GroupRowsReader.readRow(in, g.file)
              while (bytes != null) {
                if (di < dv.length && dv(di) == pos) di += 1
                else { out.writeInt(bytes.length); out.write(bytes); kept += 1 }
                pos += 1
                bytes = GroupRowsReader.readRow(in, g.file)
              }
            } finally in.close()
            require(pos == g.rows,
              s"group ${g.file} holds $pos rows but the manifest records ${g.rows} — torn file")
          }
          g.copy(file = newName, rows = kept, nonNull = Map.empty, deletes = None,
                 bytes = Files.size(dir.resolve(newName)), bloom = false)
      }
    }
  }

  /** OPTIMIZE-style small-file compaction: bin-pack group files up to
    * `targetBytes` and merge each bin by STREAMING BYTE COPY — the file
    * format is a field-count header followed by self-delimiting row
    * payloads, so merged content is one header plus the members' payload
    * streams concatenated; no row decode, no Spark job, no driver row
    * materialization. Bins of one keep their original file untouched.
    * Stats of a merged group = per-column union of member stats (a column
    * missing stats in ANY member stays unstated — conservative, never
    * wrong). The swap is the same atomic manifest publish as every other
    * commit, so readers see pre- or post-compaction, never a mix.
    */
  def compact(dir: Path, targetBytes: Long): Unit = mutate(dir) { allGroups =>
    // groups carrying a delete vector are excluded from byte-concat bins:
    // concatenation would shift the positions their vector indexes. Run
    // materializeDeletes first to fold vectors in and make them packable.
    val (masked, groups) = allGroups.partition(_.deletes.isDefined)
    masked ++ (if (groups.size <= 1) groups else {
    // bin only groups of the SAME schema identity together: files merge
    // iff their field-id lists are identical byte layouts. Groups written
    // under different schemas null-pad/project at read and can only merge
    // with their own kind — byte concatenation must never change column
    // meaning.
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[Group]]
    // bucketed tables additionally bin WITHIN a bucket only (a merged
    // group keeps one unambiguous #b tag, preserving the reported
    // KeyGroupedPartitioning across compactions); value-partitioned
    // tables bin WITHIN a partition only for the same reason (#p)
    groups.groupBy(g => (g.fieldIds.mkString(","), g.bucket, g.part)).toSeq
      // sort the FULL key: hash-map order on bucket/partition ties would
      // make the compacted manifest nondeterministic run to run
      .sortBy { case ((f, b, p), _) => (f, b.getOrElse(-1), p.getOrElse("")) }
      .foreach { case (_, gen) =>
      bins += scala.collection.mutable.ArrayBuffer.empty[Group]
      gen.foreach { g =>
        if (bins.last.nonEmpty && bins.last.map(_.bytes).sum + g.bytes > targetBytes)
          bins += scala.collection.mutable.ArrayBuffer.empty[Group]
        bins.last += g
      }
    }
    bins.filter(_.nonEmpty).map { bin =>
      if (bin.size == 1) bin.head
      else {
        val members = bin.toSeq
        val merged = s"compact-${java.util.UUID.randomUUID()}.rows"
        var headerFields = -1
        publishFile(dir.resolve(merged)) { out => members.foreach { m =>
          val in = new DataInputStream(new BufferedInputStream(
            Files.newInputStream(dir.resolve(m.file))))
          try {
            val nf = in.readInt()
            if (headerFields < 0) { headerFields = nf; out.writeInt(nf) }
            else require(nf == headerFields,
              s"cannot compact groups with differing field counts ($nf vs $headerFields)")
            val buf = new Array[Byte](64 * 1024)
            var n = in.read(buf)
            while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          } finally in.close()
        } }
        // per-column union, only for columns every member has stats for
        val cols = members.map(_.stats.keySet).reduce(_ intersect _)
        val stats = cols.map { c =>
          c -> ((members.map(_.stats(c)._1).min, members.map(_.stats(c)._2).max))
        }.toMap
        val nn = cols.flatMap { c =>
          if (members.forall(_.nonNull.contains(c)))
            Some(c -> members.map(_.nonNull(c)).sum)
          else None
        }.toMap
        // merged groups drop their members' blooms (different sizes do
        // not OR); the next rewrite of the data rebuilds one
        Group(merged, stats, members.map(_.rows).sum, bin.head.fieldIds,
              Files.size(dir.resolve(merged)), nn, bin.head.bucket,
              part = bin.head.part)
      }
    }.toSeq
    })
  }
}

/** Shared between a row-level operation's scan and its write: the groups
  * the (possibly runtime-filtered) scan finally planned, as (file,
  * delete-vector) identity pairs. The commit replaces exactly these
  * groups; everything else stays live. The vector is part of the
  * identity: a scan that read file F under vector V computed its rewrite
  * from F-minus-V, and committing over a concurrently-updated vector V'
  * would resurrect the rows V' masked.
  */
class ScanHolder {
  @volatile var planned: Option[Seq[(String, Option[String])]] = None
}

/** A table whose content is a manifest-listed set of immutable row-group
  * files; reads stream one partition per group file, writes stream rows to
  * new group files task-side and swap the manifest on commit.
  */
class GraftTable(tableName: String, tableSchema: StructType, val location: String,
                 val pinnedVersion: Option[Long] = None,
                 val pinnedGroups: Option[Seq[Group]] = None,
                 val props: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite with SupportsRowLevelOperations
    with SupportsDeleteV2 with SupportsMetadataColumns {

  override def name(): String = tableName

  /** Scan METADATA COLUMNS: the (file, physical position) row identity.
    * They are what a merge-on-read DELETE writes into its vectors — the
    * rowId() of the delta row-level operation — and are independently
    * queryable (`SELECT _graft_file, _graft_pos FROM t`), Iceberg
    * `_file`/`_pos` style.
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = GraftTable.FILE_COL
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
    },
    new MetadataColumn {
      override def name(): String = GraftTable.POS_COL
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
    })
  override def schema(): StructType = tableSchema
  override def properties(): util.Map[String, String] = props.asJava

  /** STABLE FIELD IDS, positionally aligned with schema() — the column
    * identity that survives RENAME (id unchanged) and DROP (id retired,
    * never reused). A table with no recorded ids has add-only history
    * (ids = positions); the first rename/drop/add records them
    * explicitly in table props.
    */
  val fieldIds: Seq[Int] =
    props.get(GraftTable.FIELD_IDS)
      .map(_.split(',').map(_.trim.toInt).toSeq)
      .getOrElse(tableSchema.indices)
  require(fieldIds.length == tableSchema.length,
    s"field id list (${fieldIds.length}) does not match schema width (${tableSchema.length})")

  /** The field id of a CURRENT schema column (exact-name lookup). */
  def fieldIdOf(col: String): Int = fieldIds(tableSchema.fieldIndex(col))

  /** True once any column has ever been DROPPED: a retained snapshot's
    * name-keyed stats may then describe a dead field whose name a later
    * ADD reused, so pinned-version reads must skip stats-only answers
    * (see translate() and statsReliable).
    */
  val everDropped: Boolean = props.get(GraftTable.DROPPED).contains("true")

  /** True once any column was RENAMED. Retained snapshots key stats by
    * the names current at THEIR commit; after a rename those names may
    * bind to different columns under the live schema, so pinned-version
    * reads must not trust name-keyed stats (live-manifest stats were
    * rekeyed atomically with the rename and stay exact).
    */
  val everRenamed: Boolean = props.get(GraftTable.RENAMED).contains("true")

  /** HASH-BUCKETED layout (`TBLPROPERTIES('bucket_by'='k','buckets'='8')`):
    * every writer routes each row to its bucket's group file
    * (`graft.bucket` = pmod over the raw long — nulls to bucket 0), the
    * manifest tags groups `#b=<id>`, and the scan reports
    * KeyGroupedPartitioning over those tags — so a join or aggregate on
    * the bucket column over co-bucketed tables runs with ZERO Exchange
    * (Spark's storage-partitioned join, the Iceberg SPJ analogue). At
    * 100 TB this turns the fact-to-fact join from the dominant shuffle
    * into a local zip of pre-sorted buckets.
    */
  val bucketSpec: Option[(String, Int)] =
    props.get("bucket_by").map { c =>
      val n = props.getOrElse("buckets",
        throw new IllegalArgumentException("bucket_by requires buckets")).toInt
      require(n > 0, s"buckets must be positive, got $n")
      // case-insensitive, following Spark's default identifier resolution
      val f = tableSchema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"bucket_by column $c not in schema"))
      require(f.dataType == org.apache.spark.sql.types.LongType,
        s"bucket_by column $c must be BIGINT, got ${f.dataType.simpleString}")
      (f.name, n) // canonical schema casing — downstream fieldIndex lookups are exact
    }

  /** VALUE-PARTITIONED layout (`PARTITIONED BY (col)` / `(days(ts))` /
    * `(months(ts))`): every writer routes each row to its partition's
    * group file (transform of the raw long/micros; NULLs to the `null`
    * partition), the manifest tags groups `#p=<value>`, and time-range
    * queries prune statically through the per-column (min,max) stats —
    * which per-partition routing makes TIGHT per group (a day-partition
    * file's ts range spans one day, so a day-range predicate opens
    * exactly the in-range groups: the hive-layout partition-prune
    * behavior, manifest-driven). (colName canonical-cased, transform).
    */
  val partitionSpec: Option[(String, String)] =
    props.get("partition_by").map { c =>
      val t = props.getOrElse("partition_transform", "identity").toLowerCase
      require(GraftPartitionTransforms.names.contains(t),
        s"unknown partition transform $t")
      val f = tableSchema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"partition_by column $c not in schema"))
      require(GraftPartitionTransforms.accepts(t, f.dataType),
        s"partition transform $t does not accept column $c: ${f.dataType.simpleString} " +
        "(identity needs BIGINT or TIMESTAMP_NTZ; days/months need TIMESTAMP_NTZ)")
      require(bucketSpec.isEmpty,
        "a table cannot be both bucketed and value-partitioned")
      (f.name, t)
    }

  /** Which partition-spec edition routes NEW writes (0 = the CREATE-time
    * layout). PARTITION EVOLUTION (`ALTER TABLE … SET TBLPROPERTIES(
    * 'partition_by'=…, 'partition_transform'=…)`) only changes how FUTURE
    * rows are routed — existing group files keep the layout that wrote
    * them, exactly like Iceberg spec evolution. That is SOUND here by
    * construction because scan pruning never interprets the layout: it
    * reads per-column (min,max)/bloom stats, which describe the file
    * regardless of which spec routed it (old files just prune less
    * tightly than freshly-routed ones). Post-evolution groups tag their
    * partition value `<seq>.<value>` so groups from different specs never
    * share a compaction bin (a bare-value collision across transforms
    * would merge files of two layouts and loosen both their stats).
    */
  val partitionSpecSeq: Int =
    props.get(GraftTable.PART_SEQ).map(_.toInt).getOrElse(0)

  /** Report the layout to Spark (DESCRIBE, write distribution planning). */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    bucketSpec.map { case (c, n) => Expressions.bucket(n, c) }.toArray[Transform] ++
      partitionSpec.map {
        case (c, "identity") => Expressions.identity(c)
        case (c, "days") => Expressions.days(c)
        case (c, "months") => Expressions.months(c)
        case (c, t) => Expressions.apply(t, Expressions.column(c))
      }.toArray[Transform]
  }

  /** METADATA-ONLY DELETE (SupportsDeleteV2): when the manifest stats
    * prove every live group either matches the predicate COMPLETELY or
    * not at all, the delete is a manifest edit — fully-covered groups
    * drop out of the live set, no data file is opened or written (the
    * group-format analogue of DROP PARTITION; Spark's
    * OptimizeMetadataOnlyDeleteFromTable picks this over the
    * copy-on-write rewrite exactly when canDeleteWhere says so). Any
    * group the stats can't decide → false → the row-level COW path runs
    * instead. deleteWhere RE-VALIDATES under the commit lock: a
    * concurrent commit may have added an undecidable group since
    * canDeleteWhere looked, and dropping around it would miss rows.
    */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    pinnedVersion.isEmpty && pinnedGroups.isEmpty &&
      GroupFiles.live(Paths.get(location)).forall { g =>
        predicatesCoverage(g, predicates) != GroupPredicate.Unknown
      }

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    GroupFiles.mutate(Paths.get(location)) { live =>
      live.filter { g =>
        predicatesCoverage(g, predicates) match {
          case GroupPredicate.MatchesAll => false  // fully covered: drop
          case GroupPredicate.MatchesNone => true  // untouched: keep
          case GroupPredicate.Unknown => throw new IllegalStateException(
            s"metadata-only DELETE raced a commit: group ${g.file} is no longer " +
            "stats-decidable; re-run the DELETE (it will take the rewrite path)")
        }
      }
    }

  /** Predicates arrive as a conjunction. */
  private def predicatesCoverage(
      g: Group,
      ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): GroupPredicate.Cov = {
    val cs = ps.toSeq.map(p => GroupPredicate.coverage(g, p))
    if (cs.contains(GroupPredicate.MatchesNone)) GroupPredicate.MatchesNone
    else if (cs.nonEmpty && cs.forall(_ == GroupPredicate.MatchesAll)) GroupPredicate.MatchesAll
    else GroupPredicate.Unknown
  }
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.MICRO_BATCH_READ, TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this, None)

  /** Plain writes (INSERT INTO …) append; INSERT OVERWRITE truncates. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty, "cannot write through a VERSION AS OF read")
    require(pinnedGroups.isEmpty, "cannot write through a pinned-file-set read")
    new GraftWriteBuilder(this, info.schema(), replaceAll = false, None)
  }

  /** Row-level operations, two strategies:
    *
    * MERGE-ON-READ (default for DELETE and UPDATE; MERGE opt-in via
    * `TBLPROPERTIES('merge_mode'='merge-on-read')`; `delete_mode` /
    * `update_mode` = 'copy-on-write' revert): the delta row-level API.
    * The planner's WriteDelta sends each removed row's (_graft_file,
    * _graft_pos) identity to the writer — per-file position lists become
    * delete VECTORS at commit; updated/merged new row images arrive as
    * inserts (representUpdateAsDeleteAndInsert) and append as ordinary
    * new groups. Changing 0.1% of rows costs O(changed rows), not
    * O(groups touched). Fully-covered DELETEs still take the cheaper
    * metadata-only path ([[canDeleteWhere]]) before any rewrite is
    * planned.
    *
    * COPY-ON-WRITE (default for MERGE): group-based — the operation's
    * scan reads the live groups (runtime-group-filtered down to the
    * files whose stats can match the source keys), its write replaces
    * exactly the scanned groups. The ScanHolder is the scan→write
    * channel. Preferable when an operation touches most rows of the
    * groups it touches (bulk upserts): it leaves no read-side mask debt.
    */
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty, "cannot modify a VERSION AS OF read")
    require(pinnedGroups.isEmpty, "cannot modify a pinned-file-set read")
    import RowLevelOperation.Command._
    def mode(prop: String, default: String): String =
      props.getOrElse(prop, default).toLowerCase
    val mor = info.command() match {
      // DELETE/UPDATE default merge-on-read (the sparse-change shape);
      // MERGE stays copy-on-write unless opted in — its scans are
      // runtime-group-filtered so COW only rewrites matching groups,
      // and bulk upserts often replace most of what they touch anyway
      case DELETE => mode("delete_mode", "merge-on-read") != "copy-on-write"
      case UPDATE => mode("update_mode", "merge-on-read") != "copy-on-write"
      case MERGE => mode("merge_mode", "copy-on-write") == "merge-on-read"
      case _ => false
    }
    () =>
      if (mor) new RowLevelOperation with SupportsDelta {
        // EVERY delta commit validates its scanned (file, vector) set.
        // Plain vector union is commutative for two DELETEs, but a
        // concurrent MoR UPDATE is a delete+insert pair: a DELETE whose
        // scan predates it would mask the already-masked old image and
        // never see the appended new one — no serial order produces
        // that, so the late committer must fail and re-run instead
        private val holder = Some(new ScanHolder)
        override def command(): RowLevelOperation.Command = info.command()
        override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
          new GraftScanBuilder(GraftTable.this, holder)
        override def newWriteBuilder(writeInfo: LogicalWriteInfo): DeltaWriteBuilder =
          new DeltaWriteBuilder {
            override def build(): DeltaWrite =
              new GraftDeltaWrite(GraftTable.this, writeInfo.schema(), holder,
                clusterInserts = info.command() != DELETE)
          }
        override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
          Array(org.apache.spark.sql.connector.expressions.Expressions.column(GraftTable.FILE_COL),
                org.apache.spark.sql.connector.expressions.Expressions.column(GraftTable.POS_COL))
        override def representUpdateAsDeleteAndInsert(): Boolean = true
      }
      else new RowLevelOperation {
        private val holder = new ScanHolder
        override def command(): RowLevelOperation.Command = info.command()
        override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
          new GraftScanBuilder(GraftTable.this, Some(holder))
        override def newWriteBuilder(writeInfo: LogicalWriteInfo): WriteBuilder =
          new GraftWriteBuilder(GraftTable.this, writeInfo.schema(),
                                replaceAll = true, Some(holder))
      }
  }
}

object GraftTable {
  /** Metadata column: group file name a row lives in. */
  val FILE_COL = "_graft_file"
  /** Metadata column: physical row position within its group file. */
  val POS_COL = "_graft_pos"
  /** Table property holding the comma-joined field ids (schema order). */
  val FIELD_IDS = "graft.field_ids"
  /** Table property set (permanently) by the first DROP COLUMN. */
  val DROPPED = "graft.dropped"
  /** Table property set (permanently) by the first RENAME COLUMN. */
  val RENAMED = "graft.renamed"
  /** Table property holding the never-reused field-id high-water mark. */
  val NEXT_ID = "graft.next_field_id"
  /** Table property: monotone value-partition spec counter (the Iceberg
    * spec-id analogue), bumped by every layout-changing ALTER. */
  val PART_SEQ = "graft.partition.spec.seq"
}

/** Scan builder with AGGREGATE PUSHDOWN: COUNT(*) / MIN / MAX with no
  * GROUP BY and no residual filters are answered from the MANIFEST —
  * row counts and per-group (min,max) stats — without opening a single
  * data file (the 100 TB `SELECT count(*)` is a metadata read, as in
  * Iceberg/Delta). Strictly conservative: every live group must carry a
  * row count (COUNT) or stats for the column (MIN/MAX — a group can
  * lack stats for an all-null file, a pre-ADD-COLUMN file, or a
  * compaction that dropped the column from the merged stats, and
  * skipping such a group could be WRONG for the compaction case, so any
  * gap refuses the pushdown and the ordinary scan runs). Works for
  * VERSION AS OF reads too (the pinned snapshot's manifest answers).
  */
class GraftScanBuilder(table: GraftTable, holder: Option[ScanHolder])
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownV2Filters {
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
  import org.apache.spark.sql.types.{LongType, StructField}

  private var pushed: Option[(StructType, Seq[Option[Long]])] = None
  private var planFilters: Array[V2Predicate] = Array.empty
  private var requested: Option[StructType] = None

  /** COLUMN PRUNING: the requested schema is a subset of the table
    * columns, in table order, possibly extended with the scan metadata
    * columns (`_graft_file`, `_graft_pos`) a row-level delta operation
    * reads for row identity. The format is row-oriented, so pruning
    * saves deserialization-to-Spark width, not file bytes — and it is
    * what makes metadata columns reachable at all (Spark only asks
    * scans that prune).
    */
  override def pruneColumns(requiredSchema: StructType): Unit =
    requested = Some(requiredSchema)

  /** STATIC group pruning (the partition-pruning analogue): every
    * predicate is kept for PLAN-TIME pruning against the manifest stats
    * (a group the tri-state evaluator proves MatchesNone is never
    * planned, let alone opened) but reported back as residual — Spark
    * re-applies the full predicate row-by-row, so pruning only ever has
    * to be conservative, never exact. Complements the RUNTIME filtering
    * GraftScan gets from joins (DPP-style) with the static case
    * (`WHERE k < literal`).
    */
  override def pushPredicates(predicates: Array[V2Predicate]): Array[V2Predicate] = {
    planFilters = predicates
    predicates // all residual: Spark re-evaluates them on the rows
  }
  override def pushedPredicates(): Array[V2Predicate] = Array.empty

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translate(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    translate(agg) match {
      case Some(res) => pushed = Some(res); true
      case None => false
    }

  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames().head)
      case _ => None
    }

  // the manifest is parsed ONCE per builder: Spark calls
  // supportCompletePushDown then pushAggregation (and this is plan-time
  // pinning anyway — both must see the same snapshot)
  private lazy val liveGroups: Seq[Group] = table.pinnedGroups.getOrElse(
    table.pinnedVersion match {
      case Some(v) => GroupFiles.liveAt(Paths.get(table.location), v)
      case None => GroupFiles.live(Paths.get(table.location))
    })

  /** A group's name-keyed stats speak for the CURRENT column `c` only if
    * the file actually wrote that field ID. Matters for time travel
    * across a DROP + re-ADD of the same name: a pre-drop snapshot's
    * stats for the dead field must not answer MIN/MAX for its reborn
    * namesake.
    */
  private def statsTrusted(g: Group, c: String): Boolean =
    g.fieldIds.contains(table.fieldIdOf(c))

  private def translate(agg: Aggregation): Option[(StructType, Seq[Option[Long]])] = {
    if (holder.nonEmpty || agg.groupByExpressions().nonEmpty) return None
    // a pinned old manifest keys stats by that era's names — after any
    // rename they may describe a different column than today's reader
    // asks about (statsTrusted's field-id check cannot see renames, the
    // id never changes); COUNT is name-free and stays answerable
    val pinnedStatsUnsafe =
      (table.pinnedVersion.isDefined || table.pinnedGroups.isDefined) &&
      (table.everRenamed || table.everDropped)
    val groups = liveGroups
    val fields = Seq.newBuilder[StructField]
    val values = Seq.newBuilder[Option[Long]]
    agg.aggregateExpressions().zipWithIndex.foreach {
      case (_: CountStar, i) =>
        fields += StructField(s"agg$i", LongType, nullable = false)
        // liveRows: a merge-on-read delete vector masks #d rows of the
        // physical count — COUNT(*) stays an exact metadata answer
        values += Some(groups.map(_.liveRows).sum)
      case (m: Min, i) =>
        // a group with a delete vector may have lost exactly the row
        // holding the recorded extreme: bounds stay valid for PRUNING
        // (superset) but are no longer exact — refuse MIN/MAX pushdown.
        // BIGINT columns only: stats also cover TIMESTAMP_NTZ (for
        // pruning), but this pushdown's result schema is LongType — a
        // timestamp answered as a raw long would be a silent type bug
        if (pinnedStatsUnsafe || groups.exists(_.deletes.isDefined)) return None
        colOf(m.column()).filter(c =>
            table.schema().fields.exists(f => f.name == c && f.dataType == LongType) &&
            groups.nonEmpty &&
            groups.forall(g => g.stats.contains(c) && statsTrusted(g, c))) match {
          case Some(c) =>
            fields += StructField(s"agg$i", LongType, nullable = true)
            values += Some(groups.map(_.stats(c)._1).min)
          case None => return None
        }
      case (m: Max, i) =>
        if (pinnedStatsUnsafe || groups.exists(_.deletes.isDefined)) return None
        colOf(m.column()).filter(c =>
            table.schema().fields.exists(f => f.name == c && f.dataType == LongType) &&
            groups.nonEmpty &&
            groups.forall(g => g.stats.contains(c) && statsTrusted(g, c))) match {
          case Some(c) =>
            fields += StructField(s"agg$i", LongType, nullable = true)
            values += Some(groups.map(_.stats(c)._2).max)
          case None => return None
        }
      case _ => return None
    }
    Some((StructType(fields.result()), values.result()))
  }

  override def build(): Scan = pushed match {
    case Some((schema, values)) => new GraftAggScan(schema, values)
    case None => new GraftScan(table, holder, planFilters,
                               requested.getOrElse(table.schema()))
  }
}

/** One-row scan serving a fully-pushed aggregation straight from
  * manifest metadata.
  */
case class GraftAggPartition(values: Seq[Option[Long]]) extends InputPartition

/** Tiny driver-local result-set scan: what a maintenance procedure
  * returns (a handful of status rows — never data-plane volume). Spark's
  * procedure invocation requires the [[LocalScan]] marker — the rows are
  * consumed driver-side, no job is launched for them.
  */
class GraftLocalScan(schema: StructType, resultRows: Seq[InternalRow])
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = resultRows.toArray
}

/** Read-only metadata tables (`t.files`, `t.snapshots`) — manifest-backed
  * LocalScans; rows are built at scan-plan time so each query sees the
  * manifest as of its own planning, consistent with a plain read.
  */
object GraftMetadataTable {
  val KINDS: Set[String] = Set("files", "snapshots", "partitions", "tags")
}

class GraftMetadataTable(name0: String, base: GraftTable, kind: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  override def name(): String = name0

  override def schema(): StructType = kind match {
    case "files" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("n_rows", LongType),
      StructField("bytes", LongType),
      StructField("bucket", IntegerType),
      StructField("partition", StringType),
      StructField("n_deleted", LongType, nullable = false),
      StructField("has_bloom", BooleanType, nullable = false)))
    case "snapshots" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at_ms", LongType, nullable = false),
      StructField("n_files", IntegerType, nullable = false)))
    // per-partition rollup of the live manifest: the skew/small-file
    // audit for a value-partitioned (or bucketed) layout; the partition
    // string keeps its spec-seq prefix so post-evolution generations
    // are visibly distinct
    case "partitions" => StructType(Seq(
      StructField("partition", StringType),
      StructField("bucket", IntegerType),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType),
      StructField("bytes", LongType),
      StructField("n_deleted", LongType, nullable = false)))
    // the named refs: which snapshots are pinned beyond retention
    case "tags" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
  }

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val s = schema()
    () => {
      val dir = Paths.get(base.location)
      val rows: Seq[InternalRow] = kind match {
        case "files" => GroupFiles.live(dir).map { g =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
            UTF8String.fromString(g.file),
            g.rows,
            g.bytes,
            g.bucket.map(Int.box).orNull,
            g.part.map(UTF8String.fromString).orNull,
            g.deletes.map(_._2).getOrElse(0L),
            g.bloom))
        }
        case "snapshots" => GroupFiles.history(dir).map { case (v, at, n) =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](v, at, n))
        }
        case "partitions" =>
          GroupFiles.live(dir).groupBy(g => (g.part, g.bucket)).toSeq
            .sortBy(_._1.toString).map { case ((part, bucket), gs) =>
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
                part.map(UTF8String.fromString).orNull,
                bucket.map(Int.box).orNull,
                gs.size.toLong,
                gs.map(_.rows).sum,
                gs.map(_.bytes).sum,
                gs.map(_.deletes.map(_._2).getOrElse(0L)).sum))
            }
        case "tags" =>
          GroupFiles.tags(dir).toSeq.sortBy(_._1).map { case (name, v) =>
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](UTF8String.fromString(name), v))
          }
      }
      new GraftLocalScan(s, rows)
    }
  }
}

class GraftAggScan(aggSchema: StructType, values: Seq[Option[Long]]) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val vs = partition.asInstanceOf[GraftAggPartition].values
      new PartitionReader[InternalRow] {
        private var done = false
        override def next(): Boolean = if (done) false else { done = true; true }
        override def get(): InternalRow =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            vs.map(_.map(Long.box).orNull).toArray[Any])
        override def close(): Unit = ()
      }
    }
}

/** Batch scan over the live groups. SupportsRuntimeV2Filtering lets
  * Spark's RowLevelOperationRuntimeGroupFiltering (and DPP-style runtime
  * filters generally) hand us the key values that can actually match; we
  * prune whole group files on manifest min/max stats without opening them.
  */
class GraftScan(table: GraftTable, holder: Option[ScanHolder],
                planFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = Array.empty,
                prunedSchema: StructType = null)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}

  // the live set is pinned at PLAN time: a concurrent commit during
  // execution cannot change which groups this scan reads; a VERSION AS OF
  // table pins instead to its snapshot's live set (time travel), and a
  // pinned-file-set table (ChangeFeed) to exactly the groups it was given.
  // Static predicates prune groups the stats PROVE can't match (the
  // residual row filter stays with Spark, so this is free and safe).
  // name-keyed manifest stats are only reliable against the schema they
  // were written under: the LIVE manifest is rekeyed atomically with
  // every rename/drop, but a PINNED old manifest keys stats by names
  // that may bind to different columns today — once any rename/drop
  // happened, pinned reads must not prune (or push aggregates) on them
  private val statsReliable: Boolean =
    (table.pinnedVersion.isEmpty && table.pinnedGroups.isEmpty) ||
    !(table.everRenamed || table.everDropped)

  // bloom sidecars, loaded lazily per candidate group (driver-side,
  // plan-time; cached for the scan's lifetime)
  private val bloomCache =
    scala.collection.mutable.Map.empty[String, Map[Int, Array[Long]]]

  /** Can the group's bloom filters REFUTE a point predicate? Sound
    * regardless of snapshot age or schema history: blooms are keyed by
    * stable field id (rename-proof; a re-added namesake's fresh id
    * simply misses) and describe the physical file (a delete vector
    * leaves them a superset). NULL rows never satisfy an equality, so
    * refuting the non-null values refutes the predicate.
    */
  private def bloomRefutes(g: Group, ps: Iterable[V2Predicate]): Boolean =
    g.bloom && ps.exists(p => GroupPredicate.equalityValues(p).exists {
      case (c, vs) if vs.nonEmpty && table.schema().fieldNames.contains(c) =>
        val id = table.fieldIdOf(c)
        bloomCache.getOrElseUpdate(g.file, GroupBloom.read(
            Paths.get(table.location).resolve(g.file + ".bloom")))
          .get(id).exists(w => vs.forall(v => !GroupBloom.mightContain(w, v)))
      case _ => false
    })

  private var groups: Seq[Group] = table.pinnedGroups.getOrElse(
    table.pinnedVersion match {
      case Some(v) => GroupFiles.liveAt(Paths.get(table.location), v)
      case None => GroupFiles.live(Paths.get(table.location))
    })
    .filterNot(g =>
      (statsReliable && planFilters.exists(p =>
        GroupPredicate.coverage(g, p) == GroupPredicate.MatchesNone)) ||
      bloomRefutes(g, planFilters))

  override def readSchema(): StructType =
    if (prunedSchema == null) table.schema() else prunedSchema
  override def toBatch: Batch = this

  /** MANIFEST-DERIVED SIZE/ROW statistics. Without them a DSv2 relation
    * costs `spark.sql.defaultSizeInBytes` (effectively infinite), so a
    * 10 KB catalog dimension would NEVER be auto-broadcast and every
    * join against it would shuffle both sides — the single biggest
    * plan-quality lever a table format owns. Sizes come from the live
    * (statically pruned) group files; a merge-on-read vector doesn't
    * shrink its file, so masked groups are scaled by their live-row
    * fraction. Both come from the manifest (`#n=`, `#z=`): planning
    * never stats a data file.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    memoizedStats
  private lazy val memoizedStats: org.apache.spark.sql.connector.read.Statistics = {
    val b = groups.map(g => if (g.rows > 0) g.bytes * g.liveRows / g.rows else g.bytes).sum
    val r = groups.map(_.liveRows).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(b)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(r)
    }
  }

  /** Only the LEADING long-typed column (the PK position in every table
    * this catalog serves): declaring several attributes makes Spark build
    * a multi-column struct-IN runtime filter, which is untranslatable to a
    * V2 source filter — the filter silently never arrives and no group is
    * pruned. One attribute → a plain single-column IN that translates.
    */
  override def filterAttributes(): Array[NamedReference] =
    table.schema().fields
      .find(_.dataType == org.apache.spark.sql.types.LongType)
      // a pruned-out column can't carry a runtime filter: it is not in
      // the scan output the filter would reference
      .filter(f => readSchema().fieldNames.contains(f.name))
      .map(f => Expressions.column(f.name)).toArray

  /** Runtime pruning shares the same conservative tri-state evaluator as
    * static pruning and metadata DELETE: keep the group unless the stats
    * PROVE no row can match.
    */
  override def filter(predicates: Array[V2Predicate]): Unit =
    groups = groups.filter { g =>
      (!statsReliable || predicates.forall(p =>
        GroupPredicate.coverage(g, p) != GroupPredicate.MatchesNone)) &&
      !bloomRefutes(g, predicates)
    }

  /** Bucketed layout is reportable iff EVERY planned group carries a
    * bucket tag (all writes route, so normally all do; a manifest edited
    * by an older binary degrades to per-file scanning, never to wrong
    * answers).
    */
  private def bucketedLayout: Option[(String, Int)] =
    table.bucketSpec.filter(_ => groups.forall(_.bucket.isDefined))
      // KeyGroupedPartitioning names the bucket column: only reportable
      // when the scan actually outputs it
      .filter { case (c, _) => readSchema().fieldNames.contains(c) }

  /** STORAGE-PARTITIONED execution: a bucketed table's scan reports
    * KeyGroupedPartitioning over the bucket transform — with
    * spark.sql.sources.v2.bucketing.enabled, a join of two co-bucketed
    * tables on the bucket column (or an aggregate over it) keeps the
    * Exchange OUT of the plan entirely; each of the N partitions zips the
    * two sides' bucket files locally. ALL N buckets are emitted (empty
    * ones included) so both sides of a join always present identical
    * partition values.
    */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketedLayout match {
      case Some((c, n)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(Expressions.bucket(n, c)), n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          groups.size)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    holder.foreach(_.planned = Some(groups.map(g => (g.file, g.deletes.map(_._1)))))
    val dir = Paths.get(table.location)
    bucketedLayout match {
      case Some((_, n)) =>
        val byBucket = groups.groupBy(_.bucket.get)
        (0 until n).map { b =>
          GraftBucketPartition(b,
            byBucket.getOrElse(b, Seq.empty).map(g => GroupSlice.of(dir, g))
          ): InputPartition
        }.toArray
      case None =>
        groups.map(g =>
          GraftInputPartition(GroupSlice.of(dir, g)): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GroupRowsReader.factory(GroupRowsReader.colsFor(table, readSchema()))

  /** STREAMING READ of the table (readStream.table): every COMMIT is a
    * micro-batch — offsets are snapshot versions, a batch's rows are the
    * group files ADDED between two versions. See [[GraftMicroBatchStream]].
    */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(table)
}

/** Everything a task needs to read one group file: its path, the
  * field-id list its columns were written under, and the path of its
  * merge-on-read delete vector, if any.
  */
case class GroupSlice(path: String, fieldIds: Seq[Int],
                      dvPath: Option[String] = None)

object GroupSlice {
  def of(dir: Path, g: Group): GroupSlice =
    GroupSlice(dir.resolve(g.file).toString, g.fieldIds,
               g.deletes.map(d => dir.resolve(d._1).toString))
}

/** One group file per partition. */
case class GraftInputPartition(slice: GroupSlice) extends InputPartition

/** One BUCKET per partition (possibly several group files, possibly
  * none). HasPartitionKey hands Spark the bucket id as the partition's
  * key — the hook KeyGroupedPartitioning needs to line partitions up
  * across the two sides of a storage-partitioned join.
  */
case class GraftBucketPartition(bucket: Int, files: Seq[GroupSlice])
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

/** What one output ordinal of a group-file read serves: a data column
  * (identified by its STABLE field id), or one of the scan metadata
  * columns (physical row position / group file name — the row identity
  * merge-on-read deletes address).
  */
sealed trait ReadCol extends Serializable
/** `default` is the column's EXISTENCE default in Catalyst internal form
  * (null = no default): served instead of NULL when the field id is
  * absent from a file — i.e. the file predates an ADD COLUMN … DEFAULT.
  */
case class DataCol(fieldId: Int, default: Any = null) extends ReadCol
case object PosCol extends ReadCol
case object FileCol extends ReadCol

/** The shared row reader over one immutable group file (batch scans and
  * the streaming source read identical bytes).
  */
object GroupRowsReader {
  /** Reader columns for serving `readSchema` out of `table`. Data
    * columns win a name collision (createTable rejects the reserved
    * names anyway, but a pre-existing table must never have its data
    * silently replaced by scan metadata).
    */
  def colsFor(table: GraftTable, readSchema: StructType): Seq[ReadCol] =
    readSchema.fields.toSeq.map { f =>
      if (table.schema().fieldNames.contains(f.name))
        // existence default resolved from the TABLE's field (the pruned
        // read schema may or may not carry the metadata through)
        DataCol(table.fieldIdOf(f.name),
          org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .getExistenceDefaultValue(
              table.schema()(table.schema().fieldIndex(f.name))))
      else f.name match {
        case GraftTable.FILE_COL => FileCol
        case GraftTable.POS_COL => PosCol
        case n => throw new IllegalArgumentException(
          s"requested column $n is neither a table column nor a scan metadata column")
      }
    }

  def factory(cols: Seq[ReadCol]): PartitionReaderFactory =
    (partition: InputPartition) => partition match {
      case GraftBucketPartition(_, files) =>
        // one bucket = its files' rows concatenated, in manifest order
        new PartitionReader[InternalRow] {
          private val it = files.iterator
          private var cur: PartitionReader[InternalRow] = _
          override def next(): Boolean = {
            while (true) {
              if (cur == null) {
                if (!it.hasNext) return false
                cur = fileReader(it.next(), cols)
              }
              if (cur.next()) return true
              cur.close(); cur = null
            }
            false
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
      case GraftInputPartition(slice) => fileReader(slice, cols)
      case other => throw new IllegalStateException(
        s"unexpected partition type ${other.getClass.getName}")
    }

  /** The next length-prefixed row payload of group file `file`, or null
    * at a clean end. EOF is only legal at a ROW BOUNDARY — i.e. exactly
    * BEFORE a length prefix. A torn file (truncated mid-row OR mid-prefix
    * by disk corruption / a non-atomic copy) must fail LOUDLY: treating
    * any EOF as a clean end would silently drop tail rows, the
    * worst-case failure mode for a table format. The prefix is read
    * byte-wise because readInt() throws the SAME EOFException for "no
    * bytes at all" (clean) and "1-3 bytes left" (torn). Shared by the
    * scan and [[GroupFiles.materializeDeletes]].
    */
  private[catalog] def readRow(in: DataInputStream, file: String): Array[Byte] = {
    val b0 = in.read()
    if (b0 < 0) return null // clean EOF at a row boundary
    val b1 = in.read(); val b2 = in.read(); val b3 = in.read()
    if (b1 < 0 || b2 < 0 || b3 < 0) throw new java.io.IOException(
      s"torn group file $file: truncated inside a row length prefix")
    val len = (b0 << 24) | (b1 << 16) | (b2 << 8) | b3
    require(len >= 0 && len <= (1 << 30),
      s"group file $file: corrupt row length $len")
    val bytes = new Array[Byte](len)
    try in.readFully(bytes)
    catch {
      case e: EOFException => throw new java.io.IOException(
        s"torn group file $file: row of $len bytes truncated mid-read", e)
    }
    bytes
  }

  private def fileReader(slice: GroupSlice,
                         cols: Seq[ReadCol]): PartitionReader[InternalRow] =
      new PartitionReader[InternalRow] {
        private val path = slice.path
        private val in = new DataInputStream(new BufferedInputStream(
          Files.newInputStream(Paths.get(path))))
        // merge-on-read delete vector: sorted physical positions to mask.
        // The scan is sequential, so masking is a single forward pointer —
        // O(1) per row, no hashing.
        private val dv: Array[Long] = slice.dvPath match {
          case Some(p) =>
            val f = Paths.get(p)
            GroupFiles.readDeleteVector(f.getParent, f.getFileName.toString)
          case None => Array.emptyLongArray
        }
        private var rowPos = -1L
        private var dvIdx = 0
        private val numFields = in.readInt()
        // the file's column identities, in file position order (#f=)
        private val fids: Seq[Int] = slice.fieldIds
        require(fids.length == numFields,
          s"group file $path header width $numFields does not match its " +
          s"manifest field ids (${fids.mkString(",")})")
        private val row = new UnsafeRow(numFields)
        // each requested ordinal is resolved BY FIELD ID to a file
        // position (missing id — a column added after this file — reads
        // NULL), or to one of the scan metadata slots (physical row
        // position / file name). The mapping degenerates to the identity
        // (serve the raw row) or a null-pad (JoinedRow) in the common
        // full-schema add-only cases.
        private val mapping: Array[Int] = cols.map {
          case DataCol(id, _) => fids.indexOf(id) // -1 when absent → default/NULL
          case PosCol => ReorderedRow.POS
          case FileCol => ReorderedRow.FILE
        }.toArray
        // per-output-ordinal existence defaults: consulted only where
        // mapping(i) == -1 (the file predates the column)
        private val defaults: Array[Any] = cols.map {
          case DataCol(_, d) => d
          case _ => null
        }.toArray
        // identity/null-pad fast paths serve the RAW row (possibly
        // JoinedRow-padded): only valid when the requested width covers
        // the whole file row — a PRUNED subset must go through the
        // projection view even if its prefix is the identity
        private val identityPrefix =
          mapping.length >= numFields &&
          mapping.zipWithIndex.forall { case (m, i) =>
            (i < numFields && m == i) || (i >= numFields && m == -1) }
        private val pad =
          if (!identityPrefix || numFields == mapping.length) null
          // the padded tail holds the absent columns' existence defaults
          // (null where none — the pre-DEFAULT behavior)
          else new org.apache.spark.sql.catalyst.expressions.JoinedRow(
            row, new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              defaults.slice(numFields, mapping.length)))
        private val reshaped =
          if (identityPrefix) null
          else new ReorderedRow(row, mapping,
            org.apache.spark.unsafe.types.UTF8String.fromString(
              Paths.get(path).getFileName.toString), defaults)
        override def next(): Boolean = {
          var bytes = readRow(in, path)
          while (bytes != null) {
            row.pointTo(bytes, bytes.length)
            rowPos += 1
            // deleted position? skip it (vector and scan are both sorted)
            if (dvIdx < dv.length && dv(dvIdx) == rowPos) dvIdx += 1
            else {
              if (reshaped != null) reshaped.pos = rowPos
              return true
            }
            bytes = readRow(in, path)
          }
          false
        }
        override def get(): InternalRow =
          if (reshaped != null) reshaped else if (pad == null) row else pad
        override def close(): Unit = in.close()
      }

  /** Schema-ordinal view over a file row: ordinal i reads file position
    * map(i); map(i) == -1 (the field id is absent from this file) reads
    * NULL; the POS/FILE sentinels serve the scan metadata columns
    * (physical row position, set per row by the reader; group file name,
    * fixed per file). Typed getters follow the InternalRow contract
    * (callers check isNullAt first); data slots are read-only.
    */
  private[catalog] object ReorderedRow {
    val POS = -2  // map sentinel: _graft_pos (LongType, never null)
    val FILE = -3 // map sentinel: _graft_file (StringType, never null)
  }
  private[catalog] class ReorderedRow(
      under: InternalRow, map: Array[Int],
      file: org.apache.spark.unsafe.types.UTF8String = null,
      defaults: Array[Any] = null)
      extends InternalRow {
    var pos: Long = -1L
    // existence default for an absent-id ordinal (files older than the
    // column); null = no default, the ordinal reads NULL
    private def dflt(i: Int): Any = if (defaults == null) null else defaults(i)
    override def numFields: Int = map.length
    override def isNullAt(i: Int): Boolean = {
      val p = map(i)
      if (p == -1) dflt(i) == null
      else if (p < -1) false // metadata slots are never null
      else under.isNullAt(p)
    }
    override def anyNull: Boolean = {
      var i = 0
      while (i < map.length) { if (isNullAt(i)) return true; i += 1 }
      false
    }
    override def getBoolean(i: Int): Boolean = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[Boolean] else under.getBoolean(p)
    }
    override def getByte(i: Int): Byte = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[Byte] else under.getByte(p)
    }
    override def getShort(i: Int): Short = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[Short] else under.getShort(p)
    }
    override def getInt(i: Int): Int = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[Int] else under.getInt(p)
    }
    override def getLong(i: Int): Long = {
      val p = map(i)
      if (p == ReorderedRow.POS) pos
      else if (p == -1) dflt(i).asInstanceOf[Long]
      else under.getLong(p)
    }
    override def getFloat(i: Int): Float = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[Float] else under.getFloat(p)
    }
    override def getDouble(i: Int): Double = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[Double] else under.getDouble(p)
    }
    override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[org.apache.spark.sql.types.Decimal]
      else under.getDecimal(p, precision, scale)
    }
    override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String = {
      val p = map(i)
      if (p == ReorderedRow.FILE) file
      else if (p == -1) dflt(i).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      else under.getUTF8String(p)
    }
    override def getBinary(i: Int): Array[Byte] = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[Array[Byte]] else under.getBinary(p)
    }
    override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[org.apache.spark.unsafe.types.CalendarInterval]
      else under.getInterval(p)
    }
    override def getStruct(i: Int, numFields: Int): InternalRow = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[InternalRow] else under.getStruct(p, numFields)
    }
    override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      else under.getArray(p)
    }
    override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
      else under.getMap(p)
    }
    override def getVariant(i: Int): org.apache.spark.unsafe.types.VariantVal = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[org.apache.spark.unsafe.types.VariantVal]
      else under.getVariant(p)
    }
    override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[org.apache.spark.unsafe.types.GeographyVal]
      else under.getGeography(p)
    }
    override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal = {
      val p = map(i)
      if (p == -1) dflt(i).asInstanceOf[org.apache.spark.unsafe.types.GeometryVal]
      else under.getGeometry(p)
    }
    override def get(i: Int, dataType: org.apache.spark.sql.types.DataType): AnyRef = {
      val p = map(i)
      if (p == ReorderedRow.POS) Long.box(pos)
      else if (p == ReorderedRow.FILE) file
      else if (p < 0) dflt(i).asInstanceOf[AnyRef]
      else under.get(p, dataType)
    }
    override def copy(): InternalRow = {
      val c = new ReorderedRow(under.copy(), map, file, defaults)
      c.pos = pos
      c
    }
    override def setNullAt(i: Int): Unit =
      throw new UnsupportedOperationException("ReorderedRow is read-only")
    override def update(i: Int, value: Any): Unit =
      throw new UnsupportedOperationException("ReorderedRow is read-only")
  }
}

/** Version-offset streaming source over a Graft table: every commit
  * (INSERT, MERGE micro-batch, compaction) becomes one micro-batch whose
  * rows are the files ADDED between the two snapshot versions — the
  * Delta-style "stream a transactional table" experience, driven by the
  * same retained manifests that power time travel. Copy-on-write
  * semantics apply: a MERGE's rewritten groups re-emit their carried
  * rows (the post-image feed; for an exact delete+insert audit diff use
  * ChangeFeed.tableChanges). An offset older than the retention window
  * fails loudly via liveAt rather than silently skipping data.
  */
case class GraftStreamOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

class GraftMicroBatchStream(table: GraftTable)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset
  private val dir = Paths.get(table.location)

  override def initialOffset(): Offset = GraftStreamOffset(0L)
  override def latestOffset(): Offset = GraftStreamOffset(GroupFiles.version(dir))
  override def deserializeOffset(json: String): Offset = GraftStreamOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].v
    val e = end.asInstanceOf[GraftStreamOffset].v
    if (e <= s) return Array.empty
    val before = if (s == 0) Set.empty[String]
                 else GroupFiles.liveAt(dir, s).map(_.file).toSet
    GroupFiles.liveAt(dir, e).filterNot(g => before(g.file))
      .map(g => GraftInputPartition(GroupSlice.of(dir, g)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // full-schema read via colsFor so existence defaults apply here too
    GroupRowsReader.factory(GroupRowsReader.colsFor(table, table.schema()))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class GraftWriteBuilder(table: GraftTable, writeSchema: StructType, replaceAll: Boolean,
                        holder: Option[ScanHolder])
    extends WriteBuilder with SupportsTruncate {
  private var truncateRequested = false
  override def truncate(): WriteBuilder = { truncateRequested = true; this }
  override def build(): Write = new Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}

    // bucketed table: ask Spark to CLUSTER incoming rows by the bucket
    // transform (resolved via the catalog's FunctionCatalog), so each
    // write task receives whole buckets and emits one group file per
    // bucket instead of every task touching every bucket. The row-routing
    // writer stays correct without it; the distribution shapes file
    // counts: tasks × buckets files would recreate the small-file problem
    // this exists to avoid.
    override def requiredDistribution(): Distribution = table.bucketSpec match {
      case Some((c, n)) => Distributions.clustered(Array(Expressions.bucket(n, c)))
      case None => table.partitionSpec match {
        // value-partitioned: cluster by the transform so a task emits one
        // file per partition it owns, not a sliver of every partition
        case Some((c, "identity")) => Distributions.clustered(Array(Expressions.identity(c)))
        case Some((c, "days")) => Distributions.clustered(Array(Expressions.days(c)))
        case Some((c, "months")) => Distributions.clustered(Array(Expressions.months(c)))
        case _ => Distributions.unspecified()
      }
    }
    // distribution is a preference, not a gate: an unshuffled write is
    // still correct (the writer routes rows), so never fail a write plan
    // that cannot satisfy it
    override def distributionStrictlyRequired(): Boolean = false
    override def requiredOrdering(): Array[SortOrder] = Array.empty

    override def toBatch: BatchWrite =
      new GraftBatchWrite(table, writeSchema, replaceAll || truncateRequested, holder)
  }
}

class GraftBatchWrite(table: GraftTable, writeSchema: StructType,
                      replaceAll: Boolean, holder: Option[ScanHolder]) extends BatchWrite {
  // a standalone case class, NOT a lambda: a closure here would capture
  // this BatchWrite (and through it the non-serializable table)
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftWriterFactory(table.location, writeSchema,
      table.bucketSpec.map { case (c, n) => (writeSchema.fieldIndex(c), n) },
      // field ids resolved BY NAME against the write schema: a row-level
      // write's schema is the table's, but resolving positionally would
      // silently mislabel columns if a future write path reordered them
      writeSchema.fields.map(f => table.fieldIdOf(f.name)).toSeq,
      table.partitionSpec.map { case (c, t) => (writeSchema.fieldIndex(c), t) },
      table.partitionSpecSeq,
      // CHECK constraints compiled here (driver-side, real analyzer)
      CheckConstraints.compile(
        org.apache.spark.sql.SparkSession.active, table.props, writeSchema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(table.location)
    val written = messages.flatMap(_.asInstanceOf[GraftCommitMessage].groups).toSeq
    (replaceAll, holder) match {
      // row-level op (MERGE/UPDATE/DELETE): copy-on-write replace of
      // exactly the groups the operation's scan planned (post runtime
      // group filtering), validated against the live set so a concurrent
      // commit that replaced a scanned group fails this one cleanly
      // instead of resurrecting its rows. A holder whose scan never
      // reached planInputPartitions (e.g. AQE empty-relation propagation)
      // scanned NOTHING — full-replace here would silently truncate the
      // table, so it replaces the empty set instead.
      case (true, Some(h)) =>
        GroupFiles.commitRowLevel(dir, h.planned.getOrElse(Seq.empty).toSet, written)
      // true INSERT OVERWRITE / TRUNCATE (no row-level scan exists)
      case (true, None) => GroupFiles.mutate(dir)(_ => written)
      case (false, _) => GroupFiles.mutate(dir)(_ ++ written)
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(table.location)
    messages.foreach {
      case GraftCommitMessage(gs) =>
        gs.foreach { g =>
          Files.deleteIfExists(dir.resolve(g.file))
          // never-published files are invisible to the ref-driven sweep:
          // their sidecars must go with them here or they leak forever
          Files.deleteIfExists(dir.resolve(g.file + ".bloom"))
        }
      case _ => ()
    }
  }
}

/** MERGE-ON-READ DELETE write: tasks receive each deleted row's
  * (_graft_file, _graft_pos) identity and accumulate per-file position
  * lists — O(deleted rows) state, the whole point of the mode — and the
  * commit turns them into delete VECTORS via [[GroupFiles.addDeletes]]
  * (conflict-validated, unioned with existing vectors, atomic manifest
  * swap). No data file is opened or written.
  */
class GraftDeltaWrite(table: GraftTable, writeSchema: StructType,
                      holder: Option[ScanHolder],
                      clusterInserts: Boolean = false)
    extends DeltaWrite with DeltaBatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}

  /** Insert-carrying delta writes (UPDATE/MERGE) against a BUCKETED
    * table cluster the stream by the bucket transform, so each task
    * appends whole-bucket files instead of one sliver per bucket per
    * task. Pure DELETEs never pay the shuffle — their output is
    * position lists, bucket-local already. Preference, not a gate: the
    * writer's routing map keeps unshuffled writes correct.
    */
  override def requiredDistribution(): Distribution =
    table.bucketSpec.filter(_ => clusterInserts) match {
      case Some((c, n)) => Distributions.clustered(Array(Expressions.bucket(n, c)))
      case None => table.partitionSpec.filter(_ => clusterInserts) match {
        case Some((c, "identity")) => Distributions.clustered(Array(Expressions.identity(c)))
        case Some((c, "days")) => Distributions.clustered(Array(Expressions.days(c)))
        case Some((c, "months")) => Distributions.clustered(Array(Expressions.months(c)))
        case _ => Distributions.unspecified()
      }
    }
  override def distributionStrictlyRequired(): Boolean = false
  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: DeltaBatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    GraftDeltaWriterFactory(table.location, writeSchema,
      table.bucketSpec.map { case (c, n) => (writeSchema.fieldIndex(c), n) },
      writeSchema.fields.map(f => table.fieldIdOf(f.name)).toSeq,
      table.partitionSpec.map { case (c, t) => (writeSchema.fieldIndex(c), t) },
      table.partitionSpecSeq,
      // MoR UPDATE/MERGE new-row images are inserts too — same gate
      CheckConstraints.compile(
        org.apache.spark.sql.SparkSession.active, table.props, writeSchema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val merged = scala.collection.mutable.Map.empty[String, Array[Long]]
    val appended = Seq.newBuilder[Group]
    messages.foreach {
      case GraftDeltaMessage(dels, groups) =>
        dels.foreach { case (f, ps) =>
          merged.update(f, merged.getOrElse(f, Array.emptyLongArray) ++ ps)
        }
        appended ++= groups
      case _ => ()
    }
    val groups = appended.result()
    // an operation that changed nothing commits nothing (no version bump)
    if (merged.nonEmpty || groups.nonEmpty)
      GroupFiles.commitDelta(Paths.get(table.location),
        // inserts present → validate the scanned (file, vector) set;
        // delete-only → vector union is commutative, liveness suffices
        holder.map(_.planned.getOrElse(Seq.empty).toSet),
        merged.toMap, groups)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(table.location)
    messages.foreach {
      case GraftDeltaMessage(_, gs) =>
        gs.foreach { g =>
          Files.deleteIfExists(dir.resolve(g.file))
          Files.deleteIfExists(dir.resolve(g.file + ".bloom"))
        }
      case _ => ()
    }
  }
}

/** Per-task accumulator of (group file → deleted physical positions),
  * plus — for UPDATE/MERGE, whose new row images ARRIVE as inserts under
  * representUpdateAsDeleteAndInsert — an embedded ordinary group writer
  * for the appended rows.
  */
case class GraftDeltaWriterFactory(location: String, writeSchema: StructType,
                                   bucketed: Option[(Int, Int)],
                                   fieldIds: Seq[Int],
                                   partitioned: Option[(Int, String)] = None,
                                   partSeq: Int = 0,
                                   checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val dels =
        scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
      private var inserts: DataWriter[InternalRow] = _
      override def delete(metadata: InternalRow, id: InternalRow): Unit =
        dels.getOrElseUpdate(id.getUTF8String(0).toString,
          scala.collection.mutable.ArrayBuffer.empty) += id.getLong(1)
      override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
        throw new UnsupportedOperationException(
          "updates are represented as delete+insert (representUpdateAsDeleteAndInsert)")
      override def insert(row: InternalRow): Unit = {
        if (inserts == null)
          inserts = GraftWriterFactory(location, writeSchema, bucketed, fieldIds,
                                       partitioned, partSeq, checks)
            .createWriter(partitionId, taskId)
        inserts.write(row)
      }
      override def commit(): WriterCommitMessage =
        GraftDeltaMessage(dels.map { case (f, ps) => f -> ps.toArray }.toMap,
          if (inserts == null) Seq.empty
          else inserts.commit().asInstanceOf[GraftCommitMessage].groups)
      override def abort(): Unit = if (inserts != null) inserts.abort()
      override def close(): Unit = if (inserts != null) inserts.close()
    }
}

case class GraftDeltaMessage(deletes: Map[String, Array[Long]],
                             groups: Seq[Group] = Seq.empty)
    extends WriterCommitMessage

case class GraftCommitMessage(groups: Seq[Group]) extends WriterCommitMessage
