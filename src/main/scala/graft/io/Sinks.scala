package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Writers (SURVEY.md §2 A/E API-only rows).
  *
  * Transactionality: the reference wraps multi-statement batches in a
  * Postgres transaction (postpy sql.execute_transaction [unverified]).
  * Spark writes are job-atomic per output directory via the commit
  * protocol but NOT multi-statement-atomic; `atomicOverwrite` narrows the
  * gap for single-table replacement by staging to a sibling directory and
  * renaming — readers see either the old or the new table, never a
  * partial write. This is a documented semantic difference, not a hidden
  * one (SURVEY §7.4.6).
  */
object Sinks {

  /** CSV export with header — COPY TO analogue. `encoding` accepts a PG
    * codec name or Java charset (same registry as the reader side).
    */
  def csv(df: DataFrame, path: String, nullValue: String = "",
          encoding: String = "UTF-8"): Unit =
    df.write.mode("overwrite")
      .option("header", "true").option("nullValue", nullValue)
      .option("encoding", Sources.charsetFor(encoding))
      .csv(path)

  /** Hive-style partitioned write with bounded file sizes — the layout a
    * 100 TB output needs: one directory per partition value, files capped
    * at `maxRecordsPerFile` rows (Spark splits write tasks at the cap, so
    * no second sizing pass and no driver-side row count). The repartition
    * on the partition columns co-locates each partition value into one
    * task, avoiding the classic small-files explosion (tasks × partition
    * values output files).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       maxRecordsPerFile: Long): Unit =
    df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Stage-then-rename overwrite: write to `<path>.__staging`, then move
    * it over `path` atomically (same filesystem). Local/HDFS-style
    * semantics; object stores need their own committer at 100 TB.
    */
  def atomicOverwrite(df: DataFrame, path: String): Unit = {
    val target: Path = Paths.get(path)
    val staging: Path = Paths.get(path + ".__staging")
    deleteRecursively(staging)
    df.write.mode("overwrite").parquet(staging.toString)
    val backup = Paths.get(path + ".__old")
    deleteRecursively(backup)
    if (Files.exists(target)) Files.move(target, backup, StandardCopyOption.ATOMIC_MOVE)
    try Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    catch { case e: Throwable =>
      // roll back: restore the previous table before propagating
      if (Files.exists(backup) && !Files.exists(target))
        Files.move(backup, target, StandardCopyOption.ATOMIC_MOVE)
      throw e
    }
    deleteRecursively(backup)
  }

  /** Multi-table staged commit — the closest Spark analogue of the
    * reference's multi-statement transaction (postpy sql.execute_transaction
    * [unverified, SURVEY §0]): EVERY table is staged first (the expensive,
    * failure-prone phase — a failure here leaves all targets untouched),
    * then all are swapped in by cheap same-filesystem renames; a swap-phase
    * failure rolls the already-swapped tables back to their previous
    * content before propagating. Readers therefore see either all old
    * tables or all new ones — never a mixed set (modulo the rename window,
    * which is milliseconds per table, not a data rewrite).
    */
  def atomicOverwriteAll(writes: Seq[(DataFrame, String)]): Unit = {
    // phase 1: stage everything
    writes.foreach { case (df, path) =>
      val staging = Paths.get(path + ".__staging")
      deleteRecursively(staging)
      df.write.mode("overwrite").parquet(staging.toString)
    }
    // phase 2: swap everything; remember what's swapped for rollback
    val swapped = scala.collection.mutable.ArrayBuffer[String]()
    try {
      writes.foreach { case (_, path) =>
        val target = Paths.get(path)
        val backup = Paths.get(path + ".__old")
        deleteRecursively(backup)
        if (Files.exists(target)) Files.move(target, backup, StandardCopyOption.ATOMIC_MOVE)
        Files.move(Paths.get(path + ".__staging"), target, StandardCopyOption.ATOMIC_MOVE)
        swapped += path
      }
    } catch { case e: Throwable =>
      // restore every table already swapped, newest-first
      swapped.reverseIterator.foreach { path =>
        val target = Paths.get(path)
        val backup = Paths.get(path + ".__old")
        deleteRecursively(target)
        if (Files.exists(backup)) Files.move(backup, target, StandardCopyOption.ATOMIC_MOVE)
      }
      throw e
    }
    writes.foreach { case (_, path) => deleteRecursively(Paths.get(path + ".__old")) }
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** The session warehouse directory as a local filesystem path. Spark
    * usually reports `spark.sql.warehouse.dir` as a `file:` URI with
    * percent-encoded characters (e.g. `%20` for a space) — those must be
    * URI-decoded or the computed path doesn't exist and any cleanup
    * silently no-ops. A plain path (spaces legal, not a valid URI) is
    * taken verbatim.
    */
  def warehousePath(spark: SparkSession): Path =
    warehousePath(spark.conf.get("spark.sql.warehouse.dir"))

  /** Conf-string form (the conf is static — tests exercise this directly). */
  def warehousePath(conf: String): Path =
    if (conf.startsWith("file:"))
      try Paths.get(new java.net.URI(conf))
      catch { case _: Exception => Paths.get(conf.stripPrefix("file:")) }
    else Paths.get(conf)

  /** Drop a managed table AND clear its leftover warehouse location. A
    * previous JVM's warehouse directory survives while the in-memory
    * session catalog does not, so a bare `saveAsTable` after restart fails
    * with LOCATION_ALREADY_EXISTS — this is the one audited place that
    * driver-side filesystem hygiene lives (callers must not hand-roll
    * directory deletion in query paths).
    */
  def dropTableAndLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    deleteRecursively(warehousePath(spark).resolve(table))
  }
}
