package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Model, Schemas}

/** Executable-DDL + reflection roundtrip (postpy admin.* analogue):
  * create via the compiled statement, reflect via spark.catalog, drop.
  */
class CatalogSpec extends AnyFunSuite with SparkFixture {

  test("compiled CREATE TABLE executes; catalog reflects it back; DROP cleans up") {
    val t = Model.fromStruct("graft_ddl_rt", Schemas.customer, Model.primaryKeys("customer"))
    spark.sql(t.dropStatement)
    spark.sql(t.createStatement)
    try {
      assert(spark.catalog.tableExists("graft_ddl_rt"))
      val cols = spark.catalog.listColumns("graft_ddl_rt").collect()
      assert(cols.map(_.name).toSeq === Schemas.customer.map(_.name))
      // PK survives the catalog roundtrip via table properties
      val props = spark.sql("SHOW TBLPROPERTIES graft_ddl_rt").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("primary_key").contains("c_custkey"))
    } finally spark.sql(t.dropStatement)
    assert(!spark.catalog.tableExists("graft_ddl_rt"))
  }

  test("listTables exposes temp views (reflection surface)") {
    spark.range(3).createOrReplaceTempView("graft_reflect_v")
    assert(spark.catalog.listTables().collect().exists(_.name == "graft_reflect_v"))
    spark.catalog.dropTempView("graft_reflect_v")
  }

  test("GraftCatalog tables are FILE-backed: group files + manifest, COW swap on MERGE") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_t")
    spark.sql("CREATE TABLE graft_fb.default.fb_t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_fb.default.fb_t SELECT id AS k, CAST(id AS STRING) AS v FROM range(100)")

    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_t")).asInstanceOf[graft.catalog.GraftTable]
    val dir = Paths.get(tbl.location)

    def groups() = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet
    val before = groups()
    assert(before.nonEmpty, "insert produced no group files on disk")
    assert(Files.exists(dir.resolve("manifest")), "no manifest published")
    assert(graft.catalog.GroupFiles.live(dir).map(_.file).toSet === before,
      "manifest does not list exactly the on-disk groups")

    // copy-on-write MERGE: every live group is rewritten — the post-state
    // LIVE set must be disjoint from the pre-state set (immutable groups;
    // the replaced files stay on disk while retained snapshots reference
    // them — that is the time-travel record, not an orphan leak)
    spark.sql(
      """MERGE INTO graft_fb.default.fb_t t
        |USING (SELECT id AS k, 'upd' AS v FROM range(0, 100, 2)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = graft.catalog.GroupFiles.live(dir).map(_.file).toSet
    assert(after.nonEmpty && after.intersect(before).isEmpty,
      s"MERGE must replace groups copy-on-write: before=$before after=$after")
    assert(after.subsetOf(groups()), "live groups missing from disk")
    assert(spark.table("graft_fb.default.fb_t").count() === 100)
    assert(spark.sql("SELECT count(*) FROM graft_fb.default.fb_t WHERE v = 'upd'")
      .head().getLong(0) === 50)
    spark.sql("DROP TABLE graft_fb.default.fb_t")
    assert(!Files.exists(dir), "DROP TABLE must delete the table directory")
  }

  test("rename keeps data; re-creating the old name cannot clobber it; rename onto existing fails") {
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    Seq("fb_r1", "fb_r2", "fb_r3").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_fb.default.$t"))
    spark.sql("CREATE TABLE graft_fb.default.fb_r1 (k BIGINT)")
    spark.sql("INSERT INTO graft_fb.default.fb_r1 SELECT id FROM range(10)")
    spark.sql("ALTER TABLE graft_fb.default.fb_r1 RENAME TO default.fb_r2")
    // the collision that used to destroy the renamed table's data:
    // re-creating the old name must land in a DIFFERENT directory
    spark.sql("CREATE TABLE graft_fb.default.fb_r1 (k BIGINT)")
    assert(spark.table("graft_fb.default.fb_r2").count() === 10,
      "re-creating the old name wiped the renamed table's data")
    // rename onto an existing table must fail, not clobber
    spark.sql("CREATE TABLE graft_fb.default.fb_r3 (k BIGINT)")
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_fb.default.fb_r3 RENAME TO default.fb_r2")
    }
    assert(spark.table("graft_fb.default.fb_r2").count() === 10)
    // duplicate ADD COLUMN is rejected
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_fb.default.fb_r2 ADD COLUMN k BIGINT")
    }
    Seq("fb_r1", "fb_r2", "fb_r3").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_fb.default.$t"))
  }

  test("compaction merges small groups by byte copy; content and stats survive") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_c")
    spark.sql("CREATE TABLE graft_fb.default.fb_c (k BIGINT, v STRING)")
    // five small inserts → at least five group files
    (0 until 5).foreach { i =>
      spark.sql(s"INSERT INTO graft_fb.default.fb_c SELECT id, 'b$i' FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_c")).asInstanceOf[graft.catalog.GraftTable]
    val dir = Paths.get(tbl.location)
    val beforeCount = graft.catalog.GroupFiles.live(dir).size
    assert(beforeCount >= 5)
    val checksumBefore = spark.sql(
      "SELECT CAST(SUM(k) AS BIGINT) s, COUNT(*) n, COUNT(DISTINCT v) d FROM graft_fb.default.fb_c").head()

    graft.catalog.GroupFiles.compact(dir, targetBytes = Long.MaxValue)

    val after = graft.catalog.GroupFiles.live(dir)
    assert(after.size === 1, s"unbounded target must compact to one group, got ${after.size}")
    // merged stats span the full key range
    assert(after.head.stats("k") === ((0L, 499L)))
    // no orphan files: everything on disk is referenced by some RETAINED
    // snapshot (the pre-compaction groups stay until their snapshots expire)
    val onDisk = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet
    val referenced = graft.catalog.GroupFiles.versions(dir)
      .flatMap(v => graft.catalog.GroupFiles.liveAt(dir, v).map(_.file)).toSet
    assert(onDisk === referenced)
    assert(after.map(_.file).toSet.subsetOf(onDisk))
    // identical content through the normal read path
    assert(spark.sql(
      "SELECT CAST(SUM(k) AS BIGINT) s, COUNT(*) n, COUNT(DISTINCT v) d FROM graft_fb.default.fb_c")
      .head() === checksumBefore)
    spark.sql("DROP TABLE graft_fb.default.fb_c")
  }

  test("ADD COLUMN is metadata-only: old groups null-pad, new writes carry the column") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_evo")
    spark.sql("CREATE TABLE graft_fb.default.fb_evo (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_fb.default.fb_evo SELECT id, 'old' FROM range(0, 50)")
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    def dir = Paths.get(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_evo")).asInstanceOf[graft.catalog.GraftTable].location)
    val beforeFiles = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet

    spark.sql("ALTER TABLE graft_fb.default.fb_evo ADD COLUMN w BIGINT")

    // metadata-only: not a single data file changed
    val afterAlter = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet
    assert(afterAlter === beforeFiles, "ADD COLUMN must not touch data files")
    // old rows read back null-padded
    assert(spark.sql("SELECT count(*) FROM graft_fb.default.fb_evo WHERE w IS NULL")
      .head().getLong(0) === 50)
    // new writes carry the column; old and new generations coexist
    spark.sql("INSERT INTO graft_fb.default.fb_evo SELECT id, 'new', id * 10 FROM range(50, 60)")
    assert(spark.sql("SELECT CAST(SUM(w) AS BIGINT) FROM graft_fb.default.fb_evo")
      .head().getLong(0) === (50L until 60L).map(_ * 10).sum)
    // a MERGE across both generations normalizes everything to the new width
    spark.sql(
      """MERGE INTO graft_fb.default.fb_evo t
        |USING (SELECT id AS k, 'upd' AS v, 7L AS w FROM range(0, 60, 3)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft_fb.default.fb_evo").count() === 60)
    assert(spark.sql("SELECT count(*) FROM graft_fb.default.fb_evo WHERE v = 'upd' AND w = 7")
      .head().getLong(0) === 20)
    spark.sql("DROP TABLE graft_fb.default.fb_evo")
  }

  test("RENAME/DROP COLUMN are metadata-only: field ids keep every generation readable") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_fid"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, a BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $T SELECT id, id * 2, 'g1' FROM range(0, 50)")
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    def dir = Paths.get(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_fid")).asInstanceOf[graft.catalog.GraftTable].location)
    def dataFiles() = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet
    val gen1Files = dataFiles()

    // RENAME: old files keep serving the column under its new name
    spark.sql(s"ALTER TABLE $T RENAME COLUMN a TO b")
    assert(dataFiles() === gen1Files, "RENAME COLUMN must not touch data files")
    assert(spark.sql(s"SELECT CAST(SUM(b) AS BIGINT) FROM $T").head().getLong(0)
      === (0L until 50L).map(_ * 2).sum)
    // stats carried across the rename: MIN/MAX still metadata-answerable
    assert(spark.sql(s"SELECT CAST(MAX(b) AS BIGINT) FROM $T").head().getLong(0) === 98L)
    spark.sql(s"INSERT INTO $T SELECT id, id * 2, 'g2' FROM range(50, 80)")

    // DROP: metadata-only, the column vanishes from every generation
    val preDropVersion = graft.catalog.GroupFiles.version(dir)
    spark.sql(s"ALTER TABLE $T DROP COLUMN v")
    assert(spark.table(T).columns.toSeq === Seq("k", "b"))
    assert(spark.table(T).count() === 80)

    // RE-ADD the dropped name: old files must read NULL for it — the
    // dead field's bytes (g1/g2 strings) must never leak into the
    // reborn namesake
    spark.sql(s"ALTER TABLE $T ADD COLUMN v STRING")
    assert(spark.sql(s"SELECT count(*) FROM $T WHERE v IS NULL").head().getLong(0) === 80)
    spark.sql(s"INSERT INTO $T SELECT id, id * 2, 'g3' FROM range(80, 90)")
    assert(spark.sql(s"SELECT count(*) FROM $T WHERE v = 'g3'").head().getLong(0) === 10)
    assert(spark.sql(s"SELECT count(*) FROM $T WHERE v IS NULL").head().getLong(0) === 80)
    // numeric column still correct across all three generations
    assert(spark.sql(s"SELECT CAST(SUM(b) AS BIGINT) FROM $T").head().getLong(0)
      === (0L until 90L).map(_ * 2).sum)

    // time travel across the evolution reads the old snapshot under the
    // CURRENT schema (pre-drop rows: v is the reborn field ⇒ NULL)
    val old = spark.sql(s"SELECT * FROM $T VERSION AS OF $preDropVersion")
    assert(old.columns.toSeq === Seq("k", "b", "v"))
    assert(old.count() === 80)
    assert(old.filter("v IS NOT NULL").count() === 0,
      "dropped-column bytes must not resurface through time travel")

    // compaction must not merge files of different schema generations
    graft.catalog.GroupFiles.compact(dir, 1L << 20)
    assert(spark.table(T).count() === 90)
    assert(spark.sql(s"SELECT count(*) FROM $T WHERE v IS NULL").head().getLong(0) === 80)
    assert(spark.sql(s"SELECT CAST(SUM(b) AS BIGINT) FROM $T").head().getLong(0)
      === (0L until 90L).map(_ * 2).sum)

    // a MERGE across generations normalizes matched rows to the current shape
    spark.sql(
      s"""MERGE INTO $T t
         |USING (SELECT id AS k, 0L AS b, 'upd' AS v FROM range(0, 90, 10)) s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $T WHERE v = 'upd' AND b = 0").head().getLong(0) === 9)
    assert(spark.table(T).count() === 90)
    spark.sql(s"DROP TABLE $T")
  }

  test("merge-on-read delete vectors: mask without rewriting, time travel, fold-in") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_mor"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING)")
    // single-slice ranges: one write task per insert → one group file
    // whose physical positions equal (k - range start), in order
    spark.sql(s"INSERT INTO $T SELECT id, CAST(id AS STRING) FROM range(0, 100, 1, 1)")
    spark.sql(s"INSERT INTO $T SELECT id, CAST(id AS STRING) FROM range(100, 150, 1, 1)")
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val dir = Paths.get(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_mor")).asInstanceOf[graft.catalog.GraftTable].location)
    def dataFiles() = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet
    def live() = graft.catalog.GroupFiles.live(dir)
    val files0 = dataFiles()
    val Seq(g1, _) = live().sortBy(_.stats("k")._1)
    val preV = graft.catalog.GroupFiles.version(dir)

    // mask k ∈ {3,7,11} out of the first group (positions == k here:
    // rows were written in range order) — data files must not change
    graft.catalog.GroupFiles.addDeletes(dir, Map(g1.file -> Array(3L, 7L, 11L)))
    assert(dataFiles() === files0, "MoR delete must not touch data files")
    assert(spark.table(T).count() === 147)
    assert(spark.sql(s"SELECT count(*) FROM $T WHERE k IN (3,7,11)").head().getLong(0) === 0)
    // COUNT(*) is still answered from metadata, exactly
    val countPlan = spark.sql(s"SELECT count(*) FROM $T").queryExecution
      .executedPlan.toString
    assert(countPlan.contains("GraftAggScan") || !countPlan.contains("GraftScan"),
      s"COUNT(*) should stay metadata-answered, got:\n$countPlan")
    // MIN/MAX refuse the metadata path (the masked rows may have held the
    // extremes) but remain correct through the ordinary scan
    assert(spark.sql(s"SELECT CAST(MIN(k) AS BIGINT), CAST(MAX(k) AS BIGINT) FROM $T")
      .head() === org.apache.spark.sql.Row(0L, 149L))

    // time travel: the pre-delete snapshot still sees all 150 rows
    assert(spark.sql(s"SELECT count(*) FROM $T VERSION AS OF $preV").head().getLong(0) === 150)

    // a second delete on the SAME group unions with the existing vector
    graft.catalog.GroupFiles.addDeletes(dir, Map(g1.file -> Array(3L, 20L)))
    assert(spark.table(T).count() === 146)
    assert(live().find(_.file == g1.file).flatMap(_.deletes).map(_._2) === Some(4L))

    // compaction must not byte-concat a masked group
    graft.catalog.GroupFiles.compact(dir, 1L << 30)
    assert(spark.table(T).count() === 146)
    assert(spark.sql(s"SELECT count(*) FROM $T WHERE k IN (3,7,11,20)").head().getLong(0) === 0)

    // materializeDeletes folds vectors in: no masked group remains, rows
    // unchanged, and the table becomes packable again
    graft.catalog.GroupFiles.materializeDeletes(dir)
    assert(live().forall(_.deletes.isEmpty))
    assert(spark.table(T).count() === 146)
    graft.catalog.GroupFiles.compact(dir, 1L << 30)
    assert(live().size === 1)
    assert(spark.table(T).count() === 146)
    assert(spark.sql(s"SELECT CAST(SUM(k) AS BIGINT) FROM $T").head().getLong(0)
      === (0L until 150L).sum - 3 - 7 - 11 - 20)

    // deleting every remaining live row of a group drops it entirely
    val Seq(only) = live()
    graft.catalog.GroupFiles.addDeletes(dir,
      Map(only.file -> Array.tabulate(146)(_.toLong)))
    assert(live().isEmpty)
    assert(spark.table(T).count() === 0)
    spark.sql(s"DROP TABLE $T")
  }

  test("metadata columns expose row identity; column pruning reaches the scan") {
    import java.nio.file.Paths
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_meta"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $T SELECT id, CAST(id AS STRING) FROM range(0, 30, 1, 1)")
    spark.sql(s"INSERT INTO $T SELECT id, CAST(id AS STRING) FROM range(30, 50, 1, 1)")

    // _graft_file/_graft_pos are queryable and consistent: positions are
    // 0-based per file, every (file,pos) pair unique
    val rows = spark.sql(s"SELECT _graft_file, _graft_pos, k FROM $T").collect()
    assert(rows.length === 50)
    assert(rows.map(r => (r.getString(0), r.getLong(1))).distinct.length === 50)
    val byFile = rows.groupBy(_.getString(0))
    assert(byFile.size === 2, "two single-task inserts → two group files")
    byFile.values.foreach { rs =>
      assert(rs.map(_.getLong(1)).sorted.toSeq === (0L until rs.length).toSeq,
        "positions must be dense 0-based per file")
    }
    // after a MoR delete, _graft_pos still reports PHYSICAL positions
    // (masked rows leave holes — the identity delete vectors address)
    val dir = Paths.get(spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("default"), "fb_meta"))
      .asInstanceOf[graft.catalog.GraftTable].location)
    val g = graft.catalog.GroupFiles.live(dir).minBy(_.stats("k")._1)
    graft.catalog.GroupFiles.addDeletes(dir, Map(g.file -> Array(0L, 4L)))
    val after = spark.sql(
      s"SELECT _graft_pos FROM $T WHERE _graft_file = '${g.file}'").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(after === (0L until 30L).filterNot(p => p == 0 || p == 4).toSeq)

    // pruning: a one-column projection's scan reads exactly that column
    val scanSchemas = spark.sql(s"SELECT k FROM $T").queryExecution.executedPlan
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.readSchema().fieldNames.toSeq }
    assert(scanSchemas === Seq(Seq("k")), s"scan not pruned: $scanSchemas")
    assert(spark.sql(s"SELECT CAST(SUM(k) AS BIGINT) FROM $T WHERE v <> 'x'")
      .head().getLong(0) === (0L until 50L).sum - 0 - 4)
    spark.sql(s"DROP TABLE $T")
  }

  test("change feed surfaces merge-on-read deletes; COW conflict on vector change") {
    import java.nio.file.Paths
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_morcf"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $T SELECT id, CAST(id AS STRING) FROM range(0, 50, 1, 1)")
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val dir = Paths.get(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_morcf")).asInstanceOf[graft.catalog.GraftTable].location)
    val v1 = graft.catalog.GroupFiles.version(dir)
    val g = graft.catalog.GroupFiles.live(dir).head
    graft.catalog.GroupFiles.addDeletes(dir, Map(g.file -> Array(5L, 9L)))
    val v2 = graft.catalog.GroupFiles.version(dir)

    val feed = graft.catalog.ChangeFeed.tableChanges(spark, T, v1, v2)
    val changes = feed.collect().map(r => (r.getLong(0), r.getString(2))).sortBy(_._1)
    assert(changes.toSeq === Seq((5L, "delete"), (9L, "delete")),
      "MoR deletes must surface in the change feed as deletes")

    // a COW rewrite computed against the OLD vector must fail cleanly
    // when the vector moved underneath it (simulated via commitRowLevel)
    intercept[java.util.ConcurrentModificationException] {
      graft.catalog.GroupFiles.commitRowLevel(dir,
        Set((g.file, g.deletes.map(_._1))), Seq.empty)
    }
    spark.sql(s"DROP TABLE $T")
  }

  test("UPDATE is merge-on-read: vectors mask old images, new images append") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_morupd"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $T SELECT id, CAST(id AS STRING) FROM range(0, 100, 1, 1)")
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val dir = Paths.get(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_morupd")).asInstanceOf[graft.catalog.GraftTable].location)
    def rowsFiles() = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet
    val before = rowsFiles()
    val preV = graft.catalog.GroupFiles.version(dir)

    spark.sql(s"UPDATE $T SET v = 'upd' WHERE k % 10 = 0")
    // the original group is never rewritten: it survives with a vector,
    // and ONLY the 10 new images appear as appended group files
    assert(before.subsetOf(rowsFiles()), "UPDATE must not rewrite the scanned group")
    val live = graft.catalog.GroupFiles.live(dir)
    val (masked, fresh) = live.partition(g => before(g.file))
    assert(masked.size === 1 && masked.head.deletes.map(_._2) === Some(10L))
    assert(fresh.nonEmpty && fresh.map(_.rows).sum === 10L)
    assert(spark.table(T).count() === 100)
    assert(spark.sql(s"SELECT count(*) FROM $T WHERE v = 'upd'").head().getLong(0) === 10)
    assert(spark.sql(s"SELECT CAST(SUM(k) AS BIGINT) FROM $T WHERE v = 'upd'")
      .head().getLong(0) === (0L until 100L by 10).sum)
    // pre-update snapshot unchanged
    assert(spark.sql(s"SELECT count(*) FROM $T VERSION AS OF $preV WHERE v = 'upd'")
      .head().getLong(0) === 0)
    // the change feed shows exactly the 10 delete+insert pairs
    val v2 = graft.catalog.GroupFiles.version(dir)
    val feed = graft.catalog.ChangeFeed.tableChanges(spark, T, preV, v2)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed === Map("delete" -> 10L, "insert" -> 10L))
    spark.sql(s"DROP TABLE $T")
  }

  test("MERGE goes merge-on-read when opted in; concurrent insert-carrying commits conflict") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_mormrg"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING) " +
      "TBLPROPERTIES('merge_mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $T SELECT id, CAST(id AS STRING) FROM range(0, 100, 1, 1)")
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val dir = Paths.get(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_mormrg")).asInstanceOf[graft.catalog.GraftTable].location)
    def rowsFiles() = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet
    val before = rowsFiles()

    spark.sql(
      s"""MERGE INTO $T t
         |USING (SELECT id AS k, 'm' AS v FROM range(90, 110)) s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(before.subsetOf(rowsFiles()), "MoR MERGE must not rewrite scanned groups")
    assert(spark.table(T).count() === 110)
    assert(spark.sql(s"SELECT count(*) FROM $T WHERE v = 'm'").head().getLong(0) === 20)
    val live = graft.catalog.GroupFiles.live(dir)
    assert(live.find(g => before(g.file)).flatMap(_.deletes).map(_._2) === Some(10L),
      "the 10 matched rows mask out of the original group")

    // strict validation: an insert-carrying delta commit whose scanned
    // vector moved underneath it must fail (double-insert prevention)
    val g = live.find(g => before(g.file)).get
    intercept[java.util.ConcurrentModificationException] {
      graft.catalog.GroupFiles.commitDelta(dir,
        Some(Set((g.file, Some("dv-gone.pos")))), Map.empty, Seq.empty)
    }
    spark.sql(s"DROP TABLE $T")
  }

  test("manifest statistics make a small catalog table auto-broadcast") {
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_dim"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, name STRING)")
    spark.sql(s"INSERT INTO $T SELECT id, CAST(id AS STRING) FROM range(0, 100)")
    // the fact side is over the broadcast threshold; the 100-row catalog
    // dim is kilobytes — WITH manifest statistics Spark broadcasts it,
    // WITHOUT them a DSv2 relation costs defaultSizeInBytes (huge) and
    // the join would sort-merge both sides
    spark.range(2000000).toDF("k").createOrReplaceTempView("fb_fact")
    val q = spark.sql(s"SELECT count(*) FROM fb_fact f JOIN $T d ON f.k = d.k")
    assert(q.head().getLong(0) === 100)
    val finalPlan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan // AQE root is a leaf to collect(): unwrap it
      case p => p
    }
    val bcasts = finalPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.nonEmpty,
      s"small catalog table was not broadcast:\n${q.queryExecution.executedPlan}")
    // and the reported row count is the LIVE count after a MoR delete
    spark.sql(s"DELETE FROM $T WHERE k IN (1, 2, 3)")
    val scan = spark.table(T).queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    assert(scan.computeStats().rowCount.contains(BigInt(97)),
      s"stats must reflect the delete vector: ${scan.computeStats()}")
    spark.sql(s"DROP TABLE $T")
  }

  test("change feed stays id-correct after DROP COLUMN (props travel with pinned reads)") {
    import java.nio.file.Paths
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_cfevo"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, a BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $T SELECT id, id * 7, CAST(id AS STRING) FROM range(0, 20, 1, 1)")
    spark.sql(s"ALTER TABLE $T DROP COLUMN a")
    val dir = Paths.get(spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("default"), "fb_cfevo"))
      .asInstanceOf[graft.catalog.GraftTable].location)
    val v1 = graft.catalog.GroupFiles.version(dir)
    spark.sql(s"INSERT INTO $T VALUES (100, 'new')")
    val v2 = graft.catalog.GroupFiles.version(dir)
    // without field ids on the pinned feed table, v would misbind to the
    // dropped column a's byte position and read garbage
    val ins = graft.catalog.ChangeFeed.tableChanges(spark, T, v1, v2)
      .filter("_change_type = 'insert'").collect()
    assert(ins.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((100L, "new")))
    spark.sql(s"DROP TABLE $T")
  }

  test("pinned-version reads do not trust renamed name-keyed stats; live reads stay exact") {
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_rnstats"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, a BIGINT, b BIGINT)")
    // a is small (0..19), b is large (1000..1019)
    spark.sql(s"INSERT INTO $T SELECT id, id, id + 1000 FROM range(0, 20, 1, 1)")
    val dir = java.nio.file.Paths.get(spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("default"), "fb_rnstats"))
      .asInstanceOf[graft.catalog.GraftTable].location)
    val preV = graft.catalog.GroupFiles.version(dir)
    // name reuse across renames: b -> c, then a -> b. Under the CURRENT
    // schema, "b" is the old a (values 0..19); the PINNED old manifest
    // keys stats "b" to the old b (1000..1019) — trusting them would
    // answer MAX(b)=1019 for a snapshot whose b reads 0..19, and a
    // WHERE b >= 1000 filter would prune the only group wrongly
    spark.sql(s"ALTER TABLE $T RENAME COLUMN b TO c")
    spark.sql(s"ALTER TABLE $T RENAME COLUMN a TO b")
    assert(spark.sql(s"SELECT CAST(MAX(b) AS BIGINT) FROM $T VERSION AS OF $preV")
      .head().getLong(0) === 19L)
    assert(spark.sql(s"SELECT count(*) FROM $T VERSION AS OF $preV WHERE b < 1000")
      .head().getLong(0) === 20L)
    // live reads were rekeyed atomically with the rename: still exact
    assert(spark.sql(s"SELECT CAST(MAX(b) AS BIGINT) FROM $T").head().getLong(0) === 19L)
    assert(spark.sql(s"SELECT CAST(MAX(c) AS BIGINT) FROM $T").head().getLong(0) === 1019L)
    spark.sql(s"DROP TABLE $T")
  }

  test("a failing change in a multi-change ALTER leaves manifest and metadata untouched") {
    import java.nio.file.{Files, Paths}
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_atomalter"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, a BIGINT)")
    spark.sql(s"INSERT INTO $T SELECT id, id * 3 FROM range(0, 10, 1, 1)")
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array("default"), "fb_atomalter")
    val dir = Paths.get(cat.loadTable(ident).asInstanceOf[graft.catalog.GraftTable].location)
    val manifestBefore = Files.readAllBytes(dir.resolve("manifest")).toSeq
    // rename a->b would rekey stats; the following duplicate-add fails —
    // NOTHING may have been committed
    intercept[IllegalArgumentException] {
      cat.alterTable(ident,
        org.apache.spark.sql.connector.catalog.TableChange.renameColumn(Array("a"), "b"),
        org.apache.spark.sql.connector.catalog.TableChange.addColumn(
          Array("k"), org.apache.spark.sql.types.LongType))
    }
    assert(Files.readAllBytes(dir.resolve("manifest")).toSeq === manifestBefore,
      "failed multi-change ALTER must not rewrite the manifest")
    assert(spark.table(T).columns.toSeq === Seq("k", "a"))
    assert(spark.sql(s"SELECT CAST(MAX(a) AS BIGINT) FROM $T").head().getLong(0) === 27L)
    // reserved metadata names are rejected at create
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_fb.default.fb_reserved (_graft_pos BIGINT)")
    }
    spark.sql(s"DROP TABLE $T")
  }

  test("CALL system procedures: compact, materialize_deletes, history") {
    import java.nio.file.Paths
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_proc"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING)")
    (0 until 4).foreach(i =>
      spark.sql(s"INSERT INTO $T SELECT id, 'b$i' FROM range(${i * 50}, ${i * 50 + 50}, 1, 1)"))
    spark.sql(s"DELETE FROM $T WHERE k IN (7, 93)") // leaves MoR vectors
    val dir = Paths.get(spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("default"), "fb_proc"))
      .asInstanceOf[graft.catalog.GraftTable].location)
    assert(graft.catalog.GroupFiles.live(dir).count(_.deletes.isDefined) === 2)

    val mat = spark.sql(s"CALL graft_fb.system.materialize_deletes('default.fb_proc')").head()
    assert(mat.getLong(0) === 2, "two masked groups should have been rewritten")
    assert(graft.catalog.GroupFiles.live(dir).forall(_.deletes.isEmpty))
    assert(spark.table(T).count() === 198)

    val comp = spark.sql(s"CALL graft_fb.system.compact('default.fb_proc', 128)").head()
    assert(comp.getLong(0) === 4 && comp.getLong(1) === 1,
      s"expected 4 groups compacting to 1, got $comp")
    assert(spark.table(T).count() === 198)

    val hist = spark.sql(s"CALL graft_fb.system.history('default.fb_proc')").collect()
    assert(hist.nonEmpty)
    assert(hist.map(_.getLong(0)).toSeq === hist.map(_.getLong(0)).toSeq.sorted.reverse,
      "history must list newest first")

    // expire_snapshots: shrink time travel to the newest 2 versions and
    // sweep what only the expired ones referenced
    val nVersions = graft.catalog.GroupFiles.versions(dir).size
    assert(nVersions > 2)
    val exp = spark.sql(s"CALL graft_fb.system.expire_snapshots('default.fb_proc', 2)").head()
    assert(exp.getLong(0) === (nVersions - 2).toLong)
    val left = graft.catalog.GroupFiles.versions(dir)
    assert(left.size === 2)
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $T VERSION AS OF ${left.min - 1}").collect()
    }
    assert(spark.table(T).count() === 198, "expiry must not touch the live read")
    spark.sql(s"DROP TABLE $T")
  }

  test("CALL system.rollback_to restores a retained snapshot as a new commit") {
    import java.nio.file.Paths
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_rollback"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $T SELECT id, 'a' FROM range(0, 10, 1, 1)")   // v1
    val dir = Paths.get(spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("default"), "fb_rollback"))
      .asInstanceOf[graft.catalog.GraftTable].location)
    val v1 = graft.catalog.GroupFiles.version(dir)
    spark.sql(s"INSERT INTO $T SELECT id, 'b' FROM range(10, 20, 1, 1)")  // v2
    spark.sql(s"DELETE FROM $T WHERE k IN (3, 17)")                       // v3 (MoR vector)
    val v3 = graft.catalog.GroupFiles.version(dir)
    assert(spark.table(T).count() === 18)

    // roll back to v1: a NEW commit whose live set is v1's
    val r = spark.sql(s"CALL graft_fb.system.rollback_to('default.fb_rollback', $v1)").head()
    assert(r.getLong(0) === v3 && r.getLong(1) === v3 + 1)
    assert(spark.table(T).count() === 10)
    assert(spark.sql(s"SELECT CAST(MAX(k) AS BIGINT) FROM $T").head().getLong(0) === 9L)
    // history moved FORWARD — the rolled-back commits stay time-travelable
    assert(spark.sql(s"SELECT COUNT(*) FROM $T VERSION AS OF $v3").head().getLong(0) === 18)

    // rolling back ACROSS the MoR delete restores the mask exactly
    spark.sql(s"CALL graft_fb.system.rollback_to('default.fb_rollback', $v3)")
    assert(spark.table(T).count() === 18)
    assert(spark.sql(s"SELECT COUNT(*) FROM $T WHERE k IN (3, 17)").head().getLong(0) === 0)

    // the table stays writable after a rollback
    spark.sql(s"INSERT INTO $T VALUES (99, 'c')")
    assert(spark.table(T).count() === 19)
    // an expired version fails loudly
    intercept[Exception] {
      spark.sql(s"CALL graft_fb.system.rollback_to('default.fb_rollback', -1)").collect()
    }
    spark.sql(s"DROP TABLE $T")
  }

  test("ADD COLUMN DEFAULT: old files serve the default, metadata-only") {
    import java.nio.file.Paths
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_default"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $T SELECT id, concat('r', id) FROM range(0, 5, 1, 1)")
    val dir = Paths.get(spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("default"), "fb_default"))
      .asInstanceOf[graft.catalog.GraftTable].location)
    val filesBefore = graft.catalog.GroupFiles.live(dir).map(_.file).toSet

    spark.sql(s"ALTER TABLE $T ADD COLUMN score BIGINT DEFAULT 42")
    spark.sql(s"ALTER TABLE $T ADD COLUMN tag STRING DEFAULT 'warm'")
    // metadata-only: zero data-file churn
    assert(graft.catalog.GroupFiles.live(dir).map(_.file).toSet === filesBefore)

    // full-width read (identity + default-pad fast path): pre-add rows
    // serve the add-time defaults, NOT null
    val full = spark.table(T).orderBy("k").collect()
    assert(full.length === 5)
    assert(full.forall(r => r.getLong(r.fieldIndex("score")) === 42L))
    assert(full.forall(r => r.getString(r.fieldIndex("tag")) === "warm"))
    // pruned projection (ReorderedRow path) serves the same defaults
    assert(spark.sql(s"SELECT score, tag FROM $T WHERE k = 3").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((42L, "warm")))
    // predicates on the defaulted column see the default
    assert(spark.sql(s"SELECT COUNT(*) FROM $T WHERE score = 42").head().getLong(0) === 5)
    assert(spark.sql(s"SELECT COUNT(*) FROM $T WHERE tag IS NULL").head().getLong(0) === 0)

    // INSERT-side: a column list omitting the new columns fills the
    // CURRENT default; an explicit NULL stays NULL
    spark.sql(s"INSERT INTO $T (k, v) VALUES (100, 'new')")
    spark.sql(s"INSERT INTO $T VALUES (101, 'x', NULL, NULL)")
    val newRows = spark.sql(s"SELECT k, score, tag FROM $T WHERE k >= 100 ORDER BY k").collect()
    assert(newRows(0).getLong(1) === 42L && newRows(0).getString(2) === "warm")
    assert(newRows(1).isNullAt(1) && newRows(1).isNullAt(2))

    // the default survives RENAME (it rides the field, id-keyed)
    spark.sql(s"ALTER TABLE $T RENAME COLUMN tag TO label")
    assert(spark.sql(s"SELECT label FROM $T WHERE k = 0").head().getString(0) === "warm")

    // aggregates over mixed old/new files are computed, not mis-pushed:
    // old groups have no stats for score, so MIN must come from a real
    // scan serving defaults (42), not from partial manifest stats
    assert(spark.sql(s"SELECT CAST(MIN(score) AS BIGINT) FROM $T WHERE score IS NOT NULL")
      .head().getLong(0) === 42L)
    spark.sql(s"DROP TABLE $T")
  }

  test("PARTITIONED BY (bucket(n, col)) creates the bucketed layout") {
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_pbt"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    val t = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("default"), "fb_pbt"))
      .asInstanceOf[graft.catalog.GraftTable]
    assert(t.bucketSpec === Some(("k", 4)))
    spark.sql(s"INSERT INTO $T SELECT id, 'x' FROM range(40)")
    val dir = java.nio.file.Paths.get(t.location)
    assert(graft.catalog.GroupFiles.live(dir).forall(_.bucket.isDefined),
      "transform-declared bucketing must route writes like the property spelling")
    assert(spark.table(T).count() === 40)
    // unsupported transforms still fail loudly instead of being ignored
    // (identity/days/months are now real layouts — PartitionedCatalogSpec)
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_pbt2")
    intercept[Exception] {
      spark.sql("""CREATE TABLE graft_fb.default.fb_pbt2 (ts TIMESTAMP_NTZ)
                   PARTITIONED BY (years(ts))""")
      spark.sql("INSERT INTO graft_fb.default.fb_pbt2 VALUES (timestamp_ntz'2024-01-01 00:00:00')")
    }
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_pbt2")
    spark.sql(s"DROP TABLE $T")
  }

  test("SET TBLPROPERTIES switches row-level modes; engine props are protected") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_setprop"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $T SELECT id, CAST(id AS STRING) FROM range(0, 50, 1, 1)")
    val dir = Paths.get(spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("default"), "fb_setprop"))
      .asInstanceOf[graft.catalog.GraftTable].location)
    def rowsFiles() = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet
    // flip DELETE to copy-on-write mid-life: the next delete rewrites
    spark.sql(s"ALTER TABLE $T SET TBLPROPERTIES('delete_mode'='copy-on-write')")
    val before = rowsFiles()
    spark.sql(s"DELETE FROM $T WHERE k = 7")
    assert(rowsFiles() !== before, "copy-on-write mode must rewrite, not mask")
    assert(graft.catalog.GroupFiles.live(dir).forall(_.deletes.isEmpty))
    // flip back: masking resumes
    spark.sql(s"ALTER TABLE $T UNSET TBLPROPERTIES('delete_mode')")
    val before2 = rowsFiles()
    spark.sql(s"DELETE FROM $T WHERE k = 9")
    assert(rowsFiles() === before2, "merge-on-read mode must mask, not rewrite")
    assert(graft.catalog.GroupFiles.live(dir).exists(_.deletes.isDefined))
    assert(spark.table(T).count() === 48)
    // engine-owned and layout props are rejected
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $T SET TBLPROPERTIES('graft.field_ids'='9')")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $T SET TBLPROPERTIES('bucket_by'='k')")
    }
    spark.sql(s"DROP TABLE $T")
  }

  test("property: random delete-vector masks equal filter semantics through every path") {
    import java.nio.file.Paths
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_morprop"
    val rnd = new scala.util.Random(42)
    (0 until 5).foreach { trial =>
      spark.sql(s"DROP TABLE IF EXISTS $T")
      spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING)")
      val n = 50 + rnd.nextInt(200)
      spark.sql(s"INSERT INTO $T SELECT id, CAST(id AS STRING) FROM range(0, $n, 1, 1)")
      val dir = Paths.get(spark.sessionState.catalogManager.catalog("graft_fb")
        .asInstanceOf[graft.catalog.GraftCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("default"), "fb_morprop"))
        .asInstanceOf[graft.catalog.GraftTable].location)
      val g = graft.catalog.GroupFiles.live(dir).head
      // two rounds of random masks, unioned (positions == k here)
      val m1 = (0 until n).filter(_ => rnd.nextBoolean()).map(_.toLong).toArray
      val m2 = (0 until n).filter(_ => rnd.nextInt(4) == 0).map(_.toLong).toArray
      if (m1.nonEmpty) graft.catalog.GroupFiles.addDeletes(dir, Map(g.file -> m1))
      val both = (m1 ++ m2).toSet
      if (m2.nonEmpty && graft.catalog.GroupFiles.live(dir).nonEmpty)
        graft.catalog.GroupFiles.addDeletes(dir,
          Map(graft.catalog.GroupFiles.live(dir).head.file -> m2))
      val expect = (0L until n.toLong).filterNot(both).toSet
      def got() = spark.table(T).collect().map(_.getLong(0)).toSet
      assert(got() === expect, s"trial $trial masked read diverged")
      // COUNT pushdown agrees with the full read
      assert(spark.sql(s"SELECT count(*) FROM $T").head().getLong(0) === expect.size.toLong)
      // materialization then compaction preserve the content exactly
      graft.catalog.GroupFiles.materializeDeletes(dir)
      assert(got() === expect, s"trial $trial materialize diverged")
      graft.catalog.GroupFiles.compact(dir, 1L << 30)
      assert(got() === expect, s"trial $trial compact diverged")
    }
    spark.sql(s"DROP TABLE $T")
  }

  test("concurrent API delete-vector unions on one group lose nothing") {
    import java.nio.file.Paths
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_morconc"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $T SELECT id, CAST(id AS STRING) FROM range(0, 800, 1, 1)")
    val dir = Paths.get(spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("default"), "fb_morconc"))
      .asInstanceOf[graft.catalog.GraftTable].location)
    val g = graft.catalog.GroupFiles.live(dir).head
    // 8 threads each mask a disjoint stripe through the direct API (the
    // commutative union path): the lock serializes read-union-publish,
    // so no stripe may be lost
    val threads = (0 until 8).map { t =>
      new Thread(() =>
        graft.catalog.GroupFiles.addDeletes(dir,
          Map(g.file -> (t * 100 until (t * 100 + 50)).map(_.toLong).toArray)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val live = graft.catalog.GroupFiles.live(dir)
    assert(live.head.deletes.map(_._2) === Some(400L),
      s"union lost deletes: ${live.head.deletes}")
    assert(spark.table(T).count() === 400)
    assert(spark.sql(s"SELECT count(*) FROM $T WHERE k % 100 < 50").head().getLong(0) === 0)
    spark.sql(s"DROP TABLE $T")
  }

  test("schema evolution composes with merge-on-read updates") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_evomor"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $T SELECT id, CAST(id AS STRING) FROM range(0, 60, 1, 1)")
    val dir = Paths.get(spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("default"), "fb_evomor"))
      .asInstanceOf[graft.catalog.GraftTable].location)
    def rowsFiles() = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet

    // ADD a column, then MoR-update a slice: the masked old group is
    // narrower (null-pads w), the appended images carry the full schema
    spark.sql(s"ALTER TABLE $T ADD COLUMN w BIGINT")
    val before = rowsFiles()
    spark.sql(s"UPDATE $T SET w = k * 10 WHERE k < 5")
    assert(before.subsetOf(rowsFiles()), "old group must survive masked, not rewritten")
    assert(spark.table(T).count() === 60)
    assert(spark.sql(s"SELECT CAST(SUM(w) AS BIGINT) FROM $T").head().getLong(0)
      === (0L until 5L).map(_ * 10).sum)
    assert(spark.sql(s"SELECT count(*) FROM $T WHERE w IS NULL").head().getLong(0) === 55)

    // RENAME the updated column: appended and padded generations both follow
    spark.sql(s"ALTER TABLE $T RENAME COLUMN w TO weight")
    assert(spark.sql(s"SELECT CAST(SUM(weight) AS BIGINT) FROM $T").head().getLong(0) === 100L)

    // DROP the original v: every generation serves (k, weight) only
    spark.sql(s"ALTER TABLE $T DROP COLUMN v")
    assert(spark.table(T).columns.toSeq === Seq("k", "weight"))
    assert(spark.table(T).count() === 60)
    assert(spark.sql(s"SELECT CAST(SUM(k) AS BIGINT) FROM $T").head().getLong(0)
      === (0L until 60L).sum)
    // and a further MoR delete on the evolved table still masks correctly
    spark.sql(s"DELETE FROM $T WHERE k = 3")
    assert(spark.table(T).count() === 59)
    assert(spark.sql(s"SELECT CAST(SUM(weight) AS BIGINT) FROM $T").head().getLong(0) === 70L)
    spark.sql(s"DROP TABLE $T")
  }

  test("renaming the bucketing column keeps the bucketed layout routing") {
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_bkrn"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING) TBLPROPERTIES('bucket_by'='k','buckets'='4')")
    spark.sql(s"INSERT INTO $T SELECT id, 'x' FROM range(0, 40)")
    spark.sql(s"ALTER TABLE $T RENAME COLUMN k TO key")
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_bkrn")).asInstanceOf[graft.catalog.GraftTable]
    assert(t.bucketSpec === Some(("key", 4)), "bucket spec must follow the rename")
    // new writes still route on the renamed column; reads see all rows
    spark.sql(s"INSERT INTO $T SELECT id, 'y' FROM range(40, 60)")
    assert(spark.table(T).count() === 60)
    assert(spark.sql(s"SELECT CAST(SUM(key) AS BIGINT) FROM $T").head().getLong(0)
      === (0L until 60L).sum)
    spark.sql(s"DROP TABLE $T")
  }

  test("runtime group filtering: MERGE rewrites only groups whose key range can match") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_rgf")
    spark.sql("CREATE TABLE graft_fb.default.fb_rgf (k BIGINT, v STRING)")
    // two disjoint key populations land in disjoint group files
    spark.sql("INSERT INTO graft_fb.default.fb_rgf SELECT id, 'low' FROM range(0, 100)")
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_rgf")).asInstanceOf[graft.catalog.GraftTable]
    val dir = Paths.get(tbl.location)
    def groups() = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet
    val lowGroups = groups()
    spark.sql("INSERT INTO graft_fb.default.fb_rgf SELECT id, 'high' FROM range(1000, 1100)")
    val highGroups = groups() -- lowGroups
    assert(lowGroups.nonEmpty && highGroups.nonEmpty)
    // manifest stats must separate the two populations on k
    val live = graft.catalog.GroupFiles.live(dir)
    assert(live.filter(g => lowGroups(g.file)).forall(_.stats("k")._2 < 1000))

    // MERGE touching only high keys: low groups must survive UNTOUCHED
    spark.sql(
      """MERGE INTO graft_fb.default.fb_rgf t
        |USING (SELECT id AS k, 'upd' AS v FROM range(1000, 1100, 2)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = graft.catalog.GroupFiles.live(dir).map(_.file).toSet
    assert(lowGroups.subsetOf(after),
      s"groups outside the MERGE key range were rewritten: low=$lowGroups after=$after")
    assert(highGroups.intersect(after).isEmpty,
      s"groups inside the MERGE key range must be copy-on-write replaced")
    // and the data is right: 200 rows, 50 updated, low population untouched
    assert(spark.table("graft_fb.default.fb_rgf").count() === 200)
    assert(spark.sql("SELECT count(*) FROM graft_fb.default.fb_rgf WHERE v='upd'")
      .head().getLong(0) === 50)
    assert(spark.sql("SELECT count(*) FROM graft_fb.default.fb_rgf WHERE v='low'")
      .head().getLong(0) === 100)
    spark.sql("DROP TABLE graft_fb.default.fb_rgf")
  }

  test("time travel: VERSION AS OF reads the pre-MERGE snapshot byte-identically") {
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_tt")
    spark.sql("CREATE TABLE graft_fb.default.fb_tt (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_fb.default.fb_tt SELECT id, 'orig' FROM range(20)")
    val beforeMerge = spark.table("graft_fb.default.fb_tt")
      .collect().map(_.toString).sorted.toSeq
    spark.sql(
      """MERGE INTO graft_fb.default.fb_tt t
        |USING (SELECT id AS k, 'upd' AS v FROM range(0, 30, 2)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // current read reflects the MERGE; VERSION AS OF 1 is the old world
    assert(spark.table("graft_fb.default.fb_tt").count() === 25)
    val v1 = spark.sql("SELECT * FROM graft_fb.default.fb_tt VERSION AS OF 1")
      .collect().map(_.toString).sorted.toSeq
    assert(v1 === beforeMerge, "VERSION AS OF 1 must equal the pre-MERGE read")
    // writes through a pinned read are rejected
    intercept[Exception] {
      spark.sql("INSERT INTO graft_fb.default.fb_tt VERSION AS OF 1 VALUES (99, 'x')")
    }
    // an unknown / expired version fails loudly
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_fb.default.fb_tt VERSION AS OF 999").collect()
    }
    spark.sql("DROP TABLE graft_fb.default.fb_tt")
  }

  test("time travel ACROSS schema evolution: pre-ALTER snapshots read under the current schema") {
    // the Iceberg-style contract (round 9): ALTER ADD COLUMN is metadata-
    // only, so a snapshot pinned from BEFORE the ALTER still reads — under
    // the CURRENT schema — with the new column default/NULL-filled; after
    // DROP, pinned reads of old snapshots serve the current (narrower)
    // schema. Schema is table metadata, snapshots pin the FILE SET.
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_ttevo"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $T SELECT id, concat('r', id) FROM range(0, 5, 1, 1)") // commit 1
    spark.sql(s"ALTER TABLE $T ADD COLUMN score BIGINT DEFAULT 7")
    spark.sql(s"INSERT INTO $T VALUES (100, 'new', 55)")                           // commit 2
    // live read: old rows serve the add-time default, the new row its value
    assert(spark.table(T).count() === 6)
    assert(spark.sql(s"SELECT count(*) FROM $T WHERE score = 7").head.getLong(0) === 5)
    // VERSION AS OF 1 (pre-ALTER file set) reads under the CURRENT 3-column
    // schema: the pinned groups predate `score`, so every row default-fills
    val v1 = spark.sql(s"SELECT * FROM $T VERSION AS OF 1")
    assert(v1.columns.toSeq === Seq("k", "v", "score"),
      "pinned reads use the current schema, not a frozen historical one")
    val v1rows = v1.orderBy("k").collect()
    assert(v1rows.length === 5, "the pre-ALTER snapshot pins the pre-ALTER file set")
    assert(v1rows.forall(_.getLong(2) === 7L),
      "pre-ALTER rows serve the frozen EXISTS_DEFAULT through time travel")
    // drop an ORIGINAL column: snapshot 1's files still carry v's bytes,
    // but the current schema no longer exposes them — field ids keep the
    // remaining columns aligned
    spark.sql(s"ALTER TABLE $T DROP COLUMN v")
    val v1after = spark.sql(s"SELECT * FROM $T VERSION AS OF 1")
    assert(v1after.columns.toSeq === Seq("k", "score"))
    assert(v1after.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === (0L until 5L).map(k => (k, 7L)),
      "time travel after DROP serves the surviving columns from pre-ALTER files")
    // TIMESTAMP AS OF takes the same path (schema from the table, files
    // from the snapshot): resolving to the newest snapshot still works
    val nowIso = java.time.Instant.ofEpochMilli(System.currentTimeMillis() + 1000).toString
    assert(spark.sql(s"SELECT * FROM $T TIMESTAMP AS OF '$nowIso'").count() === 6)
    spark.sql(s"DROP TABLE $T")
  }

  test("time travel: TIMESTAMP AS OF resolves the newest snapshot at-or-before the instant") {
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_ts")
    spark.sql("CREATE TABLE graft_fb.default.fb_ts (k BIGINT)")
    spark.sql("INSERT INTO graft_fb.default.fb_ts SELECT id FROM range(5)")
    Thread.sleep(1100) // snapshot clock is file-mtime millis
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(1100)
    spark.sql("INSERT INTO graft_fb.default.fb_ts SELECT id FROM range(100, 103)")
    assert(spark.table("graft_fb.default.fb_ts").count() === 8)
    val asOf = java.time.Instant.ofEpochMilli(betweenMs).toString
    assert(spark.sql(
      s"SELECT * FROM graft_fb.default.fb_ts TIMESTAMP AS OF '$asOf'").count() === 5,
      "the instant between the commits must read commit 1")
    // a timestamp before every snapshot fails loudly
    intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft_fb.default.fb_ts TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
    }
    spark.sql("DROP TABLE graft_fb.default.fb_ts")
  }

  test("metadata tables: t.files and t.snapshots answer from the manifest in plain SQL") {
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_meta")
    spark.sql("CREATE TABLE graft_fb.default.fb_meta (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_fb.default.fb_meta SELECT id, 'a' FROM range(10)")
    spark.sql("INSERT INTO graft_fb.default.fb_meta SELECT id, 'b' FROM range(10, 15)")
    spark.sql("DELETE FROM graft_fb.default.fb_meta WHERE k = 3") // MoR vector
    val files = spark.sql("SELECT * FROM graft_fb.default.fb_meta.files").collect()
    assert(files.nonEmpty)
    assert(files.map(_.getAs[Long]("n_rows")).sum === 15, "physical rows per file")
    assert(files.map(_.getAs[Long]("n_deleted")).sum === 1, "one masked row")
    assert(files.forall(_.getAs[Long]("bytes") > 0))
    val snaps = spark.sql(
      "SELECT * FROM graft_fb.default.fb_meta.snapshots ORDER BY version").collect()
    assert(snaps.map(_.getAs[Long]("version")).toSeq === Seq(1L, 2L, 3L))
    assert(snaps.map(_.getAs[Long]("committed_at_ms")).toSeq.sorted ===
      snaps.map(_.getAs[Long]("committed_at_ms")).toSeq)
    // a metadata table of a missing base table is a missing table
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_fb.default.no_such_table.files").collect()
    }
    spark.sql("DROP TABLE graft_fb.default.fb_meta")
  }

  test("metadata tables: t.partitions rolls up the layout per partition value") {
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_parts")
    spark.sql("""CREATE TABLE graft_fb.default.fb_parts (ts TIMESTAMP_NTZ, v BIGINT)
                 PARTITIONED BY (days(ts))""")
    spark.sql("""INSERT INTO graft_fb.default.fb_parts VALUES
                 (timestamp_ntz'2024-02-01 01:00:00', 1),
                 (timestamp_ntz'2024-02-01 02:00:00', 2),
                 (timestamp_ntz'2024-02-02 03:00:00', 3)""")
    spark.sql("INSERT INTO graft_fb.default.fb_parts VALUES (timestamp_ntz'2024-02-01 04:00:00', 4)")
    val parts = spark.sql(
      "SELECT * FROM graft_fb.default.fb_parts.partitions ORDER BY partition").collect()
    assert(parts.length === 2, "two day partitions")
    val d1 = java.time.LocalDate.of(2024, 2, 1).toEpochDay.toString
    val byPart = parts.map(r => r.getString(0) ->
      (r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    assert(byPart(d1) === ((2L, 3L, 0L)), "day 1: two files, three rows")
    assert(byPart.values.map(_._2).sum === 4)
    spark.sql("DROP TABLE graft_fb.default.fb_parts")
  }

  test("change feed: MERGE surfaces exactly its inserts and delete+insert update pairs") {
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_cdf")
    spark.sql("CREATE TABLE graft_fb.default.fb_cdf (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_fb.default.fb_cdf SELECT id, 'orig' FROM range(20)")
    // v1 = the 20 'orig' rows; the MERGE updates k in {0,2,...,18} (10 rows)
    // and inserts k in {20,22,...,28} (5 rows) -> v2
    spark.sql(
      """MERGE INTO graft_fb.default.fb_cdf t
        |USING (SELECT id AS k, 'upd' AS v FROM range(0, 30, 2)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val feed = graft.catalog.ChangeFeed
      .tableChanges(spark, "graft_fb.default.fb_cdf", 1, 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val inserts = feed.filter(_._3 == "insert").map(t => (t._1, t._2)).sorted.toSeq
    val deletes = feed.filter(_._3 == "delete").map(t => (t._1, t._2)).sorted.toSeq
    // updates appear as delete(old)+insert(new); brand-new keys as inserts
    assert(deletes === (0L until 20L by 2).map(k => (k, "orig")).toSeq)
    assert(inserts === ((0L until 20L by 2).map(k => (k, "upd")) ++
                        (20L until 30L by 2).map(k => (k, "upd"))).sorted.toSeq)
    // untouched odd-k rows are ABSENT even though copy-on-write rewrote
    // their groups — the file-diff + exceptAll refinement cancels them
    assert(!feed.exists { case (k, v, _) => k % 2 == 1 })
    // empty window = empty feed; unretained version fails loudly
    assert(graft.catalog.ChangeFeed
      .tableChanges(spark, "graft_fb.default.fb_cdf", 2, 2).count() === 0)
    intercept[IllegalArgumentException] {
      graft.catalog.ChangeFeed.tableChanges(spark, "graft_fb.default.fb_cdf", 1, 999)
    }
    spark.sql("DROP TABLE graft_fb.default.fb_cdf")
  }

  test("DELETE aligned with group stats is metadata-only; misaligned rewrites") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_mdel")
    spark.sql("CREATE TABLE graft_fb.default.fb_mdel (k BIGINT, v STRING)")
    // range-partitioned insert -> contiguous per-group k ranges in stats
    spark.range(1000).toDF("k")
      .withColumn("v", org.apache.spark.sql.functions.lit("x"))
      .repartitionByRange(4, col("k"))
      .createOrReplaceTempView("fb_mdel_src")
    spark.sql("INSERT INTO graft_fb.default.fb_mdel SELECT k, v FROM fb_mdel_src")
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val dir = Paths.get(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_mdel")).asInstanceOf[graft.catalog.GraftTable].location)
    def rowsFiles() = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet
    val live0 = graft.catalog.GroupFiles.live(dir)
    assert(live0.size >= 2, "need multiple groups")
    // pick a group boundary: delete everything at or below some group's hi
    val cut = live0.flatMap(_.stats.get("k")).map(_._2).min
    val before = rowsFiles()
    spark.sql(s"DELETE FROM graft_fb.default.fb_mdel WHERE k <= $cut")
    // metadata-only: rows gone, live set shrank, NO new data file written
    assert(spark.table("graft_fb.default.fb_mdel").count() === 1000 - (cut + 1))
    assert(graft.catalog.GroupFiles.live(dir).size < live0.size)
    assert(rowsFiles() === before, "aligned DELETE must not write or remove data files")
    // misaligned predicate (mid-group): MERGE-ON-READ — delete vectors
    // appear, data files stay untouched
    spark.sql("DELETE FROM graft_fb.default.fb_mdel WHERE k % 2 = 1")
    assert(spark.table("graft_fb.default.fb_mdel").count() ===
      (cut + 1 to 999L).count(_ % 2 == 0))
    assert(rowsFiles() === before,
      "mid-group MoR DELETE must not write or remove data files")
    assert(graft.catalog.GroupFiles.live(dir).forall(_.deletes.isDefined),
      "every remaining group holds odd rows → each must carry a delete vector")
    // and the masked rows stay gone through every read path
    assert(spark.sql("SELECT count(*) FROM graft_fb.default.fb_mdel WHERE k % 2 = 1")
      .head().getLong(0) === 0)
    spark.sql("DROP TABLE graft_fb.default.fb_mdel")
  }

  test("SQL DELETE is merge-on-read by default; copy-on-write by table property") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_sqlmor"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    spark.sql(s"CREATE TABLE $T (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $T SELECT id, CAST(id AS STRING) FROM range(0, 200, 1, 1)")
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val dir = Paths.get(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_sqlmor")).asInstanceOf[graft.catalog.GraftTable].location)
    def rowsFiles() = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet
    def dvFiles() = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".pos")).toSet
    val before = rowsFiles()
    assert(dvFiles().isEmpty)

    // sub-group DELETE → vector, not rewrite
    spark.sql(s"DELETE FROM $T WHERE k IN (17, 42, 99)")
    assert(rowsFiles() === before, "MoR DELETE must not touch data files")
    assert(dvFiles().size === 1, "one group masked → one delete vector")
    assert(spark.table(T).count() === 197)
    assert(spark.sql(s"SELECT count(*) FROM $T WHERE k IN (17, 42, 99)").head().getLong(0) === 0)
    // COUNT(*) still metadata-exact after the vector
    assert(spark.sql(s"SELECT count(*) FROM $T").head().getLong(0) === 197)

    // second DELETE unions into a NEW vector; the old one stays for the
    // retained snapshot that references it
    spark.sql(s"DELETE FROM $T WHERE k = 150")
    assert(spark.table(T).count() === 196)
    assert(rowsFiles() === before)
    val live = graft.catalog.GroupFiles.live(dir)
    assert(live.head.deletes.map(_._2) === Some(4L))

    // DELETE of everything: the group's live rows reach zero → it drops
    // out of the manifest entirely (no vector needed)
    spark.sql(s"DELETE FROM $T WHERE k >= 0")
    assert(spark.table(T).count() === 0)
    assert(graft.catalog.GroupFiles.live(dir).isEmpty)

    // copy-on-write mode by property: rewrite, no vectors
    val C = "graft_fb.default.fb_sqlcow"
    spark.sql(s"DROP TABLE IF EXISTS $C")
    spark.sql(s"CREATE TABLE $C (k BIGINT, v STRING) " +
      "TBLPROPERTIES('delete_mode'='copy-on-write')")
    spark.sql(s"INSERT INTO $C SELECT id, CAST(id AS STRING) FROM range(0, 100, 1, 1)")
    val cdir = Paths.get(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_sqlcow")).asInstanceOf[graft.catalog.GraftTable].location)
    def cowRows() = Files.list(cdir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet
    val cowBefore = cowRows()
    spark.sql(s"DELETE FROM $C WHERE k = 5")
    assert(spark.table(C).count() === 99)
    assert(cowRows() !== cowBefore, "copy-on-write DELETE must rewrite the group")
    assert(graft.catalog.GroupFiles.live(cdir).forall(_.deletes.isEmpty))
    spark.sql(s"DROP TABLE $T")
    spark.sql(s"DROP TABLE $C")
  }

  test("replaying a CDC micro-batch MERGE is content-idempotent (failure-recovery contract)") {
    // foreachBatch re-executes a batch after a failure; the upsert MERGE
    // must leave the same table content when fed the same batch twice
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_replay")
    spark.sql("CREATE TABLE graft_fb.default.fb_replay (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_fb.default.fb_replay VALUES (1, 'a'), (2, 'b')")
    def applyBatch(): Unit = spark.sql(
      """MERGE INTO graft_fb.default.fb_replay t
        |USING (SELECT 2 AS k, 'b2' AS v UNION ALL SELECT 3, 'c') s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    applyBatch()
    val once = spark.table("graft_fb.default.fb_replay").collect().map(_.toString).sorted.toSeq
    applyBatch() // the replay
    val twice = spark.table("graft_fb.default.fb_replay").collect().map(_.toString).sorted.toSeq
    assert(twice === once, "replayed MERGE must not duplicate or alter rows")
    spark.sql("DROP TABLE graft_fb.default.fb_replay")
  }

  test("metadata-only DELETE never drops a group holding NULLs in the predicate column") {
    // stats cover non-null values only; a group whose range is 'fully
    // covered' may still hold NULL rows, and NULL = 1 is not true — the
    // delete must take the rewrite path and keep them
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_ndel")
    spark.sql("CREATE TABLE graft_fb.default.fb_ndel (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_fb.default.fb_ndel VALUES (1, 'a'), (1, 'b'), (NULL, 'keep')")
    spark.sql("DELETE FROM graft_fb.default.fb_ndel WHERE k = 1")
    val left = spark.table("graft_fb.default.fb_ndel").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1)).toSet
    assert(left === Set(-1L -> "keep"), s"NULL row must survive, got $left")
    spark.sql("DROP TABLE graft_fb.default.fb_ndel")
  }

  test("static predicate prunes groups at plan time (partition-pruning analogue)") {
    import org.apache.spark.sql.functions.col
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_sprune")
    spark.sql("CREATE TABLE graft_fb.default.fb_sprune (k BIGINT, v STRING)")
    spark.range(1000).toDF("k")
      .withColumn("v", org.apache.spark.sql.functions.lit("x"))
      .repartitionByRange(4, col("k"))
      .createOrReplaceTempView("fb_sprune_src")
    spark.sql("INSERT INTO graft_fb.default.fb_sprune SELECT k, v FROM fb_sprune_src")
    val all = spark.table("graft_fb.default.fb_sprune")
    assert(all.rdd.getNumPartitions >= 4)
    // one group's range covers k<=cut; the rest must be pruned from the PLAN
    val filtered = spark.sql("SELECT * FROM graft_fb.default.fb_sprune WHERE k < 10")
    assert(filtered.rdd.getNumPartitions === 1,
      s"expected 1 surviving group, got ${filtered.rdd.getNumPartitions}")
    assert(filtered.count() === 10)
    // a predicate matching nothing prunes everything and still answers
    assert(spark.sql("SELECT * FROM graft_fb.default.fb_sprune WHERE k < 0").count() === 0)
    spark.sql("DROP TABLE graft_fb.default.fb_sprune")
  }

  test("COUNT/MIN/MAX are answered from the manifest: data files not even opened") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_agg")
    spark.sql("CREATE TABLE graft_fb.default.fb_agg (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_fb.default.fb_agg SELECT id + 5, 'x' FROM range(1000)")
    val dir = Paths.get(spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("default"), "fb_agg"))
      .asInstanceOf[graft.catalog.GraftTable].location)
    // the nuclear proof: remove every data file — metadata-served
    // aggregates still answer, anything needing rows fails
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".rows")).foreach(Files.delete)
    val r = spark.sql(
      "SELECT count(*) AS n, min(k) AS lo, max(k) AS hi FROM graft_fb.default.fb_agg").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1000L, 5L, 1004L)))
    intercept[Exception] {  // sum needs real rows -> must NOT silently lie
      spark.sql("SELECT sum(k) FROM graft_fb.default.fb_agg").head()
    }
    intercept[Exception] {  // count with a residual filter must scan too
      spark.sql("SELECT count(*) FROM graft_fb.default.fb_agg WHERE k > 10").head()
    }
    spark.sql("DROP TABLE graft_fb.default.fb_agg")
  }

  test("a torn group file fails loudly instead of silently dropping tail rows") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_torn")
    spark.sql("CREATE TABLE graft_fb.default.fb_torn (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_fb.default.fb_torn SELECT id, repeat('x', 50) FROM range(1000)")
    assert(spark.table("graft_fb.default.fb_torn").count() === 1000)
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    def tableDir() = Paths.get(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_torn")).asInstanceOf[graft.catalog.GraftTable].location)
    // truncate the largest group file mid-row (drop the last 7 bytes)
    def tearLargestGroup(): Unit = {
      val rows = Files.list(tableDir()).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".rows")).maxBy(Files.size)
      Files.write(rows, Files.readAllBytes(rows).dropRight(7))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    tearLargestGroup()
    // sum(k) cannot be served from the manifest — it must open the file
    // (count(*) alone would now be answered by the aggregate pushdown!)
    val e = intercept[org.apache.spark.SparkException] {
      spark.sql("SELECT sum(k) FROM graft_fb.default.fb_torn").head()
    }
    assert(messages(e).exists(_.contains("torn group file")),
      s"expected a loud torn-file error, got: ${messages(e).mkString(" | ")}")
    spark.sql("DROP TABLE graft_fb.default.fb_torn")

    // materialize_deletes reads masked groups through the same row
    // reader: a torn one fails the CALL and the live manifest stays as
    // it was
    spark.sql("CREATE TABLE graft_fb.default.fb_torn (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_fb.default.fb_torn SELECT id, repeat('x', 50) FROM range(1000)")
    spark.sql("DELETE FROM graft_fb.default.fb_torn WHERE k % 7 = 0")
    val dir = tableDir()
    assert(graft.catalog.GroupFiles.live(dir).forall(_.deletes.isDefined),
      "the DELETE must leave a vector on every group")
    val manifestBefore = Files.readAllBytes(dir.resolve("manifest"))
    tearLargestGroup()
    val e2 = intercept[Exception] {
      spark.sql("CALL graft_fb.system.materialize_deletes('default.fb_torn')").collect()
    }
    assert(messages(e2).exists(_.contains("torn group file")),
      s"expected a loud torn-file error, got: ${messages(e2).mkString(" | ")}")
    assert(java.util.Arrays.equals(Files.readAllBytes(dir.resolve("manifest")), manifestBefore),
      "a failed materialize_deletes must not change the live manifest")
    def tmpFiles() = Files.list(tableDir()).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".tmp")).toList
    assert(tmpFiles().isEmpty, s"a failed materialize_deletes left ${tmpFiles()}")
    spark.sql("DROP TABLE graft_fb.default.fb_torn")

    // compact byte-copies its members: a missing member fails the CALL,
    // and the half-written merged file is not left behind
    spark.sql("CREATE TABLE graft_fb.default.fb_torn (k BIGINT, v STRING)")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO graft_fb.default.fb_torn SELECT id, 'g$i' FROM range(${i * 10}, ${i * 10 + 10})")
    }
    val groups = graft.catalog.GroupFiles.live(tableDir())
    assert(groups.size >= 2, s"compact needs several groups, got ${groups.size}")
    Files.delete(tableDir().resolve(groups.last.file))
    val e3 = intercept[Exception] {
      spark.sql("CALL graft_fb.system.compact('default.fb_torn', 1024)").collect()
    }
    assert(messages(e3).exists(_.contains(groups.last.file)),
      s"expected the missing member to be named, got: ${messages(e3).mkString(" | ")}")
    assert(tmpFiles().isEmpty, s"a failed compact left ${tmpFiles()}")
    spark.sql("DROP TABLE graft_fb.default.fb_torn")
  }

  test("snapshot retention: only RETAIN versions kept; expired files are swept") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.catalog.GroupFiles
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_ret")
    spark.sql("CREATE TABLE graft_fb.default.fb_ret (k BIGINT)")
    val n = GroupFiles.RETAIN + 3
    // INSERT OVERWRITE each round: every commit fully replaces the live
    // set, so each expired snapshot's files become deletable exactly when
    // the snapshot does
    (1 to n).foreach { i =>
      spark.sql(s"INSERT OVERWRITE graft_fb.default.fb_ret SELECT id FROM range($i)")
    }
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val dir = Paths.get(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_ret")).asInstanceOf[graft.catalog.GraftTable].location)
    val vs = GroupFiles.versions(dir)
    assert(vs.size === GroupFiles.RETAIN && vs.last === n.toLong,
      s"expected the last ${GroupFiles.RETAIN} of $n commits, got $vs")
    intercept[IllegalArgumentException] { GroupFiles.liveAt(dir, vs.head - 1) }
    // every on-disk group is referenced by a retained snapshot — the files
    // of expired snapshots were swept
    val onDisk = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".rows")).toSet
    val referenced = vs.flatMap(v => GroupFiles.liveAt(dir, v).map(_.file)).toSet
    assert(onDisk === referenced)
    // oldest retained version still reads correctly
    assert(spark.sql(
      s"SELECT count(*) FROM graft_fb.default.fb_ret VERSION AS OF ${vs.head}")
      .head().getLong(0) === (vs.head))
    spark.sql("DROP TABLE graft_fb.default.fb_ret")
  }

  test("history: newest-first retained snapshots with nondecreasing commit times and right group counts") {
    import java.nio.file.Paths
    import graft.catalog.GroupFiles
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_hist")
    spark.sql("CREATE TABLE graft_fb.default.fb_hist (k BIGINT)")
    (1 to 3).foreach { i =>
      spark.sql(s"INSERT INTO graft_fb.default.fb_hist SELECT id FROM range($i)")
    }
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val dir = Paths.get(cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_hist")).asInstanceOf[graft.catalog.GraftTable].location)
    val h = GroupFiles.history(dir)
    assert(h.map(_._1) === Seq(3L, 2L, 1L), "newest first")
    // appends accumulate group files: each INSERT adds its own group(s)
    assert(h.map(_._3).reverse === h.map(_._3).reverse.sorted, "group counts nondecreasing over appends")
    assert(h.last._3 >= 1)
    // commit timestamps never decrease going forward in time
    assert(h.map(_._2).reverse === h.map(_._2).reverse.sorted)
    // history agrees with liveAt on every retained version
    h.foreach { case (v, _, n) => assert(GroupFiles.liveAt(dir, v).size === n) }
    spark.sql("DROP TABLE graft_fb.default.fb_hist")
  }

  test("optimistic concurrency: disjoint row-level commits pass; stale scan fails then retries") {
    import java.nio.file.Files
    import graft.catalog.{Group, GroupFiles}
    val dir = Files.createTempDirectory("graft_occ")
    def mkGroup(name: String): Group = {
      // minimal valid group file: 1-field header, zero rows
      val out = new java.io.DataOutputStream(Files.newOutputStream(dir.resolve(name)))
      out.writeInt(1); out.close()
      Group(name, Map.empty, rows = 0L, fieldIds = Seq(0), bytes = 4L)
    }
    try {
      val (a, b) = (mkGroup("a.rows"), mkGroup("b.rows"))
      GroupFiles.publish(dir, Seq(a, b))
      // two ops scanned DISJOINT groups: both commits validate and land
      GroupFiles.commitRowLevel(dir, Set(("a.rows", None)), Seq(mkGroup("a2.rows")))
      GroupFiles.commitRowLevel(dir, Set(("b.rows", None)), Seq(mkGroup("b2.rows")))
      assert(GroupFiles.live(dir).map(_.file).toSet === Set("a2.rows", "b2.rows"))
      // an op that scanned a group a concurrent commit replaced must fail…
      val w = mkGroup("c.rows")
      intercept[java.util.ConcurrentModificationException] {
        GroupFiles.commitRowLevel(dir, Set(("a.rows", None)), Seq(w))
      }
      assert(GroupFiles.live(dir).map(_.file).toSet === Set("a2.rows", "b2.rows"),
        "failed commit must not change the live set")
      // …and succeed after re-scanning the current live set (the retry)
      GroupFiles.commitRowLevel(dir, Set(("a2.rows", None)), Seq(w))
      assert(GroupFiles.live(dir).map(_.file).toSet === Set("b2.rows", "c.rows"))
    } finally GroupFiles.delete(dir)
  }

  test("row-level commit whose scan never planned replaces nothing (no silent truncate)") {
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    spark.sql("DROP TABLE IF EXISTS graft_fb.default.fb_nt")
    spark.sql("CREATE TABLE graft_fb.default.fb_nt (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_fb.default.fb_nt SELECT id, 'keep' FROM range(10)")
    val cat = spark.sessionState.catalogManager.catalog("graft_fb")
      .asInstanceOf[graft.catalog.GraftCatalog]
    val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "fb_nt")).asInstanceOf[graft.catalog.GraftTable]
    // simulate the AQE empty-relation shape: a row-level write whose scan
    // was never executed (holder.planned == None) commits zero rows — the
    // table must be untouched, NOT truncated
    val holder = new graft.catalog.ScanHolder
    val write = new graft.catalog.GraftBatchWrite(
      tbl, tbl.schema(), replaceAll = true, Some(holder))
    write.commit(Array.empty)
    assert(spark.table("graft_fb.default.fb_nt").count() === 10,
      "unplanned row-level commit truncated the table")
    spark.sql("DROP TABLE graft_fb.default.fb_nt")
  }

  test("manifest stats: unsafe column names are skipped, malformed tokens parse defensively") {
    import java.nio.file.Files
    import graft.catalog.{Group, GroupFiles}
    val dir = Files.createTempDirectory("graft_esc")
    try {
      val out = new java.io.DataOutputStream(Files.newOutputStream(dir.resolve("g.rows")))
      out.writeInt(1); out.close()
      // a column name carrying every manifest delimiter: stats must be
      // skipped at write (no pruning), NOT corrupt the manifest
      GroupFiles.publish(dir, Seq(Group("g.rows",
        Map("a=b:c" -> (1L, 2L), "ok" -> (3L, 4L)), rows = 0L, fieldIds = Seq(0), bytes = 4L)))
      val round = GroupFiles.live(dir)
      assert(round.map(_.file) === Seq("g.rows"))
      assert(round.head.stats === Map("ok" -> (3L, 4L)))
      // hand-corrupted stats tokens: dropped, never a crash (they only
      // prune)
      val manifest = dir.resolve("manifest")
      val required = Seq("#n=0", "#f=0", "#z=4")
      def writeLine(tokens: Seq[String]): Unit =
        Files.write(manifest, ("g.rows\t" + tokens.mkString("\t")).getBytes("UTF-8"))
      writeLine(required ++ Seq("broken", "x=1", "y=1:zz", "ok=5:6"))
      assert(GroupFiles.live(dir).head.stats === Map("ok" -> (5L, 6L)))
      // a missing or malformed REQUIRED token fails loudly, naming the
      // manifest, the group file and the token
      for ((tok, bad) <- Seq("#n=" -> "#n=x", "#f=" -> "#f=0,y", "#z=" -> "#z=")) {
        val missing = required.filterNot(_.startsWith(tok))
        val malformed = required.map(t => if (t.startsWith(tok)) bad else t)
        for (tokens <- Seq(missing, malformed)) {
          writeLine(tokens)
          val e = intercept[IllegalStateException](GroupFiles.live(dir))
          assert(e.getMessage.contains(manifest.toString) && e.getMessage.contains("g.rows") &&
            e.getMessage.contains(tok), e.getMessage)
        }
      }
    } finally GroupFiles.delete(dir)
  }

  test("CTAS into the graft catalog: create-from-query, row-level ops on the result, no-clobber") {
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val T = "graft_fb.default.fb_ctas"
    spark.sql(s"DROP TABLE IF EXISTS $T")
    // CTAS: schema inferred from the query, rows land in the same commit
    spark.sql(s"CREATE TABLE $T AS SELECT id AS k, concat('v', id) AS v FROM range(0, 7, 1, 1)")
    assert(spark.table(T).count() === 7)
    assert(spark.table(T).schema.fieldNames.toSeq === Seq("k", "v"))
    // the created table is a real graft table: row-level ops work on it
    spark.sql(s"DELETE FROM $T WHERE k >= 5")
    assert(spark.table(T).count() === 5)
    // CTAS onto an existing name fails; IF NOT EXISTS is a no-op
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $T AS SELECT 1 AS x")
    }
    spark.sql(s"CREATE TABLE IF NOT EXISTS $T AS SELECT 1 AS x")
    assert(spark.table(T).schema.fieldNames.toSeq === Seq("k", "v"), "IF NOT EXISTS must not clobber")
    spark.sql(s"DROP TABLE $T")
  }

  test("pinned multi-table snapshot: reads stay consistent while concurrent writes land") {
    // VERDICT r9 #7 — the read-side analogue of atomicOverwriteAll
    // (postpy execute_transaction heritage): a two-table report must not
    // mix pre-write A with post-write B.
    import graft.catalog.Snapshot
    spark.conf.set("spark.sql.catalog.graft_fb", "graft.catalog.GraftCatalog")
    val A = "graft_fb.default.fb_snap_a"
    val B = "graft_fb.default.fb_snap_b"
    Seq(A, B).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"CREATE TABLE $A (k BIGINT, v STRING)")
    spark.sql(s"CREATE TABLE $B (k BIGINT, w STRING)")
    spark.sql(s"INSERT INTO $A SELECT id, 'a1' FROM range(10)")
    spark.sql(s"INSERT INTO $B SELECT id, 'b1' FROM range(10)")
    val pin = Snapshot.pin(spark, Seq(A, B))
    val joinedBefore = pin.table(spark, A).join(pin.table(spark, B), "k").count()
    assert(joinedBefore === 10)
    // a concurrent writer lands on BOTH tables after the pin
    spark.sql(s"INSERT INTO $A SELECT id, 'a2' FROM range(10, 20)")
    spark.sql(s"DELETE FROM $B WHERE k >= 5")
    // live reads see the new world…
    assert(spark.table(A).count() === 20)
    assert(spark.table(B).count() === 5)
    // …but the pinned vector still serves the consistent pre-write state
    assert(pin.table(spark, A).count() === 10)
    assert(pin.table(spark, B).count() === 10)
    assert(pin.table(spark, A).join(pin.table(spark, B), "k").count() === 10)
    assert(pin.table(spark, A).filter(org.apache.spark.sql.functions.col("v") === "a2").count() === 0)
    // an unpinned table is a loud error, never a silent "latest" read
    intercept[IllegalArgumentException] {
      pin.table(spark, "graft_fb.default.fb_snap_c")
    }
    // a FRESH pin after the writes sees the new consistent state
    val pin2 = Snapshot.pin(spark, Seq(A, B))
    assert(pin2.table(spark, A).count() === 20)
    assert(pin2.table(spark, B).count() === 5)
    Seq(A, B).foreach(t => spark.sql(s"DROP TABLE $t"))
  }
}
