package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan
import graft.catalog.GroupFiles

/** Bucketed catalog tables: write-side row routing into per-bucket group
  * files, manifest #b tags, and the payoff — storage-partitioned joins
  * (KeyGroupedPartitioning) that keep the Exchange out of a co-bucketed
  * join's plan entirely.
  */
class BucketedCatalogSpec extends AnyFunSuite with SparkFixture {

  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    plan.collect { case s: ShuffleExchangeExec => s }

  private def tableDir(cat: String, name: String) = {
    val c = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[graft.catalog.GraftCatalog]
    val t = c.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), name)).asInstanceOf[graft.catalog.GraftTable]
    Paths.get(t.location)
  }

  private def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.graft_bk", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
  }

  test("writes route rows to per-bucket group files with #b manifest tags") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graft_bk.default.bt_route")
    spark.sql("""CREATE TABLE graft_bk.default.bt_route (k BIGINT, v STRING)
                 TBLPROPERTIES('bucket_by'='k','buckets'='4')""")
    spark.sql("""INSERT INTO graft_bk.default.bt_route
                 SELECT id AS k, CAST(id AS STRING) AS v FROM range(100)""")
    val dir = tableDir("graft_bk", "bt_route")
    val live = GroupFiles.live(dir)
    assert(live.nonEmpty)
    assert(live.forall(_.bucket.isDefined), "every group must carry a bucket tag")
    // every file's rows really belong to its tagged bucket: read each
    // group alone (pinned file set) and check pmod of every key
    live.foreach { g =>
      val b = g.bucket.get
      val (lo, hi) = g.stats("k")
      // min/max of a correctly-routed file are themselves in the bucket
      assert((lo % 4 + 4) % 4 === b && (hi % 4 + 4) % 4 === b,
        s"group ${g.file} tagged $b has stats ($lo, $hi)")
    }
    // read back: complete and correct
    assert(spark.table("graft_bk.default.bt_route").count() === 100)
    val perBucket = spark.table("graft_bk.default.bt_route")
      .selectExpr("pmod(k, 4) AS b").groupBy("b").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perBucket === Map(0L -> 25L, 1L -> 25L, 2L -> 25L, 3L -> 25L))
    spark.sql("DROP TABLE IF EXISTS graft_bk.default.bt_route")
  }

  test("co-bucketed join runs with ZERO shuffle (storage-partitioned join)") {
    setup()
    for (t <- Seq("bt_l", "bt_r")) {
      spark.sql(s"DROP TABLE IF EXISTS graft_bk.default.$t")
      spark.sql(s"""CREATE TABLE graft_bk.default.$t (k BIGINT, v BIGINT)
                    TBLPROPERTIES('bucket_by'='k','buckets'='4')""")
    }
    spark.sql("INSERT INTO graft_bk.default.bt_l SELECT id, id * 2 FROM range(1000)")
    spark.sql("INSERT INTO graft_bk.default.bt_r SELECT id, id * 3 FROM range(500)")

    val joined = spark.sql(
      """SELECT l.k, l.v + r.v AS s
        |FROM graft_bk.default.bt_l l JOIN graft_bk.default.bt_r r ON l.k = r.k""".stripMargin)
      // suppress broadcast so the join NEEDS co-partitioning to avoid the shuffle
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val rows = joined.collect()
      assert(rows.length === 500)
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toMap ===
        (0L until 500L).map(k => k -> (k * 5)).toMap)
      val ex = shuffles(joined.queryExecution.executedPlan)
      assert(ex.isEmpty,
        s"expected a storage-partitioned join with no Exchange, found:\n${joined.queryExecution.executedPlan}")
    }
    for (t <- Seq("bt_l", "bt_r")) spark.sql(s"DROP TABLE IF EXISTS graft_bk.default.$t")
  }

  test("merge-on-read UPDATE on a bucketed table keeps routing and the zero-shuffle join") {
    setup()
    for (t <- Seq("bt_ul", "bt_ur")) {
      spark.sql(s"DROP TABLE IF EXISTS graft_bk.default.$t")
      spark.sql(s"""CREATE TABLE graft_bk.default.$t (k BIGINT, v BIGINT)
                    TBLPROPERTIES('bucket_by'='k','buckets'='4')""")
    }
    spark.sql("INSERT INTO graft_bk.default.bt_ul SELECT id, id * 2 FROM range(1000)")
    spark.sql("INSERT INTO graft_bk.default.bt_ur SELECT id, id * 3 FROM range(500)")
    val dir = tableDir("graft_bk", "bt_ul")
    val before = GroupFiles.live(dir).map(_.file).toSet
    // MoR UPDATE: old images mask, new images append — and the appended
    // per-bucket files must carry #b tags or SPJ dies for the whole table
    spark.sql("UPDATE graft_bk.default.bt_ul SET v = k * 20 WHERE k % 100 = 7")
    val live = GroupFiles.live(dir)
    assert(live.exists(_.deletes.isDefined), "UPDATE must have gone merge-on-read")
    assert(live.forall(_.bucket.isDefined),
      s"appended update images lost bucket tags: $live")
    // the write is clustered by bucket: all touched keys here land in
    // ONE bucket (k % 100 == 7 ⇒ k % 4 == 3), so the appended images
    // must arrive as a single whole-bucket file, not task slivers
    val appended = live.filterNot(g => before(g.file))
    assert(appended.size === 1 && appended.head.bucket === Some(3),
      s"expected one whole-bucket appended file, got $appended")
    val joined = spark.sql(
      """SELECT l.k, l.v + r.v AS s
        |FROM graft_bk.default.bt_ul l JOIN graft_bk.default.bt_ur r ON l.k = r.k""".stripMargin)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val rows = joined.collect()
      assert(rows.length === 500)
      val expect = (0L until 500L).map(k =>
        k -> (if (k % 100 == 7) k * 20 + k * 3 else k * 5)).toMap
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toMap === expect)
      assert(shuffles(joined.queryExecution.executedPlan).isEmpty,
        s"SPJ lost after MoR UPDATE:\n${joined.queryExecution.executedPlan}")
    }
    for (t <- Seq("bt_ul", "bt_ur")) spark.sql(s"DROP TABLE IF EXISTS graft_bk.default.$t")
  }

  test("MoR UPDATE that changes the bucket key re-routes the new image") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graft_bk.default.bt_rekey")
    spark.sql("""CREATE TABLE graft_bk.default.bt_rekey (k BIGINT, v BIGINT)
                 TBLPROPERTIES('bucket_by'='k','buckets'='4')""")
    spark.sql("INSERT INTO graft_bk.default.bt_rekey SELECT id, id FROM range(100)")
    // move keys across buckets: k=1 (bucket 1) becomes k=101 (bucket 1?
    // no: 101 % 4 = 1... use +2: k=1 -> 3, bucket 3)
    spark.sql("UPDATE graft_bk.default.bt_rekey SET k = k + 202 WHERE k = 1")
    val dir = tableDir("graft_bk", "bt_rekey")
    val live = GroupFiles.live(dir)
    assert(live.forall(_.bucket.isDefined))
    // the new image's file must be tagged with ITS key's bucket, and its
    // stats must place 203 there — otherwise SPJ reads the row from the
    // wrong partition and co-partitioned joins silently drop it
    val moved = live.find(g => g.stats.get("k").exists(s => s._1 <= 203 && 203 <= s._2)
      && g.deletes.isEmpty && g.rows == 1L)
    assert(moved.exists(_.bucket === Some((203 % 4).toInt)),
      s"re-keyed image not routed to its new bucket: $live")
    // the row is findable through the bucketed read path
    assert(spark.sql("SELECT v FROM graft_bk.default.bt_rekey WHERE k = 203")
      .head().getLong(0) === 1L)
    assert(spark.table("graft_bk.default.bt_rekey").count() === 100)
    // and a co-bucketed join still sees it with zero shuffle
    spark.sql("DROP TABLE IF EXISTS graft_bk.default.bt_rekey_r")
    spark.sql("""CREATE TABLE graft_bk.default.bt_rekey_r (k BIGINT, w BIGINT)
                 TBLPROPERTIES('bucket_by'='k','buckets'='4')""")
    spark.sql("INSERT INTO graft_bk.default.bt_rekey_r VALUES (203, 7)")
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(
        """SELECT l.v + r.w FROM graft_bk.default.bt_rekey l
          |JOIN graft_bk.default.bt_rekey_r r ON l.k = r.k""".stripMargin)
      assert(j.collect().map(_.getLong(0)).toSeq === Seq(8L))
      assert(shuffles(j.queryExecution.executedPlan).isEmpty)
    }
    spark.sql("DROP TABLE graft_bk.default.bt_rekey")
    spark.sql("DROP TABLE graft_bk.default.bt_rekey_r")
  }

  test("MERGE rewrite and compaction preserve bucket tags (SPJ survives maintenance)") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graft_bk.default.bt_m")
    spark.sql("""CREATE TABLE graft_bk.default.bt_m (k BIGINT, v BIGINT)
                 TBLPROPERTIES('bucket_by'='k','buckets'='4')""")
    spark.sql("INSERT INTO graft_bk.default.bt_m SELECT id, id FROM range(200)")
    spark.sql("INSERT INTO graft_bk.default.bt_m SELECT id, id FROM range(200, 400)")
    spark.sql(
      """MERGE INTO graft_bk.default.bt_m t
        |USING (SELECT id AS k, id * 10 AS v FROM range(50)) s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    val dir = tableDir("graft_bk", "bt_m")
    assert(GroupFiles.live(dir).forall(_.bucket.isDefined),
      "MERGE-rewritten groups lost their bucket tags")
    GroupFiles.compact(dir, targetBytes = 1L << 20)
    val compacted = GroupFiles.live(dir)
    assert(compacted.forall(_.bucket.isDefined), "compaction dropped bucket tags")
    // fully compacted: at most one group per (bucket) generation
    assert(compacted.groupBy(_.bucket).forall(_._2.size == 1),
      s"compaction left multiple groups per bucket: $compacted")
    // content intact after both operations
    val got = spark.table("graft_bk.default.bt_m").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 400)
    assert((0L until 50L).forall(k => got(k) == k * 10))
    assert((50L until 400L).forall(k => got(k) == k))
    spark.sql("DROP TABLE IF EXISTS graft_bk.default.bt_m")
  }

  test("ADD COLUMN on a bucketed table: old groups null-pad, new writes route, SPJ intact") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graft_bk.default.bt_ev")
    spark.sql("""CREATE TABLE graft_bk.default.bt_ev (k BIGINT, v BIGINT)
                 TBLPROPERTIES('bucket_by'='k','buckets'='4')""")
    spark.sql("INSERT INTO graft_bk.default.bt_ev SELECT id, id FROM range(100)")
    spark.sql("ALTER TABLE graft_bk.default.bt_ev ADD COLUMN w STRING")
    spark.sql("""INSERT INTO graft_bk.default.bt_ev
                 SELECT id, id, CAST(id AS STRING) FROM range(100, 200)""")
    val dir = tableDir("graft_bk", "bt_ev")
    assert(GroupFiles.live(dir).forall(_.bucket.isDefined),
      "post-evolution writes lost bucket routing")
    val rows = spark.table("graft_bk.default.bt_ev").collect()
    assert(rows.length === 200)
    assert(rows.filter(_.getLong(0) < 100).forall(_.isNullAt(2)), "old rows must null-pad")
    assert(rows.filter(_.getLong(0) >= 100).forall(r => r.getString(2) == r.getLong(0).toString))
    // the reported partitioning (and with it SPJ) survives evolution: a
    // self-aggregate on the bucket column plans no shuffle
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val agg = spark.sql(
        "SELECT k, COUNT(*) AS n FROM graft_bk.default.bt_ev GROUP BY k")
      agg.collect()
      assert(shuffles(agg.queryExecution.executedPlan).isEmpty,
        s"aggregate over the bucket column should reuse the reported partitioning:\n${agg.queryExecution.executedPlan}")
    }
    spark.sql("DROP TABLE IF EXISTS graft_bk.default.bt_ev")
  }

  test("bad bucket specs fail at CREATE, not first write") {
    setup()
    spark.sql("DROP TABLE IF EXISTS graft_bk.default.bt_bad")
    val e1 = intercept[Exception] {
      spark.sql("""CREATE TABLE graft_bk.default.bt_bad (k STRING)
                   TBLPROPERTIES('bucket_by'='k','buckets'='4')""")
    }
    assert(e1.getMessage.contains("BIGINT"))
    val e2 = intercept[Exception] {
      spark.sql("""CREATE TABLE graft_bk.default.bt_bad (k BIGINT)
                   TBLPROPERTIES('bucket_by'='missing','buckets'='4')""")
    }
    assert(e2.getMessage.contains("not in schema"))
  }

  private def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
