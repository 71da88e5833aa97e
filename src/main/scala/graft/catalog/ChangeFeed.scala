package graft.catalog

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftbridge.Materialize.snapshot

/** CHANGE DATA FEED between two retained snapshots — the `table_changes
  * (t, v1, v2)` analogue Delta/Iceberg users expect on top of time travel:
  * every row the window added surfaces as `_change_type = 'insert'`,
  * every row it removed as `'delete'` (an update is its delete+insert
  * pair, copy-on-write semantics — this catalog stores no row lineage,
  * so preimage/postimage pairing is by content, not by key).
  *
  * Scale shape: the diff starts from the MANIFESTS, not the data. Group
  * files are immutable and content-addressed by name, so any file listed
  * in both snapshots contributes identical rows to both sides and cancels
  * exactly — only files ADDED or REMOVED across the window are ever
  * opened. The residual `exceptAll` (needed because a copy-on-write
  * rewrite carries untouched rows into new files) therefore shuffles
  * O(rows in changed files), not O(table): a MERGE that rewrote 2 of
  * 10,000 groups feeds the diff from those 2 + their replacements only.
  */
object ChangeFeed {

  /** Changes from snapshot `fromVersion` (exclusive base) to `toVersion`
    * (inclusive) of a GraftCatalog table, as the table's columns plus
    * `_change_type` ('insert' | 'delete'). Both versions must still be
    * retained (liveAt fails loudly otherwise — a partial feed would be
    * silent corruption). Rows are read with the CURRENT schema (older,
    * narrower groups null-pad, the time-travel rule).
    */
  def tableChanges(spark: SparkSession, qualifiedName: String,
                   fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    val parts = qualifiedName.split('.')
    require(parts.length >= 2,
      s"need <catalog>.[<namespace>.]<table>, got '$qualifiedName'")
    val cat = spark.sessionState.catalogManager.catalog(parts.head) match {
      case g: GraftCatalog => g
      case other => throw new IllegalArgumentException(
        s"${parts.head} is not a GraftCatalog (got ${other.getClass.getName})")
    }
    val ident = Identifier.of(parts.tail.dropRight(1), parts.last)
    val base = cat.loadTable(ident).asInstanceOf[GraftTable]
    require(!base.schema().fieldNames.contains("_change_type"),
      s"$qualifiedName already has a _change_type column; the feed's " +
      "metadata column would silently destroy it")
    val dir = Paths.get(base.location)
    // the diff key is (file, delete vector): a merge-on-read DELETE leaves
    // the file in both snapshots but swaps its vector, and the group must
    // then feed both sides (old mask vs new mask) so the newly-masked rows
    // surface as 'delete' — still O(changed groups), never O(table)
    def keyed(v: Long) =
      GroupFiles.liveAt(dir, v).map(g => (g.file, g.deletes.map(_._1)) -> g).toMap
    // version 0 = the never-committed table: the feed from 0 is simply
    // "everything at toVersion is an insert" (a summary seeded on an
    // empty base replays history from here)
    val from = if (fromVersion == 0) Map.empty[(String, Option[String]), Group]
               else keyed(fromVersion)
    val to = if (toVersion == 0) Map.empty[(String, Option[String]), Group]
             else keyed(toVersion)

    // each side feeds BOTH exceptAll branches — materialize once so the
    // changed files are read once, not twice; eagerly, because a later
    // commit's retention sweep may delete the pinned files
    def read(groups: Seq[Group]): DataFrame = snapshot(
      Bridge.v2Rows(spark, new GraftTable(base.name(), base.schema(), base.location,
                                          pinnedGroups = Some(groups),
                                          // props carry the FIELD IDS: without them the
                                          // pinned table would resolve columns positionally
                                          // and misbind after any DROP/RENAME COLUMN
                                          props = base.props)))

    val added = read((to -- from.keySet).values.toSeq.sortBy(_.file))
    val removed = read((from -- to.keySet).values.toSeq.sortBy(_.file))
      // a removed-side group is read with the mask it had AT fromVersion;
      // Bridge.v2Rows pins exactly the given groups, vectors included
    added.exceptAll(removed).withColumn("_change_type", lit("insert"))
      .unionByName(removed.exceptAll(added).withColumn("_change_type", lit("delete")))
  }
}
