package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Materialize.{reuse, snapshot}

/** INCREMENTAL MATERIALIZED-VIEW maintenance over the catalog's change
  * feed — the missing piece between time travel (what changed) and the
  * summaries users actually serve (per-key counts and sums).
  *
  * Scope: GROUP BY dims → COUNT(*) + SUM(measure) aggregates. These are
  * exactly the SELF-MAINTAINABLE aggregates under insert/delete deltas
  * (classic incremental view maintenance: a delete subtracts what an
  * insert added, no access to the base table needed) — PROVIDED the state
  * also carries each measure's non-null count: SQL SUM is NULL over an
  * all-NULL group, and "did the last non-null value just get deleted" is
  * undecidable from the running sum alone. The summary schema is
  * therefore dims ++ __n ++ per-measure (__nn_c, __sum_c). AVG is served
  * as sum/count at read time.
  *
  * MIN/MAX (the `minmax` columns, state __min_c/__max_c) use the standard
  * RESCAN-ON-RETRACTION form: inserts maintain them incrementally
  * (least/greatest against the delta's insert extremes — monotone, no
  * base access), and ONLY a group whose deletes reach its tentative new
  * extremum is re-aggregated, by a scan of THAT group's rows at the
  * target version (dims semi-join, broadcast of the flagged key set).
  * A delete of a non-extremal value is as cheap as a count update; the
  * expensive per-group rescan happens exactly when information was
  * genuinely destroyed — at 100 TB the flagged set is the handful of
  * groups whose extremum was retracted, not the table.
  *
  * Scale shape: `refresh` reads ONLY the change feed of the version
  * window — ChangeFeed diffs manifests first, so a commit that touched 2
  * of 10,000 groups costs O(rows in those groups), and the merge join is
  * on the view's dimension key, whose cardinality is the summary's (small)
  * size, not the table's. The state itself stays a DataFrame: persist it
  * wherever summaries live (a catalog table, parquet) and chain refreshes
  * commit-to-commit.
  */
object IncrementalView {

  private def summarize(base: DataFrame, dims: Seq[String], sums: Seq[String],
                        minmax: Seq[String] = Seq.empty): DataFrame = {
    val a = (count(lit(1)).as("__n") +: sums.flatMap(c =>
      Seq(count(col(c)).as(s"__nn_$c"), sum(col(c)).as(s"__sum_$c")))) ++
      minmax.flatMap(c =>
        Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    base.groupBy(dims.map(col): _*).agg(a.head, a.tail: _*)
  }

  /** Full build of the summary at the table's CURRENT version: one
    * aggregate over the base table. Use once to seed, then `refresh`.
    */
  def build(spark: SparkSession, qualifiedName: String,
            dims: Seq[String], sums: Seq[String],
            minmax: Seq[String] = Seq.empty): DataFrame =
    summarize(spark.table(qualifiedName), dims, sums, minmax)

  /** A change feed as SIGNED rows: insert = +1, delete = −1 — the
    * multiset-algebra form every delta rule below multiplies and sums.
    */
  private def toSigned(feed: DataFrame): DataFrame =
    feed.withColumn("__sign",
        when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L)))
      .drop("_change_type")

  /** Merge a SIGNED delta row set into a count/sum summary state: signed
    * partial aggregates, null-safe full-outer merge on the dims, groups
    * whose row count reaches zero dropped. This is the shared engine of
    * single-table `refresh` (minmax-free path) and `refreshJoin`.
    */
  private def applyDelta(state: DataFrame, signedRows: DataFrame,
                         dims: Seq[String], sums: Seq[String]): DataFrame = {
    val deltaAggs = sum(col("__sign")).as("__dn") +: sums.flatMap(c => Seq(
      sum(when(col(c).isNotNull, col("__sign")).otherwise(lit(0L))).as(s"__dnn_$c"),
      sum(col(c) * col("__sign")).as(s"__dsum_$c")))
    val deltaCols = Seq("__dn") ++ sums.flatMap(c => Seq(s"__dnn_$c", s"__dsum_$c"))
    val delta = signedRows
      .groupBy(dims.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
      .select(dims.map(c => col(c).as(s"__d_$c")) ++ deltaCols.map(col): _*)
    val cond = dims.map(c => col(c) <=> col(s"__d_$c")).reduce(_ && _)
    def addOrZero(a: Column, b: Column): Column =
      coalesce(a, lit(0L)) + coalesce(b, lit(0L))
    state.join(delta, cond, "full_outer")
      .select(
        dims.map(c => coalesce(col(c), col(s"__d_$c")).as(c)) ++
          Seq(addOrZero(col("__n"), col("__dn")).as("__n")) ++
          sums.flatMap { c =>
            val nn = addOrZero(col(s"__nn_$c"), col(s"__dnn_$c"))
            Seq(nn.as(s"__nn_$c"),
                when(nn === 0L, lit(null))
                  .otherwise(coalesce(col(s"__sum_$c"), lit(0)) +
                             coalesce(col(s"__dsum_$c"), lit(0)))
                  .as(s"__sum_$c"))
          }: _*)
      .filter(col("__n") > 0)
  }

  /** Advance a summary built at snapshot `fromVersion` to snapshot
    * `toVersion` using only the change feed between them: signed partial
    * aggregates of the delta (insert = +1, delete = −1) outer-merged into
    * the state; groups whose row count reaches zero are dropped — their
    * sums are exactly cancelled too, by the same signed arithmetic.
    *
    * Equivalence contract (pinned by IncrementalViewSpec): for any chain
    * of commits, chaining `refresh` equals `build` at the final version —
    * including NULL dimension values (null-safe merge join) and NULL
    * measures (a sum is NULL exactly when the group's non-null count is
    * zero, tracked incrementally). Caveat inherited from the feed: with
    * floating-point measures, subtract-then-add can drift by ulps; use
    * decimal/integer measures where bit-exactness matters (the same rule
    * the declared money keys already follow).
    */
  def refresh(spark: SparkSession, qualifiedName: String,
              dims: Seq[String], sums: Seq[String],
              state: DataFrame, fromVersion: Long, toVersion: Long,
              minmax: Seq[String] = Seq.empty): DataFrame = {
    if (fromVersion == toVersion) return state
    // fail with an explanation, not an unresolved-column error: summaries
    // persisted before the per-measure non-null counters existed cannot
    // be refreshed (the NULL-sum decision needs the counter) — rebuild
    // once with materialize/build to migrate
    val missing = (Seq("__n") ++ sums.map(c => s"__nn_$c") ++ sums.map(c => s"__sum_$c") ++
        minmax.flatMap(c => Seq(s"__min_$c", s"__max_$c")))
      .filterNot(state.columns.contains)
    require(missing.isEmpty,
      s"summary state lacks ${missing.mkString(", ")} — it predates the " +
      "per-measure counters; rebuild it once with build/materialize")
    if (minmax.isEmpty)
      return applyDelta(state,
        toSigned(ChangeFeed.tableChanges(spark, qualifiedName, fromVersion, toVersion)),
        dims, sums)
    val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    val isIns = col("_change_type") === "insert"
    val deltaAggs = (sum(sign).as("__dn") +: sums.flatMap(c => Seq(
      sum(when(col(c).isNotNull, sign).otherwise(lit(0L))).as(s"__dnn_$c"),
      sum(col(c) * sign).as(s"__dsum_$c")))) ++
      minmax.flatMap(c => Seq(
        min(when(isIns, col(c))).as(s"__dins_min_$c"),
        max(when(isIns, col(c))).as(s"__dins_max_$c"),
        min(when(!isIns, col(c))).as(s"__ddel_min_$c"),
        max(when(!isIns, col(c))).as(s"__ddel_max_$c")))
    val deltaCols = Seq("__dn") ++ sums.flatMap(c => Seq(s"__dnn_$c", s"__dsum_$c")) ++
      minmax.flatMap(c => Seq(s"__dins_min_$c", s"__dins_max_$c",
                              s"__ddel_min_$c", s"__ddel_max_$c"))
    val delta = ChangeFeed.tableChanges(spark, qualifiedName, fromVersion, toVersion)
      .groupBy(dims.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
      // prefix the dim columns so the join below can reference both sides
      .select(dims.map(c => col(c).as(s"__d_$c")) ++ deltaCols.map(col): _*)
    // NULL-SAFE dim equality: NULL is a legal (and common) dimension value,
    // and a plain equi-join would never match it — a delete of a NULL-dim
    // group would leave its stale state row behind forever
    val cond = dims.map(c => col(c) <=> col(s"__d_$c")).reduce(_ && _)
    def addOrZero(a: Column, b: Column): Column =
      coalesce(a, lit(0L)) + coalesce(b, lit(0L))
    // MIN/MAX maintenance: inserts are monotone (least/greatest with the
    // delta's insert extremes — least/greatest skip NULLs); a group needs
    // a RESCAN exactly when its deletes reach the tentative new extremum
    // (the deleted value could have been the last occurrence — multiplicity
    // is not tracked, so equality must be conservative). Deletes strictly
    // inside the tentative range can never change the extremum.
    def tentMin(c: String) = least(col(s"__min_$c"), col(s"__dins_min_$c"))
    def tentMax(c: String) = greatest(col(s"__max_$c"), col(s"__dins_max_$c"))
    def rescanNeeded(c: String): Column =
      (col(s"__ddel_min_$c").isNotNull &&
        (tentMin(c).isNull || col(s"__ddel_min_$c") <= tentMin(c))) ||
      (col(s"__ddel_max_$c").isNotNull &&
        (tentMax(c).isNull || col(s"__ddel_max_$c") >= tentMax(c)))
    val rescanFlag =
      if (minmax.isEmpty) lit(false)
      else minmax.map(rescanNeeded).reduce(_ || _)
    val merged = state.join(delta, cond, "full_outer")
      .select(
        dims.map(c => coalesce(col(c), col(s"__d_$c")).as(c)) ++
          Seq(addOrZero(col("__n"), col("__dn")).as("__n")) ++
          sums.flatMap { c =>
            val nn = addOrZero(col(s"__nn_$c"), col(s"__dnn_$c"))
            Seq(nn.as(s"__nn_$c"),
                // SUM is NULL exactly when no non-null value remains —
                // the nn counter is what makes that decidable from state
                when(nn === 0L, lit(null))
                  .otherwise(coalesce(col(s"__sum_$c"), lit(0)) +
                             coalesce(col(s"__dsum_$c"), lit(0)))
                  .as(s"__sum_$c"))
          } ++
          minmax.flatMap(c =>
            Seq(tentMin(c).as(s"__min_$c"), tentMax(c).as(s"__max_$c"))) ++
          Seq(rescanFlag.as("__rescan")): _*)
      .filter(col("__n") > 0)
    if (minmax.isEmpty) return merged.drop("__rescan")
    // the retracted-extremum groups: re-aggregate ONLY their rows at the
    // target snapshot. The flagged key set is summary-cardinality small —
    // broadcast it into a null-safe semi-join so the base scan stays one
    // pruned pass, never a full re-summarize.
    val mergedCk = reuse(merged)
    val flagged = mergedCk.filter(col("__rescan"))
      .select(dims.map(c => col(c).as(s"__r_$c")): _*)
    if (flagged.isEmpty) return mergedCk.drop("__rescan")
    val baseAt = spark.sql(
      s"SELECT * FROM ${quoted(qualifiedName)} VERSION AS OF $toVersion")
    val rescanCond = dims.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _)
    val rescanned = summarize(
      baseAt.join(broadcast(flagged), rescanCond, "left_semi"),
      dims, sums, minmax)
    mergedCk.filter(!col("__rescan")).drop("__rescan").unionByName(rescanned)
  }

  // ------------------------------------------------------------------
  // JOIN-VIEW maintenance: V = SELECT dims, COUNT(*), SUM(m)…
  //                        FROM A JOIN B ON a.k = b.k GROUP BY dims
  // ------------------------------------------------------------------

  /** Pinned snapshot of a catalog table (empty frame with the live schema
    * for version 0 — a created-but-never-written table).
    */
  private def versioned(spark: SparkSession, name: String, v: Long): DataFrame =
    if (v == 0) spark.table(name).filter(lit(false))
    else spark.sql(s"SELECT * FROM ${quoted(name)} VERSION AS OF $v")

  private def joinCond(keysA: Seq[String], keysB: Seq[String]): Column =
    keysA.zip(keysB).map { case (a, b) => col(a) === col(b) }.reduce(_ && _)

  private def requireDisjoint(spark: SparkSession, tableA: String, tableB: String): Unit = {
    val shared = spark.table(tableA).columns.toSet
      .intersect(spark.table(tableB).columns.toSet)
    require(shared.isEmpty,
      s"join-view tables must have disjoint column names; shared: ${shared.mkString(", ")}")
  }

  /** Seed a JOIN summary at pinned versions (vA, vB) of the two base
    * tables: one inner equi-join + one aggregate. Standard SQL join
    * semantics (NULL keys never match). Column names of A and B must be
    * disjoint so dims/sums are unambiguous.
    */
  def buildJoin(spark: SparkSession, tableA: String, tableB: String,
                keysA: Seq[String], keysB: Seq[String],
                dims: Seq[String], sums: Seq[String],
                vA: Long, vB: Long): DataFrame = {
    requireDisjoint(spark, tableA, tableB)
    summarize(versioned(spark, tableA, vA)
      .join(versioned(spark, tableB, vB), joinCond(keysA, keysB)),
      dims, sums)
  }

  /** Advance a JOIN summary from (fromA, fromB) to (toA, toB) using ONLY
    * the two change feeds and one-sided joins against the PINNED old
    * snapshots — never a re-join of the full tables. The multiset delta
    * rule: with ΔA, ΔB as SIGNED row sets (insert +1, delete −1),
    *
    *   (A+ΔA)⋈(B+ΔB) − A⋈B  =  ΔA⋈B  +  A⋈ΔB  +  ΔA⋈ΔB
    *
    * where a joined pair's multiplicity is the PRODUCT of the sides'
    * signs — the ΔA⋈ΔB term is what makes a same-window delete×delete
    * (+1) correct: both one-sided terms removed that pair once each.
    * The signed pair stream then feeds the same count/sum merge as the
    * single-table path, so the equivalence contract carries over:
    * chained refreshJoin ≡ buildJoin at the final versions (pinned by
    * IncrementalViewSpec, including key multiplicity on both sides).
    *
    * Scale shape: each term is ONE equi-join whose small side is a
    * change feed (broadcastable); the old-snapshot scans are the only
    * base reads and prune to the feed's join keys under runtime
    * filtering. MIN/MAX over join views is deliberately out of scope —
    * a retraction rescan would need the full re-join; rebuild instead.
    */
  def refreshJoin(spark: SparkSession, tableA: String, tableB: String,
                  keysA: Seq[String], keysB: Seq[String],
                  dims: Seq[String], sums: Seq[String],
                  state: DataFrame,
                  fromA: Long, toA: Long, fromB: Long, toB: Long): DataFrame = {
    if (fromA == toA && fromB == toB) return state
    requireDisjoint(spark, tableA, tableB)
    val cond = joinCond(keysA, keysB)
    val out = (dims ++ sums).distinct
    val dA = toSigned(ChangeFeed.tableChanges(spark, tableA, fromA, toA))
    val dB = toSigned(ChangeFeed.tableChanges(spark, tableB, fromB, toB))
    val aOld = versioned(spark, tableA, fromA)
    val bOld = versioned(spark, tableB, fromB)
    val dAxB = dA.join(bOld, cond)
      .select(out.map(col) :+ col("__sign"): _*)
    val AxdB = aOld.join(dB, cond)
      .select(out.map(col) :+ col("__sign"): _*)
    val dAxdB = dA.withColumnRenamed("__sign", "__sa")
      .join(dB.withColumnRenamed("__sign", "__sb"), cond)
      .select(out.map(col) :+ (col("__sa") * col("__sb")).as("__sign"): _*)
    applyDelta(state, dAxB.unionByName(AxdB).unionByName(dAxdB), dims, sums)
  }

  /** MATERIALIZED form: the summary lives in a catalog table of its own,
    * so it is itself transactional, time-traveled and change-fed. The
    * INSERT OVERWRITE is one atomic manifest swap (readers see the old or
    * the new summary, never a mix), and because the summary table is a
    * catalog table, "when was this view last refreshed and what did it
    * say before" is just VERSION AS OF on it.
    *
    * Version tracking is explicit: both calls return the BASE table
    * version the stored summary now reflects; the caller passes it back
    * as `fromVersion` on the next refresh (the base's manifest is the
    * source of truth the caller reads it from — storing it inside the
    * summary would make the summary's content depend on its own history).
    */
  def materialize(spark: SparkSession, baseTable: String, viewTable: String,
                  dims: Seq[String], sums: Seq[String],
                  minmax: Seq[String] = Seq.empty): Long = {
    val v = currentVersion(spark, baseTable)
    // summarize the PINNED snapshot v, not the live table: a commit
    // landing between the version read and the scan would otherwise be
    // baked into the summary yet replayed by the next refresh (double
    // counting). v == 0 ⇒ never-written table ⇒ the seed is EMPTY by
    // definition (filter(false) reads schema only — a concurrent first
    // commit must NOT leak in, the 0→v1 refresh will replay it).
    val snapshot =
      if (v == 0) spark.table(baseTable).filter(lit(false))
      else spark.sql(s"SELECT * FROM ${quoted(baseTable)} VERSION AS OF $v")
    overwrite(spark, viewTable, summarize(snapshot, dims, sums, minmax))
    v
  }

  /** Backtick-quote a dotted identifier — table names are caller data. */
  private def quoted(qualifiedName: String): String =
    qualifiedName.split('.').map(p => s"`${p.replace("`", "``")}`").mkString(".")

  /** Advance the stored summary from `fromVersion` to the base's current
    * version using only the change feed; returns the new reflected
    * version. No-op (and no commit) when the base hasn't moved.
    */
  def refreshMaterialized(spark: SparkSession, baseTable: String, viewTable: String,
                          dims: Seq[String], sums: Seq[String],
                          fromVersion: Long,
                          minmax: Seq[String] = Seq.empty): Long = {
    val v = currentVersion(spark, baseTable)
    if (v == fromVersion) return v
    val next = refresh(spark, baseTable, dims, sums,
                       spark.table(viewTable), fromVersion, v, minmax)
    overwrite(spark, viewTable, next)
    v
  }

  /** STREAMING materialized view: attach a CDC stage stream to a base
    * catalog table and keep a stored GROUP BY summary current with it.
    * Each micro-batch is (1) ONE MERGE INTO commit on the base (the
    * [[graft.ops.Streaming.applyCdcStreamCatalog]] batch body — a
    * numbered, time-travelable snapshot) followed by (2) ONE summary
    * refresh driven by that commit's change feed alone. The view table
    * therefore trails the base by at most one atomic swap, and neither
    * step ever rescans the base.
    *
    * Recovery contract: the refresh cursor lives in this query's driver
    * closure, not in the checkpoint — on restart `streamingMaterialize`
    * re-seeds with a full [[materialize]] at the base's current version
    * (idempotent: seeding IS the summary at that version) and resumes
    * incrementally from there. At 100 TB prefer restart-seeding off-peak;
    * the steady-state cost is change-feed-sized either way.
    */
  def streamingMaterialize(stage: DataFrame, baseTable: String, viewTable: String,
                           pk: Seq[String], seqCol: String,
                           dims: Seq[String], sums: Seq[String],
                           checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    var at = materialize(stage.sparkSession, baseTable, viewTable, dims, sums)
    graft.ops.Streaming.foreachBatchQuery(stage, checkpoint) { (batch, batchId) =>
      // empty recovery/idle batches commit nothing and refresh nothing
      if (!batch.isEmpty) {
        graft.ops.Streaming.applyCdcBatch(batch, batchId, baseTable, pk, seqCol)
        at = refreshMaterialized(batch.sparkSession, baseTable, viewTable,
                                 dims, sums, at)
      }
    }
  }

  private def currentVersion(spark: SparkSession, qualifiedName: String): Long = {
    val parts = qualifiedName.split('.')
    val cat = spark.sessionState.catalogManager.catalog(parts.head)
      .asInstanceOf[GraftCatalog]
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(parts.tail.dropRight(1), parts.last)).asInstanceOf[GraftTable]
    // version() is 0 for a created-but-never-written table (no manifest)
    GroupFiles.version(java.nio.file.Paths.get(t.location))
  }

  private def overwrite(spark: SparkSession, viewTable: String, df: DataFrame): Unit = {
    // align BY NAME with the target's column order: INSERT OVERWRITE is
    // positional, and a caller-created view table with reordered columns
    // of matching types would otherwise silently swap values
    val target = spark.table(viewTable).columns
    require(target.sorted.sameElements(df.columns.sorted),
      s"view table $viewTable columns ${target.mkString(",")} do not match " +
      s"summary columns ${df.columns.mkString(",")}")
    // materialize BEFORE the overwrite: the new summary reads the view
    // table it is about to replace
    val rows = snapshot(df.select(target.map(col).toIndexedSeq: _*))
    val tmp = s"__ivm_stage_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    rows.createOrReplaceTempView(tmp)
    try spark.sql(s"INSERT OVERWRITE $viewTable SELECT * FROM $tmp")
    finally spark.catalog.dropTempView(tmp)
  }
}
