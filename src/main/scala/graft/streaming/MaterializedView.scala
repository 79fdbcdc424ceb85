package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataTypes, DecimalType, LongType}
import org.apache.spark.storage.StorageLevel

import graft.catalog.GraftDatabase

/** An incrementally-maintained aggregate view (`SELECT keyCols,
  * COUNT(*), SUM(m)..., MIN(m)/MAX(m)... GROUP BY keyCols`) over one
  * lakehouse table, driven by the `graft-changes` feed — the view is
  * itself a lakehouse TABLE (queryable, feedable, OPTIMIZE-able), and
  * per-batch maintenance cost is proportional to the CHANGE VOLUME,
  * never the base table or view size. The reference re-runs such
  * aggregates per query (`TableCollection.cs` aggregate executors);
  * at 100 TB the recompute is the cost that matters, so the view is
  * maintained from deltas instead.
  *
  * Maintenance per micro-batch (the feed arrives as insert/delete rows;
  * updates are delete+insert pairs):
  *
  *   - COUNT/SUM (and AVG = sum/count at read) fold PURELY from the
  *     batch: each row contributes +1/-1 signed weight, sums accumulate
  *     in exact DECIMAL(28,8) so maintenance order can never drift a
  *     bit vs the batch recompute. The base table is NEVER read.
  *   - MIN/MAX split two ways per group: a group the batch only
  *     INSERTS into folds exactly (`least`/`greatest` of the stored
  *     extreme and the batch's), so insert-only batches never read the
  *     base at all; a deleted minimum's successor is unknowable from
  *     the delta, so only the batch's DELETE-AFFECTED groups — bounded
  *     by the feed's admission caps — recompute from the base table AT
  *     THE BATCH'S END VERSION (`tableAt(source,
  *     max(_commit_version))`): a map-side semi-probe of the base (the
  *     bounded key set broadcasts; plan-gated), then a group-by over
  *     only the matched slice. Cost ∝ delete-affected groups' rows,
  *     never the table.
  *
  * SNAPSHOT CONSISTENCY: because the feed delivers versions
  * contiguously and min/max recompute pins to the batch's own end
  * version, the view after batch k EQUALS the full group-by of
  * `tableAt(source, v_k)` — not an eventually-consistent approximation
  * (MaterializedViewSpec pins this per batch).
  *
  * EXACTLY-ONCE: the whole merge (upserts + zero-count group deletes +
  * the (appId, batchId) marker + the last-folded-source-version mark)
  * is ONE atomic commit ([[GraftDatabase.mergeBatch]]), so an engine
  * replay is skipped outright. Deltas are NOT idempotent under
  * re-application, so the appId is scoped to a checkpoint lineage
  * exactly like [[StreamingDedup]] — a FRESH checkpoint restarts batch
  * numbering and must either rebuild the view or RESUME: restart the
  * feed with `startingVersion = lastFoldedVersion(viewDb, mv)` under a
  * NEW appId (the mark is committed atomically with every merge, so it
  * can never disagree with the view's state).
  *
  * The feed must run with `withCommitVersion=true` (per-version arms)
  * when min/max columns are declared — and for resumability generally
  * (a version-less feed records no fold mark; such views are only
  * rebuildable). Pure count/sum views otherwise accept any feed shape.
  */
final case class MvDef(
    source: String,
    view: String,
    keyCols: Seq[String],
    sumCols: Seq[String] = Nil,
    minMaxCols: Seq[String] = Nil,
    prepare: DataFrame => DataFrame = identity) {
  require(keyCols.nonEmpty, "MvDef: at least one key column")
  require((sumCols ++ minMaxCols).nonEmpty,
    "MvDef: at least one measure (sumCols or minMaxCols)")
}

object MaterializedView {

  /** The view table's synthetic single-column PK: the group-key tuple
    * with each component LENGTH-PREFIX encoded (see [[keyExpr]]) —
    * distinct tuples can never merge, regardless of what characters
    * (separators included) or nulls the values contain; concat_ws's
    * null-skipping never fires because the encoding is null-free.
    */
  val KeyCol = "_mv_key"
  private val KeySep = "\u0001"
  val CountCol = "mv_count"
  def sumCol(c: String): String = s"mv_sum_$c"
  def minColName(c: String): String = s"mv_min_$c"
  def maxColName(c: String): String = s"mv_max_$c"

  /** Exact accumulation type for maintained sums: repeated delta folds
    * in DECIMAL are associative, so the maintained sum is bit-identical
    * to the batch recompute (the catalog's double-summation convention,
    * applied to state).
    */
  val SumType: DecimalType = DataTypes.createDecimalType(28, 8)

  def keyExpr(keyCols: Seq[String]): Column =
    concat_ws(KeySep,
      keyCols.map { c =>
        // LENGTH-PREFIXED component encoding ("<len>:<value>", nulls as
        // the prefix-free "N"): unlike bare separator-joining, this is
        // collision-free even when a value CONTAINS the separator —
        // ("xy","z") vs ("x","yz") encode differently
        // because the embedded lengths differ
        val s = col(c).cast("string")
        when(s.isNull, lit("N"))
          .otherwise(concat(length(s).cast("string"), lit(":"), s))
      }: _*)

  /** Declare the view's backing table (PK = the synthetic key). */
  def define(viewDb: GraftDatabase, mv: MvDef): GraftDatabase =
    viewDb.defineTable(graft.dml.ConstrainedDml.TableDef(mv.view, KeyCol))

  /** Fold one micro-batch of feed rows into the view. Returns the
    * number of commit-race retries (0 uncontended) — OPTIMIZE/vacuum
    * may churn the view table concurrently; a lost race re-probes the
    * fresh state (sound: the ledger skips true replays, and compaction
    * never changes row content).
    */
  def applyBatch(srcDb: GraftDatabase, viewDb: GraftDatabase, mv: MvDef,
      batch: DataFrame, appId: String, batchId: Long): Int = {
    if (viewDb.batchApplied(appId, batchId)) return 0
    if (mv.minMaxCols.nonEmpty)
      require(batch.columns.contains("_commit_version"),
        s"MaterializedView(${mv.view}): min/max maintenance needs the " +
          "batch's end version — run the feed with withCommitVersion=true")
    // signed weight: insert +1, delete -1; anything else is feed
    // incoherence and fails the batch loudly, in-plan
    val w = when(col("_change_type") === "insert", lit(1))
      .when(col("_change_type") === "delete", lit(-1))
      .otherwise(raise_error(concat(
        lit(s"MaterializedView(${mv.view}): unexpected _change_type "),
        col("_change_type"))))
    // track the batch's end version whenever the feed provides it —
    // min/max recompute needs it, and it becomes the view's durable
    // last-folded mark (resumability after a lost checkpoint)
    val hasVersion = batch.columns.contains("_commit_version")
    val aggs =
      (sum(col("_w")).cast(LongType).as("d_count") +:
        mv.sumCols.map(c =>
          sum((col(c).cast(SumType) * col("_w")).cast(SumType))
            .cast(SumType).as(s"d_sum_$c"))) ++
        // min/max fold INCREMENTALLY for groups the batch only inserts
        // into (least/greatest against the stored value is exact);
        // only groups with a delete need the base-table recompute —
        // d_has_del marks them, d_min/d_max aggregate the INSERTED
        // rows only (deletes contribute null, which min/max skip)
        (if (mv.minMaxCols.nonEmpty)
          max(when(col("_change_type") === "delete", lit(1))
            .otherwise(lit(0))).as("d_has_del") +:
            mv.minMaxCols.flatMap(c => Seq(
              min(when(col("_change_type") === "insert", col(c)))
                .as(s"d_min_$c"),
              max(when(col("_change_type") === "insert", col(c)))
                .as(s"d_max_$c")))
        else Nil) ++
        (if (hasVersion)
          Seq(max(col("_commit_version")).as("d_vmax")) else Nil)
    val delta = batch
      .withColumn("_w", w)
      .withColumn(KeyCol, keyExpr(mv.keyCols))
      .groupBy(col(KeyCol))
      .agg(mv.keyCols.map(c => first(col(c)).as(c)).head,
        (mv.keyCols.drop(1).map(c => first(col(c)).as(c)) ++ aggs): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE job over the persisted delta answers every batch-level
      // fact: emptiness, the end version (fold mark / recompute pin),
      // and whether ANY group saw a delete (insert-only batches never
      // read the base, even with min/max columns — the fold path is
      // exact for them)
      val metaAggs = count(lit(1)).as("n") +:
        ((if (hasVersion) Seq(max(col("d_vmax")).as("vmax")) else Nil) ++
          (if (mv.minMaxCols.nonEmpty)
            Seq(max(col("d_has_del")).as("anydel")) else Nil))
      val meta = graft.core.JobLabel(delta.sparkSession,
        s"mv delta fold ${mv.view}") {
        delta.agg(metaAggs.head, metaAggs.drop(1): _*).head
      }
      if (meta.getLong(0) == 0L) return 0
      val vMax: Option[Long] =
        if (hasVersion) Some(meta.getLong(meta.fieldIndex("vmax"))) else None
      val anyDeletes: Boolean = mv.minMaxCols.nonEmpty &&
        meta.getInt(meta.fieldIndex("anydel")) > 0
      var retries = 0
      var done = false
      while (!done) {
        try {
          applyOnce(srcDb, viewDb, mv, delta, vMax, anyDeletes,
            appId, batchId)
          done = true
        } catch {
          case e: graft.catalog.TxLog.ConflictException =>
            retries += 1
            if (retries > MaxConflictRetries) throw new IllegalStateException(
              s"MaterializedView(${mv.view}): batch $batchId lost " +
                s"$retries consecutive commit races — maintenance is " +
                "churning the view faster than batches land", e)
            Thread.sleep(25L + scala.util.Random.nextInt(50))
        }
      }
      retries
    } finally { delta.unpersist(); () }
  }

  /** One attempt against the CURRENT view snapshot. */
  private def applyOnce(srcDb: GraftDatabase, viewDb: GraftDatabase,
      mv: MvDef, delta: DataFrame, vMaxOpt: Option[Long],
      anyDeletes: Boolean, appId: String, batchId: Long): Unit = {
    def mmType(c: String) = delta.schema(s"d_min_$c").dataType
    // the stored min/max participate in the insert-only FOLD path, so
    // the probe carries them (aliased o_*: the recompute arm joins in
    // its own candidates under r_*); the probe ALSO carries each old
    // row's backing file (`_mv_old_file`) — the view PK is unique, so
    // the distinct files of the probed rows ARE the merge's hit files,
    // and mergeBatch skips its own whole-table hit probe (one view
    // pass per batch instead of two).
    val FileCol = "_mv_old_file"
    val sel = (df: DataFrame) => df.select(
      (Seq(col(KeyCol), col(CountCol)) ++ mv.sumCols.map(c => col(sumCol(c))) ++
        mv.minMaxCols.flatMap(c => Seq(
          col(minColName(c)).as(s"o_min_$c"),
          col(maxColName(c)).as(s"o_max_$c"))) :+ col(FileCol)): _*)
    // the view rows of the AFFECTED keys only: bounded key set
    // broadcasts into a map-side semi-probe of the view (plan-gated) —
    // the view never reshuffles. `old` ⊆ delta keys, so a LEFT join
    // from delta sees every old row.
    // the probe's version rides with its hit files into the merge, which
    // then reads and commits at that version (a commit since conflicts)
    val (old: DataFrame, probedAt: Option[Long]) =
      if (viewDb.tableExists(mv.view)) {
        val (marked, v) = viewDb.tableMarked(mv.view, FileCol)
        val o = sel(marked)
          .join(broadcast(delta.select(KeyCol)), Seq(KeyCol), "left_semi")
        graft.plans.PlanGates.assertBroadcastProbe(o,
          s"MaterializedView(${mv.view}) state probe")
        (o, Some(v))
      } else {
        // bootstrap: no view yet — a typed EMPTY state frame so the
        // merge arithmetic below is uniform
        var e = delta.select(col(KeyCol)).limit(0)
          .withColumn(CountCol, lit(null).cast(LongType))
        mv.sumCols.foreach(c =>
          e = e.withColumn(sumCol(c), lit(null).cast(SumType)))
        mv.minMaxCols.foreach { c =>
          e = e.withColumn(s"o_min_$c", lit(null).cast(mmType(c)))
            .withColumn(s"o_max_$c", lit(null).cast(mmType(c)))
        }
        (e.withColumn(FileCol, lit(null).cast(DataTypes.StringType)), None)
      }
    var m = delta.join(old, Seq(KeyCol), "left_outer")
      .withColumn(CountCol,
        coalesce(col(CountCol), lit(0L)) + col("d_count"))
    mv.sumCols.foreach { c =>
      // BOTH sides need the null guard: d_sum is NULL when every one of
      // the group's batch rows carries a NULL measure (SQL sum skips
      // nulls) — adding it unguarded would null out the stored sum,
      // where the recompute (which also skips nulls) keeps it
      m = m.withColumn(sumCol(c),
        (coalesce(col(sumCol(c)), lit(0).cast(SumType)) +
          coalesce(col(s"d_sum_$c"), lit(0).cast(SumType)))
          .cast(SumType))
    }
    // a negative count is feed incoherence (a delete for a row the view
    // never counted) — fail in-plan, zero extra jobs
    m = m.withColumn(CountCol,
      when(col(CountCol) >= 0, col(CountCol)).otherwise(raise_error(concat(
        lit(s"MaterializedView(${mv.view}): group count went negative " +
          "(delete without a matching insert) at key "), col(KeyCol)))))
    if (mv.minMaxCols.nonEmpty) {
      // SPLIT PATH: groups the batch only INSERTS into fold exactly
      // (least/greatest of the stored value and the batch's inserted
      // extremes — Spark's least/greatest skip nulls, covering the
      // new-group and no-old cases); only groups that saw a DELETE
      // recompute from the base AT THE BATCH'S END VERSION — bounded
      // delete-affected keys broadcast into a map-side probe of the
      // pinned snapshot, group-by over the matched slice only. An
      // insert-only batch therefore never reads the base at all.
      if (anyDeletes) {
        val vMax = vMaxOpt.get
        // `prepare` re-derives any computed key/measure columns the
        // STREAM projection added (e.g. day = to_date(ts)) — it must
        // match that projection exactly, or the recomputed groups won't
        // line up with the folded ones (the per-batch equality the spec
        // pins would catch the drift)
        val baseAt = mv.prepare(srcDb.tableAt(mv.source, vMax).getOrElse(
          throw new IllegalStateException(
            s"MaterializedView(${mv.view}): source '${mv.source}' has no " +
              s"state at version $vMax")))
        val delKeys = delta.filter(col("d_has_del") === 1).select(KeyCol)
        val rec = baseAt
          .withColumn(KeyCol, keyExpr(mv.keyCols))
          .join(broadcast(delKeys), Seq(KeyCol), "left_semi")
          .groupBy(col(KeyCol))
          .agg(min(col(mv.minMaxCols.head)).as(s"r_min_${mv.minMaxCols.head}"),
            mv.minMaxCols.flatMap(c => Seq(
              min(col(c)).as(s"r_min_$c"), max(col(c)).as(s"r_max_$c")))
              .drop(1): _*)
        graft.plans.PlanGates.assertBroadcastProbe(rec,
          s"MaterializedView(${mv.view}) min/max recompute probe")
        m = m.join(rec, Seq(KeyCol), "left_outer")
      }
      mv.minMaxCols.foreach { c =>
        val foldMin = least(col(s"o_min_$c"), col(s"d_min_$c"))
        val foldMax = greatest(col(s"o_max_$c"), col(s"d_max_$c"))
        m = m
          .withColumn(minColName(c),
            if (anyDeletes)
              when(col("d_has_del") === 1, col(s"r_min_$c"))
                .otherwise(foldMin)
            else foldMin)
          .withColumn(maxColName(c),
            if (anyDeletes)
              when(col("d_has_del") === 1, col(s"r_max_$c"))
                .otherwise(foldMax)
            else foldMax)
      }
    }
    val outCols = ((KeyCol +: mv.keyCols) ++ (CountCol +:
      mv.sumCols.map(sumCol)) ++
      mv.minMaxCols.flatMap(c => Seq(minColName(c), maxColName(c)))) :+
      FileCol
    val out = m.select(outCols.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the hit files fall out of the persisted probe result (new
      // groups carry a null file) — a bounded-output job over `out`,
      // never another view scan
      val hitFiles = graft.core.JobLabel(out.sparkSession,
        s"mv hit files ${mv.view}") {
        out.select(col(FileCol)).filter(col(FileCol).isNotNull)
          .distinct().collect().map(_.getString(0))
      }
      val upserts = out.filter(col(CountCol) > 0).drop(FileCol)
      val deleteKeys = out.filter(col(CountCol) === 0).select(KeyCol)
      // the last-folded-source-version mark rides the SAME commit
      // (monotonic max in the ledger): after any batch, a lost
      // checkpoint resumes with startingVersion = lastFoldedVersion.
      // replacementsDistinctByPk: `out` descends from the delta's
      // groupBy(KeyCol) left-joined at most once per key against the
      // view — one row per KeyCol by construction, and keyExpr never
      // yields null — so the view merge skips the per-batch
      // validation pass (the view table has no uniques/FKs)
      viewDb.mergeBatch(mv.view, upserts, deleteKeys, appId, batchId,
        alsoRecord = vMaxOpt.map(versionLedgerKey(mv.view) -> _).toSeq,
        replacementsDistinctByPk = true,
        knownHitFiles =
          probedAt.map(GraftDatabase.KnownHits(_, hitFiles.toSeq)))
      ()
    } finally { out.unpersist(); () }
  }

  /** The synthetic ledger appId holding the view's last folded source
    * version.
    */
  def versionLedgerKey(view: String): String = s"_mv_src_version:$view"

  /** The source version the view last folded — the `startingVersion` a
    * NEW checkpoint lineage resumes from after the old checkpoint is
    * lost (give the resumed stream a NEW appId; the mark is recorded
    * atomically with every merge, so it can never run ahead of or
    * behind the view's actual state). None until a versioned batch
    * folds (run the feed with `withCommitVersion=true` — version-less
    * feeds are not resumable, only rebuildable).
    */
  def lastFoldedVersion(viewDb: GraftDatabase, mv: MvDef): Option[Long] =
    viewDb.appliedBatch(versionLedgerKey(mv.view))

  /** POLL-based refresh — the [[graft.streaming.ChangeFeedReplicator]]
    * analog for views: fold everything the source committed since the
    * view's last folded version, WITHOUT a streaming query (no trigger
    * machinery, no checkpoint directory — the durable cursor IS the
    * fold mark, committed atomically with each merge). Bounded like the
    * feed's admission control: at most `maxVersionsPerFold` versions
    * per merge commit, looping until caught up to the head observed at
    * entry. The poll consumer's ledger identity is derived internally
    * and its batch ids are END VERSIONS, so repeated or racing
    * refreshOnce calls are idempotent (replays skip via the ledger).
    * A view has ONE maintenance mode at a time: a live stream folding
    * the same view concurrently is the double-fold configuration, and
    * the refresh detects the mark moving under it and fails loudly.
    * SWITCHING modes is safe at a quiesce point in either direction —
    * the fold mark is the shared cursor (stop the stream, then poll;
    * or stop polling and start a stream at
    * `startingVersion = lastFoldedVersion` under a fresh stream appId).
    * `mv.prepare` re-derives computed columns on each diff, exactly as
    * the stream projection would (it must therefore be applicable to
    * both the base table and the diff frames — it only ADDS columns).
    * Returns the number of source versions EXAMINED (a trailing run of
    * versions that touched only other tables folds an empty delta,
    * which commits nothing — the mark then rests below the head and
    * those versions are re-examined next call; correct, at the cost of
    * re-walking that gap until the source table itself changes).
    *
    * Scheduled refresh = one [[ContinuousQueryService]] entry calling
    * this; the cost model is the stream's without the per-trigger
    * engine overhead.
    */
  def refreshOnce(srcDb: GraftDatabase, viewDb: GraftDatabase, mv: MvDef,
      maxVersionsPerFold: Int = 64): Long = {
    require(maxVersionsPerFold > 0, "maxVersionsPerFold must be positive")
    // the poll consumer's identity is DERIVED, not caller-chosen: a
    // user-supplied appId aliasing a stream's would make the stream's
    // small sequence batchIds collide with the poller's end-version
    // batchIds in one ledger namespace and silently skip stream batches
    val appId = s"_mv_poll:${mv.view}"
    val from = lastFoldedVersion(viewDb, mv).getOrElse(0L)
    val head = srcDb.settledLogVersion
    if (head <= from) return 0L
    var v = from
    while (v < head) {
      // a concurrently-running OTHER consumer (a live stream) advancing
      // the fold mark under this poll is the double-fold configuration —
      // detect it loudly instead of folding the same versions twice
      val cur = lastFoldedVersion(viewDb, mv).getOrElse(0L)
      if (cur > v) throw new IllegalStateException(
        s"MaterializedView(${mv.view}): the fold mark advanced to $cur " +
          s"while this refresh was at $v — another consumer (a live " +
          "stream?) is maintaining the view concurrently; a view has " +
          "ONE maintenance mode at a time")
      val to = math.min(head, v + maxVersionsPerFold)
      applyBatch(srcDb, viewDb, mv,
        mv.prepare(srcDb.changesPerVersion(mv.source, v, to)),
        appId, batchId = to)
      v = to
    }
    head - from
  }

  /** The view as a user-facing frame: key columns, `mv_count`, each
    * maintained sum cast to DOUBLE as `sum_<c>` with `avg_<c>`
    * derived, and the min/max columns.
    */
  def read(viewDb: GraftDatabase, mv: MvDef): DataFrame = {
    val v = viewDb.table(mv.view)
    val cols = mv.keyCols.map(col) ++ Seq(col(CountCol)) ++
      mv.sumCols.flatMap(c => Seq(
        col(sumCol(c)).cast("double").as(s"sum_$c"),
        // IEEE double division (not decimal division, whose result
        // scale/rounding rules differ between engines)
        (col(sumCol(c)).cast("double") / col(CountCol))
          .as(s"avg_$c"))) ++
      mv.minMaxCols.flatMap(c =>
        Seq(col(minColName(c)), col(maxColName(c))))
    v.select(cols: _*)
  }

  /** Bound on consecutive lost commit races before failing loudly. */
  val MaxConflictRetries: Int = 50
}
