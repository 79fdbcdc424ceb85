package graft.catalog

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dml.ConstrainedDml
import graft.dml.ConstrainedDml.TableDef
import graft.ts.TimeSeriesOps

/** Database facade mirroring the reference's `IotDatabase`
  * (`Iot.Database/IotDatabase.cs:25-161`): a named directory tree with
  * `Tables/`, `TimeSeries/`, `Files/` sub-stores; typed table accessors;
  * constraint-checked writes.
  *
  * The `Tables/` store is backed by [[TxLog]] — a multi-table ACID
  * commit log over immutable parquet files (the lakehouse analog of the
  * reference's WAL + snapshot isolation, `WalIndexService.cs:143-291`):
  * every DML/DDL action is one atomic log commit, a cascade delete
  * commits ALL affected tables in one version, concurrent readers keep
  * valid plans over the immutable files they resolved, and stale
  * writers fail with a conflict instead of silently losing updates.
  * The append-only time-series store stays date-partitioned parquet
  * (appends commute; no log needed).
  */
final class GraftDatabase private (
    val spark: SparkSession, val name: String, val root: String,
    val collation: graft.core.Collation,
    password: Option[String] = None,
    commitPrimitive: CommitPrimitive = CommitPrimitive.posix) {

  private val tablesDir = s"$root/Tables"
  private val tsDir = s"$root/TimeSeries"
  private val filesDir = s"$root/Files"
  private val blocksDir = s"$root/Blockchain"
  // complete any store-directory exchange a crashed REBUILD left behind
  // — BEFORE createDirectories, which would otherwise materialize an
  // empty live dir and make recovery drop the retired copy
  (Seq(tsDir, s"$blocksDir/data") ++
    Seq("versions", "events", "files").map(s => s"$filesDir/$s"))
    .foreach(d => graft.core.FsUtils.recoverSwap(Paths.get(d)))
  Seq(tablesDir, tsDir, filesDir)
    .foreach(d => Files.createDirectories(Paths.get(d)))

  // transparent file-at-rest encryption (AesStream.cs analog): with a
  // password, every parquet read/write across the Tables/TimeSeries/
  // Files stores carries the PME options — see core.FileCrypto. The
  // per-database random salt persists beside the stores, like the
  // reference's in-file salt (AesStream.cs:57-79)
  private val ioOptions: Map[String, String] =
    password.map(p => graft.core.FileCrypto.options(
      p, GraftDatabase.ensureCryptoSalt(root))).getOrElse(Map.empty)

  private val txlog = new TxLog(spark, root, ioOptions, commitPrimitive)

  // dedicated daemon pool for the overlapped staging writes (validate
  // || stage, collect || stage): tasks BLOCK on Spark jobs for seconds,
  // which must not starve the JVM-wide ForkJoin common pool
  private val stagingPool = java.util.concurrent.Executors
    .newCachedThreadPool(r => {
      val t = new Thread(r, "graft-staging"); t.setDaemon(true); t
    })

  // the LiteDB-auto-optimizer analog (QueryOptimization.cs:168-294
  // picks an index per AND-term with no user hint): install the
  // session-wide rule that prunes file lists from log-held stats for
  // ANY filter over this database's tables — db.sql / table().filter /
  // find all skip files with no explicit seek() call
  StatsPruneRule.install(spark)

  // Upgrade path: a root written by the pre-commit-log layout holds
  // tables as Tables/<t>/part-*.parquet with no log. Import them on
  // first open — one commit referencing the files IN PLACE (no data
  // movement) — so an existing database never opens silently empty.
  if (txlog.version == 0L) {
    val legacy = Option(new java.io.File(tablesDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      // `*_tmp_swap` is crash junk from the pre-log two-phase rewrite
      // (temp write landed, swap didn't) — the old layout's `tables`
      // listing filtered it, and importing it would commit a phantom
      // table carrying a stale duplicate copy of the real one's rows
      .filter(d => d.isDirectory && !d.getName.startsWith(".") &&
        !d.getName.endsWith("_tmp_swap"))
      .flatMap { d =>
        val parts = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
            !f.getName.startsWith(".") && !f.getName.startsWith("_"))
          .map(f => s"Tables/${d.getName}/${f.getName}").sorted.toSeq
        if (parts.nonEmpty)
          Some(TxLog.Put(d.getName.toLowerCase, parts): TxLog.Action)
        else None
      }
    if (legacy.nonEmpty) txlog.commit(legacy.toSeq)
  }

  private var defs: Map[String, TableDef] = Map.empty

  /** Declare a table with its constraints (the reference declares via
    * attributes on the CLR type; here via TableDef).
    */
  // Table names are case-insensitive like the reference's collection
  // names; both query engines key their FK registries lowercase, so the
  // facade normalizes once at the boundary.
  private def norm(name: String): String = name.toLowerCase

  /** Register a table definition on THIS handle. Registration is lazy
    * and unvalidated: attaching constraints to a table that already
    * holds committed data does NOT check the pre-state (per-statement
    * enforcement assumes a valid pre-state and probes only what each
    * write touches — the scalable direction). After a late declaration
    * over existing data, call [[validateConstraints]] — the explicit
    * twin of SQL's `VALIDATE CONSTRAINT`.
    */
  def defineTable(tdef: TableDef): GraftDatabase = {
    val n = tdef.copy(name = norm(tdef.name),
      fks = tdef.fks.map(fk => fk.copy(parentTable = norm(fk.parentTable))))
    defs += n.name -> n
    invalidateSqlEngine() // a memoized engine's FK registry is now stale
    this
  }

  /** Validate the CURRENT committed state of `name` against its declared
    * constraints (PK uniqueness, unique columns, FK existence, 1:1
    * fan-out) — one full-state scan, for constraints declared AFTER data
    * existed. Empty = clean. Per-statement write enforcement never runs
    * this whole-set shape; it stays proportional to the statement.
    */
  def validateConstraints(name: String): Seq[ConstrainedDml.Violation] = {
    val tdef = tableDef(name)
    val snap = txlog.snapshot()
    val state = readPinned(snap, tdef.name).getOrElse(return Nil)
    // a late-declared FK's parent may hold no committed data yet: that
    // is an EMPTY parent (every non-null child value is fk_missing; an
    // all-null child column is vacuously clean), not a crash — the
    // schema-compatible empty frame comes from the child itself
    val parents = tdef.fks.map { fk =>
      fk.parentTable -> readPinned(snap, fk.parentTable).getOrElse(
        state.select(col(fk.childCol).as(fk.parentCol)).limit(0))
    }.toMap
    ConstrainedDml.validateUpdate(spark, tdef, state, state, parents)
  }

  def tableDef(name: String): TableDef =
    defs.getOrElse(norm(name), TableDef(norm(name), "id"))

  def tablePath(name: String): String = s"$tablesDir/${norm(name)}"

  /** A table exists once a commit bound files to it (the reference's
    * lazy collection creation: first insert materializes).
    */
  def tableExists(name: String): Boolean =
    txlog.snapshot().tables.contains(norm(name))

  /** Read a table at the current committed snapshot. The returned
    * frame's plan is bound to IMMUTABLE files, so it stays valid (and
    * keeps answering with its snapshot's data) across later commits —
    * reader/writer isolation without blocking.
    */
  def table(name: String): DataFrame = tableIn(txlog.snapshot(), norm(name))

  /** [[table]] with each row's backing data file materialized as
    * `fileCol`, and the log version the frame reads — the seam for
    * bounded-probe writers ([[graft.streaming.MaterializedView]]) that
    * already read exactly a batch's affected rows: carrying the file
    * identity through that probe lets them hand [[mergeBatch]] its hit
    * files (`knownHitFiles`, with this version) instead of paying a
    * second whole-table probe per batch.
    */
  def tableMarked(name: String, fileCol: String): (DataFrame, Long) = {
    val snap = txlog.snapshot()
    val n = norm(name)
    if (!snap.tables.contains(n)) throw noTable(n)
    (txlog.readMarked(snap, n, fileCol), snap.version)
  }

  /** The table's live data files at the current snapshot (diagnostics,
    * manifest queries, layout inspection).
    */
  def liveFiles(name: String): Seq[String] =
    txlog.snapshot().tables.getOrElse(norm(name), Vector.empty)
      .map(r => s"$root/$r")

  /** Current committed snapshot (diagnostics/tests: deletion-vector and
    * stats bindings are otherwise invisible from the facade).
    */
  def txlogSnapshotForTest: TxLog.Snapshot = txlog.snapshot()

  /** Highest batch id writer `appId` has applied to THIS database (the
    * Txn idempotence ledger) — a streaming consumer's persisted cursor:
    * it advances atomically with each applied batch's commit and
    * survives restarts with no side files.
    */
  def appliedBatch(appId: String): Option[Long] =
    txlog.snapshot().txns.get(appId)

  /** Latest committed log version (every DML/DDL action is exactly one
    * commit; a cascade across N tables is still one).
    */
  def logVersion: Long = txlog.version

  /** Latest SETTLED version — the newest commit whose content is
    * readable (excludes a zero-byte in-flight publish slot). The
    * change-feed source's offset.
    */
  def settledLogVersion: Long = txlog.snapshot().version

  /** A session scoped for STREAMING queries over this database's feed:
    * `spark.newSession()` (separate conf, shared catalog/executors)
    * with `spark.sql.shuffle.partitions` — which fixes the number of
    * STATE-STORE partitions at the stream's first checkpoint, forever —
    * sized to the state, not to the batch-query shuffle width.
    *
    * Why this exists (measured, SCALE.md round 12): a stateful stream
    * inheriting the catalog session's width (32 here, 200 by Spark
    * default) spreads a few hundred window/join keys over that many
    * near-empty state stores, and every micro-batch pays per-store
    * snapshot/commit I/O — ~2× the whole drain time at bench scale.
    * Size to the expected DISTINCT STATE KEYS (window × group
    * cardinality), not the row rate: 8 covers hundreds of keys; scale
    * up only past ~10k live keys per partition. Batch queries on this
    * session would shuffle at the same width — run them on the parent.
    */
  def scopedStreamSession(statePartitions: Int = 8): SparkSession = {
    require(statePartitions > 0,
      s"statePartitions must be positive, got $statePartitions")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    ss
  }

  /** [[TxLog.advanceByFileBudget]] — the change-feed source's
    * files-weighted admission control.
    */
  def advanceByFileBudget(from: Long, hi: Long, budget: Long): Long =
    txlog.advanceByFileBudget(from, hi, budget)

  /** [[TxLog.advanceByByteBudget]] — the change-feed source's
    * bytes-weighted admission control.
    */
  def advanceByByteBudget(from: Long, hi: Long, budget: Long): Long =
    txlog.advanceByByteBudget(from, hi, budget)

  /** [[TxLog.advanceByBudgets]] — both caps in one log walk. */
  def advanceByBudgets(from: Long, hi: Long, fileBudget: Option[Long],
      byteBudget: Option[Long]): Long =
    txlog.advanceByBudgets(from, hi, fileBudget, byteBudget)

  /** [[TxLog.exchangedBytesBetween]] — the change-feed source's
    * uncapped-batch size estimate.
    */
  def exchangedBytesBetween(from: Long, to: Long): Long =
    txlog.exchangedBytesBetween(from, to)

  /** Time travel: read a table as of a committed log version (bounded
    * by vacuum retention — retired versions' files are reclaimed).
    * None when the table did not exist at that version.
    */
  def tableAt(name: String, version: Long): Option[DataFrame] =
    txlog.readAt(version, norm(name))

  /** Time travel by WALL CLOCK: the table as of the latest commit at
    * or before `ts` (commit stamps ride every version file; writer
    * clock skew is monotonized at resolution — see
    * [[TxLog.versionAtTime]]). Refuses below the vacuum retention
    * horizon or before the first commit, like [[restore]].
    */
  def tableAsOf(name: String, ts: java.time.Instant): Option[DataFrame] =
    tableAt(name, txlog.versionAtTime(ts.toEpochMilli))

  def tableAsOf(name: String, ts: java.sql.Timestamp): Option[DataFrame] =
    tableAsOf(name, ts.toInstant)

  /** The wall-clock stamp version `v` committed at (None when its log
    * file was vacuumed or predates commit stamps).
    */
  def commitTimeOf(v: Long): Option[java.time.Instant] =
    txlog.commitTimeAt(v).map(java.time.Instant.ofEpochMilli)

  /** The latest version committed at or before `ts` (see
    * [[TxLog.versionAtTime]] for skew/retention semantics).
    */
  def versionAt(ts: java.time.Instant): Long =
    txlog.versionAtTime(ts.toEpochMilli)

  /** Commit history (version, action, target, n_files) — the
    * lakehouse DESCRIBE-HISTORY twin, also served as `system("$log")`.
    */
  def history: DataFrame = {
    import spark.implicits._
    txlog.history().toDF("version", "action", "target", "n_files")
  }

  /** Row-level change feed between two committed versions, computed as
    * a snapshot diff: each returned row carries the table's columns
    * plus `_change_type` ('insert' | 'delete'); an update surfaces as a
    * delete of the old row and an insert of the new one.
    *
    * Scale contract: the diff reads ONLY the files EXCHANGED between
    * the two versions (removed by `from`→`to` vs added), never the
    * whole table — so its cost is proportional to the churn, not the
    * table size. Rows that a file-granular rewrite copied through
    * unchanged appear on both sides and cancel under the multiset
    * difference (`exceptAll`), so the feed is exact even though the
    * log records file exchanges, not row deltas.
    */
  def changes(name: String, fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changes: fromVersion $fromVersion > toVersion $toVersion")
    // a cursor below the vacuum retention floor must FAIL, not feed:
    // snapshotAt of a truncated version reconstructs an EMPTY state, so
    // the diff would silently re-emit the whole table as inserts.
    // fromVersion = 0 stays the explicit bootstrap ("initial snapshot
    // load"); anything else unresolvable needs a re-bootstrap upstream.
    if (fromVersion > 0 && !txlog.resolvableAt(fromVersion))
      throw new IllegalStateException(
        s"changes($name, $fromVersion, ...): version $fromVersion was " +
          "truncated by vacuum — re-bootstrap the consumer from a full " +
          "snapshot (changes from version 0)")
    val n = norm(name)
    val snapFrom = txlog.snapshotAt(fromVersion)
    val snapTo = txlog.snapshotAt(toVersion)
    val before = snapFrom.tables.getOrElse(n, Vector.empty)
    val after = snapTo.tables.getOrElse(n, Vector.empty)
    val afterSet = after.toSet
    val beforeSet = before.toSet
    // a file bound in BOTH versions whose deletion vector changed has
    // different LOGICAL content even though the binding didn't move —
    // it joins the exchanged set on both sides, each side masked at its
    // own version, and the exceptAll cancels the surviving rows exactly
    // like a file-granular rewrite's copied-through rows
    val dvChanged = before.filter(f => afterSet(f) &&
      snapFrom.dvs.get((n, f)) != snapTo.dvs.get((n, f)))
    val removed = before.filterNot(afterSet) ++ dvChanged
    val added = after.filterNot(beforeSet) ++ dvChanged
    // pin both sides to the TO version's stored schema when one exists:
    // across a metadata-only ADD COLUMN the removed files null-fill the
    // new column, keeping the two sides union-compatible
    def readRel(s: TxLog.Snapshot, rel: Seq[String]): DataFrame =
      txlog.readFilesMasked(s, n, rel, snapTo.schemas.get(n))
    (removed.nonEmpty, added.nonEmpty) match {
      case (false, false) =>
        // no churn: an empty feed in the table's current (or last-known)
        // schema, so downstream unions stay well-typed
        val schemaSource = if (after.nonEmpty) readRel(snapTo, after.take(1))
          else if (before.nonEmpty) readRel(snapFrom, before.take(1))
          else
            // the span predates the table's FIRST commit — legitimate
            // for a multi-table database: commits to OTHER tables
            // advance the shared log, so a stream over a table created
            // mid-log sees earlier versions as empty batches. Shape the
            // empty feed from the stored schema (or the head binding)
            locally {
              val head = txlog.snapshot()
              head.schemas.get(n).map(js => spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                TxLog.parseSchema(js)))
                .orElse(readPinned(head, n))
                .getOrElse(throw new IllegalArgumentException(
                  s"table '$n' has no data in either version"))
            }
        schemaSource.limit(0).withColumn("_change_type", lit(""))
      case _ =>
        val remDf =
          if (removed.nonEmpty) Some(readRel(snapFrom, removed)) else None
        val addDf =
          if (added.nonEmpty) Some(readRel(snapTo, added)) else None
        // align by name: the diff is positional, and two staged writes
        // of one logical schema may have ordered columns differently
        val cols = addDf.getOrElse(remDf.get).columns.toSeq
        def aligned(df: DataFrame) = df.select(cols.map(col): _*)
        val rem = remDf.map(aligned)
        val add = addDf.map(aligned)
        (add, rem) match {
          case (Some(a), Some(r)) =>
            // ONE multiset diff: signed row counts over the union —
            // net > 0 emits that many inserts, net < 0 deletes. Same
            // semantics as a.exceptAll(r) ++ r.exceptAll(a) (rows a
            // rewrite copied through unchanged net to 0 and vanish)
            // at ONE shuffle instead of the two exceptAlls' four —
            // per-statement fixed cost is what CDC consumers feel.
            val net = a.withColumn("_graft_side", lit(1L))
              .unionByName(r.withColumn("_graft_side", lit(-1L)))
              .groupBy(cols.map(col): _*)
              .agg(sum(col("_graft_side")).as("_graft_net"))
              .filter(col("_graft_net") =!= 0L)
            net.withColumn("_change_type",
                when(col("_graft_net") > 0, lit("insert"))
                  .otherwise(lit("delete")))
              .withColumn("_graft_dup",
                explode(sequence(lit(1L), abs(col("_graft_net")))))
              .drop("_graft_net", "_graft_dup")
          case (Some(a), None) =>
            a.withColumn("_change_type", lit("insert"))
          case (None, Some(r)) =>
            r.withColumn("_change_type", lit("delete"))
          case (None, None) => throw new IllegalStateException("unreachable")
        }
    }
  }

  /** DATABASE-LEVEL change feed: every table's changes in (fromVersion,
    * toVersion], multiplexed into one schema-tagged envelope —
    *
    *   `_table STRING, _change_type STRING, _commit_version LONG,
    *    _row STRING (JSON of the table's columns)`
    *
    * — so ONE consumer drains a whole database in commit order (the
    * reference fans out per-collection background flushes; a 100 TB
    * ingest wants one consumer per database). Heterogeneous table
    * schemas ride as JSON: the envelope stays fixed forever, so the
    * stream never drifts; consumers project a table back out with
    * `from_json(_row, schema)`. Granularity is PER COMMIT (Delta CDF's
    * `_commit_version` contract): each admitted version contributes its
    * own single-version diff, so cross-version telescoping never hides
    * an intermediate state and `_commit_version` totally orders the
    * feed. Cost: one diff arm per (version, touched table) — bounded by
    * the stream's admission caps (the `graft-changes` source defaults
    * `maxVersionsPerTrigger` for `table=*`), and each single-version
    * snapshot resolve folds incrementally off the version-snapshot
    * cache, so arms cost actions-applied, not checkpoint replays.
    */
  def changesAllTables(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"changesAllTables: fromVersion $fromVersion > toVersion $toVersion")
    if (fromVersion > 0 && !txlog.resolvableAt(fromVersion))
      throw new IllegalStateException(
        s"changesAllTables($fromVersion, ...): version truncated by " +
          "vacuum — re-bootstrap the consumer from version 0")
    val arms = ((fromVersion + 1) to toVersion).flatMap { v =>
      val before = txlog.snapshotAt(v - 1).tables
      val after = txlog.snapshotAt(v).tables
      txlog.touchedTables(v)
        // only tables with data in either adjacent version can diff
        // (a Sch-only or Ren bookkeeping touch contributes no rows)
        .filter(t => before.contains(t) || after.contains(t))
        .map { t =>
          val d = changes(t, v - 1, v)
          val cols = d.columns.filterNot(_ == "_change_type")
          d.select(
            lit(t).as("_table"),
            col("_change_type"),
            lit(v).as("_commit_version"),
            to_json(struct(cols.map(col): _*)).as("_row"))
        }
    }
    if (arms.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[
        org.apache.spark.sql.Row], GraftDatabase.MultiplexEnvelope)
    else arms.reduce(_ unionByName _)
  }

  /** Incremental change-feed cursor: everything that changed since
    * `fromVersion`, plus the head version to persist as the next
    * cursor. The polling consumption loop of a CDC pipeline:
    * {{{
    *   var cur = db.logVersion
    *   while (running) {
    *     val (feed, next) = db.changesSince("t", cur)
    *     if (next > cur) { process(feed); cur = next }
    *   }
    * }}}
    * Exactly-once downstream when the consumer persists `next`
    * atomically with its output (the same contract as insertBatch's
    * idempotence marker on the write side). Bounded by vacuum
    * retention like any snapshot read.
    */
  def changesSince(name: String, fromVersion: Long): (DataFrame, Long) = {
    val head = txlog.snapshot().version
    (changes(name, fromVersion, head), head)
  }

  /** Roll a table back to a committed version — one metadata-only
    * commit binding the HISTORICAL file list (O(1) in data size; the
    * lakehouse RESTORE). History is preserved: the rollback is a NEW
    * version, so the undone states stay time-travelable until vacuum
    * retires them. The restored version's schema and file stats come
    * back with it (they live in the historical snapshot). Bounded by
    * vacuum retention twice over: the version must still resolve AND
    * its data files must still exist — and the referenced files'
    * timestamps are refreshed before the commit so vacuum's in-flight
    * grace window (`minAgeMs`) covers the check→publish gap.
    *
    * Declared constraints are re-validated on the restored state:
    * rolling a PARENT back past rows that children (declared via their
    * FKs) still reference, or past a later-added unique constraint,
    * fails like the equivalent delete/update would — restore is not a
    * constraint bypass.
    *
    * Restore binds NAMES, not identities: restoring a DROPPED name is
    * an undrop; after RENAME a→b, version v restores under the name
    * the table had AT v.
    */
  def restore(name: String, version: Long): Long = {
    requireNotRetired(); requireNoOpenTx()
    val n = norm(name)
    val head = txlog.snapshot()
    require(version <= head.version,
      s"restore($name, $version): version is beyond the committed head " +
        s"(${head.version}) — nothing to roll back to")
    require(txlog.resolvableAt(version),
      s"restore($name, $version): version truncated by vacuum")
    val snapThen = txlog.snapshotAt(version)
    val files = snapThen.tables.getOrElse(n, throw new IllegalArgumentException(
      s"table '$n' did not exist at version $version"))
    // the restored state includes the version's deletion vectors: data
    // files AND their DV sidecars must both survive vacuum to rebind
    val dvsThen = snapThen.dvs.collect {
      case ((t, f), dv) if t == n => f -> dv
    }
    val needed = files ++ dvsThen.values
    val missing = needed.filterNot(r => Files.exists(Paths.get(s"$root/$r")))
    require(missing.isEmpty,
      s"restore($name, $version): ${missing.size} file(s) already " +
        s"reclaimed by vacuum (first: ${missing.headOption.getOrElse("")})")
    // refresh mtimes so a concurrent vacuum's minAgeMs grace window
    // treats the about-to-be-rebound files as in-flight references
    needed.foreach { r =>
      try Files.setLastModifiedTime(Paths.get(s"$root/$r"),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      catch { case _: java.io.IOException => () }
    }
    val restored = txlog.readFilesMasked(snapThen, n, files,
      snapThen.schemas.get(n))
    // constraint re-validation: restore must not bypass what DML
    // enforces. (a) the restored rows' own FKs still resolve; (b) its
    // unique/PK constraints hold; (c) no DECLARED child still
    // references a key the rollback removes (the restrict walk)
    val tdef = tableDef(n)
    requireClean(ConstrainedDml.validateUpdate(
      spark, tdef, restored, restored, parentsOf(head, tdef)))
    defs.values.foreach { child =>
      child.fks.filter(fk => norm(fk.parentTable) == n &&
          norm(child.name) != n)
        .foreach { fk =>
          readPinned(head, child.name).foreach { c =>
            val orphans = c
              .join(restored.select(col(fk.parentCol)),
                col(fk.childCol) === col(fk.parentCol), "left_anti")
              .limit(1).count()
            if (orphans > 0) throw new IllegalStateException(
              s"restore($name, $version) would orphan rows of " +
                s"'${child.name}' (FK ${fk.childCol} -> $n." +
                s"${fk.parentCol}); roll the child back first")
          }
        }
    }
    // ONE rebind recipe (shared with the lost-vacuum-race rollback):
    // Put + the version's pin + stats + DV masks, with explicit mask
    // REMOVALS for files masked at head but not at v. The single
    // forward-only special case on top: v predates the stored schema
    // but the table is pinned NOW — leaving the current pin would
    // misrepresent the restored state (columns added after v would
    // ghost in as nulls), so re-pin to v's actual file schema.
    val repin: Seq[TxLog.Action] =
      if (snapThen.schemas.contains(n) || !head.schemas.contains(n)) Nil
      else Seq(TxLog.Sch(n, restored.schema.json))
    val v = txlog.commit(
      rebindActions(n, snapThen, head) ++ repin,
      readVersion = head.version,
      readTables = defs.values.filter(_.fks.exists(fk =>
        norm(fk.parentTable) == n)).map(d => norm(d.name)).toSet)
    invalidateSqlEngine()
    // close the residual vacuum race: the binding is committed — if a
    // concurrent vacuum still reclaimed a file inside the window, say
    // so NOW instead of letting every later read throw mysteriously
    val gone = needed.filterNot(r => Files.exists(Paths.get(s"$root/$r")))
    if (gone.nonEmpty) {
      // roll the binding BACK to the pre-restore state before failing:
      // leaving the name bound to reclaimed files would poison every
      // later read, and the torn binding would survive the exception
      val msg = s"restore($name, $version): a concurrent vacuum " +
        s"reclaimed ${gone.size} restored file(s) — re-restore a " +
        "retained version"
      try {
        // validated at the FAILED restore's own version: an
        // interleaved commit on this table since then must conflict
        // (the rollback would silently discard it otherwise)
        txlog.commit(rebindActions(n, head, txlog.snapshotAt(v)),
          readVersion = v)
        invalidateSqlEngine()
      } catch { case e: Exception => throw new IllegalStateException(
        s"$msg (rollback to pre-restore v${head.version} ALSO failed: " +
          s"${e.getMessage})", e) }
      throw new IllegalStateException(msg)
    }
    v
  }

  /** Actions rebinding `n` to its state in `snapT`: the Put, the
    * schema pin (when `snapT` had one), per-file stats, the version's
    * DV masks — plus explicit mask REMOVALS for files that carry one
    * at `headNow` but did not at `snapT` (Put does not clear dvs).
    * Used by [[restore]]'s lost-vacuum-race rollback.
    */
  private def rebindActions(n: String, snapT: TxLog.Snapshot,
      headNow: TxLog.Snapshot): Seq[TxLog.Action] = {
    val files = snapT.tables.getOrElse(n, Vector.empty)
    val dvsT = snapT.dvs.collect { case ((t, f), dv) if t == n => f -> dv }
    (TxLog.Put(n, files) +:
      snapT.schemas.get(n).map(js => TxLog.Sch(n, js)).toSeq) ++
      (files ++ dvsT.values).flatMap(f =>
        snapT.stats.get((n, f)).map(js => TxLog.Sta(n, f, js))) ++
      dvsT.toSeq.map { case (f, dv) => TxLog.Dvec(n, f, dv) } ++
      files.filter(f => !dvsT.contains(f) && headNow.dvs.contains((n, f)))
        .map(f => TxLog.Dvec(n, f, ""))
  }

  /** Stats-pruned range read: the table at the head filtered to
    * `column` in [lo, hi]. [[StatsPruneRule]] drops every file whose
    * LOG-HELD min/max (harvested once at stage time, [[FileStatsUtil]])
    * provably excludes the range — zero footer opens at read time, the
    * difference at a million files between "skip row groups after
    * opening every footer" and "never open them". Row-group pruning
    * (pushdown) still applies INSIDE the surviving files, and the exact
    * filter runs on top, so results never depend on stats: a file
    * without usable stats (legacy import, foreign writer) is simply
    * always scanned. Pair with `ensureIndex` (range-clustering) to make
    * per-file ranges disjoint and the pruning ratio sharp.
    */
  def seek(name: String, column: String, lo: Any, hi: Any): DataFrame = {
    val c = col(column)
    tableIn(txlog.snapshot(), norm(name)).filter(c >= lit(lo) && c <= lit(hi))
  }

  /** Apply a change feed (the output of [[changes]]/[[changesSince]] on
    * a same-shape source table) to THIS table — the replication
    * consumer. ONE atomic commit: deletes drop by PK, inserts replace-
    * or-append by PK (an update's delete+insert pair nets to a
    * replace), and the (appId, batchId) idempotence marker rides the
    * commit so a REPLAYED batch (consumer restart after persisting its
    * cursor late) is a no-op — exactly-once replica state from
    * at-least-once delivery. File-granular like the native DML: only
    * replica files holding a touched PK rewrite, so apply cost tracks
    * the batch's churn. Returns false when the batch was already
    * applied. Feeds must be applied in cursor order per table.
    */
  def applyChanges(name: String, feed: DataFrame, appId: String,
      batchId: Long): Boolean = {
    requireNoOpenTx()
    val snap = txlog.snapshot()
    if (snap.txns.get(appId).exists(_ >= batchId)) return false
    val tdef = tableDef(name)
    val n = norm(name)
    // ONE eager materialization of the feed diff, lineage truncated:
    // the staged write and the hit-file collect run concurrently below,
    // and with a LAZY cache both would race to compute the diff (its
    // unions, groupBys and broadcast exchanges each submitting sub-jobs
    // twice). After this single job every consumer reads materialized
    // blocks — the "fuse the feed into the apply" pass that cuts the
    // per-batch action count (blocks are GC-released with the frame).
    val f = feed.localCheckpoint(eager = true)
    try {
      val ins = f.filter(col("_change_type") === "insert")
        .drop("_change_type")
      // null-safe: a feed row with a null PK addresses the null-PK row
      val touchedKeys = f.select(col(tdef.pk).as("_graft_key")).distinct()
      def untouched(df: DataFrame): DataFrame =
        df.join(touchedKeys, df(tdef.pk) <=> touchedKeys("_graft_key"),
          "left_anti")
      if (!snap.tables.contains(n)) {
        // bootstrap: the first batch materializes the replica —
        // validation and staging run concurrently (see insert)
        enforceLimitSize(snap)
        val staged = overlapped(requireClean(ConstrainedDml.validateUpdate(
          spark, tdef, ins, ins, parentsOf(snap, tdef))))(
          txlog.stage(snap, n, ins))
        txlog.commit(
          Seq(TxLog.Put(n, staged), TxLog.Txn(appId, batchId)),
          readVersion = snap.version,
          readTables = tdef.fks.map(_.parentTable).toSet)
        invalidateSqlEngine()
        return true
      }
      val marked = markedIn(snap, n)
      // ONE collect answers both the hit files AND the batch's
      // internal PK-duplicate check (per-query fixed cost dominates
      // small batches): a sentinel row carries the dup count — a real
      // file id is an absolute path and can never equal it
      val dupSentinel = "_graft_pkdup"
      val cnt = org.apache.spark.sql.functions.count(lit(1))
      val hitQ = marked.join(touchedKeys,
          marked(tdef.pk) <=> touchedKeys("_graft_key"), "left_semi")
        .select(col("_graft_file").as("_k")).groupBy(col("_k"))
        .agg(cnt.as("_n"))
      val dupQ = ConstrainedDml.repeated(ins.groupBy(col(tdef.pk)))
        .agg(cnt.as("_n"))
        .select(lit(dupSentinel).as("_k"), col("_n"))
      val collected = graft.core.JobLabel(spark, s"cdc hit probe $name") {
        hitQ.unionByName(dupQ).collect()
      }
      val dupPks = collected.filter(_.getString(0) == dupSentinel)
        .map(_.getLong(1)).sum
      if (dupPks > 0) throw new IllegalStateException("constraint " +
        s"violations: ${Seq(ConstrainedDml.Violation("pk_conflict",
          tdef.name, tdef.pk, dupPks))}")
      val hitRaw = collected.map(_.getString(0))
        .filter(k => k.nonEmpty && k != dupSentinel)
      if (hitRaw.isEmpty && ins.isEmpty) {
        // nothing to do (deletes missed, empty batch) — but the batch
        // IS consumed: the marker alone commits, so a replay stays a
        // no-op and the cursor can advance
        txlog.commit(Seq(TxLog.Txn(appId, batchId)),
          readVersion = snap.version)
        invalidateSqlEngine()
        return true
      }
      // survivors of the hit files = rows whose PK the batch never
      // touched; the batch's inserts land beside them (no hit file =
      // a pure append). The collect above resolved the hit FILES, so
      // the staged write reads EXACTLY those files — the batch's write
      // I/O is churn-file bytes, never a whole-replica semi-join scan
      // (at 100 TB the difference between "read the touched 128 MB"
      // and "rescan the table per batch")
      def result = untouched(tableIn(snap, n))
        .unionByName(ins, allowMissingColumns = true)
      // NEVER patch-safe: the batch inserts NEW PKs, and two concurrent
      // appliers (multi-source replication) committing commuting
      // patches would both land the same key — the exact write-skew
      // fileGranularAction's gate documents; upsert stays absolute for
      // the same reason. The PK-duplicate scan already rode the collect
      // above.
      keyedRewrite(snap, tdef, marked, hitRaw, emptyHitsAppend = true,
        patchSafe = false, extra = Seq(TxLog.Txn(appId, batchId)))(
        requireClean(ConstrainedDml.validateUpdate(spark, tdef, ins, result,
          parentsOf(snap, tdef), pkImmutable = true)))(
        untouched(_).unionByName(ins, allowMissingColumns = true))(result)
      true
    } finally f.unpersist() // best-effort; checkpoint blocks GC-release
  }

  /** Bin-pack small files (the lakehouse OPTIMIZE): read ONLY the live
    * files under `smallThreshold` bytes, coalesce them into
    * ceil(bytes/targetBytes) right-sized files, and commit the exchange
    * as a RELATIVE patch — so right-sized files are never rewritten
    * (write amplification proportional to the small-file backlog, not
    * the table), and the compaction COMMUTES with concurrent DML on
    * disjoint files instead of conflicting with it (the reason this is
    * a Patch, not the full-table rewrite `checkpoint` does). `coalesce`
    * keeps the repack shuffle-free. Returns (filesBefore, filesAfter).
    */
  def optimize(name: String, targetBytes: Long = 128L << 20,
      smallThreshold: Long = 64L << 20): (Int, Int) = {
    requireNotRetired(); requireNoOpenTx()
    val n = norm(name)
    val snap = txlog.snapshot()
    val files = snap.tables.getOrElse(n, throw noTable(n))
    // a REGISTERED clustering layout (ensureIndex / optimizeZorder)
    // takes precedence over bin-packing: DML churn since the last
    // clustering pass (new/rewritten files, DV masks) re-clusters the
    // whole table on the registered columns — clustering is a full
    // rewrite by definition, paid once per OPTIMIZE — and an undrifted
    // layout is left untouched (packing clustered files would widen
    // their stat boxes)
    clusterSpec(n).foreach { case (kind, cols, atFiles) =>
      val drifted = files.toSet != atFiles ||
        snap.dvs.keys.exists(_._1 == n)
      if (!drifted) return (files.size, files.size)
      if (kind == "zorder") return optimizeZorder(n, cols, targetBytes)
      // range: right-sized single-column re-cluster
      val bytes0 = files.map(r => Files.size(Paths.get(s"$root/$r"))).sum
      val parts0 = math.max(1L, (bytes0 + targetBytes - 1) / targetBytes)
        .min(4096L).toInt
      val reclustered = txlog.readFilesMasked(snap, n, files)
        .repartitionByRange(parts0, col(cols.head))
        .sortWithinPartitions(cols.head)
      val staged = txlog.stage(snap, n, reclustered)
      txlog.commit(
        TxLog.Put(n, staged) +: schemaSyncActions(snap, n, reclustered.schema),
        readVersion = snap.version)
      invalidateSqlEngine()
      writeClusterMeta(n, "range", cols, staged)
      return (files.size, staged.size)
    }
    val sized = files.map(r => r -> Files.size(Paths.get(s"$root/$r")))
    // backlog = small files PLUS any file carrying a deletion vector:
    // OPTIMIZE is the DV reconciliation point — the rewrite materializes
    // the mask and the Patch drops the sidecar from the binding
    val small = sized.filter { case (r, sz) =>
      sz < smallThreshold || snap.dvs.contains((n, r))
    }
    val hasDv = small.exists { case (r, _) => snap.dvs.contains((n, r)) }
    if (small.size < 2 && !hasDv)
      return (files.size, files.size) // nothing to pack
    val bytes = small.map(_._2).sum
    val parts = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val smallRel = small.map(_._1)
    // pin to the stored schema when one exists: the backlog may mix
    // files written before and after an ADD COLUMN, and an unpinned
    // read would silently drop the newer files' columns from the pack
    val packed = txlog.readFilesMasked(snap, n, smallRel).coalesce(parts)
    // report what actually STAGED, not the planned partition count —
    // the scan may pack small inputs into fewer partitions than
    // ceil(bytes/target), and coalesce cannot split them back up
    val staged = txlog.stage(snap, n, packed)
    txlog.commit(Seq(TxLog.Patch(n, smallRel, staged)),
      readVersion = snap.version)
    invalidateSqlEngine()
    (files.size, files.size - small.size + staged.size)
  }

  /** OPTIMIZE ... ZORDER BY: rewrite the table's LIVE files clustered
    * on the Morton bit-interleave of two columns ([[graft.core.Layout
    * .zValue]]), so each output file's per-column [min, max] box is
    * tight in BOTH dimensions — the layout that makes the log-held
    * stats pruning ([[seek]] and the automatic [[StatsPruneRule]])
    * sharp for multi-column box probes, where a single-column sort can
    * only tighten one side. Unlike the bin-packing [[optimize]] this is
    * a CLUSTERING pass: a full-table rewrite committed as one absolute
    * Put (deletion-vector masks materialize and their sidecars drop
    * with the rewritten files). Columns normalize to the z-grid by
    * their own min/max (one aggregate over the table — a maintenance
    * pass, like the reference's index rebuild); rows with NULL in a
    * z-column sort first. Returns (filesBefore, filesAfter).
    */
  def optimizeZorder(name: String, zorderBy: Seq[String],
      targetBytes: Long = 128L << 20): (Int, Int) = {
    requireNotRetired(); requireNoOpenTx()
    require(zorderBy.size >= 2 && zorderBy.size <= 4,
      s"optimizeZorder takes 2-4 columns (Morton interleave), " +
        s"got ${zorderBy.mkString(", ")}")
    val n = norm(name)
    val snap = txlog.snapshot()
    val files = snap.tables.getOrElse(n, throw noTable(n))
    val df = txlog.readFilesMasked(snap, n, files)
    val cs = zorderBy.map(c => col(c).cast("double"))
    val gridBits = math.min(16, 62 / cs.size)
    // per-column bounds for the grid normalization (one aggregate)
    val bounds = df.agg(
      org.apache.spark.sql.functions.min(cs.head),
      cs.tail.flatMap(c => Seq(
        org.apache.spark.sql.functions.min(c),
        org.apache.spark.sql.functions.max(c))) :+
        org.apache.spark.sql.functions.max(cs.head): _*).head()
    def grid(c: org.apache.spark.sql.Column, lo: Double, hi: Double) = {
      val span = if (hi > lo) hi - lo else 1.0
      least(lit((1 << gridBits) - 1), greatest(lit(0),
        ((c - lit(lo)) / lit(span) * lit((1 << gridBits) - 1)).cast("long")))
    }
    // bounds row layout: min(c0), [min(c1), max(c1), ...], max(c0)
    def loOf(i: Int) = if (i == 0) 0 else 2 * i - 1
    def hiOf(i: Int) = if (i == 0) bounds.length - 1 else 2 * i
    val z =
      if (bounds.anyNull) lit(0L) // empty table / all-null columns
      else graft.core.Layout.zValueN(
        cs.zipWithIndex.map { case (c, i) =>
          grid(c, bounds.getDouble(loOf(i)), bounds.getDouble(hiOf(i)))
        }, bits = gridBits)
    // a clustering rewrite may legitimately RAISE the file count (finer
    // z-ranges = sharper boxes); only a runaway target is capped
    val bytes = files.map(r => Files.size(Paths.get(s"$root/$r"))).sum
    val parts = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
      .min(4096L).toInt
    val clustered = df.withColumn("_graft_z", z)
      .repartitionByRange(parts, col("_graft_z"))
      .sortWithinPartitions(col("_graft_z"))
      .drop("_graft_z")
    val staged = txlog.stage(snap, n, clustered)
    txlog.commit(
      TxLog.Put(n, staged) +: schemaSyncActions(snap, n, clustered.schema),
      readVersion = snap.version)
    invalidateSqlEngine()
    // register the layout so later OPTIMIZE calls re-assert it after
    // DML churn without the caller re-specifying columns
    writeClusterMeta(n, "zorder", zorderBy, staged)
    (files.size, staged.size)
  }

  /** Metadata-only ADD COLUMN (schema evolution): commit the table's
    * widened schema to the log WITHOUT touching a data file — reads pin
    * to the stored schema, so every file written before the column
    * existed null-fills it (the Delta/Iceberg add-column shape; at
    * 100 TB the alternative is rewriting the table). Also bootstraps
    * schema-pinned reads for the table: once a stored schema exists,
    * scans skip footer inference and later widening writes keep it in
    * sync automatically (see the write paths' schema sync).
    */
  def addColumn(name: String, column: String,
      dataType: org.apache.spark.sql.types.DataType): Unit = {
    requireNotRetired(); requireNoOpenTx()
    val n = norm(name)
    val snap = txlog.snapshot()
    if (!snap.tables.contains(n)) throw noTable(n)
    requireLegalColumnName(column)
    val cur = currentSchema(snap, n)
    require(!TxLog.logicalFields(cur)
        .exists(_.name.equalsIgnoreCase(column)),
      s"column '$column' already exists on '$n'")
    val field = freshField(cur, org.apache.spark.sql.types.StructField(
      column, dataType, nullable = true), snap.version + 1)
    val next = org.apache.spark.sql.types.StructType(cur.fields :+ field)
    txlog.commit(Seq(TxLog.Sch(n, next.json)), readVersion = snap.version)
    invalidateSqlEngine()
  }

  /** Table `n`'s schema at `snap`: its pin, else the union of its
    * files' columns. DDL pin adoption must see that union
    * (heterogeneous un-pinned tables exist — a widening append on an
    * un-pinned table leaves mixed files); a one-footer inference would
    * permanently hide the columns that footer happens to lack.
    */
  private def currentSchema(snap: TxLog.Snapshot,
      n: String): org.apache.spark.sql.types.StructType =
    pinOf(snap, n).getOrElse(txlog.mergedFileSchema(snap.tables(n)))

  /** Table `n`'s log-held schema at `snap`, when one was committed
    * (addColumn / a write that widened it). Tables without one read
    * with parquet footer inference.
    */
  private def pinOf(snap: TxLog.Snapshot,
      n: String): Option[org.apache.spark.sql.types.StructType] =
    snap.schemas.get(n).map(TxLog.parseSchema)

  /** `f` mapped to a FRESH physical name when its logical name's
    * physical identity is still CLAIMED in `cur` (a dropped column's
    * tombstone, a renamed column's original name): live files carrying
    * old data under that physical name must NOT resurrect into the new
    * field — and a duplicate physical name would make every read throw.
    * Shared by explicit ADD COLUMN and the implicit pin extension every
    * widening write/MERGE runs.
    */
  private def freshField(cur: org.apache.spark.sql.types.StructType,
      f: org.apache.spark.sql.types.StructField,
      version: Long): org.apache.spark.sql.types.StructField = {
    val claimed = cur.fields.exists(g =>
      TxLog.physicalName(g).equalsIgnoreCase(f.name))
    if (!claimed) f
    else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
      .putString(TxLog.PhysicalKey, s"${f.name}__g$version").build())
  }

  /** Column names of every DDL/extension path: identifier shape, and
    * never the tombstone prefix (a field named like a tombstone would
    * silently vanish from the logical surface).
    */
  private def requireLegalColumnName(c: String): Unit = {
    require(c.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"invalid column name '$c' (letters/digits/underscore)")
    require(!c.startsWith(TxLog.DroppedPrefix),
      s"invalid column name '$c' (reserved tombstone prefix)")
  }

  /** Metadata-only column rename (one SCH commit, zero data movement):
    * the pin maps the new LOGICAL name to the column's stable PHYSICAL
    * name, reads rename at projection time, and writes keep staging the
    * physical name — old and new files stay byte-identical in layout.
    * Declared constraints (PK/unique/FK, both referencing directions),
    * the index registry, and the clustering spec re-key with it. Time
    * travel below the commit sees the OLD name (each version reads
    * under its own pin), and `restore` brings it back.
    */
  def renameColumn(name: String, from: String, to: String): Unit = {
    requireNotRetired(); requireNoOpenTx()
    val n = norm(name)
    val snap = txlog.snapshot()
    if (!snap.tables.contains(n)) throw noTable(n)
    requireLegalColumnName(to)
    val cur = currentSchema(snap, n)
    val f = TxLog.logicalFields(cur)
      .find(_.name.equalsIgnoreCase(from))
      .getOrElse(throw new IllegalArgumentException(
        s"column '$from' does not exist on '$n'"))
    require(!TxLog.logicalFields(cur).exists(_.name.equalsIgnoreCase(to)),
      s"column '$to' already exists on '$n'")
    val next = org.apache.spark.sql.types.StructType(cur.fields.map { g =>
      if (!TxLog.isDropped(g) && g.name.equalsIgnoreCase(from))
        g.copy(name = to,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(g.metadata)
            .putString(TxLog.PhysicalKey, TxLog.physicalName(g)).build())
      else g
    })
    txlog.commit(Seq(TxLog.Sch(n, next.json)), readVersion = snap.version)
    retargetColumn(n, from, to)
    invalidateSqlEngine()
  }

  /** Metadata-only column drop: the pin keeps a TOMBSTONE field (its
    * physical claim prevents a later re-add from resurrecting old file
    * data) and reads stop requesting the column entirely — old files
    * keep the bytes until a rewrite retires them (OPTIMIZE compacts
    * them away). Refused for the PK and for FK-referenced columns;
    * indexes and the clustering spec on the column retire with it.
    */
  def dropColumn(name: String, column: String): Unit = {
    requireNotRetired(); requireNoOpenTx()
    val n = norm(name)
    val snap = txlog.snapshot()
    if (!snap.tables.contains(n)) throw noTable(n)
    val cur = currentSchema(snap, n)
    val f = TxLog.logicalFields(cur)
      .find(_.name.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"column '$column' does not exist on '$n'"))
    require(TxLog.logicalFields(cur).size > 1,
      s"cannot drop the last column of '$n'")
    defs.get(n).foreach { td =>
      require(!td.pk.equalsIgnoreCase(column),
        s"cannot drop the primary key '$column' of '$n'")
      require(!td.fks.exists(_.childCol.equalsIgnoreCase(column)),
        s"cannot drop '$column': it is a foreign key of '$n'")
    }
    defs.values.foreach(td => td.fks.foreach(fk =>
      if (norm(fk.parentTable) == n && fk.parentCol.equalsIgnoreCase(column))
        throw new IllegalArgumentException(
          s"cannot drop '$column': '${td.name}' declares a foreign key " +
            s"referencing $n.$column")))
    val ts = f.copy(
      name = s"${TxLog.DroppedPrefix}${snap.version + 1}_${f.name}",
      metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putString(TxLog.PhysicalKey, TxLog.physicalName(f)).build())
    val next = org.apache.spark.sql.types.StructType(cur.fields.map(g =>
      if (!TxLog.isDropped(g) && g.name.equalsIgnoreCase(column)) ts else g))
    txlog.commit(Seq(TxLog.Sch(n, next.json)), readVersion = snap.version)
    // dependent metadata retires with the column
    defs.get(n).foreach(td => defs += n ->
      td.copy(uniqueCols = td.uniqueCols
        .filterNot(_.equalsIgnoreCase(column))))
    val ix = indexDefs(n)
    if (ix.exists(_._2.equalsIgnoreCase(column)))
      writeIndexMeta(n, ix.filterNot(_._2.equalsIgnoreCase(column)))
    clusterSpec(n).foreach { case (_, cols, _) =>
      if (cols.exists(_.equalsIgnoreCase(column))) clearClusterMeta(n)
    }
    invalidateSqlEngine()
  }

  /** Metadata-only type widening: the pin moves to the wider type and
    * the parquet reader upcasts the narrow physical data at scan time
    * (Spark's reader-side widening — int→long/double, float→double,
    * decimal precision/scale growth, int→decimal, date→timestamp_ntz;
    * lossy moves like long→double are refused). Files keep their
    * physical type until a rewrite; later appends may stage either
    * width.
    */
  def widenColumn(name: String, column: String,
      to: org.apache.spark.sql.types.DataType): Unit = {
    requireNotRetired(); requireNoOpenTx()
    val n = norm(name)
    val snap = txlog.snapshot()
    if (!snap.tables.contains(n)) throw noTable(n)
    val cur = currentSchema(snap, n)
    val f = TxLog.logicalFields(cur)
      .find(_.name.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"column '$column' does not exist on '$n'"))
    require(f.dataType != to, s"column '$column' is already ${to.simpleString}")
    require(safeWiden(f.dataType, to),
      s"cannot widen ${f.dataType.simpleString} to ${to.simpleString}: " +
        "only lossless reader-supported widenings are metadata-only " +
        "(rewrite through a transform update instead)")
    val next = org.apache.spark.sql.types.StructType(cur.fields.map(g =>
      if (!TxLog.isDropped(g) && g.name.equalsIgnoreCase(column))
        g.copy(dataType = to)
      else g))
    txlog.commit(Seq(TxLog.Sch(n, next.json)), readVersion = snap.version)
    invalidateSqlEngine()
  }

  /** The reader-supported lossless widening matrix (measured on this
    * Spark's parquet readers, vectorized and row-based): files of
    * `from` remain readable under a pin of `to`.
    */
  private def safeWiden(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (DateType, TimestampNTZType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale >= a.scale && b.precision - b.scale >= a.precision - a.scale
      case (ByteType | ShortType | IntegerType, b: DecimalType) =>
        b.precision - b.scale >= 10
      case (LongType, b: DecimalType) => b.precision - b.scale >= 20
      case _ => false
    }
  }

  /** Re-key a renamed column through the declared constraints and the
    * index/clustering registries (the column-level analog of
    * [[renameCollection]]'s retargeting).
    */
  private def retargetColumn(n: String, from: String, to: String): Unit = {
    def rn(c: String) = if (c.equalsIgnoreCase(from)) to else c
    defs = defs.map { case (k, td) =>
      val own = norm(td.name) == n
      k -> td.copy(
        pk = if (own) rn(td.pk) else td.pk,
        uniqueCols = if (own) td.uniqueCols.map(rn) else td.uniqueCols,
        fks = td.fks.map { fk =>
          val childSide = if (own) fk.copy(childCol = rn(fk.childCol)) else fk
          if (norm(childSide.parentTable) == n)
            childSide.copy(parentCol = rn(childSide.parentCol))
          else childSide
        })
    }
    val ix = indexDefs(n)
    if (ix.exists(_._2.equalsIgnoreCase(from)))
      writeIndexMeta(n, ix.map { case (nm, c, u) => (nm, rn(c), u) })
    clusterSpec(n).foreach { case (kind, cols, files) =>
      if (cols.exists(_.equalsIgnoreCase(from)))
        writeClusterMeta(n, kind, cols.map(rn), files)
    }
  }

  /** Keep a log-held schema in sync with a write: when the table HAS a
    * stored schema at `snap` (the statement's snapshot, whose version
    * the commit is checked from) and the staged rows carry columns it
    * lacks, the same
    * commit extends it (otherwise the pinned read would hide the new
    * columns). A PARTIAL write (append / granular patch — old files
    * stay live) staging a KNOWN column at a DIFFERENT type is rejected
    * at write time: committing it would leave files of two physical
    * types behind one pinned schema, and every later read of the table
    * would throw inside the parquet reader — an unreadable committed
    * table with no error at the write that caused it. A FULL replace
    * (Put of the whole binding: every live file rewrites) instead
    * re-syncs the stored schema to the staged one, which is how a
    * type-changing transform update lands consistently. Tables without
    * a stored schema keep footer-inferred reads — addColumn opts in.
    */
  private def schemaSyncActions(snap: TxLog.Snapshot, n: String,
      staged: org.apache.spark.sql.types.StructType,
      fullReplace: Boolean = false): Seq[TxLog.Action] =
    pinOf(snap, n) match {
      case Some(cur) if fullReplace =>
        // a full replace retires EVERY old file, so dropped-column
        // tombstones clear here — but RENAME mappings must carry over:
        // the staged files were written under the PHYSICAL names
        // (stage() renames), so re-pinning without the mapping would
        // null-fill the renamed columns of the very files just staged
        val curByName = cur.fields
          .map(f => f.name.toLowerCase -> f).toMap
        val next = org.apache.spark.sql.types.StructType(
          staged.fields.map { f =>
            curByName.get(f.name.toLowerCase)
              .filter(cf => TxLog.physicalName(cf) != cf.name) match {
              case Some(cf) => f.copy(nullable = true, metadata = cf.metadata)
              case None => f.copy(nullable = true)
            }
          })
        val same = cur.fields.length == next.fields.length &&
          cur.fields.map(f => (f.name.toLowerCase, f.dataType,
            TxLog.physicalName(f))).sortBy(_._1).toSeq ==
          next.fields.map(f => (f.name.toLowerCase, f.dataType,
            TxLog.physicalName(f))).sortBy(_._1).toSeq
        if (same) Nil else Seq(TxLog.Sch(n, next.json))
      case Some(cur) =>
        val knownType = cur.fields
          .map(f => f.name.toLowerCase -> f.dataType).toMap
        staged.fields.foreach(f => knownType.get(f.name.toLowerCase)
          .foreach { t =>
            // staging NARROWER than the pin is fine after a
            // metadata-only type widening: the parquet reader upcasts
            // the narrow physical data under the wide requested schema
            // (the same reader support the widening DDL relies on)
            if (t != f.dataType && !safeWiden(f.dataType, t))
              throw new IllegalStateException(
                s"append stages column '${f.name}' as " +
                  s"${f.dataType.simpleString} but table '$n' stores it " +
                  s"as ${t.simpleString}; cast the incoming column (a " +
                  "partial write cannot change a type)")
          })
        val extra = staged.fields
          .filterNot(f => knownType.contains(f.name.toLowerCase))
        if (extra.isEmpty) Nil
        else {
          // implicit extension guards like ADD COLUMN: reserved names
          // refuse, and a name whose PHYSICAL identity is still claimed
          // (a tombstone, a rename's original name) refuses LOUDLY —
          // extending plainly would resurrect old file bytes into the
          // new column, and a fresh mapping would orphan the rows just
          // staged (they wrote the logical name). ADD COLUMN first
          // (which mints the fresh physical name), then write.
          extra.foreach { f =>
            requireLegalColumnName(f.name)
            if (cur.fields.exists(g =>
                TxLog.physicalName(g).equalsIgnoreCase(f.name)))
              throw new IllegalStateException(
                s"column '${f.name}' of '$n' was previously dropped or " +
                  "renamed and its physical name is still claimed by " +
                  "live files — ALTER COLLECTION ... ADD COLUMN it " +
                  "first, then write")
          }
          Seq(TxLog.Sch(n, org.apache.spark.sql.types.StructType(
            cur.fields ++ extra.map(_.copy(nullable = true))).json))
        }
      case None => Nil
    }

  /** Retire data files no retained snapshot references and log files
    * below the retention floor (the lakehouse VACUUM; delegates to the
    * commit log). `minAgeMs` guards in-flight staged-but-unpublished
    * writes — see TxLog.vacuum. Returns the deleted paths.
    */
  def vacuum(keepVersions: Int = 2,
      minAgeMs: Long = 15L * 60 * 1000): Seq[String] =
    txlog.vacuum(keepVersions, minAgeMs)

  /** Zero-copy shallow clone: bind `dst` to `src`'s CURRENT immutable
    * file list in one metadata-only commit — O(1) in the data size
    * (nothing is read or written), the lakehouse SHALLOW CLONE. The
    * clone and the source then diverge independently: every write is
    * copy-on-write over shared immutable files, and vacuum retains any
    * file while EITHER table's retained snapshots reference it, so
    * dropping one never strands the other. The source's TableDef
    * (PK/constraints), if declared, carries over to the clone.
    */
  def cloneCollection(src: String, dst: String): Long =
    cloneCollection(src, dst, -1L)

  /** Zero-copy shallow clone of `src`'s state AT a committed version
    * (-1 = head): one metadata commit binding the source's files under
    * the new name, CARRYING the source's stored schema (pinned reads —
    * a clone of an ADD-COLUMN'd table must null-fill like the source),
    * its per-file stats (data skipping works immediately), and its
    * deletion-vector masks (without them the clone would RESURFACE
    * DV-deleted rows). Historical clones guard the vacuum race exactly
    * like [[restore]]: existence + mtime refresh before the commit,
    * existence re-check after.
    */
  def cloneCollection(src: String, dst: String, version: Long): Long = {
    requireNotRetired(); requireNoOpenTx()
    val (s0, d0) = (norm(src), norm(dst))
    require(d0.matches("[a-z_][a-z0-9_]*"),
      s"invalid collection name '$dst' (letters/digits/underscore)")
    val head = txlog.snapshot()
    require(!head.tables.contains(d0),
      s"cannot clone onto existing table '$d0'")
    val snapSrc =
      if (version < 0) head
      else {
        require(version <= head.version,
          s"clone($src, $dst, $version): version is beyond the " +
            s"committed head (${head.version})")
        require(txlog.resolvableAt(version),
          s"clone($src, $dst, $version): version truncated by vacuum")
        txlog.snapshotAt(version)
      }
    val files = snapSrc.tables.getOrElse(s0,
      throw new IllegalArgumentException(
        s"table '$s0' does not exist" +
          (if (version >= 0) s" at version $version" else
            " (no committed data)")))
    val dvs = snapSrc.dvs.collect {
      case ((t, f), dv) if t == s0 => f -> dv
    }
    if (version >= 0) {
      val needed = files ++ dvs.values
      val missing = needed.filterNot(r =>
        Files.exists(Paths.get(s"$root/$r")))
      require(missing.isEmpty,
        s"clone($src, $dst, $version): ${missing.size} file(s) already " +
          s"reclaimed by vacuum (first: ${missing.headOption.getOrElse("")})")
      needed.foreach { r =>
        try Files.setLastModifiedTime(Paths.get(s"$root/$r"),
          java.nio.file.attribute.FileTime
            .fromMillis(System.currentTimeMillis()))
        catch { case _: java.io.IOException => () }
      }
    }
    val actions =
      (TxLog.Put(d0, files) +:
        snapSrc.schemas.get(s0).map(js => TxLog.Sch(d0, js)).toSeq) ++
        (files ++ dvs.values).flatMap(f =>
          snapSrc.stats.get((s0, f)).map(js => TxLog.Sta(d0, f, js))) ++
        dvs.toSeq.map { case (f, dv) => TxLog.Dvec(d0, f, dv) }
    val v = txlog.commit(actions, readVersion = head.version,
      readTables = Set(s0))
    defs.get(s0).foreach(td => defs += d0 -> td.copy(name = d0))
    invalidateSqlEngine()
    if (version >= 0) {
      val gone = (files ++ dvs.values).filterNot(r =>
        Files.exists(Paths.get(s"$root/$r")))
      if (gone.nonEmpty) {
        // unbind the TORN clone before failing: a committed dst bound
        // to reclaimed files would poison every later read AND block
        // the suggested re-clone (clone refuses an existing dst)
        val msg = s"clone($src, $dst, $version): a concurrent vacuum " +
          s"reclaimed ${gone.size} cloned file(s) — re-clone a " +
          "retained version"
        defs -= d0
        // validated at the clone's own version: a concurrent commit
        // that already touched the (torn) dst must conflict here
        try {
          txlog.commit(Seq(TxLog.Del(d0)), readVersion = v)
          invalidateSqlEngine()
        }
        catch { case e: Exception => throw new IllegalStateException(
          s"$msg (cleanup Del($d0) ALSO failed: ${e.getMessage})", e) }
        throw new IllegalStateException(msg)
      }
    }
    v
  }

  /** [[cloneCollection]] at the latest version committed at or before
    * `ts` (TIMESTAMP AS OF semantics).
    */
  def cloneCollectionAsOf(src: String, dst: String,
      ts: java.time.Instant): Long =
    cloneCollection(src, dst, txlog.versionAtTime(ts.toEpochMilli))

  /** [[restore]] at the latest version committed at or before `ts`. */
  def restoreAsOf(name: String, ts: java.time.Instant): Long =
    restore(name, txlog.versionAtTime(ts.toEpochMilli))

  /** Idempotent batch append for streaming sinks: the (appId, batchId)
    * marker rides the commit, and a REPLAYED batch (stream restart,
    * foreachBatch retry) is skipped — exactly-once table state from
    * at-least-once delivery, the Delta streaming-txn pattern.
    * Constraint-checked like `insert`; returns false when the batch was
    * already applied (nothing written).
    */
  def insertBatch(name: String, rows: DataFrame, appId: String,
      batchId: Long): Boolean = {
    requireNoOpenTx()
    val snap = txlog.snapshot()
    if (snap.txns.get(appId).exists(_ >= batchId)) return false
    appendChecked(snap, name, rows, Seq(TxLog.Txn(appId, batchId)))
    true
  }

  /** Has the (appId, batchId) ledger already recorded this batch (or a
    * later one)? Streaming sinks use it as the cheap replay fast-path
    * BEFORE doing any per-batch Spark work — [[insertBatch]] /
    * [[mergeBatch]] re-check under their own snapshot, so the check is
    * advisory, never the correctness gate. (The high-water mark itself
    * is [[appliedBatch]]; beyond replay skipping, consumers use
    * synthetic appIds as durable monotonic counters that ride their
    * data commits atomically — [[graft.streaming.MaterializedView]]
    * records the last folded SOURCE version this way, which is what
    * makes a view resumable after its checkpoint is lost.)
    */
  def batchApplied(appId: String, batchId: Long): Boolean =
    appliedBatch(appId).exists(_ >= batchId)

  /** The changes in `(fromVersion, toVersion]` as ONE frame of
    * per-version diff arms, each row tagged with the LONG
    * `_commit_version` that produced it — the multiplexed feed's
    * granularity, typed (vs [[changes]], which telescopes the span
    * into one net diff). Arms union BY NAME with missing columns
    * null-filled: a span crossing a historical ADD COLUMN has arms
    * pinned to different stored schemas, and the older arms null-fill
    * exactly like a schema-pinned table read of that era. One
    * definition shared by the feed's `withCommitVersion` batches and
    * [[graft.streaming.MaterializedView.refreshOnce]], so the two can
    * never drift.
    */
  def changesPerVersion(name: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changesPerVersion: empty span ($fromVersion, $toVersion]")
    (fromVersion + 1 to toVersion).map(v =>
      changes(name, v - 1, v).withColumn("_commit_version", lit(v)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Idempotent batch MERGE for streaming sinks whose per-batch work is
    * an upsert-plus-delete over bounded key sets — the write primitive
    * behind [[graft.streaming.MaterializedView]]: `replacements` upsert
    * by the table's PK, rows whose PK is in `deleteKeys` are removed,
    * and the (appId, batchId) marker rides the SAME commit, so the
    * whole merge is atomic and a replayed batch is skipped outright.
    * Two ledgered sinks with separate commits would reopen the
    * crash-between window (the replay would skip the half that never
    * landed).
    *
    * File-granular like [[upsert]]: only files holding a replaced OR
    * deleted PK rewrite; a batch of all-new PKs with no deletes is a
    * pure append. Returns false when the batch was already applied.
    *
    * `replacementsDistinctByPk`: the caller PROVES `replacements` is
    * distinct and non-null on the table's PK (e.g. it descends from a
    * `groupBy(pk)` — the MaterializedView fold does). On a table with
    * no unique columns and no FKs that proof covers everything
    * validateUpdate would check (in-batch dupes, result-shape
    * multiplicity, the null-PK rule — the merge arithmetic below
    * guarantees result = (table ∖ keys) ∪ replacements), so the
    * per-batch validation pass is skipped outright — it was the
    * dominant fixed cost of a small maintained-view merge (measured
    * 4.3 s / 26 AQE stage-jobs of a 13.7 s q166 run at sf0.1). Tables
    * WITH uniques/FKs still validate regardless of the flag. A small
    * local batch (see [[graft.dml.ConstrainedDml]]) has the claim
    * checked on the driver, with no job: duplicate or null PKs throw
    * IllegalArgumentException. A bulk batch's claim is trusted.
    *
    * `knownHitFiles`: the files of this table holding a replaced or
    * deleted PK, probed through [[tableMarked]] by a caller that
    * already read exactly the affected keys' rows
    * ([[graft.streaming.MaterializedView]]'s state probe), with the
    * version that probe read. The merge skips its own whole-table
    * probe and runs AT that version: it reads the table there and
    * commits from there, so a commit that landed after the probe
    * fails this merge with [[TxLog.ConflictException]] (the caller
    * re-probes and retries) instead of missing a file it added.
    */
  def mergeBatch(name: String, replacements: DataFrame,
      deleteKeys: DataFrame, appId: String, batchId: Long,
      alsoRecord: Seq[(String, Long)] = Nil,
      replacementsDistinctByPk: Boolean = false,
      knownHitFiles: Option[GraftDatabase.KnownHits] = None): Boolean = {
    requireNoOpenTx()
    val snap = knownHitFiles.fold(txlog.snapshot())(k =>
      txlog.snapshotAt(k.version))
    if (snap.txns.get(appId).exists(_ >= batchId)) return false
    val tdef = tableDef(name)
    val n = norm(name)
    val existing = readPinned(snap, n)
    val held = heldBatch(replacements, tdef.pk, existing)
    if (replacementsDistinctByPk) held.foreach { lb =>
      val pks = lb.rows.toSeq.map(_.get(lb.fields(tdef.pk)))
      require(!pks.contains(null) &&
        pks.distinctBy(ConstrainedDml.key).size == pks.size,
        s"mergeBatch('$n'): replacementsDistinctByPk is set, but the " +
          "replacements hold duplicate or null PKs")
    }
    val needsValidation = !replacementsDistinctByPk ||
      tdef.uniqueCols.nonEmpty || tdef.fks.nonEmpty
    def validate(incoming: DataFrame, result: DataFrame): Unit =
      if (needsValidation)
        requireClean(ConstrainedDml.validateUpdate(tdef, incoming,
          held.map(_.rows), result, parentsOf(snap, tdef), pkImmutable = false))
    // alsoRecord: additional (appId -> high-water) ledger marks riding
    // the SAME commit — durable monotonic counters atomic with the data
    // (the MV's last-folded-source-version mark)
    val ledger = TxLog.Txn(appId, batchId) +:
      alsoRecord.map { case (a, v) => TxLog.Txn(a, v) }
    if (existing.isEmpty) {
      // nothing to delete in an unmaterialized table; first batch is a
      // validated full write carrying the ledger marker
      validate(replacements, replacements)
      writeReplace(snap, n, replacements, tdef.fks.map(_.parentTable).toSet,
        ledger)
      return true
    }
    // the hit-file collect, validation, and the staged write are
    // separate jobs — pin both inputs, so a nondeterministic source
    // cannot rewrite different rows than were validated: a held batch
    // is a local relation already, anything else is cached
    val repl = if (held.isDefined) replacements else replacements.cache()
    val dels = deleteKeys.select(col(tdef.pk)).distinct().cache()
    try {
      // plan construction only — executed by validation and/or the
      // full-rewrite fallback, neither of which may run
      val merged = ConstrainedDml.upsert(
        existing.get.join(dels, Seq(tdef.pk), "left_anti"), repl, tdef.pk,
        held.map(_.rows))
      val marked = markedIn(snap, n)
      // file-granular: files holding a replaced OR deleted PK. Scalable
      // direction — the table-scale marked frame probes map-side against
      // the broadcast batch-bounded key set. Hit files a caller probed
      // (knownHitFiles) skip the probe pass outright — one table pass
      // per merge instead of two. They were probed at `snap`'s own
      // version, so they are complete for it, and the commit from that
      // version conflicts with anything that landed since.
      keyedRewrite(snap, tdef, marked,
        knownHitFiles.fold(probeHits(n, tdef.pk, marked,
          broadcast(repl.select(col(tdef.pk)).union(dels).distinct())))(
          _.files.toArray),
        emptyHitsAppend = true, patchSafe = false,
        extra = ledger)(validate(repl, merged))(scan => ConstrainedDml.upsert(
          scan.join(dels, Seq(tdef.pk), "left_anti"), repl, tdef.pk,
          held.map(_.rows)))(merged)
      true
    } finally {
      if (held.isEmpty) repl.unpersist()
      dels.unpersist(); ()
    }
  }

  /** All table names: declared via `defineTable` plus any committed in
    * the log (IotDatabase.cs:45 Tables()).
    */
  def tables: Seq[String] =
    (defs.keySet ++ txlog.snapshot().tables.keySet).toSeq.sorted

  /** Resource listing — `table_<name>` rows like the reference's
    * `IotDatabase.Resources` (IotDatabase.cs:114-131), plus
    * `file_<name>` for checked-in files.
    */
  def resources: Seq[String] =
    tables.map(t => s"table_$t") ++
      fileStore.files.select("file_name").collect()
        .map(r => s"file_${r.getString(0)}").toSeq.sorted

  /** Constraint-checked insert (CheckConstraints + insert,
    * TableCollection.cs:922-1070).
    */
  def insert(name: String, rows: DataFrame): Unit = {
    requireNoOpenTx()
    appendChecked(txlog.snapshot(), name, rows, Nil)
  }

  /** The body of [[insert]] and [[insertBatch]]: validate `rows` against
    * `snap`, the statement's one resolution of the head, and append them
    * in one commit from its version carrying the `ledger` marks.
    */
  private def appendChecked(snap: TxLog.Snapshot, name: String,
      rows: DataFrame, ledger: Seq[TxLog.Action]): Unit = {
    val tdef = tableDef(name)
    val existing = readPinned(snap, norm(name))
    val parents = parentsOf(snap, tdef)
    enforceLimitSize(snap)
    // validation and staging are INDEPENDENT Spark actions (both read
    // `rows`; nothing publishes until the commit below) — see overlapped
    val staged = overlapped(requireClean(ConstrainedDml.validateInsert(
      spark, tdef, rows, existing, parents)))(
      txlog.stage(snap, norm(name), rows))
    // an append is an ADD action — but it was VALIDATED against `base`
    // (unique/PK sets, FK PARENTS), so a concurrent commit touching
    // this table OR a validated parent must conflict (a parent delete
    // interleaving with this insert is the classic write-skew orphan)
    txlog.commit(
      (TxLog.Add(norm(name), staged) +: ledger) ++
        schemaSyncActions(snap, norm(name), rows.schema),
      readVersion = snap.version,
      readTables = tdef.fks.map(_.parentTable).toSet)
    invalidateSqlEngine()
  }

  /** Run `validate` on the caller's thread WHILE `work` (a hit probe
    * and a staged write) runs on a helper thread, returning `work`'s
    * result once BOTH succeed — the statement's fixed Spark-action cost
    * becomes max(validate, work) instead of their sum. Only sound
    * because staged files are invisible until a commit references
    * them: if validation throws, `work` is waited out and its staged
    * directory abandoned (vacuum reclaims it), the same contract as a
    * lost commit race, and no job of the failed statement outlives it.
    * A frame both sides evaluate must give the same rows each time (a
    * local relation, or cached) — the same requirement a sequential
    * validate-then-stage had.
    */
  private def overlapped[T](validate: => Unit)(work: => T): T = {
    val f = java.util.concurrent.CompletableFuture.supplyAsync(
      () => work, stagingPool)
    try validate
    catch {
      case t: Throwable =>
        try await(f) catch { case _: Throwable => () }
        throw t
    }
    await(f)
  }

  /** A staging-pool result, its failure rethrown unwrapped. */
  private def await[T](f: java.util.concurrent.CompletableFuture[T]): T =
    try f.get(30, java.util.concurrent.TimeUnit.MINUTES)
    catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }

  /** Upsert by the table's PK (TableCollection.cs:1195-1240); unique/FK
    * constraints hold on the merged state like the reference's
    * index-maintaining upsert.
    */
  def upsert(name: String, rows: DataFrame): Unit = {
    requireNoOpenTx()
    val tdef = tableDef(name)
    val n = norm(name)
    val snap = txlog.snapshot()
    lazy val parents = parentsOf(snap, tdef)
    if (!snap.tables.contains(n)) {
      requireClean(ConstrainedDml.validateUpdate(
        spark, tdef, rows, rows, parents))
      writeReplace(snap, n, rows, tdef.fks.map(_.parentTable).toSet)
      return
    }
    val existing = readPinned(snap, n).get
    heldBatch(rows, tdef.pk, Some(existing)) match {
      // a small batch is held on the driver: no cache, no emptiness job
      case Some(held) =>
        if (held.rows.nonEmpty)
          replaceByPk(snap, tdef, parents, existing, rows, Some(held), None,
            emptyHitsAppend = true)
      case None =>
        // cache the incoming batch: the hit-file collect and the staged
        // write are separate jobs, and a nondeterministic source could
        // otherwise replace a key in one and land a duplicate in the other
        val batch = rows.cache()
        try {
          if (!batch.isEmpty) // empty batch: true no-op, no version
            replaceByPk(snap, tdef, parents, existing, batch, None, None,
              emptyHitsAppend = true)
        } finally batch.unpersist()
    }
  }

  /** Update existing documents by PK (TableCollection.cs:1256-1298):
    * incoming rows replace same-PK rows; rows whose PK is absent are
    * IGNORED (the reference returns false for them — update never
    * inserts; that is `upsert`). Returns the number of rows replaced.
    */
  def update(name: String, rows: DataFrame): Long = {
    requireNoOpenTx()
    val tdef = tableDef(name)
    val n = norm(name)
    val snap = txlog.snapshot()
    if (!snap.tables.contains(n)) return 0L
    val existing = readPinned(snap, n).get
    def replace(matched: DataFrame, held: Option[ConstrainedDml.LocalBatch],
        hits: Option[Array[String]]): Unit =
      replaceByPk(snap, tdef, parentsOf(snap, tdef), existing, matched, held,
        hits, emptyHitsAppend = false)
    heldBatch(rows, tdef.pk, Some(existing)) match {
      // a small batch: ONE hit-probe job finds both the files holding a
      // batch PK and which PKs exist, so the match needs no job of its own
      case Some(held) =>
        val pkAt = held.fields(tdef.pk)
        val hits = hitsOf(n, markedIn(snap, n), tdef.pk,
          held.rows.toSeq.map(_.get(pkAt)).filter(_ != null))
        val present = hits.map(h => ConstrainedDml.key(h._2)).toSet
        val matched = held.rows.filter(r =>
          !r.isNullAt(pkAt) && present(ConstrainedDml.key(r.get(pkAt))))
        if (matched.nonEmpty) {
          val (batch, batchHeld) =
            if (matched.length == held.rows.length) (rows, held)
            else (spark.createDataFrame(matched.toSeq.asJava, rows.schema),
              held.copy(rows = matched))
          replace(batch, Some(batchHeld), Some(hits.map(_._1).distinct))
        }
        matched.length.toLong
      case None =>
        // cache: the frame is evaluated twice (count + the persisted
        // merge) — without it a nondeterministic source could replace
        // different rows than were counted
        val matched = rows.join(existing.select(col(tdef.pk)),
          Seq(tdef.pk), "left_semi").cache()
        try {
          val c = matched.count()
          if (c > 0) replace(matched, None, None)
          c
        } finally matched.unpersist()
    }
  }

  /** The body of [[upsert]] and [[update]]: `batch` replaces the rows of
    * `snap`'s table with its PKs and lands beside them, validated as an
    * update and committed from `snap`'s version. Only files holding a
    * replaced PK rewrite (`hits` when the caller already probed them;
    * else ONE job over the files whose stats may hold a key of a `held`
    * batch, or a join); for upsert a batch of all-new PKs is a pure
    * append. `held` is `batch` read on the driver, once per statement.
    */
  private def replaceByPk(snap: TxLog.Snapshot, tdef: TableDef,
      parents: Map[String, DataFrame], existing: DataFrame, batch: DataFrame,
      held: Option[ConstrainedDml.LocalBatch], hits: Option[Array[String]],
      emptyHitsAppend: Boolean): Unit = {
    val n = tdef.name
    val rows = held.map(_.rows)
    val merged = ConstrainedDml.upsert(existing, batch, tdef.pk, rows)
    val marked = markedIn(snap, n)
    def probe = hits.getOrElse(held match {
      case Some(lb) => hitsOf(n, marked, tdef.pk,
        lb.rows.toSeq.map(_.get(lb.fields(tdef.pk)))).map(_._1).distinct
      case None => probeHits(n, tdef.pk, marked, batch.select(col(tdef.pk)))
    })
    keyedRewrite(snap, tdef, marked, probe,
      emptyHitsAppend, patchSafe = !emptyHitsAppend && tdef.uniqueCols.isEmpty,
      extra = Nil)(requireClean(ConstrainedDml.validateUpdate(
        tdef, batch, rows, merged, parents, pkImmutable = false)))(
      ConstrainedDml.upsert(_, batch, tdef.pk, rows))(merged)
  }

  /** `rows` held on the driver when it is a small batch whose PK has
    * the same type in `existing`, when there is one (see
    * [[ConstrainedDml.localBatch]]); None = the bulk path.
    */
  private def heldBatch(rows: DataFrame, pk: String,
      existing: Option[DataFrame]): Option[ConstrainedDml.LocalBatch] =
    ConstrainedDml.localBatch(rows,
      Seq(pk -> existing.toSeq.map(ConstrainedDml.typeOf(_, pk))))

  /** The (file, PK) pairs of `marked` (table `n` with each row's
    * `_graft_file`) whose PK is one of `keys` (null-safe: a null key
    * finds the null-PK row). ONE labelled job; the key filter pushes
    * down to the scan, so [[StatsPruneRule]] reads only the files whose
    * log stats may hold a key.
    */
  private def hitsOf(n: String, marked: DataFrame, pk: String,
      keys: Seq[Any]): Array[(String, Any)] = {
    val present = keys.filter(_ != null)
    val cond = (Option.when(present.nonEmpty)(col(pk).isin(present: _*)) ++
      Option.when(keys.contains(null))(col(pk).isNull)).reduceOption(_ || _)
    cond.fold(Array.empty[(String, Any)]) { c =>
      graft.core.JobLabel(spark, s"keyed hit probe $n") {
        marked.filter(c).select(col("_graft_file"), col(pk)).collect()
      }.map(r => r.getString(0) -> r.get(1))
    }
  }

  /** UpdateMany with column transforms over rows matching `predicate`
    * (TableCollection.cs:1305-1328, `UPDATE ... SET col = expr WHERE ...`):
    * each (column -> expression) applies only where the predicate holds;
    * other rows pass through unchanged. Returns the matching-row count.
    * The PK cannot be a transform target (the reference throws on `_id`
    * modification); unique/FK constraints hold on the result.
    */
  def updateMany(name: String, predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    requireNoOpenTx()
    val tdef = tableDef(name)
    require(!set.contains(tdef.pk),
      s"cannot modify the PK '${tdef.pk}' via updateMany (reference: " +
        "LiteDB forbids _id transforms)")
    val snap = txlog.snapshot()
    val n0 = tdef.name
    if (!snap.tables.contains(n0)) return 0L
    // mark matches BEFORE transforming: a predicate over a SET target
    // must select by the original values (filtering the transformed
    // frame would validate — and count — the wrong rows). The hit
    // (PK, file) pairs checkpoint EAGERLY in one pass, so a
    // nondeterministic predicate selects exactly ONE row set for
    // count, validation, and rewrite — and every later step reads the
    // churn-sized materialized hits, never a re-evaluated table scan.
    val marked = markedIn(snap, n0)
    val hits = marked.filter(predicate)
      .select(col(tdef.pk).as("_graft_hit_pk"), col("_graft_file"))
      .localCheckpoint(eager = true)
    val perFile = hits.groupBy("_graft_file").count().collect()
    val n = perFile.map(_.getLong(1)).sum
    // no matches: no rewrite, no version bump
    if (n == 0L) return 0L
    // File-granular copy-on-write (the Delta/Iceberg shape, and the
    // 100 TB reason the commit log exists): only files CONTAINING a
    // matching row are rewritten — and the rewrite reads EXACTLY those
    // files as an explicit list, so a statement hitting 1% of the
    // table's files reads and rewrites 1%, never a whole-table
    // semi-join scan.
    val hitRaw = perFile.map(_.getString(0)).filter(_.nonEmpty)
    val hitPk = hits.select(col("_graft_hit_pk"))
    // DETERMINISTIC predicates re-evaluate on the hit-file scan — a
    // narrow per-file map that PRESERVES each rewritten file's row
    // layout (a pk join would shuffle rows across file boundaries and
    // silently destroy range/z-order clustering). Nondeterministic AND
    // time-dependent predicates (current_timestamp/date report
    // deterministic=true but re-stamp per EXECUTION) must instead pin
    // to the checkpointed hit set via the join — the one row set the
    // count already reported.
    val predExpr = org.apache.spark.sql.graft.ExprShim.expression(predicate)
    val deterministic = predExpr.deterministic && !predExpr.exists {
      case _: org.apache.spark.sql.catalyst.expressions.CurrentTimestamp => true
      case _: org.apache.spark.sql.catalyst.expressions.CurrentDate => true
      case _: org.apache.spark.sql.catalyst.expressions.Now => true
      case _: org.apache.spark.sql.catalyst.expressions.LocalTimestamp => true
      case _ => false
    }
    def remark(df: DataFrame): DataFrame =
      if (deterministic)
        df.withColumn("_graft_hit", coalesce(predicate, lit(false)))
      else df
        .join(hitPk.withColumn("_graft_hit", lit(true)),
          df(tdef.pk) === hitPk("_graft_hit_pk"), "left")
        .withColumn("_graft_hit", coalesce(col("_graft_hit"), lit(false)))
        .drop("_graft_hit_pk")
    def updated(df: DataFrame): DataFrame = ConstrainedDml.updateWhere(
      remark(df), col("_graft_hit"), set).drop("_graft_hit")
    val changed = ConstrainedDml.updateWhere(
      remark(hitFilesScan(snap, n0, hitRaw, marked)).filter(col("_graft_hit")),
      col("_graft_hit"), set).drop("_graft_hit")
    def result = updated(tableIn(snap, n0))
    // pkImmutable: the require() above guards the PK against SET
    // targets and the changed rows derive from distinct existing PKs.
    // No unique constraints and no new PKs -> the rewrite commutes
    // with concurrent disjoint-file statements (relative patch)
    keyedRewrite(snap, tdef, marked, hitRaw, emptyHitsAppend = false,
      patchSafe = tdef.uniqueCols.isEmpty, extra = Nil)(
      requireClean(ConstrainedDml.validateUpdate(
        spark, tdef, changed, result, parentsOf(snap, tdef),
        pkImmutable = true)))(updated)(result)
    n
  }

  /** Set one column on ALL documents (TableCollection.cs:1150 SetAll —
    * lowered there as UpdateMany over `_id > 0`).
    */
  def setAll(name: String, columnName: String, value: Any): Long =
    updateMany(name, lit(true), Map(columnName -> lit(value)))

  /** PK point lookup (TableCollection.cs:739 FindById); None when the
    * table has no data yet, like the reference's empty collection.
    */
  def findById(name: String, id: Any): Option[org.apache.spark.sql.Row] =
    headTable(name).flatMap(
      _.filter(col(tableDef(name).pk) === lit(id)).take(1).headOption)

  /** Direct aggregate accessors (TableCollection.cs:196-257 Count/Exists,
    * :1077-1116 Min/Max) — thin views over the fluent chain.
    */
  def count(name: String): Long = headTable(name).fold(0L)(_.count())
  def count(name: String, predicate: org.apache.spark.sql.Column): Long =
    headTable(name).fold(0L)(_.filter(predicate).count())
  def exists(name: String, predicate: org.apache.spark.sql.Column): Boolean =
    headTable(name).exists(!_.filter(predicate).isEmpty)
  def min(name: String, column: String): Any =
    table(name).agg(org.apache.spark.sql.functions.min(col(column))).head().get(0)
  def max(name: String, column: String): Any =
    table(name).agg(org.apache.spark.sql.functions.max(col(column))).head().get(0)

  // ---- indexes (EnsureIndex/DropIndex, TableCollection.cs:307,535-583) ---

  /** EnsureIndex analog. A distributed columnar engine has no B-tree; the
    * honest equivalent is LAYOUT: rewrite the table range-clustered and
    * sorted on the column, so parquet row-group min/max statistics prune
    * scans on that column (the "index seek" path of SURVEY §2.1). Like
    * the reference's index rebuild, this is a one-time maintenance pass —
    * later inserts append unclustered until the next ensureIndex. With
    * `unique`, the column is checked for duplicates first and recorded so
    * subsequent constraint-checked writes enforce it. Returns true when
    * the index was (re)built, false if an identical one is registered.
    */
  def ensureIndex(name: String, column: String,
      unique: Boolean = false): Boolean =
    ensureIndex(name, column, column, unique)

  /** Named form (`CREATE [UNIQUE] INDEX ix ON c (col)`): the reference
    * keys its index registry by NAME (`SqlParser/Commands/Create.cs`),
    * so DROP INDEX resolves `c.ix` later. A name collision with a
    * DIFFERENT column fails loudly, like LiteDB's "index already exists
    * with a different expression"; a same-column re-registration
    * replaces the entry (one clustered layout per column).
    */
  def ensureIndex(name: String, indexName: String, column: String,
      unique: Boolean): Boolean = {
    requireNoOpenTx()
    val snap = txlog.snapshot() // the rebuild reads this snapshot's rows
    val state = readPinned(snap, norm(name))
    val cur = indexDefs(name)
    if (cur.contains((indexName, column, unique))) return false
    cur.find(_._1 == indexName).foreach { case (_, c, _) =>
      if (c != column) throw new IllegalStateException(
        s"index $indexName already exists on $name.$c with a different " +
          s"expression (requested $column)")
    }
    if (unique) {
      // a defined-but-unmaterialized table trivially has no duplicates —
      // reading it would throw on the absent path
      val dupes = state.fold(0L)(t => ConstrainedDml.repeated(
        t.filter(col(column).isNotNull).groupBy(column)).count())
      if (dupes > 0) throw new IllegalStateException(
        s"cannot build unique index: $dupes duplicate values in $name.$column")
      val tdef = tableDef(name)
      if (!tdef.uniqueCols.contains(column))
        defs += tdef.name -> tdef.copy(uniqueCols = tdef.uniqueCols :+ column)
    }
    // a same-column re-registration replaces the old entry; if the old
    // entry was UNIQUE and the new one is not, its constraint leaves
    // with it (otherwise the constraint would be orphaned: enforced
    // forever with no registry entry left to drop)
    val replaced = cur.filter(d => d._1 == indexName || d._2 == column)
    if (!unique && replaced.exists(_._3)) {
      val tdef = tableDef(name)
      if (tdef.uniqueCols.contains(column))
        defs += tdef.name ->
          tdef.copy(uniqueCols = tdef.uniqueCols.filterNot(_ == column))
    }
    state.foreach { t =>
      val staged = writeReplace(snap, norm(name),
        t.repartitionByRange(col(column)).sortWithinPartitions(column))
      // register the range-clustered layout for OPTIMIZE re-assertion
      writeClusterMeta(norm(name), "range", Seq(column), staged)
    }
    writeIndexMeta(name,
      cur.filterNot(d => d._1 == indexName || d._2 == column) :+
        ((indexName, column, unique)))
    true
  }

  /** DropIndex (TableCollection.cs:307) by index name — or, for indexes
    * registered without an explicit name, by column. Deregisters only —
    * the data layout is left as-is, like dropping a B-tree leaves the
    * heap — but a unique index's constraint goes with it (the reference's
    * uniqueness lives ON the index).
    */
  def dropIndex(name: String, indexName: String): Boolean = {
    requireNoOpenTx() // registry + constraint changes cannot roll back
    val cur = indexDefs(name)
    val hit = cur.find(_._1 == indexName)
      .orElse(cur.find(d => d._1 == d._2 && d._2 == indexName))
    hit match {
      case None => false
      case Some((ix, column, unique)) =>
        if (unique) {
          val tdef = tableDef(name)
          if (tdef.uniqueCols.contains(column))
            defs += tdef.name ->
              tdef.copy(uniqueCols = tdef.uniqueCols.filterNot(_ == column))
        }
        writeIndexMeta(name, cur.filterNot(_._1 == ix))
        // the index carried the registered range layout: dropping it
        // stops OPTIMIZE from re-asserting that clustering
        clusterSpec(name).foreach {
          case ("range", cols, _) if cols == Seq(column) =>
            clearClusterMeta(name)
          case _ => ()
        }
        true
    }
  }

  /** DropCollection analog (`LiteDB/Engine/LiteEngine.cs` via SqlParser
    * ParseDrop): one DEL log commit unbinds the table (its immutable
    * files stay on disk until vacuum, so a concurrent reader's plan
    * keeps answering), plus index-registry and TableDef cleanup.
    * Returns true when something existed. Like the reference (no FK
    * metadata), other tables' FK declarations pointing at the dropped
    * table are not validated here — they fail loudly at the next
    * constraint-checked write.
    */
  def dropCollection(name: String): Boolean = {
    requireNoOpenTx()
    requireNotRetired()
    val n = norm(name)
    val bound = txlog.snapshot().tables.contains(n)
    val existed = bound || defs.contains(n)
    if (bound) txlog.commit(Seq(TxLog.Del(n)))
    Files.deleteIfExists(Paths.get(s"$tablesDir/.${n}_indexes"))
    clearClusterMeta(n)
    defs -= n
    invalidateSqlEngine()
    existed
  }

  /** RenameCollection analog (SqlParser ParseRename): one REN log
    * commit re-keys the table→files binding — a metadata-only atomic
    * action, no data movement, safe under concurrent readers (their
    * plans hold the immutable files) — then re-keys the index registry
    * and the TableDefs, retargeting other tables' FKs that referenced
    * the old name. Returns true when the source existed (as data or as
    * a definition).
    */
  def renameCollection(name: String, newName: String): Boolean = {
    requireNoOpenTx()
    requireNotRetired()
    val (o, n) = (norm(name), norm(newName))
    val bound = txlog.snapshot().tables
    if (o == n) return bound.contains(o) || defs.contains(o)
    require(!bound.contains(n) && !defs.contains(n),
      s"cannot rename $name: target collection $newName exists")
    val existed = bound.contains(o) || defs.contains(o)
    if (bound.contains(o)) txlog.commit(Seq(TxLog.Ren(o, n)))
    // the registry sidecar is tiny metadata: clear any stale target file
    // (a crashed earlier rename), then re-key
    val oldIx = Paths.get(s"$tablesDir/.${o}_indexes")
    val newIx = Paths.get(s"$tablesDir/.${n}_indexes")
    Files.deleteIfExists(newIx)
    if (Files.exists(oldIx)) Files.move(oldIx, newIx)
    val oldCl = Paths.get(s"$tablesDir/.${o}_cluster")
    val newCl = Paths.get(s"$tablesDir/.${n}_cluster")
    Files.deleteIfExists(newCl)
    if (Files.exists(oldCl)) Files.move(oldCl, newCl)
    defs = defs.map { case (k, td) =>
      val renamed = td.copy(
        name = if (k == o) n else td.name,
        fks = td.fks.map(fk =>
          if (fk.parentTable == o) fk.copy(parentTable = n) else fk))
      (if (k == o) n else k) -> renamed
    }
    invalidateSqlEngine()
    existed
  }

  /** Registered indexes for a table: (column, unique). */
  def indexes(name: String): Seq[(String, Boolean)] =
    indexDefs(name).map(d => (d._2, d._3))

  /** Named index registry rows: (indexName, column, unique). Legacy
    * 2-field registry lines (column\tunique) read as name == column.
    */
  def indexDefs(name: String): Seq[(String, String, Boolean)] = {
    val p = Paths.get(s"$tablesDir/.${norm(name)}_indexes")
    if (!Files.exists(p)) Nil
    else new String(Files.readAllBytes(p), "UTF-8").split("\n")
      .filter(_.nonEmpty).toSeq.map { line =>
        line.split("\t") match {
          case Array(ix, c, u) => (ix, c, u.toBoolean)
          case Array(c, u)     => (c, c, u.toBoolean)
          case _ => throw new IllegalStateException(s"bad index registry line: $line")
        }
      }
  }

  private def writeIndexMeta(name: String,
      ix: Seq[(String, String, Boolean)]): Unit =
    writeSidecar(Paths.get(s"$tablesDir/.${norm(name)}_indexes"),
      ix.map { case (n, c, u) => s"$n\t$c\t$u" }.mkString("\n"))

  /** Registry sidecars replace atomically (tmp + ATOMIC_MOVE): a plain
    * truncate-and-write exposes an empty/partial file to a concurrent
    * reader — a torn index line throws in indexMeta, and a torn cluster
    * spec silently reads as "no clustering", dropping OPTIMIZE's layout
    * re-assertion.
    */
  private def writeSidecar(p: java.nio.file.Path, content: String): Unit = {
    val tmp = Files.createTempFile(p.getParent, s".${p.getFileName}", ".tmp")
    try {
      Files.write(tmp, content.getBytes("UTF-8"))
      Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    } catch {
      // a failed write/move (disk full, races) must not leak the temp
      // file next to table data — delete it before rethrowing
      case e: Throwable =>
        try Files.deleteIfExists(tmp) catch { case _: Throwable => () }
        throw e
    }
  }

  /** The table's REGISTERED clustering layout: (kind ∈ range|zorder,
    * columns, the binding the last clustering pass produced). Written
    * by [[ensureIndex]] (range) and [[optimizeZorder]] (zorder) — like
    * the named-index registry, the spec OUTLIVES the one-shot rewrite,
    * so [[optimize]] re-asserts a drifted layout without the caller
    * re-specifying columns and [[checkpoint]] reports the drift.
    */
  def clusterSpec(name: String)
      : Option[(String, Seq[String], Set[String])] = {
    val p = Paths.get(s"$tablesDir/.${norm(name)}_cluster")
    if (!Files.exists(p)) None
    else new String(Files.readAllBytes(p), "UTF-8").split("\n").toSeq match {
      case head +: rest =>
        head.split("\t") match {
          case Array(kind, cols) => Some((kind,
            cols.split(",").toSeq.filter(_.nonEmpty),
            rest.headOption.map(_.split(",").toSet.filter(_.nonEmpty))
              .getOrElse(Set.empty)))
          case _ => None
        }
      case _ => None
    }
  }

  private def writeClusterMeta(name: String, kind: String,
      cols: Seq[String], files: Iterable[String]): Unit =
    writeSidecar(Paths.get(s"$tablesDir/.${norm(name)}_cluster"),
      s"$kind\t${cols.mkString(",")}\n" + files.mkString(","))

  private def clearClusterMeta(name: String): Unit =
    Files.deleteIfExists(Paths.get(s"$tablesDir/.${norm(name)}_cluster"))

  /** The one map from a scan's ABSOLUTE hit-file URIs (the `_metadata`
    * file-path form) back to `snap`'s root-relative binding entries:
    * (URI, entry) pairs in binding order. Every hit-file path resolves
    * through here. The hits come from a frame read at `snap` itself, so
    * each maps; one that does not is an engine bug, refused before
    * anything stages.
    */
  private def hitEntries(snap: TxLog.Snapshot, table: String,
      hitRaw: Seq[String]): Vector[(String, String)] = {
    val rawOf = hitRaw.map(r => new java.net.URI(r).getPath -> r).toMap
    val hits = snap.tables.getOrElse(table, Vector.empty).flatMap(rel =>
      rawOf.get(Paths.get(s"$root/$rel").toAbsolutePath.toString)
        .map(_ -> rel))
    if (hits.size != rawOf.size) throw new IllegalStateException(
      s"'$table': ${rawOf.size - hits.size} scanned hit file(s) are not " +
        s"bound at version ${snap.version}, the version they were read at")
    hits
  }

  /** The DV-masked rows of exactly the hit files — the rewrite-side
    * read of every keyed write, scanning ONLY the hit list (a statement
    * touching 1% of a table's files reads 1%). No hit = `marked`'s
    * schema with no rows.
    */
  private def hitFilesScan(snap: TxLog.Snapshot, table: String,
      hitRaw: Array[String], marked: DataFrame): DataFrame =
    if (hitRaw.isEmpty) marked.limit(0).drop("_graft_file")
    else txlog.readFilesMasked(snap, table,
      hitEntries(snap, table, hitRaw.toSeq).map(_._2))

  /** The one tail of every single-table keyed write (upsert, update,
    * updateMany, mergeBatch, applyChanges, a persisted LiteSql
    * statement), all of it at `snap`, the statement's one resolution of
    * the head: `hits` (the files of `marked`, `snap`'s table with each
    * row's `_graft_file`, holding an addressed row) are probed, `rewrite`
    * turns exactly those files' rows ([[hitFilesScan]]) into their
    * replacement, and ONE write stages — the file-granular one when the
    * driver-side facts admit it ([[fileGranularAction]]), else
    * `fallback` as a full rewrite — while `validate` runs on the
    * calling thread ([[overlapped]]): the statement's critical path is
    * max(validate, probe + stage). The commit waits for both and is
    * checked from `snap`'s version, with the FK parents in its read
    * set. `emptyHitsAppend` is upsert's shape (no replaced key = pure
    * append); update/updateMany treat an empty hit set as a mapping
    * failure instead. The caller owns the probe (its join strategy, or
    * hit files it already knows).
    */
  private def keyedRewrite(snap: TxLog.Snapshot, tdef: TableDef,
      marked: DataFrame, hits: => Array[String], emptyHitsAppend: Boolean,
      patchSafe: Boolean, extra: Seq[TxLog.Action])(validate: => Unit)(
      rewrite: DataFrame => DataFrame)(fallback: => DataFrame): Unit = {
    val n = tdef.name
    val expected = marked.drop("_graft_file").schema
    enforceLimitSize(snap)
    val actions = overlapped(validate) {
      val hitRaw = hits.filter(_.nonEmpty)
      val rows = rewrite(hitFilesScan(snap, n, hitRaw, marked))
      val granular =
        if (hitRaw.nonEmpty || emptyHitsAppend)
          fileGranularAction(snap, n, hitRaw, rows.schema, expected,
            patchSafe, txlog.stage(snap, n, rows))
        else None
      granular.map(_ +: widenSyncActions(snap, n, rows.schema, expected))
        .getOrElse(replaceActions(snap, n, fallback)) ++ extra
    }
    txlog.commit(actions, readVersion = snap.version,
      readTables = tdef.fks.map(_.parentTable).toSet)
    invalidateSqlEngine()
  }

  /** ONE labelled job: the files of `marked` holding a PK in `keys`
    * (null-safe, so a null-PK row is addressable). The caller picks the
    * join strategy with a hint on `keys`.
    */
  private def probeHits(n: String, pk: String, marked: DataFrame,
      keys: DataFrame): Array[String] =
    graft.core.JobLabel(spark, s"keyed hit probe $n") {
      val k = keys.select(col(pk).as("_graft_key"))
      marked.join(k, marked(pk) <=> k("_graft_key"), "left_semi")
        .select("_graft_file").distinct().collect()
    }.map(_.getString(0))

  /** The FK parents of `tdef`, read at `snap`. */
  private def parentsOf(snap: TxLog.Snapshot,
      tdef: TableDef): Map[String, DataFrame] =
    tdef.fks.map(fk => fk.parentTable -> tableIn(snap, fk.parentTable)).toMap

  /** Table `n` (normalized) as committed at `snap`. */
  private def readPinned(snap: TxLog.Snapshot, n: String): Option[DataFrame] =
    snap.tables.get(n).map(txlog.readFilesMasked(snap, n, _))

  /** [[readPinned]], refusing a table `snap` does not bind. */
  private def tableIn(snap: TxLog.Snapshot, n: String): DataFrame =
    readPinned(snap, n).getOrElse(throw noTable(n))

  private def noTable(n: String) = new IllegalArgumentException(
    s"table '$n' does not exist (no committed data)")

  /** Table `name` at the head, one resolution (None = no committed data). */
  private def headTable(name: String): Option[DataFrame] =
    readPinned(txlog.snapshot(), norm(name))

  /** `snap`'s table `n` with each row's data file as `_graft_file`. */
  private def markedIn(snap: TxLog.Snapshot, n: String): DataFrame =
    txlog.readMarked(snap, n, "_graft_file")

  private def requireClean(vs: Seq[ConstrainedDml.Violation]): Unit =
    if (vs.nonEmpty)
      throw new IllegalStateException(s"constraint violations: $vs")

  /** Delete with FK actions (cascade/restrict/set-null walk,
    * TableCollection.cs:316-460), committing EVERY affected table in
    * ONE atomic log version — the multi-table transactional cascade the
    * reference runs inside a single WAL transaction
    * (`TransactionService.cs:125-282`). All staged writes are fully
    * distributed; a crash before the commit publishes leaves the store
    * at the pre-delete snapshot.
    */
  def delete(name: String, predicate: org.apache.spark.sql.Column): Unit = {
    requireNoOpenTx()
    // deleting from an unmaterialized table is a no-op (update() parity),
    // and a dynamic insertDocuments-created table has no entry in `defs` —
    // both previously crashed deleteCascade's states(table) lookup
    val snap = txlog.snapshot()
    if (!snap.tables.contains(norm(name))) return
    // defined-but-never-written tables have no rows, so they can neither
    // restrict nor cascade — and reading their absent files would throw.
    // Frames carry the scan-time file id so the walk's hit frames can
    // name the files each table was touched in (file-granular rewrite).
    val states = (defs + (norm(name) -> tableDef(name)))
      .filter { case (n, _) => snap.tables.contains(n) }
      .map { case (n, d) => n -> ((markedIn(snap, n), d)) }
    val (updated, hits0) = ConstrainedDml.deleteCascadeWithHits(
      spark, states, norm(name), predicate)
    // each hit frame is the walk's doomed-row set for one table —
    // consumed by the per-file aggregation AND the staged write's
    // semi-join side. ONE eager materialization per touched table
    // (churn-sized blocks) stops every consumer from re-running the
    // walk's join tree and its broadcast sub-jobs; the tables'
    // checkpoints run CONCURRENTLY (a cascade's per-table jobs overlap
    // instead of serializing).
    val hits = hits0.map { case (n, df) =>
      n -> java.util.concurrent.CompletableFuture.supplyAsync(
        () => df.localCheckpoint(eager = true), stagingPool)
    }.map { case (n, fut) => n -> await(fut) }
    // ONE aggregation per touched table answers BOTH "any match?" and
    // "which files" (a separate isEmpty probe would double the job
    // count — the dominant fixed cost of small DMLs), and each table's
    // replacement rows derive their hit-file set IN-PLAN (a broadcast
    // semi-join on the file id), so the staged writes run CONCURRENTLY
    // with those aggregations.
    def perFileOf(hit: DataFrame): Array[(String, Long)] =
      hit.groupBy("_graft_file").count().collect()
        .map(r => (r.getString(0), r.getLong(1)))
    val stagedF: Map[String, java.util.concurrent.CompletableFuture[Seq[String]]] =
      updated.toSeq.flatMap { case (n, df) =>
        hits.get(n).map { hit =>
          val touched = df.join(
            broadcast(hit.select(col("_graft_file")).distinct()),
            Seq("_graft_file"), "left_semi").drop("_graft_file")
          n -> java.util.concurrent.CompletableFuture.supplyAsync(
            () => txlog.stage(snap, n, touched), stagingPool)
        }
      }.toMap
    val rootPerFile =
      try hits.get(norm(name)).map(perFileOf)
      catch {
        case t: Throwable =>
          stagedF.values.foreach(_.cancel(false)); throw t
      }
    // nothing matched: a true no-op (no rewrite, no version bump; the
    // concurrently staged empties are unpublished garbage for vacuum)
    if (rootPerFile.forall(_.map(_._2).sum == 0L)) return
    // stage all new states (reads the CURRENT immutable files — never a
    // self-overwrite), then publish ONE commit covering every table.
    // File-granular copy-on-write per table: only files CONTAINING a
    // touched (deleted or set-null) row rewrite; the rest keep their
    // paths — a cascade pruning 1% of each table's files stages 1%.
    val actions = updated.toSeq.flatMap { case (n, df) =>
      val plain = df.drop("_graft_file")
      def full = TxLog.Put(n, txlog.stage(snap, n, plain)): TxLog.Action
      hits.get(n) match {
        case Some(hit) =>
          val pf =
            if (n == norm(name)) rootPerFile.get else perFileOf(hit)
          val hitRaw = pf.map(_._1).filter(_.nonEmpty)
          if (hitRaw.nonEmpty)
            // deletes cannot create uniqueness violations, but a
            // cascade SET-NULL can touch a unique column — gate the
            // commuting patch on the table being constraint-free
            Some(fileGranularAction(snap, n, hitRaw,
              plain.schema, plain.schema,
              patchSafe = defs.get(n).forall(_.uniqueCols.isEmpty),
              staged = await(stagedF(n)))
              .getOrElse(full))
          // the walk VISITED this table but touched no row in it (a
          // cascade whose doomed parents have no children here): its
          // state is unchanged — emit nothing rather than a pointless
          // full rewrite of an untouched table. If rows WERE touched
          // but carry no file id, the mapping failed — rewrite fully.
          else if (pf.map(_._2).sum == 0L) None
          else Some(full)
        case None => Some(full) // changed with no hit record: rewrite
      }
    }
    // read set = every table the cascade walk CONSULTED (restrict
    // checks read children it may not rewrite) — an interleaved commit
    // on any of them invalidates the walk and must conflict
    if (actions.nonEmpty) txlog.commit(actions, readVersion = snap.version,
      readTables = states.keySet.toSet)
    invalidateSqlEngine()
  }

  /** Merge-on-read point delete (the Delta deletion-vector shape):
    * instead of rewriting every file holding a matched row like the
    * copy-on-write [[delete]], stage a tiny per-file PK-list sidecar
    * and commit the masks in ONE log version — at 100 TB a 1-row
    * delete publishes a few-KB DV instead of rewriting a 128 MB file.
    * Every read surface applies the mask (table/sql/find/seek/time
    * travel/change feed — they all resolve through
    * [[TxLog.readFilesMasked]]); OPTIMIZE reconciles by rewriting the
    * masked content and dropping the sidecars; RESTORE rebinds a
    * version's masks with its files; vacuum retains sidecars exactly
    * as long as a retained snapshot references them. A re-mask of an
    * already-masked file carries the FULL union, so the snapshot holds
    * one DV per file; conflict-wise a DV commit commutes with DML on
    * disjoint files (see [[TxLog.Dvec]]).
    *
    * Constraint semantics match [[delete]]'s restrict check. Children
    * declaring CASCADE/SET-NULL are refused loudly — a mask on this
    * table cannot mutate child tables; use [[delete]] for cascading
    * semantics. Cost note: one sidecar write per file holding a match —
    * the point-delete shape. A predicate matching rows in MOST files is
    * better served by [[delete]]'s rewrite.
    *
    * Returns the number of newly masked rows (0 = no-op, no commit).
    */
  def deleteVectorized(name: String,
      predicate: org.apache.spark.sql.Column): Long = {
    requireNotRetired(); requireNoOpenTx()
    val snap = txlog.snapshot()
    val n = norm(name)
    if (!snap.tables.contains(n)) return 0L
    val tdef = tableDef(n)
    val children = defs.values
      .filter(d => norm(d.name) != n &&
        d.fks.exists(fk => norm(fk.parentTable) == n))
      .toSeq
    children.foreach { child =>
      child.fks.filter(fk => norm(fk.parentTable) == n).foreach { fk =>
        if (fk.onDelete == ConstrainedDml.Cascade ||
            fk.onDelete == ConstrainedDml.SetNull)
          throw new UnsupportedOperationException(
            s"deleteVectorized('$n'): child '${child.name}' declares " +
              s"ON DELETE ${fk.onDelete} — a deletion vector cannot " +
              "mutate child tables; use delete() for cascading semantics")
      }
    }
    val pk = tdef.pk
    val marked = markedIn(snap, n)
    require(marked.columns.contains(pk),
      s"deleteVectorized('$n'): PK column '$pk' not present")
    val hits = marked.filter(predicate)
      .select(col(pk), col("_graft_file")).cache()
    try {
      // per-file PK lists: bounded by the files holding matches (the
      // point-delete shape), collected as (file -> count) only
      val perFile = hits.groupBy(col("_graft_file")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1))
        .filter(_._1.nonEmpty)
      if (perFile.isEmpty) return 0L
      // restrict check: a declared child still referencing a doomed PK
      // blocks the delete, exactly like delete()'s walk
      children.foreach { child =>
        child.fks.filter(fk => norm(fk.parentTable) == n &&
            fk.onDelete == ConstrainedDml.Restrict).foreach { fk =>
          readPinned(snap, norm(child.name)).foreach { childDf =>
            // DataFrame-qualified refs with a collision-proof alias —
            // bare col(fk.parentCol) is AMBIGUOUS when the child also
            // carries a column of that name (its own 'id', or
            // childCol == parentCol)
            val doomed = hits.select(col(pk).as("_graft_doomed"))
            val refs = childDf
              .join(broadcast(doomed),
                childDf(fk.childCol) === doomed("_graft_doomed"), "left_semi")
              .limit(1).count()
            if (refs > 0) throw new IllegalStateException(
              s"deleteVectorized('$n') blocked: '${child.name}' rows " +
                s"still reference deleted keys (FK ${fk.childCol} -> " +
                s"$n.${fk.parentCol}, ON DELETE RESTRICT)")
          }
        }
      }
      val relOf = hitEntries(snap, n, perFile.map(_._1).toSeq).toMap
      val actions = perFile.map { case (abs, _) =>
        val rel = relOf(abs)
        val newPks = hits.filter(col("_graft_file") === abs).select(col(pk))
        // a re-masked file replaces its DV with the UNION — the
        // snapshot holds exactly one complete mask per file
        val fullMask = snap.dvs.get((n, rel)) match {
          case Some(old) =>
            txlog.readFiles(n, Seq(old), None).select(col(pk))
              .unionByName(newPks).distinct()
          case None => newPks.distinct()
        }
        val staged = txlog.stage(snap, n, fullMask.coalesce(1))
        require(staged.size == 1,
          s"DV stage produced ${staged.size} parts (expected 1)")
        TxLog.Dvec(n, rel, staged.head): TxLog.Action
      }.toSeq
      txlog.commit(actions, readVersion = snap.version,
        readTables = children.map(d => norm(d.name)).toSet)
      invalidateSqlEngine()
      perFile.map(_._2).sum // the per-file counts already hold the total
    } finally hits.unpersist()
  }

  /** File-granular PUT action (the Delta/Iceberg copy-on-write shape):
    * bind `snap`'s files NOT in `hitRaw` unchanged and `staged` (the
    * replacement rows, schema `touchedSchema`) beside them. None when
    * the replacement drifts the schema or every file is hit — the
    * caller then stages a full rewrite instead. An EMPTY hit set is a
    * pure append (all files kept). The hit files were read at `snap`,
    * the commit's read version, so they map ([[hitEntries]]) and the
    * commit's conflict check covers every commit after it. `staged` is
    * by-name and runs only when the action is granular.
    */
  private def fileGranularAction(snap: TxLog.Snapshot, name: String,
      hitRaw: Array[String],
      touchedSchema: org.apache.spark.sql.types.StructType,
      expectedSchema: org.apache.spark.sql.types.StructType,
      patchSafe: Boolean,
      staged: => Seq[String]): Option[TxLog.Action] = {
    val n = norm(name)
    val allRel = snap.tables.getOrElse(n, Vector.empty)
    // the staged rows must carry EVERY expected column at its exact
    // type (a missing one would silently null a column of the rewritten
    // rows); EXTRA columns are fine — a widening DML (MERGE autoMerge,
    // SET of a new path) stays file-granular, with the pin extended in
    // the same commit so untouched files null-fill
    val touchedMap = touchedSchema
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    val schemaOk = expectedSchema.forall(f =>
      touchedMap.get(f.name.toLowerCase).contains(f.dataType))
    val hitRel = hitEntries(snap, n, hitRaw.toSeq).map(_._2)
    val keepRel = allRel.diff(hitRel)
    // every file hit → granular staging degenerates to a full rewrite
    // but through an extra per-row file filter; the caller's plain
    // full-rewrite fallback is the same bytes for less work
    if ((keepRel.isEmpty && allRel.nonEmpty) || !schemaOk) None
    // patchSafe (no unique constraints a concurrent writer's unseen
    // rows could break, no new PKs): commit as a RELATIVE remove/add
    // patch, so concurrent statements on DISJOINT files of this table
    // both land — the Delta-style concurrency unit
    else if (patchSafe) Some(TxLog.Patch(n, hitRel, staged))
    else Some(TxLog.Put(n, keepRel ++ staged))
  }

  /** The schema actions a GRANULAR commit staging `touched` must carry:
    * the ordinary sync when the table is pinned — or a CREATED pin when
    * the staged rows hold columns the UNPINNED table never had (a
    * widening MERGE/SET). Without it the commit would leave
    * heterogeneous files behind footer-INFERRED reads, whose one-footer
    * schema pick is nondeterministic about the new column.
    */
  private def widenSyncActions(snap: TxLog.Snapshot, n: String,
      touchedSchema: org.apache.spark.sql.types.StructType,
      expectedSchema: org.apache.spark.sql.types.StructType)
      : Seq[TxLog.Action] = {
    val extrasNew = touchedSchema.filterNot(f =>
      expectedSchema.exists(_.name.equalsIgnoreCase(f.name)))
    if (extrasNew.nonEmpty && !snap.schemas.contains(n))
      Seq(TxLog.Sch(n, org.apache.spark.sql.types.StructType(
        (expectedSchema ++ extrasNew.map(_.copy(nullable = true)))
          .toArray).json))
    else schemaSyncActions(snap, n, touchedSchema)
  }

  /** Table `n` replaced by `df` in one commit from `snap`'s version
    * carrying `extra`; returns the staged files (the new binding).
    */
  private def writeReplace(snap: TxLog.Snapshot, n: String, df: DataFrame,
      readTables: Set[String] = Set.empty,
      extra: Seq[TxLog.Action] = Nil): Seq[String] = {
    enforceLimitSize(snap)
    val actions = replaceActions(snap, n, df)
    txlog.commit(actions ++ extra, readVersion = snap.version,
      readTables = readTables)
    invalidateSqlEngine()
    actions.collectFirst { case TxLog.Put(_, files) => files }.get
  }

  /** Table `n`'s whole binding replaced by `df`, staged. Stage-then-
    * commit: the plan reads the table's immutable files at `snap` while
    * the staged write lands in a fresh directory — fully distributed,
    * never a self-overwrite, atomic at the log publish.
    */
  private def replaceActions(snap: TxLog.Snapshot, n: String,
      df: DataFrame): Seq[TxLog.Action] =
    TxLog.Put(n, txlog.stage(snap, n, df)) +:
      schemaSyncActions(snap, n, df.schema, fullReplace = true)

  // ---- engine pragmas (EnginePragmas.cs) ----------------------------------

  /** Per-database pragma store; see [[Pragmas]] for each one's mapping.
    * LIMIT_SIZE validations measure LIVE bytes (below), not the raw
    * directory walk.
    */
  lazy val pragmas: Pragmas =
    new Pragmas(root, () => collation.toString,
      () => liveStoreSize(txlog.snapshot()))

  def pragma(name: String): Any = pragmas.get(name)
  def setPragma(name: String, value: Any): Unit = pragmas.set(name, value)

  /** LIVE bytes of the store: the current snapshot's data files plus the
    * always-live TimeSeries/ and Files/ subtrees. Retired versions
    * awaiting vacuum deliberately do NOT count — if they did, deleting
    * rows would INCREASE the accounted size, and a LIMIT_SIZE'd database
    * could wedge permanently (every write refused, including the
    * checkpoint compaction that would reclaim the space).
    */
  private def liveStoreSize(snap: TxLog.Snapshot): Long = {
    val live = snap.tables.values.flatten.map { r =>
      val p = Paths.get(s"$root/$r")
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
    live + Pragmas.storeSize(tsDir) + Pragmas.storeSize(filesDir) +
      Pragmas.storeSize(blocksDir)
  }

  /** LIMIT_SIZE is enforced at the write choke point: once the store has
    * grown past the pragma, further writes fail — the facade analog of
    * the reference refusing to allocate pages past the limit. Table
    * bytes are `snap`'s (the writing statement's snapshot; resolved only
    * when a limit is set).
    */
  // rebuild() retires this facade for WRITES (its crypto options and
  // compaction baseline are stale; a retired facade writing would land
  // files in the pre-rebuild encryption state). Reads re-resolve the
  // head snapshot, so after a password flip they fail inside the scan
  // (old crypto options) — switch to the facade rebuild returned.
  @volatile private var retired = false
  private def requireNotRetired(): Unit =
    if (retired) throw new IllegalStateException(
      "facade retired by rebuild(): write through the facade rebuild returned")

  private def enforceLimitSize(snap: => TxLog.Snapshot): Unit = {
    requireNotRetired()
    val limit = pragmas.get(Pragmas.LimitSize).asInstanceOf[Long]
    if (limit != Long.MaxValue) {
      val current = liveStoreSize(snap)
      if (current > limit) throw new IllegalStateException(
        s"database size limit reached (LIMIT_SIZE=$limit, store=$current)")
    }
  }

  /** The CHECKPOINT pragma's maintenance action: compact every table
    * whose snapshot holds more than CHECKPOINT live data files (the
    * WAL-pages-before-checkpoint analog; 0 disables, like the
    * reference), then VACUUM — retire data files no retained snapshot
    * references and truncate the log below its newest checkpoint, the
    * twin of the reference's WAL truncation after checkpoint
    * (`WalIndexService.cs:Checkpoint`). Returns the compacted table
    * names.
    */
  def checkpoint(targetBytes: Long = 128L << 20): Seq[String] = {
    requireNoOpenTx()
    val threshold = pragmas.get(Pragmas.Checkpoint).asInstanceOf[Int]
    if (threshold <= 0) Nil
    else {
      val snap = txlog.snapshot()
      // registered-cluster tables are OPTIMIZE's job (a blind repartition
      // here would destroy the layout) — checkpoint reports their drift
      // instead of compacting them
      val out = snap.tables.toSeq.sortBy(_._1)
        .filter { case (t, files) =>
          files.size > threshold && clusterSpec(t).isEmpty
        }
        .map { case (t, files) => compactTable(snap, t, files, targetBytes) }
      val drift = snap.tables.toSeq.sortBy(_._1).flatMap { case (t, files) =>
        clusterSpec(t).collect {
          case (kind, cols, atFiles)
              if files.toSet != atFiles ||
                snap.dvs.keys.exists(_._1 == t) =>
            val fresh = (files.toSet -- atFiles).size
            val gone = (atFiles -- files.toSet).size
            s"cluster drift: '$t' diverged from its $kind(" +
              s"${cols.mkString(", ")}) layout (+$fresh/-$gone of " +
              s"${atFiles.size} files) — optimize('$t') re-clusters"
        }
      }
      txlog.vacuum()
      invalidateSqlEngine()
      out ++ drift
    }
  }

  /** Rewrite one table into ceil(liveBytes / targetBytes) right-sized
    * files — the shared shrink step of CHECKPOINT and REBUILD. `via` is
    * the facade that STAGES the rewrite (REBUILD passes the new facade
    * so the write lands under the new password's crypto options, while
    * the read still resolves through THIS facade's).
    */
  private def compactTable(snap: TxLog.Snapshot, t: String,
      files: Seq[String], targetBytes: Long,
      via: GraftDatabase = this): String = {
    val bytes = files.map(r => Files.size(Paths.get(s"$root/$r"))).sum
    val parts = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    via.writeReplace(snap, t, tableIn(snap, t).repartition(parts))
    t
  }

  // ---- transactions (BEGIN/COMMIT/ROLLBACK, SqlParser.cs:32-49 →
  //      TransactionService.cs:125-282) ----------------------------------

  // table → uncommitted state staged by sql() DML since BEGIN
  private var txBuffer: Option[
    scala.collection.mutable.LinkedHashMap[String, DataFrame]] = None

  /** True while a SQL transaction is open. */
  def inTransaction: Boolean = txBuffer.isDefined

  // direct facade DML/DDL while a SQL transaction is open would bypass
  // its atomicity — finish the transaction first. Every DML/DDL entry
  // point passes through here, so the rebuild retirement fence rides
  // along: it must fire BEFORE validation reads touch the pre-rebuild
  // snapshot (whose files the rebuild vacuumed).
  private def requireNoOpenTx(): Unit = {
    requireNotRetired()
    if (txBuffer.isDefined) throw new IllegalStateException(
      "a SQL transaction is open: COMMIT or ROLLBACK it before direct " +
        "facade writes")
  }

  /** Open a transaction: subsequent `sql()` DML buffers its table
    * states (visible to later statements in the SAME transaction, not
    * to facade reads) until COMMIT publishes them as ONE atomic log
    * version. Returns false when a transaction is already open, like
    * the reference's `LiteEngine.BeginTrans`.
    */
  def beginTrans(): Boolean = {
    requireNotRetired()
    if (txBuffer.isDefined) false
    else {
      txBuffer = Some(scala.collection.mutable.LinkedHashMap.empty)
      true
    }
  }

  /** Publish every table the open transaction touched in one atomic
    * log commit (all-or-nothing across tables, the WAL-confirm analog).
    * Returns false when no transaction is open.
    */
  def commitTrans(): Boolean = txBuffer match {
    case None => false
    case Some(buf) =>
      txBuffer = None
      // always drop the memoized engine, even when staging or the log
      // commit throws (e.g. a ConflictException): it still holds the
      // transaction's rebound in-memory views, and keeping it would
      // make later db.sql() calls read the ROLLED-BACK states as if
      // they had committed
      try {
        if (buf.nonEmpty) {
          // the transaction's statements read the engine's views (loaded
          // at its snapshot) and validated against FK parents — stage
          // under that snapshot and conflict-check the whole read set
          // from it, so an interleaved external commit fails this COMMIT
          // instead of being lost
          val snap = sqlEngine.fold(txlog.snapshot())(_._2)
          enforceLimitSize(snap)
          val actions = buf.toSeq.flatMap { case (n, df) =>
            replaceActions(snap, n, df)
          }
          val parents = buf.keysIterator.flatMap(n =>
            defs.get(n).map(_.fks.map(_.parentTable)).getOrElse(Nil)).toSet
          txlog.commit(actions, readVersion = snap.version,
            readTables = parents)
        }
        true
      } finally invalidateSqlEngine()
  }

  /** Discard the open transaction's buffered states; the store stays at
    * the last committed snapshot. Returns false when none is open.
    */
  def rollbackTrans(): Boolean = txBuffer match {
    case None => false
    case Some(_) =>
      txBuffer = None
      invalidateSqlEngine() // engine views may hold rejected states
      true
  }

  /** REBUILD with options (`RebuildOptions.cs`: new Collation and/or
    * Password): compact EVERY table to right-sized files (the shrink),
    * vacuum retired versions, and return a facade bound to the new
    * collation and password. Stored bytes are collation-agnostic here
    * (collation applies at read), so the collation change is metadata —
    * unlike the reference, no index re-sort is needed; the compaction IS
    * the datafile rewrite. The `password` option is reference-faithful:
    * it is the REBUILT database's password — Some(p) (re-)encrypts every
    * table file (transparent at-rest encryption, `core.FileCrypto`),
    * None rebuilds to plaintext, exactly like LiteDB's
    * `Rebuild(new RebuildOptions { Password = ... })`.
    */
  def rebuild(newCollation: Option[graft.core.Collation] = None,
      password: Option[String] = None,
      targetBytes: Long = 128L << 20): GraftDatabase = {
    requireNoOpenTx()
    // fence THIS facade's writes BEFORE the rewrite starts, not after:
    // a concurrent writer slipping in mid-rebuild would stage a file
    // under the OLD crypto options that the final vacuum then RETAINS
    // (its commit lands after the rewrites), silently breaking the
    // "old password's files are deleted" contract. A failed rebuild
    // leaves the facade retired too — the store may be mixed-state, so
    // rerun rebuild from a fresh facade rather than keep writing
    retired = true
    // the rebuilt facade holds the NEW crypto options; rewrites read
    // through THIS facade (old password) and stage through the new one
    val out = new GraftDatabase(spark, name, root,
      newCollation.getOrElse(collation), password, commitPrimitive)
    out.defs = defs // declarations survive the rebuild, like the reference
    val snap = txlog.snapshot()
    snap.tables.toSeq.sortBy(_._1).foreach { case (t, files) =>
      compactTable(snap, t, files, targetBytes, via = out)
    }
    // the TimeSeries/ and Files/ stores flip password state too — the
    // reference rebuilds the WHOLE datafile, not one collection class
    rewriteStoreDir(tsDir, Seq("date"), out)
    rewriteStoreDir(s"$blocksDir/data", Seq("point_guid"), out)
    // per-guid verify cursors are tiny but must flip password state too,
    // or the first post-rebuild checkpointVerify fails inside the scan
    val cursorRoot = Paths.get(s"$blocksDir/_cursor")
    if (Files.exists(cursorRoot)) {
      val s = Files.list(cursorRoot)
      try s.forEach(d =>
        if (Files.isDirectory(d)) rewriteStoreDir(d.toString, Nil, out))
      finally s.close()
    }
    Seq("versions", "events", "files")
      .foreach(sub => rewriteStoreDir(s"$filesDir/$sub", Nil, out))
    // REBUILD's contract is reclaiming space NOW: like the reference
    // (which rebuilds into a fresh datafile under an exclusive lock),
    // it runs with no concurrent writers — requireNoOpenTx above — so
    // the in-flight-commit grace window and the extra retained version
    // that a routine vacuum keeps would only defeat the shrink here.
    // With a password change this is also the security step: the old
    // password's files are DELETED here, not left readable
    txlog.vacuum(keepVersions = 1, minAgeMs = 0)
    out
  }

  /** Rewrite one non-log store directory (TimeSeries/, Files/ subdirs) under
    * the rebuilt facade's crypto options: read old, write new beside
    * it, swap. Exclusive by REBUILD's contract.
    */
  private def rewriteStoreDir(dir: String, partitionCols: Seq[String],
      out: GraftDatabase): Unit = {
    val p = Paths.get(dir)
    val hasParquet = Files.exists(p) && {
      val s = Files.walk(p)
      try s.anyMatch(f => f.toString.endsWith(".parquet")) finally s.close()
    }
    if (hasParquet) {
      val tmp = s"$dir.rebuild"
      val df = spark.read.options(ioOptions).parquet(dir)
      val w = df.write.options(out.ioOptions).mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tmp)
      // crash-safe exchange: the data is on disk in `dir` or
      // `dir.retire` at every instant; recoverSwap at open completes an
      // interrupted exchange
      graft.core.FsUtils.swapDirectory(Paths.get(tmp), p)
    }
  }

  /** Versioned file store under `Files/` (the reference's
    * `IotDatabase.Files` check-in/check-out surface,
    * `FileManager/FileCollection.cs`).
    */
  lazy val fileStore: graft.sources.FileStore =
    new graft.sources.FileStore(spark, filesDir, ioOptions,
      () => requireNotRetired())

  /** Per-value audit chain (the reference's
    * `TableCollection.Blocks(iotValueGuid)`,
    * `Blockchain/BlockCollection.cs`): an append-only hash chain under
    * `Blockchain/`, partition-pruned per guid. Writes go through the
    * same size-limit and retirement fences as every other store.
    */
  def blocks(iotValueGuid: String): BlockStore =
    new BlockStore(spark, blocksDir, iotValueGuid, ioOptions,
      () => enforceLimitSize(txlog.snapshot()))

  /** Users/permissions layer (the reference's `Users/UserManager.cs`
    * surface): backed by `sys_users`/`sys_permissions` facade tables with
    * the cascade FK the reference declares on Permission.UserId.
    */
  lazy val users: UserManager = new UserManager(this)

  /** Typed fluent query over a table (the reference's
    * `col.Query().Where(...).OrderBy(...).Select(...)` surface,
    * `LiteQueryable`, SURVEY §3.2). The database collation applies to the
    * base table (Collation.collate retags string columns with Spark's
    * native collated types), so every predicate/order/select Column the
    * caller chains compares under it — the reference's engine-wide
    * collation, without per-predicate rewrites.
    */
  def query(name: String): FluentQuery =
    new FluentQuery(collation.collate(table(name)),
      collate = collation.collate)

  /** Ingest raw JSON documents as a dynamic table (the reference's raw
    * BsonDocument collections): `pinned` fields become typed columns, the
    * rest rides the `_overflow` JSON column (see DynamicDocs).
    */
  def insertDocuments(name: String, docs: Seq[String],
      pinned: org.apache.spark.sql.types.StructType): Unit = {
    requireNoOpenTx()
    val snap = txlog.snapshot()
    val incoming = DynamicDocs.fromJson(spark, docs, pinned)
    val merged = readPinned(snap, norm(name)).fold(incoming)(
      _.unionByName(incoming, allowMissingColumns = true))
    writeReplace(snap, norm(name), merged)
  }

  /** Find over a dynamic table: pinned columns filter natively, overflow
    * fields via JSON lookup (TableCollection.Find(columnName, value,
    * comparisonType) with the reference's Equals/StartsWith/EndsWith/
    * Contains modes, `Base/Comparison.cs`).
    */
  def findDocuments(name: String, field: String, value: Any,
      comparison: DynamicDocs.Comparison = DynamicDocs.Comparison.Equals)
      : DataFrame =
    DynamicDocs.find(table(name), field, value, comparison, collation)

  // ---- time-series store (TimeSeries/ subtree, SURVEY §2.8) --------------

  /** Append points (point_guid, ts, value[, priority]) to the TS store,
    * date-partitioned.
    */
  def tsAppend(points: DataFrame): Unit = {
    enforceLimitSize(txlog.snapshot())
    points.withColumn("date", to_date(col("ts")))
      .write.options(ioOptions).mode("append").partitionBy("date").parquet(tsDir)
  }

  /** Range read with LOCF (GetTimeSeries(start, end),
    * TsCollection.cs:130-185). Partition pruning applies via the date
    * column derived from the bounds.
    */
  def tsRange(guid: String, start: java.sql.Timestamp,
      end: java.sql.Timestamp): DataFrame =
    spark.read.options(ioOptions).parquet(tsDir)
      .filter(col("point_guid") === guid &&
        col("date").between(to_date(lit(start)), to_date(lit(end))) &&
        col("ts").between(lit(start), lit(end)))

  /** Interval read with linear interpolation (GetTimeSeries(start, end,
    * interval), TsCollection.cs:188-233).
    */
  def tsResample(guid: String, start: java.sql.Timestamp,
      end: java.sql.Timestamp, stepSeconds: Long): DataFrame =
    TimeSeriesOps.resampleLinear(
      // collapse exact-timestamp duplicates (ingest-time dedup in the
      // reference, TsCollection.cs:43-103) so neighbor picks are unique
      tsRange(guid, start, end).groupBy("point_guid", "ts")
        .agg(org.apache.spark.sql.functions.max(col("value")).as("value")),
      "point_guid", "ts", "value", stepSeconds)

  // ---- LiteDB SQL dialect over this database's tables --------------------

  /** FK registry for the query engines, keyed (parent, child) lowercase —
    * the normalization both LiteSql and NaturalQuery look up with.
    */
  private def fkRegistry: Map[(String, String), (String, String)] =
    defs.values.flatMap(td => td.fks.map(fk =>
      (fk.parentTable, td.name) -> (fk.parentCol, fk.childCol))).toMap

  // Memoized SQL engine over ALL tables (declared + materialized dynamic
  // ones), paired with the SNAPSHOT its views were loaded at — every DML
  // it produces persists at it and is conflict-checked from its version.
  // Dropped on every facade write: its DataFrames hold file-listing
  // snapshots, and re-registering per call would cost a whole-catalog
  // footer read per statement.
  private var sqlEngine: Option[(graft.query.LiteSql, TxLog.Snapshot)] = None
  private def invalidateSqlEngine(): Unit = sqlEngine = None

  /** The SQL layer's storage hook: DDL/admin statements parsed by LiteSql
    * act on THIS facade (SqlParser.cs routes them to LiteEngine the same
    * way). Every action invalidates the memoized engine itself, so the
    * next statement rebuilds its view map from the changed catalog.
    */
  private lazy val facadeAdmin: graft.query.LiteSql.Admin =
    new graft.query.LiteSql.Admin {
      private val db = GraftDatabase.this
      def dropCollection(name: String): Boolean = db.dropCollection(name)
      def renameCollection(name: String, newName: String): Boolean =
        db.renameCollection(name, newName)
      def ensureIndex(collection: String, indexName: String, column: String,
          unique: Boolean): Boolean =
        db.ensureIndex(collection, indexName, column, unique)
      def dropIndex(collection: String, indexName: String): Boolean =
        db.dropIndex(collection, indexName)
      def pragma(name: String): Any = db.pragma(name)
      def setPragma(name: String, value: Any): Unit = db.setPragma(name, value)
      def checkpoint(): Seq[String] = db.checkpoint()
      def beginTrans(): Boolean = db.beginTrans()
      def commitTrans(): Boolean = db.commitTrans()
      def rollbackTrans(): Boolean = db.rollbackTrans()
      def tableAt(name: String, version: Long): Option[DataFrame] =
        db.tableAt(name, version)
      def tableAtTime(name: String, epochMs: Long): Option[DataFrame] =
        db.tableAsOf(name, java.time.Instant.ofEpochMilli(epochMs))
      def optimizeCollection(name: String): (Int, Int) = db.optimize(name)
      def optimizeZorderCollection(name: String,
          cols: Seq[String]): (Int, Int) = db.optimizeZorder(name, cols)
      def cloneCollection(src: String, dst: String): Boolean = {
        db.cloneCollection(src, dst); true
      }
      def cloneCollectionAt(src: String, dst: String,
          version: Long): Boolean = {
        db.cloneCollection(src, dst, version); true
      }
      def versionAtTime(epochMs: Long): Long =
        db.versionAt(java.time.Instant.ofEpochMilli(epochMs))
      def addColumn(name: String, column: String, ddlType: String): Unit =
        db.addColumn(name, column,
          org.apache.spark.sql.types.DataType.fromDDL(ddlType))
      def renameColumn(name: String, from: String, to: String): Unit =
        db.renameColumn(name, from, to)
      def dropColumn(name: String, column: String): Unit =
        db.dropColumn(name, column)
      def widenColumn(name: String, column: String, ddlType: String): Unit =
        db.widenColumn(name, column,
          org.apache.spark.sql.types.DataType.fromDDL(ddlType))
      def restoreCollection(name: String, version: Long): Unit =
        db.restore(name, version)
      def vacuumStore(keepVersions: Option[Int],
          minAgeMs: Option[Long]): Int =
        db.vacuum(keepVersions.getOrElse(2),
          minAgeMs.getOrElse(15L * 60 * 1000)).size
      def historyFrame: DataFrame = db.history
    }

  /** Run a LiteDB-dialect SQL statement ($-paths, INCLUDE, GROUP BY
    * @key, INSERT/UPDATE/DELETE/EXPLAIN) against this database's tables —
    * the facade twin of `db.Execute(sql)` in the reference. FK
    * declarations from `defineTable` feed INCLUDE's join resolution; the
    * database's collation applies to every comparison; DML persists to
    * the table store and returns the affected-row count, with declared
    * PK/unique/FK constraints re-checked on the INSERT/UPDATE outcome
    * (SQL DELETE does not cascade, mirroring the reference's SQL layer —
    * cascading lives on `delete`).
    */
  /** [[sql]] with bound parameters — the reference's
    * `db.Execute(sql, args)` overloads. Positional `@0 @1 …` by
    * default; pass a single `Map[String, Any]` to bind `@name` tokens.
    * Values lower to type-correct literals BEFORE parsing (see
    * [[graft.query.LiteSql.bindParams]]), so parameter content is
    * never syntax — the injection-safe path, and the one a query
    * builder ("GPT Query Ready" in the reference) should call.
    */
  def sql(liteSql: String, params: Any*): DataFrame = params match {
    case Seq(m: Map[_, _]) =>
      sql(graft.query.LiteSql.bindParams(liteSql, Nil,
        m.asInstanceOf[Map[String, Any]]))
    case _ =>
      sql(graft.query.LiteSql.bindParams(liteSql, params, Map.empty))
  }

  def sql(liteSql: String): DataFrame = {
    val (engine, snap) = sqlEngine.getOrElse {
      val snap = txlog.snapshot()
      val loaded = snap.tables.keys.map(n => n -> tableIn(snap, n)).toMap
      val e = new graft.query.LiteSql(spark, loaded, fkRegistry, collation,
        admin = Some(facadeAdmin))
      sqlEngine = Some((e, snap))
      (e, snap)
    }
    try {
      val wasInTx = txBuffer.isDefined
      val out = engine.execute(liteSql)
      // constraint check per statement (both modes): DELETE may
      // legitimately leave orphans (no cascade in the SQL layer);
      // INSERT/UPDATE outcomes must satisfy declared constraints, like
      // the reference's index maintenance — checked against the rows
      // the statement actually touched, so pre-existing state never
      // re-fails. Parent tables read the ENGINE's current state when
      // it was modified earlier in an open transaction.
      def parentStates(tdef: TableDef): Map[String, DataFrame] =
        tdef.fks.map { fk =>
          fk.parentTable -> engine.modified.get(fk.parentTable)
            .map(decollate).getOrElse(tableIn(snap, fk.parentTable))
        }.toMap
      def check(n: String, state: DataFrame): Unit =
        defs.get(n).foreach { tdef =>
          if (engine.lastSetTargets.exists(_.equalsIgnoreCase(tdef.pk)))
            throw new IllegalArgumentException(
              s"cannot modify the PK '${tdef.pk}' via SQL UPDATE " +
                "(reference: LiteDB forbids _id transforms)")
          engine.changedRows.get(n).foreach { changed =>
            // UPDATE/DELETE/insert-free MERGE keep pre-existing distinct
            // PKs (the SET-target guard above refuses PK transforms) —
            // skip the duplicate scan for them
            requireClean(ConstrainedDml.validateUpdate(
              spark, tdef, decollate(changed), decollate(state),
              parentStates(tdef), pkImmutable = !engine.lastHadInserts))
          }
        }
      txBuffer match {
        case Some(buf) =>
          // open transaction: validate now, buffer the state, persist
          // nothing — later statements in this tx see the engine's
          // in-memory views; COMMIT publishes the buffer atomically
          engine.modified.foreach { case (n, state) =>
            check(n, state)
            buf(n) = decollate(state)
          }
        case None if wasInTx =>
          // this statement WAS the COMMIT/ROLLBACK: the transaction
          // already published (or discarded) the buffered states —
          // re-persisting engine.modified here would double-commit
          ()
        case None =>
          engine.modified.foreach { case (n, state0) =>
            val state = decollate(state0)
            // File-granular persist, like the facade DML: the statement
            // knows which rows it touched (changedRows/deletedRows), so
            // only files HOLDING one of their PKs rewrite; rows with
            // brand-new PKs (INSERT, SELECT INTO an existing table)
            // append. Falls back to the full rewrite when the table has
            // no declared PK, isn't materialized yet, or mapping fails.
            val changed = engine.changedRows.get(n).map(decollate)
            val touchedKeys =
              changed.toSeq ++ engine.deletedRows.get(n).map(decollate)
            defs.get(n).filter(tdef => touchedKeys.nonEmpty &&
              snap.tables.contains(n) && state.columns.contains(tdef.pk) &&
              touchedKeys.forall(_.columns.contains(tdef.pk))) match {
              case Some(tdef) =>
                val keys = touchedKeys.map(_.select(col(tdef.pk)))
                  .reduce(_ unionByName _).distinct()
                // a statement that matched no row (0-hit UPDATE/DELETE)
                // left the state unchanged — persist nothing, and drop
                // the engine: it still lists the table as modified, so
                // the next statement would rewrite it in full
                if (keys.isEmpty) { check(n, state0); invalidateSqlEngine() }
                else {
                  // hit files resolve at the ENGINE's snapshot — the
                  // data the statement actually read — and so does the
                  // granular commit's binding. If an interleaved commit
                  // replaced one of them, the commit's conflict check
                  // from the snapshot's version fires. Resolving at head
                  // instead would let a commuting patch silently revert
                  // a concurrent writer's rows.
                  val marked = markedIn(snap, n)
                  // commuting patch only for statements that add NO
                  // PKs (UPDATE/DELETE/insert-free MERGE) on
                  // constraint-free tables — two concurrent patches
                  // could otherwise both land the same new PK
                  val stmtPatchSafe = tdef.uniqueCols.isEmpty &&
                    !engine.lastHadInserts &&
                    (engine.lastSetTargets.nonEmpty ||
                      engine.deletedRows.contains(n))
                  // the hit files' rows the statement did not touch
                  // (null-safe: a null PK is a key too) keep; its
                  // changed rows land beside them
                  val gone = keys.select(col(tdef.pk).as("_graft_key"))
                  keyedRewrite(snap, tdef, marked,
                    probeHits(n, tdef.pk, marked, keys),
                    emptyHitsAppend = true, patchSafe = stmtPatchSafe,
                    extra = Nil)(check(n, state0)) { scan =>
                    changed.foldLeft(scan.join(gone,
                      scan(tdef.pk) <=> gone("_graft_key"), "left_anti"))(
                      _.unionByName(_, allowMissingColumns = true))
                  }(state)
                }
              case None =>
                // conflict-checked against the version the engine's
                // views were LOADED at (the data this statement actually
                // read), with FK parents in the read set — a concurrent
                // writer since then must conflict, not be silently
                // overwritten
                check(n, state0)
                writeReplace(snap, n, state, readTables =
                  defs.get(n).fold(Set.empty[String])(
                    _.fks.map(_.parentTable).toSet))
            }
          }
      }
      out
    } catch {
      case t: Throwable =>
        // a failed statement (parse error, constraint violation) may have
        // rebound the engine's in-memory views to the rejected state —
        // discard it; inside a transaction the reference auto-rolls-back
        // the whole transaction on a failed statement, and so do we
        txBuffer = None
        invalidateSqlEngine()
        throw t
    }
  }

  /** Strip engine-collation tags before persisting (stored bytes are
    * collation-agnostic; the collation re-applies on read).
    */
  private def decollate(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.StringType
    if (!df.schema.fields.exists(f =>
        f.dataType.isInstanceOf[StringType] && f.dataType != StringType)) df
    else df.select(df.schema.fields.toIndexedSeq.map { f =>
      if (f.dataType.isInstanceOf[StringType] && f.dataType != StringType)
        col(f.name).cast(StringType).as(f.name)
      else col(f.name)
    }: _*)
  }

  // ---- system/diagnostic collections -------------------------------------

  /** Query a system collection by its `$name` — the facade twin of
    * `db.Execute("SELECT $ FROM $cols")` in the reference
    * (`LiteDB/Engine/SystemCollections/Register.cs:14-33`). `options`
    * carries the collection's argument where the reference takes one:
    * `$query` takes `sql`, `$file` takes `path` (+ optional
    * `format`=csv|json, default csv). See [[SystemCollections]] for each
    * collection's lakehouse mapping.
    */
  def system(name: String, options: Map[String, String] = Map.empty): DataFrame = {
    // manifest collections enumerate the SNAPSHOT's live files, never
    // the raw directory tree (which also holds not-yet-vacuumed files
    // of older versions)
    def dataTables: Seq[(String, String)] =
      txlog.snapshot().tables.toSeq.sortBy(_._1).flatMap { case (t, fs) =>
        fs.map(f => t -> s"$root/$f")
      }
    name match {
      case "$database"     => SystemCollections.sysDatabase(this)
      case "$cols"         => SystemCollections.sysCols(this)
      case "$indexes"      => SystemCollections.sysIndexes(this)
      case "$sequences"    => SystemCollections.sysSequences(this)
      case "$transactions" => SystemCollections.sysTransactions(spark)
      case "$snapshots"    => SystemCollections.sysSnapshots(spark)
      case "$open_cursors" => SystemCollections.sysOpenCursors(spark)
      case "$dump"         => SystemCollections.fileManifest(spark, dataTables)
      case "$page_list"    => SystemCollections.rowGroupManifest(spark, dataTables)
      case "$log"          => history // commit history (beyond-reference)
      case "$query"        => sql(options.getOrElse("sql",
        throw new IllegalArgumentException("$query needs options(\"sql\")")))
      case "$file" =>
        val path = options.getOrElse("path",
          throw new IllegalArgumentException("$file needs options(\"path\")"))
        options.getOrElse("format", "csv") match {
          case "csv"  => graft.sources.FileSources.readCsv(spark, path)
          case "json" => graft.sources.FileSources.readJson(spark, path)
          case other  => throw new IllegalArgumentException(
            s"unsupported $$file format '$other' (csv|json)")
        }
      case other => throw new IllegalArgumentException(
        s"unknown system collection '$other' " +
          s"(known: ${SystemCollections.names.mkString(", ")})")
    }
  }

  // ---- natural-language query over this database's tables ----------------

  /** Run a FIND/WHERE/SELECT/INCLUDE/INNERJOIN natural-language query
    * against this database's tables — the facade twin of `db.Query(...)`
    * in the reference, with INCLUDE joins resolved from `defineTable`
    * FK declarations and the database collation applied.
    */
  def find(nlQuery: String): DataFrame = {
    val snap = txlog.snapshot()
    new graft.query.NaturalQuery(spark,
      (n: String) => readPinned(snap, norm(n)), fkRegistry, collation)
      .run(nlQuery)
  }

  // ---- corpus curation (training-data pipeline, COVERAGE §LLM ops) -------

  /** Run the end-to-end curation DAG over a documents table (doc_id,
    * text, lang, n_chars) against an eval set, landing
    * verdicts/curated/manifest under this database's directory. See
    * `pipeline.CurationPipeline` for the stage list and scale shapes.
    */
  def curate(docsTable: String, evalDocs: DataFrame,
      cfg: graft.pipeline.CurationPipeline.Config =
        graft.pipeline.CurationPipeline.Config()): DataFrame =
    graft.pipeline.CurationPipeline.write(
      spark, table(docsTable), evalDocs, s"$root/Curation", cfg)
}

object GraftDatabase {

  /** Hit files a caller probed through [[GraftDatabase.tableMarked]]
    * (as its file column names them) and the log version that frame
    * read — see [[GraftDatabase.mergeBatch]].
    */
  final case class KnownHits(version: Long, files: Seq[String])

  /** The database-level feed's fixed schema (see [[GraftDatabase.changesAllTables]]). */
  val MultiplexEnvelope: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_table",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("_row",
        org.apache.spark.sql.types.StringType, nullable = true)))

  // ---- commit-primitive registry --------------------------------------------
  // `spark.readStream.format("graft-changes")` reaches GraftDatabase
  // through string options only, so a non-default CommitPrimitive (an
  // object-store client, a latency-injected wrapper) cannot ride the
  // options directly. Register it under a key and pass
  // `.option("commitPrimitiveRef", key)` — the stream's internal
  // database handle then publishes AND reads its log through it
  // (a real cloud consumer's store client; the read-charged runs in
  // SCALE.md "Round 13: the read-charged wide-area model").
  private val primitiveRefs =
    new java.util.concurrent.ConcurrentHashMap[String, CommitPrimitive]()

  /** Register `p` for streams to reference as
    * `.option("commitPrimitiveRef", key)`. Process-wide; re-registering
    * a key replaces it (streams resolve at open time).
    */
  def registerCommitPrimitive(key: String, p: CommitPrimitive): Unit = {
    primitiveRefs.put(key, p)
    ()
  }

  private[graft] def resolveCommitPrimitive(key: String): CommitPrimitive = {
    val p = primitiveRefs.get(key)
    if (p == null) throw new IllegalArgumentException(
      s"commitPrimitiveRef '$key' is not registered — call " +
        "GraftDatabase.registerCommitPrimitive(key, primitive) in this " +
        "process first")
    p
  }

  /** Open/create a database directory (IotDatabase.cs:149-161 tree). */
  def apply(spark: SparkSession, name: String, baseDir: String): GraftDatabase =
    apply(spark, name, baseDir, graft.core.Collation.Binary)

  /** Open with an explicit engine collation (the reference's constructor
    * takes a Collation; its default is case-insensitive).
    */
  def apply(spark: SparkSession, name: String, baseDir: String,
      collation: graft.core.Collation): GraftDatabase =
    apply(spark, name, baseDir, collation, None)

  /** Open with transparent file-at-rest encryption (the reference's
    * connection-string `Password=`, `AesStream.cs`): every data file is
    * written/read with Parquet Modular Encryption keyed from the
    * password (`core.FileCrypto`). A password mismatch with the
    * on-disk state fails loudly HERE — the reference's
    * encryption-indicator check — not deep inside a later scan.
    */
  def apply(spark: SparkSession, name: String, baseDir: String,
      collation: graft.core.Collation,
      password: Option[String]): GraftDatabase =
    apply(spark, name, baseDir, collation, password, CommitPrimitive.posix)

  /** Open with an explicit commit primitive — the one knob a cloud
    * deployment changes: pass a conditional-write [[CommitPrimitive]]
    * (S3 `If-None-Match: *`, GCS generation-match 0) and every ACID
    * commit publishes through it; all other layers already speak
    * immutable listed objects.
    */
  def apply(spark: SparkSession, name: String, baseDir: String,
      collation: graft.core.Collation, password: Option[String],
      commitPrimitive: CommitPrimitive): GraftDatabase = {
    requireValidDbName(name)
    val root = s"$baseDir/$name"
    probeEncryptionState(spark, root).foreach { enc =>
      if (enc && password.isEmpty) throw new IllegalStateException(
        s"database '$name' is encrypted: open it with its password")
      if (!enc && password.isDefined) throw new IllegalStateException(
        s"database '$name' is not encrypted: open it without a password " +
          "(rebuild(password = ...) encrypts it)")
    }
    new GraftDatabase(spark, name, root, collation, password, commitPrimitive)
  }

  /** Database-name validation (`Helper/DbValidator.cs:11-31`): the name
    * becomes a directory under baseDir, so separators and traversal
    * must be refused — a name like `../x` would root the database
    * OUTSIDE the caller's base. A documented SUPERSET of the reference's
    * check: `DbValidator.cs` only refuses the dotted prefixes `CON.` /
    * `PRN.` / `AUX.` / `NUL.` / `COM1-2.` / `LPT1-2.`, which still lets
    * through bare device names (`CON`, `COM3`) and trailing dots/spaces
    * that Windows cannot create as directories — here the full reserved
    * set is refused whether bare or with an extension.
    */
  private val ReservedDeviceNames: Set[String] =
    (Seq("CON", "PRN", "AUX", "NUL") ++
      (1 to 9).flatMap(i => Seq(s"COM$i", s"LPT$i"))).toSet

  private def requireValidDbName(name: String): Unit = {
    def bad(reason: String) = throw new IllegalArgumentException(
      s"invalid database name '$name': $reason")
    if (name == null || name.trim.isEmpty) bad("empty")
    if (name.length > 128) bad("longer than 128 characters")
    if (name == "." || name == "..") bad("path traversal")
    val invalid = name.find(c => c == '/' || c == '\\' || c == ':' ||
      c == '*' || c == '?' || c == '"' || c == '<' || c == '>' ||
      c == '|' || c < ' ')
    invalid.foreach(c => bad(s"illegal character '$c'"))
    if (name.endsWith(".") || name.endsWith(" "))
      bad("trailing dot or space")
    val stem = name.toUpperCase.takeWhile(_ != '.').trim
    if (ReservedDeviceNames.contains(stem)) bad("reserved device name")
  }

  /** Footer magic of one existing data file: Some(true) = encrypted
    * store, Some(false) = plaintext, None = empty database (either
    * password state is fine). Checks the commit log's head snapshot, or
    * the legacy layout's loose files for a not-yet-imported directory.
    */
  private def probeEncryptionState(spark: SparkSession,
      root: String): Option[Boolean] = {
    val log = new TxLog(spark, root)
    val fromTables: Option[String] =
      if (log.version > 0L)
        log.snapshot().tables.values.flatten.toSeq.headOption.map(r => s"$root/$r")
      else Option(new java.io.File(s"$root/Tables").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(d => d.isDirectory && !d.getName.startsWith("."))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[java.io.File]))
        .find(f => f.isFile && f.getName.endsWith(".parquet") &&
          !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .map(_.getPath)
    // a database can hold ONLY time-series points or checked-in files —
    // those stores must trip the open-time check too
    val first = fromTables.orElse(
      Seq(s"$root/TimeSeries", s"$root/Files").collectFirst(
        Function.unlift { d =>
          val p = Paths.get(d)
          if (!Files.exists(p)) None
          else {
            val s = Files.walk(p)
            try s.iterator().asScala.find(f =>
              f.getFileName.toString.endsWith(".parquet") &&
                !f.getFileName.toString.startsWith("."))
              .map(_.toString)
            finally s.close()
          }
        }))
    first.map(graft.core.FileCrypto.isEncryptedFile)
  }

  /** Load-or-create the database's random crypto salt
    * (`<root>/_crypto.salt`): the stored-salt property of the
    * reference's AesStream header, one per database. Created with an
    * exclusive write so two first-openers agree.
    */
  private[catalog] def ensureCryptoSalt(root: String): String = {
    val p = Paths.get(root, "_crypto.salt")
    if (!Files.exists(p)) {
      val bytes = new Array[Byte](16)
      new java.security.SecureRandom().nextBytes(bytes)
      val hex = bytes.map("%02x".format(_)).mkString
      Files.createDirectories(p.getParent)
      // write-then-link CAS (same primitive as TxLog.publish): the salt
      // file appears fully written or not at all — a bare CREATE_NEW +
      // write would let a concurrent opener read an empty/partial salt
      // and derive a master key that never exists again
      val tmp = Files.createTempFile(p.getParent, ".salt", ".tmp")
      try {
        Files.write(tmp, hex.getBytes("UTF-8"))
        try Files.createLink(p, tmp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException => () // racer won
          case _: UnsupportedOperationException =>
            if (!Files.exists(p)) Files.move(tmp, p)
        }
      } finally Files.deleteIfExists(tmp)
    }
    val salt = new String(Files.readAllBytes(p), "UTF-8").trim
    require(salt.nonEmpty,
      s"corrupt crypto salt at $p: restore it from backup — without the " +
        "original salt the database's master keys cannot be re-derived")
    salt
  }
}
