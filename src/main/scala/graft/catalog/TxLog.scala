package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal multi-table ACID commit log over immutable parquet files —
  * the lakehouse replacement for the reference's WAL + snapshot
  * isolation (`LiteDB/Engine/Services/WalIndexService.cs:143-291`,
  * `TransactionService.cs:125-282`). The reference keeps a page-level
  * WAL and confirms transactions by appending a commit page; readers
  * resolve each page through the WAL index at their start version.
  * The same contract re-expressed for a file-based store:
  *
  *   - data files are IMMUTABLE: every write stages NEW parquet files
  *     under the table directory and never touches live ones
  *   - a version file under `_txlog/` lists, per commit, the actions
  *     that change table → file-set bindings; the COMMITTED state is
  *     exactly the set of published version files
  *   - publishing is a single atomic filesystem primitive (hard-link
  *     creation, which fails if the target exists), so one commit wins
  *     any race — the optimistic-concurrency analog of the reference's
  *     exclusive commit lock
  *   - readers resolve a table to a concrete file list at their
  *     snapshot version; because files are immutable and vacuum only
  *     retires files unreferenced by retained versions, a long-running
  *     reader's plan stays valid while writers commit (snapshot
  *     isolation without any reader/writer blocking)
  *
  * Scale posture: the log holds METADATA only (file paths), a few
  * hundred bytes per commit; snapshot resolution replays at most
  * `checkpointEvery` action files past the newest checkpoint, never the
  * whole history. Data movement stays fully distributed — staging a
  * table state is an ordinary parquet write job.
  *
  * Layout under a database root:
  * {{{
  *   _txlog/v00000001.txt        one commit: action lines
  *   _txlog/v00000010.ckpt.txt   full-snapshot checkpoint
  *   Tables/{table}/d-{uuid}/part-*.parquet   immutable data files
  * }}}
  *
  * Action lines (tab-separated):
  * {{{
  *   PUT  table  f1,f2,...          replace the table's file set
  *   ADD  table  f1,f2,...          append files to the table's set
  *   PAT  table  r1,r2  a1,a2       relative exchange: current − removes + adds
  *   DEL  table                     drop the table
  *   REN  old    new                rename the table
  *   SCH  table  b64(schema json)   set the table's authoritative schema
  *   TXN  appId  batchId            idempotence marker
  * }}}
  *
  * Isolation levels (the Delta model): readers are always
  * snapshot-isolated. ABSOLUTE commits (PUT/ADD/DEL/REN, with the read
  * set covered) are serializable — any interleaved touch of a
  * read-or-written table conflicts. PATCH commits are
  * write-serializable: patches over disjoint file sets commute even
  * though each writer's predicate scan may have read rows the other
  * rewrote (classic write-skew is ADMITTED for them) — which is why
  * the facade only emits patches for transforms whose validation
  * cannot be invalidated by unread rows (no unique constraints, no new
  * PKs), and stays absolute everywhere else.
  */
final class TxLog(spark: SparkSession, root: String,
    ioOptions: Map[String, String] = Map.empty,
    primitive: CommitPrimitive = CommitPrimitive.posix) {
  import TxLog._

  private val logDir = Paths.get(root, "_txlog")
  Files.createDirectories(logDir)

  // the session-wide auto-skipping rule (StatsPruneRule) reads the
  // stats of the newest head snapshot any log on this root resolved:
  // registry key is the normalized absolute root
  private val registryKey = Paths.get(root).toAbsolutePath.normalize.toString

  // timestamps stage as TIMESTAMP_MICROS, not Spark's INT96 default:
  // INT96 is a deprecated non-standard encoding whose footers carry NO
  // usable min/max, so time-range data skipping — the engine's
  // signature query shape — could never prune. Session-wide because
  // parquet ignores per-write options for this key; but only the
  // DEFAULT is overridden — a user who EXPLICITLY set the conf (even
  // to INT96) keeps their choice, with a loud warning about the
  // skipping it disables. (MILLIS/MICROS both carry exact stats and
  // normalize at harvest.)
  locally {
    val k = "spark.sql.parquet.outputTimestampType"
    if (!org.apache.spark.sql.graft.ConfShim.isSetByUser(spark, k)) {
      if (spark.conf.get(k, "INT96") == "INT96")
        spark.conf.set(k, "TIMESTAMP_MICROS")
    } else if (spark.conf.get(k) == "INT96")
      Console.err.println(s"[graft] WARN: $k=INT96 was explicitly set " +
        "on this session and is respected — but INT96 footers carry no " +
        "usable min/max, so TIMESTAMP-range file skipping is disabled " +
        s"for data staged under $root")
  }

  // ---- version discovery ---------------------------------------------------

  /** Latest committed version (0 = empty log). Counts a zero-byte
    * IN-FLIGHT head too — the raw slot counter the publish CAS needs.
    * Readers and DML validation bases want the head [[snapshot]]'s
    * version instead.
    */
  def version: Long = listVersions().lastOption.getOrElse(0L)

  /** ONE log-directory listing serving both discoveries: (versions,
    * checkpoints), each sorted. On an object store a LIST is a charged
    * round trip, and version + checkpoint discovery always want the
    * same prefix — splitting them doubled the per-resolve LIST count.
    */
  private def listLog(): (Seq[Long], Seq[Long]) = {
    TxLog.logListings.incrementAndGet()
    val names = primitive.listNames(logDir)
    val r = (names.collect { case VersionRe(n) => n.toLong }.sorted,
      names.collect { case CkptRe(n) => n.toLong }.sorted)
    lastListing = (System.currentTimeMillis(), r)
    r
  }

  // the most recent listing, reusable for BOUNDED-version resolution:
  // snapshotAt(v) only needs the listing's view of versions ≤ v, which
  // new commits never change — only vacuum does, and vacuum's retention
  // floor (keepVersions + minAgeMs grace) makes a listing taken moments
  // ago equivalent to one taken now for any version inside retention.
  // Head discovery (version / snapshot) ALWAYS lists fresh.
  @volatile private var lastListing: (Long, (Seq[Long], Seq[Long])) =
    (0L, (Vector.empty, Vector.empty))

  /** A listing sufficient to resolve versions ≤ `v`: the cached one
    * when it already covers `v` and is younger than
    * [[TxLog.ListingReuseMs]], else a fresh LIST. Halves the
    * charged-LIST count of a change-feed trigger (head discovery lists
    * fresh; the trigger's two snapshot resolutions reuse it).
    */
  private def listLogAtMost(v: Long): (Seq[Long], Seq[Long]) = {
    val (ts, l) = lastListing
    if (l._1.nonEmpty && l._1.last >= v &&
        System.currentTimeMillis() - ts <= TxLog.ListingReuseMs) l
    else listLog()
  }

  private def listVersions(): Seq[Long] = listLog()._1

  private def listCheckpoints(): Seq[Long] = listLog()._2

  // ---- snapshots -----------------------------------------------------------

  // the facade resolves the head snapshot on every tableExists/read;
  // cache it keyed by version (one cheap dir listing validates it)
  @volatile private var headCache: Option[Snapshot] = None

  /** Table → relative-file-list binding at the latest SETTLED version:
    * one LIST. A statement resolves this once and reads, stages and
    * commits from it (its version is the commit's read version).
    *
    * Its version resolves BELOW a zero-byte in-flight publish. DML
    * bases and change-feed cursors MUST use it, not raw [[version]]: a
    * base taken at an unsettled head v sits at-or-above the in-flight
    * slot, so commit()'s conflict check (readVersion+1 ..) would never
    * inspect v — its actions, landing later, would be silently skipped
    * by validation (lost conflict) and by any feed whose cursor already
    * moved past v.
    *
    * Defense against publishers without full-content atomicity (the
    * [[CommitPrimitive]] contract forbids it, but a legacy claim→move
    * fallback or a crashed old-version writer can leave one): a
    * ZERO-BYTE newest version file is treated as in-flight — the head
    * resolves at the newest NON-EMPTY version and is NOT cached, so
    * once the content lands the very next call sees it. Caching the
    * empty read would serve a snapshot missing commit v's actions for
    * v's whole lifetime (a durable lost-visibility anomaly, not a
    * transient).
    */
  def snapshot(): Snapshot = {
    val v = version
    val s = headCache match {
      case Some(s) if s.version == v => s
      case _ =>
        if (v > 0 && !settled(versionFile(v))) {
          // in-flight head: answer below it, never cache
          val vs = listVersions().filter(x => x < v && hasContent(versionFile(x)))
          snapshotAt(vs.lastOption.getOrElse(0L))
        } else {
          val s = snapshotAt(v)
          headCache = Some(s)
          s
        }
    }
    GraftStatsRegistry.published(registryKey, this, s)
    s
  }

  /** Spin briefly for an in-flight (zero-byte) file to land its
    * content; true once non-empty (or gone — vacuumed), false if still
    * empty after the wait.
    */
  private def settled(f: Path, waitMs: Long = 250L): Boolean = {
    val deadline = System.currentTimeMillis() + waitMs
    while (isEmptyFile(f)) {
      if (System.currentTimeMillis() > deadline) return false
      Thread.sleep(10)
    }
    true
  }

  private def isEmptyFile(f: Path): Boolean = {
    TxLog.sizeProbes.incrementAndGet()
    primitive.sizeOf(f).contains(0L) // gone (raced a vacuum) = not empty
  }

  private def hasContent(f: Path): Boolean = {
    TxLog.sizeProbes.incrementAndGet()
    primitive.sizeOf(f).exists(_ > 0)
  }

  // ---- parsed-action cache ---------------------------------------------
  // A catch-up micro-batch parses each version file TWICE per trigger
  // (admission weighing in advanceByBudgets, then the snapshot replay
  // behind changes()), and conflict validation re-reads interleaved
  // commits on every retry; on an object store each parse is a GET.
  // Version files are IMMUTABLE once non-empty (the CommitPrimitive
  // publishes full content atomically), so parsed actions cache safely
  // in a bounded LRU. Callers KEEP their own existence / settledness
  // checks — vacuum truncation and in-flight slots fail exactly as
  // before; only the redundant re-read-and-parse goes. Size 0 disables
  // (the A/B measured in SCALE.md "One log read per version per
  // catch-up").
  private val actionCacheSize: Int =
    spark.conf.get("spark.graft.txlog.actionCacheSize", "4096").trim.toInt

  private val actionCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Long, Seq[Action]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Seq[Action]]): Boolean =
        size() > actionCacheSize
    })

  // parsed-checkpoint base states (immutable like version files); a few
  // entries cover the head checkpoint plus any time-travel targets
  private val ckptSnapCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Long, Snapshot](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Snapshot]): Boolean = size() > 8
    })

  /** Version `v`'s parsed actions, through the cache. Nil for a missing
    * (vacuumed) file; a zero-byte in-flight file parses to Nil and is
    * NEVER cached — its content lands later under the same name, the
    * one mutation the immutability argument excludes.
    */
  private def actionsOf(v: Long): Seq[Action] = {
    if (actionCacheSize > 0) {
      val hit = actionCache.get(v)
      if (hit != null) return hit
    }
    loadActions(v)
  }

  /** The miss path of [[actionsOf]]: ONE raw read (a GET on object
    * stores), parse, cache per the zero-byte rule. Also the unit of
    * work [[prefetchActions]] parallelizes.
    */
  private def loadActions(v: Long): Seq[Action] = {
    TxLog.versionFileReads.incrementAndGet()
    val bytes = primitive.readAll(versionFile(v)) match {
      case Some(b) => b
      case None => return Nil // raced a vacuum (or never landed)
    }
    val lines = new String(bytes, "UTF-8").split("\n", -1).toSeq
    val acts = parse(lines)
    if (actionCacheSize > 0 && lines.exists(_.nonEmpty))
      actionCache.put(v, acts)
    acts
  }

  /** Warm the parsed-action cache for `vs` with PARALLEL reads: on an
    * object store each version file is a serialized RTT on the caller's
    * thread, and the admission walk + snapshot replay consume them
    * strictly in order — prefetching turns O(versions) sequential GETs
    * per trigger into O(versions / pool) batches. Read accounting is
    * unchanged (each missing version still costs exactly one raw read,
    * through [[loadActions]]); disabled with the cache (size 0), since
    * uncached prefetch would just throw the work away.
    */
  private def prefetchActions(vs: Seq[Long]): Unit = {
    if (actionCacheSize <= 0) return
    val missing = vs.filter(v => actionCache.get(v) == null)
    if (missing.size < 2) return
    val fs = missing.map(v => java.util.concurrent.CompletableFuture
      .runAsync(() => {
        // best-effort: a failure here (corrupt line, wedged store) must
        // surface from the SEQUENTIAL consumer with its own typed error,
        // not as a CompletionException from the warm-up
        try { loadActions(v); () } catch { case _: Throwable => () }
      }, TxLog.prefetchPool))
    fs.foreach(_.join())
  }

  /** Replay from the newest checkpoint at or below `v` (bounded work:
    * at most `checkpointEvery` action files), like the reference's WAL
    * index resolving a read version without scanning the whole log.
    */
  // resolved snapshots keyed by version — IMMUTABLE like everything
  // else in the log (version v's state is version v's state forever,
  // vacuum included), so entries never invalidate. Small: a change-feed
  // trigger resolves (from, to) where from was last trigger's to, so
  // adjacency is what pays — each trigger folds only ITS versions'
  // actions onto the cached neighbor instead of re-reading a checkpoint
  // (a charged GET of the whole table-binding state) and replaying from
  // it. Bounded tight because one entry holds full table→file bindings.
  private val snapCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Long, Snapshot](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Snapshot]): Boolean = size() > 8
    })

  def snapshotAt(v: Long): Snapshot = {
    val exact = snapCache.get(v)
    if (exact != null) return exact
    // ONE listing serves checkpoint discovery and the replay range —
    // reused from the trigger's head discovery when it already covers v
    val (versions, checkpoints) = listLogAtMost(v)
    val ckpt0 = checkpoints.filter(_ <= v).lastOption
    // a cached snapshot at w < v is a better base than the checkpoint
    // whenever the listing still holds EVERY version in (w, v] (the
    // dense-range check: versions are gapless by the publish CAS, so
    // count == v − w proves nothing in between was vacuumed) — the fold
    // then runs off the action cache and the checkpoint GET disappears.
    // The gap bound keeps a pathological far-apart base from replaying
    // more actions than a checkpoint resolve would read.
    val cachedBase: Option[(Long, Snapshot)] = {
      val keys = snapCache.synchronized {
        import scala.jdk.CollectionConverters._
        snapCache.keySet.asScala.toVector
      }
      keys.filter(w => w < v && v - w <= TxLog.PrefetchWindow).maxOption
        .flatMap(w => Option(snapCache.get(w)).map(w -> _))
        .filter { case (w, _) =>
          versions.count(i => i > w && i <= v) == (v - w)
        }
    }
    val ckpt = cachedBase.map(_._1).orElse(ckpt0)
    val base: Snapshot = cachedBase.map(_._2).getOrElse(ckpt0 match {
      case None => Snapshot(0L, Map.empty)
      case Some(c) =>
        // checkpoints are immutable once published — cache the parsed
        // base state, or every cold snapshot resolution re-GETs and
        // re-folds the same checkpoint
        val hit = ckptSnapCache.get(c)
        if (hit != null) hit
        else {
          TxLog.ckptReads.incrementAndGet()
          val bytes = primitive.readAll(ckptFile(c)).getOrElse(
            throw new IllegalStateException(
              s"checkpoint $c listed but unreadable (vacuum race?) — retry"))
          val snap = parse(new String(bytes, "UTF-8").split("\n", -1).toSeq)
            .foldLeft(Snapshot(c, Map.empty))(applyAction)
          ckptSnapCache.put(c, snap)
          snap
        }
    })
    // replay the LISTED versions in range (missing = vacuumed below a
    // checkpoint) — never the dense numeric range, whose iteration cost
    // would be O(head version), not O(files since checkpoint)
    val replay = versions.filter(i => i > ckpt.getOrElse(0L) && i <= v)
    prefetchActions(replay)
    val snap = gcStats(replay
      .foldLeft(base) { (acc, i) =>
        actionsOf(i).foldLeft(acc)(applyAction)
      }.copy(version = v))
    // cache ONLY a fully-settled resolution: a replayed version absent
    // from the action cache parsed as empty — a zero-byte in-flight
    // publish whose actions land later under the same version (or a
    // vacuum race) — and freezing that miss would serve a permanently
    // wrong state for v (the action cache's zero-byte rule, lifted to
    // whole snapshots). Caching rides the action cache's enable switch.
    val settledAll = actionCacheSize > 0 &&
      replay.forall(i => actionCache.get(i) != null)
    if (settledAll) snapCache.put(v, snap)
    snap
  }

  private def applyAction(snap: Snapshot, a: Action): Snapshot = a match {
    case Put(t, fs)  => snap.copy(tables = snap.tables.updated(t, fs.toVector))
    case Add(t, fs)  => snap.copy(tables = snap.tables.updated(
      t, snap.tables.getOrElse(t, Vector.empty) ++ fs))
    case Patch(t, rm, ad) => snap.tables.get(t) match {
      // relative semantics: apply to WHATEVER the current binding is —
      // that is what lets two patches over disjoint files commute
      case Some(fs) =>
        val rmSet = rm.toSet
        snap.copy(tables = snap.tables.updated(t, fs.filterNot(rmSet) ++ ad))
      case None => snap // table dropped by an interleaved commit: stays dropped
    }
    case Del(t)      => snap.copy(tables = snap.tables - t,
      schemas = snap.schemas - t,
      stats = snap.stats.filterNot(_._1._1 == t),
      dvs = snap.dvs.filterNot(_._1._1 == t))
    case Ren(o, n)   => snap.tables.get(o) match {
      case Some(fs) =>
        val moved = snap.copy(tables = snap.tables - o + (n -> fs),
          stats = snap.stats.map { case ((t, f), js) =>
            (if (t == o) n else t, f) -> js
          },
          dvs = snap.dvs.map { case ((t, f), dv) =>
            (if (t == o) n else t, f) -> dv
          })
        snap.schemas.get(o) match {
          case Some(sc) => moved.copy(schemas = moved.schemas - o + (n -> sc))
          case None     => moved
        }
      case None     => snap
    }
    case Sch(t, js)  => snap.copy(schemas = snap.schemas.updated(t, js))
    case Sta(t, f, js) => snap.copy(stats = snap.stats.updated((t, f), js))
    case Dvec(t, f, dv) =>
      // empty dvFile = REMOVE the mask (RESTORE emits these for files
      // that carried no mask at the target version)
      if (dv.isEmpty) snap.copy(dvs = snap.dvs - ((t, f)))
      // conditional on the data file still being bound: a Dvec landing
      // after an interleaved rebind (possible only for blind commits —
      // versioned ones conflict first) must not resurrect as an orphan
      else if (snap.tables.get(t).exists(_.contains(f)))
        snap.copy(dvs = snap.dvs.updated((t, f), dv))
      else snap
    case Txn(a2, b)  => snap.copy(txns = snap.txns.updated(
      a2, math.max(b, snap.txns.getOrElse(a2, Long.MinValue))))
    case Cts(_)      => snap // pure metadata; resolved from version files
  }

  /** Retire stats of files a snapshot no longer binds (applied after
    * every action batch: Put replaced a file set, Patch removed files —
    * their stats must not outlive them in checkpoints or memory).
    */
  private def gcStats(snap: Snapshot): Snapshot = {
    if (snap.stats.isEmpty && snap.dvs.isEmpty) snap
    else {
      val live = snap.tables.map { case (t, fs) => t -> fs.toSet }
      def bound(t: String, f: String) = live.get(t).exists(_.contains(f))
      // a DV lives exactly as long as its data file: a rewrite of the
      // file (Patch/Put) already materialized the mask into the
      // replacement, and a stale DV entry would orphan its sidecar
      val dvs = snap.dvs.filter { case ((t, f), _) => bound(t, f) }
      // a bound mask keeps its sidecar's stats: a filter's key bounds,
      // inferred across the mask anti-join, then prune the sidecar too
      val masks = dvs.map { case ((t, _), dv) => (t, dv) }.toSet
      snap.copy(dvs = dvs, stats = snap.stats.filter {
        case (k @ (t, f), _) => bound(t, f) || masks(k)
      })
    }
  }

  /** Read a table at the latest snapshot: an explicit-file-list parquet
    * scan over immutable files — the plan stays valid across later
    * commits (snapshot isolation for readers).
    */
  def read(table: String): Option[DataFrame] = {
    val s = snapshot()
    s.tables.get(table).map(rel => readFilesMasked(s, table, rel))
  }

  def readAt(v: Long, table: String): Option[DataFrame] = {
    val s = snapshotAt(v)
    s.tables.get(table).map(rel => readFilesMasked(s, table, rel))
  }

  /** [[readFiles]] minus the files' deletion-vector masks at snapshot
    * `s` — THE logical-content read for any file subset (full table
    * reads, keyed writes' hit files, the change feed's exchanged sets).
    *
    * A DV masks rows ONLY IN ITS OWN FILE: a PK that was DV-deleted and
    * later re-inserted lives in a NEWER file the stale mask must not
    * touch, so subtraction is file-granular, never table-wide. Plan
    * shape scales with the mask population:
    *   - ≤ [[TxLog.DvPerFileJoinMax]] masked files: one single-file
    *     scan + anti-join per masked file, unioned with the unmasked
    *     bulk scan — each mask broadcasts when its sidecar is small
    *     ([[TxLog.DvBroadcastMaxBytes]]), else that one join falls back
    *     to a shuffle anti-join (an over-threshold mask never rides a
    *     forced broadcast)
    *   - above it (mass vectorized deletes before OPTIMIZE): ONE scan
    *     of all masked files + ONE anti-join keyed on (source file, PK)
    *     — the mask side carries its file identity as a literal, the
    *     scan side derives it from the file-metadata column's invariant
    *     `Tables/<t>/<dir>/<part>` suffix — so plan size stays O(1)
    *     instead of O(masked files)
    */
  def readFilesMasked(s: Snapshot, table: String, rel: Seq[String],
      schemaJson: Option[String]): DataFrame =
    maskedRead(s, table, rel, schemaJson, None)

  def readFilesMasked(s: Snapshot, table: String,
      rel: Seq[String]): DataFrame =
    readFilesMasked(s, table, rel, s.schemas.get(table))

  /** File-granular DV subtraction (see [[readFilesMasked]]); `fileCol`
    * additionally carries each row's source file, Spark's `_metadata`
    * file path, a deterministic column: a filter over the marked frame
    * still pushes down to the scan, so [[StatsPruneRule]] prunes it.
    */
  private def maskedRead(s: Snapshot, table: String, rel: Seq[String],
      schemaJson: Option[String], fileCol: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val relSet = rel.toSet
    val dvOf = s.dvs.collect {
      case ((t, f), dv) if t == table && relSet(f) => (f, dv)
    }.toMap
    // metadataColumn resolves the file source's own column, so a user
    // column named `_metadata` cannot shadow it
    def fileOf(d: DataFrame) =
      d.metadataColumn("_metadata").getField("file_path")
    def mark(d: DataFrame): DataFrame =
      fileCol.fold(d)(c => d.withColumn(c, fileOf(d)))
    if (dvOf.isEmpty) return mark(readFiles(table, rel, schemaJson))
    // DV sidecars carry the pk under its PHYSICAL name (they stage like
    // data); the data read surfaces LOGICAL names — rename mask columns
    // through the pin's mapping so the anti-join keys line up after a
    // metadata-only RENAME COLUMN
    val physToLog: Map[String, String] = schemaJson.map(parseSchema)
      .map(pin => TxLog.logicalFields(pin)
        .filter(f => TxLog.physicalName(f) != f.name)
        .map(f => TxLog.physicalName(f).toLowerCase -> f.name).toMap)
      .getOrElse(Map.empty)
    def logicalMask(m: DataFrame): DataFrame =
      if (physToLog.isEmpty) m
      else m.toDF(m.columns.map(c => physToLog.getOrElse(c.toLowerCase, c)): _*)
    val maskedRel = rel.filter(dvOf.contains)
    val plainRel = rel.filterNot(dvOf.contains)
    val plain =
      if (plainRel.isEmpty) None
      else Some(mark(readFiles(table, plainRel, schemaJson)))
    // staged data files are always root-relative Tables/<t>/<dir>/<part>
    // (4 components) — the suffix identity the single-scan path keys
    // on. The scan side derives its key from the file path's URI,
    // which URL-ENCODES exotic characters, so the key equality also
    // requires every path char to be URI-verbatim; anything else (an
    // exotic table name, a foreign layout) takes the per-file path —
    // always correct, just wider plans
    val suffixSafe = maskedRel.forall(r =>
      r.split('/').length == 4 && r.forall(ch =>
        ch.isLetterOrDigit && ch < 128 || "._-/".contains(ch)))
    val masked: DataFrame =
      if (maskedRel.size <= TxLog.DvPerFileJoinMax || !suffixSafe)
        maskedRel.map { f =>
          val mask = logicalMask(readFiles(table, Seq(dvOf(f)), None))
          val pk = mask.columns.head
          val side = mask.select(pk).distinct()
          val hinted =
            if (dvSizeBytes(dvOf(f)) <= TxLog.DvBroadcastMaxBytes)
              broadcast(side)
            else side
          mark(readFiles(table, Seq(f), schemaJson))
            .join(hinted, Seq(pk), "left_anti")
        }.reduce(_ unionByName _)
      else {
        val masks = maskedRel.map { f =>
          val m = logicalMask(readFiles(table, Seq(dvOf(f)), None))
          m.select(col(m.columns.head), lit(f).as("_graft_dv_file"))
        }.reduce(_ unionByName _)
        val pk = masks.columns.head
        val scan = readFiles(table, maskedRel, schemaJson)
        val scanned = mark(scan).withColumn(
          "_graft_dv_scan_file", substring_index(fileOf(scan), "/", -4))
        scanned.join(masks,
          scanned(pk) === masks(pk) &&
            scanned("_graft_dv_scan_file") === masks("_graft_dv_file"),
          "left_anti").drop("_graft_dv_scan_file")
      }
    plain.fold(masked)(_ unionByName masked)
  }

  /** A DV sidecar's on-disk size (broadcast-hint gate); unreadable →
    * Long.MaxValue, so the join falls back to the unhinted shape.
    */
  private def dvSizeBytes(rel: String): Long =
    sizeOfRel(rel).getOrElse(Long.MaxValue)

  // data files are IMMUTABLE once committed, so their sizes cache
  // forever — the byte-budget admission walk probes the same backlog
  // files on every trigger, and on an object store each probe is a
  // charged HEAD. Missing files are NOT cached (they may land later:
  // an in-flight stage). Bounded defensively; one entry is tiny.
  private val sizeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Size of a root-relative file through the primitive (a HEAD),
    * cached on the immutability argument.
    */
  private def sizeOfRel(rel: String): Option[Long] = {
    val hit = sizeCache.getOrDefault(rel, -1L)
    if (hit >= 0L) return Some(hit)
    TxLog.sizeProbes.incrementAndGet()
    val got = primitive.sizeOf(Paths.get(root).resolve(rel))
    got.foreach { n =>
      if (sizeCache.size > 262144) sizeCache.clear()
      sizeCache.put(rel, n)
    }
    got
  }

  /** Warm [[sizeCache]] for `rels` with parallel HEADs (the byte-budget
    * walk's twin of [[prefetchActions]]).
    */
  private def prefetchSizes(rels: Seq[String]): Unit = {
    val missing = rels.distinct.filterNot(sizeCache.containsKey)
    if (missing.size < 2) return
    val fs = missing.map(r => java.util.concurrent.CompletableFuture
      .runAsync(() => { sizeOfRel(r); () }, TxLog.prefetchPool))
    fs.foreach(_.join())
  }

  /** `s`'s table `table`, DV-masked, with each row's source file as
    * `fileCol` — see [[maskedRead]].
    */
  def readMarked(s: Snapshot, table: String, fileCol: String): DataFrame =
    maskedRead(s, table, s.tables(table), s.schemas.get(table), Some(fileCol))

  /** True when `snapshotAt(v)` can faithfully reconstruct version v:
    * either a checkpoint at or below v survives, or the log was never
    * truncated (version 1 still listed). After vacuum retires history,
    * snapshotAt of a version below the surviving checkpoint would
    * silently return an EMPTY state — readers that must not mistake
    * truncation for emptiness (the change feed's cursor) check this
    * first, the read-side twin of commit()'s fail-safe on truncated
    * conflict ranges.
    */
  def resolvableAt(v: Long): Boolean = v == 0L || {
    // reuses the trigger's listing when it covers v: truncation below
    // a cursor is a vacuum-retention event (minutes-scale grace), so a
    // listing milliseconds old adjudicates it identically
    val (versions, checkpoints) = listLogAtMost(v)
    checkpoints.exists(_ <= v) || versions.headOption.contains(1L)
  }

  /** The wall-clock stamp of version `v` (epoch millis), when its
    * version file survives vacuum and the committer wrote one (logs
    * written before commit stamps existed did not).
    */
  def commitTimeAt(v: Long): Option[Long] = {
    if (!settled(versionFile(v))) None
    else actionsOf(v).collectFirst { case Cts(ms) => ms }
  }

  /** Resolve a wall-clock instant to the LATEST version committed at
    * or before it — the `TIMESTAMP AS OF` contract. Commit stamps come
    * from writer clocks that may skew across processes, so the scan
    * MONOTONIZES them (running max): a commit stamped earlier than its
    * predecessor resolves as "no later than" it, and version order —
    * the only true order the CAS guarantees — always wins. Versions
    * without a stamp (pre-stamp engines) inherit their predecessor's.
    * Refuses when `epochMs` precedes every surviving stamped commit:
    * below vacuum retention (or before the first commit) the mapping
    * is unknowable, exactly like RESTORE below the retention horizon.
    * Cost: one metadata-file read per surviving version — the log is
    * checkpoint-bounded metadata, never data.
    */
  def versionAtTime(epochMs: Long): Long = {
    var best = -1L
    var first = Long.MaxValue
    var running = Long.MinValue
    var sawStamp = false
    val vs = listVersions()
    // resolution walks EVERY surviving version — warm the cache in
    // parallel so an object-store resolve is not O(versions) serial GETs
    if (vs.size <= actionCacheSize) prefetchActions(vs)
    vs.foreach { v =>
      val acts = actionsOf(v)
      // empty = vacuumed or an in-flight zero-byte slot: neither may
      // resolve as `best` (the in-flight commit's real stamp lands
      // later); a SETTLED pre-stamp version (non-empty, no Cts) still
      // inherits its predecessor's stamp, as before
      if (acts.nonEmpty) {
        acts.collectFirst { case Cts(ms) => ms }
          .foreach { ms =>
            if (!sawStamp) first = ms
            sawStamp = true
            running = math.max(running, ms)
          }
        if (sawStamp && running <= epochMs) best = v
      }
    }
    if (best < 0) throw new IllegalArgumentException(
      if (!sawStamp)
        "TIMESTAMP AS OF: this log carries no commit timestamps " +
          "(written by a pre-stamp engine or fully truncated by vacuum)"
      else
        s"TIMESTAMP AS OF $epochMs precedes the earliest surviving " +
          s"commit ($first): history below the vacuum retention " +
          "horizon (or before the first commit) cannot be resolved")
    best
  }

  /** The file schema the files `rel` actually carry — unioned across
    * footers (`mergeSchema`), so a heterogeneous un-pinned table adopts
    * EVERY physical column when DDL first pins it.
    */
  def mergedFileSchema(
      rel: Seq[String]): org.apache.spark.sql.types.StructType =
    spark.read.options(ioOptions).option("mergeSchema", "true")
      .parquet(rel.map(r => s"$root/$r"): _*).schema

  /** Schema-pinned when the log holds one: files written BEFORE a
    * column existed null-fill it (metadata-only ADD COLUMN), files
    * carrying extra columns project them away — and no job spends
    * footer reads inferring what the log already knows. Public as THE
    * one read implementation for explicit file lists (the change feed
    * and OPTIMIZE read exchanged/backlog subsets through it).
    */
  def readFiles(table: String, rel: Seq[String],
      schemaJson: Option[String] = None): DataFrame = {
    val reader = spark.read.options(ioOptions)
    schemaJson match {
      case Some(j) =>
        val pinned = parseSchema(j)
        val logical = TxLog.logicalFields(pinned)
        if (logical.length == pinned.length &&
            logical.forall(f => TxLog.physicalName(f) == f.name))
          reader.schema(pinned).parquet(rel.map(r => s"$root/$r"): _*)
        else {
          // metadata-only column DDL: the pin carries logical→physical
          // renames and tombstones of dropped columns. Read the files
          // under their PHYSICAL names (tombstoned columns are never
          // requested, so the scan skips their pages entirely), then
          // rename to the logical surface — one narrow Project, pushed
          // through by Catalyst like any alias
          val phys = org.apache.spark.sql.types.StructType(
            logical.map(f => f.copy(name = TxLog.physicalName(f))))
          reader.schema(phys).parquet(rel.map(r => s"$root/$r"): _*)
            .toDF(logical.map(_.name): _*)
        }
      case None =>
        // schema-INFERRED reads run a Spark job that opens a footer at
        // every plan build; files are immutable, so the inferred schema
        // of a binding never changes — cache it per file list and every
        // later read of the same binding plans footer-free. A list of
        // files this log staged, all with one schema, needs no job at
        // all: that schema is what inference would read from any of
        // them. Any other list (heterogeneous, foreign or unrecorded
        // files) infers as before, under a job label.
        val key = rel.toVector
        val paths = rel.map(r => s"$root/$r")
        Option(inferredSchemas.get(key))
          .orElse(sharedStagedSchema(rel)) match {
          case Some(known) => reader.schema(known).parquet(paths: _*)
          case None =>
            val df = graft.core.JobLabel(spark, s"infer schema $table") {
              reader.parquet(paths: _*)
            }
            if (inferredSchemas.size > 4096) inferredSchemas.clear()
            inferredSchemas.put(key, df.schema)
            df
        }
    }
  }

  private val inferredSchemas = new java.util.concurrent.ConcurrentHashMap[
    Vector[String], org.apache.spark.sql.types.StructType]()

  // rel path → the Spark schema read from its footer at stage time, for
  // every file this log staged (immutable files: an entry never goes
  // stale). Equal schemas share one instance, so an entry costs a map
  // slot, not a schema; bounded defensively like the other caches.
  private val stagedSchemas = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()
  private val schemaInstances = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.sql.types.StructType,
    org.apache.spark.sql.types.StructType]()

  private def recordSchema(rel: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    if (schemaInstances.size > 1024) schemaInstances.clear()
    if (stagedSchemas.size > 262144) stagedSchemas.clear()
    val shared = schemaInstances.putIfAbsent(schema, schema)
    stagedSchemas.put(rel, if (shared == null) schema else shared)
  }

  /** The schema recorded when `rel` was staged (None = not staged by
    * this log, or its footer was unreadable).
    */
  private[graft] def stagedSchema(rel: String)
      : Option[org.apache.spark.sql.types.StructType] =
    Option(stagedSchemas.get(rel))

  /** The one schema every file of `rel` was staged with; None when a
    * file has none recorded or two differ.
    */
  private def sharedStagedSchema(rel: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    rel.headOption.flatMap(stagedSchema).filter(s =>
      rel.forall(r => stagedSchema(r).contains(s)))

  // ---- staging -------------------------------------------------------------

  /** [[stage]] under the head snapshot's pin (a caller with no
    * statement snapshot of its own).
    */
  def stage(table: String, df: DataFrame): Seq[String] =
    stage(snapshot(), table, df)

  /** Write `df` as a fresh immutable file set under the table's
    * directory and return the root-relative paths. A distributed write
    * job; nothing becomes visible until a commit references the files.
    * Column names map to their physical names under `snap`'s pin (the
    * statement's snapshot, whose version the commit is checked from).
    */
  def stage(snap: Snapshot, table: String, df: DataFrame): Seq[String] = {
    val rel = s"Tables/$table/d-${UUID.randomUUID().toString.take(12)}"
    val dir = Paths.get(root, rel)
    // after a metadata-only RENAME COLUMN, files keep writing the
    // PHYSICAL name (the mapping's stable identity) — old and new files
    // stay byte-compatible and the pinned read renames them all back
    graft.core.JobLabel(spark, s"stage $table") {
      toPhysical(snap, table, df).write.options(ioOptions).mode("error")
        .parquet(dir.toString)
    }
    val s = Files.list(dir)
    try {
      val parts = s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
        .toSeq.sorted
      require(parts.nonEmpty, s"staged write produced no data files: $dir")
      val all = parts.map(p => s"$rel/$p")
      // harvest per-file column min/max AND row counts from the
      // just-written footers (bounded by THIS write's file count — the
      // one moment stats are free) so the commit can carry them; the
      // stats rule then prunes file lists from the log with ZERO further
      // I/O.
      // Best-effort: a file whose footer cannot be read (or a column
      // without usable stats) simply never prunes.
      // footers are independent local reads — harvest them in parallel
      // so a wide staged write doesn't serialize O(parts) opens on the
      // driver before its commit can publish. The same footer yields
      // the file's Spark schema, which readFiles uses instead of
      // inferring one with a job.
      val schemaOf = org.apache.spark.sql.graft.ParquetSchemaShim.schemaOf(spark)
      def harvest(r: String) =
        r -> FileStatsUtil.harvest(s"$root/$r", ioOptions, schemaOf)
      val harvested =
        if (all.size <= 1) all.map(harvest)
        else {
          val pool = java.util.concurrent.Executors
            .newFixedThreadPool(math.min(8, all.size))
          try {
            implicit val ec: scala.concurrent.ExecutionContext =
              scala.concurrent.ExecutionContext.fromExecutorService(pool)
            val fs = all.map(r => scala.concurrent.Future(harvest(r)))
            scala.concurrent.Await.result(
              scala.concurrent.Future.sequence(fs),
              scala.concurrent.duration.Duration(120, "s"))
          } finally pool.shutdown()
        }
      harvested.foreach { case (r, f) =>
        f.stats.foreach(stagedStats.put(r, _))
        f.schema.foreach(recordSchema(r, _))
      }
      // a multi-partition plan writes one part PER PARTITION, including
      // empty ones (a granular rewrite's untouched partitions, a
      // filtered-out split): drop provably zero-row parts from the
      // binding — they bloat file counts and, carrying no stats, would
      // be scanned forever. Unreadable footers (None) stay, fail-safe.
      // If EVERY part is empty (an empty table state), keep one so the
      // binding still yields a readable zero-row frame with a schema.
      val nonEmpty = harvested
        .filterNot { case (_, f) => f.rows.contains(0L) }.map(_._1)
      if (nonEmpty.nonEmpty) nonEmpty else all.take(1)
    } finally s.close()
  }

  /** Logical→physical column rename for a staged frame, from the
    * table's pin at `snap` (identity when no mapping exists).
    */
  private def toPhysical(snap: Snapshot, table: String,
      df: DataFrame): DataFrame =
    snap.schemas.get(table).map(parseSchema) match {
      case Some(pin) =>
        val m = TxLog.logicalFields(pin)
          .filter(f => TxLog.physicalName(f) != f.name)
          .map(f => f.name.toLowerCase -> TxLog.physicalName(f)).toMap
        if (m.isEmpty) df
        else df.toDF(df.columns.map(c => m.getOrElse(c.toLowerCase, c)): _*)
      case None => df
    }

  // rel path → stats JSON, harvested at stage time and attached to the
  // commit that publishes the file (see commit()); immutable files make
  // the map append-only until the commit consumes an entry
  private val stagedStats =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // ---- commit --------------------------------------------------------------

  /** Atomically publish `actions` as one commit. Optimistic: when the
    * caller passes the `readVersion` its staged state was computed
    * against, any interleaved commit touching one of this commit's
    * tables — or one of `readTables`, the tables the caller READ to
    * validate (FK parents, restrict children): covering the read set
    * closes the write-skew window, where two non-overlapping writes
    * each validate against state the other invalidates — is a conflict
    * → [[TxLog.ConflictException]] (the reference rolls back on WAL
    * version conflict the same way). `readVersion = -1` marks a BLIND
    * commit (pure appends, drops) that commutes with concurrent writers
    * and only retries the publish. Returns the committed version.
    */
  def commit(actions: Seq[Action], readVersion: Long = -1L,
      readTables: Set[String] = Set.empty): Long = {
    require(actions.nonEmpty, "empty commit")
    // the staged files' harvested stats are consumed by THIS call
    // whatever its outcome: published → they rode the commit; failed or
    // replay-skipped → the caller abandons the staged files (vacuum
    // reclaims them) and holding their entries would leak one JSON per
    // abandoned file forever in a long-lived writer under conflicts
    try commitInner(actions, readVersion, readTables)
    finally publishedFiles(actions).foreach { case (_, f) =>
      stagedStats.remove(f)
    }
  }

  /** (table, file) pairs a commit's actions would publish. */
  private def publishedFiles(actions: Seq[Action]): Seq[(String, String)] =
    actions.flatMap {
      case Put(t, fs)      => fs.map(t -> _)
      case Add(t, fs)      => fs.map(t -> _)
      case Patch(t, _, ad) => ad.map(t -> _)
      // a DV sidecar is staged like data (its stagedStats entry must be
      // consumed, not leak); its Sta rides and lives as long as the mask
      case Dvec(t, _, dv)  => Seq(t -> dv)
      case _               => Nil
    }

  private def commitInner(actions: Seq[Action], readVersion: Long,
      readTables: Set[String]): Long = {
    // idempotence: a commit carrying an (appId, batchId) already applied
    // at the CURRENT head is a replay — skip it (exactly-once state from
    // at-least-once delivery). Re-checked on every publish retry, so two
    // racing replayers of the same batch apply it exactly once. The
    // head's ledger folds off the listing that found `head` (snapshotAt
    // reuses it), so the check lists nothing of its own.
    val marks = actions.collect { case t: Txn => t }
    def alreadyApplied(head: Long): Boolean = marks.nonEmpty && {
      val txns = snapshotAt(head).txns
      marks.exists(t => txns.get(t.appId).exists(_ >= t.batchId))
    }
    // Conflict granularity (the Delta-style remove/add resolution):
    //  - tables I touch with an ABSOLUTE action (Put/Add/Del/Ren), plus
    //    my read set, conflict with ANY interleaved touch;
    //  - tables I touch ONLY via Patch conflict with interleaved
    //    absolute actions, but COMMUTE with interleaved patches whose
    //    removed-file sets are disjoint from mine — two writers
    //    rewriting different files of one table both commit.
    // a Dvec participates in file-granular conflict resolution exactly
    // like a Patch removing its data file: the mask invalidates (and is
    // invalidated by) any interleaved commit touching that file, and
    // commutes with everything on disjoint files
    val myPatches: Map[String, Set[String]] = actions
      .collect {
        case Patch(t, rm, _) => t -> rm.toSet
        case Dvec(t, f, _)   => t -> Set(f)
      }
      .groupMapReduce(_._1)(_._2)(_ ++ _)
    val myHard: Set[String] = actions.collect {
      case a if !a.isInstanceOf[Patch] && !a.isInstanceOf[Dvec] => a.touches
    }.flatten.toSet ++ readTables
    val myPatchOnly = myPatches.keySet -- myHard
    def assertNoConflict(from: Long, to: Long): Unit =
      (from to to).foreach { v =>
        val f = versionFile(v)
        // an already-cached version needs no probes: its actions were
        // read from a settled non-empty file, and immutability keeps
        // them the truth even if vacuum retired the file since
        val cached = actionCacheSize > 0 && actionCache.get(v) != null
        if (!cached) {
          TxLog.sizeProbes.incrementAndGet()
          val sz = primitive.sizeOf(f)
          if (sz.isEmpty)
            // versions are dense (the publish CAS admits no gaps), so a
            // missing file in the checked range means vacuum truncated it
            // — the interleaved commit can no longer be inspected. Fail
            // SAFE: an unverifiable conflict is a conflict; silently
            // skipping it would let a stale writer overwrite commits that
            // landed before the truncation.
            throw new ConflictException(
              s"cannot validate against commit $v: log truncated by " +
                "vacuum below the writer's read version — re-read and retry")
          if (sz.contains(0L) && !settled(f))
            // zero-byte after the settle window: an in-flight or dead
            // publish from a non-conforming primitive. Its actions cannot
            // be inspected, so fail SAFE like the truncation case — after
            // the caller re-reads, its read version moves past this slot
            throw new ConflictException(
              s"cannot validate against commit $v: version file still " +
                "in-flight/empty — re-read and retry")
        }
        actionsOf(v).foreach {
          case Patch(t, rm, _) =>
            if (myHard(t)) throw new ConflictException(
              s"concurrent commit $v patched table $t in my read/write set")
            if (myPatchOnly(t) && rm.toSet.intersect(myPatches(t)).nonEmpty)
              throw new ConflictException(
                s"concurrent commit $v rewrote the same files of $t")
          case Dvec(t, df2, _) =>
            if (myHard(t)) throw new ConflictException(
              s"concurrent commit $v masked table $t in my read/write set")
            if (myPatchOnly(t) && myPatches(t).contains(df2))
              throw new ConflictException(
                s"concurrent commit $v re-masked file $df2 of $t")
          case a =>
            val overlap = a.touches.filter(t => myHard(t) || myPatchOnly(t))
            if (overlap.nonEmpty) throw new ConflictException(
              s"concurrent commit $v touched $overlap")
        }
      }
    // capture the head ONCE: evaluating `version` again for the first
    // publish attempt would open a TOCTOU hole — a commit landing
    // between the two listings would sit between the validated range
    // and the attempted slot, never conflict-checked (the first-try
    // publish succeeds, so the lost-race recheck never runs)
    val head = version
    if (alreadyApplied(head)) return head
    if (readVersion >= 0) assertNoConflict(readVersion + 1, head)
    // attach the harvested per-file stats to the commit PUBLISHING each
    // staged file (derived metadata: Sta touches nothing, so conflict
    // semantics are unchanged; it simply rides the data action), and
    // the wall-clock stamp TIMESTAMP AS OF resolves against
    val withStats = (Cts(System.currentTimeMillis()) +: actions) ++
      publishedFiles(actions).flatMap {
        case (t, f) => Option(stagedStats.get(f)).map(js => Sta(t, f, js))
      }
    val content = withStats.map(render).mkString("\n").getBytes("UTF-8")
    var attempt = head + 1
    var guard = 0
    while (true) {
      guard += 1
      if (guard > 1000) throw new IllegalStateException(
        "commit retry guard tripped (livelock?)")
      try {
        // full-content atomic publish (hard-link CAS locally, a
        // conditional PUT on object stores) — see CommitPrimitive
        primitive.putIfAbsent(versionFile(attempt), content)
        // the commit IS durable once published; a checkpoint is a pure
        // replay optimization derivable from the log, so its failure
        // must not make a succeeded commit look failed
        try maybeCheckpoint(attempt) catch { case _: Throwable => () }
        return attempt
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // lost the race: another writer published `attempt`. For a
          // versioned (readVersion >= 0) commit, re-check every
          // interleaved commit — overlap is a real write-write conflict;
          // a BLIND commit commutes by contract and just retries.
          val latest = version
          if (alreadyApplied(latest)) return latest
          if (readVersion >= 0) assertNoConflict(attempt, latest)
          if (latest < attempt)
            // the slot is CLAIMED but nothing has landed (fallback-lock
            // publish in flight): back off instead of burning the retry
            // guard — either the claimant's commit lands (version
            // advances) or its lock goes stale and is taken over
            Thread.sleep(25)
          attempt = latest + 1
      }
    }
    -1L // unreachable
  }

  private def maybeCheckpoint(v: Long): Unit =
    if (v % TxLog.checkpointEvery == 0) {
      val snap = snapshotAt(v)
      // full snapshot = table bindings + the txn idempotence ledger
      // (replay after truncation must still recognize applied batches)
      val lines = snap.tables.toSeq.sortBy(_._1)
        .map { case (t, fs) => render(Put(t, fs)) } ++
        snap.schemas.toSeq.sortBy(_._1)
          .map { case (t, js) => render(Sch(t, js)) } ++
        snap.stats.toSeq.sortBy(_._1)
          .map { case ((t, f), js) => render(Sta(t, f, js)) } ++
        // after the Put lines: Dvec application is conditional on the
        // data file being bound, which the Puts above establish
        snap.dvs.toSeq.sortBy(_._1)
          .map { case ((t, f), dv) => render(Dvec(t, f, dv)) } ++
        snap.txns.toSeq.sortBy(_._1)
          .map { case (a, b) => render(Txn(a, b)) }
      try primitive.putIfAbsent(ckptFile(v),
        lines.mkString("\n").getBytes("UTF-8"))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    }

  // ---- maintenance ---------------------------------------------------------

  /** Retire data files unreferenced by any of the newest `keepVersions`
    * snapshots, plus log files older than the newest checkpoint below
    * the retention floor. Bounds the reader-validity window the same
    * way the reference's CHECKPOINT truncates the WAL: readers pinned
    * to retained versions stay valid; older cursors must re-resolve.
    *
    * `minAgeMs` is the in-flight-commit guard: a directory staged by a
    * writer that has not PUBLISHED yet is unreferenced by every
    * snapshot, and deleting it would corrupt that writer's commit the
    * moment it lands — so only directories older than the grace window
    * are eligible (the same reason Delta's VACUUM has a retention
    * floor). Returns the deleted data directories.
    */
  def vacuum(keepVersions: Int = 2,
      minAgeMs: Long = 15L * 60 * 1000): Seq[String] = {
    val vs = listVersions()
    if (vs.isEmpty) return Nil
    val floor = vs.takeRight(math.max(1, keepVersions)).head
    val retainedFiles: Set[String] = vs.filter(_ >= floor)
      .flatMap { v =>
        val s = snapshotAt(v)
        // deletion-vector sidecars are live exactly as long as a
        // retained snapshot references them — same rule as data files
        s.tables.values.flatten ++ s.dvs.values
      }
      .map(r => Paths.get(root, r).toString).toSet
    val retained: Set[String] =
      retainedFiles.map(f => Paths.get(f).getParent.toString)
    // delete whole staged directories none of the retained versions use
    val tablesRoot = Paths.get(root, "Tables")
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    if (Files.exists(tablesRoot)) {
      val ts = Files.list(tablesRoot)
      val tableDirs = try ts.iterator().asScala.filter(Files.isDirectory(_))
        .toVector finally ts.close()
      tableDirs.foreach { td =>
        val ds = Files.list(td)
        val (staged, loose) = try {
          val entries = ds.iterator().asScala.toVector
          (entries.filter(d => Files.isDirectory(d) &&
            d.getFileName.toString.startsWith("d-")),
            // legacy-layout imports bind part files DIRECTLY under the
            // table dir; once a rewrite retires them they are reclaimed
            // at file granularity (the dir itself stays — it is the
            // table root and holds the live d-* children)
            entries.filter(f => Files.isRegularFile(f) &&
              f.getFileName.toString.endsWith(".parquet")))
        } finally ds.close()
        val cutoff = System.currentTimeMillis() - minAgeMs
        def oldEnough(p: Path): Boolean = minAgeMs <= 0 ||
          Files.getLastModifiedTime(p).toMillis < cutoff
        staged.foreach { d =>
          if (oldEnough(d) && !retained.contains(d.toString)) {
            deleteRecursively(d)
            deleted += d.toString
          }
        }
        loose.foreach { f =>
          if (oldEnough(f) && !retainedFiles.contains(f.toString)) {
            Files.deleteIfExists(f)
            deleted += f.toString
          }
        }
      }
    }
    // drop log files below the newest checkpoint <= floor (snapshotAt
    // for retained versions never needs them)
    listCheckpoints().filter(_ <= floor).lastOption.foreach { c =>
      vs.filter(_ < c).foreach(v => Files.deleteIfExists(versionFile(v)))
      listCheckpoints().filter(_ < c).foreach(x => Files.deleteIfExists(ckptFile(x)))
    }
    deleted.toSeq
  }

  private def deleteRecursively(p: Path): Unit =
    graft.core.FsUtils.deleteRecursively(p)

  /** Commit-history rows (version, action, target, n_files) — the
    * DESCRIBE-HISTORY diagnostic. Versions truncated by vacuum report
    * only from the surviving log files.
    */
  /** The greatest version in `(from, hi]` whose traversal keeps the
    * cumulative EXCHANGED-FILE count within `budget` — the streaming
    * source's files-weighted admission control. Always advances at
    * least one version when `hi > from` (a single huge commit must
    * still be deliverable), and costs O(versions admitted) small text
    * reads, never a data scan. A log file truncated by vacuum counts 0
    * here; the batch read itself fails loudly on unresolvable cursors.
    */
  def advanceByFileBudget(from: Long, hi: Long, budget: Long): Long =
    advanceByBudgets(from, hi, Some(budget), None)

  /** Bytes-weighted twin of [[advanceByFileBudget]]: weights each
    * version by the on-disk size of the files it exchanges — the
    * closest driver-side proxy for what the batch will actually read.
    * Files already vacuumed weigh 0 (conservative toward admitting;
    * the read itself will fail loudly below retention anyway).
    */
  def advanceByByteBudget(from: Long, hi: Long, budget: Long): Long =
    advanceByBudgets(from, hi, None, Some(budget))

  /** One budget walk for both caps (tightest wins): advance in whole
    * versions until the next one would break EITHER budget — but
    * always at least one (a single over-budget commit must still
    * deliver, or the stream wedges). Each admitted version's log file
    * is read and parsed ONCE, with both weights taken from the same
    * parse — the admission path runs on every trigger.
    */
  def advanceByBudgets(from: Long, hi: Long, fileBudget: Option[Long],
      byteBudget: Option[Long]): Long = {
    if (fileBudget.isEmpty && byteBudget.isEmpty) return hi
    // warm the caches ahead of the sequential walk: version files in
    // one parallel GET wave, and (for byte budgets) the files they
    // exchange in one parallel HEAD wave. Bounded by PrefetchWindow —
    // versions beyond the window stay cached for the NEXT trigger, so a
    // long catch-up pays each read once either way, just not serially.
    val window = ((from + 1) to math.min(hi, from + TxLog.PrefetchWindow))
    prefetchActions(window)
    if (byteBudget.isDefined)
      prefetchSizes(window.flatMap(v => exchangedRels(exchangedActions(v))))
    var v = from
    var files = 0L
    var bytes = 0L
    while (v < hi) {
      val acts = exchangedActions(v + 1)
      val fc = exchangedFileCount(acts)
      val bc = if (byteBudget.isDefined) exchangedByteCount(acts) else 0L
      if (v > from && (fileBudget.exists(files + fc > _) ||
          byteBudget.exists(bytes + bc > _))) return v
      files += fc
      bytes += bc
      v += 1
      if (fileBudget.exists(files >= _) || byteBudget.exists(bytes >= _))
        return v
    }
    hi
  }

  /** Total on-disk bytes the versions in (from, to] exchange — the
    * change-feed source's one-time "this uncapped batch is huge"
    * estimate. O(versions) driver-side; called at most once per
    * stream.
    */
  def exchangedBytesBetween(from: Long, to: Long): Long = {
    val vs = (from + 1) to to
    vs.grouped(TxLog.PrefetchWindow).map { chunk =>
      prefetchActions(chunk)
      prefetchSizes(chunk.flatMap(v => exchangedRels(exchangedActions(v))))
      chunk.map(v => exchangedByteCount(exchangedActions(v))).sum
    }.sum
  }

  private def exchangedActions(v: Long): Seq[Action] = actionsOf(v)

  /** Root-relative paths of the files `acts` exchanges — the HEAD
    * targets of the byte-budget weigh (see [[exchangedByteCount]] for
    * the weights' rationale).
    */
  private def exchangedRels(acts: Seq[Action]): Seq[String] = acts.flatMap {
    case Put(_, fs)       => fs
    case Add(_, fs)       => fs
    case Patch(_, rm, ad) => rm ++ ad
    case Dvec(_, f, dv)   => Seq(f) ++ Option(dv).filter(_.nonEmpty)
    case _                => Nil
  }

  /** Files a committed version exchanges (added + removed + masks). */
  private def exchangedFileCount(acts: Seq[Action]): Long =
    acts.map {
      case Put(_, fs)       => fs.size.toLong
      case Add(_, fs)       => fs.size.toLong
      case Patch(_, rm, ad) => (rm.size + ad.size).toLong
      case Dvec(_, _, _)    => 1L
      case _                => 0L
    }.sum

  /** On-disk bytes of the files a committed version exchanges (action
    * file entries are root-relative `Tables/<t>/<dir>/<part>` paths).
    * A Dvec weighs the MASKED DATA FILE (plus its sidecar): the change
    * feed reads the dv-changed file on both sides of the diff, so a
    * delete-heavy backlog must spend the byte budget like the rewrite
    * it stands in for — weighing masks 0 would let maxBytesPerTrigger
    * admit an unbounded delete catch-up.
    */
  private def exchangedByteCount(acts: Seq[Action]): Long =
    exchangedRels(acts).map(r => sizeOfRel(r).getOrElse(0L)).sum

  /** Tables version `v`'s committed actions touch — the multiplexed
    * (database-level) change feed's per-version fan-out list. Derived
    * metadata (Sta/Cts/Txn) touches nothing; Nil for vacuumed or
    * in-flight versions.
    */
  def touchedTables(v: Long): Seq[String] =
    actionsOf(v).flatMap(_.touches).distinct

  def history(): Seq[(Long, String, String, Long)] =
    listVersions().flatMap { v =>
      actionsOf(v).map {
        case Put(t, fs) => (v, "PUT", t, fs.size.toLong)
        case Add(t, fs) => (v, "ADD", t, fs.size.toLong)
        case Patch(t, rm, ad) => (v, "PATCH", s"$t(-${rm.size})", ad.size.toLong)
        case Del(t)     => (v, "DEL", t, 0L)
        case Ren(o, n)  => (v, "REN", s"$o->$n", 0L)
        case Sch(t, _)  => (v, "SCH", t, 0L)
        case Sta(t, _, _) => (v, "STA", t, 1L)
        case Txn(a, b)  => (v, "TXN", s"$a#$b", 0L)
        case Dvec(t, f, _) => (v, "DVC", s"$t($f)", 1L)
        case Cts(ms)    => (v, "CTS", ms.toString, 0L)
      }
    }

  private def versionFile(v: Long): Path = logDir.resolve(f"v$v%08d.txt")
  private def ckptFile(v: Long): Path = logDir.resolve(f"v$v%08d.ckpt.txt")

  private def parse(lines: Seq[String]): Seq[Action] =
    lines.filter(_.nonEmpty).map { line =>
      // limit -1 keeps trailing empty fields: "ADD\tt\t" (an accepted
      // empty-file-list commit) must round-trip as a 3-field line, not
      // collapse to 2 fields and poison the log as unparseable
      line.split("\t", -1) match {
        case Array("PUT", t, fs) => Put(t, fs.split(",").toSeq.filter(_.nonEmpty))
        case Array("PUT", t)     => Put(t, Nil)
        case Array("ADD", t, fs) => Add(t, fs.split(",").toSeq.filter(_.nonEmpty))
        case Array("ADD", t)     => Add(t, Nil)
        case Array("PAT", t, rm, ad) => Patch(t,
          rm.split(",").toSeq.filter(_.nonEmpty),
          ad.split(",").toSeq.filter(_.nonEmpty))
        case Array("DEL", t)     => Del(t)
        case Array("REN", o, n)  => Ren(o, n)
        case Array("SCH", t, b64) => Sch(t, new String(
          java.util.Base64.getDecoder.decode(b64), "UTF-8"))
        case Array("STA", t, f, b64) => Sta(t, f, new String(
          java.util.Base64.getDecoder.decode(b64), "UTF-8"))
        case Array("TXN", a, b)  => Txn(a, b.toLong)
        case Array("DVC", t, f, dv) => Dvec(t, f, dv)
        case Array("CTS", ms)    => Cts(ms.toLong)
        case _ => throw new IllegalStateException(s"bad txlog line: $line")
      }
    }

  private def render(a: Action): String = a match {
    case Put(t, fs) => s"PUT\t$t\t${fs.mkString(",")}"
    case Add(t, fs) => s"ADD\t$t\t${fs.mkString(",")}"
    case Patch(t, rm, ad) => s"PAT\t$t\t${rm.mkString(",")}\t${ad.mkString(",")}"
    case Del(t)     => s"DEL\t$t"
    case Ren(o, n)  => s"REN\t$o\t$n"
    case Sch(t, js) => s"SCH\t$t\t${java.util.Base64.getEncoder
      .encodeToString(js.getBytes("UTF-8"))}"
    case Sta(t, f, js) => s"STA\t$t\t$f\t${java.util.Base64.getEncoder
      .encodeToString(js.getBytes("UTF-8"))}"
    case Txn(a, b)  => s"TXN\t$a\t$b"
    case Dvec(t, f, dv) => s"DVC\t$t\t$f\t$dv"
    case Cts(ms)    => s"CTS\t$ms"
  }
}

object TxLog {

  /** Process-wide count of RAW version-file reads (cache misses) — the
    * bench/spec probe behind the action cache: a capped catch-up's
    * per-trigger log I/O is graded by how little this moves
    * (TxLogSpec; SCALE.md "Round 13: the read-charged wide-area
    * model"). Not a metric surface; monotonic,
    * never reset.
    */
  val versionFileReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Log-directory listings (LIST calls on an object store) — with
    * [[versionFileReads]], [[ckptReads]] and [[sizeProbes]], the full
    * read-side I/O ledger graded per trigger (SCALE.md "Round 13: the
    * read-charged wide-area model"). Monotonic,
    * never reset.
    */
  val logListings = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Checkpoint-file reads (GETs). */
  val ckptReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** RAW size probes (HEADs on an object store) — cache misses only;
    * the size cache serves repeats for free.
    */
  val sizeProbes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Versions (and their exchanged files' sizes) warmed ahead of a
    * sequential admission walk in one parallel wave. Bounds wasted
    * reads when a stream stops mid-backlog; versions past the window
    * are read by the next trigger's wave.
    */
  val PrefetchWindow: Int = 256

  /** How long a log listing may be reused for bounded-version snapshot
    * resolution (see `listLogAtMost`). Far inside any sane vacuum
    * retention; head discovery never reuses.
    */
  val ListingReuseMs: Long = 5000L

  /** Shared pool for read-side prefetch (daemon: must never pin a JVM).
    * Sized for wide-area RTT hiding, not CPU — the tasks are tiny
    * metadata GET/HEADs that spend their life blocked on I/O.
    */
  private[catalog] lazy val prefetchPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(16, r => {
      val t = new Thread(r, "graft-txlog-prefetch")
      t.setDaemon(true)
      t
    })

  // ---- metadata-only column DDL (rename / drop) -----------------------------
  // A pinned field may carry `graft_physical` metadata: the column name
  // files ACTUALLY store (stable across renames — writes keep staging
  // it, reads rename it back to the field's logical name). A field
  // whose name starts with the dropped prefix is a TOMBSTONE: its
  // logical name is retired, its physical claim is kept so a re-added
  // column of the same name maps to a FRESH physical name instead of
  // resurrecting old file data. Tombstones are never read (the physical
  // scan omits them) and clear naturally on any full rewrite.

  /** StructField metadata key holding the physical (file) column name. */
  val PhysicalKey = "graft_physical"

  /** Name prefix marking a dropped column's tombstone field. */
  val DroppedPrefix = "__graft_dropped_"

  def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  def isDropped(f: org.apache.spark.sql.types.StructField): Boolean =
    f.name.startsWith(DroppedPrefix)

  /** The pin's user-visible fields (tombstones excluded). */
  def logicalFields(s: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.types.StructField] =
    s.fields.toSeq.filterNot(isDropped)

  // 8+ digits: the writer pads to 8 (f"v$v%08d") but GROWS past
  // 99,999,999 commits — an exact-8 match would stop discovering them,
  // silently resetting `version` and colliding publishes
  private val VersionRe = "v(\\d{8,})\\.txt".r
  private val CkptRe = "v(\\d{8,})\\.ckpt\\.txt".r

  /** Commits between checkpoints — the replay-length / checkpoint-write
    * trade. A snapshot resolve replays at most this many action files
    * past the newest checkpoint (each one a charged GET on an object
    * store, though the action cache + prefetch amortize them), while
    * every Nth commit pays one extra checkpoint PUT whose size is the
    * whole table-binding state. SCALE.md "Round 13: the read-charged
    * wide-area model" records the measured trade.
    */
  val checkpointEvery: Long = 10L

  /** Masked-file count above which a masked read collapses its
    * per-file DV anti-joins into ONE (file, PK)-keyed join — caps plan
    * size when mass vectorized deletes precede an OPTIMIZE.
    */
  val DvPerFileJoinMax: Int = 16

  /** A DV sidecar at most this large rides a broadcast hint in its
    * anti-join; bigger masks use the planner's size-driven choice
    * (shuffle/AQE), never a forced over-threshold broadcast.
    */
  val DvBroadcastMaxBytes: Long = 8L << 20

  /** A pinned schema's StructType from its log-held JSON. */
  def parseSchema(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** One committed state: table → root-relative immutable file list,
    * plus the idempotence ledger (writer appId → highest applied
    * batchId — the Delta-style streaming txn marker).
    */
  final case class Snapshot(version: Long, tables: Map[String, Vector[String]],
      txns: Map[String, Long] = Map.empty,
      schemas: Map[String, String] = Map.empty,
      stats: Map[(String, String), String] = Map.empty,
      dvs: Map[(String, String), String] = Map.empty)

  sealed trait Action { def touches: Seq[String] }
  final case class Put(table: String, files: Seq[String]) extends Action {
    def touches: Seq[String] = Seq(table)
  }
  final case class Add(table: String, files: Seq[String]) extends Action {
    def touches: Seq[String] = Seq(table)
  }
  /** Relative file exchange (Delta's remove/add): new binding = current
    * binding − `removes` + `adds`, whatever "current" is at apply time.
    * Patches over DISJOINT removed-file sets commute — the
    * file-granular DML concurrency unit. Only safe when the writer's
    * validation cannot be invalidated by rows it did not read (the
    * facade gates on constraint-free transforms).
    */
  final case class Patch(table: String, removes: Seq[String],
      adds: Seq[String]) extends Action {
    def touches: Seq[String] = Seq(table)
  }
  final case class Del(table: String) extends Action {
    def touches: Seq[String] = Seq(table)
  }
  final case class Ren(from: String, to: String) extends Action {
    def touches: Seq[String] = Seq(from, to)
  }
  /** Set the table's authoritative schema (StructType JSON). Reads pin
    * to it: older files null-fill columns added after they were
    * written — metadata-only ADD COLUMN — and schema inference stops
    * costing footer reads. ABSOLUTE for conflicts (interleaving a
    * schema change with any touch of the table is a real race).
    */
  final case class Sch(table: String, schemaJson: String) extends Action {
    def touches: Seq[String] = Seq(table)
  }
  /** Per-file column min/max harvested from the file's own footer at
    * stage time (the Delta-style data-skipping record). Derived
    * metadata riding the data action that publishes the file —
    * `touches` nothing, so it never changes conflict semantics.
    * [[StatsPruneRule]] prunes file lists from these with zero
    * read-time I/O.
    */
  final case class Sta(table: String, file: String,
      statsJson: String) extends Action {
    def touches: Seq[String] = Nil
  }
  /** The commit's wall-clock stamp (epoch millis), written by the
    * committer into every version file so `TIMESTAMP AS OF` resolves
    * times to versions from the LOG, never from filesystem mtimes
    * (vacuum refreshes those) or checkpoint state. Pure metadata:
    * touches nothing, changes no table state. Writer clocks may skew
    * across processes — readers monotonize the sequence at resolution
    * time (see [[TxLog.versionAtTime]]); the stamp never participates
    * in conflict checks or ordering.
    */
  final case class Cts(epochMs: Long) extends Action {
    def touches: Seq[String] = Nil
  }
  /** Idempotence marker: this commit applied writer `appId`'s `batchId`.
    * A later commit attempt carrying an already-applied (appId, batchId)
    * is skipped — exactly-once table state from at-least-once delivery
    * (streaming foreachBatch replays, retried jobs).
    */
  final case class Txn(appId: String, batchId: Long) extends Action {
    def touches: Seq[String] = Nil
  }
  /** Deletion vector (merge-on-read point delete, the Delta DV shape):
    * attach `dvFile` — a staged parquet holding the PK values deleted
    * from data file `file` — to the live binding. Reads subtract the
    * mask; the data file itself is never rewritten, so a 1-row delete
    * publishes a few-KB sidecar instead of a 128 MB copy. Conflict
    * semantics are PATCH-LIKE at file granularity: a Dvec on file F
    * conflicts with any interleaved commit that removed or re-masked F
    * (the interleaved writer read rows this mask deletes, or this mask
    * was computed without the interleaved one), and COMMUTES with
    * patches/Dvecs over disjoint files. A replacing Dvec carries the
    * FULL mask (old ∪ new), so the snapshot holds exactly one DV per
    * file; when the data file leaves the binding its DV drops with it.
    */
  final case class Dvec(table: String, file: String,
      dvFile: String) extends Action {
    def touches: Seq[String] = Seq(table)
  }

  /** Write-write conflict: the optimistic commit lost to an overlapping
    * one (the reference's WAL version-conflict rollback).
    */
  final class ConflictException(msg: String)
    extends java.util.ConcurrentModificationException(msg)
}
