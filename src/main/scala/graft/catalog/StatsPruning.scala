package graft.catalog

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Automatic data skipping — the analog of the reference's query
  * optimizer picking an index per AND-term with no user hint
  * (`LiteDB/Engine/Query/QueryOptimization.cs:168-294`,
  * `IndexOptimization` over the WHERE's conjuncts). The one file-skipping
  * path: it fires on every `db.sql(...)`, `db.table(...).filter(...)`,
  * `db.find(...)`, [[GraftDatabase.seek]] (a range filter) and every
  * keyed write's hit probe (a filter over the frame whose source-file
  * column is Spark's deterministic `_metadata` path, so the filter still
  * reaches the relation) — any Spark plan whose filter sits over a
  * graft-owned parquet relation.
  *
  * Mechanics: a logical-plan rule (installed once per session into
  * `spark.experimental.extraOptimizations`, so it runs AFTER filter
  * pushdown has collapsed predicates onto the relation) matches
  * `Filter(cond, LogicalRelation(HadoopFsRelation))`, resolves each
  * scanned file's log-held stats through [[GraftStatsRegistry]],
  * extracts per-column [lo, hi] bounds from the filter's top-level
  * conjuncts, and swaps in a [[PrunedFileIndex]] listing only the
  * files whose stats admit the range. The ORIGINAL filter stays in the
  * plan, so results never depend on stats precision; a file without
  * usable stats (foreign writer, stat-less column, vacuumed history)
  * is always scanned.
  *
  * Scale: per query the rule does one in-memory map lookup per file
  * and one compiled-regex probe per (file, bounded column) — no I/O,
  * no footer opens. At a million files that is the difference between
  * "plan in milliseconds from the log" and "open a million footers".
  */
object GraftStatsRegistry {

  // the newest head snapshot any TxLog on a root resolved, its
  // per-file stats flattened to rel-path -> json on first use — one
  // map fetch per QUERY, then O(1) lookups per file
  private final class Head(val snap: TxLog.Snapshot) {
    lazy val relStats: Map[String, String] =
      snap.stats.map { case ((_, r), js) => r -> js }
  }

  // normalized absolute database root -> that head, with a WEAK ref to
  // the TxLog that last resolved one: a session can open thousands of
  // (often temporary) databases over its lifetime, and the registry
  // must neither pin them past their owner's reachability nor charge
  // every later query for their corpses — dead entries self-prune on
  // the next touch
  private final class Entry(val log: java.lang.ref.WeakReference[TxLog],
      val head: Head)

  private val roots = new ConcurrentHashMap[String, Entry]()

  /** Record a head snapshot `log` resolved. The rule plans from the
    * newest one and lists nothing itself: data files are immutable and
    * uniquely named, so a map older than a reader's binding can only
    * MISS (missing entry = scan, conservative), never serve wrong
    * bounds.
    */
  private[catalog] def published(rootAbs: String, log: TxLog,
      snap: TxLog.Snapshot): Unit = {
    roots.compute(rootAbs, (_, old) => {
      val newer = old == null || old.head.snap.version < snap.version
      if (!newer && (old.log.get() eq log)) old
      else new Entry(new java.lang.ref.WeakReference(log),
        if (newer) new Head(snap) else old.head)
    })
    ()
  }

  private def live(r: String): Option[Head] = {
    val e = roots.get(r)
    if (e == null) None
    else if (e.log.get() == null) { roots.remove(r, e); None }
    else Some(e.head)
  }

  /** Normalize a FileIndex path (a `file:` URI) to a raw fs path. */
  private def fsPath(p: String): String =
    try new Path(p).toUri.getPath catch { case _: Throwable => p }

  /** True when any LIVE registered database root could own this path —
    * the cheap gate that keeps the rule a no-op on foreign scans.
    */
  def covers(p: Path): Boolean = {
    val s = fsPath(p.toString)
    // component-wise prefix (mirrors resolver()'s r + "/" probes):
    // bare startsWith would pull /x/db10 scans into /x/db1's rule pass
    roots.keys.asScala.exists(r =>
      (s.startsWith(r + "/") || s == r) && live(r).isDefined)
  }

  /** One stats resolver per QUERY — and per-ROOT LAZY: only the root
    * actually owning a probed path flattens its head's stats (once per
    * version), never every database the session has ever opened.
    * Per-file lookups are then O(1) map gets — the rule lists no log
    * and touches no filesystem.
    */
  def resolver(): String => Option[String] = {
    val prefixes = roots.keys.asScala.toSeq.map(r => (r + "/", r))
    val fetched = scala.collection.mutable.Map.empty[String, Map[String, String]]
    absPath => {
      val s = fsPath(absPath)
      prefixes.collectFirst {
        case (prefix, r) if s.startsWith(prefix) =>
          fetched.getOrElseUpdate(r,
            live(r).map(_.relStats).getOrElse(Map.empty))
            .get(s.stripPrefix(prefix))
      }.flatten
    }
  }
}

/** A FileIndex that serves only the surviving files of its base —
  * the pruned binding the rule swaps into the relation. Delegates
  * listing to the base (which already holds statuses in memory for
  * explicit-file reads), filtering by path; never re-lists the
  * filesystem.
  */
final class PrunedFileIndex(base: FileIndex, keep: Set[String])
    extends FileIndex {
  // membership compares Path-normalized URIs: FileIndex.inputFiles says
  // `file:///x` where Path.toString says `file:/x` — one canonical form
  private def canon(s: String): String = new Path(s).toString
  override def rootPaths: Seq[Path] = base.rootPaths
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    base.listFiles(partitionFilters, dataFilters)
      .map(pd => pd.copy(
        files = pd.files.filter(f => keep(f.getPath.toString))))
      .filter(_.files.nonEmpty)
  override def inputFiles: Array[String] =
    base.inputFiles.filter(s => keep(canon(s)))
  override def refresh(): Unit = base.refresh()
  // report the PRUNED size so downstream join-side estimates (broadcast
  // thresholds) see the data that will actually scan
  override lazy val sizeInBytes: Long =
    listFiles(Nil, Nil).flatMap(_.files).map(_.getLen).sum
  override def partitionSchema: StructType = base.partitionSchema
}

/** The auto-skipping rule. Stateless; safe to install once per session
  * and share across databases (the registry resolves ownership).
  */
final class StatsPruneRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, l: LogicalRelation)
        if eligible(l) =>
      val fs = l.relation.asInstanceOf[HadoopFsRelation]
      val conjuncts = splitConjunctivePredicates(cond)
      val bounds = StatsPruneRule.columnBounds(conjuncts)
      val nullProbes = StatsPruneRule.nullProbes(conjuncts)
      if (bounds.isEmpty && nullProbes.isEmpty) f
      else {
        val probes = bounds.map { case (c, (lo, hi)) =>
          StatsPruneRule.toProbe(c, lo, hi)
        }.toSeq
        val statsOf = GraftStatsRegistry.resolver()
        val files = fs.location.inputFiles
        val keep = files.filter { p =>
          statsOf(p) match {
            case None => true // stat-less: always scan (conservative)
            case js => probes.forall(_.admits(js)) &&
              nullProbes.forall(_.admits(js))
          }
        }
        if (keep.length == files.length) f
        else {
          val pruned = new PrunedFileIndex(fs.location,
            keep.map(p => new Path(p).toString).toSet)
          f.copy(child = l.copy(
            relation = fs.copy(location = pruned)(fs.sparkSession)))
        }
      }
  }

  private def eligible(l: LogicalRelation): Boolean = l.relation match {
    case fs: HadoopFsRelation =>
      // idempotence under the fixed-point batch: a relation we already
      // pruned never re-matches; foreign scans gate out on the cheap
      // root check before any per-file work
      !fs.location.isInstanceOf[PrunedFileIndex] &&
        fs.location.rootPaths.exists(GraftStatsRegistry.covers)
    case _ => false
  }
}

object StatsPruneRule {

  /** Install into the session's user-provided optimizer batch (runs
    * after pushdown, so filters sit directly over relations). Safe to
    * call repeatedly; one instance per session.
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.experimental.synchronized {
      if (!spark.experimental.extraOptimizations
          .exists(_.isInstanceOf[StatsPruneRule]))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ new StatsPruneRule
    }

  // a bound value in one comparable domain; mixed domains for one
  // column (can't happen for a well-typed attr, but defend) drop out
  private[catalog] sealed trait B { def any: Any }
  private final case class NB(v: BigDecimal) extends B { def any: Any = v }
  private final case class SB(v: String) extends B { def any: Any = v }
  // typed timestamp bound: Catalyst micros + the instant/wall-clock
  // split (utc = TimestampType ↔ "tsu" entries, else TimestampNTZType
  // ↔ "tsn") — probes only same-kind harvested entries, so a legacy
  // raw-unit "num" entry or a cross-kind file never misprunes
  private final case class TB(v: BigDecimal, utc: Boolean) extends B {
    def any: Any = v
  }

  /** The compiled probe for one column's [lo, hi] box, typed-timestamp
    * aware.
    */
  private[catalog] def toProbe(c: String, lo: Option[B],
      hi: Option[B]): FileStatsUtil.StatsProbe =
    lo.orElse(hi) match {
      case Some(TB(_, utc)) => FileStatsUtil.probeTsMicros(c,
        lo.collect { case TB(v, `utc`) => v },
        hi.collect { case TB(v, `utc`) => v }, utc)
      case _ => FileStatsUtil.probeBounds(c, lo.map(_.any), hi.map(_.any))
    }

  /** Convert a literal's Catalyst-internal value into the domain the
    * footer harvest used, or None when no sound mapping exists.
    * Timestamps carry Catalyst MICROS and probe the harvest's typed
    * micros-normalized entries; DECIMAL probes the harvest's
    * scale-applied plain-decimal entries. Dates are safe raw — parquet
    * DATE is always days, and the Catalyst literal is the same Int.
    */
  private def litBound(lit: Literal): Option[B] =
    if (lit.value == null) None
    else lit.dataType match {
      case ByteType => Some(NB(BigDecimal(lit.value.asInstanceOf[Byte].toInt)))
      case ShortType =>
        Some(NB(BigDecimal(lit.value.asInstanceOf[Short].toInt)))
      case IntegerType | DateType =>
        Some(NB(BigDecimal(lit.value.asInstanceOf[Int])))
      case LongType => Some(NB(BigDecimal(lit.value.asInstanceOf[Long])))
      case FloatType =>
        val v = lit.value.asInstanceOf[Float]
        if (v.isNaN || v.isInfinite) None else Some(NB(BigDecimal(v.toDouble)))
      case DoubleType =>
        val v = lit.value.asInstanceOf[Double]
        if (v.isNaN || v.isInfinite) None else Some(NB(BigDecimal(v)))
      case BooleanType =>
        Some(NB(BigDecimal(if (lit.value.asInstanceOf[Boolean]) 1 else 0)))
      case StringType => // DEFAULT (binary) collation only: the footer
        // harvest orders by UTF-8 bytes, which matches binary collation
        // exactly and NO other — a collated column must not prune
        Some(SB(lit.value.asInstanceOf[UTF8String].toString))
      case TimestampType => // Catalyst instant micros ↔ "tsu" entries
        Some(TB(BigDecimal(lit.value.asInstanceOf[Long]), utc = true))
      case TimestampNTZType => // wall-clock micros ↔ "tsn" entries
        Some(TB(BigDecimal(lit.value.asInstanceOf[Long]), utc = false))
      case _: DecimalType => // harvest applies the scale, so plain
        // decimal compare is exact
        Some(NB(lit.value
          .asInstanceOf[org.apache.spark.sql.types.Decimal].toBigDecimal))
      case _ => None // non-binary collations, binary, intervals…
    }

  private def utf8Max(a: String, b: String): String =
    if (FileStatsUtil.utf8LteForPrune(a, b)) b else a
  private def utf8Min(a: String, b: String): String =
    if (FileStatsUtil.utf8LteForPrune(a, b)) a else b

  private def maxB(a: B, b: B): Option[B] = (a, b) match {
    case (NB(x), NB(y)) => Some(NB(x.max(y)))
    case (SB(x), SB(y)) => Some(SB(utf8Max(x, y)))
    case (TB(x, u), TB(y, v)) if u == v => Some(TB(x.max(y), u))
    case _ => None
  }
  private def minB(a: B, b: B): Option[B] = (a, b) match {
    case (NB(x), NB(y)) => Some(NB(x.min(y)))
    case (SB(x), SB(y)) => Some(SB(utf8Min(x, y)))
    case (TB(x, u), TB(y, v)) if u == v => Some(TB(x.min(y), u))
    case _ => None
  }

  /** IS NULL / IS NOT NULL conjuncts as compiled null-count probes.
    * Spark's optimizer inserts `IsNotNull(c)` under every comparison
    * filter, so all-null files prune on ORDINARY predicates too, not
    * just explicit IS NOT NULL — and an `IS NULL` probe skips every
    * file whose harvest proves zero nulls.
    */
  private[catalog] def nullProbes(conjuncts: Seq[Expression])
      : Seq[FileStatsUtil.NullProbe] =
    conjuncts.collect {
      case IsNull(a: AttributeReference) =>
        FileStatsUtil.nullProbe(a.name.toLowerCase, wantNull = true)
      case IsNotNull(a: AttributeReference) =>
        FileStatsUtil.nullProbe(a.name.toLowerCase, wantNull = false)
    }

  /** Fold the filter's conjuncts into the tightest per-column
    * [lo, hi] box the stats can check: `=`, `<`, `<=`, `>`, `>=` (both
    * operand orders), BETWEEN (arrives as two conjuncts), IN and InSet
    * (their literal min/max — conservative), and `startswith` (lower bound).
    * Strict bounds relax to inclusive — stats pruning only needs
    * soundness, the real filter still runs. Conjuncts the box can't
    * express (OR trees, casts, expressions over the column) simply
    * contribute nothing.
    */
  private[catalog] def columnBounds(conjuncts: Seq[Expression])
      : Map[String, (Option[B], Option[B])] = {
    var lo = Map.empty[String, B]
    var hi = Map.empty[String, B]
    var dead = Set.empty[String] // mixed-domain columns: never prune
    def addLo(c: String, b: B): Unit =
      lo.get(c).map(maxB(_, b)) match {
        case Some(Some(m)) => lo += c -> m
        case Some(None) => dead += c
        case None => lo += c -> b
      }
    def addHi(c: String, b: B): Unit =
      hi.get(c).map(minB(_, b)) match {
        case Some(Some(m)) => hi += c -> m
        case Some(None) => dead += c
        case None => hi += c -> b
      }
    def name(a: AttributeReference): String = a.name.toLowerCase
    // an IN list bounds its column by the literals' min/max; a null or
    // unconvertible literal leaves the column unbounded
    def addSet(a: AttributeReference, vs: Seq[Literal]): Unit = {
      val bs = vs.map(litBound)
      if (bs.forall(_.isDefined)) {
        val all = bs.flatten
        val mn = all.reduceLeft((x, y) => minB(x, y).getOrElse {
          dead += name(a); x
        })
        val mx = all.reduceLeft((x, y) => maxB(x, y).getOrElse {
          dead += name(a); x
        })
        if (!dead(name(a))) { addLo(name(a), mn); addHi(name(a), mx) }
      }
    }
    conjuncts.foreach {
      case EqualTo(a: AttributeReference, l: Literal) =>
        litBound(l).foreach { b => addLo(name(a), b); addHi(name(a), b) }
      case EqualTo(l: Literal, a: AttributeReference) =>
        litBound(l).foreach { b => addLo(name(a), b); addHi(name(a), b) }
      case EqualNullSafe(a: AttributeReference, l: Literal) =>
        litBound(l).foreach { b => addLo(name(a), b); addHi(name(a), b) }
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        litBound(l).foreach(addLo(name(a), _))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        litBound(l).foreach(addLo(name(a), _))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        litBound(l).foreach(addHi(name(a), _))
      case LessThan(a: AttributeReference, l: Literal) =>
        litBound(l).foreach(addHi(name(a), _))
      // reversed operand order: lit OP attr
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        litBound(l).foreach(addHi(name(a), _))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        litBound(l).foreach(addHi(name(a), _))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        litBound(l).foreach(addLo(name(a), _))
      case LessThan(l: Literal, a: AttributeReference) =>
        litBound(l).foreach(addLo(name(a), _))
      case In(a: AttributeReference, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        addSet(a, vs.map(_.asInstanceOf[Literal]))
      // OptimizeIn turns an IN of more than
      // spark.sql.optimizer.inSetConversionThreshold literals into InSet
      // before this rule runs; its set holds Catalyst-internal values
      case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
        addSet(a, hset.toSeq.map(v => Literal(v, a.dataType)))
      case StartsWith(a: AttributeReference, l: Literal) =>
        litBound(l).foreach(addLo(name(a), _)) // prefix is a lower bound
      case _ => () // OR trees, casts, UDF wraps: contribute nothing
    }
    (lo.keySet ++ hi.keySet).diff(dead).map { c =>
      c -> (lo.get(c), hi.get(c))
    }.toMap
  }
}
