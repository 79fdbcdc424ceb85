package graft.dml

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalRowsShim
import org.apache.spark.sql.types._

/** Constraint-enforcing DML (SURVEY §1.3 / `Iot.Database/Table/
  * TableCollection.cs`): FK existence + uniqueness checks on insert
  * (CheckConstraints, :922-978), upsert (:1195-1240), and the
  * cascade/restrict/set-null delete walk (:316-460).
  *
  * Storage-agnostic: every operation is DataFrame→DataFrame (the caller
  * owns the write — Delta MERGE where available, partition overwrite on
  * plain parquet).
  *
  * Two check paths return the same violations, in the same order:
  *  - SMALL batches are checked the way the reference checks a document,
  *    by key lookups. A batch is small when its optimized plan is a
  *    local relation (possibly under repartition or sort nodes), so its
  *    rows are read on the driver with no job; the planner's size
  *    estimate is within `spark.sql.autoBroadcastJoinThreshold` (the
  *    size under which a join would broadcast it); it holds at most
  *    [[SmallBatchMaxRows]] rows; and every checked column has a type
  *    whose equality the driver shares with Spark (integers, decimals,
  *    binary-collated strings, booleans, dates, timestamps). A frame
  *    read from a table is never small. In-batch checks (duplicate and
  *    null PKs, duplicate unique and 1:1 values) run on the driver with
  *    no job. Every table-side question (PK, unique and 1:1 matches, FK
  *    parents, the update result's PK multiplicity and null PKs) becomes
  *    an `IN`-literal filter; all of them are unioned into ONE collect
  *    with no exchange, and [[graft.catalog.StatsPruneRule]] skips the
  *    files whose log-held min/max exclude the keys.
  *  - BULK batches (anything else, e.g. every batch when the threshold
  *    is -1) are checked by joins whose strategy the planner picks: FK
  *    existence = left_anti against the parent keys, uniqueness =
  *    hash-agg on the key, table-side matches = one fused probe pass.
  */
object ConstrainedDml {

  sealed trait OnDelete
  case object Cascade extends OnDelete
  case object Restrict extends OnDelete
  case object SetNull extends OnDelete
  case object NoAction extends OnDelete

  /** FK from `childCol` to `parentTable.parentCol`. */
  final case class Fk(childCol: String, parentTable: String,
      parentCol: String, onDelete: OnDelete = NoAction, oneToOne: Boolean = false)

  final case class TableDef(name: String, pk: String,
      uniqueCols: Seq[String] = Nil, fks: Seq[Fk] = Nil)

  final case class Violation(kind: String, table: String, column: String,
      n: Long)

  /** Rows above which a batch takes the bulk path, whatever its size
    * estimate: the bound on the driver-held copy and on each `IN` list.
    */
  val SmallBatchMaxRows = 4096

  /** A small batch held on the driver: its rows, and the field index of
    * each column its checks compare.
    */
  private[graft] final case class LocalBatch(rows: Array[Row],
      fields: Map[String, Int])

  /** `df`'s rows on the driver when it is small (see the object doc),
    * read with no Spark job; None = the bulk path. `compared` names each
    * column a check compares by value, with the type of every column it
    * is compared against: each must be a type that compares on the
    * driver and match its counterparts exactly (a counterpart that is
    * absent, None, sends the batch to the bulk path). Only a frame that
    * the optimizer folds into one local relation is held; any other
    * frame — a table read, however small — takes the bulk path.
    *
    * `held` is `df`'s rows when the statement already read them with
    * [[heldRows]] (reading them costs a plan and a conversion per call);
    * None reads them here.
    */
  private[graft] def localBatch(df: DataFrame,
      compared: Seq[(String, Seq[Option[DataType]])],
      held: Option[Array[Row]] = None): Option[LocalBatch] = {
    val fields = compared.map { case (c, _) => c -> fieldOf(df.schema, c) }
    val comparable = compared.zip(fields).forall { case ((_, others), (_, at)) =>
      at.exists { i =>
        val t = df.schema(i).dataType
        driverComparable(t) && others.forall(_.contains(t))
      }
    }
    if (!comparable) None
    else held.orElse(heldRows(df))
      .map(LocalBatch(_, fields.map { case (c, at) => c -> at.get }.toMap))
  }

  /** `df`'s rows when it is a small local relation by the object doc's
    * row and size criteria (column types aside), read with no job.
    */
  private[graft] def heldRows(df: DataFrame): Option[Array[Row]] = {
    lazy val limit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    LocalRowsShim.localRows(df, SmallBatchMaxRows)
      .filter(_ => limit >= 0 &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= limit)
  }

  /** The type of `df`'s column `c` (see [[fieldOf]]), None when absent. */
  private[graft] def typeOf(df: DataFrame, c: String): Option[DataType] =
    fieldOf(df.schema, c).map(df.schema(_).dataType)

  /** The field `c` resolves to: an exact name match, else the one
    * case-insensitive match (None when absent or ambiguous).
    */
  private def fieldOf(schema: StructType, c: String): Option[Int] = {
    val exact = schema.fieldNames.indexOf(c)
    if (exact >= 0) Some(exact)
    else schema.fieldNames.zipWithIndex.filter(_._1.equalsIgnoreCase(c)) match {
      case Array((_, i)) => Some(i)
      case _ => None
    }
  }

  /** Types whose driver-side equality (Row values) is Spark's equality:
    * no floating point (NaN, -0.0), no non-binary collation, nothing
    * nested.
    */
  private def driverComparable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
        DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case s: StringType => s == StringType
    case _ => false
  }

  /** A Row value as a driver-side grouping key (decimals compare by
    * value whatever their scale).
    */
  private[graft] def key(v: Any): Any = v match {
    case d: java.math.BigDecimal => BigDecimal(d)
    case other => other
  }

  /** Validate `incoming` rows against constraints. Returns the violation
    * summary (empty = clean):
    *  - fk_missing: child FK value with no parent row
    *  - pk_conflict: incoming PK already present in `existing`
    *  - unique_conflict: duplicate unique-col value (within incoming or vs
    *    existing)
    *  - one_to_one_conflict: >1 child per parent on a 1:1 FK
    */
  def validateInsert(
      spark: SparkSession,
      table: TableDef,
      incoming: DataFrame,
      existing: Option[DataFrame],
      parents: Map[String, DataFrame]): Seq[Violation] = {
    val b = new CheckBuilder(table.name)
    val side = sideOf(b, table, incoming, existing.toSeq, parents)

    // Cross-checks against the EXISTING table put the table on the LEFT
    // and the batch's keys on the RIGHT: a probe join can only broadcast
    // the build (right) side, so this direction lets the planner (AQE
    // re-plans from runtime sizes) broadcast the bounded batch keys and
    // probe the table with a map-side scan — no shuffle, no broadcast of
    // table-scale data. The planner picks the join from the batch's size
    // estimate: a bulk load whose key set outgrows the broadcast
    // threshold sort-merges instead of collecting its keys on the driver.
    // ALL table-side probes (PK, 1:1 FK children, unique columns, the
    // null-PK presence flag) ride ONE pass over the table — a chain of
    // left-outer marker joins feeding a single aggregate — instead of
    // one table scan per checked column (the table scan is the
    // per-statement cost a 100 TB insert feels; the bounded batch builds
    // are the same either way). Violation.n counts conflicting TABLE
    // rows, exactly like per-column semi-joins would.
    val probe = existing.map(side.probe)

    table.fks.foreach { fk =>
      val parent = parentOf(parents, fk)
      side.fkMissing(b.slot("fk_missing", fk.childCol), fk, parent)
      if (fk.oneToOne) {
        side.duplicated(b.slot("one_to_one_conflict", fk.childCol),
          fk.childCol)
        probe.foreach(_.matchCount(
          b.slot("one_to_one_conflict", fk.childCol), fk.childCol))
      }
    }
    probe.foreach { p =>
      p.matchCount(b.slot("pk_conflict", table.pk), table.pk)
      // AT MOST ONE null-PK row per table: a second one could never be
      // addressed, replaced, or distinguished by id, and the in-batch
      // check already rejects two nulls arriving together — without
      // this, two single-null batches slip a state the whole-set
      // validation (restore, validateConstraints) rightly rejects.
      // Flag-AND of the two sides' null presence: the table flag rides
      // the fused probe pass, the batch flag the fused batch pass.
      val tNull = b.hidden()
      val bNull = b.hidden()
      p.nullCount(tNull, table.pk)
      b.derived("pk_conflict", table.pk, ns =>
        if (ns(tNull) > 0 && ns(bNull) > 0) 1L else 0L)
      b.batchNullSlot = Some(bNull)
    }
    // NOTE: the in-batch PK dupe check deliberately has no notNull filter
    // (a batch of several null PKs is a conflict, matching the original).
    // One batch pass emits the dupe count AND the batch-side null flag.
    side.pkDupesAndNull(b.slot("pk_conflict", table.pk), table.pk,
      b.batchNullSlot)
    // Unique checks split the old merged-groupBy (which shuffled the
    // WHOLE table's column per insert) into in-batch dupes + the fused
    // table probe; a value duplicated across the union is exactly one
    // of the two.
    table.uniqueCols.foreach { uc =>
      side.duplicated(b.slot("unique_conflict", uc), uc)
      probe.foreach(_.matchCount(b.slot("unique_conflict", uc), uc))
    }
    b.run()
  }

  private def parentOf(parents: Map[String, DataFrame], fk: Fk): DataFrame =
    parents.getOrElse(fk.parentTable,
      throw new IllegalArgumentException(s"missing parent ${fk.parentTable}"))

  /** The batch as a check source: held on the driver when it is small
    * and every checked column compares on the driver — the same type in
    * the batch, in `against` (the tables it is matched against) and, for
    * an FK, in the parent — else planned by Spark.
    */
  private def sideOf(b: CheckBuilder, table: TableDef, incoming: DataFrame,
      against: Seq[DataFrame], parents: Map[String, DataFrame],
      held: Option[Array[Row]] = None): Side =
    localBatch(incoming,
      (table.pk +: (table.uniqueCols ++ table.fks.map(_.childCol))).map(c =>
        c -> against.map(typeOf(_, c))) ++
      table.fks.map(fk => fk.childCol ->
        Seq(parents.get(fk.parentTable).flatMap(typeOf(_, fk.parentCol)))),
      held)
      .map(lb => new LocalSide(b, lb))
      .getOrElse(new FrameSide(b, incoming))

  /** Accumulates check slots (ordered), their answers, and derived
    * combinations; `run` evaluates every pending question in ONE Spark
    * job per path and folds the answers back into ordered
    * [[Violation]]s — same counts, same emission order as evaluating
    * each check separately. Bulk questions are count frames (and, via
    * [[TableProbe]], one pass over the existing table per statement);
    * small-path questions are counts the driver already knows and
    * `IN`-filtered lookups.
    */
  private final class CheckBuilder(tableName: String) {
    private val slots = mutable.ArrayBuffer.empty[(String, String)]
    // (kind, column); "" kind = hidden counter
    private val derivations = mutable.Map.empty[Int, Map[Int, Long] => Long]
    private val emitters = mutable.ArrayBuffer.empty[DataFrame]
    private val probes = mutable.ArrayBuffer.empty[Probe]
    private val known = mutable.Map.empty[Int, Long]
    private val lookups = mutable.ArrayBuffer.empty[(DataFrame, Seq[Ask])]
    var batchNullSlot: Option[Int] = None

    def slot(kind: String, column: String): Int = {
      slots += ((kind, column)); slots.size - 1
    }
    def hidden(): Int = slot("", "")
    def derived(kind: String, column: String,
        f: Map[Int, Long] => Long): Int = {
      val i = slot(kind, column); derivations(i) = f; i
    }
    /** Bulk: `slot` answers with the row count of `df`. */
    def rowCount(slot: Int, df: DataFrame): Unit =
      emitters += df.agg(count(lit(1)).as("n"))
        .select(lit(slot).as("i"), col("n"))
    /** Bulk: a frame of (slot, count) rows. */
    def emitter(df: DataFrame): Unit = emitters += df
    /** Small path: `slot`'s answer, computed on the driver. */
    def answer(slot: Int, n: Long): Unit = known(slot) = n
    /** Small path: the rows of `df` (already `IN`-filtered), from which
      * each ask folds its answer.
      */
    def lookup(df: DataFrame, asks: Seq[Ask]): Unit = lookups += ((df, asks))
    /** A probe, finished (its questions registered) by `run`. */
    def register(p: Probe): Probe = { probes += p; p }

    def run(): Seq[Violation] = {
      probes.foreach(_.finish())
      val ns = (known.toMap ++ counted() ++ looked()).withDefaultValue(0L)
      slots.zipWithIndex.collect {
        case ((kind, column), i) if kind.nonEmpty &&
            derivations.get(i).map(_(ns)).getOrElse(ns(i)) > 0 =>
          Violation(kind, tableName, column,
            derivations.get(i).map(_(ns)).getOrElse(ns(i)))
      }.toSeq
    }

    private def collect(df: DataFrame): Array[Row] =
      graft.core.JobLabel(df.sparkSession,
        s"constraint check $tableName") { df.collect() }

    private def counted(): Map[Int, Long] =
      if (emitters.isEmpty) Map.empty
      else collect(emitters.reduce(_.unionByName(_)))
        .map(r => r.getInt(0) -> r.getLong(1)).toMap

    // every lookup projects only its asks' marker (and value) columns;
    // the by-name union null-fills the others, so one collect with no
    // exchange answers them all
    private def looked(): Map[Int, Long] =
      if (lookups.isEmpty) Map.empty
      else {
        val union = lookups.map { case (df, asks) =>
          df.select(asks.flatMap(_.columns): _*)
        }.reduce(_.unionByName(_, allowMissingColumns = true))
        val rows = collect(union)
        val names = union.columns
        lookups.flatMap(_._2).map { a =>
          val m = names.indexOf(a.marker)
          val v = a.value.map(_ => names.indexOf(a.valueName))
          val hit = rows.filterNot(_.isNullAt(m))
          a.slot -> a.fold(hit.toSeq.map(r => v.map(r.get).orNull))
        }.toMap
      }
  }

  /** One small-path question over a lookup's rows: `fold` turns the
    * `value`s of the rows where `cond` holds (nulls when no value is
    * asked) into `slot`'s answer.
    */
  private final case class Ask(slot: Int, cond: Column,
      value: Option[Column], fold: Seq[Any] => Long) {
    def marker: String = s"_graft_probe_c$slot"
    def valueName: String = s"_graft_probe_v$slot"
    def columns: Seq[Column] = when(cond, lit(1)).as(marker) +:
      value.map(v => when(cond, v).as(valueName)).toSeq
  }

  /** The batch as a check source; each method registers the answer to
    * one question for `slot` with the builder. The bulk side plans
    * frames, the small side answers on the driver or with lookups.
    */
  private sealed abstract class Side {
    /** Batch rows with a non-null `fk.childCol` and no parent. */
    def fkMissing(slot: Int, fk: Fk, parent: DataFrame): Unit
    /** Distinct non-null values of `c` occurring more than once. */
    def duplicated(slot: Int, c: String): Unit
    /** PK groups holding more than one row, the null group included. */
    def repeatedPks(slot: Int, pk: String): Unit
    /** [[repeatedPks]] plus, in `nullSlot`, whether the batch holds a
      * null PK (insert's fused batch pass).
      */
    def pkDupesAndNull(slot: Int, pk: String, nullSlot: Option[Int]): Unit
    /** The batch's rows whose `c` is non-null. */
    def nonNull(c: String): Side
    /** The `result` rows this batch did not touch (see [[unchangedOf]]). */
    def unchanged(pk: String, result: DataFrame): DataFrame
    /** `result`'s PK groups over the batch's PKs holding > 1 row. */
    def resultMultiplicity(slot: Int, pk: String, result: DataFrame): Unit
    /** 1 when `result` holds two or more null-PK rows. */
    def resultNulls(slot: Int, pk: String, result: DataFrame): Unit
    /** A probe matching `table`'s rows against this batch. */
    def probe(table: DataFrame): Probe
  }

  private final class FrameSide(b: CheckBuilder, df: DataFrame)
      extends Side {
    def fkMissing(slot: Int, fk: Fk, parent: DataFrame): Unit =
      b.rowCount(slot, df.filter(col(fk.childCol).isNotNull)
        .join(broadcast(parent.select(col(fk.parentCol))),
          df(fk.childCol) === parent(fk.parentCol), "left_anti"))
    def duplicated(slot: Int, c: String): Unit =
      b.rowCount(slot, duplicatedKeys(df.select(col(c)), c))
    def repeatedPks(slot: Int, pk: String): Unit =
      b.rowCount(slot, repeated(df.groupBy(pk)))
    def pkDupesAndNull(slot: Int, pk: String,
        nullSlot: Option[Int]): Unit = {
      val g = df.groupBy(pk).agg(count(lit(1)).as(GroupCount))
      val aggs = Seq(
        sum(when(col(GroupCount) > 1, 1L).otherwise(0L)).as("_dupes")) ++
        nullSlot.map(_ =>
          max(when(col(pk).isNull, 1L).otherwise(0L)).as("_bnull"))
      val a = g.agg(aggs.head, aggs.drop(1): _*)
      val pairs = struct(lit(slot).as("i"),
        coalesce(col("_dupes"), lit(0L)).as("n")) +:
        nullSlot.map(s => struct(lit(s).as("i"),
          coalesce(col("_bnull"), lit(0L)).as("n"))).toSeq
      b.emitter(a.select(explode(array(pairs: _*)).as("s"))
        .select(col("s.i").as("i"), col("s.n").as("n")))
    }
    def nonNull(c: String): Side =
      new FrameSide(b, df.filter(col(c).isNotNull))
    def unchanged(pk: String, result: DataFrame): DataFrame =
      unchangedOf(pk, df, result)
    // Scalable direction: result probes map-side against the broadcast
    // bounded batch keys; the groupBy aggregates only the semi-matched
    // slice.
    def resultMultiplicity(slot: Int, pk: String, result: DataFrame): Unit = {
      val keys = df.select(col(pk)).filter(col(pk).isNotNull).distinct()
      b.rowCount(slot, repeated(result.filter(col(pk).isNotNull)
        .join(broadcast(keys), Seq(pk), "left_semi")
        .groupBy(pk)))
    }
    // limit(2) bounds the scan
    def resultNulls(slot: Int, pk: String, result: DataFrame): Unit =
      b.rowCount(slot, repeated(result.filter(col(pk).isNull).limit(2).groupBy()))
    def probe(table: DataFrame): Probe =
      b.register(new TableProbe(b, table, df))
  }

  private final class LocalSide(b: CheckBuilder, batch: LocalBatch)
      extends Side {
    private def values(c: String): Seq[Any] = {
      val i = batch.fields(c)
      batch.rows.toSeq.map(_.get(i))
    }
    /** Distinct non-null values of `c`: an `IN` list. */
    def keys(c: String): Seq[Any] =
      values(c).filter(_ != null).distinctBy(key)
    private def repeats(vs: Seq[Any]): Long =
      vs.groupBy(v => Option(key(v))).count(_._2.size > 1).toLong

    def fkMissing(slot: Int, fk: Fk, parent: DataFrame): Unit = {
      val vs = values(fk.childCol).filter(_ != null)
      if (vs.isEmpty) b.answer(slot, 0L)
      else b.lookup(parent.filter(col(fk.parentCol).isin(keys(fk.childCol): _*)),
        Seq(Ask(slot, lit(true), Some(col(fk.parentCol)), found => {
          val have = found.map(key).toSet
          vs.count(v => !have(key(v))).toLong
        })))
    }
    def duplicated(slot: Int, c: String): Unit =
      b.answer(slot, repeats(values(c).filter(_ != null)))
    def repeatedPks(slot: Int, pk: String): Unit =
      b.answer(slot, repeats(values(pk)))
    def pkDupesAndNull(slot: Int, pk: String,
        nullSlot: Option[Int]): Unit = {
      repeatedPks(slot, pk)
      nullSlot.foreach(s =>
        b.answer(s, if (values(pk).contains(null)) 1L else 0L))
    }
    def nonNull(c: String): Side = {
      val i = batch.fields(c)
      new LocalSide(b, batch.copy(rows = batch.rows.filterNot(_.isNullAt(i))))
    }
    def unchanged(pk: String, result: DataFrame): DataFrame = {
      val rest = result.filter(col(pk).isNotNull)
      val ks = keys(pk)
      if (ks.isEmpty) rest else rest.filter(!col(pk).isin(ks: _*))
    }
    def resultMultiplicity(slot: Int, pk: String, result: DataFrame): Unit = {
      val ks = keys(pk)
      if (ks.isEmpty) b.answer(slot, 0L)
      else b.lookup(result.filter(col(pk).isin(ks: _*)),
        Seq(Ask(slot, lit(true), Some(col(pk)), repeats)))
    }
    def resultNulls(slot: Int, pk: String, result: DataFrame): Unit =
      b.lookup(result.filter(col(pk).isNull),
        Seq(Ask(slot, lit(true), None, vs => if (vs.size >= 2) 1L else 0L)))
    def probe(table: DataFrame): Probe =
      b.register(new LocalProbe(b, table, this))
  }

  /** Table-side questions of one validation: how many `table` rows
    * carry a value of the probe's batch in a column, and whether the
    * table holds a null in a column.
    */
  private sealed abstract class Probe {
    def matchCount(slot: Int, column: String): Unit
    def nullCount(slot: Int, column: String): Unit
    /** Register the accumulated questions with the builder. */
    def finish(): Unit
  }

  /** Small path: each column's matches are an `IN` filter over `table`,
    * all of them OR-ed into ONE lookup — one scan of `table` however
    * many columns ask (a lone column's filter prunes files by its
    * stats). A null flag is its own `IS NULL` lookup, which prunes
    * every file whose stats prove no null.
    */
  private final class LocalProbe(b: CheckBuilder, table: DataFrame,
      batch: LocalSide) extends Probe {
    private val asks = mutable.ArrayBuffer.empty[Ask]
    def matchCount(slot: Int, column: String): Unit = {
      val ks = batch.keys(column)
      if (ks.isEmpty) b.answer(slot, 0L)
      else asks += Ask(slot, col(column).isin(ks: _*), None, _.size.toLong)
    }
    def nullCount(slot: Int, column: String): Unit =
      b.lookup(table.filter(col(column).isNull),
        Seq(Ask(slot, lit(true), None, vs => if (vs.isEmpty) 0L else 1L)))
    def finish(): Unit =
      if (asks.nonEmpty)
        b.lookup(table.filter(asks.map(_.cond).reduce(_ || _)), asks.toSeq)
  }

  /** ONE pass over a table answering every table-side question a
    * validation asks: for each requested column, how many table rows
    * carry a value present in the batch (a left-outer marker join per
    * column — broadcast when the planner's size estimate of the batch
    * keys allows, so bounded batches never shuffle the table, and bulk
    * batches sort-merge instead of collecting on the driver), plus
    * null-presence flags. Counts are matched TABLE rows (matches imply
    * non-null on both sides), like a per-column semi-join. Marker
    * columns carry the engine-internal `_graft_probe_` prefix, so a
    * checked column named like a short marker (`_k0`) stays unambiguous.
    * Self-validation (`validateUpdate` with incoming == result) passes
    * the whole table as the batch — the reason no broadcast is forced.
    */
  private final class TableProbe(b: CheckBuilder, existing: DataFrame,
      batch: DataFrame) extends Probe {
    private val reqs = mutable.ArrayBuffer
      .empty[(Int, DataFrame, String)] // (slot, batch, column)
    private val nulls = mutable.ArrayBuffer
      .empty[(Int, String)] // (slot, column)

    def matchCount(slot: Int, column: String): Unit =
      reqs += ((slot, batch, column))
    def nullCount(slot: Int, column: String): Unit =
      nulls += ((slot, column))
    def finish(): Unit =
      if (reqs.nonEmpty || nulls.nonEmpty) b.emitter(emit())

    private def emit(): DataFrame = {
      def m(kind: Char, j: Int) = s"_graft_probe_$kind$j"
      val cols = (reqs.map(_._3) ++ nulls.map(_._2)).distinct
      var t = existing.select(cols.map(col).toSeq: _*)
      reqs.zipWithIndex.foreach { case ((_, batch, c), j) =>
        val keys = batch.select(col(c).as(m('k', j)))
          .filter(col(m('k', j)).isNotNull).distinct()
          .withColumn(m('m', j), lit(1))
        t = t.join(keys, t(c) === col(m('k', j)), "left_outer")
          .drop(m('k', j))
      }
      val aggs: Seq[org.apache.spark.sql.Column] =
        (reqs.indices.map(j =>
          sum(when(col(m('m', j)) === 1, 1L).otherwise(0L)).as(m('n', j))) ++
        nulls.zipWithIndex.map { case ((_, c), j) =>
          max(when(col(c).isNull, 1L).otherwise(0L)).as(m('z', j)) }).toSeq
      val a = t.agg(aggs.head, aggs.drop(1): _*)
      val pairs =
        reqs.zipWithIndex.map { case ((slot, _, _), j) =>
          struct(lit(slot).as("i"),
            coalesce(col(m('n', j)), lit(0L)).as("n")) } ++
        nulls.zipWithIndex.map { case ((slot, _), j) =>
          struct(lit(slot).as("i"),
            coalesce(col(m('z', j)), lit(0L)).as("n")) }
      a.select(explode(array(pairs.toSeq: _*)).as("s"))
        .select(col("s.i").as("i"), col("s.n").as("n"))
    }
  }

  /** Distinct values of `c` appearing more than once (nulls excluded). */
  private def duplicatedKeys(df: DataFrame, c: String): DataFrame =
    repeated(df.filter(col(c).isNotNull).groupBy(c))

  /** Group row counts are named this, not Spark's `count`: a user column
    * may be called `count`, and grouping by it would make the name
    * ambiguous.
    */
  private val GroupCount = "_graft_n"

  /** The groups of `g` holding more than one row. */
  private[graft] def repeated(g: RelationalGroupedDataset): DataFrame =
    g.agg(count(lit(1)).as(GroupCount)).filter(col(GroupCount) > 1)

  /** Insert with constraint enforcement: throws on any violation (the
    * reference's insert path), else returns the appended state.
    */
  def insert(spark: SparkSession, table: TableDef, incoming: DataFrame,
      existing: Option[DataFrame], parents: Map[String, DataFrame]): DataFrame = {
    val violations = validateInsert(spark, table, incoming, existing, parents)
    if (violations.nonEmpty)
      throw new IllegalStateException(s"constraint violations: $violations")
    existing.map(_.unionByName(incoming)).getOrElse(incoming)
  }

  /** Upsert by PK (TableCollection.cs:1195-1240): incoming replaces
    * matching rows, inserts the rest. One shuffle on the PK (the Delta
    * MERGE plan shape) — or, when `incoming` is a small local relation
    * (see the object doc), a filter dropping its PKs as an `IN` list,
    * with no join and no job to build one.
    */
  def upsert(existing: DataFrame, incoming: DataFrame, pk: String): DataFrame =
    upsert(existing, incoming, pk, None)

  /** [[upsert]] with `incoming`'s rows when the statement holds them
    * (see [[localBatch]]).
    */
  private[graft] def upsert(existing: DataFrame, incoming: DataFrame,
      pk: String, held: Option[Array[Row]]): DataFrame =
    localBatch(incoming, Seq(pk -> Seq(typeOf(existing, pk))), held) match {
      case Some(lb) =>
        val at = lb.fields(pk)
        val ks = lb.rows.toSeq.map(_.get(at)).filter(_ != null).distinctBy(key)
        val kept =
          if (ks.isEmpty) existing
          else existing.filter(col(pk).isNull || !col(pk).isin(ks: _*))
        kept.unionByName(incoming)
      case None =>
        existing.join(incoming.select(col(pk)), Seq(pk), "left_anti")
          .unionByName(incoming)
    }

  /** Validate an update's outcome (Update/UpdateMany): FK existence for
    * the incoming/changed rows, PK uniqueness within them, and unique-col
    * uniqueness across the RESULTING state. PK matches vs existing rows
    * are exactly what an update does, so unlike validateInsert they are
    * not conflicts here.
    *
    * RESULT-SHAPE PRECONDITION (public seam): the decomposed checks are
    * presence-equivalent to a whole-result duplicate scan only when
    * `result` = (pre-state anti-joined on incoming PKs) ∪ `incoming` —
    * i.e. every result row whose PK appears in `incoming` IS an
    * incoming row. Every facade write path constructs exactly that
    * shape. A caller that violates it (an incoming PK also surviving on
    * an UNTOUCHED row) is rejected outright when `pkImmutable = false`:
    * the bounded result-vs-incoming PK-multiplicity check below counts
    * result rows per incoming PK and flags > 1. With `pkImmutable =
    * true` the caller PROVES PKs didn't move, which implies the shape.
    *
    * On the small path every result-side question is a filter over
    * `result`, so a `result` built by [[upsert]] from a small local
    * batch (a filter, not a join) keeps the whole check in one job.
    */
  def validateUpdate(
      spark: SparkSession,
      table: TableDef,
      incoming: DataFrame,
      result: DataFrame,
      parents: Map[String, DataFrame],
      pkImmutable: Boolean = false): Seq[Violation] =
    validateUpdate(table, incoming, None, result, parents, pkImmutable)

  /** [[validateUpdate]] with `incoming`'s rows when the statement holds
    * them (see [[localBatch]]).
    */
  private[graft] def validateUpdate(table: TableDef, incoming: DataFrame,
      held: Option[Array[Row]], result: DataFrame,
      parents: Map[String, DataFrame], pkImmutable: Boolean): Seq[Violation] = {
    val b = new CheckBuilder(table.name)
    val side = sideOf(b, table, incoming, Seq(result), parents, held)
    // Null-PK rows cannot be identified as "self" by the PK anti-join
    // (null never equi-matches), so they are EXCLUDED from `unchanged`
    // and compared separately against the non-null-PK slice of the
    // batch — otherwise a legitimately-inserted null-PK row would
    // self-collide on its own unique value in the self-validation paths
    // (RESTORE, rebuild, replica bootstrap pass incoming == result).
    // Each side is ONE fused probe pass, however many columns it checks
    // (built only when a unique or 1:1 column asks).
    lazy val unchanged = side.probe(side.unchanged(table.pk, result))
    lazy val nullPkRows = side.nonNull(table.pk)
      .probe(result.filter(col(table.pk).isNull))
    def crossChecks(kind: String, c: String): Unit = {
      unchanged.matchCount(b.slot(kind, c), c)
      nullPkRows.matchCount(b.slot(kind, c), c)
    }

    table.fks.foreach { fk =>
      val parent = parentOf(parents, fk)
      side.fkMissing(b.slot("fk_missing", fk.childCol), fk, parent)
      if (fk.oneToOne) {
        side.duplicated(b.slot("one_to_one_conflict", fk.childCol),
          fk.childCol)
        crossChecks("one_to_one_conflict", fk.childCol)
      }
    }
    // pkImmutable: the caller PROVES incoming rows keep pre-existing
    // distinct PKs (a predicate transform with the PK guarded against
    // SET targets) — the duplicate scan is then a wasted Spark job per
    // statement, the dominant fixed cost of small DMLs
    if (!pkImmutable) {
      side.repeatedPks(b.slot("pk_conflict", table.pk), table.pk)
      // the result-shape precondition, ENFORCED (see the scaladoc): a
      // PK-mutating transform landing on a PK that also survives on an
      // untouched row leaves that row outside `unchanged` (the anti-join
      // drops it), silently evading the unique checks — so count result
      // rows per incoming PK and reject multiplicity > 1.
      side.resultMultiplicity(b.slot("pk_conflict", table.pk), table.pk,
        result)
      // the one-null-PK-row rule (see validateInsert) on the POST-update
      // state: catches a transform nulling a pk while a null-PK row
      // exists, and makes whole-set self-validation (incoming == result:
      // restore, validateConstraints) reject exactly the states write
      // enforcement rejects.
      side.resultNulls(b.slot("pk_conflict", table.pk), table.pk, result)
    }
    table.uniqueCols.foreach { uc =>
      side.duplicated(b.slot("unique_conflict", uc), uc)
      crossChecks("unique_conflict", uc)
    }
    b.run()
  }

  /** Post-update rows NOT touched by the statement: the full result
    * anti-joined on the (bounded, broadcastable) changed-row PKs — the
    * table is map-side scanned, never shuffled. Used to decompose the
    * old whole-result duplicate groupBy (a table-column shuffle per
    * statement) into in-batch dupes + changed-vs-unchanged collisions;
    * presence-equivalent on any table whose pre-state satisfied its
    * constraints (every facade write path enforces them — attaching
    * constraints to an EXISTING table via defineTable does not, see
    * GraftDatabase.validateConstraints). Null-PK result rows are
    * handled by the caller's separate nullPkRows check (a null-pk
    * incoming row is excluded from that check's batch side because it
    * IS the result's null-pk row — self, not a collision; two distinct
    * null-PK rows cannot coexist under the one-null-PK-row rule both
    * validators enforce).
    */
  private def unchangedOf(pk: String, incoming: DataFrame,
      result: DataFrame): DataFrame =
    result.filter(col(pk).isNotNull)
      .join(incoming.select(col(pk)).filter(col(pk).isNotNull),
        Seq(pk), "left_anti")

  /** UpdateMany with a transform expression over matching rows
    * (TableCollection.cs:1305-1328; SQL `UPDATE c SET Name = UPPER($.Name)
    * WHERE …`): each (column -> expression) applies only where `predicate`
    * holds; other rows pass through unchanged. The predicate and EVERY
    * transform evaluate against the ORIGINAL row (one transform document
    * per row, like the reference) — so `Map(a -> b, b -> a)` swaps, and a
    * predicate over a transformed column matches the pre-update values.
    */
  def updateWhere(df: DataFrame,
      predicate: org.apache.spark.sql.Column,
      transforms: Map[String, org.apache.spark.sql.Column]): DataFrame = {
    val names = transforms.keys.toSeq
    val staged = df.select(
      col("*") +:
        coalesce(predicate, lit(false)).as("_graft_upd_pred") +:
        names.zipWithIndex.map { case (n, i) =>
          transforms(n).as(s"_graft_upd_rhs$i")
        }: _*)
    names.zipWithIndex.foldLeft(staged) { case (d, (n, i)) =>
      val prev = if (df.columns.contains(n)) col(n) else lit(null)
      d.withColumn(n,
        when(col("_graft_upd_pred"), col(s"_graft_upd_rhs$i")).otherwise(prev))
    }.drop("_graft_upd_pred" +: names.indices.map(i => s"_graft_upd_rhs$i"): _*)
  }

  /** Delete rows matching `predicate` from `table`, walking FKs per their
    * OnDelete action (TableCollection.cs:316-460). Returns the new state of
    * every affected table; throws if a Restrict child has matching rows.
    *
    * `states` maps table name -> (current rows, definition). Children are
    * found by scanning definitions for FKs pointing at `table`.
    */
  def deleteCascade(
      spark: SparkSession,
      states: Map[String, (DataFrame, TableDef)],
      table: String,
      predicate: org.apache.spark.sql.Column): Map[String, DataFrame] =
    deleteCascadeWithHits(spark, states, table, predicate)._1

  /** [[deleteCascade]] plus, per changed table, the frame of rows the
    * walk TOUCHED there (deleted or FK-set-null) — the facade derives
    * file-granular rewrites from it (only files holding a touched row
    * rewrite). Every hit frame descends directly from that table's
    * frame, so a column it carries (the facade's source-file column)
    * survives into it; the root's is `predicate` over that frame, so the
    * predicate reaches the scan (file skipping applies).
    */
  def deleteCascadeWithHits(
      spark: SparkSession,
      states: Map[String, (DataFrame, TableDef)],
      table: String,
      predicate: org.apache.spark.sql.Column)
      : (Map[String, DataFrame], Map[String, DataFrame]) = {
    val (rows, tdef) = states(table)
    // a null PK never equi-matches the removal below, so such a row is
    // not deleted, and not a hit
    deleteByKeys(spark, states, table,
      rows.filter(predicate && col(tdef.pk).isNotNull).cache())
  }

  /** Delete `doomed` (rows of `table`'s state, evaluated once) and walk
    * its children's FKs.
    */
  private def deleteByKeys(
      spark: SparkSession,
      states: Map[String, (DataFrame, TableDef)],
      table: String,
      doomed: DataFrame)
      : (Map[String, DataFrame], Map[String, DataFrame]) = {
    val (rows, tdef) = states(table)
    val doomedKeys = doomed.select(col(tdef.pk))
    // thread state updates through the walk: if two FK paths reach the same
    // table (diamond), the second pass must see the first pass's deletes
    var current: Map[String, (DataFrame, TableDef)] = states
    var hits: Map[String, DataFrame] = Map.empty
    def addHit(n: String, df: DataFrame): Unit =
      hits = hits.updated(n, hits.get(n).map(_.unionByName(df)).getOrElse(df))

    current.foreach { case (childName, (_, childDef)) =>
      childDef.fks.filter(_.parentTable == table).foreach { fk =>
        // re-read the child's current state per FK: a child with two FKs to
        // the same parent (e.g. sender_id and receiver_id, both SetNull)
        // must see the first FK's update when processing the second
        val childRows = current(childName)._1
        val affected = childRows.join(broadcast(doomedKeys),
          childRows(fk.childCol) === doomedKeys(tdef.pk), "left_semi")
        fk.onDelete match {
          case Restrict =>
            val n = affected.count()
            if (n > 0) throw new IllegalStateException(
              s"restrictive FK: $childName.${fk.childCol} has $n dependent rows")
          case Cascade =>
            val (sub, subHits) =
              deleteByKeys(spark, current - table, childName, affected.cache())
            current = current.map { case (n, (df, d)) =>
              n -> ((sub.getOrElse(n, df), d))
            }
            subHits.foreach { case (n, df) => addHit(n, df) }
          case SetNull =>
            addHit(childName, affected)
            val marked = childRows.join(broadcast(doomedKeys
                .withColumnRenamed(tdef.pk, "_doomed")),
              childRows(fk.childCol) === col("_doomed"), "left")
            val updated = marked
              .withColumn(fk.childCol,
                when(col("_doomed").isNotNull, lit(null)).otherwise(col(fk.childCol)))
              .drop("_doomed")
            current = current.updated(childName, (updated, childDef))
          case NoAction => ()
        }
      }
    }

    val remaining = rows.join(broadcast(doomedKeys
        .withColumnRenamed(tdef.pk, "_doomed")),
      rows(tdef.pk) === col("_doomed"), "left_anti")
    addHit(table, doomed)
    // report every table whose state changed (plus this one)
    val changed = current.collect {
      case (n, (df, _)) if !(df eq states(n)._1) => n -> df
    } + (table -> remaining)
    (changed, hits.filter { case (n, _) => changed.contains(n) })
  }
}
