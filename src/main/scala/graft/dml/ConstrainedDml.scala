package graft.dml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Constraint-enforcing DML (SURVEY §1.3 / `Iot.Database/Table/
  * TableCollection.cs`): FK existence + uniqueness checks on insert
  * (CheckConstraints, :922-978), upsert (:1195-1240), and the
  * cascade/restrict/set-null delete walk (:316-460).
  *
  * Storage-agnostic: every operation is DataFrame→DataFrame (the caller
  * owns the write — Delta MERGE where available, partition overwrite on
  * plain parquet). Checks are formulated as joins so they distribute:
  * FK existence = left_anti against the parent keys (broadcast when the
  * parent is a dim), uniqueness = hash-agg on the key.
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
    val probe = existing.map(b.probe)

    table.fks.foreach { fk =>
      val parent = parents.getOrElse(fk.parentTable,
        throw new IllegalArgumentException(s"missing parent ${fk.parentTable}"))
      b.single("fk_missing", fk.childCol,
        incoming.filter(col(fk.childCol).isNotNull)
          .join(broadcast(parent.select(col(fk.parentCol))),
            incoming(fk.childCol) === parent(fk.parentCol), "left_anti"))
      if (fk.oneToOne) {
        b.single("one_to_one_conflict", fk.childCol,
          duplicatedKeys(incoming.select(col(fk.childCol)), fk.childCol))
        probe.foreach(p => p.matchCount(
          b.slot("one_to_one_conflict", fk.childCol), incoming, fk.childCol))
      }
    }
    probe.foreach { p =>
      p.matchCount(b.slot("pk_conflict", table.pk), incoming, table.pk)
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
    locally {
      val dupeSlot = b.slot("pk_conflict", table.pk)
      val g = incoming.groupBy(table.pk).count()
      val aggs = Seq(
        sum(when(col("count") > 1, 1L).otherwise(0L)).as("_dupes")) ++
        b.batchNullSlot.map(_ =>
          max(when(col(table.pk).isNull, 1L).otherwise(0L)).as("_bnull"))
      val a = g.agg(aggs.head, aggs.drop(1): _*)
      val pairs = struct(lit(dupeSlot).as("i"),
        coalesce(col("_dupes"), lit(0L)).as("n")) +:
        b.batchNullSlot.map(s => struct(lit(s).as("i"),
          coalesce(col("_bnull"), lit(0L)).as("n"))).toSeq
      b.emitter(a.select(explode(array(pairs: _*)).as("s"))
        .select(col("s.i").as("i"), col("s.n").as("n")))
    }
    // Unique checks split the old merged-groupBy (which shuffled the
    // WHOLE table's column per insert) into in-batch dupes + the fused
    // table probe; a value duplicated across the union is exactly one
    // of the two.
    table.uniqueCols.foreach { uc =>
      b.single("unique_conflict", uc,
        duplicatedKeys(incoming.select(col(uc)), uc))
      probe.foreach(p => p.matchCount(
        b.slot("unique_conflict", uc), incoming, uc))
    }
    b.run()
  }

  /** Accumulates check slots (ordered), count emitters, and derived
    * combinations; `run` collects every emitter's (slot, count) rows in
    * ONE Spark job and folds them back into ordered [[Violation]]s —
    * same counts, same emission order as evaluating each check
    * separately, but one action and (via [[TableProbe]]) one pass over
    * the existing table per statement instead of one per checked
    * column.
    */
  private final class CheckBuilder(tableName: String) {
    private val slots = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)] // (kind, column); "" kind = hidden counter
    private val derivations = scala.collection.mutable.Map
      .empty[Int, Map[Int, Long] => Long]
    private val emitters = scala.collection.mutable.ArrayBuffer
      .empty[DataFrame]
    private val probes = scala.collection.mutable.ArrayBuffer
      .empty[TableProbe]
    var batchNullSlot: Option[Int] = None

    def slot(kind: String, column: String): Int = {
      slots += ((kind, column)); slots.size - 1
    }
    def hidden(): Int = slot("", "")
    def derived(kind: String, column: String,
        f: Map[Int, Long] => Long): Int = {
      val i = slot(kind, column); derivations(i) = f; i
    }
    def single(kind: String, column: String, df: DataFrame): Unit = {
      val i = slot(kind, column)
      emitters += df.agg(count(lit(1)).as("n"))
        .select(lit(i).as("i"), col("n"))
    }
    def emitter(df: DataFrame): Unit = emitters += df
    /** A [[TableProbe]] over `table`, emitted by `run` when asked anything. */
    def probe(table: DataFrame): TableProbe = {
      val p = new TableProbe(table); probes += p; p
    }

    def run(): Seq[Violation] = {
      val all = emitters ++ probes.filter(_.nonEmpty).map(_.emit())
      if (all.isEmpty) return Nil
      val union = all.reduce(_.unionByName(_))
      val ns = graft.core.JobLabel(union.sparkSession,
        s"constraint check $tableName") { union.collect() }
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      slots.zipWithIndex.collect {
        case ((kind, column), i) if kind.nonEmpty &&
            derivations.get(i).map(_(ns))
              .getOrElse(ns.getOrElse(i, 0L)) > 0 =>
          Violation(kind, tableName, column,
            derivations.get(i).map(_(ns)).getOrElse(ns(i)))
      }.toSeq
    }
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
  private final class TableProbe(existing: DataFrame) {
    private val reqs = scala.collection.mutable.ArrayBuffer
      .empty[(Int, DataFrame, String)] // (slot, batch, column)
    private val nulls = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String)] // (slot, column)

    def matchCount(slot: Int, batch: DataFrame, column: String): Unit =
      reqs += ((slot, batch, column))
    def nullCount(slot: Int, column: String): Unit =
      nulls += ((slot, column))
    def nonEmpty: Boolean = reqs.nonEmpty || nulls.nonEmpty

    def emit(): DataFrame = {
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
    df.filter(col(c).isNotNull).groupBy(c).count().filter(col("count") > 1)

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
    * MERGE plan shape).
    */
  def upsert(existing: DataFrame, incoming: DataFrame, pk: String): DataFrame =
    existing.join(incoming.select(col(pk)), Seq(pk), "left_anti")
      .unionByName(incoming)

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
    */
  def validateUpdate(
      spark: SparkSession,
      table: TableDef,
      incoming: DataFrame,
      result: DataFrame,
      parents: Map[String, DataFrame],
      pkImmutable: Boolean = false): Seq[Violation] = {
    val b = new CheckBuilder(table.name)
    // Null-PK rows cannot be identified as "self" by the PK anti-join
    // (null never equi-matches), so they are EXCLUDED from `unchanged`
    // and compared separately against the non-null-PK slice of the
    // batch — otherwise a legitimately-inserted null-PK row would
    // self-collide on its own unique value in the self-validation paths
    // (RESTORE, rebuild, replica bootstrap pass incoming == result).
    // Each side is ONE fused probe pass, however many columns it checks
    // (built only when a unique or 1:1 column asks).
    lazy val unchanged = b.probe(unchangedOf(table, incoming, result))
    lazy val nullPkRows = b.probe(result.filter(col(table.pk).isNull))
    lazy val nonNullPkIncoming = incoming.filter(col(table.pk).isNotNull)
    def crossChecks(kind: String, c: String): Unit = {
      unchanged.matchCount(b.slot(kind, c), incoming, c)
      nullPkRows.matchCount(b.slot(kind, c), nonNullPkIncoming, c)
    }

    table.fks.foreach { fk =>
      val parent = parents.getOrElse(fk.parentTable,
        throw new IllegalArgumentException(s"missing parent ${fk.parentTable}"))
      b.single("fk_missing", fk.childCol,
        incoming.filter(col(fk.childCol).isNotNull)
          .join(broadcast(parent.select(col(fk.parentCol))),
            incoming(fk.childCol) === parent(fk.parentCol), "left_anti"))
      if (fk.oneToOne) {
        b.single("one_to_one_conflict", fk.childCol,
          duplicatedKeys(incoming.select(col(fk.childCol)), fk.childCol))
        crossChecks("one_to_one_conflict", fk.childCol)
      }
    }
    // pkImmutable: the caller PROVES incoming rows keep pre-existing
    // distinct PKs (a predicate transform with the PK guarded against
    // SET targets) — the duplicate scan is then a wasted Spark job per
    // statement, the dominant fixed cost of small DMLs
    if (!pkImmutable) {
      b.single("pk_conflict", table.pk,
        incoming.groupBy(table.pk).count().filter(col("count") > 1))
      // the result-shape precondition, ENFORCED (see the scaladoc): a
      // PK-mutating transform landing on a PK that also survives on an
      // untouched row leaves that row outside `unchanged` (the anti-join
      // drops it), silently evading the unique checks — so count result
      // rows per incoming PK and reject multiplicity > 1. Scalable
      // direction: result probes map-side against the broadcast bounded
      // batch keys; the groupBy aggregates only the semi-matched slice.
      b.single("pk_conflict", table.pk, {
        val keys = incoming.select(col(table.pk))
          .filter(col(table.pk).isNotNull).distinct()
        result.filter(col(table.pk).isNotNull)
          .join(broadcast(keys), Seq(table.pk), "left_semi")
          .groupBy(table.pk).count().filter(col("count") > 1)
      })
      // the one-null-PK-row rule (see validateInsert) on the POST-update
      // state: catches a transform nulling a pk while a null-PK row
      // exists, and makes whole-set self-validation (incoming == result:
      // restore, validateConstraints) reject exactly the states write
      // enforcement rejects. limit(2) bounds the scan.
      b.single("pk_conflict", table.pk,
        result.filter(col(table.pk).isNull).limit(2)
          .groupBy().count().filter(col("count") > 1))
    }
    table.uniqueCols.foreach { uc =>
      b.single("unique_conflict", uc,
        duplicatedKeys(incoming.select(col(uc)), uc))
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
  private def unchangedOf(table: TableDef, incoming: DataFrame,
      result: DataFrame): DataFrame =
    result.filter(col(table.pk).isNotNull)
      .join(incoming.select(col(table.pk)).filter(col(table.pk).isNotNull),
        Seq(table.pk), "left_anti")

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
    * rewrite). Every hit frame descends directly from that table's scan,
    * so scan-time columns like `input_file_name()` survive into it.
    */
  def deleteCascadeWithHits(
      spark: SparkSession,
      states: Map[String, (DataFrame, TableDef)],
      table: String,
      predicate: org.apache.spark.sql.Column)
      : (Map[String, DataFrame], Map[String, DataFrame]) = {
    val (rows, tdef) = states(table)
    val doomedKeys = rows.filter(predicate).select(col(tdef.pk)).cache()
    deleteByKeys(spark, states, table, doomedKeys)
  }

  private def deleteByKeys(
      spark: SparkSession,
      states: Map[String, (DataFrame, TableDef)],
      table: String,
      doomedKeys: DataFrame)
      : (Map[String, DataFrame], Map[String, DataFrame]) = {
    val (rows, tdef) = states(table)
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
            addHit(childName, affected)
            val childDoomed = affected.select(col(childDef.pk)).cache()
            val (sub, subHits) =
              deleteByKeys(spark, current - table, childName, childDoomed)
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
    addHit(table, rows.join(broadcast(doomedKeys
        .withColumnRenamed(tdef.pk, "_doomed2")),
      rows(tdef.pk) === col("_doomed2"), "left_semi"))
    // report every table whose state changed (plus this one)
    val changed = current.collect {
      case (n, (df, _)) if !(df eq states(n)._1) => n -> df
    } + (table -> remaining)
    (changed, hits.filter { case (n, _) => changed.contains(n) })
  }
}
