package iotperf

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.GraftDatabase
import graft.dml.ConstrainedDml.{Fk, TableDef}

/** What one op reports back: rows it submitted or returned, and — for a
  * write followed by a wait — when the write call returned.
  */
final case class OpOut(rows: Long, writeEnd: Double = Double.NaN)

/** One timed operation. Its inputs are built before the timed phase. */
final case class Op(kind: String, run: () => OpOut)

/** A workload's database after set-up, ready for its timed ops. */
trait Fixture {
  /** The directory holding every database root (and stream checkpoint). */
  def dir: String
  /** One op per kind, in order; the generator's expected state advances
    * with them.
    */
  def plan(kinds: Seq[String]): IndexedSeq[Op]
  /** Mismatches between the engine's state/results and the generator's. */
  def check(): Seq[String]
  /** Live rows in the workload's user tables (views excluded). */
  def userRows(): Long
  /** Databases and tables whose files are accounted in the traced run. */
  def tracked: Seq[(GraftDatabase, Seq[String])]
  def close(): Unit
}

final case class Ctx(spark: SparkSession, tr: Tracer)

trait Workload {
  def name: String
  /** Timed ops for a run of `seconds`: a fixed count per seed, so every
    * run times the same sequence over the same table growth.
    */
  def opsFor(seconds: Int): Int
  /** Op kinds with their shares of the timed ops; the first is the
    * most common and also runs the discarded lead-in ops.
    */
  def mix: Seq[(String, Double)]
  def open(ctx: Ctx, dir: String, seed: Long, small: Boolean): Fixture
}

object Workload {
  val all: Seq[Workload] = Seq(IotIngest, LiveViews, Dashboard)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  /** A seeded deck: exact counts per kind, shuffled, so every seed times
    * the same mix and only the order differs.
    */
  def deck(rnd: java.util.SplittableRandom, n: Int,
      shares: Seq[(String, Double)]): IndexedSeq[String] = {
    val counts = shares.map { case (k, s) => k -> math.max(1, math.round(n * s).toInt) }
    val cards = mutable.ArrayBuffer[String]()
    cards ++= Seq.fill(math.max(0, n - counts.tail.map(_._2).sum))(counts.head._1)
    counts.tail.foreach { case (k, c) => cards ++= Seq.fill(c)(k) }
    for (i <- cards.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = cards(i); cards(i) = cards(j); cards(j) = t
    }
    cards.toIndexedSeq.take(n)
  }

  def tuples(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
}

/** Write-heavy, append-dominated: the reference's ingest fan-out. One op
  * inserts a batch of new readings (PK + FK to `points`) and upserts
  * those points' latest values into `point_state`.
  */
object IotIngest extends Workload {
  val name = "iot_ingest"
  val Batch = 500
  def opsFor(seconds: Int): Int = math.max(4, seconds * 3 / 10)
  val mix = Seq("ingest" -> 1.0)

  def open(ctx: Ctx, root: String, seed: Long, small: Boolean): Fixture =
    new Fixture {
      import ctx.{spark, tr}
      val dir: String = root
      private val g = new Gen(seed, if (small) 50 else Gen.Points)
      private val batch = if (small) 20 else Batch
      val db: GraftDatabase = GraftDatabase(spark, "ingest", dir)
        .defineTable(TableDef("points", "point_id"))
        .defineTable(TableDef("readings", "reading_id",
          fks = Seq(Fk("point_id", "points", "point_id"))))
        .defineTable(TableDef("point_state", "point_id",
          fks = Seq(Fk("point_id", "points", "point_id"))))
      private val all = mutable.ArrayBuffer[Reading]()
      private val state = mutable.Map[Int, Reading]()

      db.insert("points", Gen.points(spark, g))
      locally {
        val first = (1 to g.nPoints).map(p => g.reading(p, 0.0))
        all ++= first
        state ++= first.map(r => r.point -> r)
        db.insert("readings", Gen.readings(spark, first))
        db.insert("point_state", Gen.state(spark, first))
      }

      def plan(kinds: Seq[String]): IndexedSeq[Op] = kinds.toIndexedSeq.map { _ =>
        val rs = g.batch(batch)
        all ++= rs
        // the gateway forwards a point's value only when it is newer
        // than the state it already published: late readings land in
        // `readings` alone
        val fresh = Gen.latest(rs).values.filter(r => r.ts > state(r.point).ts).toSeq
        fresh.foreach(r => state(r.point) = r)
        val rdf = Gen.readings(spark, rs)
        val sdf = Gen.state(spark, fresh)
        Op("ingest", () => {
          tr.span("catalog.insert")(db.insert("readings", rdf))
          if (fresh.nonEmpty) tr.span("catalog.upsert")(db.upsert("point_state", sdf))
          OpOut(rs.size + fresh.size)
        })
      }

      def check(): Seq[String] = {
        val errs = mutable.ArrayBuffer[String]()
        val readings = db.table("readings")
        val n = readings.count()
        if (n != all.size) errs += s"readings: $n rows, expected ${all.size}"
        val ids = readings.select("reading_id").distinct().count()
        if (ids != n) errs += s"readings: ${n - ids} duplicate primary keys"
        val orphans = readings.join(db.table("points"), Seq("point_id"), "left_anti").count()
        if (orphans != 0) errs += s"readings: $orphans rows without a parent point"
        val want = Gen.latest(all).values.map(r =>
          Seq(r.point, Workload.ts(r.ts), r.value).map(String.valueOf).mkString("|")).toSeq.sorted
        val got = Workload.tuples(db.table("point_state").select("point_id", "ts", "value"))
        if (got != want) errs += s"point_state: ${got.diff(want).size} rows differ " +
          s"from the generator's latest value per point"
        errs.toSeq
      }
      def userRows(): Long = Seq("points", "readings", "point_state").map(db.count).sum
      def tracked: Seq[(GraftDatabase, Seq[String])] =
        Seq(db -> Seq("points", "readings", "point_state"))
      def close(): Unit = ()
    }
}

/** Freshness: a source table with a PK only and a live per-site view
  * ([[ViewStream]]). Mostly inserts, some `updateMany` corrections, some
  * retention deletes. One op is a write plus the wait until the stream has
  * folded it.
  */
object LiveViews extends Workload {
  val name = "live_views"
  val Batch = 200
  def opsFor(seconds: Int): Int = math.max(4, seconds * 3 / 10)
  val mix = Seq("insert" -> 0.8, "update" -> 0.1, "delete" -> 0.1)

  def open(ctx: Ctx, root: String, seed: Long, small: Boolean): Fixture =
    new Fixture {
      import ctx.{spark, tr}
      val dir: String = root
      private val g = new Gen(seed, if (small) 50 else Gen.Points)
      private val batch = if (small) 20 else Batch
      val db: GraftDatabase = GraftDatabase(spark, "lv", dir)
        .defineTable(TableDef("lv", "reading_id"))
      // the generator's mirror of the source table, by reading id
      private val rows = mutable.LinkedHashMap[Long, Reading]()

      locally {
        val base = g.history(Gen.T0 + 8 * 3600)
        base.foreach(r => rows(r.id) = r)
        db.insert("lv", Gen.readings(spark, base))
      }
      private val views = new ViewStream(spark, tr, db, "lv", dir, "lv")

      private def writeThenFold(kind: String)(write: => Long): OpOut = {
        val n = tr.span(s"catalog.$kind")(write)
        val writeEnd = Clock.now()
        tr.span("streaming.wait")(views.awaitFold(db.logVersion))
        OpOut(n, writeEnd)
      }

      def plan(kinds: Seq[String]): IndexedSeq[Op] = kinds.toIndexedSeq.map {
        case "insert" =>
          val rs = g.batch(batch)
          rs.foreach(r => rows(r.id) = r)
          val df = Gen.readings(spark, rs)
          Op("insert", () => writeThenFold("insert") { db.insert("lv", df); rs.size.toLong })
        case "update" =>
          // a calibration correction: the last six hours of one point
          val p = g.zipfPoint()
          val from = g.clock(p) - 6 * 3600
          rows.valuesIterator.filter(r => r.point == p && r.ts >= from).toSeq
            .foreach(r => rows(r.id) = r.copy(value = r.value + 1.0))
          val pred = col("point_id") === p && col("ts") >= lit(Workload.ts(from))
          Op("update", () => writeThenFold("update") {
            db.updateMany("lv", pred, Map("value" -> (col("value") + lit(1.0))))
          })
        case _ =>
          // retention: one point's readings older than three hours
          val p = g.zipfPoint()
          val before = g.clock(p) - 3 * 3600
          val gone = rows.valuesIterator.filter(r => r.point == p && r.ts < before)
            .map(_.id).toSeq
          rows --= gone
          val pred = col("point_id") === p && col("ts") < lit(Workload.ts(before))
          Op("delete", () => writeThenFold("delete") {
            db.delete("lv", pred); gone.size.toLong
          })
      }

      def check(): Seq[String] = {
        val errs = mutable.ArrayBuffer[String]()
        val src = db.table("lv")
        val want = rows.valuesIterator.map(r => Seq(r.id, r.point, r.site,
          Workload.ts(r.ts), r.value).map(String.valueOf).mkString("|")).toSeq.sorted
        val got = Workload.tuples(src.select("reading_id", "point_id", "site", "ts", "value"))
        if (got != want) errs += s"lv: ${got.diff(want).size} rows differ from the generator"
        errs ++= views.check()
        errs.toSeq
      }
      def userRows(): Long = db.count("lv")
      def tracked: Seq[(GraftDatabase, Seq[String])] =
        Seq(db -> Seq("lv"), views.tracked)
      def close(): Unit = views.close()
    }
}

/** Read-mostly with a trickle of writes: range reads, current-value
  * lookups, LiteSql roll-ups and time-series resampling over a base
  * loaded in a few bulk commits range-partitioned on `ts`. A write
  * inserts a small batch of readings, which drops the memoized SQL engine
  * and advances the log, and appends it to the time-series store.
  */
object Dashboard extends Workload {
  val name = "dashboard"
  val BaseHours = 24
  val BaseCommits = 2
  val FilesPerCommit = 4
  val WriteBatch = 20
  // shares chosen so the median falls inside the range reads, clear of
  // the slower roll-ups, resamples and writes
  val mix = Seq("range" -> 0.45, "lookup" -> 0.35, "rollup" -> 0.06,
    "resample" -> 0.1, "write" -> 0.04)
  val Checked = 3
  def opsFor(seconds: Int): Int = math.max(25, seconds * 3)

  def open(ctx: Ctx, root: String, seed: Long, small: Boolean): Fixture =
    new Fixture {
      import ctx.{spark, tr}
      val dir: String = root
      private val g = new Gen(seed, if (small) 50 else Gen.Points)
      val db: GraftDatabase = GraftDatabase(spark, "dash", dir)
        .defineTable(TableDef("points", "point_id"))
        .defineTable(TableDef("readings", "reading_id",
          fks = Seq(Fk("point_id", "points", "point_id"))))
        .defineTable(TableDef("point_state", "point_id",
          fks = Seq(Fk("point_id", "points", "point_id"))))
      // every generated reading, in insertion order; a read sees a prefix
      private val all = mutable.ArrayBuffer[Reading]()
      private val baseEnd = Gen.T0 + BaseHours * 3600L

      locally {
        db.insert("points", Gen.points(spark, g))
        val base = g.history(baseEnd)
        all ++= base
        val span = (baseEnd - Gen.T0) / BaseCommits
        for (c <- 0 until BaseCommits) {
          val lo = Gen.T0 + c * span
          val hi = if (c == BaseCommits - 1) Long.MaxValue else lo + span
          val part = base.filter(r => r.ts >= lo && r.ts < hi)
          db.insert("readings", Gen.readings(spark, part)
            .repartitionByRange(FilesPerCommit, col("ts")))
        }
        db.insert("point_state", Gen.state(spark, Gen.latest(base).values))
        db.tsAppend(Gen.tsPoints(spark, base))
      }
      private val state: Map[Int, Reading] = Gen.latest(all)

      // results of the first few ops of each kind, with the prefix of
      // generated readings they saw, for the correctness gate
      private val sampled = mutable.ArrayBuffer[(String, Seq[Any], Int, Seq[Row])]()
      private def keep(kind: String, args: Seq[Any], seen: Int, out: Seq[Row]): Unit =
        if (sampled.count(_._1 == kind) < Checked) sampled.synchronized {
          sampled += ((kind, args, seen, out))
        }

      private def window(hours: Int): (Long, Long) = {
        val lo = Gen.T0 + g.nextInt(((baseEnd - Gen.T0) - hours * 3600L).toInt)
        (lo, lo + hours * 3600L)
      }

      private def rangeQ(readings: DataFrame, p: Int, lo: Long, hi: Long): DataFrame =
        readings.filter(col("point_id") === p && col("ts") >= lit(Workload.ts(lo)) &&
          col("ts") < lit(Workload.ts(hi)))
          .select("reading_id", "point_id", "ts", "value")

      private val RollupSql = "SELECT site, COUNT(*) AS n, SUM(value) AS total " +
        "FROM readings WHERE ts >= @0 AND ts < @1 GROUP BY site"

      def plan(kinds: Seq[String]): IndexedSeq[Op] = kinds.toIndexedSeq.map { kind =>
        val seen = all.size
        kind match {
          case "range" =>
            val p = g.zipfPoint(); val (lo, hi) = window(6)
            Op(kind, () => {
              val t = tr.span("catalog.table")(db.table("readings"))
              val out = tr.span("query.collect")(rangeQ(t, p, lo, hi).collect().toSeq)
              keep(kind, Seq[Any](p, lo, hi), seen, out)
              OpOut(out.size)
            })
          case "lookup" =>
            val p = g.zipfPoint()
            Op(kind, () => {
              val out = tr.span("catalog.findById")(db.findById("point_state", p)).toSeq
              keep(kind, Seq[Any](p), seen, out)
              OpOut(out.size)
            })
          case "rollup" =>
            val (lo, hi) = window(12)
            Op(kind, () => {
              val df = tr.span("query.sql")(db.sql(RollupSql, Workload.ts(lo), Workload.ts(hi)))
              val out = tr.span("query.collect")(df.collect().toSeq)
              keep(kind, Seq[Any](lo, hi), seen, out)
              OpOut(out.size)
            })
          case "resample" =>
            val p = g.zipfPoint(); val (lo, hi) = window(12)
            Op(kind, () => {
              val df = tr.span("ts.resample")(
                db.tsResample(Gen.guid(p), Workload.ts(lo), Workload.ts(hi), 900))
              val out = tr.span("query.collect")(df.collect().toSeq)
              keep(kind, Seq[Any](p, lo, hi), seen, out)
              OpOut(out.size)
            })
          case _ =>
            val rs = g.batch(WriteBatch)
            all ++= rs
            val df = Gen.readings(spark, rs)
            val tsDf = Gen.tsPoints(spark, rs)
            Op("write", () => {
              tr.span("catalog.insert")(db.insert("readings", df))
              tr.span("ts.append")(db.tsAppend(tsDf))
              OpOut(rs.size)
            })
        }
      }

      /** Linear resampling of one point's readings, as the reference's
        * interval read defines it, computed directly from the readings.
        */
      private def resampleRef(rs: Seq[Reading], lo: Long, hi: Long,
          step: Long): Seq[(Long, Option[Double], Boolean)] = {
        val obs = rs.filter(r => r.ts >= lo && r.ts <= hi).groupBy(_.ts)
          .map { case (t, xs) => t -> xs.map(_.value).max }.toSeq.sortBy(_._1)
        if (obs.isEmpty) return Nil
        val first = (obs.head._1 + step - 1) / step * step
        (first to obs.last._1 by step).map { t =>
          val prev = obs.takeWhile(_._1 <= t).lastOption
          val next = obs.find(_._1 >= t)
          val v = (prev, next) match {
            case (Some((pt, pv)), _) if pt == t => Some(pv)
            case (Some((_, pv)), None) => Some(pv)
            case (None, _) => None
            case (Some((pt, pv)), Some((nt, nv))) =>
              Some(pv + (nv - pv) * (t - pt).toDouble / (nt - pt).toDouble)
          }
          (t, v, !prev.exists(_._1 == t))
        }
      }

      def check(): Seq[String] = {
        val errs = mutable.ArrayBuffer[String]()
        def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
        def same(kind: String, args: Seq[Any], got: Seq[String], want: Seq[String]): Unit =
          if (got != want) errs += s"$kind${args.mkString("(", ",", ")")}: " +
            s"${got.size} rows, expected ${want.size}"
        // readings ids grow in generation order: the first `seen` readings
        // are those with an id up to the seen-th one's
        val generated = Gen.readings(spark, all.toSeq).cache()
        for ((kind, args, seen, out) <- sampled) {
          val visible = generated.filter(col("reading_id") <= all(seen - 1).id)
          kind match {
            case "range" =>
              val Seq(p: Int, lo: Long, hi: Long) = args
              same(kind, args, out.map(_.toSeq.map(String.valueOf).mkString("|")).sorted,
                Workload.tuples(rangeQ(visible, p, lo, hi)))
            case "lookup" =>
              val Seq(p: Int) = args
              val r = state(p)
              same(kind, args, out.map(_.toSeq.map(String.valueOf).mkString("|")),
                Seq(Seq(p, Workload.ts(r.ts), r.value).map(String.valueOf).mkString("|")))
            case "rollup" =>
              val Seq(lo: Long, hi: Long) = args
              val want = visible.filter(col("ts") >= lit(Workload.ts(lo)) &&
                col("ts") < lit(Workload.ts(hi))).groupBy("site")
                .agg(count(lit(1)).as("n"), sum("value").as("total")).collect()
                .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
              val got = out.map(r => r.getAs[Any]("site").toString.toInt ->
                (r.getAs[Any]("n").toString.toLong, r.getAs[Any]("total").toString.toDouble)).toMap
              if (got.keySet != want.keySet || got.exists { case (k, (n, s)) =>
                  want(k)._1 != n || !close(s, want(k)._2) })
                errs += s"rollup${args.mkString("(", ",", ")")}: differs from a plain group-by"
            case "resample" =>
              val Seq(p: Int, lo: Long, hi: Long) = args
              val want = resampleRef(all.take(seen).filter(_.point == p).toSeq, lo, hi, 900)
              val got = out.map(r => (r.getAs[Timestamp]("grid_ts").getTime / 1000L,
                Option(r.getAs[Any]("value")).map(_.toString.toDouble),
                r.getAs[Boolean]("interpolated"))).sortBy(_._1)
              val ok = got.size == want.size && got.zip(want).forall {
                case ((t1, v1, i1), (t2, v2, i2)) => t1 == t2 && i1 == i2 &&
                  v1.isDefined == v2.isDefined && v1.zip(v2).forall { case (a, b) => close(a, b) }
              }
              if (!ok) errs += s"resample${args.mkString("(", ",", ")")}: " +
                s"${got.size} ticks, expected ${want.size}"
          }
        }
        if (sampled.map(_._1).distinct.size < mix.size - 1)
          errs += s"only ${sampled.map(_._1).distinct.mkString(",")} reads were checked"
        generated.unpersist()
        val n = db.count("readings")
        if (n != all.size) errs += s"readings: $n rows, expected ${all.size}"
        errs.toSeq
      }
      def userRows(): Long = Seq("points", "readings", "point_state").map(db.count).sum
      def tracked: Seq[(GraftDatabase, Seq[String])] =
        Seq(db -> Seq("points", "readings", "point_state"))
      def close(): Unit = ()
    }
}
