package iotperf

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One sensor reading as the generator emits it. `ts` is epoch seconds. */
final case class Reading(id: Long, point: Int, site: Int, ts: Long,
    value: Double) {
  def row: Row = Row(id, point, site, new java.sql.Timestamp(ts * 1000L), value)
}

/** Seeded synthetic IoT source: `nPoints` points, Zipf-skewed point
  * choice, a per-point increasing clock and a small share of late
  * readings. The same seed gives the same readings in the same order.
  */
final class Gen(seed: Long, val nPoints: Int = Gen.Points) {
  private val rnd = new SplittableRandom(seed)

  // Zipf(s) over ranks; a seeded permutation maps rank -> point id so
  // the hot points differ from seed to seed
  private val cdf: Array[Double] = {
    val w = (1 to nPoints).map(k => 1.0 / math.pow(k, Gen.ZipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private val rankToPoint: Array[Int] = {
    val a = (1 to nPoints).toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val period = Array.tabulate(nPoints + 1)(_ => 1800 + rnd.nextInt(3600))
  private val level = Array.tabulate(nPoints + 1)(_ => 10.0 + rnd.nextInt(900) / 10.0)
  /** Per-point clock: the newest on-time reading's ts. */
  val clock: Array[Long] = Array.fill(nPoints + 1)(Gen.T0)
  private var nextId = 1L

  def site(p: Int): Int = p % Gen.Sites

  def zipfPoint(): Int = {
    val u = rnd.nextDouble()
    var lo = 0; var hi = cdf.length - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
    rankToPoint(lo)
  }
  def nextInt(n: Int): Int = rnd.nextInt(n)

  private def valueAt(p: Int, ts: Long): Double = {
    val v = level(p) + 5.0 * math.sin(ts / 3600.0) + rnd.nextInt(2000) / 1000.0
    math.round(v * 1000.0) / 1000.0
  }

  /** The next reading of point `p`: on time (advances its clock), or —
    * with probability `lateShare` — late, stamped before the clock.
    */
  def reading(p: Int, lateShare: Double = Gen.LateShare): Reading = {
    val late = clock(p) > Gen.T0 + 7200 && rnd.nextDouble() < lateShare
    val ts =
      if (late) clock(p) - 1 - rnd.nextInt(7200)
      else { clock(p) += period(p) / 2 + rnd.nextInt(period(p)); clock(p) }
    val r = Reading(nextId, p, site(p), ts, valueAt(p, ts))
    nextId += 1
    r
  }

  /** `n` readings of Zipf-chosen points. */
  def batch(n: Int): Vector[Reading] = Vector.fill(n)(reading(zipfPoint()))

  /** Every point's readings, on time, until each clock passes `untilTs`. */
  def history(untilTs: Long): Vector[Reading] = {
    val b = Vector.newBuilder[Reading]
    for (p <- 1 to nPoints) while (clock(p) < untilTs) b += reading(p, 0.0)
    b.result()
  }
}

object Gen {
  val Points = 2000
  val Sites = 40
  val ZipfS = 1.1
  val LateShare = 0.03
  /** 2024-01-01T00:00:00Z */
  val T0 = 1704067200L

  def guid(p: Int): String = f"p$p%05d"

  val ReadingSchema: StructType = StructType(Seq(
    StructField("reading_id", LongType, nullable = false),
    StructField("point_id", IntegerType, nullable = false),
    StructField("site", IntegerType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  val PointSchema: StructType = StructType(Seq(
    StructField("point_id", IntegerType, nullable = false),
    StructField("site", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  val StateSchema: StructType = StructType(Seq(
    StructField("point_id", IntegerType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  def readings(spark: SparkSession, rs: Seq[Reading]): DataFrame =
    spark.createDataFrame(rs.map(_.row).asJava, ReadingSchema)

  def points(spark: SparkSession, g: Gen): DataFrame =
    spark.createDataFrame((1 to g.nPoints)
      .map(p => Row(p, g.site(p), guid(p))).asJava, PointSchema)

  /** point_state rows: per point, the reading with the greatest ts. */
  def latest(rs: Iterable[Reading]): Map[Int, Reading] =
    rs.groupBy(_.point).map { case (p, xs) => p -> xs.maxBy(r => (r.ts, r.id)) }

  def state(spark: SparkSession, rs: Iterable[Reading]): DataFrame =
    spark.createDataFrame(rs.toSeq.sortBy(_.point).map(r =>
      Row(r.point, new java.sql.Timestamp(r.ts * 1000L), r.value)).asJava,
      StateSchema)

  /** The time-series store's point frame (point_guid, ts, value). */
  def tsPoints(spark: SparkSession, rs: Seq[Reading]): DataFrame =
    spark.createDataFrame(rs.map(r => Row(guid(r.point),
      new java.sql.Timestamp(r.ts * 1000L), r.value)).asJava,
      StructType(Seq(StructField("point_guid", StringType, nullable = false),
        StructField("ts", TimestampType, nullable = false),
        StructField("value", DoubleType, nullable = false))))
}
