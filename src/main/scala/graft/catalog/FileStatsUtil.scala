package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.types.StructType

/** Per-file column min/max, harvested once from a freshly staged file's
  * own parquet footer and carried in the commit log (the Delta-style
  * data-skipping record; SURVEY §4.1's zone-map idea lifted from row
  * groups to the FILE level). At read time [[StatsPruneRule]]
  * prunes a table's file list from the log alone — no footer opens, no
  * file listings — which is the difference between "skip row groups
  * after opening a million footers" and "never open them".
  *
  * Conservative by construction: a file whose footer cannot be read
  * (foreign writer, disabled stats), a column a row group lacks usable
  * statistics for, a type outside the comparable set (notably DECIMAL,
  * whose INT32/INT64 physical stats are UNSCALED and would misprune),
  * or a non-finite float bound simply yields no entry — and a missing
  * entry never prunes. String bounds order by UNSIGNED UTF-8 bytes,
  * matching the parquet comparator and Spark's binary-collation
  * filters (Java UTF-16 ordering diverges above the BMP and would
  * misprune supplementary-plane values).
  *
  * JSON shape (one object per top-level primitive column):
  * {{{ {"col":{"k":"num"|"str","lo":"...","hi":"..."}} }}}
  * Numeric bounds render as plain decimal strings (BigDecimal-safe —
  * no double rounding near 2^53); string bounds as the raw UTF-8.
  */
object FileStatsUtil {

  /** What a staged file's one footer read yields; each part is None
    * when it cannot be read.
    */
  final case class Footer(stats: Option[String], rows: Option[Long],
      schema: Option[StructType])

  /** Stats plus the footer row count (None = footer unreadable). The
    * row count lets stage() drop ZERO-ROW part files from a binding: a
    * multi-partition rewrite writes an empty part per partition that
    * held no surviving rows, and binding those bloats file counts and
    * defeats pruning (an empty file can never carry stats).
    */
  def fromFooterWithRows(absPath: String,
      ioOptions: Map[String, String]): (Option[String], Option[Long]) = {
    val f = harvest(absPath, ioOptions, (_, _) => null)
    (f.stats, f.rows)
  }

  /** [[fromFooterWithRows]] plus the file's Spark schema, converted by
    * `schemaOf` from the same footer.
    */
  def harvest(absPath: String, ioOptions: Map[String, String],
      schemaOf: (String, ParquetMetadata) => StructType): Footer = {
    try {
      val conf = new Configuration()
      ioOptions.foreach { case (k, v) => conf.set(k, v) }
      val path = new Path(absPath)
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(path, conf),
        HadoopReadOptions.builder(conf, path).build())
      try {
        val schema = scala.util.Try(schemaOf(absPath, reader.getFooter))
          .toOption.flatMap(Option(_))
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        if (blocks.isEmpty || rows == 0L) return Footer(None, Some(rows), schema)
        // fold row-group column chunks to per-column global bounds;
        // a column with ANY unusable chunk drops out entirely
        var acc = Map.empty[String, (String, BigDecimal, BigDecimal,
          String, String)] // col -> (kind, numLo, numHi, strLo, strHi)
        var dead = Set.empty[String]
        // null/non-null counts fold INDEPENDENTLY of the min/max logic:
        // a column with unusable bounds (DECIMAL raw ints, an all-null
        // file) can still prune IS [NOT] NULL probes. (Parquet footers
        // carry no NaN counts, so NaN-aware pruning has no sound
        // source — min/max with NaN already drop out above.)
        var nulls = Map.empty[String, (Long, Long)] // col -> (nc, nn)
        var ncDead = Set.empty[String]
        blocks.foreach { block =>
          val blockRows = block.getRowCount
          block.getColumns.asScala.foreach { cc =>
          val dotted = cc.getPath.toDotString
          val name = dotted.toLowerCase
          if (!dotted.contains('.')) {
            val stN = cc.getStatistics
            if (!ncDead(name)) {
              if (stN == null || !stN.isNumNullsSet || stN.getNumNulls < 0)
                ncDead += name
              else {
                val (a, b) = nulls.getOrElse(name, (0L, 0L))
                nulls += name ->
                  (a + stN.getNumNulls, b + (blockRows - stN.getNumNulls))
              }
            }
          }
          if (!dotted.contains('.') && !dead(name)) {
            val st = cc.getStatistics
            val prim = cc.getPrimitiveType.getPrimitiveTypeName
            if (st == null || st.isEmpty || !st.hasNonNullValue) dead += name
            else prim match {
              case INT32 | INT64 | FLOAT | DOUBLE | BOOLEAN =>
                kindOf(cc) match {
                  case None => dead += name
                  case Some((kind, norm)) =>
                    val (lo0, hi0) = numericBounds(prim, st)
                    if (lo0 == null) dead += name
                    else {
                      val (lo, hi) = (norm(lo0), norm(hi0))
                      acc += name -> (acc.get(name) match {
                        case Some((k2, l, h, _, _)) if k2 == kind =>
                          (kind, l.min(lo), h.max(hi), null, null)
                        case Some(_) => { dead += name; null }
                        case None => (kind, lo, hi, null, null)
                      })
                    }
                }
              case FIXED_LEN_BYTE_ARRAY | BINARY if isDecimal(cc) =>
                // big-precision DECIMAL: unscaled two's-complement bytes
                val scale = cc.getPrimitiveType.getLogicalTypeAnnotation
                  .asInstanceOf[LogicalTypeAnnotation
                    .DecimalLogicalTypeAnnotation].getScale
                def dec(b: Any): BigDecimal = BigDecimal(new java.math
                  .BigDecimal(new java.math.BigInteger(
                    b.asInstanceOf[org.apache.parquet.io.api.Binary]
                      .getBytes), scale))
                val (lo, hi) = (dec(st.genericGetMin), dec(st.genericGetMax))
                acc += name -> (acc.get(name) match {
                  case Some(("num", l, h, _, _)) =>
                    ("num", l.min(lo), h.max(hi), null, null)
                  case Some(_) => { dead += name; null }
                  case None => ("num", lo, hi, null, null)
                })
              case BINARY if isUtf8(cc) =>
                val lo = st.genericGetMin.asInstanceOf[
                  org.apache.parquet.io.api.Binary].toStringUsingUTF8
                val hi = st.genericGetMax.asInstanceOf[
                  org.apache.parquet.io.api.Binary].toStringUsingUTF8
                acc += name -> (acc.get(name) match {
                  case Some(("str", _, _, l, h)) =>
                    ("str", null, null, if (utf8Lte(l, lo)) l else lo,
                      if (utf8Lte(hi, h)) h else hi)
                  case Some(_) => { dead += name; null }
                  case None => ("str", null, null, lo, hi)
                })
              case _ => dead += name
            }
          }
        }}
        val live = (acc -- dead).filter(_._2 != null)
        val ncLive = nulls -- ncDead
        // null-count suffix (ABSENT on legacy entries — probes stay
        // conservative there); columns with counts but no usable
        // bounds get a bounds-free "nul" entry, which range probes
        // never match
        def ncSuffix(c: String): String = ncLive.get(c)
          .map { case (nc, nn) =>
            ",\"nc\":\"" + nc + "\",\"nn\":\"" + nn + "\""
          }.getOrElse("")
        val nulOnly = (ncLive.keySet -- live.keySet).toSeq.sorted.map(c =>
          q(c) + ":{\"k\":\"nul\"" + ncSuffix(c) + "}")
        val entries = (live.toSeq.sortBy(_._1).map {
          case (c, ("str", _, _, lo, hi)) =>
            q(c) + ":{\"k\":\"str\",\"lo\":" + q(lo) + ",\"hi\":" + q(hi) +
              ncSuffix(c) + "}"
          case (c, (k, lo, hi, _, _)) if lo != null => // num | tsu | tsn
            q(c) + ":{\"k\":\"" + k + "\",\"lo\":" +
              q(lo.bigDecimal.toPlainString) +
              ",\"hi\":" + q(hi.bigDecimal.toPlainString) + ncSuffix(c) + "}"
          case _ => ""
        }.filter(_.nonEmpty)) ++ nulOnly
        val js = if (entries.isEmpty) None
        else Some(entries.mkString("{", ",", "}"))
        Footer(js, Some(rows), schema)
      } finally reader.close()
    } catch { case _: Throwable => Footer(None, None, None) }
  }

  /** The stats kind + EXACT bound normalizer a physical-int/float
    * column harvests under, or None when raw stats are not soundly
    * comparable. Logical types that rescale their physical values are
    * normalized at harvest so probes never see unit ambiguity:
    *   - DECIMAL's unscaled ints (100.00 stored as 10000) scale into
    *     plain decimal strings → kind "num" (comparing them raw would
    *     PRUNE FILES THAT MATCH)
    *   - TIMESTAMP normalizes millis/micros/nanos to MICROS — Spark's
    *     Catalyst unit — and keeps the instant/wall-clock split as two
    *     kinds ("tsu" = adjusted-to-UTC ↔ TimestampType, "tsn" ↔
    *     TimestampNTZType), so a foreign file written in another unit
    *     still probes exactly, and an NTZ probe never prunes an
    *     instant column (or vice versa)
    * BigDecimal point moves are exact — nanos→micros keeps the
    * fractional digit instead of truncating (a truncated max could
    * prune a file whose real rows sit inside the probe).
    * Stats format note: "tsu"/"tsn" are ADDITIVE kinds — a probe built
    * by an older engine matched only (num|str) and simply never prunes
    * on them; legacy "num" entries harvested for timestamp columns by
    * older engines are never matched by timestamp probes (unit
    * unknown) — conservative in both directions.
    */
  private def kindOf(cc: org.apache.parquet.hadoop.metadata
      .ColumnChunkMetaData): Option[(String, BigDecimal => BigDecimal)] =
    cc.getPrimitiveType.getLogicalTypeAnnotation match {
      case null => Some(("num", identity))
      case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
        Some(("num", identity))
      case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
        Some(("num", identity)) // always days; Catalyst DATE is the same Int
      case _: LogicalTypeAnnotation.TimeLogicalTypeAnnotation =>
        Some(("num", identity))
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        val toMicros: BigDecimal => BigDecimal = t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
            v => BigDecimal(v.bigDecimal.movePointRight(3))
          case LogicalTypeAnnotation.TimeUnit.MICROS => identity
          case LogicalTypeAnnotation.TimeUnit.NANOS =>
            v => BigDecimal(v.bigDecimal.movePointLeft(3))
        }
        Some((if (t.isAdjustedToUTC) "tsu" else "tsn", toMicros))
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
        Some(("num",
          v => BigDecimal(v.bigDecimal.movePointLeft(d.getScale))))
      case _ => None
    }

  private def isDecimal(cc: org.apache.parquet.hadoop.metadata
      .ColumnChunkMetaData): Boolean =
    cc.getPrimitiveType.getLogicalTypeAnnotation
      .isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]

  private def isUtf8(cc: org.apache.parquet.hadoop.metadata
      .ColumnChunkMetaData): Boolean =
    cc.getPrimitiveType.getLogicalTypeAnnotation != null &&
      cc.getPrimitiveType.getLogicalTypeAnnotation.toString == "STRING"

  private def numericBounds(prim: org.apache.parquet.schema.PrimitiveType
      .PrimitiveTypeName, st: org.apache.parquet.column.statistics
      .Statistics[_]): (BigDecimal, BigDecimal) = prim match {
    case INT32 => (BigDecimal(st.genericGetMin.asInstanceOf[Integer].toInt),
      BigDecimal(st.genericGetMax.asInstanceOf[Integer].toInt))
    case INT64 => (BigDecimal(st.genericGetMin.asInstanceOf[java.lang.Long]),
      BigDecimal(st.genericGetMax.asInstanceOf[java.lang.Long]))
    case BOOLEAN =>
      (BigDecimal(if (st.genericGetMin.asInstanceOf[Boolean]) 1 else 0),
        BigDecimal(if (st.genericGetMax.asInstanceOf[Boolean]) 1 else 0))
    case FLOAT =>
      val (lo, hi) = (st.genericGetMin.asInstanceOf[java.lang.Float].toDouble,
        st.genericGetMax.asInstanceOf[java.lang.Float].toDouble)
      if (lo.isNaN || hi.isNaN || lo.isInfinite || hi.isInfinite) (null, null)
      else (BigDecimal(lo), BigDecimal(hi))
    case DOUBLE =>
      val (lo, hi) = (st.genericGetMin.asInstanceOf[java.lang.Double]
        .doubleValue, st.genericGetMax.asInstanceOf[java.lang.Double]
        .doubleValue)
      if (lo.isNaN || hi.isNaN || lo.isInfinite || hi.isInfinite) (null, null)
      else (BigDecimal(lo), BigDecimal(hi))
    case _ => (null, null)
  }

  /** Unsigned UTF-8 byte order — the parquet min/max comparator and
    * Spark's binary string comparison. a <= b.
    */
  private def utf8Lte(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length <= y.length
  }

  /** [[utf8Lte]] for the auto-skipping rule's bound tightening. */
  private[catalog] def utf8LteForPrune(a: String, b: String): Boolean =
    utf8Lte(a, b)

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** A compiled range probe: one pattern + one bound conversion,
    * reused across EVERY file of a query — per-file work is a single
    * regex match, not a Pattern.compile (at the million-file scale the
    * design targets, per-file compilation would dominate the planner).
    */
  final class StatsProbe private[FileStatsUtil] (
      re: scala.util.matching.Regex,
      numLo: Option[BigDecimal], numHi: Option[BigDecimal],
      strLo: Option[String], strHi: Option[String],
      tsKind: Option[String]) {
    /** True when the stats ADMIT rows in the probe's range — i.e. the
      * file cannot be pruned. Missing stats, a missing column entry,
      * an inconvertible probe, or a file entry in a DIFFERENT domain
      * (a legacy raw-int timestamp entry under a typed probe, and vice
      * versa) all answer true (conservative).
      */
    def admits(statsJson: Option[String]): Boolean = statsJson match {
      case None => true
      case Some(js) => re.findFirstMatchIn(js) match {
        case None => true
        case Some(m) =>
          val (kind, fLo, fHi) = (m.group(1), unq(m.group(2)), unq(m.group(3)))
          kind match {
            // each side checks independently, so one-sided probes
            // (WHERE c >= x with no upper bound) still prune; a side
            // whose bound didn't convert (None) never prunes
            case "num" if tsKind.isEmpty =>
              numLo.forall(l => BigDecimal(fHi) >= l) &&
                numHi.forall(h => BigDecimal(fLo) <= h)
            case "str" if tsKind.isEmpty =>
              strLo.forall(l => utf8Lte(l, fHi)) &&
                strHi.forall(h => utf8Lte(fLo, h))
            // typed timestamp entries (micros) compare only against a
            // probe of the SAME instant/wall-clock kind
            case k @ ("tsu" | "tsn") if tsKind.contains(k) =>
              numLo.forall(l => BigDecimal(fHi) >= l) &&
                numHi.forall(h => BigDecimal(fLo) <= h)
            case _ => true
          }
      }
    }
  }

  /** Build the compiled probe for `column` in [lo, hi]. */
  def probe(column: String, lo: Any, hi: Any): StatsProbe =
    probeBounds(column, Option(lo), Option(hi))

  /** [[probe]] with independently-optional bounds: None = that side is
    * unbounded (a one-sided `>=`/`<=` predicate still prunes on the
    * side it has). The auto-skipping rule builds these from whatever
    * conjuncts the WHERE clause happens to carry. Instant-like bounds
    * (java.sql.Timestamp, Instant → instant domain; LocalDateTime →
    * wall-clock domain) build a typed timestamp probe, so a caller can
    * probe time ranges directly.
    */
  def probeBounds(column: String, lo: Option[Any],
      hi: Option[Any]): StatsProbe = {
    val tsLo = lo.flatMap(tsMicros)
    val tsHi = hi.flatMap(tsMicros)
    (tsLo, tsHi) match {
      case (Some((l, kl)), Some((h, kh))) if kl == kh =>
        probeTsMicros(column, Some(l), Some(h), kl == "tsu")
      case (Some((l, k)), None) if hi.isEmpty =>
        probeTsMicros(column, Some(l), None, k == "tsu")
      case (None, Some((h, k))) if lo.isEmpty =>
        probeTsMicros(column, None, Some(h), k == "tsu")
      case (None, None) =>
        new StatsProbe(kindRe(column), lo.flatMap(toNum), hi.flatMap(toNum),
          lo.collect { case s: String => s },
          hi.collect { case s: String => s }, None)
      case _ => // mixed domains: a probe that never prunes
        new StatsProbe(kindRe(column), None, None, None, None, None)
    }
  }

  /** Typed timestamp probe: bounds in Catalyst MICROS.
    * `utcAdjusted` = true probes instant ("tsu" / TimestampType)
    * entries, false probes wall-clock ("tsn" / TimestampNTZType) ones.
    */
  def probeTsMicros(column: String, lo: Option[BigDecimal],
      hi: Option[BigDecimal], utcAdjusted: Boolean): StatsProbe =
    new StatsProbe(kindRe(column), lo, hi, None, None,
      Some(if (utcAdjusted) "tsu" else "tsn"))

  private def kindRe(column: String): scala.util.matching.Regex =
    // the tail admits optional extra fields (",nc"/"nn" null counts)
    // after hi — entries written with and without them both match
    ("\"" + java.util.regex.Pattern.quote(column.toLowerCase) +
      "\"\\s*:\\s*\\{\"k\":\"(num|str|tsu|tsn)\",\"lo\":\"" +
      "((?:[^\"\\\\]|\\\\.)*)\",\"hi\":\"((?:[^\"\\\\]|\\\\.)*)\"[,}]").r

  /** A compiled IS NULL / IS NOT NULL probe over the harvested
    * null/non-null counts. Conservative like the range probes: a file
    * without stats, a column without a counts suffix (legacy entry,
    * invalid footer counts), or a mismatch answers "cannot prune".
    */
  final class NullProbe private[FileStatsUtil] (
      re: scala.util.matching.Regex, wantNull: Boolean) {
    /** True when the file may hold qualifying rows (cannot be pruned):
      * IS NULL needs nc > 0, IS NOT NULL needs nn > 0.
      */
    def admits(statsJson: Option[String]): Boolean = statsJson match {
      case None => true
      case Some(js) => re.findFirstMatchIn(js) match {
        case None => true
        case Some(m) =>
          if (wantNull) m.group(1).toLong > 0 else m.group(2).toLong > 0
      }
    }
  }

  /** Build the compiled null-count probe for `column`. */
  def nullProbe(column: String, wantNull: Boolean): NullProbe =
    new NullProbe(("\"" +
      java.util.regex.Pattern.quote(column.toLowerCase) +
      "\"\\s*:\\s*\\{[^}]*\"nc\":\"(\\d+)\",\"nn\":\"(\\d+)\"").r, wantNull)

  /** Exact epoch-micros (+ domain kind) of an instant-like probe bound. */
  private def tsMicros(v: Any): Option[(BigDecimal, String)] = v match {
    case t: java.sql.Timestamp => Some((instantMicros(t.toInstant), "tsu"))
    case i: java.time.Instant => Some((instantMicros(i), "tsu"))
    case d: java.time.LocalDateTime =>
      Some((instantMicros(d.toInstant(java.time.ZoneOffset.UTC)), "tsn"))
    case _ => None
  }

  private def instantMicros(i: java.time.Instant): BigDecimal =
    BigDecimal(i.getEpochSecond) * 1000000 +
      BigDecimal(new java.math.BigDecimal(i.getNano).movePointLeft(3))

  /** One-shot convenience over [[probe]] (tests, single-file checks). */
  def overlaps(statsJson: Option[String], column: String,
      lo: Any, hi: Any): Boolean = probe(column, lo, hi).admits(statsJson)

  private def toNum(v: Any): Option[BigDecimal] = v match {
    case n: Int => Some(BigDecimal(n))
    case n: Long => Some(BigDecimal(n))
    case n: Double =>
      if (n.isNaN || n.isInfinite) None else Some(BigDecimal(n))
    case n: Float =>
      if (n.isNaN || n.isInfinite) None else Some(BigDecimal(n.toDouble))
    case n: java.math.BigDecimal => Some(BigDecimal(n))
    case n: BigDecimal => Some(n)
    case s: String => try Some(BigDecimal(s)) catch { case _: Throwable => None }
    case _ => None
  }

  private def unq(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")
}
