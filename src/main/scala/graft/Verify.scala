package graft
import java.nio.file.{Files, Paths}
import graft.core.LocalSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (dev-only fast path)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = LocalSession(LocalSession.Default)
    new java.io.File(outDir).mkdirs()
    // prefix-match like Bench's SPARK_GRAFT_ONLY (an exact-only filter
    // silently verified ZERO queries on a bare "q23")
    val selected = SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.exists(p => name == p || name.startsWith(p)))
      }
    if (only.isDefined && selected.isEmpty)
      System.err.println(s"[verify] WARNING: filter matched no queries")
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch {
        // never mask a JVM-fatal error (OOM): limping on silently fails
        // every later query while the run still exits 0
        case fatal: VirtualMachineError => throw fatal
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
