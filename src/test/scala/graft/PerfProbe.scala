package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{LocalSession, Tables}
import graft.operators.Dedup

/** Dev-only perf probe (test scope, never shipped): times variants of a
  * hot operator in ONE warm JVM so deltas are attributable to the plan,
  * not to JVM/codegen startup. `sbt "Test/runMain graft.PerfProbe"`.
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.Timed)

    def q84(cap: Int): DataFrame = {
      val docs = Tables.load(spark, dir, "documents")
      Dedup.minhashLshCrossMatches(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id",
        docs.filter(col("doc_id") % 5 === 0), "doc_id",
        "text", wordGrams = 2, k = 8, bands = 2, threshold = 0.5,
        maxBucketSize = cap)
    }

    def time(label: String, mk: () => DataFrame, reps: Int = 3): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = mk().count()
        val s = (System.nanoTime() - t0) / 1e9
        (s, n)
      }
      println(f"[probe] $label: min=${ts.map(_._1).min}%.3f " +
        f"all=${ts.map(t => f"${t._1}%.2f").mkString(",")} rows=${ts.head._2}")
    }

    // warm-up
    q84(65536).count()

    time("q84 guard default (sampled, cap 65536)", () => q84(65536))
    time("q84 guard OFF (cap<=0)", () => q84(0))

    // components of the guard path
    val docs = Tables.load(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 5 === 0)
    def bk(df: DataFrame, id: String) = df.select(col(id).as("id"),
      explode(graft.functions.GraftFunctions.lsh_band_keys(
        graft.functions.TextFunctions.tokens(col("text")), 2, 8, 2))
        .as("bucket"))
    time("eval band keys alone", () => bk(evalSet, "doc_id"))
    time("corpus band keys alone", () => bk(corpus, "doc_id"))
    time("sampled corpus band keys", () => bk(corpus.filter(
      pmod(xxhash64(col("doc_id")), lit(65536L)) < lit(256L)), "doc_id"))
    time("limit-count short-circuit", () =>
      corpus.select(col("doc_id")).limit(65537))
    time("eval checkpoint build", () =>
      bk(evalSet, "doc_id").localCheckpoint(true))
    spark.stop()
  }
}
