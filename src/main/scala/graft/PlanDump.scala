package graft

import java.nio.file.{Files, Paths}

import graft.core.LocalSession

/** Dumps the executed physical plan of every catalog query to PLANS.md —
  * reviewable evidence that the plans carry the 100 TB shapes (pushdown,
  * broadcast, TakeOrdered, partial agg). Run per round:
  * `sbt "runMain graft.PlanDump"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "/root/repo/PLANS.md"
    // Bench's posture: without its broadcast threshold the dumped plans
    // differ from the ones the benchmarked queries actually run
    val spark = LocalSession(LocalSession.Timed)

    // stamp the generation commit so staleness is detectable (the file
    // is large evidence — a reader must know which tree produced it)
    val commit = try {
      scala.sys.process.Process(Seq("git", "rev-parse", "--short", "HEAD"),
        new java.io.File(System.getProperty("user.dir"))).!!.trim
    } catch { case _: Throwable => "unknown" }

    val sb = new StringBuilder
    sb ++= "# PLANS — executed physical plans per catalog query\n\n"
    sb ++= s"Generated by `graft.PlanDump` at commit `$commit` on $sfDir. Shapes to check:\n"
    sb ++= "`PushedFilters` at scans, `BroadcastHashJoin` for dims,\n"
    sb ++= "`TakeOrderedAndProject` for top-k, `partial_` aggregates,\n"
    sb ++= "no `Exchange` after bucketed layouts.\n\n"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // EXECUTE first — by running THIS plan's own RDD (count() or a
        // noop write would execute a different queryExecution): with AQE
        // on, reading executedPlan before execution dumps the initial
        // "isFinalPlan=false" plan, not the runtime-replanned one the
        // file claims as evidence
        val exec = df.queryExecution.executedPlan
        exec.execute().count()
        // redact long hex literals: AES keys derived by ColumnCrypto are
        // baked into plans as 0x<64 hex> binary literals — PLANS.md must
        // not publish key material (q127 previously leaked its derived
        // key here). 32+ hex chars ≈ 16+ bytes: key-sized, never one of
        // the engine's own 48/64-bit hash constants.
        val plan = exec.toString
          .replaceAll("(?i)0x[0-9a-f]{32,}", "0x<redacted-hex-literal>")
        val cut = if (plan.length > 4000)
          plan.take(4000) + "\n... [truncated]" else plan
        sb ++= s"## $name\n\n```\n$cut\n```\n\n"
      } catch {
        case e: Throwable =>
          sb ++= s"## $name\n\nPLAN FAILED: ${e.getMessage}\n\n"
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out")
    spark.stop()
  }
}
