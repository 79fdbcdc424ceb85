package graft

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.util.control.NonFatal

import graft.core.LocalSession

/** Benchmark main (driver contract): times every catalog query at
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line. Runs on the timed
  * [[LocalSession]] posture (local[SPARK_GRAFT_CPUS]); a small warm-up job
  * amortizes JVM/codegen startup out of the first measured query.
  *
  * Each query runs on a worker thread with a hard time budget
  * (SPARK_GRAFT_QUERY_BUDGET_MS, default 180 s): on expiry the query's
  * job group is cancelled including future jobs (covers AQE re-planning
  * and iterative drivers), and the query is recorded as -1 so a stalled
  * query can neither hang the graded run nor masquerade as a slow pass.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val budgetMs = sys.env.get("SPARK_GRAFT_QUERY_BUDGET_MS")
      .flatMap(_.toLongOption).filter(_ > 0).getOrElse(180000L)
    val spark = LocalSession(LocalSession.Timed)
    // SPARK_GRAFT_SHUFFLE_PARTITIONS: scale-sweep knob. The graded run
    // pins partitions = cores; decade sweeps can raise it the way a real
    // cluster would (partitions grow with data), isolating the n·log n
    // of per-partition sort from genuine engine super-linearity.
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))

    // warm-up: JVM + codegen + parquet footer reads, not part of any
    // timing. Exercises each operator class the catalog uses (hash agg on
    // decimals, broadcast + sort-merge joins, window, regex, array HOFs,
    // sort) on synthetic range data so Janino/JIT infrastructure is hot
    // before the first measured query.
    graft.core.Tables.load(spark, sfDir, "region").count()
    locally {
      import org.apache.spark.sql.functions._
      val r = spark.range(10000).select(col("id"),
        (col("id") % 97).as("k"), col("id").cast("decimal(18,2)").as("d"),
        concat(lit("w"), col("id") % 50).as("s"))
      r.groupBy("k").agg(sum(col("d")), countDistinct(col("s"))).count()
      r.join(broadcast(r.limit(100).select(col("id").as("id2"))),
        col("id") === col("id2")).count()
      r.as("a").join(r.as("b"), col("a.k") === col("b.k") &&
        col("a.id") < col("b.id")).groupBy(col("a.k")).count().count()
      r.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")))
        .filter(col("rn") === 1).count()
      r.select(regexp_replace(col("s"), "[0-9]+", "#"),
        md5(col("s")), split(col("s"), "")).count()
      r.select(transform(sequence(lit(1), lit(5)), i => i * col("id")).as("arr"))
        .filter(exists(col("arr"), x => x > 3)).count()
      r.orderBy(col("d").desc).limit(10).count()
    }

    // DRIFT SENTINEL: a fixed, code-independent probe (pure codegen'd
    // range-sum — no catalog code, no files) timed immediately after
    // warm-up and again after the last query. Same-code full runs on
    // this sandbox have drifted 75.7 → 108.3 s across hours (round 12's
    // adjudication); the sentinel pair lets any two runs be normalized
    // mechanically — compare their sentinel values before comparing
    // their query times — instead of by a back-to-back A/B re-measure.
    // min-of-3 like the queries: transient stalls only ever add time.
    def sentinel(): Double = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(64L << 20).selectExpr("sum(id * 2 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    val sentinelFirst = sentinel()

    // cached pool: a query thread stuck in non-interruptible driver code
    // after cancellation must not block the next query's worker
    val runner = Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-bench-runner"); t.setDaemon(true); t
    })
    // dev-only knobs: SPARK_GRAFT_ONLY=q23,q25 restricts the set,
    // SPARK_GRAFT_REPEAT=N times each query N times (default 3). Every
    // iteration is timed under the watchdog and the reported figure is the
    // MIN over successful runs: a transient machine-load stall (GC, page
    // cache miss, a neighbor process) can only ever ADD time to one
    // iteration, so min-of-N converges on the query's true cost while
    // last-of-N inherits whatever the machine was doing at that instant.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(3)
    // SPARK_GRAFT_ROWS=1 adds a per-query output-row-count map to the
    // JSON — the output-density denominator SCALE.md's adjudicated
    // families report (pair counts for dedup detectors etc.)
    val wantRows = sys.env.contains("SPARK_GRAFT_ROWS")
    // concurrent: a cancelled iteration's worker thread can outlive its
    // timeout (non-interruptible driver code) and write concurrently
    // with the next iteration's worker — or with the main thread's final
    // JSON read — so a plain mutable.Map could corrupt
    val rowCounts = new scala.collection.concurrent.TrieMap[String, Long]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .map { case (name, fn) =>
      // Per-iteration group names: cancelJobGroupAndFutureJobs is sticky,
      // so a shared name would cancel every later iteration too.
      val times = (0 until repeat).flatMap { it =>
        val group = s"$name-$it"
        val t0 = System.nanoTime()
        val task = runner.submit[Unit](() => {
          spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
          try { rowCounts(name) = fn(spark, sfDir).count(); () }
          finally spark.sparkContext.clearJobGroup()
        })
        try { task.get(budgetMs, TimeUnit.MILLISECONDS)
          Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case _: TimeoutException =>
            // cancels running AND not-yet-submitted jobs of this iteration
            spark.sparkContext.cancelJobGroupAndFutureJobs(group)
            task.cancel(true)
            System.err.println(s"[bench] $name#$it exceeded ${budgetMs}ms budget")
            None
          case e: java.util.concurrent.ExecutionException =>
            e.getCause match {
              case fatal: VirtualMachineError => throw fatal // don't mask OOM
              case cause =>
                System.err.println(s"[bench] $name#$it failed: $cause")
                None
            }
          case NonFatal(e) =>
            System.err.println(s"[bench] $name#$it failed: ${e.getMessage}")
            None
        }
      }
      name -> (if (times.nonEmpty) times.min else -1.0)
    }
    runner.shutdownNow()
    val sentinelLast = sentinel()
    def fmt(v: Double): String =
      if (v < 0) "-1.0" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    val rowsField = if (wantRows) {
      val m = results.map { case (k, _) =>
        s"\"" + k + "\":" + rowCounts.getOrElse(k, -1L) }.mkString("{", ",", "}")
      s""","rows":$m"""
    } else ""
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,"sentinel_first_s":${fmt(sentinelFirst)},"sentinel_last_s":${fmt(sentinelLast)},"queries":$qs$rowsField,"sf":"$sfDir"}"""
    // The driver records only a bounded tail of stdout, which truncates a
    // catalog this size mid-line; persist the full per-query map to the
    // repo so the round's timings stay reproducible from a committed
    // artifact regardless of stdout capture limits.
    // cwd-relative default: works on any checkout (sbt runs from the
    // project root), overridable for out-of-tree runs
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    println(line)
    spark.stop()
  }
}
