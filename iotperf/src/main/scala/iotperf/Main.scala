package iotperf

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.catalog.TxLog

/** One benchmark run of one workload, driven from outside the engine:
  *
  *   1. session (`local[slots]`, shuffle partitions = slots, raw local FS);
  *   2. untimed warm-up of the workload on a throwaway database;
  *   3. with `--trace 1`, the calibration probe (a code-independent
  *      parquet write/read/aggregate in a fresh session that never opened
  *      a database);
  *   4. `setups` timed set-ups of the workload (the last one is kept);
  *   5. the timed, seeded op sequence, one op at a time under a watchdog;
  *   6. the correctness gate, then (traced) the calibration probe again.
  *
  * Writes the raw record (ops, set-up times, and with `--trace 1` the
  * spans and listener events) as JSON to `--out`; `run.py` turns it into
  * metrics.
  *
  * Usage: iotperf.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --slots <n> --work <dir> --out <file>
  */
object Main {
  val Setups = 3
  val Discard = 2
  val WarmLead = 3
  val OpBudgetMs = 30000L
  val PhaseBudgetMs = 110000L
  val CalibReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workload(arg("workload"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val slots = arg("slots").toInt
    val work = new File(arg("work")).getAbsolutePath
    val out = arg("out")

    val spark = SparkSession.builder()
      .appName(s"iotperf-${workload.name}")
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(trace)
    val ctx = Ctx(spark, tr)
    val nOps = workload.opsFor(seconds) + Discard

    val header = Map(
      "workload" -> workload.name, "seed" -> seed, "trace" -> trace,
      "task_slots" -> spark.sparkContext.defaultParallelism,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "fs_file_impl" -> spark.sparkContext.hadoopConfiguration.get("fs.file.impl"),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.runtime.version"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "host_cpus" -> Runtime.getRuntime.availableProcessors,
      "ops_timed" -> (nOps - Discard), "ops_discarded" -> Discard,
      "setups" -> Setups, "op_budget_ms" -> OpBudgetMs)
    println("iotperf header " + json(header))
    // wall seconds of each phase of the run, for the run record
    val phaseS = scala.collection.mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def phaseDone(name: String): Unit = {
      val now = System.nanoTime(); phaseS(name) = (now - mark) / 1e9; mark = now
    }

    // 2. warm-up: class loading, codegen and the engine's first-use paths.
    //    A few ops of the lead kind, then one of every other kind, so no
    //    op path runs for the first time inside the timed phase.
    locally {
      val f = workload.open(ctx, s"$work/warmup", seed + 7919L, small = true)
      phaseDone("warmup_setup")
      try f.plan(Seq.fill(WarmLead)(workload.mix.head._1) ++ workload.mix.tail.map(_._1))
        .foreach(_.run())
      finally f.close()
      delete(s"$work/warmup")
    }
    phaseDone("warmup_ops")

    // 3. calibration probe, before; it feeds only the traced run's host.*
    //    metrics
    val calibFirst = if (trace) calibrate(spark, s"$work/calib") else Nil
    phaseDone("calib_first")

    // 4. set-up, timed several times; the last fixture runs the ops
    var fixture: Fixture = null
    val setupS = (0 until Setups).map { i =>
      if (fixture != null) { fixture.close(); delete(fixture.dir) }
      val t0 = System.nanoTime()
      fixture = workload.open(ctx, s"$work/db$i", seed, small = false)
      (System.nanoTime() - t0) / 1e9
    }
    val f = fixture
    val lead = workload.mix.head._1
    val ops = f.plan(Seq.fill(Discard)(lead) ++
      Workload.deck(new java.util.SplittableRandom(seed), nOps - Discard, workload.mix))
    phaseDone("setups")

    // 5. the timed ops: one client, one op outstanding, each under a
    //    watchdog that cancels the op's job group when its budget runs out
    tr.install(spark)
    val runner = Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "iotperf-client"); t.setDaemon(true); t
    })
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcs.map(_.getCollectionTime).sum
    def logCounters: Seq[Long] = Seq(TxLog.logListings.get, TxLog.versionFileReads.get,
      TxLog.ckptReads.get, TxLog.sizeProbes.get)
    var files: Map[String, Long] = if (trace) liveFiles(f) else Map.empty
    var versions: Long = if (trace) f.tracked.map(_._1.logVersion).sum else 0L
    val phaseStart = System.nanoTime()
    val records = ops.zipWithIndex.map { case (op, i) =>
      val overBudget = (System.nanoTime() - phaseStart) / 1e6 > PhaseBudgetMs
      val group = s"iotperf-op-$i"
      tr.op = i
      val log0 = logCounters
      val cpu0 = os.getProcessCpuTime
      val gc0 = gcMs
      val t0 = Clock.now()
      val n0 = System.nanoTime()
      val task = runner.submit[OpOut](() => {
        tr.isClient.set(true)
        spark.sparkContext.setJobGroup(group, s"iotperf ${op.kind}", interruptOnCancel = true)
        try tr.span(op.kind)(op.run())
        finally spark.sparkContext.clearJobGroup()
      })
      val (res, err) =
        if (overBudget) { task.cancel(true); (None, Some("run budget exhausted")) }
        else try (Some(task.get(OpBudgetMs, TimeUnit.MILLISECONDS)), None)
        catch {
          case _: TimeoutException =>
            spark.sparkContext.cancelJobGroupAndFutureJobs(group)
            task.cancel(true)
            (None, Some(s"exceeded ${OpBudgetMs} ms"))
          case e: java.util.concurrent.ExecutionException => e.getCause match {
            case fatal: VirtualMachineError => throw fatal
            case c => (None, Some(String.valueOf(c)))
          }
        }
      val wallMs = (System.nanoTime() - n0) / 1e6
      val t1 = Clock.now()
      val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
      val gc = gcMs - gc0
      val log = logCounters.zip(log0).map { case (x, y) => x - y }
      tr.op = -1
      err.foreach(e => System.err.println(s"[iotperf] op $i (${op.kind}) failed: $e"))
      // file accounting happens between ops, outside the timed interval
      val fileStats: Map[String, Any] = if (!trace) Map.empty else {
        val now = liveFiles(f)
        val added = now.keySet -- files.keySet
        val removed = files.keySet -- now.keySet
        val v = f.tracked.map(_._1.logVersion).sum
        val m = Map("files_added" -> added.size, "files_removed" -> removed.size,
          "bytes_added" -> added.toSeq.map(now).sum, "commits" -> (v - versions))
        files = now; versions = v
        m
      }
      Map("i" -> i, "kind" -> op.kind, "t0" -> t0, "t1" -> t1, "wall_ms" -> wallMs,
        "ok" -> err.isEmpty, "error" -> err, "discard" -> (i < Discard),
        "rows" -> res.map(_.rows).getOrElse(0L),
        "write_end" -> res.map(_.writeEnd).filterNot(_.isNaN),
        "cpu_ms" -> cpuMs, "gc_ms" -> gc,
        "log_listings" -> log(0), "version_reads" -> log(1),
        "ckpt_reads" -> log(2), "size_probes" -> log(3)) ++ fileStats
    }
    runner.shutdownNow()
    if (trace) Thread.sleep(500) // let the listener bus deliver the last events
    phaseDone("ops")

    // 6. correctness gate, then the calibration probe again
    val errors = try f.check() catch { case NonFatal(e) => Seq(s"check failed: $e") }
    errors.foreach(e => System.err.println(s"[iotperf] incorrect: $e"))
    phaseDone("check")
    val calibLast = if (trace) calibrate(spark, s"$work/calib") else Nil
    phaseDone("calib_last")
    val liveCount = if (trace) liveFiles(f).size else 0
    val record = Map(
      "header" -> header, "setup_s" -> setupS,
      "calib_first_ms" -> calibFirst, "calib_last_ms" -> calibLast,
      "ops" -> records, "errors" -> errors, "correct" -> errors.isEmpty,
      "stored_bytes" -> bytesUnder(f.dir), "user_rows" -> f.userRows(),
      "live_files" -> liveCount, "phase_s" -> phaseS.toMap) ++ (if (trace) tr.json else Map.empty)
    f.close()
    Files.write(Paths.get(out), json(record).getBytes("UTF-8"))
    spark.stop()
  }

  /** The run record and header as JSON: maps, sequences, options (None
    * drops its key), strings, numbers and booleans.
    */
  def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  /** The host probe: write a small parquet frame, read it back and
    * aggregate it, in a session no database was ever opened on.
    * Returns each repetition's milliseconds.
    */
  def calibrate(spark: SparkSession, dir: String): Seq[Double] = {
    val s = spark.newSession()
    (0 until CalibReps).map { i =>
      val p = s"$dir/c$i"
      val t0 = System.nanoTime()
      s.range(0L, 20000L, 1L, 2).select(col("id"), (col("id") % 97).as("k"),
        (col("id") * 1.5).as("v")).write.parquet(p)
      s.read.parquet(p).groupBy("k").agg(sum("v")).collect()
      val ms = (System.nanoTime() - t0) / 1e6
      delete(p)
      ms
    }
  }

  private def liveFiles(f: Fixture): Map[String, Long] =
    f.tracked.flatMap { case (db, tables) =>
      tables.filter(db.tableExists).flatMap(db.liveFiles)
    }.map(p => p -> new File(p).length).toMap

  def bytesUnder(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  }
}
