package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{GraftDatabase, TxLog}
import graft.dml.ConstrainedDml._
import graft.plans.PlanGates

/** Job, file and log-listing budgets of small writes on an
  * IoT-ingest-shaped database (points; readings and point_state, each
  * with an FK to points): a small batch is checked with a fixed handful
  * of Spark jobs and opens no existing file its keys cannot be in; a
  * statement lists the log once for its snapshot and once to commit; a
  * read after a write infers no schema; and a keyed write whose check
  * fails while its stage runs commits nothing.
  */
class SmallWriteBudgetSpec extends AnyFunSuite {
  import SparkSessionFixture._
  import spark.implicits._

  private val Points = 2000

  private def ingestDb(name: String): GraftDatabase = {
    val db = GraftDatabase(spark, name,
      Files.createTempDirectory(s"graft-$name").toString)
      .defineTable(TableDef("points", "point_id"))
      .defineTable(TableDef("readings", "reading_id",
        fks = Seq(Fk("point_id", "points", "point_id"))))
      .defineTable(TableDef("point_state", "point_id",
        fks = Seq(Fk("point_id", "points", "point_id"))))
    db.insert("points", (1 to Points).map(p => (p, s"p$p")).toDF("point_id", "name"))
    db.insert("readings", (0 until Points).map(i => (i.toLong, i % Points + 1,
      i.toDouble)).toDF("reading_id", "point_id", "value").repartition(4))
    db.insert("point_state", (1 to Points).map(p => (p, 0.0))
      .toDF("point_id", "value").repartition(4))
    db
  }

  /** Job descriptions of every Spark job `f` submits, and the executed
    * plans of every query it runs.
    */
  private def observed(f: => Any): (Seq[String], Seq[SparkPlan]) = {
    val jobs = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val jl = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val ql = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jl)
    spark.listenerManager.register(ql)
    try { f; org.apache.spark.graft.ListenerDrain(spark.sparkContext) }
    finally {
      spark.sparkContext.removeSparkListener(jl)
      spark.listenerManager.unregister(ql)
    }
    (jobs.asScala.toSeq, plans.asScala.toSeq)
  }

  test("a 500-row insert of fresh keys runs at most 2 constraint-check " +
    "jobs and opens no existing readings file") {
    val db = ingestDb("budget-insert")
    val dir = db.tablePath("readings")
    val batch = (Points until Points + 500).map(i =>
      (i.toLong, i % Points + 1, i.toDouble)).toDF("reading_id", "point_id", "value")
    val (jobs, plans) = observed(db.insert("readings", batch))
    val checks = jobs.count(_.contains("constraint check"))
    assert(checks >= 1 && checks <= 2, jobs)
    val opened = plans.flatMap(PlanGates.allNodes).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(dir)) =>
        s.relation.location.inputFiles.length
    }
    assert(opened.nonEmpty && opened.forall(_ == 0),
      s"readings files opened per scan: $opened")
    assert(db.count("readings") == Points + 500)
  }

  test("a one-row update runs at most 6 jobs in all") {
    val db = ingestDb("budget-update")
    val (jobs, _) = observed(
      assert(db.update("point_state", Seq((7, 1.5)).toDF("point_id", "value")) == 1))
    assert(jobs.size <= 6, jobs)
    assert(db.findById("point_state", 7).map(_.getDouble(1)).contains(1.5))
  }

  test("a frame read from a table takes the bulk path, however small its " +
    "size estimate") {
    val db = GraftDatabase(spark, "budget-validate",
      Files.createTempDirectory("graft-budget-validate").toString)
      .defineTable(TableDef("points", "point_id"))
    val n = SmallBatchMaxRows + 904
    db.insert("points", (1 to n).map(p => (p, s"p$p")).toDF("point_id", "name"))
    val state = db.table("points")
    assert(state.queryExecution.optimizedPlan.stats.sizeInBytes <=
      spark.sessionState.conf.autoBroadcastJoinThreshold)
    assert(localBatch(state, Seq("point_id" -> Nil)).isEmpty)
    assert(db.count("points") == n) // the table's schema and stats, read once
    val (jobs, _) = observed(assert(db.validateConstraints("points").isEmpty))
    // the bulk plans' jobs only: nothing collects the table to the driver
    assert(jobs.nonEmpty && jobs.forall(_.contains("constraint check")), jobs)
  }

  /** The files of `db`'s point_state, at its head, whose log stats admit
    * a probe for `keys`: their range, and a non-null key.
    */
  private def admittedFiles(db: GraftDatabase, keys: Seq[Int]): Set[String] = {
    import graft.catalog.FileStatsUtil
    val snap = db.txlogSnapshotForTest
    val range = FileStatsUtil.probe("point_id", keys.min, keys.max)
    val notNull = FileStatsUtil.nullProbe("point_id", wantNull = false)
    snap.tables("point_state").filter { f =>
      val st = snap.stats.get(("point_state", f))
      range.admits(st) && notNull.admits(st)
    }.map(f => java.nio.file.Paths.get(db.root, f).toString).toSet
  }

  /** The files each scan of point_state in `plans` that carries the
    * source-file column (a hit probe's marked read) opened.
    */
  private def probeScans(db: GraftDatabase,
      plans: Seq[SparkPlan]): Seq[Set[String]] =
    plans.flatMap(PlanGates.allNodes).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains(db.tablePath("point_state"))) &&
            s.output.exists(_.name == "file_path") =>
        s.relation.location.inputFiles
          .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    }

  test("an upsert's hit probe is one job") {
    val db = ingestDb("budget-upsert")
    val keys = 1 to Points by 5
    val admitted = admittedFiles(db, keys)
    val states = keys.map(p => (p, 2.0)).toDF("point_id", "value")
    val (jobs, plans) = observed(db.upsert("point_state", states))
    assert(jobs.count(_.contains("hit probe")) == 1, jobs)
    assert(jobs.count(_.contains("constraint check")) <= 1, jobs)
    assert(db.count("point_state") == Points)
    assert(db.table("point_state").filter($"value" === 2.0).count() ==
      (1 to Points by 5).size)
    // the probe opens exactly the files whose stats admit the batch keys:
    // all four here (the ingest layout spreads every key range over every
    // file), a few of them once point_state is range-clustered
    val opened = probeScans(db, plans)
    assert(admitted.size == 4 && opened.nonEmpty && opened.forall(_ == admitted),
      (admitted, opened))
    db.delete("point_state", org.apache.spark.sql.functions.lit(true))
    db.insert("point_state", (1 to Points).map(p => (p, 0.0))
      .toDF("point_id", "value").repartitionByRange(4, $"point_id"))
    val few = 1 to 40 by 5
    val admitted2 = admittedFiles(db, few)
    val files2 = db.liveFiles("point_state").size
    val (_, plans2) = observed(db.upsert("point_state",
      few.map(p => (p, 3.0)).toDF("point_id", "value")))
    val opened2 = probeScans(db, plans2)
    assert(admitted2.size < files2 && opened2.nonEmpty &&
      opened2.forall(_ == admitted2), (files2, admitted2, opened2))
  }

  private def readingRows(from: Int, n: Int) = (from until from + n).map(i =>
    (i.toLong, i % Points + 1, i.toDouble)).toDF("reading_id", "point_id", "value")

  test("an insert after an insert and an upsert after a full rewrite run " +
    "only labelled jobs, none of them a schema inference") {
    val db = ingestDb("budget-infer")
    db.insert("readings", readingRows(Points, 500))
    val (inserts, _) = observed(db.insert("readings", readingRows(Points + 500, 500)))
    // every point is hit: every file of point_state rewrites in full
    db.upsert("point_state", (1 to Points).map(p => (p, 1.0)).toDF("point_id", "value"))
    val (upserts, _) = observed(db.upsert("point_state",
      (1 to Points by 7).map(p => (p, 2.0)).toDF("point_id", "value")))
    val jobs = inserts ++ upserts
    assert(jobs.nonEmpty && jobs.forall(_.startsWith("graft: ")), jobs)
    assert(!jobs.exists(_.contains("infer schema")), jobs)
    assert(db.count("readings") == Points + 1000)
    assert(db.table("point_state").filter($"value" === 2.0).count() ==
      (1 to Points by 7).size)
  }

  test("an unpinned table of files with different columns reads with " +
    "Spark's inferred schema in either file order, before and after a write") {
    val root = Files.createTempDirectory("graft-budget-hetero").toString
    val log = new TxLog(spark, root)
    val a = log.stage("t", Seq((1, "x")).toDF("id", "a"))
    val b = log.stage("t", Seq((2, 2.5)).toDF("id", "b"))
    log.commit(Seq(TxLog.Put("t", a ++ b)))
    // each list's schema as Spark infers it, then as the log reads it,
    // with the jobs of the log's read
    def read(rel: Seq[String]): Seq[String] = {
      val want = spark.read.parquet(rel.map(r => s"$root/$r"): _*).schema
      val (jobs, _) = observed(assert(log.readFiles("t", rel).schema == want, rel))
      jobs
    }
    assert(read(a ++ b) == Seq("graft: infer schema t"))
    assert(read(b ++ a) == Seq("graft: infer schema t"))
    val c = log.stage("t", Seq((3, "y")).toDF("id", "a"))
    log.commit(Seq(TxLog.Add("t", c)))
    read(a ++ b ++ c)
    read(c ++ b ++ a)
    assert(read(a ++ c).isEmpty) // one recorded schema: no job
    (a ++ b ++ c).foreach(r => assert(
      log.stagedSchema(r).contains(spark.read.parquet(s"$root/$r").schema), r))
  }

  test("an upsert, update or mergeBatch whose FK check fails while its " +
    "stage runs commits nothing and reports the violation") {
    val db = ingestDb("budget-fk-fail")
    val version = db.logVersion
    val rows = db.table("readings").collect().map(_.toString).sorted.toSeq
    // reading 7 exists; its new point does not
    val bad = Seq((7L, Points + 1, 1.0)).toDF("reading_id", "point_id", "value")
    val writes: Seq[(String, () => Any)] = Seq(
      "upsert" -> (() => db.upsert("readings", bad)),
      "update" -> (() => db.update("readings", bad)),
      "mergeBatch" -> (() => db.mergeBatch("readings", bad,
        Seq.empty[Long].toDF("reading_id"), "app", 1L)))
    writes.foreach { case (what, write) =>
      val (jobs, _) = observed {
        val e = intercept[IllegalStateException](write())
        assert(e.getMessage == "constraint violations: " +
          "List(Violation(fk_missing,readings,point_id,1))", what)
      }
      assert(jobs.contains("graft: stage readings"), s"$what: $jobs")
      assert(db.logVersion == version, what)
      assert(db.table("readings").collect().map(_.toString).sorted.toSeq ==
        rows, what)
    }
  }

  test("mergeBatch checks a small batch's distinct-PK claim on the driver") {
    val db = GraftDatabase(spark, "budget-merge-claim",
      Files.createTempDirectory("graft-budget-merge-claim").toString)
      .defineTable(TableDef("t", "id"))
    db.insert("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val version = db.logVersion
    val noDeletes = Seq.empty[Int].toDF("id")
    val lies = Seq(
      Seq((Option(1), "x"), (Option(1), "y")).toDF("id", "v"),
      Seq((Option(3), "x"), (Option.empty[Int], "y")).toDF("id", "v"))
    lies.foreach { lie =>
      val (jobs, _) = observed(intercept[IllegalArgumentException](
        db.mergeBatch("t", lie, noDeletes, "app", 1L,
          replacementsDistinctByPk = true)))
      assert(jobs.isEmpty, jobs)
      assert(db.logVersion == version)
    }
    assert(db.mergeBatch("t", Seq((1, "x"), (3, "c")).toDF("id", "v"),
      noDeletes, "app", 1L, replacementsDistinctByPk = true))
    assert(db.table("t").orderBy("id").collect().map(r =>
      (r.getInt(0), r.getString(1))).toSeq == Seq((1, "x"), (2, "b"), (3, "c")))
  }

  /** Log LISTs (`TxLog.logListings`) per warm call on a quiet head: one
    * resolves the statement's snapshot and one finds the commit's slot,
    * which also answers a ledger mark's (`mergeBatch`, `insertBatch`,
    * `applyChanges`) replay check; a commit that writes a checkpoint
    * lists once more. Before every statement resolved the
    * head once, warm calls on this database shape listed: `insert`
    * (500 rows) 8, `upsert` (~440 rows) 7, `update` (1 row) 7,
    * `updateMany` 13, `delete` (1 row) 12, `mergeBatch` 8, `findById`
    * 3, `count` 2, a filtered `table(..)` read 2. (This case's own calls
    * there: `insert` 7, `upsert` 9, `insertBatch` 8, `applyChanges` 14,
    * the rest as listed.)
    */
  test("a warm statement lists the log once for its snapshot, and a " +
    "write once more to commit") {
    val db = ingestDb("budget-lists")
    val calls: Seq[(String, Long, Long => Any)] = Seq(
      ("insert", 2L, i => db.insert("readings",
        readingRows(10000 + 1000 * i.toInt, 500))),
      ("upsert", 2L, i => db.upsert("point_state",
        (1 to Points by 5).map(p => (p, i + 3.0)).toDF("point_id", "value"))),
      ("update", 2L, i => db.update("point_state",
        Seq((7, i + 1.5)).toDF("point_id", "value"))),
      ("updateMany", 2L, i => db.updateMany("point_state",
        $"point_id" === 11,
        Map("value" -> org.apache.spark.sql.functions.lit(i + 9.0)))),
      ("delete", 2L, i => db.delete("readings", $"reading_id" === 20L + i)),
      ("mergeBatch", 2L, i => db.mergeBatch("point_state",
        Seq((13, i + 2.0)).toDF("point_id", "value"),
        Seq(14 + i.toInt).toDF("point_id"), "budget-merge", i)),
      ("insertBatch", 2L, i => db.insertBatch("readings",
        readingRows(30000 + 1000 * i.toInt, 10), "budget-insert", i)),
      ("applyChanges", 2L, i => db.applyChanges("point_state",
        Seq((15, i + 4.0, "insert")).toDF("point_id", "value", "_change_type"),
        "budget-cdc", i)),
      ("findById", 1L, _ => db.findById("points", 7)),
      ("count", 1L, _ => db.count("readings")),
      ("filtered read", 1L, _ => db.table("readings")
        .filter($"point_id" === 7).collect()))
    val over = calls.flatMap { case (what, bound, call) =>
      call(0L) // warm
      val v0 = db.logVersion
      val before = TxLog.logListings.get()
      call(1L)
      val lists = TxLog.logListings.get() - before
      val checkpointed =
        (v0 + 1 to db.logVersion).exists(_ % TxLog.checkpointEvery == 0)
      val allowed = bound + (if (checkpointed) 1L else 0L)
      info(s"$what: $lists LISTs (allowed $allowed)")
      Option.when(lists > allowed)(s"$what: $lists LISTs (allowed $allowed)")
    }
    assert(over.isEmpty, over)
  }
}
