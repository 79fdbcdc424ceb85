package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CyclicBarrier

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, lit, sum}

import graft.catalog.{GraftDatabase, TxLog}
import graft.dml.ConstrainedDml.{Cascade, Fk, TableDef}

/** The ACID layer: commit-log semantics (atomic publish, optimistic
  * conflicts, snapshot isolation, checkpoint/vacuum) and the facade's
  * transactional surface (BEGIN/COMMIT/ROLLBACK, atomic cascade) —
  * replacing the reference's WAL + snapshot reads
  * (`WalIndexService.cs:143-291`, `TransactionService.cs:125-282`).
  */
class TxLogSpec extends AnyFunSuite {
  import SparkSessionFixture._
  import spark.implicits._

  private def freshLog(): (TxLog, String) = {
    val root = Files.createTempDirectory("graft-txlog").toString
    (new TxLog(spark, root), root)
  }

  test("vacuum vs an in-flight long reader: a snapshot plan bound to a " +
      "retired version stays valid until deletion, then fails LOUDLY — " +
      "never silently fewer rows") {
    val db = freshDb()
    db.defineTable(graft.dml.ConstrainedDml.TableDef("t", "id"))
    db.insert("t", (1 to 100).map(i => (i, i.toLong)).toDF("id", "v"))
    val v1 = db.logVersion
    // rewrite everything: v1's files are unbound at head
    db.updateMany("t", col("id") >= 1, Map("v" -> lit(0L)))
    // the "long reader": a plan bound to the RETIRED version
    val reader = db.tableAt("t", v1).get
    // immutable files: the old snapshot reads exactly while they exist,
    // with no locks held against the writer or the vacuum
    assert(reader.count() == 100)
    assert(reader.agg(sum(col("v"))).head.getLong(0) ==
      (1 to 100).map(_.toLong).sum)
    // an aggressive vacuum (retention floor 0 — tests/decommission only;
    // production keeps >= 2 versions and minAgeMs >= longest query)
    // reclaims v1's files while the reader still holds its plan
    assert(db.vacuum(keepVersions = 0, minAgeMs = 0L).nonEmpty)
    // the documented failure mode: re-executing the bound plan throws
    // at the scan (missing file) — it must NEVER return a partial count
    val ex = intercept[Exception](reader.count())
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(c.getMessage).toLowerCase.contains("does not exist") ||
        String.valueOf(c.getMessage).toLowerCase.contains("file")),
      s"expected a loud missing-file failure, got: ${ex.getMessage}")
    // the HEAD snapshot is untouched by the race
    assert(db.table("t").count() == 100)
    assert(db.table("t").agg(sum(col("v"))).head.getLong(0) == 0L)
  }

  test("an EXPLICIT outputTimestampType choice survives TxLog init") {
    // only the session DEFAULT is overridden to TIMESTAMP_MICROS; a
    // user who deliberately set the conf — even to stats-less INT96 —
    // keeps their choice (with a warning, not a silent flip)
    val k = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "INT96")
    try {
      new TxLog(spark, Files.createTempDirectory("graft-int96").toString)
      assert(spark.conf.get(k) == "INT96")
    } finally spark.conf.set(k, prev)
  }

  private def freshDb(): GraftDatabase = {
    val base = Files.createTempDirectory("graft-txdb").toString
    GraftDatabase(spark, "txdemo", base)
      .defineTable(TableDef("customer", "id", uniqueCols = Seq("name")))
      .defineTable(TableDef("orders", "id",
        fks = Seq(Fk("customer_id", "customer", "id", Cascade))))
  }

  test("commit publishes atomically and versions replay in order") {
    val (log, _) = freshLog()
    assert(log.version == 0)
    val f1 = log.stage("t", Seq((1, "a")).toDF("id", "v"))
    assert(log.read("t").isEmpty) // staged-not-committed is invisible
    assert(log.commit(Seq(TxLog.Put("t", f1))) == 1)
    assert(log.read("t").get.count() == 1)

    val f2 = log.stage("t", Seq((2, "b")).toDF("id", "v"))
    assert(log.commit(Seq(TxLog.Add("t", f2))) == 2)
    assert(log.read("t").get.count() == 2)

    // PUT replaces; DEL unbinds; REN re-keys — all metadata-only
    val f3 = log.stage("t", Seq((9, "z")).toDF("id", "v"))
    log.commit(Seq(TxLog.Put("t", f3)))
    assert(log.read("t").get.select("id").as[Int].collect().toSeq == Seq(9))
    log.commit(Seq(TxLog.Ren("t", "u")))
    assert(log.read("t").isEmpty && log.read("u").get.count() == 1)
    log.commit(Seq(TxLog.Del("u")))
    assert(log.read("u").isEmpty)
  }

  test("snapshot isolation: a reader's plan keeps answering with its " +
      "snapshot across later commits") {
    val (log, _) = freshLog()
    log.commit(Seq(TxLog.Put("t",
      log.stage("t", Seq((1, "old"), (2, "old")).toDF("id", "v")))))
    val reader = log.read("t").get // plan bound to v1's immutable files

    // writer replaces the table twice
    log.commit(Seq(TxLog.Put("t", log.stage("t", Seq((1, "new")).toDF("id", "v")))))
    log.commit(Seq(TxLog.Put("t", log.stage("t",
      Seq((7, "newer")).toDF("id", "v")))))

    // the old reader still sees v1; a new reader sees the head
    assert(reader.select("v").as[String].collect().toSet == Set("old"))
    assert(reader.count() == 2)
    assert(log.read("t").get.select("v").as[String].head() == "newer")
    // and time travel reconstructs any retained version
    assert(log.readAt(2, "t").get.select("v").as[String].head() == "new")
  }

  test("optimistic concurrency: a stale writer conflicts instead of " +
      "silently losing the other's update") {
    val (log, _) = freshLog()
    log.commit(Seq(TxLog.Put("t", log.stage("t", Seq((1, 10)).toDF("id", "x")))))
    val base = log.version

    // writer A commits first (built against `base`)
    log.commit(Seq(TxLog.Put("t",
      log.stage("t", Seq((1, 11)).toDF("id", "x")))), readVersion = base)
    // writer B, also built against `base`, must fail — not overwrite A
    val fB = log.stage("t", Seq((1, 99)).toDF("id", "x"))
    intercept[TxLog.ConflictException] {
      log.commit(Seq(TxLog.Put("t", fB)), readVersion = base)
    }
    assert(log.read("t").get.select("x").as[Int].head() == 11)

    // a stale writer touching a DIFFERENT table proceeds (no overlap)
    log.commit(Seq(TxLog.Put("other",
      log.stage("other", Seq(1).toDF("id")))), readVersion = base)
    assert(log.read("other").isDefined)
  }

  test("two racing committers: exactly one same-table writer wins") {
    val (log, _) = freshLog()
    log.commit(Seq(TxLog.Put("t", log.stage("t", Seq((1, 0)).toDF("id", "x")))))
    val base = log.version
    // pre-stage both so the race is purely over the log publish
    val fa = log.stage("t", Seq((1, 1)).toDF("id", "x"))
    val fb = log.stage("t", Seq((1, 2)).toDF("id", "x"))

    val barrier = new CyclicBarrier(2)
    @volatile var conflicts = 0
    @volatile var wins = 0
    val threads = Seq(fa, fb).map { f =>
      new Thread(() => {
        barrier.await()
        try { log.commit(Seq(TxLog.Put("t", f)), readVersion = base)
          synchronized { wins += 1 } }
        catch { case _: TxLog.ConflictException =>
          synchronized { conflicts += 1 } }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins == 1 && conflicts == 1, s"wins=$wins conflicts=$conflicts")
    assert(log.read("t").get.count() == 1)
  }

  test("checkpoint + vacuum: snapshots resolve after log truncation, " +
      "retired files disappear, retained versions stay readable") {
    val (log, root) = freshLog()
    // 12 commits → a checkpoint lands at v10
    (1 to 12).foreach { i =>
      log.commit(Seq(TxLog.Put("t", log.stage("t", Seq(i).toDF("n")))))
    }
    assert(log.version == 12)
    assert(log.read("t").get.select("n").as[Int].head() == 12)

    val dataDirsBefore = Files.list(Paths.get(root, "Tables", "t"))
      .filter(Files.isDirectory(_)).count()
    assert(dataDirsBefore == 12)

    // default grace period protects freshly-staged (possibly in-flight)
    // dirs: a vacuum right after the commits deletes nothing
    assert(log.vacuum(keepVersions = 2).isEmpty)
    // with the grace waived, unreferenced versions retire
    val deleted = log.vacuum(keepVersions = 2, minAgeMs = 0)
    assert(deleted.nonEmpty)
    val dataDirsAfter = Files.list(Paths.get(root, "Tables", "t"))
      .filter(Files.isDirectory(_)).count()
    assert(dataDirsAfter == 2) // v11 + v12 file sets retained

    // head still resolves (replay from the checkpoint, truncated log)
    assert(log.read("t").get.select("n").as[Int].head() == 12)
    assert(log.readAt(11, "t").get.select("n").as[Int].head() == 11)
  }

  test("facade: concurrent reader during update keeps its snapshot; " +
      "new reads see the committed update") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    val before = db.table("customer") // snapshot-bound plan

    assert(db.updateMany("customer", org.apache.spark.sql.functions.lit(true),
      Map("age" -> org.apache.spark.sql.functions.lit(99))) == 2)

    // the pre-update reader still answers with ITS snapshot
    assert(before.select("age").as[Int].collect().toSet == Set(30, 40))
    // a post-update reader sees the new state
    assert(db.table("customer").select("age").as[Int].collect().toSet == Set(99))
  }

  test("facade: readers stay valid across DROP and RENAME (metadata-only " +
      "actions; files retire only at vacuum)") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    val reader = db.table("customer")
    assert(db.renameCollection("customer", "folks"))
    // the pre-rename reader still answers from its immutable files,
    // and the binding moved without any data movement
    assert(reader.count() == 2)
    assert(db.table("folks").count() == 2)
    val reader2 = db.table("folks")
    assert(db.dropCollection("folks"))
    assert(reader2.count() == 2) // unbound, not deleted — vacuum retires
    assert(!db.tableExists("folks"))
  }

  test("facade: cascade delete commits all affected tables in ONE " +
      "atomic log version") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    db.insert("orders", Seq((10, 1, 250.0), (11, 1, 50.0), (12, 2, 99.0))
      .toDF("id", "customer_id", "amount"))
    val preCustomer = db.table("customer")
    val preOrders = db.table("orders")
    val vBefore = db.logVersion

    db.delete("customer", org.apache.spark.sql.functions.col("id") === 1)

    // ONE commit covered both tables (atomic multi-table cascade)
    assert(db.logVersion == vBefore + 1)
    assert(db.table("customer").count() == 1)
    assert(db.table("orders").select("id").as[Int].collect().toSet == Set(12))
    // pre-delete readers keep their consistent pair of snapshots
    assert(preCustomer.count() == 2 && preOrders.count() == 3)
  }

  test("facade SQL transactions: BEGIN buffers, statements see their " +
      "own writes, COMMIT publishes once, ROLLBACK discards") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    val vBefore = db.logVersion

    // BEGIN; two statements; both visible inside the tx, invisible outside
    assert(db.sql("BEGIN TRANS").head().getBoolean(0))
    assert(!db.sql("BEGIN").head().getBoolean(0)) // nested begin: false
    db.sql("""INSERT INTO customer VALUES {"id": 3, "name": "cal", "age": 20}""")
    db.sql("UPDATE customer SET $.age = $.age + 1 WHERE $.id = 3")
    // the SAME transaction reads its own uncommitted writes
    assert(db.sql("SELECT $.age FROM customer WHERE $.id = 3")
      .head().getLong(0) == 21)
    // the committed store has NOT moved
    assert(db.logVersion == vBefore)
    assert(db.table("customer").count() == 2)

    // COMMIT publishes everything as one version
    assert(db.sql("COMMIT").head().getBoolean(0))
    assert(db.logVersion == vBefore + 1)
    assert(db.table("customer").count() == 3)
    assert(db.findById("customer", 3).get.getAs[Long]("age") == 21)
    assert(!db.sql("COMMIT").head().getBoolean(0)) // no open tx

    // ROLLBACK discards buffered statements
    db.sql("BEGIN")
    db.sql("DELETE customer WHERE $.id = 1")
    assert(db.sql("ROLLBACK").head().getBoolean(0))
    assert(db.table("customer").count() == 3)
    assert(db.logVersion == vBefore + 1)
  }

  test("facade SQL transactions: a failed statement auto-rolls-back; " +
      "direct facade writes are fenced while a tx is open") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))

    db.sql("BEGIN")
    db.sql("""INSERT INTO customer VALUES {"id": 3, "name": "cal", "age": 20}""")
    // unique(name) violation inside the tx → whole tx rolls back
    intercept[IllegalStateException] {
      db.sql("""INSERT INTO customer VALUES {"id": 4, "name": "ann", "age": 1}""")
    }
    assert(!db.inTransaction)
    assert(db.table("customer").count() == 2) // cal's insert gone too

    // direct facade DML while a tx is open is fenced (it would bypass
    // the transaction's atomicity)
    db.sql("BEGIN")
    intercept[IllegalStateException] {
      db.insert("customer", Seq((5, "eve", 9)).toDF("id", "name", "age"))
    }
    assert(db.sql("ROLLBACK").head().getBoolean(0))
    // and after the rollback the insert lands
    db.insert("customer", Seq((5, "eve", 9)).toDF("id", "name", "age"))
    assert(db.table("customer").count() == 3)
  }

  test("a SQL transaction conflicts with an interleaved external commit " +
      "instead of silently overwriting it") {
    val base = Files.createTempDirectory("graft-txrace").toString
    val db1 = GraftDatabase(spark, "racedb", base)
      .defineTable(TableDef("customer", "id"))
    db1.insert("customer", Seq((1, "ann", 30)).toDF("id", "name", "age"))

    // db1 opens a transaction whose views are loaded now
    db1.sql("BEGIN")
    db1.sql("UPDATE customer SET $.age = 31 WHERE $.id = 1")

    // a SECOND handle on the same root commits to the same table
    val db2 = GraftDatabase(spark, "racedb", base)
      .defineTable(TableDef("customer", "id"))
    db2.insert("customer", Seq((2, "bob", 40)).toDF("id", "name", "age"))

    // db1's COMMIT was built against the pre-insert snapshot: it must
    // fail loudly, not erase bob
    intercept[graft.catalog.TxLog.ConflictException](db1.sql("COMMIT"))
    assert(db2.table("customer").count() == 2)
  }

  test("blind commits (drops) retry through a lost publish race instead " +
      "of spuriously conflicting") {
    val (log, _) = freshLog()
    log.commit(Seq(TxLog.Put("a", log.stage("a", Seq(1).toDF("x")))))
    log.commit(Seq(TxLog.Put("b", log.stage("b", Seq(1).toDF("x")))))
    val fa = log.stage("a", Seq(2).toDF("x"))
    val fb = log.stage("b", Seq(2).toDF("x"))
    // two blind committers on DIFFERENT tables racing the same version
    // slot: both must land (one wins the slot, the other retries)
    val barrier = new CyclicBarrier(2)
    @volatile var errors = 0
    val threads = Seq(("a", fa), ("b", fb)).map { case (t, f) =>
      new Thread(() => {
        barrier.await()
        try log.commit(Seq(TxLog.Put(t, f)))
        catch { case _: Throwable => synchronized { errors += 1 } }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors == 0)
    assert(log.read("a").get.select("x").as[Int].head() == 2)
    assert(log.read("b").get.select("x").as[Int].head() == 2)
  }

  test("a pre-commit-log database layout imports on open instead of " +
      "reading as empty") {
    val base = Files.createTempDirectory("graft-legacy").toString
    val root = s"$base/old"
    // simulate the old layout: parquet part files directly under
    // Tables/<name>/ with no _txlog
    Seq((1, "ann"), (2, "bob")).toDF("id", "name")
      .write.parquet(s"$root/Tables/customer")
    val db = GraftDatabase(spark, "old", base)
    assert(db.tableExists("customer"))
    assert(db.table("customer").count() == 2)
    // and the imported table participates in normal log-backed DML
    db.insert("customer", Seq((3, "cal")).toDF("id", "name"))
    assert(db.table("customer").count() == 3)
  }

  test("LIMIT_SIZE accounts LIVE bytes, so version churn awaiting vacuum " +
      "cannot wedge the store read-only") {
    val db = freshDb()
    // eight files per version whatever the session's core count (the
    // raw-vs-live margin below depends on per-file overhead): eight
    // insert partitions, and a rewrite's scan keeps one small file per
    // split only when asked for at least eight splits
    db.insert("customer", (1 to 500).map(i => (i, s"n$i", i))
      .toDF("id", "name", "age").repartition(8))
    spark.conf.set("spark.sql.files.minPartitionNum", "8")
    // churn: every update retires a full prior version (no vacuum ran)
    try (1 to 6).foreach(k => db.setAll("customer", "age", k))
    finally spark.conf.unset("spark.sql.files.minPartitionNum")
    val liveBytes = db.liveFiles("customer")
      .map(f => Files.size(Paths.get(f))).sum
    val rawBytes = graft.catalog.Pragmas.storeSize(db.root)
    val limit = math.max(liveBytes * 2 + 65536, 32768L)
    assert(rawBytes > limit,
      s"fixture must hold retired versions beyond the limit: raw=$rawBytes limit=$limit")
    // under raw-walk accounting this limit is already exceeded and every
    // write would throw; live accounting admits it
    db.setPragma("LIMIT_SIZE", limit)
    db.insert("customer", Seq((501, "x", 1)).toDF("id", "name", "age"))
    assert(db.table("customer").count() == 501)
  }

  test("time travel + $log history: committed versions stay readable " +
      "until vacuum and the commit history narrates them") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30)).toDF("id", "name", "age"))
    val v1 = db.logVersion
    db.insert("customer", Seq((2, "bob", 40)).toDF("id", "name", "age"))
    db.delete("customer", org.apache.spark.sql.functions.col("id") === 1)
    assert(db.table("customer").count() == 1)
    // as-of reads reconstruct each retained version
    assert(db.tableAt("customer", v1).get.count() == 1)
    assert(db.tableAt("customer", v1 + 1).get.count() == 2)
    assert(db.tableAt("nope", v1).isEmpty)
    // $log narrates: two ADDs then the cascade PUT
    val h = db.system("$log").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(h.count(_._2 == "ADD") == 2)
    assert(h.exists(x => x._2 == "PUT" && x._3 == "customer"))
  }

  test("insertBatch is idempotent: a replayed (appId, batchId) is " +
      "skipped, exactly-once state from at-least-once delivery") {
    val db = freshDb()
    val b0 = Seq((1, "ann", 30), (2, "bob", 40)).toDF("id", "name", "age")
    assert(db.insertBatch("customer", b0, "ingest", 0L))
    assert(db.count("customer") == 2)
    val vAfter = db.logVersion

    // the replay: same appId+batchId → skipped, nothing written
    assert(!db.insertBatch("customer", b0, "ingest", 0L))
    assert(db.count("customer") == 2)
    assert(db.logVersion == vAfter)
    // an OLDER batch id is also a replay (batch ids are monotonic)
    assert(!db.insertBatch("customer", b0, "ingest", -1L))

    // a new batch applies; a different appId has its own ledger
    assert(db.insertBatch("customer",
      Seq((3, "cal", 20)).toDF("id", "name", "age"), "ingest", 1L))
    assert(db.count("customer") == 3)
    assert(db.insertBatch("customer",
      Seq((4, "dee", 25)).toDF("id", "name", "age"), "backfill", 0L))
    assert(db.count("customer") == 4)

    // the ledger survives checkpoint truncation: force a checkpoint
    // past every commit, vacuum the log, and replay again
    (1 to 10).foreach(k => db.setAll("customer", "age", k))
    db.setPragma("CHECKPOINT", 1)
    db.checkpoint()
    assert(!db.insertBatch("customer", b0, "ingest", 1L))
    assert(db.count("customer") == 4)
  }

  test("log-backed reads keep scan pushdown: filters reach the parquet " +
      "scan of the explicit-file-list plan") {
    val db = freshDb()
    db.insert("customer", (1 to 200).map(i => (i, s"n$i", i))
      .toDF("id", "name", "age"))
    val plan = db.table("customer").filter(col("age") > 150)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(age), GreaterThan(age,150)]"),
      s"pushdown missing from log-backed scan:\n$plan")
    // and column pruning: a 1-column projection reads a 1-column schema
    val pruned = db.table("customer").select("name")
      .queryExecution.executedPlan.toString
    assert(pruned.contains("ReadSchema: struct<name:string>"),
      s"column pruning missing:\n$pruned")
  }

  test("model check: 200 random actions replay to the same state as an " +
      "independent fold, through checkpoints and a fresh instance") {
    // pure metadata: snapshot resolution never touches data files, so the
    // model can commit fake paths and compare table->files maps exactly
    val (log, root) = freshLog()
    val rnd = new scala.util.Random(42)
    val tables = Vector("a", "b", "c", "d")
    var model = Map.empty[String, Vector[String]]
    var modelTxns = Map.empty[String, Long]
    (1 to 200).foreach { i =>
      val t = tables(rnd.nextInt(tables.size))
      val action: TxLog.Action = rnd.nextInt(6) match {
        case 0 => TxLog.Put(t, Seq(s"Tables/$t/f$i-1", s"Tables/$t/f$i-2"))
        case 1 => TxLog.Add(t, Seq(s"Tables/$t/f$i"))
        case 2 => TxLog.Del(t)
        case 3 =>
          val dst = tables(rnd.nextInt(tables.size))
          if (dst == t || model.contains(dst)) TxLog.Add(t, Seq(s"Tables/$t/f$i"))
          else TxLog.Ren(t, dst)
        case 4 => TxLog.Txn(s"app${rnd.nextInt(2)}", i.toLong)
        case 5 => // relative patch: drop a random prefix, add a file —
          // exercises existing, empty, and dropped-table bindings
          val cur = model.getOrElse(t, Vector.empty)
          TxLog.Patch(t, cur.take(rnd.nextInt(cur.size + 1)),
            Seq(s"Tables/$t/p$i"))
      }
      log.commit(Seq(action))
      // the independent model fold
      action match {
        case TxLog.Put(x, fs) => model = model.updated(x, fs.toVector)
        case TxLog.Add(x, fs) =>
          model = model.updated(x, model.getOrElse(x, Vector.empty) ++ fs)
        case TxLog.Del(x) => model = model - x
        case TxLog.Ren(o, n) => model.get(o) match {
          case Some(fs) => model = model - o + (n -> fs)
          case None => ()
        }
        case TxLog.Txn(a, b) =>
          modelTxns = modelTxns.updated(a,
            math.max(b, modelTxns.getOrElse(a, Long.MinValue)))
        case TxLog.Patch(x, rm, ad) => model.get(x) match {
          case Some(fs) =>
            model = model.updated(x, fs.filterNot(rm.toSet) ++ ad)
          case None => () // patch on a dropped table: stays dropped
        }
        case _ => () // Sch/Sta/Dvec: no table-binding effect
      }
      if (i % 37 == 0) { // spot-check along the way
        val s = log.snapshot()
        assert(s.tables == model, s"diverged at step $i")
        assert(s.txns == modelTxns, s"txns diverged at step $i")
      }
    }
    // checkpoints exist (200 commits / every 10) and a FRESH instance —
    // no caches, replay from the newest checkpoint — agrees exactly
    val fresh = new TxLog(spark, root)
    assert(fresh.version == 200)
    assert(fresh.snapshot().tables == model)
    assert(fresh.snapshot().txns == modelTxns)
  }

  test("stray files in the log directory (crashed writers' tmp files) " +
      "do not corrupt version discovery or replay") {
    val (log, root) = freshLog()
    log.commit(Seq(TxLog.Put("t", log.stage("t", Seq(1).toDF("n")))))
    // simulate crashed commit attempts and unrelated junk
    Files.write(Paths.get(root, "_txlog", ".commit42.tmp"),
      "PUT\tghost\tTables/ghost/x".getBytes("UTF-8"))
    Files.write(Paths.get(root, "_txlog", "junk.txt"), "x".getBytes("UTF-8"))
    Files.write(Paths.get(root, "_txlog", "v99999999.txt.partial"),
      "PUT\tghost\tTables/ghost/x".getBytes("UTF-8"))
    assert(log.version == 1)
    assert(log.snapshot().tables.keySet == Set("t"))
    assert(log.read("t").get.count() == 1)
    // and the next commit proceeds normally past the junk
    log.commit(Seq(TxLog.Add("t", log.stage("t", Seq(2).toDF("n")))))
    assert(log.read("t").get.count() == 2)
  }

  test("a stale writer whose read version was truncated by vacuum fails " +
      "safe with a conflict instead of silently overwriting") {
    val (log, _) = freshLog()
    log.commit(Seq(TxLog.Put("t", log.stage("t", Seq(1).toDF("n")))))
    val stale = log.version // = 1
    // 11 more commits → checkpoint at v10; vacuum truncates v1..v9
    (2 to 12).foreach { i =>
      log.commit(Seq(TxLog.Put("t", log.stage("t", Seq(i).toDF("n")))))
    }
    log.vacuum(keepVersions = 2, minAgeMs = 0)
    // the commits the stale writer must validate against are gone —
    // unverifiable is a conflict, not a green light
    val f = log.stage("t", Seq(99).toDF("n"))
    intercept[TxLog.ConflictException] {
      log.commit(Seq(TxLog.Put("t", f)), readVersion = stale)
    }
    assert(log.read("t").get.select("n").as[Int].head() == 12)
    // a FRESH read version still commits normally
    log.commit(Seq(TxLog.Put("t", f)), readVersion = log.version)
    assert(log.read("t").get.select("n").as[Int].head() == 99)
  }

  test("an empty-file-list ADD commit round-trips; the log stays " +
      "readable for replay, new instances, and later commits") {
    val (log, root) = freshLog()
    log.commit(Seq(TxLog.Put("t", log.stage("t", Seq(1).toDF("n")))))
    log.commit(Seq(TxLog.Add("t", Nil))) // renders with a trailing tab
    assert(log.version == 2)
    assert(log.read("t").get.count() == 1)
    // a fresh instance replays the same log from disk
    val log2 = new TxLog(spark, root)
    assert(log2.snapshot().tables.keySet == Set("t"))
    // a versioned commit scanning past the empty-ADD line still parses
    // it (no overlap with "u" → proceeds rather than poisoning the log)
    log2.commit(Seq(TxLog.Put("u",
      log2.stage("u", Seq(2).toDF("n")))), readVersion = 1)
    assert(log2.read("u").get.select("n").as[Int].head() == 2)
  }

  test("crash junk from the old two-phase rewrite (*_tmp_swap) is not " +
      "imported as a phantom table") {
    val base = Files.createTempDirectory("graft-legacy-junk").toString
    val root = s"$base/old"
    Seq((1, "ann"), (2, "bob")).toDF("id", "name")
      .write.parquet(s"$root/Tables/customer")
    // a crashed pre-log writeReplace left its temp dir behind
    Seq((1, "stale"), (2, "stale")).toDF("id", "name")
      .write.parquet(s"$root/Tables/customer_tmp_swap")
    val db = GraftDatabase(spark, "old", base)
    assert(db.tableExists("customer"))
    assert(!db.tableExists("customer_tmp_swap"))
    assert(db.table("customer").count() == 2)
  }

  test("legacy-imported loose part files are reclaimed once a rewrite " +
      "retires them (rebuild shrinks to the live version)") {
    val base = Files.createTempDirectory("graft-legacy-vac").toString
    val root = s"$base/old"
    Seq((1, "ann"), (2, "bob")).toDF("id", "name")
      .write.parquet(s"$root/Tables/customer")
    val db = GraftDatabase(spark, "old", base)
    // rewrite the table: the in-place imported files are now retired
    db.setAll("customer", "name", "x")
    assert(db.table("customer").count() == 2)
    def looseParquet(): Seq[String] = {
      val s = Files.list(Paths.get(root, "Tables", "customer"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq
      finally s.close()
    }
    assert(looseParquet().nonEmpty, "fixture: imported files present")
    db.rebuild() // REBUILD reclaims retired versions immediately
    assert(looseParquet().isEmpty,
      "legacy loose files must be vacuumed once unreferenced")
    assert(db.table("customer").count() == 2)
  }

  test("two INSTANCES over the same root race a commit: the filesystem " +
      "CAS arbitrates (the cross-process shape, not shared JVM state)") {
    val (log, root) = freshLog()
    log.commit(Seq(TxLog.Put("t", log.stage("t", Seq((1, 0)).toDF("id", "x")))))
    val base = log.version
    // separate TxLog objects = no shared caches; only the log files
    val logA = new TxLog(spark, root)
    val logB = new TxLog(spark, root)
    val fa = logA.stage("t", Seq((1, 1)).toDF("id", "x"))
    val fb = logB.stage("t", Seq((1, 2)).toDF("id", "x"))
    val barrier = new CyclicBarrier(2)
    @volatile var wins = 0
    @volatile var conflicts = 0
    val threads = Seq((logA, fa), (logB, fb)).map { case (l, f) =>
      new Thread(() => {
        barrier.await()
        try { l.commit(Seq(TxLog.Put("t", f)), readVersion = base)
          synchronized { wins += 1 } }
        catch { case _: TxLog.ConflictException =>
          synchronized { conflicts += 1 } }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins == 1 && conflicts == 1, s"wins=$wins conflicts=$conflicts")
    // a third instance agrees on the surviving state
    assert(new TxLog(spark, root).read("t").get.count() == 1)
  }

  test("updateMany is file-granular copy-on-write: untouched files keep " +
      "their paths, only files holding matches rewrite") {
    val db = freshDb()
    // 4 insert batches -> 4 immutable files with disjoint id ranges
    (0 until 4).foreach { b =>
      db.insert("customer", (1 to 10).map(i => (b * 10 + i, s"n${b * 10 + i}",
        20 + b)).toDF("id", "name", "age").coalesce(1))
    }
    val before = db.liveFiles("customer")
    assert(before.size == 4)
    // ids 11-20 live in exactly one file
    val n = db.updateMany("customer",
      org.apache.spark.sql.functions.col("id").between(11, 20),
      Map("age" -> org.apache.spark.sql.functions.lit(99)))
    assert(n == 10)
    val after = db.liveFiles("customer")
    val kept = before.toSet.intersect(after.toSet)
    assert(kept.size == 3,
      s"3 of 4 files must survive untouched (kept ${kept.size})")
    assert(after.toSet.diff(before.toSet).nonEmpty, "one file rewritten")
    // content is exact
    assert(db.count("customer") == 40)
    assert(db.table("customer")
      .filter(org.apache.spark.sql.functions.col("age") === 99).count() == 10)
    // a no-match update is a true no-op: no rewrite, no version bump
    val v = db.logVersion
    assert(db.updateMany("customer",
      org.apache.spark.sql.functions.col("id") === 9999,
      Map("age" -> org.apache.spark.sql.functions.lit(1))) == 0)
    assert(db.logVersion == v)
    assert(db.liveFiles("customer").toSet == after.toSet)
  }

  test("upsert and update are file-granular: replaced PKs rewrite their " +
      "file, all-new PKs append without touching any existing file") {
    val db = freshDb()
    (0 until 3).foreach { b =>
      db.insert("customer", (1 to 5).map(i => (b * 10 + i, s"n${b * 10 + i}",
        30)).toDF("id", "name", "age").coalesce(1))
    }
    val before = db.liveFiles("customer")
    assert(before.size == 3)
    // upsert replacing PKs of the middle batch only
    db.upsert("customer", Seq((11, "x11", 99), (12, "x12", 99))
      .toDF("id", "name", "age").coalesce(1))
    val afterUpsert = db.liveFiles("customer")
    assert(before.toSet.intersect(afterUpsert.toSet).size == 2,
      "2 of 3 files must survive a one-file upsert")
    assert(db.count("customer") == 15)
    // upsert of ALL-NEW PKs appends: every live file keeps its path
    db.upsert("customer", Seq((91, "new", 1)).toDF("id", "name", "age")
      .coalesce(1))
    val afterAppend = db.liveFiles("customer")
    assert(afterUpsert.toSet.subsetOf(afterAppend.toSet),
      "an all-new-PK upsert must not rewrite any existing file")
    assert(db.count("customer") == 16)
    // update (PK-matched replace) is granular too
    val preUpdate = db.liveFiles("customer")
    assert(db.update("customer",
      Seq((21, "u21", 50)).toDF("id", "name", "age").coalesce(1)) == 1)
    assert(preUpdate.toSet.intersect(db.liveFiles("customer").toSet).size ==
      preUpdate.size - 1, "update must rewrite exactly one file")
    assert(db.table("customer").filter(col("id") === 21)
      .select("age").as[Int].head() == 50)
  }

  test("concurrent updates to DISJOINT files of one table both commit " +
      "as relative patches; same-file updates conflict; tables with " +
      "unique constraints stay on absolute (conservative) commits") {
    val db = freshDb()
    db.insert("customer", (1 to 30).map(i => (i, s"n$i", 30))
      .toDF("id", "name", "age").coalesce(1))
    (0 until 3).foreach { b =>
      db.insert("orders", (1 to 5).map(i => (b * 10 + i, b * 10 + i, 1.0))
        .toDF("id", "customer_id", "amount").coalesce(1))
    }
    assert(db.liveFiles("orders").size == 3)
    val v0 = db.logVersion

    def upd(lo: Int, hi: Int): Unit =
      db.updateMany("orders", col("id").between(lo, hi),
        Map("amount" -> org.apache.spark.sql.functions.lit(9.0)))
    // disjoint id ranges live in different files: both must land
    val barrier = new CyclicBarrier(2)
    @volatile var failures = 0
    val threads = Seq((1, 5), (11, 15)).map { case (lo, hi) =>
      new Thread(() => {
        barrier.await()
        try upd(lo, hi)
        catch { case _: Throwable => synchronized { failures += 1 } }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures == 0, "disjoint-file updates must BOTH commit")
    assert(db.logVersion == v0 + 2)
    assert(db.table("orders").filter(col("amount") === 9.0).count() == 10)
    // the log records them as relative patches
    assert(db.history.filter(col("action") === "PATCH").count() >= 2)

    // SAME-file overlap, pinned deterministically at the log level (a
    // thread race can legally serialize and never conflict): two
    // patches built against one base removing the SAME file — the
    // second must conflict; a patch removing a DIFFERENT file commutes
    val (log2, _) = freshLog()
    log2.commit(Seq(TxLog.Add("t", log2.stage("t", Seq(1).toDF("n")))))
    log2.commit(Seq(TxLog.Add("t", log2.stage("t", Seq(2).toDF("n")))))
    val base2 = log2.version
    val Vector(fA, fB) = log2.snapshot().tables("t")
    log2.commit(Seq(TxLog.Patch("t", Seq(fA),
      log2.stage("t", Seq(11).toDF("n")))), readVersion = base2)
    intercept[graft.catalog.TxLog.ConflictException] {
      log2.commit(Seq(TxLog.Patch("t", Seq(fA),
        log2.stage("t", Seq(12).toDF("n")))), readVersion = base2)
    }
    log2.commit(Seq(TxLog.Patch("t", Seq(fB),
      log2.stage("t", Seq(22).toDF("n")))), readVersion = base2)
    assert(log2.read("t").get.select("n").as[Int].collect().toSet ==
      Set(11, 22))

    // customer carries unique(name): its granular update stays an
    // absolute PUT, which conflicts with ANY interleaved write
    db.insert("customer", Seq((99, "z99", 1)).toDF("id", "name", "age"))
    db.updateMany("customer", col("id") === 99,
      Map("age" -> org.apache.spark.sql.functions.lit(2)))
    // data actions only: the commit also carries derived STA stats rows
    val lastActs = db.history
      .filter(col("action").isin("PUT", "PATCH", "ADD"))
      .orderBy(col("version").desc)
      .select("action").as[String].head()
    assert(lastActs == "PUT",
      s"unique-constrained table must commit absolute, got $lastActs")
  }

  test("SQL UPDATE/DELETE/INSERT persist file-granular through the " +
      "facade: untouched files keep their paths, inserts append") {
    val db = freshDb()
    // LONG-typed columns: SQL INSERT documents arrive via JSON inference
    // (bigint), and matching types lets the append path engage rather
    // than the schema-drift fallback
    (0 until 3).foreach { b =>
      db.insert("customer", (1 to 5).map(i => ((b * 10 + i).toLong,
        s"n${b * 10 + i}", 30L)).toDF("id", "name", "age").coalesce(1))
    }
    val before = db.liveFiles("customer")
    assert(before.size == 3)
    // UPDATE hitting only the middle batch's file
    assert(db.sql("UPDATE customer SET $.age = 77 WHERE $.id = 12")
      .head().getLong(0) == 1)
    val afterUpdate = db.liveFiles("customer")
    assert(before.toSet.intersect(afterUpdate.toSet).size == 2,
      "SQL UPDATE must rewrite only the file holding the matched row")
    // DELETE from one file
    assert(db.sql("DELETE customer WHERE $.id = 21").head().getLong(0) == 1)
    val afterDelete = db.liveFiles("customer")
    assert(afterUpdate.toSet.intersect(afterDelete.toSet).size ==
      afterUpdate.size - 1,
      "SQL DELETE must rewrite only the file holding the deleted row")
    // INSERT appends without touching any existing file
    db.sql("""INSERT INTO customer VALUES {"id": 95, "name": "new", "age": 1}""")
    assert(afterDelete.toSet.subsetOf(db.liveFiles("customer").toSet),
      "SQL INSERT must append, not rewrite")
    assert(db.count("customer") == 15)
    // 0-match statements are true no-ops: no commit, no file churn
    val v = db.logVersion
    assert(db.sql("UPDATE customer SET $.age = 1 WHERE $.id = 888")
      .head().getLong(0) == 0)
    assert(db.sql("DELETE customer WHERE $.id = 888").head().getLong(0) == 0)
    assert(db.logVersion == v, "0-hit SQL DML must not commit versions")
    // content sanity after the mixed chain
    assert(db.table("customer").filter(col("id") === 12)
      .select("age").as[Long].head() == 77L)
    assert(db.table("customer").filter(col("id") === 21).count() == 0)
  }

  test("cascade delete is file-granular in EVERY affected table: files " +
      "without touched rows keep their paths across the one atomic commit") {
    val db = freshDb()
    (0 until 3).foreach { b =>
      db.insert("customer", (1 to 5).map(i => (b * 10 + i, s"n${b * 10 + i}",
        30)).toDF("id", "name", "age").coalesce(1))
      db.insert("orders", (1 to 5).map(i => (b * 100 + i, b * 10 + i))
        .toDF("id", "customer_id").coalesce(1))
    }
    val custBefore = db.liveFiles("customer")
    val ordBefore = db.liveFiles("orders")
    assert(custBefore.size == 3 && ordBefore.size == 3)
    val v0 = db.logVersion
    // batch-1 customers (ids 11-15) live in one customer file; their
    // orders (ids 101-105, referencing customers 11-15) in one orders file
    db.delete("customer", col("id").between(11, 15))
    assert(db.logVersion == v0 + 1) // still ONE atomic commit
    assert(db.count("customer") == 10 && db.count("orders") == 10)
    assert(custBefore.toSet.intersect(db.liveFiles("customer").toSet).size == 2,
      "2 of 3 customer files must survive untouched")
    assert(ordBefore.toSet.intersect(db.liveFiles("orders").toSet).size == 2,
      "2 of 3 orders files must survive untouched")
    // the rewritten state is empty for the doomed batch, so the staged
    // replacement may be an empty file set — content must still be exact
    assert(db.table("orders").select("customer_id").as[Int]
      .collect().forall(c => c < 11 || c > 15))
    // no-match delete: true no-op
    val v1 = db.logVersion
    db.delete("customer", col("id") === 9999)
    assert(db.logVersion == v1)
    // a cascade whose doomed parents have NO children must not touch
    // the child table at all — no orders file churn, no orders action
    db.insert("customer", Seq((91, "lone", 30)).toDF("id", "name", "age"))
    val ordBefore2 = db.liveFiles("orders").toSet
    val v2 = db.logVersion
    db.delete("customer", col("id") === 91)
    assert(db.logVersion == v2 + 1)
    assert(db.liveFiles("orders").toSet == ordBefore2,
      "childless cascade must leave the child table's files untouched")
  }

  test("facade: checkpoint compacts multi-file tables and vacuums " +
      "retired versions") {
    val db = freshDb()
    (1 to 4).foreach { i =>
      db.insert("customer", Seq((i, s"n$i", 20 + i)).toDF("id", "name", "age"))
    }
    assert(db.liveFiles("customer").size == 4)
    db.setPragma("CHECKPOINT", 1)
    assert(db.checkpoint() == Seq("customer"))
    assert(db.liveFiles("customer").size == 1)
    assert(db.count("customer") == 4) // content survives compaction
    assert(db.checkpoint().isEmpty)   // nothing left to compact
  }

  // ---- commit primitive seam (object-store portability + the
  // ---- no-hardlink publish window) --------------------------------------

  /** Object-store stand-in: ONLY a conditional put — no hard links, no
    * atomic rename-without-replace (S3 `If-None-Match: *` semantics).
    * Claims are arbitrated in-process (the store's server-side CAS);
    * the object materializes atomically on success.
    */
  private final class PutIfAbsentPrimitive extends graft.catalog.CommitPrimitive {
    private val slots = java.util.concurrent.ConcurrentHashMap
      .newKeySet[String]()
    override def putIfAbsent(target: java.nio.file.Path,
        content: Array[Byte]): Unit = {
      if (Files.exists(target) || !slots.add(target.toString))
        throw new java.nio.file.FileAlreadyExistsException(target.toString)
      val tmp = Files.createTempFile(target.getParent, ".obj", ".tmp")
      Files.write(tmp, content)
      Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def raceSuite(mk: String => TxLog): Unit = {
    val root = Files.createTempDirectory("graft-prim").toString
    val log = mk(root)
    log.commit(Seq(TxLog.Put("t", log.stage("t", Seq((1, 0)).toDF("id", "x")))))
    val base = log.version
    // same-table race: exactly one versioned writer wins
    val fa = log.stage("t", Seq((1, 1)).toDF("id", "x"))
    val fb = log.stage("t", Seq((1, 2)).toDF("id", "x"))
    val barrier = new CyclicBarrier(2)
    @volatile var wins = 0
    @volatile var conflicts = 0
    val threads = Seq(fa, fb).map { f =>
      new Thread(() => {
        barrier.await()
        try { log.commit(Seq(TxLog.Put("t", f)), readVersion = base)
          synchronized { wins += 1 } }
        catch { case _: TxLog.ConflictException =>
          synchronized { conflicts += 1 } }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins == 1 && conflicts == 1, s"wins=$wins conflicts=$conflicts")
    assert(log.read("t").get.count() == 1)
    // stale writer conflicts after the fact too
    intercept[TxLog.ConflictException] {
      log.commit(Seq(TxLog.Put("t",
        log.stage("t", Seq((1, 9)).toDF("id", "x")))), readVersion = base)
    }
    // blind commits on different tables both land through a lost race
    val ga = log.stage("a", Seq(1).toDF("x"))
    val gb = log.stage("b", Seq(1).toDF("x"))
    val barrier2 = new CyclicBarrier(2)
    val t2 = Seq(("a", ga), ("b", gb)).map { case (t, f) =>
      new Thread(() => { barrier2.await()
        log.commit(Seq(TxLog.Put(t, f))) })
    }
    t2.foreach(_.start()); t2.foreach(_.join())
    assert(log.read("a").isDefined && log.read("b").isDefined)
    // no version file is ever empty, and no claim lock is left behind
    val s = Files.list(Paths.get(root, "_txlog"))
    val leftovers = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".lock") || n.endsWith(".tmp")).toSeq
    finally s.close()
    assert(leftovers.isEmpty, s"leftover publish artifacts: $leftovers")
    (1L to log.version).foreach { v =>
      val f = Paths.get(root, "_txlog", f"v$v%08d.txt")
      assert(Files.size(f) > 0, s"empty committed version file v$v")
    }
  }

  test("no-hardlink fallback (sidecar-lock publish): the full race suite " +
      "passes and no empty version file is ever observable") {
    raceSuite(r => new TxLog(spark, r,
      primitive = new graft.catalog.PosixCommitPrimitive(forceNoLinks = true)))
  }

  test("object-store primitive (put-if-absent only, no links, no atomic " +
      "rename) passes the full race suite") {
    raceSuite(r => new TxLog(spark, r, primitive = new PutIfAbsentPrimitive))
  }

  test("a zero-byte head version file (frozen legacy claim→move window) " +
      "is in-flight: readers resolve below it and never cache it") {
    val (log, root) = freshLog()
    log.commit(Seq(TxLog.Put("t", log.stage("t", Seq((1, "a")).toDF("id", "v")))))
    assert(log.read("t").get.count() == 1)

    // freeze the window: an empty v2 appears (a non-conforming
    // publisher claimed the slot but its content has not landed)
    val v2 = Paths.get(root, "_txlog", "v00000002.txt")
    Files.createFile(v2)
    // readers answer at v1 — repeatedly, without caching the empty head
    (1 to 3).foreach { _ =>
      assert(log.snapshot().tables("t").nonEmpty)
      assert(log.read("t").get.count() == 1)
    }
    // the content lands (end of the frozen window): the VERY NEXT read
    // sees commit 2's actions — a cached empty head would serve the
    // stale v1 state for v2's whole lifetime
    val f2 = log.stage("t", Seq((2, "b"), (3, "c")).toDF("id", "v"))
    Files.write(v2, s"PUT\tt\t${f2.mkString(",")}".getBytes("UTF-8"))
    assert(log.read("t").get.count() == 2)
    assert(log.version == 2)

    // and a versioned writer cannot silently validate "through" a still
    // -empty slot: it fails safe instead of missing the hidden commit
    val v3 = Paths.get(root, "_txlog", "v00000003.txt")
    Files.createFile(v3)
    val f4 = log.stage("t", Seq((9, "z")).toDF("id", "v"))
    intercept[TxLog.ConflictException] {
      // readVersion = 2: the only commit to validate is the EMPTY v3
      log.commit(Seq(TxLog.Put("t", f4)), readVersion = 2)
    }
  }

  test("fallback publish: a stale claim lock from a crashed committer is " +
      "fenced and taken over") {
    val root = Files.createTempDirectory("graft-stale").toString
    val log = new TxLog(spark, root,
      primitive = new graft.catalog.PosixCommitPrimitive(forceNoLinks = true))
    log.commit(Seq(TxLog.Put("t", log.stage("t", Seq(1).toDF("x")))))
    // a claimant crashed after claiming v2: lock exists, no version file
    val lock = Paths.get(root, "_txlog", "v00000002.txt.lock")
    Files.write(lock, "dead-claimant-token".getBytes("UTF-8"))
    Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() -
        graft.catalog.CommitPrimitive.StaleLockMs - 5000))
    // a new committer takes the slot over instead of livelocking
    val v = log.commit(Seq(TxLog.Put("t", log.stage("t", Seq(2).toDF("x")))))
    assert(v == 2)
    assert(log.read("t").get.count() == 1)
    // ...while a FRESH lock (live, slow claimant) makes the committer
    // back off — not steal the claim — until the claimant's commit
    // lands, after which the blind committer takes the NEXT slot
    val fresh = Paths.get(root, "_txlog", "v00000003.txt.lock")
    Files.write(fresh, "live-claimant-token".getBytes("UTF-8"))
    val lander = new Thread(() => {
      Thread.sleep(300)
      // the slow claimant finishes: content lands atomically, lock goes
      Files.write(Paths.get(root, "_txlog", "v00000003.txt"),
        "DEL\tnothing".getBytes("UTF-8"))
      Files.deleteIfExists(fresh)
    })
    lander.start()
    val v2 = log.commit(Seq(TxLog.Put("u", log.stage("u", Seq(1).toDF("x")))))
    lander.join()
    assert(v2 == 4, s"blind committer must land AFTER the live claim (got $v2)")
    assert(log.read("u").isDefined)
  }

  test("version files wider than 8 digits stay discoverable (no silent " +
      "version reset past 99,999,999 commits)") {
    val (log, root) = freshLog()
    log.commit(Seq(TxLog.Put("t", log.stage("t", Seq((1, "a")).toDF("id", "v")))))
    // simulate a log deep into its life: a 9-digit version
    val wide = Paths.get(root, "_txlog", "v100000000.txt")
    Files.copy(Paths.get(root, "_txlog", "v00000001.txt"), wide)
    val fresh = new TxLog(spark, root)
    assert(fresh.version == 100000000L,
      "9-digit version files must be discovered")
    assert(fresh.read("t").get.count() == 1)
  }

  test("commit validates against the head it publishes over: an " +
      "interleaved commit landing just before publish is conflict-checked") {
    val root = Files.createTempDirectory("graft-toctou").toString
    val setup = new TxLog(spark, root)
    setup.commit(Seq(TxLog.Put("t",
      setup.stage("t", Seq((1, 10)).toDF("id", "x")))))
    val base = setup.version
    // interloper fires through the victim's publish hook: its commit
    // lands AFTER the victim's conflict validation, BEFORE its publish
    // — the exact window a second `version` listing used to leave
    // unvalidated
    @volatile var fired = false
    val hooked = new graft.catalog.CommitPrimitive {
      override def putIfAbsent(target: java.nio.file.Path,
          content: Array[Byte]): Unit = {
        if (!fired) {
          fired = true
          val other = new TxLog(spark, root)
          other.commit(Seq(TxLog.Put("t",
            other.stage("t", Seq((1, 77)).toDF("id", "x")))))
        }
        graft.catalog.CommitPrimitive.posix.putIfAbsent(target, content)
      }
    }
    val victim = new TxLog(spark, root, primitive = hooked)
    val f = victim.stage("t", Seq((1, 99)).toDF("id", "x"))
    intercept[TxLog.ConflictException] {
      victim.commit(Seq(TxLog.Put("t", f)), readVersion = base)
    }
    // the interleaved update survived — not silently overwritten
    assert(new TxLog(spark, root).read("t").get
      .select("x").as[Int].head() == 77)
  }

  test("the whole facade stack runs on an object-store primitive " +
      "(put-if-absent only): DML, SQL transactions, cascade, rebuild") {
    val base = Files.createTempDirectory("graft-cloud").toString
    val prim = new PutIfAbsentPrimitive
    def open() = GraftDatabase(spark, "clouddb", base,
      graft.core.Collation.Binary, None, prim)
      .defineTable(TableDef("customer", "id"))
      .defineTable(TableDef("orders", "id",
        fks = Seq(Fk("customer_id", "customer", "id", Cascade))))
    val db = open()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    db.insert("orders", Seq((10, 1, 5.0), (11, 2, 7.0))
      .toDF("id", "customer_id", "total"))
    db.updateMany("customer", col("id") === 1,
      Map("age" -> org.apache.spark.sql.functions.lit(31)))
    // SQL transaction commits atomically through the same primitive
    db.sql("BEGIN")
    db.sql("""INSERT INTO customer VALUES {"id": 3, "name": "cal", "age": 20}""")
    db.sql("UPDATE customer SET $.age = $.age + 1 WHERE $.id = 3")
    assert(db.sql("COMMIT").head().getBoolean(0))
    assert(db.count("customer") == 3)
    // executed cascade: one atomic version across both tables
    db.delete("customer", col("id") === 1)
    assert(db.count("customer") == 2 && db.count("orders") == 1)
    // rebuild compacts + vacuums through the primitive too
    val db2 = db.rebuild()
    assert(db2.count("customer") == 2 && db2.count("orders") == 1)
    assert(db2.findById("customer", 3).get.getAs[Long]("age") == 21)
    // a fresh facade over the same store replays the log it published
    val replay = GraftDatabase(spark, "clouddb", base,
      graft.core.Collation.Binary, None, prim)
    assert(replay.table("customer").count() == 2)
  }

  test("parsed-action cache: the admission walk and the snapshot replay " +
      "share ONE raw read per version file; size 0 disables") {
    val (log, root) = freshLog()
    log.commit(Seq(TxLog.Put("t", Nil))) // v1: bind the (empty) table
    val files = log.stage("t",
      spark.range(5).selectExpr("CAST(id AS INT) AS id", "1 AS x")
        .repartitionByRange(5, col("id")))
    assert(files.size == 5)
    files.foreach(f => log.commit(Seq(TxLog.Patch("t", Nil, Seq(f))))) // v2..v6
    // a COLD instance (fresh cache) models the change-feed stream's own
    // TxLog: the admission walk parses each version once...
    val cold = new TxLog(spark, root)
    val r0 = TxLog.versionFileReads.get()
    assert(cold.advanceByBudgets(1L, 6L, Some(Long.MaxValue), None) == 6L)
    val r1 = TxLog.versionFileReads.get()
    assert(r1 - r0 == 5, s"admission walk should read 5 version files " +
      s"once each, read ${r1 - r0}")
    // ...and the snapshot replay behind changes() re-uses those parses
    // (one raw read remains: v1, which the walk from v1 never touched)
    assert(cold.snapshotAt(6L).tables("t").size == 5)
    val r2 = TxLog.versionFileReads.get()
    assert(r2 - r1 == 1,
      s"the replay must hit the action cache for v2..v6, re-read ${r2 - r1}")
    // knob: actionCacheSize=0 disables — both passes pay raw reads
    spark.conf.set("spark.graft.txlog.actionCacheSize", "0")
    try {
      val uncached = new TxLog(spark, root)
      val u0 = TxLog.versionFileReads.get()
      uncached.advanceByBudgets(1L, 6L, Some(Long.MaxValue), None)
      uncached.snapshotAt(6L)
      val u1 = TxLog.versionFileReads.get()
      assert(u1 - u0 == 11, s"with the cache off both passes pay raw " +
        s"reads (5 + 6), got ${u1 - u0}")
    } finally spark.conf.unset("spark.graft.txlog.actionCacheSize")
    // an in-flight (zero-byte) slot is NEVER cached: once its content
    // lands, the next parse sees it
    val slot = Paths.get(root, "_txlog", f"v${7L}%08d.txt")
    Files.createFile(slot)
    assert(cold.advanceByBudgets(6L, 7L, Some(Long.MaxValue), None) == 7L)
    Files.write(slot, "ADD\tt\t\n".getBytes("UTF-8"))
    assert(cold.snapshotAt(7L).tables("t").size == 5,
      "the landed content must be visible despite the earlier empty parse")
  }

  test("direct-API commitTrans that conflicts still invalidates the SQL " +
      "engine: later reads must not see the rolled-back states") {
    val base = Files.createTempDirectory("graft-txinval").toString
    val db1 = GraftDatabase(spark, "invaldb", base)
      .defineTable(TableDef("customer", "id"))
    db1.insert("customer", Seq((1, "ann", 30)).toDF("id", "name", "age"))

    assert(db1.beginTrans())
    db1.sql("""INSERT INTO customer VALUES {"id": 3, "name": "cal", "age": 20}""")
    db1.sql("UPDATE customer SET $.age = 99 WHERE $.id = 1")

    // an external commit invalidates the transaction's read version
    val db2 = GraftDatabase(spark, "invaldb", base)
      .defineTable(TableDef("customer", "id"))
    db2.insert("customer", Seq((2, "bob", 40)).toDF("id", "name", "age"))

    intercept[graft.catalog.TxLog.ConflictException](db1.commitTrans())
    assert(!db1.inTransaction)
    // the memoized engine must NOT keep serving the rolled-back views:
    // cal's insert and ann's update are gone; bob is visible
    assert(db1.sql("SELECT COUNT(*) FROM customer").head().getLong(0) == 2)
    assert(db1.sql("SELECT $.age FROM customer WHERE $.id = 1")
      .head().getAs[Number](0).longValue == 30L)
    assert(db1.table("customer").count() == 2)
  }
}
