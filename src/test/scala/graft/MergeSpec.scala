package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.catalog.{GraftDatabase, TxLog}
import graft.dml.ConstrainedDml.TableDef
import graft.query.LiteSql

/** SQL `MERGE INTO` — the set-semantics generalization of the
  * reference's per-document Upsert (`Table/TableCollection.cs:1195-1240`
  * resolves each incoming doc to update-or-insert by PK) and the
  * lakehouse-parity sibling of OPTIMIZE/CLONE/RESTORE: ANSI clause
  * order, first-hit-wins, multi-match error, and ONE file-granular
  * commit when persisted through GraftDatabase.sql.
  */
class MergeSpec extends AnyFunSuite {
  import SparkSessionFixture._
  import spark.implicits._

  private def mem(): LiteSql = new LiteSql(spark,
    Map(
      "t" -> Seq((1, 10L, "a"), (2, 20L, "b"), (3, 30L, "c"))
        .toDF("id", "v", "name"),
      "s" -> Seq((2, 200L), (3, 300L), (4, 400L)).toDF("id", "nv")),
    Map.empty)

  test("matched UPDATE + not-matched INSERT (the upsert shape)") {
    val e = mem()
    val n = e.execute(
      "MERGE INTO t USING s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)")
      .head.getLong(0)
    assert(n == 3) // 2 updates + 1 insert
    val out = e.table("t").orderBy("id").collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 10L), (2, 200L), (3, 300L), (4, 400L)))
    // row 1 (unmatched target) keeps every column; insert null-fills name
    assert(out(0).getString(2) == "a" && out(3).isNullAt(2))
  }

  test("clause order is first-hit-wins; AND conditions route rows") {
    val e = mem()
    val n = e.execute(
      "MERGE INTO t USING s ON t.id = s.id " +
        "WHEN MATCHED AND s.nv >= 300 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv " +
        "WHEN NOT MATCHED AND s.nv > 350 THEN INSERT (id, v) VALUES (s.id, s.nv)")
      .head.getLong(0)
    assert(n == 3) // delete id=3, update id=2, insert id=4
    val out = e.table("t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(out == Seq((1, 10L), (2, 200L), (4, 400L)))
  }

  test("INSERT * maps same-named source columns; matched rows with no " +
      "firing clause pass through") {
    val e = new LiteSql(spark,
      Map(
        "t" -> Seq((1, 10L), (2, 20L)).toDF("id", "v"),
        "s" -> Seq((2, 999L), (5, 50L)).toDF("id", "v")),
      Map.empty)
    val n = e.execute(
      "MERGE INTO t USING s ON t.id = s.id " +
        "WHEN MATCHED AND s.v < 0 THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT *").head.getLong(0)
    assert(n == 1) // only the insert fires; id=2 matches but cond fails
    assert(e.table("t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 10L), (2, 20L), (5, 50L)))
  }

  test("INSERT * auto-merges a WIDER source: the new column lands with " +
      "one SCH action in the same file-granular commit, old files " +
      "null-fill, untouched files survive") {
    val base = Files.createTempDirectory("graft-automerge").toString
    val db = GraftDatabase(spark, "automerge", base)
      .defineTable(TableDef("t", "id")).defineTable(TableDef("s", "id"))
    db.insert("t", Seq((1, 10L), (2, 20L)).toDF("id", "v").repartition(1))
    db.insert("t", Seq((3, 30L)).toDF("id", "v").repartition(1))
    // the source carries an EXTRA column the target has never seen
    db.insert("s", Seq((2, 222L, "x"), (9, 90L, "y")).toDF("id", "v", "tag"))
    val files0 = db.liveFiles("t").toSet
    val v0 = db.logVersion
    db.sql("MERGE INTO t USING s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(db.logVersion == v0 + 1, "autoMerge must stay ONE commit")
    // the widened schema: inserted row carries it, every pre-existing
    // row (including the matched-updated one) null-fills
    assert(db.table("t").schema.fieldNames.contains("tag"))
    assert(db.table("t").filter(col("id") === 9)
      .select("tag").as[String].head() == "y")
    assert(db.table("t").filter(col("tag").isNull).count() == 3)
    assert(db.table("t").filter(col("id") === 2)
      .select("v").as[Long].head() == 222L)
    // file-granularity: the file holding only the untouched id=3 must
    // survive the merge unrewritten
    val survivors = db.liveFiles("t").toSet
    assert(files0.exists(f => survivors.contains(f) &&
      spark.read.parquet(f).select("id").as[Int].collect().toSet == Set(3)),
      "the untouched file must not rewrite under a schema-widening merge")
  }

  test("MERGE into an unknown collection creates it (all NOT MATCHED)") {
    val e = new LiteSql(spark,
      Map("s" -> Seq((1, 11L), (2, 22L)).toDF("id", "v")), Map.empty)
    val n = e.execute("MERGE INTO fresh USING s ON fresh.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT *").head.getLong(0)
    assert(n == 2 && e.table("fresh").count() == 2)
  }

  test("parenthesized CASE WHEN inside a clause condition does not " +
      "break the clause scan") {
    val e = mem()
    val n = e.execute(
      "MERGE INTO t USING s ON t.id = s.id " +
        "WHEN MATCHED AND (CASE WHEN s.nv > 250 THEN true ELSE false END) " +
        "THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv").head.getLong(0)
    assert(n == 2) // id=3 deleted, id=2 updated
    assert(e.table("t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 10L), (2, 200L)))
  }

  // ---- persisted through GraftDatabase.sql --------------------------------

  private def freshDb() = GraftDatabase(spark, "mergedb",
    Files.createTempDirectory("graft_merge").toString)

  test("persisted MERGE is ONE commit and file-granular: untouched " +
      "clustered files keep their physical identity") {
    val db = freshDb().defineTable(TableDef("t", "id"))
    db.insert("t", (1 to 800).map(i => (i, i * 10L)).toDF("id", "v")
      .repartitionByRange(8, col("id")))
    val before = db.liveFiles("t")
    val v0 = db.logVersion
    // source hits only ids 1..50 (the low file(s)) + brand-new ids
    db.sql("SELECT id, id * 1000 AS nv INTO src FROM t WHERE id <= 50")
    db.sql("INSERT INTO src VALUES {\"id\": 9001, \"nv\": 1}, " +
      "{\"id\": 9002, \"nv\": 2}")
    val vSetup = db.logVersion
    val n = db.sql("MERGE INTO t USING src ON t.id = src.id " +
      "WHEN MATCHED THEN UPDATE SET v = src.nv " +
      "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (src.id, src.nv)")
      .head.getLong(0)
    assert(n == 52)
    assert(db.logVersion == vSetup + 1, "MERGE must be exactly ONE commit")
    val after = db.liveFiles("t")
    val untouched = before.toSet.intersect(after.toSet)
    assert(untouched.size >= 6,
      s"merge touching 1-2 of 8 clustered files must keep the rest " +
        s"physically identical: kept ${untouched.size} of ${before.size}")
    assert(db.table("t").filter(col("id") === 25).select("v")
      .as[Long].head() == 25000L)
    assert(db.table("t").filter(col("id") === 500).select("v")
      .as[Long].head() == 5000L)
    assert(db.table("t").count() == 802)
    assert(v0 > 0)
  }

  test("ANSI multi-match: a target row matching two source rows errors " +
      "when the PK is declared") {
    val db = freshDb().defineTable(TableDef("t", "id"))
    db.insert("t", Seq((1, 10L)).toDF("id", "v"))
    // source rows have distinct PKs but BOTH join to target id=1
    db.insert("dup", Seq((1, 1, 100L), (2, 1, 200L)).toDF("id", "tid", "nv"))
    val e = intercept[Exception](
      db.sql("MERGE INTO t USING dup ON t.id = dup.tid " +
        "WHEN MATCHED THEN UPDATE SET v = dup.nv"))
    assert(e.getMessage.contains("matched multiple source rows"))
  }

  test("MERGE cannot rewrite the PK; constraints validate the outcome") {
    val db = freshDb().defineTable(TableDef("t", "id"))
    db.insert("t", Seq((1, 10L)).toDF("id", "v"))
    db.insert("s2", Seq((1, 99L)).toDF("id", "nv"))
    val e = intercept[Exception](
      db.sql("MERGE INTO t USING s2 ON t.id = s2.id " +
        "WHEN MATCHED THEN UPDATE SET id = s2.nv"))
    assert(e.getMessage.toLowerCase.contains("pk"))
  }

  test("update-only MERGE commits as a commuting patch: a concurrent " +
      "disjoint-file DML and the MERGE both land") {
    val db = freshDb().defineTable(TableDef("t", "id"))
    // 4 insert batches -> 4 files with disjoint id ranges
    (0 until 4).foreach(b => db.insert("t",
      ((b * 100 + 1) to (b * 100 + 100)).map(i => (i, i * 10L))
        .toDF("id", "v").repartition(1)))
    db.insert("src", Seq((5, 5555L)).toDF("id", "nv")) // lives in file 0
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    @volatile var failure: Throwable = null
    @volatile var nMerge = -1L
    @volatile var nDml = -1L
    val tM = new Thread(() => {
      barrier.await()
      try nMerge = db.sql("MERGE INTO t USING src ON t.id = src.id " +
        "WHEN MATCHED THEN UPDATE SET v = src.nv").head.getLong(0)
      catch { case e: Throwable => failure = e }
    })
    val tD = new Thread(() => {
      barrier.await()
      try nDml = db.updateMany("t", col("id") === 305,
        Map("v" -> lit(7777L))) // file 3: disjoint from the merge's hit
      catch { case e: Throwable => failure = e }
    })
    tM.start(); tD.start(); tM.join(); tD.join()
    if (failure != null) throw failure
    assert(nMerge == 1L && nDml == 1L,
      "disjoint-file MERGE and DML must BOTH commit (commuting patches)")
    assert(db.table("t").filter(col("id") === 5).select("v")
      .as[Long].head() == 5555L)
    assert(db.table("t").filter(col("id") === 305).select("v")
      .as[Long].head() == 7777L)
    assert(db.table("t").count() == 400)
  }

  test("NOT MATCHED BY SOURCE: all three clause families in one " +
      "statement make the full-sync mirror") {
    val e = mem()
    // t: 1,2,3 — s: 2,3,4. Mirror = exactly the source's keys.
    val n = e.execute(
      "MERGE INTO t USING s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv " +
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv) " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
      .head.getLong(0)
    assert(n == 4) // 2 updates + 1 insert + 1 by-source delete
    val out = e.table("t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(out == Seq((2, 200L), (3, 300L), (4, 400L)),
      "target must mirror the source exactly")
  }

  test("NOT MATCHED BY SOURCE UPDATE: first-hit-wins within the " +
      "by-source family; conditions see target columns") {
    val e = mem()
    val n = e.execute(
      "MERGE INTO t USING s ON t.id = s.id " +
        "WHEN NOT MATCHED BY SOURCE AND t.v >= 10 THEN UPDATE SET v = 0 " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
      .head.getLong(0)
    // only id=1 is unmatched; v=10 fires the FIRST clause (update)
    assert(n == 1)
    val out = e.table("t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(out == Seq((1, 0L), (2, 20L), (3, 30L)),
      "matched rows with no matched-clause pass through unchanged")
  }

  test("NOT MATCHED BY TARGET is a synonym of NOT MATCHED") {
    val e = mem()
    val n = e.execute(
      "MERGE INTO t USING s ON t.id = s.id " +
        "WHEN NOT MATCHED BY TARGET THEN INSERT (id, v) VALUES (s.id, s.nv)")
      .head.getLong(0)
    assert(n == 1 && e.table("t").count() == 4)
  }

  test("persisted by-source MERGE: one commit, insert-free stays a " +
      "commuting patch") {
    val db = freshDb().defineTable(TableDef("t", "id"))
    db.insert("t", (1 to 400).map(i => (i, i * 10L)).toDF("id", "v")
      .repartitionByRange(4, col("id")))
    db.insert("src4", (1 to 300).map(i => (i, i * 1L)).toDF("id", "nv"))
    val v0 = db.logVersion
    val pats0 = db.history.filter(col("action") === "PATCH").count()
    // update matched + delete by-source: no inserts → patch-eligible
    db.sql("MERGE INTO t USING src4 ON t.id = src4.id " +
      "WHEN MATCHED AND t.id <= 5 THEN UPDATE SET v = src4.nv " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(db.logVersion == v0 + 1, "by-source MERGE is ONE commit")
    assert(db.history.filter(col("action") === "PATCH").count() > pats0,
      "an insert-free by-source MERGE must commit as a commuting patch")
    assert(db.table("t").count() == 300)
    assert(db.table("t").filter(col("id") === 3).head.getLong(1) == 3L)
    assert(db.table("t").filter(col("id") === 10).head.getLong(1) == 100L)
  }

  test("MERGE with an INSERT clause never patches (new PKs need the " +
      "absolute conflict check)") {
    val db = freshDb().defineTable(TableDef("t", "id"))
    db.insert("t", Seq((1, 10L)).toDF("id", "v"))
    db.insert("s3", Seq((7, 70L)).toDF("id", "nv"))
    val hist0 = db.history.filter(col("action") === "PATCH").count()
    db.sql("MERGE INTO t USING s3 ON t.id = s3.id " +
      "WHEN MATCHED THEN UPDATE SET v = s3.nv " +
      "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s3.id, s3.nv)")
    val hist1 = db.history.filter(col("action") === "PATCH").count()
    assert(hist0 == hist1,
      "an insert-bearing MERGE must commit absolute, not as a patch")
    assert(db.table("t").count() == 2)
  }

  // ---- mergeBatch's trusted-distinct fast path (round-13 optimization) ----

  test("mergeBatch WITHOUT replacementsDistinctByPk still rejects " +
      "duplicate-PK replacements (the validation it exists to skip)") {
    val db = freshDb().defineTable(TableDef("t", "id"))
    db.insert("t", Seq((1, 10L)).toDF("id", "v"))
    val dup = Seq((7, 70L), (7, 71L)).toDF("id", "v")
    val e = intercept[IllegalStateException](
      db.mergeBatch("t", dup, spark.emptyDataFrame
        .selectExpr("CAST(1 AS INT) AS id").limit(0), "mb-app", 0L))
    assert(e.getMessage.contains("pk_conflict"))
  }

  test("replacementsDistinctByPk NEVER skips validation on a table " +
      "with unique columns — the proof only covers the PK") {
    val db = freshDb().defineTable(
      TableDef("u", "id", uniqueCols = Seq("email")))
    db.insert("u", Seq((1, "a@x"), (2, "b@x")).toDF("id", "email"))
    // distinct PKs (the flag's claim holds) but a unique-col collision
    // with an untouched row — must still be caught
    val bad = Seq((3, "a@x")).toDF("id", "email")
    val e = intercept[IllegalStateException](
      db.mergeBatch("u", bad,
        Seq.empty[Int].toDF("id"), "mb-app2", 0L,
        replacementsDistinctByPk = true))
    assert(e.getMessage.contains("unique_conflict"))
  }

  test("replacementsDistinctByPk merge lands the same state the " +
      "validated merge does (upsert + delete + ledger in one commit)") {
    val db = freshDb().defineTable(TableDef("t", "id"))
    db.insert("t", Seq((1, 10L), (2, 20L), (3, 30L)).toDF("id", "v"))
    val v0 = db.logVersion
    assert(db.mergeBatch("t", Seq((2, 200L), (4, 400L)).toDF("id", "v"),
      Seq(3).toDF("id"), "mb-app3", 0L, replacementsDistinctByPk = true))
    assert(db.logVersion == v0 + 1, "merge must be exactly ONE commit")
    assert(db.table("t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 10L), (2, 200L), (4, 400L)))
    // replay skipped via the ledger
    assert(!db.mergeBatch("t", Seq((9, 900L)).toDF("id", "v"),
      Seq.empty[Int].toDF("id"), "mb-app3", 0L,
      replacementsDistinctByPk = true))
    assert(db.table("t").count() == 3)
  }

  test("mergeBatch given hit files probed before another commit fails " +
      "with a conflict instead of keeping a duplicate PK") {
    val db = freshDb().defineTable(TableDef("v", "k"))
    db.insert("v", Seq((1, 10)).toDF("k", "x"))
    def probe(): GraftDatabase.KnownHits = {
      val (marked, version) = db.tableMarked("v", "_f")
      GraftDatabase.KnownHits(version, marked.filter(col("k").isin(1, 2))
        .select("_f").distinct().collect().map(_.getString(0)).toSeq)
    }
    def rows = db.table("v").orderBy("k", "x").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    def merge(hits: GraftDatabase.KnownHits) = db.mergeBatch("v",
      Seq((1, 11), (2, 21)).toDF("k", "x"), Seq.empty[Int].toDF("k"),
      "stale-hits", 1L, replacementsDistinctByPk = true,
      knownHitFiles = Some(hits))
    val stale = probe()
    // a new file now holds k = 2, which the probed hit files miss
    db.insert("v", Seq((2, 20)).toDF("k", "x"))
    val v = db.logVersion
    intercept[TxLog.ConflictException](merge(stale))
    assert(db.logVersion == v)
    assert(rows == Seq((1, 10), (2, 20)))
    // probed again at the head, the retry lands
    assert(merge(probe()))
    assert(rows == Seq((1, 11), (2, 21)))
  }
}
