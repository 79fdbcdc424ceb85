package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.catalog.GraftDatabase
import graft.dml.ConstrainedDml._

/** End-to-end facade test replaying the reference's README walkthrough
  * (Example.BasicDb: customers + orders with cascading FK; insert, query,
  * include, delete-cascade; TS write + range + resample).
  */
class GraftDatabaseSpec extends AnyFunSuite {
  import SparkSessionFixture._
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def freshDb(): GraftDatabase = {
    val base = Files.createTempDirectory("graft-db").toString
    GraftDatabase(spark, "demo", base)
      .defineTable(TableDef("customer", "id", uniqueCols = Seq("name")))
      .defineTable(TableDef("orders", "id",
        fks = Seq(Fk("customer_id", "customer", "id", Cascade))))
  }

  test("validateConstraints surfaces pre-state violations a LATE " +
      "defineTable attached over existing data; write-path checks stay " +
      "statement-proportional and assume a valid pre-state") {
    val base = Files.createTempDirectory("graft-latedef").toString
    val db = GraftDatabase(spark, "latedef", base)
      .defineTable(TableDef("t", "id"))   // no unique constraint yet
    db.insert("t", Seq((1, "a"), (2, "a"), (3, "b")).toDF("id", "v"))
    // attach the constraint AFTER the duplicate data exists
    db.defineTable(TableDef("t", "id", uniqueCols = Seq("v")))
    val v = db.validateConstraints("t")
    assert(v.exists(_.kind == "unique_conflict"),
      s"the explicit whole-set validation must flag the pre-existing " +
        s"duplicate, got $v")
    // a clean write into the (invalid) pre-state is the documented
    // non-goal of per-statement enforcement: it only probes what the
    // statement touches
    db.insert("t", Seq((4, "c")).toDF("id", "v"))
    // ...but colliding with EITHER existing copy still rejects
    intercept[IllegalStateException](
      db.insert("t", Seq((5, "a")).toDF("id", "v")))
    // undeclared / missing tables validate clean
    assert(db.validateConstraints("nope").isEmpty)
  }

  test("a PK or unique column named count takes inserts, updates and a " +
      "unique index, and its duplicates are still caught") {
    Seq(TableDef("c", "count") -> "pk_conflict",
      TableDef("c", "id", uniqueCols = Seq("count")) -> "unique_conflict")
      .foreach { case (tdef, conflict) =>
        val db = GraftDatabase(spark, "countcol",
          Files.createTempDirectory("graft-countcol").toString)
          .defineTable(tdef)
        db.insert("c", Seq((1, 10), (2, 20)).toDF("id", "count"))
        val e = intercept[IllegalStateException](
          db.insert("c", Seq((3, 10)).toDF("id", "count")))
        assert(e.getMessage.contains(conflict), e.getMessage)
        // same key, new non-key value: id when the PK is count, count
        // when the PK is id
        val changed = if (tdef.pk == "count") (9, 10) else (1, 11)
        assert(db.update("c", Seq(changed).toDF("id", "count")) == 1L)
        db.ensureIndex("c", "count", unique = true)
        assert(db.table("c").count() == 2)
      }
  }

  test("a legitimately-inserted null-PK row does not self-collide in " +
      "self-validation update paths (unique value counted once)") {
    val base = Files.createTempDirectory("graft-nullpk").toString
    val db = GraftDatabase(spark, "nullpk", base)
      .defineTable(TableDef("t", "id", uniqueCols = Seq("v")))
    db.insert("t", Seq((Some(1), "a")).toDF("id", "v"))
    db.insert("t",
      Seq((Option.empty[Int], "b")).toDF("id", "v")) // single null PK: legal
    // full-state self-validation (the RESTORE / rebuild / bootstrap
    // shape: incoming == result) must stay clean — the null-PK row's
    // 'b' is one value, not a self-collision
    assert(db.validateConstraints("t").isEmpty)
    // and a REAL collision against the null-PK row's value still rejects
    intercept[IllegalStateException](
      db.insert("t", Seq((Some(7), "b")).toDF("id", "v")))
    // an update touching another row must not phantom-flag 'b' either
    db.updateMany("t", col("id") === 1, Map("v" -> lit("a2")))
    assert(db.table("t").count() == 2)
    // AT MOST ONE null-PK row: a second one (which nothing could ever
    // address or replace by id) rejects even across batches — keeping
    // write enforcement and whole-set validation in exact agreement
    intercept[IllegalStateException](
      db.insert("t", Seq((Option.empty[Int], "z")).toDF("id", "v")))
    assert(db.validateConstraints("t").isEmpty)
  }

  test("validateConstraints treats a late-declared FK with an " +
      "unmaterialized parent as an EMPTY parent, not a crash") {
    val base = Files.createTempDirectory("graft-latefk").toString
    val db = GraftDatabase(spark, "latefk", base)
      .defineTable(TableDef("child", "id"))
    db.insert("child",
      Seq((1, Option.empty[Int]), (2, Option.empty[Int])).toDF("id", "pid"))
    db.defineTable(TableDef("child", "id",
      fks = Seq(Fk("pid", "parent", "id"))))
    // all-null child column: vacuously clean against the empty parent
    assert(db.validateConstraints("child").isEmpty)
    // a non-null orphan value against the never-materialized parent is
    // an fk_missing violation, reported, not thrown
    db.defineTable(TableDef("child", "id")) // detach to insert the orphan
    db.insert("child", Seq((3, Option(9))).toDF("id", "pid"))
    db.defineTable(TableDef("child", "id",
      fks = Seq(Fk("pid", "parent", "id"))))
    val v = db.validateConstraints("child")
    assert(v.exists(_.kind == "fk_missing"), s"got $v")
  }

  test("insert + typed query + include + cascade delete round-trip") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    db.insert("orders", Seq((10, 1, 250.0), (11, 1, 50.0), (12, 2, 99.0))
      .toDF("id", "customer_id", "amount"))

    // FK violation rejected
    intercept[IllegalStateException] {
      db.insert("orders", Seq((13, 9, 1.0)).toDF("id", "customer_id", "amount"))
    }
    // unique violation rejected
    intercept[IllegalStateException] {
      db.insert("customer", Seq((3, "ann", 50)).toDF("id", "name", "age"))
    }

    // fluent query: WHERE + INCLUDE + ORDER BY + LIMIT
    val got = db.query("customer")
      .where($"age" > 25)
      .include(db.table("orders"), "id", "customer_id", "orders_Data")
      .orderBy($"id")
      .limit(10)
      .toDf
    assert(got.count() == 2)
    val annOrders = got.filter($"name" === "ann")
      .select(size($"orders_Data")).as[Int].head()
    assert(annOrders == 2)

    // upsert changes one row, keeps count
    db.upsert("orders", Seq((11, 1, 500.0)).toDF("id", "customer_id", "amount"))
    assert(db.table("orders").filter($"id" === 11)
      .select("amount").as[Double].head() == 500.0)
    assert(db.table("orders").count() == 3)

    // cascade delete: ann and both her orders disappear
    db.delete("customer", col("id") === 1)
    assert(db.table("customer").select("id").as[Int].collect().toSet == Set(2))
    assert(db.table("orders").select("id").as[Int].collect().toSet == Set(12))
  }

  test("fluent terminals: exists/first/count/offset/into") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40), (3, "cal", 20))
      .toDF("id", "name", "age"))
    val q = db.query("customer").where($"age" >= 21).orderBy($"id")
    assert(q.count() == 2)
    assert(q.exists())
    assert(q.first().getAs[String]("name") == "ann")
    assert(!db.query("customer").where($"age" > 99).exists())
    assert(db.query("customer").where($"age" > 99).firstOption().isEmpty)
    val page = db.query("customer").orderBy($"id").offset(1).limit(1).toDf
    assert(page.select("name").as[String].collect().toSeq == Seq("bob"))
    val out = java.nio.file.Files.createTempDirectory("graft-into").toString
    q.into(s"$out/result")
    assert(spark.read.parquet(s"$out/result").count() == 2)
  }

  test("time-series store: append, range read, resample") {
    val db = freshDb()
    val points = Seq(
      ("p1", ts("2024-01-01 00:00:30"), 0.0),
      ("p1", ts("2024-01-01 00:02:30"), 120.0),
      ("p2", ts("2024-01-01 00:01:00"), 5.0)
    ).toDF("point_guid", "ts", "value")
    db.tsAppend(points)

    val range = db.tsRange("p1", ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"))
    assert(range.count() == 2)

    val grid = db.tsResample("p1", ts("2024-01-01 00:00:00"),
        ts("2024-01-01 01:00:00"), 60L)
      .orderBy("grid_ts")
      .select(col("grid_ts").cast("string"), col("value"))
      .as[(String, Double)].collect().toSeq
    assert(grid == Seq(
      ("2024-01-01 00:01:00", 30.0), ("2024-01-01 00:02:00", 90.0)))
  }

  test("include yields an empty array for parents with no children") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    db.insert("orders", Seq((10, 1, 250.0)).toDF("id", "customer_id", "amount"))
    val got = db.query("customer")
      .include(db.table("orders"), "id", "customer_id", "orders_Data")
      .toDf
    val sizes = got.select($"name", size($"orders_Data"))
      .as[(String, Int)].collect().toMap
    assert(sizes == Map("ann" -> 1, "bob" -> 0))
    // and the array column is non-null for the childless parent
    assert(got.filter($"orders_Data".isNull).count() == 0)
  }

  test("dynamic documents through the facade: insert, find, overflow") {
    val db = freshDb()
    val pinned = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType)))
    db.insertDocuments("notes", Seq(
      """{"id": 1, "name": "ann", "mood": "happy"}""",
      """{"id": 2, "name": "bob"}"""), pinned)
    db.insertDocuments("notes", Seq(
      """{"id": 3, "name": "cal", "mood": "grim"}"""), pinned)
    assert(db.table("notes").count() == 3)
    assert(db.findDocuments("notes", "name", "bob")
      .select("id").as[Long].collect().toSeq == Seq(2L))
    assert(db.findDocuments("notes", "mood", "grim")
      .select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("LiteDB SQL through the facade: $-paths, INCLUDE via declared FKs") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    db.insert("orders", Seq((10, 1, 250.0), (11, 1, 50.0), (12, 2, 99.0))
      .toDF("id", "customer_id", "amount"))
    val filtered = db.sql(
      "SELECT $.name FROM customer WHERE $.age > 35")
    assert(filtered.as[String].collect().toSeq == Seq("bob"))
    // INCLUDE resolves the declared customer->orders FK (flattening
    // left join: child columns become selectable)
    val included = db.sql(
      "SELECT $.name, $.amount FROM customer INCLUDE orders WHERE $.age < 35")
    assert(included.count() == 2) // ann's two orders
    assert(included.select(sum(col("amount"))).as[Double].head() == 300.0)
  }

  test("NL find through the facade: FIND/WHERE/INCLUDE on declared tables") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    db.insert("orders", Seq((10, 1, 250.0), (11, 1, 50.0), (12, 2, 99.0))
      .toDF("id", "customer_id", "amount"))
    val rows = db.find(
      "FIND customer WHERE age < 35 SELECT name INCLUDE orders SELECT amount")
    assert(rows.count() == 1)
    assert(rows.select(size(col("orders_Data"))).as[Int].head() == 2)
  }

  test("update/updateMany/setAll/findById mirror the reference DML surface") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))

    // update replaces by PK; absent PKs are ignored, never inserted
    val n = db.update("customer",
      Seq((1, "ann", 31), (9, "zoe", 99)).toDF("id", "name", "age"))
    assert(n == 1)
    assert(db.table("customer").count() == 2)
    assert(db.findById("customer", 1).get.getAs[Int]("age") == 31)
    assert(db.findById("customer", 9).isEmpty)

    // updateMany applies transforms only where the predicate holds
    db.updateMany("customer", col("age") >= 40,
      Map("name" -> upper(col("name")), "age" -> (col("age") + 1)))
    assert(db.findById("customer", 2).get.getAs[String]("name") == "BOB")
    assert(db.findById("customer", 2).get.getAs[Int]("age") == 41)
    assert(db.findById("customer", 1).get.getAs[String]("name") == "ann")

    // setAll touches every document (the reference's UpdateMany over _id>0)
    db.setAll("customer", "age", 7)
    assert(db.table("customer").select("age").as[Int].collect().toSet == Set(7))
  }

  test("update paths enforce declared constraints like insert does") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    db.insert("orders", Seq((10, 1, 250.0)).toDF("id", "customer_id", "amount"))

    // unique violation via update (rename ann -> bob)
    intercept[IllegalStateException] {
      db.update("customer", Seq((1, "bob", 31)).toDF("id", "name", "age"))
    }
    // duplicate PKs within the incoming frame
    intercept[IllegalStateException] {
      db.update("customer",
        Seq((1, "x", 1), (1, "y", 2)).toDF("id", "name", "age"))
    }
    // FK orphan via updateMany
    intercept[IllegalStateException] {
      db.updateMany("orders", lit(true), Map("customer_id" -> lit(999)))
    }
    // PK is not a legal transform target
    intercept[IllegalArgumentException] {
      db.updateMany("customer", lit(true), Map("id" -> lit(7)))
    }
    // missing table: update 0, updateMany 0, findById None — not errors
    assert(db.update("orders2", Seq((1, 1, 1.0))
      .toDF("id", "customer_id", "amount")) == 0)
    assert(db.updateMany("orders2", lit(true), Map("amount" -> lit(0.0))) == 0)
    assert(db.findById("orders2", 1).isEmpty)
  }

  test("facade SQL DML persists to the store and re-checks constraints") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))

    val ins = db.sql(
      """INSERT INTO customer VALUES {"id": 3, "name": "cat", "age": 20}""")
    assert(ins.first().getLong(0) == 1)
    assert(db.table("customer").count() == 3)

    val upd = db.sql("UPDATE customer SET $.age = $.age + 1 WHERE $.age < 35")
    assert(upd.first().getLong(0) == 2)
    assert(db.findById("customer", 1).get.getAs[Long]("age") == 31)

    val del = db.sql("DELETE customer WHERE $.name = 'cat'")
    assert(del.first().getLong(0) == 1)
    assert(db.table("customer").count() == 2)

    // INSERT violating the declared unique(name) is rejected, not stored
    intercept[IllegalStateException] {
      db.sql("""INSERT INTO customer VALUES {"id": 9, "name": "ann", "age": 5}""")
    }
    assert(db.table("customer").count() == 2)
  }

  test("a rejected SQL statement leaves no trace in later sql() calls") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    intercept[IllegalStateException] {
      db.sql("""INSERT INTO customer VALUES {"id": 9, "name": "ann", "age": 5}""")
    }
    // the rejected row neither shows in reads nor piggybacks on later DML
    assert(db.sql("SELECT $.id FROM customer").count() == 2)
    db.sql("DELETE customer WHERE $.id = 2")
    assert(db.table("customer").select("id").as[Int].collect().toSet == Set(1))
  }

  test("SQL UPDATE cannot rewrite the PK; orphans from SQL DELETE do " +
      "not block later valid writes") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    db.insert("orders", Seq((10, 1, 250.0)).toDF("id", "customer_id", "amount"))

    intercept[IllegalArgumentException] {
      db.sql("UPDATE customer SET $.id = $.id + 1000")
    }
    assert(db.table("customer").select("id").as[Int].collect().toSet ==
      Set(1, 2))

    // SQL DELETE is cascade-free (reference behavior): orphans order 10…
    db.sql("DELETE customer WHERE $.id = 1")
    // …and a later valid insert is judged on ITS rows, not the old orphan
    val ins = db.sql(
      """INSERT INTO orders VALUES {"id": 11, "customer_id": 2, "amount": 5.0}""")
    assert(ins.first().getLong(0) == 1)
    assert(db.table("orders").count() == 2)
  }

  test("updateMany with a predicate over its own SET target still " +
      "validates the matched rows") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30)).toDF("id", "name", "age"))
    db.insert("orders", Seq((10, 1, 250.0)).toDF("id", "customer_id", "amount"))
    // repointing customer_id from 1 to a nonexistent parent must throw:
    // the changed-row set is selected by ORIGINAL values
    intercept[IllegalStateException] {
      db.updateMany("orders", col("customer_id") === 1,
        Map("customer_id" -> lit(999)))
    }
    assert(db.table("orders").select("customer_id").as[Int].head() == 1)
  }

  test("sql() sees dynamic document tables; table names are " +
      "case-insensitive like the reference") {
    val db = GraftDatabase(spark, "demo",
      Files.createTempDirectory("graft-db").toString)
      .defineTable(TableDef("Customer", "id"))
      .defineTable(TableDef("Orders", "id",
        fks = Seq(Fk("customer_id", "Customer", "id", Cascade))))
    db.insert("CUSTOMER", Seq((1, "ann", 30)).toDF("id", "name", "age"))
    db.insert("orders", Seq((10, 1, 250.0)).toDF("id", "customer_id", "amount"))

    // INCLUDE resolves the FK despite mixed-case declarations
    val inc = db.sql(
      "SELECT $.name, $.amount FROM customer INCLUDE orders WHERE $.age < 35")
    assert(inc.count() == 1)

    // a dynamic table (no defineTable) is visible to sql()
    db.insertDocuments("notes", Seq("""{"id": 1, "tag": "a", "extra": 9}"""),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType))))
    assert(db.sql("SELECT $.tag FROM notes").count() == 1)
  }

  test("ensureIndex range-clusters the table; unique indexes register " +
      "and enforce; direct count/exists/min/max work") {
    val db = freshDb()
    // write in shuffled order so clustering is observable
    db.insert("customer", (1 to 400).map(i => ((i * 263) % 401, s"n$i", i))
      .toDF("id", "name", "age"))

    assert(db.ensureIndex("customer", "id"))
    assert(!db.ensureIndex("customer", "id")) // already registered
    assert(db.indexes("customer") == Seq(("id", false)))

    // the "index": per-file id ranges are disjoint, so row-group min/max
    // stats prune a point/range scan to one file (live files resolve
    // through the commit log's snapshot)
    val parts = db.liveFiles("customer").toArray
    if (parts.length > 1) {
      val ranges = parts.map { p =>
        val r = spark.read.parquet(p).agg(min($"id"), max($"id")).head()
        (r.getInt(0), r.getInt(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
        assert(hi <= lo, s"file ranges overlap: $hi > $lo")
      }
    }

    // unique index: registers as a unique constraint that insert enforces
    assert(db.ensureIndex("customer", "name", unique = true))
    intercept[IllegalStateException] {
      db.insert("customer", Seq((9999, "n1", 1)).toDF("id", "name", "age"))
    }
    // a column with duplicates refuses a unique index
    db.insert("orders",
      Seq((1, 1, 5.0), (2, 1, 5.0)).toDF("id", "customer_id", "amount"))
    intercept[IllegalStateException] {
      db.ensureIndex("orders", "amount", unique = true)
    }

    assert(db.dropIndex("customer", "id"))
    assert(!db.dropIndex("customer", "id"))
    assert(db.indexes("customer") == Seq(("name", true)))

    assert(db.count("customer") == 400)
    assert(db.count("customer", $"age" <= 10) == 10)
    assert(db.exists("customer", $"name" === "n7"))
    assert(!db.exists("customer", $"name" === "zzz"))
    assert(db.min("customer", "age") == 1)
    assert(db.max("customer", "age") == 400)
    assert(db.count("nope") == 0 && !db.exists("nope", lit(true)))
  }

  test("SQL CREATE/DROP INDEX through the facade: named registry, " +
      "unique enforcement, reference dispatch (SqlParser.cs:32-49)") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40), (3, "cal", 30))
      .toDF("id", "name", "age"))

    // CREATE INDEX registers under the INDEX NAME (Create.cs), so the
    // reference-compatible DROP INDEX c.ixName resolves it
    assert(db.sql("CREATE INDEX ix_age ON customer ($.age)")
      .head().getBoolean(0))
    assert(db.indexDefs("customer") == Seq(("ix_age", "age", false)))
    // identical re-create is a no-op returning false (EnsureIndex parity)
    assert(!db.sql("CREATE INDEX ix_age ON customer (age)")
      .head().getBoolean(0))
    // same name, different column: loud failure (LiteDB throws
    // "index already exists with a different expression")
    intercept[IllegalStateException] {
      db.sql("CREATE INDEX ix_age ON customer (id)")
    }
    // computed expressions have no stored column to cluster on
    intercept[IllegalArgumentException] {
      db.sql("CREATE INDEX ix_up ON customer (UPPER($.name))")
    }

    // CREATE UNIQUE INDEX: registers the constraint, insert enforces it
    assert(db.sql("CREATE UNIQUE INDEX ix_name ON customer (name)")
      .head().getBoolean(0))
    intercept[IllegalStateException] {
      db.insert("customer", Seq((9, "ann", 1)).toDF("id", "name", "age"))
    }
    // a duplicated column refuses a unique index
    intercept[IllegalStateException] {
      db.sql("CREATE UNIQUE INDEX ix_dup ON customer (age)")
    }

    // DROP INDEX by {collection}.{indexName}; the unique constraint goes
    // with its index, so the previously-rejected insert now lands
    assert(db.sql("DROP INDEX customer.ix_name").head().getBoolean(0))
    assert(!db.sql("DROP INDEX customer.ix_name").head().getBoolean(0))
    db.insert("customer", Seq((9, "ann", 1)).toDF("id", "name", "age"))
    assert(db.count("customer") == 4)
    assert(db.sql("DROP INDEX customer.ix_age").head().getBoolean(0))
    assert(db.indexDefs("customer").isEmpty)
  }

  test("same-column index re-registration under a new name replaces the " +
      "old entry AND its unique constraint (no orphaned uniqueness)") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    assert(db.sql("CREATE UNIQUE INDEX ix1 ON customer (name)")
      .head().getBoolean(0))
    // re-register the SAME column under a new, NON-unique name: the old
    // entry leaves the registry and takes its constraint with it
    assert(db.sql("CREATE INDEX ix2 ON customer (name)").head().getBoolean(0))
    assert(db.indexDefs("customer") == Seq(("ix2", "name", false)))
    db.insert("customer", Seq((3, "ann", 9)).toDF("id", "name", "age"))
    assert(db.count("customer") == 3) // duplicate now legal
    // DROP INDEX inside an open transaction is fenced (registry changes
    // cannot roll back)
    db.sql("BEGIN")
    intercept[Exception](db.sql("DROP INDEX customer.ix2"))
    assert(!db.inTransaction) // failed statement auto-rolled-back
    assert(db.sql("DROP INDEX customer.ix2").head().getBoolean(0))
  }

  test("SQL DROP/RENAME COLLECTION through the facade: persisted state, " +
      "FK retargeting, stale-frame unbind") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30), (2, "bob", 40))
      .toDF("id", "name", "age"))
    db.insert("orders", Seq((10, 1, 250.0), (12, 2, 99.0))
      .toDF("id", "customer_id", "amount"))

    // RENAME the PARENT: orders' declared FK retargets to the new name,
    // so constraint-checked writes validate against the renamed table
    assert(db.sql("RENAME COLLECTION customer TO clients")
      .head().getBoolean(0))
    assert(db.tableExists("clients") && !db.tableExists("customer"))
    assert(db.sql("SELECT $.name FROM clients WHERE $.age > 35")
      .as[String].collect().toSeq == Seq("bob"))
    // stale frame unbound: the old name no longer resolves
    intercept[Exception](db.sql("SELECT $ FROM customer").collect())
    // FK now points at clients: a valid child insert passes, orphan fails
    db.insert("orders", Seq((13, 1, 1.0)).toDF("id", "customer_id", "amount"))
    intercept[IllegalStateException] {
      db.insert("orders", Seq((14, 99, 1.0)).toDF("id", "customer_id", "amount"))
    }
    // INCLUDE through the retargeted FK still joins on declared keys
    val inc = db.sql(
      "SELECT $.name, $.amount FROM clients INCLUDE orders WHERE $.age < 35")
    assert(inc.count() == 2)
    // unique(name) survived the rename on the renamed def
    intercept[IllegalStateException] {
      db.insert("clients", Seq((5, "ann", 9)).toDF("id", "name", "age"))
    }
    // rename onto an existing collection fails loudly
    intercept[IllegalArgumentException] {
      db.sql("RENAME COLLECTION clients TO orders")
    }

    // DROP COLLECTION removes data + index registry + definition
    db.ensureIndex("orders", "id")
    assert(db.sql("DROP COLLECTION orders").head().getBoolean(0))
    assert(!db.tableExists("orders"))
    assert(db.indexDefs("orders").isEmpty)
    assert(!db.sql("DROP COLLECTION orders").head().getBoolean(0))
    intercept[Exception](db.sql("SELECT $ FROM orders").collect())
    // the surviving table still answers
    assert(db.sql("SELECT $.id FROM clients").count() == 2)
  }

  test("SQL INSERT INTO an unknown collection creates AND persists it " +
      "(reference lazy collection materialization)") {
    val db = freshDb()
    val ins = db.sql(
      """INSERT INTO pets VALUES {"id": 1, "kind": "cat"}, {"id": 2, "kind": "dog"}""")
    assert(ins.head().getLong(0) == 2)
    assert(db.tableExists("pets"))
    assert(db.tables.contains("pets"))
    assert(db.table("pets").count() == 2)
    assert(db.sql("SELECT $.kind FROM pets WHERE $.id = 1")
      .as[String].head() == "cat")
    // and unknown-collection UPDATE/DELETE are 0-affected no-ops
    assert(db.sql("UPDATE ghosts SET $.x = 1").head().getLong(0) == 0)
    assert(db.sql("DELETE ghosts").head().getLong(0) == 0)
    assert(!db.tableExists("ghosts"))

    // SELECT INTO persists its result as a new collection too
    assert(db.sql("SELECT $.id, $.kind INTO cats FROM pets WHERE $.kind = 'cat'")
      .head().getLong(0) == 1)
    assert(db.tableExists("cats"))
    assert(db.table("cats").count() == 1)
  }

  test("SQL PRAGMA and CHECKPOINT through the facade") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30)).toDF("id", "name", "age"))

    // PRAGMA NAME = VALUE, then PRAGMA NAME reads it back
    assert(db.sql("PRAGMA USER_VERSION = 7").head().getBoolean(0))
    val got = db.sql("PRAGMA USER_VERSION").head()
    assert(got.getString(0) == "USER_VERSION" && got.getString(1) == "7")
    // read-only pragma rejected like the reference
    intercept[IllegalStateException](db.sql("PRAGMA COLLATION = 'x'"))
    intercept[IllegalArgumentException](db.sql("PRAGMA NOPE"))

    // CHECKPOINT compacts tables holding more than the CHECKPOINT pragma's
    // file count; with the pragma at 1 and several small appends, the
    // customer table qualifies and reports as compacted
    db.insert("customer", Seq((2, "bob", 40)).toDF("id", "name", "age"))
    db.insert("customer", Seq((3, "cal", 50)).toDF("id", "name", "age"))
    db.sql("PRAGMA CHECKPOINT = 1")
    assert(db.sql("CHECKPOINT").head().getLong(0) >= 1)
    assert(db.count("customer") == 3) // content survives compaction
    // a second pass finds nothing left to compact
    assert(db.sql("CHECKPOINT").head().getLong(0) == 0)
  }

  test("rebuild compacts every table and can change the engine collation " +
      "(RebuildOptions.cs: Collation; Password encrypts, FileCryptoSpec)") {
    val db = freshDb()
    (1 to 4).foreach(i =>
      db.insert("customer", Seq((i, s"N$i", i)).toDF("id", "name", "age")))
    assert(db.liveFiles("customer").size == 4)

    val db2 = db.rebuild(Some(graft.core.Collation.IgnoreCase))
    assert(db2.liveFiles("customer").size == 1) // the shrink
    assert(db2.count("customer") == 4)
    assert(db2.pragma("COLLATION").toString ==
      graft.core.Collation.IgnoreCase.toString)
    // the new collation applies engine-wide on the rebuilt facade
    assert(db2.sql("SELECT $.id FROM customer WHERE $.name = 'n2'")
      .count() == 1)
    // declarations survive: unique(name) still enforced
    intercept[IllegalStateException] {
      db2.insert("customer", Seq((9, "N1", 1)).toDF("id", "name", "age"))
    }
    // rebuild password: encrypts the whole store in place (the at-rest
    // contract itself is pinned by FileCryptoSpec; here just the seam)
    val db3 = db2.rebuild(password = Some("x"))
    assert(db3.count("customer") == 4)
    assert(db3.liveFiles("customer")
      .forall(graft.core.FileCrypto.isEncryptedFile))
  }

  test("database names validate like the reference's DbValidator: " +
      "traversal, separators, length, and reserved prefixes refuse") {
    val base = java.nio.file.Files.createTempDirectory("graft-name").toString
    Seq("", "  ", "..", "a/b", "a\\b", "a:b", "x" * 129, "CON.db", "nul.x",
      // beyond the reference's dotted-prefix list: bare device names,
      // COM3-9/LPT3-9, and trailing dot/space are equally uncreatable
      // as Windows directories
      "CON", "com3", "LPT9.parquet", "db.", "db ")
      .foreach { bad =>
        intercept[IllegalArgumentException](GraftDatabase(spark, bad, base))
      }
    // a legitimate name (dots inside, dashes, case) opens fine;
    // device names are only reserved as the stem ("config.sys" is fine)
    assert(GraftDatabase(spark, "My-DB.v2", base).tables.isEmpty)
    assert(GraftDatabase(spark, "config.sys", base).tables.isEmpty)
  }

  test("tables/resources enumerate declared tables and stored files") {
    val db = freshDb()
    db.insert("customer", Seq((1, "ann", 30)).toDF("id", "name", "age"))
    assert(db.tables == Seq("customer", "orders"))
    db.fileStore.addNewFile("ann", "spec.pdf", Array[Byte](1, 2, 3))
    assert(db.resources ==
      Seq("table_customer", "table_orders", "file_spec.pdf"))
  }

  test("curate through the facade lands verdicts + manifest in the db tree") {
    val db = freshDb().defineTable(TableDef("docs", "doc_id"))
    val docs = graft.core.Tables.load(spark, Sf0001, "documents")
      .filter(col("doc_id") < 100)
    db.insert("docs", docs.filter(col("doc_id") % 5 =!= 0))
    val manifest = db.curate("docs", docs.filter(col("doc_id") % 5 === 0),
      graft.pipeline.CurationPipeline.Config(minWords = 10, minStopHits = 1))
    assert(manifest.agg(sum(col("n_docs"))).head().getLong(0) > 0)
    assert(Files.exists(java.nio.file.Paths.get(
      s"${db.root}/Curation/verdicts")))
    assert(Files.exists(java.nio.file.Paths.get(
      s"${db.root}/Curation/curated")))
  }
}
