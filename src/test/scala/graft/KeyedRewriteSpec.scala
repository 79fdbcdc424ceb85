package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.GraftDatabase
import graft.dml.ConstrainedDml._

/** The keyed rewrite every PK-addressed write shares (upsert, update,
  * mergeBatch, a persisted LiteSql statement): its hit probe is labelled
  * on every path, and a null PK is a key like any other.
  */
class KeyedRewriteSpec extends AnyFunSuite {
  import SparkSessionFixture._
  import spark.implicits._

  private def freshDb(name: String): GraftDatabase = {
    val db = GraftDatabase(spark, name,
      Files.createTempDirectory(s"graft-$name").toString)
      .defineTable(TableDef("t", "id"))
    db.insert("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    db
  }

  /** Job descriptions of every Spark job `f` submits. */
  private def jobDescriptions(f: => Any): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.graft.ListenerDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    seen.asScala.toSeq
  }

  test("upsert, update, mergeBatch and a LiteSql UPDATE each run their " +
    "hit probe under a graft hit-probe job label") {
    val db = freshDb("hitlabel")
    val ops: Seq[(String, () => Any)] = Seq(
      "upsert" -> (() => db.upsert("t", Seq((1, "u")).toDF("id", "v"))),
      "update" -> (() => db.update("t", Seq((2, "w")).toDF("id", "v"))),
      "mergeBatch" -> (() => db.mergeBatch("t", Seq((1, "m")).toDF("id", "v"),
        Seq(2).toDF("id"), "app", 1L)),
      "sql UPDATE" -> (() => db.sql("UPDATE t SET $.v = 's' WHERE $.id = 1")))
    ops.foreach { case (what, op) =>
      val descs = jobDescriptions(op())
      assert(descs.exists(d => d.startsWith("graft: ") &&
        d.contains("hit probe")), s"$what ran jobs $descs")
    }
    assert(db.table("t").as[(Int, String)].collect().toSeq == Seq((1, "s")))
  }

  test("a LiteSql statement persists a null-PK row: INSERT lands it, " +
    "UPDATE replaces it, DELETE removes it") {
    val db = freshDb("nullkey")
    def rows = db.table("t").orderBy("v").collect().toSeq
    db.sql("""INSERT INTO t VALUES {"v": "n"}""")
    assert(rows == Seq(Row(1, "a"), Row(2, "b"), Row(null, "n")))
    db.sql("UPDATE t SET $.v = 'z' WHERE $.v = 'n'")
    assert(rows == Seq(Row(1, "a"), Row(2, "b"), Row(null, "z")))
    db.sql("DELETE t WHERE $.v = 'z'")
    assert(rows == Seq(Row(1, "a"), Row(2, "b")))
  }

  test("applyChanges matches a null PK null-safely: a feed replacing " +
    "the null-PK row leaves one null-PK row") {
    val db = freshDb("cdcnull")
    db.sql("""INSERT INTO t VALUES {"v": "n"}""")
    db.delete("t", $"id" === 2)
    val feed = Seq((None: Option[Int], "n", "delete"),
      (None: Option[Int], "z", "insert")).toDF("id", "v", "_change_type")
    assert(db.applyChanges("t", feed, "cdc", 1L))
    assert(db.table("t").orderBy("v").collect().toSeq ==
      Seq(Row(1, "a"), Row(null, "z")))
    assert(db.validateConstraints("t").isEmpty)
  }

  test("a LiteSql statement that matches no row commits nothing, and " +
    "neither does the statement after it") {
    val db = freshDb("zerohit")
    val v = db.logVersion
    db.sql("UPDATE t SET $.v = 'z' WHERE $.id = 99")
    assert(db.logVersion == v)
    db.sql("SELECT $ FROM t").collect()
    assert(db.logVersion == v)
  }
}
