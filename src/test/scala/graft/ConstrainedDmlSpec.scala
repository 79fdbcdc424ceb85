package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.catalog.GraftDatabase
import graft.dml.ConstrainedDml
import graft.dml.ConstrainedDml._
import graft.plans.PlanGates

/** Replays the reference's constraint scenarios (FIXTURES.md §1:
  * Customer/Order/Address with Cascading, Restrictive and 1:1 FKs).
  */
class ConstrainedDmlSpec extends AnyFunSuite {
  import SparkSessionFixture._
  import spark.implicits._

  private val customerDef = TableDef("customer", "id")
  private val orderDef = TableDef("orders", "id",
    fks = Seq(Fk("customer_id", "customer", "id", Cascade)))
  private val addressDef = TableDef("address", "id",
    fks = Seq(Fk("customer_id", "customer", "id", Cascade, oneToOne = true)))

  private def customers = Seq((1, "ann", 30), (2, "bob", 40))
    .toDF("id", "name", "age")
  private def orders = Seq((10, 1, 250.0), (11, 1, 50.0), (12, 2, 99.0))
    .toDF("id", "customer_id", "amount")

  test("insert: FK violation is rejected with a fk_missing violation") {
    val bad = Seq((13, 9, 1.0)).toDF("id", "customer_id", "amount")
    val v = validateInsert(spark, orderDef, bad, Some(orders),
      Map("customer" -> customers))
    assert(v.map(x => (x.kind, x.column)) == Seq(("fk_missing", "customer_id")))
    intercept[IllegalStateException](
      insert(spark, orderDef, bad, Some(orders), Map("customer" -> customers)))
  }

  test("insert: pk conflict and in-batch duplicates detected") {
    val bad = Seq((12, 1, 1.0), (14, 1, 2.0), (14, 2, 3.0))
      .toDF("id", "customer_id", "amount")
    val kinds = validateInsert(spark, orderDef, bad, Some(orders),
      Map("customer" -> customers)).map(_.kind)
    assert(kinds.count(_ == "pk_conflict") == 2) // vs existing + in-batch
  }

  test("insert: one-to-one FK rejects a second child for the same parent") {
    val addr = Seq((100, 1, "1 Main St")).toDF("id", "customer_id", "line1")
    val second = Seq((101, 1, "2 Side St")).toDF("id", "customer_id", "line1")
    val v = validateInsert(spark, addressDef, second, Some(addr),
      Map("customer" -> customers))
    assert(v.map(_.kind) == Seq("one_to_one_conflict"))
  }

  test("insert: unique column enforced across existing + incoming") {
    val udef = TableDef("customer", "id", uniqueCols = Seq("name"))
    val v = validateInsert(spark, udef,
      Seq((3, "ann", 22)).toDF("id", "name", "age"), Some(customers), Map())
    assert(v.map(_.kind) == Seq("unique_conflict"))
  }

  test("clean insert appends") {
    val ok = Seq((13, 2, 5.0)).toDF("id", "customer_id", "amount")
    val out = insert(spark, orderDef, ok, Some(orders),
      Map("customer" -> customers))
    assert(out.count() == 4)
  }

  test("upsert replaces matching PKs and appends new ones") {
    val incoming = Seq((11, 1, 999.0), (20, 2, 1.0))
      .toDF("id", "customer_id", "amount")
    val out = upsert(orders, incoming, "id")
    assert(out.count() == 4)
    assert(out.filter($"id" === 11).select("amount").as[Double].head() == 999.0)
  }

  test("updateWhere applies transform expressions only to matching rows") {
    val out = updateWhere(orders, col("customer_id") === 1,
      Map("amount" -> (col("amount") * 2)))
    val amounts = out.orderBy("id").select("amount").as[Double].collect().toSeq
    assert(amounts == Seq(500.0, 100.0, 99.0))
  }

  test("updateWhere evaluates every transform against the ORIGINAL row") {
    // swap: both RHS see pre-update values (one transform doc per row)
    val df = Seq((1, "a", "b")).toDF("id", "x", "y")
    val swapped = updateWhere(df, lit(true),
      Map("x" -> col("y"), "y" -> col("x"))).head()
    assert(swapped.getString(1) == "b" && swapped.getString(2) == "a")

    // a predicate over a SET target matches by original values even when
    // another transform in the same map rewrites that column first
    val t = Seq((1, "open", 0), (2, "closed", 0)).toDF("id", "status", "cnt")
    val out = updateWhere(t, col("status") === "open",
      Map("status" -> lit("done"), "cnt" -> (col("cnt") + 1)))
      .orderBy("id").select("status", "cnt").collect()
    assert(out(0).getString(0) == "done" && out(0).getInt(1) == 1)
    assert(out(1).getString(0) == "closed" && out(1).getInt(1) == 0)
  }

  test("cascade delete removes children transitively") {
    val states = Map(
      "customer" -> (customers, customerDef),
      "orders" -> (orders, orderDef))
    val out = deleteCascade(spark, states, "customer", col("id") === 1)
    assert(out("customer").select("id").as[Int].collect().toSet == Set(2))
    assert(out("orders").select("id").as[Int].collect().toSet == Set(12))
  }

  test("diamond cascade: deletes via two FK paths both reach the grandchild") {
    // customer -> orders (cascade), customer -> invoices (cascade),
    // line items cascade from BOTH orders and invoices
    val invoices = Seq((20, 1), (21, 2)).toDF("id", "customer_id")
    val items = Seq(
      (100, 10, 21),  // via ann's order 10 AND bob's invoice 21
      (101, 12, 20),  // via bob's order 12 AND ann's invoice 20
      (102, 12, 21)   // only bob's edges
    ).toDF("id", "order_id", "invoice_id")
    val invoiceDef = TableDef("invoices", "id",
      fks = Seq(Fk("customer_id", "customer", "id", Cascade)))
    val itemDef = TableDef("items", "id", fks = Seq(
      Fk("order_id", "orders", "id", Cascade),
      Fk("invoice_id", "invoices", "id", Cascade)))
    val states = Map(
      "customer" -> (customers, customerDef),
      "orders" -> (orders, orderDef),
      "invoices" -> (invoices, invoiceDef),
      "items" -> (items, itemDef))
    // deleting ann (id 1) removes orders 10,11 and invoice 20;
    // item 100 dies via order 10, item 101 via invoice 20 -> only 102 left
    val out = deleteCascade(spark, states, "customer", col("id") === 1)
    assert(out("orders").select("id").as[Int].collect().toSet == Set(12))
    assert(out("invoices").select("id").as[Int].collect().toSet == Set(21))
    assert(out("items").select("id").as[Int].collect().toSet == Set(102))
  }

  test("restrictive FK blocks parent delete") {
    val restrictive = TableDef("orders", "id",
      fks = Seq(Fk("customer_id", "customer", "id", Restrict)))
    val states = Map(
      "customer" -> (customers, customerDef),
      "orders" -> (orders, restrictive))
    intercept[IllegalStateException](
      deleteCascade(spark, states, "customer", col("id") === 1))
  }

  test("set-null FK nulls the child key but keeps the row") {
    val setnull = TableDef("orders", "id",
      fks = Seq(Fk("customer_id", "customer", "id", SetNull)))
    val states = Map(
      "customer" -> (customers, customerDef),
      "orders" -> (orders, setnull))
    val out = deleteCascade(spark, states, "customer", col("id") === 1)
    val o = out("orders").orderBy("id")
      .select($"id", $"customer_id".cast("string")).collect()
    assert(o.length == 3)
    assert(o.filter(_.isNullAt(1)).map(_.getInt(0)).toSet == Set(10, 11))
  }

  test("two set-null FKs to the same parent both apply (messages sender+receiver)") {
    val users = Seq((1, "ann"), (2, "bob"), (3, "cal")).toDF("id", "name")
    val messages = Seq((100, 1, 2), (101, 2, 1), (102, 3, 3))
      .toDF("id", "sender_id", "receiver_id")
    val userDef = TableDef("users", "id")
    val msgDef = TableDef("messages", "id", fks = Seq(
      Fk("sender_id", "users", "id", SetNull),
      Fk("receiver_id", "users", "id", SetNull)))
    val states = Map(
      "users" -> (users, userDef),
      "messages" -> (messages, msgDef))
    val out = deleteCascade(spark, states, "users", col("id") === 1)
    val rows = out("messages").orderBy("id")
      .select($"id", $"sender_id".cast("string"), $"receiver_id".cast("string"))
      .collect().map(r => (r.getInt(0),
        Option(r.getString(1)), Option(r.getString(2)))).toSeq
    // msg 100: sender ann -> null; msg 101: receiver ann -> null; both
    // updates must survive (second FK pass must see the first one's result)
    assert(rows == Seq(
      (100, None, Some("2")),
      (101, Some("2"), None),
      (102, Some("3"), Some("3"))))
  }

  test("validateUpdate enforces its result-shape precondition: a PK " +
    "landing on an UNTOUCHED row is rejected, not silently dropped " +
    "from the unique checks") {
    // a PK-mutating transform collides with an existing row's PK, and a
    // (buggy) caller passes a result that KEPT the untouched row: the
    // anti-join shape would exclude it from `unchanged`, so without the
    // multiplicity check the collision is invisible
    val incoming = Seq((2, "ann2", 31)).toDF("id", "name", "age") // was id=1
    val badResult = customers // both rows kept: id=2 now appears twice...
      .unionByName(incoming)  // ...once untouched (bob), once incoming
    val v = ConstrainedDml.validateUpdate(
      spark, customerDef, incoming, badResult, Map.empty)
    assert(v.exists(x => x.kind == "pk_conflict" && x.column == "id"),
      v.toString)
    // the well-formed shape (anti-join ∪ incoming) passes
    val goodResult = customers
      .join(incoming.select($"id"), Seq("id"), "left_anti")
      .unionByName(incoming)
    // id=2 collides for real here too (ann's row became PK 2 while bob
    // keeps it) — but through `unchanged`, as unique/one-to-one checks;
    // with a non-colliding PK the same shape is clean
    val clean = Seq((7, "ann2", 31)).toDF("id", "name", "age")
    val goodClean = customers
      .join(clean.select($"id"), Seq("id"), "left_anti")
      .unionByName(clean)
    assert(ConstrainedDml.validateUpdate(
      spark, customerDef, clean, goodClean, Map.empty).isEmpty)
    assert(goodResult.count() == 2) // shape sanity for the bad-case twin
  }

  /** Executed plans of every query `f` runs, as the listener saw them. */
  private def executedPlans(f: => Any): Seq[SparkPlan] = {
    val seen = new ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.graft.ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(l)
    try { f; org.apache.spark.graft.ListenerDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
  }

  private def withConf[A](k: String, v: String)(f: => A): A = {
    val saved = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f
    finally saved.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("probe marker columns never collide with a checked column: PK " +
    "`_k0` inserts twice, PK `_m0` reports its duplicate as pk_conflict") {
    val k0 = TableDef("k0", "_k0")
    assert(validateInsert(spark, k0, Seq((2, "b")).toDF("_k0", "v"),
      Some(Seq((1, "a")).toDF("_k0", "v")), Map()).isEmpty)
    val db = GraftDatabase(spark, "markers",
      Files.createTempDirectory("graft-markers").toString)
      .defineTable(k0)
    db.insert("k0", Seq((1, "a")).toDF("_k0", "v"))
    db.insert("k0", Seq((2, "b")).toDF("_k0", "v"))
    assert(db.count("k0") == 2)

    val m0 = TableDef("m0", "_m0")
    val v = validateInsert(spark, m0, Seq((1, "dup")).toDF("_m0", "v"),
      Some(Seq((1, "a")).toDF("_m0", "v")), Map())
    assert(v.map(x => (x.kind, x.column)) == Seq(("pk_conflict", "_m0")), v)
  }

  test("the insert probe's join is the planner's choice: a small batch " +
    "broadcasts, and below the broadcast threshold it does not") {
    val existing = spark.range(2000).selectExpr("id AS probe_pk", "id AS w")
    val batch = Seq((5000L, 1L), (5001L, 2L)).toDF("probe_pk", "w")
    def probeJoins: Seq[BaseJoinExec] = executedPlans(validateInsert(
        spark, TableDef("p", "probe_pk"), batch, Some(existing), Map()))
      .flatMap(PlanGates.allNodes)
      .collect { case j: BaseJoinExec if j.joinType == LeftOuter => j }
    val small = probeJoins
    assert(small.nonEmpty && small.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      small.map(_.nodeName))
    val bulk = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(probeJoins)
    assert(bulk.nonEmpty && !bulk.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      bulk.map(_.nodeName))
  }

  test("validateUpdate scans the existing table a fixed number of times, " +
    "however many unique columns it checks") {
    val dir = Files.createTempDirectory("graft-uscan").resolve("t").toString
    Seq((1, "a", "x", "p"), (2, "b", "y", "q")).toDF("id", "u1", "u2", "u3")
      .write.parquet(dir)
    val existing = spark.read.parquet(dir)
    val incoming = Seq((2, "c", "z", "r")).toDF("id", "u1", "u2", "u3")
    val result = upsert(existing, incoming, "id")
    def tableScans(uniques: Seq[String]): Int = {
      val v = executedPlans(validateUpdate(spark,
        TableDef("t", "id", uniqueCols = uniques), incoming, result, Map()))
      v.flatMap(PlanGates.allNodes).count {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.toString.endsWith(dir))
        case _ => false
      }
    }
    val two = tableScans(Seq("u1", "u2"))
    val three = tableScans(Seq("u1", "u2", "u3"))
    assert(two > 0 && three == two, s"two uniques: $two scans, three: $three")
  }
}
