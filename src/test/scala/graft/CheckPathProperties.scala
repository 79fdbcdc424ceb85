package graft

import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.catalog.GraftDatabase
import graft.dml.ConstrainedDml._

/** Differential property: a small batch (checked on the driver and by
  * `IN`-filtered lookups) and the same batch forced onto the bulk path
  * (`spark.sql.autoBroadcastJoinThreshold=-1`: planned joins) return
  * identical violation lists from `validateInsert` and `validateUpdate`.
  * Batches carry duplicate and null PKs, FK misses, and unique and 1:1
  * conflicts against a table stored in several files. Each sample
  * commits a table and runs ten validations, so samples are few.
  */
object CheckPathProperties extends Properties("checkPaths") {
  import SparkSessionFixture._
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private type R = (Option[Int], Option[String], Option[Int])

  private final case class Case(existing: List[R], batch: List[R],
      oneToOne: Boolean)

  private val rowGen: Gen[R] = for {
    id <- Gen.option(Gen.choose(0, 12))
    u <- Gen.option(Gen.oneOf("a", "b", "c", "d", "e", "f", "g"))
    p <- Gen.option(Gen.choose(0, 6)) // parents hold 0..4
  } yield (id, u, p)

  private val caseGen: Gen[Case] = for {
    ids <- Gen.someOf(0 to 9)
    withNull <- Gen.oneOf(true, false)
    existing <- Gen.sequence[List[R], R]((ids.map(Some(_)) ++
      (if (withNull) Seq(None) else Nil)).map(id =>
      rowGen.map { case (_, u, p) => (id, u, p) }))
    n <- Gen.choose(0, 8)
    batch <- Gen.listOfN(n, rowGen)
    oneToOne <- Gen.oneOf(true, false)
  } yield Case(existing, batch, oneToOne)

  private def withConf[A](k: String, v: String)(f: => A): A = {
    val saved = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f
    finally saved.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  property("smallAndBulkPathsReturnTheSameViolations") =
    Prop.forAll(caseGen) { c =>
      val db = GraftDatabase(spark, "paths",
        Files.createTempDirectory("graft-paths").toString)
        .defineTable(TableDef("par", "pid"))
      db.insert("par", (0 to 4).toDF("pid"))
      if (c.existing.nonEmpty)
        db.insert("t", c.existing.toDF("id", "u", "p").repartition(3))
      val tdef = TableDef("t", "id", uniqueCols = Seq("u"),
        fks = Seq(Fk("p", "par", "pid", oneToOne = c.oneToOne)))
      val existing = if (c.existing.nonEmpty) Some(db.table("t")) else None
      val parents = Map("par" -> db.table("par"))
      val batch = c.batch.toDF("id", "u", "p")
      def checks: Seq[Seq[Violation]] = {
        val result = existing.fold(batch)(upsert(_, batch, "id"))
        Seq(
          validateInsert(spark, tdef, batch, existing, parents),
          validateInsert(spark, tdef, batch, None, parents),
          validateUpdate(spark, tdef, batch, result, parents),
          validateUpdate(spark, tdef, batch, result, parents,
            pkImmutable = true),
          validateUpdate(spark, tdef, batch, batch, parents))
      }
      val small = checks
      val bulk = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(checks)
      (small == bulk) :| s"small: $small\nbulk:  $bulk"
    }
}
