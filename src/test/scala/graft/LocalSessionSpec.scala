package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.LocalSession

/** The one local-session factory: its core count parse, the fixture it
  * builds, and a guard that no other session builder creeps back in.
  */
class LocalSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS must be a positive integer; unset means all " +
    "available processors") {
    Seq("0", "-1", "abc", "").foreach { raw =>
      val e = intercept[IllegalArgumentException](LocalSession.cpus(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
    assert(LocalSession.cpus(Some("3")) == 3)
    assert(LocalSession.cpus(None) == Runtime.getRuntime.availableProcessors)
  }

  test("the fixture session runs on the resolved core count and has the " +
    "native functions registered") {
    val spark = SparkSessionFixture.spark
    val cpus = LocalSession.cpus(sys.env.get("SPARK_GRAFT_CPUS"))
    assert(spark.sparkContext.defaultParallelism == cpus)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cpus.toString)
    assert(graft.functions.GraftFunctions.all.forall { case (name, _, _) =>
      spark.catalog.functionExists(name) })
  }

  test("LocalSession is the only place that builds a SparkSession") {
    val builder = "(?i)SparkSession\\s*\\.\\s*builder".r
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found"))
    val offenders = roots.flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    }.filterNot(_.endsWith(Paths.get("graft/core/LocalSession.scala")))
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty, s"session builders outside LocalSession: $offenders")
  }
}
