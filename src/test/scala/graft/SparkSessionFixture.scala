package graft

import org.apache.spark.sql.SparkSession

import graft.core.LocalSession

/** One shared local session for all suites (JVM-wide, lazily built). */
object SparkSessionFixture {
  lazy val spark: SparkSession = LocalSession(LocalSession.Default)
  val Sf0001 = "/root/testdata/sf0.001"
}
