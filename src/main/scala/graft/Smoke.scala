package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.LocalSession
import graft.streaming.{ContinuousQueryService, IngestPipeline}

/** Local smoke: mirrors the driver's t1 check (entry() rows > 0) and
  * exercises the streaming surfaces end-to-end from the public API.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(LocalSession.Default)

    // 1. flagship entry
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "entry() must return rows")

    // 2. streaming fan-out over a file stream of the events table
    val tmp = Files.createTempDirectory("graft-smoke").toString
    // stage events (nanos-normalized) as the streaming input directory
    val staged = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_type").as("key"), col("ts"), col("value"))
    staged.write.parquet(s"$tmp/in")
    val stream = spark.readStream.schema(staged.schema).parquet(s"$tmp/in")
    val q = IngestPipeline.fanOut(stream, s"$tmp/fact", s"$tmp/rollup",
      s"$tmp/audit", s"$tmp/ckpt", Trigger.AvailableNow())
    // fail loudly on timeout: proceeding against a still-running stream
    // would read partial sinks and could pass spuriously
    assert(q.awaitTermination(120000),
      "streaming fan-out did not finish within 120s")
    val factRows = spark.read.parquet(s"$tmp/fact").count()
    val rollupRows = spark.read.parquet(s"$tmp/rollup").count()
    println(s"[smoke] streaming fan-out fact=$factRows rollup=$rollupRows")
    assert(factRows > 0 && rollupRows > 0)

    // 3. continuous query service caches results on an interval
    val svc = new ContinuousQueryService(spark)
    try {
      svc.register(svc.Config("hourly_events",
        s => s.read.parquet(s"$tmp/rollup").agg(count(lit(1)).as("n")),
        intervalMillis = 500L))
      val deadline = System.currentTimeMillis() + 30000
      while (svc.executions("hourly_events") < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      println(s"[smoke] continuous query executions=" +
        s"${svc.executions("hourly_events")} last=" +
        s"${svc.lastResult("hourly_events").headOption}")
      assert(svc.executions("hourly_events") >= 2)
    } finally svc.shutdown()

    spark.stop()
    println("[smoke] OK")
  }
}
