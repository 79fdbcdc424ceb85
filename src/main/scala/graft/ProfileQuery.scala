package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.core.LocalSession

/** Measurement harness (optimization guide §1): run one or more catalog
  * queries under a SparkListener and attribute wall time to Spark jobs
  * by submission callsite — plus the "no job running" gap, which is
  * driver-side work (commit I/O, footer harvest, planning, checkpoint
  * writes). Usage:
  *
  *   runMain graft.ProfileQuery <sfDir> <q1,q2,...> [repeat]
  *
  * Same session shape as graft.Bench so numbers are comparable.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: runMain graft.ProfileQuery <sfDir> <q1,q2,...> [repeat]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val repeat = if (args.length > 2) args(2).toInt else 1
    val spark = LocalSession(LocalSession.Timed)
    graft.core.Tables.load(spark, sfDir, "region").count()

    // per-action Catalyst phase times (parsing/analysis/optimization/
    // planning run on the driver between jobs — the "gap" suspects)
    val phaseTotals = new TrieMap[String, Long] // phase -> ms
    val actionCount = new java.util.concurrent.atomic.AtomicInteger
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          actionCount.incrementAndGet()
          qe.tracker.phases.foreach { case (p, s) =>
            phaseTotals.updateWith(p) {
              case Some(t) => Some(t + (s.endTimeMs - s.startTimeMs))
              case None => Some(s.endTimeMs - s.startTimeMs)
            }
          }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    final case class J(var start: Long = 0L, var end: Long = 0L,
        var site: String = "?", var desc: String = "")
    val jobs = new TrieMap[Int, J]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val j = jobs.getOrElseUpdate(js.jobId, J())
        j.start = js.time
        // the RESULT stage's callsite is the action site (collect at
        // Foo.scala:N, parquet at TxLog.scala:M, ...) — far more
        // informative than the thread's query-start callsite, which every
        // streaming-trigger job inherits
        j.site = js.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
          .getOrElse("?")
        // descriptions can be multi-line (streaming's batch banner) —
        // first line only, and prefer graft phase labels when present
        j.desc = Option(js.properties.getProperty("spark.job.description"))
          .map(_.linesIterator.next()).getOrElse("")
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.get(je.jobId).foreach(_.end = je.time)
    })

    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name; known e.g. " +
          SparkEntry.queries.keys.take(5).mkString(",")))
      (1 to repeat).foreach { it =>
        jobs.clear(); phaseTotals.clear(); actionCount.set(0)
        val t0 = System.nanoTime()
        val rows = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1500) // let listener events drain
        val done = jobs.values.filter(_.end > 0).toSeq
        val sumJobs = done.map(j => j.end - j.start).sum / 1e3
        // union of job intervals → the wall fraction with NO job running
        // is driver-side work
        val iv = done.map(j => (j.start, j.end)).sortBy(_._1)
        val covered = iv.foldLeft((0L, Long.MinValue)) {
          case ((acc, hi), (s, e)) =>
            if (s > hi) (acc + (e - s), e)
            else if (e > hi) (acc + (e - hi), e)
            else (acc, hi)
        }._1 / 1e3
        println(f"[profile] == $name#$it rows=$rows wall=$wall%.2f s " +
          f"jobs=${done.size} sum=$sumJobs%.2f s covered=$covered%.2f s " +
          f"gap=${wall - covered}%.2f s actions=${actionCount.get}")
        println("[profile]   catalyst-phases: " + phaseTotals.toSeq
          .sortBy(-_._2).map { case (p, ms) =>
            f"$p=${ms / 1e3}%.2f s" }.mkString(" "))
        done.groupBy(j => (j.site, j.desc)).toSeq
          .map { case ((site, desc), js) =>
            (js.map(j => j.end - j.start).sum / 1e3, js.size, site, desc) }
          .sortBy(-_._1).take(40)
          .foreach { case (t, c, site, desc) =>
            val d = if (desc.nonEmpty && desc != name) s"  [$desc]" else ""
            println(f"[profile]   $t%8.3f s n=$c%-4d $site$d")
          }
      }
    }
    spark.stop()
  }
}
