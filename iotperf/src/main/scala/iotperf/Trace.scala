package iotperf

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for ops, spans and listener events: epoch milliseconds with
  * a sub-millisecond fraction from `nanoTime`, so spans nest exactly and
  * line up with Spark's epoch-millisecond event times.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Benchmark-side tracing: spans around the public calls the workloads
  * make, plus Spark's public listeners (jobs with their task metrics,
  * Catalyst phases, streaming progress). Everything stays in memory and
  * is written out once the run ends. With `on = false` nothing is
  * registered and `span` only runs its body.
  */
final class Tracer(val on: Boolean) {
  import Tracer._

  val spans = new ConcurrentLinkedQueue[Span]
  val jobs = new TrieMap[Int, Job]
  val phases = new ConcurrentLinkedQueue[Phase]
  val progress = new ConcurrentLinkedQueue[Progress]
  private val stageJob = new TrieMap[Int, Int]
  private val ids = new AtomicInteger
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  /** The op the client thread is running (-1 between ops). */
  @volatile var op: Int = -1
  /** Marks the client thread: spans on any other thread (the stream's
    * folds) carry op -1 and are matched to ops by time.
    */
  val isClient: ThreadLocal[Boolean] = ThreadLocal.withInitial(() => false)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = Clock.now()
      try body
      finally {
        spans.add(Span(id, name, t0, Clock.now(), parents.headOption.getOrElse(0),
          if (isClient.get) op else -1))
        stack.set(parents)
      }
    }

  def install(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description")))
          .map(_.linesIterator.next()).getOrElse("")
        jobs.put(e.jobId, new Job(e.jobId, e.time.toDouble, desc))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (j <- stageJob.get(e.stageId).flatMap(jobs.get)) {
          j.tasks.incrementAndGet()
          Option(e.taskMetrics).foreach { m =>
            j.synchronized {
              j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
                m.shuffleWriteMetrics.bytesWritten
              j.inputBytes += m.inputMetrics.bytesRead
              j.inputRecords += m.inputMetrics.recordsRead
            }
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        qe.tracker.phases.foreach { case (p, s) =>
          phases.add(Phase(p, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
        }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        p.sources.headOption.foreach { s =>
          progress.add(Progress(Clock.now(), p.batchId, String.valueOf(s.startOffset),
            String.valueOf(s.endOffset), p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
        }
      }
    })
  }

  def json: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
      "parent" -> s.parent, "op" -> s.op)),
    "jobs" -> jobs.values.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "start" -> j.start, "end" -> j.end, "desc" -> j.desc,
      "tasks" -> j.tasks.get, "shuffle_bytes" -> j.shuffleBytes,
      "input_bytes" -> j.inputBytes, "input_records" -> j.inputRecords)),
    "phases" -> phases.asScala.toSeq.map(p => Map(
      "name" -> p.name, "start" -> p.start, "end" -> p.end)),
    "progress" -> progress.asScala.toSeq.map(p => Map(
      "at" -> p.at, "batch" -> p.batch, "start_offset" -> p.startOffset,
      "end_offset" -> p.endOffset, "rows" -> p.rows,
      "durations" -> p.durations)))
}

object Tracer {
  final case class Span(id: Int, name: String, start: Double, end: Double,
      parent: Int, op: Int)
  final class Job(val id: Int, val start: Double, val desc: String) {
    @volatile var end: Double = -1.0
    val tasks = new AtomicInteger
    @volatile var shuffleBytes = 0L
    @volatile var inputBytes = 0L
    @volatile var inputRecords = 0L
  }
  final case class Phase(name: String, start: Double, end: Double)
  final case class Progress(at: Double, batch: Long, startOffset: String,
      endOffset: String, rows: Long, durations: Map[String, Long])
}
