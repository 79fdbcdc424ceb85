package iotperf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.catalog.GraftDatabase
import graft.streaming.{MaterializedView, MvDef}

/** A live per-site view of `table` in database `db` (opened as `name`
  * under `dir`): one running `graft-changes` stream with
  * `withCommitVersion=true` and the default trigger, whose
  * benchmark-owned `foreachBatch` folds each batch into the view with
  * [[MaterializedView.applyBatch]]. The view carries count/sum (folded as
  * pure delta) and min/max (delete-affected groups recompute from the
  * base). Construction blocks until the stream has folded the table as
  * it stands.
  */
final class ViewStream(spark: SparkSession, tr: Tracer, db: GraftDatabase,
    name: String, dir: String, table: String) {
  val view: MvDef = MvDef(source = table, view = s"${table}_site",
    keyCols = Seq("site"), sumCols = Seq("value"), minMaxCols = Seq("value"))
  val viewDb: GraftDatabase =
    MaterializedView.define(GraftDatabase(spark, s"${name}_views", dir), view)

  private val query: StreamingQuery = spark.readStream.format("graft-changes")
    .option("baseDir", dir).option("name", name).option("table", table)
    .option("withCommitVersion", "true").load()
    .writeStream
    .foreachBatch { (b: DataFrame, id: Long) => fold(b, id) }
    .option("checkpointLocation", s"$dir/_stream")
    .start()
  awaitFold(db.logVersion)

  private def fold(batch: DataFrame, id: Long): Unit = tr.span("streaming.fold") {
    val b = batch.persist()
    try { MaterializedView.applyBatch(db, viewDb, view, b, s"${view.view}-app", id); () }
    finally { b.unpersist(); () }
  }

  private def folded: Long = Option(query.lastProgress)
    .flatMap(_.sources.headOption).flatMap(s => Option(s.endOffset))
    .flatMap(_.trim.toLongOption).getOrElse(-1L)

  /** Block until the stream's last progress has reached `version`. */
  def awaitFold(version: Long): Unit =
    while (folded < version) {
      if (!query.isActive) throw new IllegalStateException(
        "change-feed stream stopped", query.exception.orNull)
      Thread.sleep(1)
    }

  /** Mismatches between the view and a full group-by of the table at its
    * final version.
    */
  def check(): Seq[String] = {
    val version = db.logVersion
    awaitFold(version)
    val full = db.tableAt(table, version).get.groupBy("site").agg(
      count(lit(1)).as(MaterializedView.CountCol),
      sum(col("value").cast(MaterializedView.SumType))
        .cast(MaterializedView.SumType).as(MaterializedView.sumCol("value")),
      min(col("value")).as(MaterializedView.minColName("value")),
      max(col("value")).as(MaterializedView.maxColName("value")))
    val cols = full.columns.toSeq.map(col)
    if (Workload.tuples(viewDb.table(view.view).select(cols: _*)) ==
        Workload.tuples(full.select(cols: _*))) Nil
    else Seq(s"${view.view}: differs from a full group-by of $table at version $version")
  }

  def tracked: (GraftDatabase, Seq[String]) = viewDb -> Seq(view.view)
  def close(): Unit = { query.stop(); () }
}
