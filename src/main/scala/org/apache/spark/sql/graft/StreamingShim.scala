package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow

/** The sink half of the V1 streaming bridge. (The SOURCE half —
  * `internalCreateDataFrame(isStreaming = true)` — is gone: the
  * change-feed source is a DataSource V2 `MicroBatchStream` now and
  * produces partitions through the public connector API.)
  */
object StreamingShim {
  /** For a V1 `Sink.addBatch`: the engine hands the batch as a
    * STREAMING-flagged frame, which refuses ordinary batch actions —
    * re-wrap it exactly the way ForeachBatchSink does. The V1 `Sink`
    * stays the right API for this sink because `applyChanges` is a
    * whole-batch DataFrame transaction (the same reason Delta's
    * streaming sink is V1).
    */
  def asBatch(df: DataFrame): DataFrame = {
    val session = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}

/** RDD-level access to a DataFrame's executed plan (`queryExecution`
  * lives on the `classic` implementation, not the abstract API class).
  * Used by the V2 micro-batch staging writer, which needs the rows as
  * `InternalRow` to serialize them in UnsafeRow wire format.
  */
object RddShim {
  def toInternalRowRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.toRdd
}

/** Session-conf introspection (`sessionState` is `private[sql]`). */
object ConfShim {
  /** True when `key` was EXPLICITLY set on this session — set via
    * `spark.conf.set`, builder `.config`, or `--conf` — as opposed to
    * resolving through the conf's default. `RuntimeConfig` cannot make
    * that distinction (its get resolves defaults), but respecting an
    * explicit user choice that HAPPENS to equal a default we would
    * otherwise override requires it.
    */
  def isSetByUser(spark: org.apache.spark.sql.SparkSession,
      key: String): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.contains(key)
}

/** Column ↔ Expression bridging (`classic.ExpressionUtils` is
  * `private[sql]`) — the two conversions a custom Catalyst expression
  * needs to surface as a user-facing Column without a registry round
  * trip.
  */
object ExprShim {
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Column = org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}

/** Driver-held batches (`Dataset.ofRows` is `private[sql]`). */
object LocalRowsShim {
  import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
    LogicalPlan, RepartitionOperation, Sort}

  /** The rows of `df` when its optimized plan is a local relation of at
    * most `maxRows` rows, possibly under repartition or sort nodes (they
    * move rows, they do not change the row set), read on the driver with
    * no Spark job; None otherwise.
    */
  def localRows(df: DataFrame, maxRows: Int): Option[Array[Row]] = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case r: RepartitionOperation => strip(r.child)
      case s: Sort => strip(s.child)
      case other => other
    }
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    if (!isLocal(df)) None
    else strip(ds.queryExecution.optimizedPlan) match {
      case l: LocalRelation if !l.isStreaming && l.data.length <= maxRows =>
        Some(org.apache.spark.sql.classic.Dataset
          .ofRows(ds.sparkSession, l).collect())
      case _ => None
    }
  }

  /** True when every leaf of `df`'s analyzed plan is a local relation —
    * a cheap test, with no optimizer run.
    */
  private def isLocal(df: DataFrame): Boolean =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])
}

/** Parquet footer → Spark schema through Spark's own conversion (the
  * converter and `StructType.asNullable` are internal API).
  */
object ParquetSchemaShim {
  import org.apache.parquet.hadoop.Footer
  import org.apache.parquet.hadoop.metadata.ParquetMetadata
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
    ParquetToSparkSchemaConverter}
  import org.apache.spark.sql.types.StructType

  /** The schema `spark.read.parquet(file).schema` gives a file with this
    * footer: the Spark schema its writer recorded (or the footer's
    * parquet schema converted under this session's parquet read confs),
    * every field nullable as a file-source relation reports it.
    */
  def schemaOf(spark: org.apache.spark.sql.SparkSession)
      : (String, ParquetMetadata) => StructType = {
    val converter = new ParquetToSparkSchemaConverter(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.conf)
    (path, footer) => ParquetFileFormat.readSchemaFromFooter(
      new Footer(new org.apache.hadoop.fs.Path(path), footer), converter)
      .asNullable
  }
}
