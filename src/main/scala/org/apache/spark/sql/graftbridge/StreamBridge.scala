package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.streaming.Source
import org.apache.spark.sql.execution.streaming.runtime.StreamingExecutionRelation

/** Streaming plan factories for a V1 [[Source]] defined outside Spark. The
  * plan nodes and `Dataset.ofRows` are `private[sql]`; Spark's own sources
  * use the same two steps (`MemoryStream.toDF`, `FileStreamSource.getBatch`).
  */
object StreamBridge {

  private def classicOf(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** An unbounded streaming DataFrame over `source`. */
  def stream(spark: SparkSession, source: Source): DataFrame =
    classic.Dataset.ofRows(classicOf(spark), StreamingExecutionRelation(
      source, DataTypeUtils.toAttributes(source.schema), None)(spark))

  /** `batch`, a batch read, re-marked as one micro-batch of `source`: each
    * relation leaf becomes streaming, and a file relation names `source`, as
    * the batches of Spark's own file source do.
    */
  def microBatch(batch: DataFrame, source: Source): DataFrame =
    classic.Dataset.ofRows(classicOf(batch.sparkSession),
      batch.queryExecution.analyzed.transform {
        case l: LogicalRelation => l.copy(isStreaming = true, stream = Some(source))
        case l: LocalRelation   => l.copy(isStreaming = true)
      })
}
