package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.engine.Engine
import graft.functions.BflExpressions

/** Structured-Streaming re-expression of the reference's live semantics
  * (reference: SURVEY §2.6):
  *
  *   - live tail: the reference blocks on fsnotify after the history scan and
  *     keeps emitting matches forever (native.go:369-523, 1139-1155). Here a
  *     file-source streaming query over the engine's record log picks up new
  *     Parquet batches as the writer lands them — "new data wakes the query"
  *     is the default micro-batch behavior.
  *   - streaming ingest: a line stream (socket source or any Dataset[String])
  *     runs the insertion filter + transform and appends to the engine log
  *     with contiguous id assignment in `foreachBatch` (single writer per
  *     log, matching the reference's storage mutex; at cluster scale each
  *     shard/topic gets its own log + writer).
  */
object Streaming {

  private val recordSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("doc", StringType, nullable = false)
  ))

  /** Continuous `/query`: history + tail over the engine's log, filtered by
    * the BFL query, docs transformed (redact) when the query asks for it.
    * Caller attaches a sink (`.writeStream.foreachBatch(...)` / memory).
    */
  def tail(spark: SparkSession, engineDir: String, query: String): DataFrame = {
    // ignoreMissingFiles: engine compaction renames old batch dirs away
    // mid-micro-batch; the consolidated dir is a NEW file the source picks up
    // next trigger, so skipped rows are re-delivered (at-least-once) and the
    // consumer's monotonic id filter (ids ≤ resume point dropped, as the
    // protocol server's tail does) restores exactly-once.
    val stream = spark.readStream
      .schema(recordSchema)
      .option("maxFilesPerTrigger", "64")
      .option("ignoreMissingFiles", "true")
      .parquet(s"$engineDir/records/batch_*")
    // fused match+transform: one JSON parse + one interpreter walk per row
    stream
      .withColumn("doc", BflExpressions.bflEval(col("doc"), query))
      .where(col("doc").isNotNull)
  }

  /** Like [[tail]] but UNFILTERED: every new record arrives as
    * (id, doc-or-null), doc non-null iff it matches the query — the protocol
    * server emits a `/metadata` line per SCANNED record like the reference's
    * watch loop (native.go:432-518), so it needs the misses too.
    */
  def tailScan(spark: SparkSession, engineDir: String, query: String): DataFrame = {
    val stream = spark.readStream
      .schema(recordSchema)
      .option("maxFilesPerTrigger", "64")
      .option("ignoreMissingFiles", "true") // see tail(): compaction re-delivery
      .parquet(s"$engineDir/records/batch_*")
    stream.select(col("id"), BflExpressions.bflEval(col("doc"), query).as("doc"))
  }

  /** Drain one micro-batch to the driver in GLOBAL id order without ever
    * materializing it whole: the sort runs distributed (range exchange +
    * in-partition sort), `toLocalIterator` then fetches ONE sorted partition
    * at a time — range partitions are ordered, so partition-by-partition
    * iteration IS the global order — and the callback fires per
    * `chunk`-bounded group. Driver footprint: max(one shuffle partition,
    * one chunk), instead of the whole micro-batch; a driver-held TCP tail
    * over an unselective query on a large backlog stays flat.
    */
  private def drainOrdered(batch: Dataset[org.apache.spark.sql.Row], chunk: Int)(
      f: Seq[org.apache.spark.sql.Row] => Unit): Unit = {
    import scala.jdk.CollectionConverters._
    batch.orderBy("id").toLocalIterator().asScala
      .grouped(chunk)
      .foreach(g => if (g.nonEmpty) f(g.toSeq))
  }

  /** Start an unfiltered scan-tail pushing (id, doc-or-None) per record.
    * `onBatch` fires per bounded chunk (≤ `maxRowsPerChunk`), in global id
    * order; the second argument is the chunk's high-water id (resume point).
    */
  def startTailScan(
      spark: SparkSession,
      engineDir: String,
      query: String,
      onBatch: (Seq[(Long, Option[String])], Long) => Unit,
      maxRowsPerChunk: Int = 8192
  ): StreamingQuery =
    tailScan(spark, engineDir, query).writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        drainOrdered(batch, maxRowsPerChunk) { rows =>
          val docs = rows.map(r =>
            (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getString(1))))
          onBatch(docs, docs.last._1)
        }
      }
      .start()

  /** Start a tail that pushes matched records (ordered by id) to `onBatch`
    * in bounded chunks. The per-chunk high-water id is the resume point —
    * the streaming analog of the reference's per-record `/metadata.leftOff`.
    */
  def startTail(
      spark: SparkSession,
      engineDir: String,
      query: String,
      onBatch: (Seq[(Long, String)], Long) => Unit,
      maxRowsPerChunk: Int = 8192
  ): StreamingQuery =
    tail(spark, engineDir, query).writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        drainOrdered(batch.select("id", "doc"), maxRowsPerChunk) { rows =>
          val docs = rows.map(r => (r.getLong(0), r.getString(1)))
          onBatch(docs, docs.last._1)
        }
      }
      .start()

  /** Streaming ingest: pipe a line-stream into the engine. Each micro-batch
    * applies the insertion filter and assigns contiguous ids (reference:
    * /insert wiring server.go:163-164).
    *
    * `ingestShards` > 1 (DEFAULT — the scale path) routes each batch
    * through [[Engine.insertDistributed]]: executor-side
    * parse/filter/id-inject and that many parallel Parquet part writers.
    * `= 1` drains the batch through the driver-side single-writer
    * `Engine.insert` — identical observable semantics, but the driver's
    * Jackson parse caps throughput (~24k rec/s measured); it exists for
    * the strict wire-protocol mode where the caller needs the inserted id
    * list synchronously on the driver, and for tiny trickle streams where
    * a distributed batch job per trigger costs more than it buys.
    */
  def startIngest(
      lines: Dataset[String],
      engine: Engine,
      trigger: Trigger = Trigger.ProcessingTime("500 milliseconds"),
      ingestShards: Int = 4
  ): StreamingQuery =
    lines.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[String], _: Long) =>
        if (ingestShards > 1) { engine.insertDistributed(batch, ingestShards); () }
        else {
          val docs = batch.collect().toSeq
          if (docs.nonEmpty) engine.insert(docs)
          ()
        }
      }
      .start()
}
