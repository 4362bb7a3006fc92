package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StreamBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.engine.Engine
import graft.functions.BflExpressions

/** Structured-Streaming re-expression of the reference's live tail
  * (reference: SURVEY §2.6): the reference blocks on fsnotify after the
  * history scan and reads forward from the last offset it served
  * (native.go:369-523, 1139-1155). Here the offset is the log's own record
  * id: a streaming source polls the engine's committed manifest
  * (`meta.json`) every trigger and reads only the batches holding ids past
  * the last micro-batch. The protocol server's `/query`
  * ([[startTailScan]]) is the only tail.
  */
object Streaming {

  private val recordSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("doc", StringType, nullable = false)
  ))

  /** The record log as a replayable stream of id ranges. The offset is the
    * highest committed id, read from the manifest, which is the log's commit
    * point; a micro-batch `(start, end]` reads only the manifest batches whose
    * id ranges overlap it. Ids are contiguous and compaction never changes
    * them, so each record is read once however the batches are rewritten or
    * evicted in between. The offset never goes backwards, not even after a
    * `/reset` restarts the ids.
    */
  private final class LogSource(spark: SparkSession, engineDir: String, startAfter: Long)
      extends Source {

    /** End of the latest micro-batch offered. */
    private var offered = startAfter

    /** The running micro-batch's ids, `(start, end]`. Set and read on the
      * query's own thread only.
      */
    var range: (Long, Long) = (startAfter, startAfter)

    def schema: StructType = recordSchema

    private def manifest(): Engine.Meta = {
      val p = Paths.get(engineDir, "meta.json")
      if (Files.exists(p)) Engine.Meta.fromJson(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      else Engine.Meta()
    }

    /** One micro-batch spans at most [[Engine.MaxStepRows]] ids. */
    def getOffset: Option[Offset] = {
      val committed = manifest().highWater - 1
      if (committed > offered) offered = math.min(committed, offered + Engine.MaxStepRows)
      if (offered > startAfter) Some(LongOffset(offered)) else None
    }

    def getBatch(start: Option[Offset], end: Offset): DataFrame = {
      range = (start.fold(startAfter)(idOf), idOf(end))
      StreamBridge.microBatch(read(range), this)
    }

    /** Records with ids in `(start, end]`, from the batches the current
      * manifest lists for them. A dir that leaves the manifest between the
      * lookup and path resolution fails the plan, and the lookup is retried.
      * A file deleted after planning fails the read rather than being
      * skipped, overriding the session's `ignoreMissingFiles`: a compaction
      * moved its rows, it did not remove them.
      */
    def read(ids: (Long, Long)): DataFrame = {
      val (lo, hi) = ids
      var attempt = 0
      while (true) {
        val paths = manifest().batches
          .filter(b => b.lastId > lo && b.firstId <= hi)
          .map(b => Paths.get(engineDir, "records", b.name).toString)
        try {
          val files =
            if (paths.isEmpty) spark.createDataFrame(java.util.List.of[Row](), recordSchema)
            else spark.read.schema(recordSchema).option("ignoreMissingFiles", "false")
              .parquet(paths: _*)
          return files.where(col("id") > lo && col("id") <= hi)
        } catch {
          case e: Exception if attempt < 5 && Engine.isEvictionRace(e) => attempt += 1
        }
      }
      throw new IllegalStateException("unreachable")
    }

    def stop(): Unit = ()
  }

  /** The id of a [[LongOffset]], or of its serialized form. */
  private def idOf(o: Offset): Long = o.json.toLong

  /** (id, doc-or-null) per record, doc non-null iff it matches the BFL query
    * (transformed, e.g. redacted, when the query asks for it). UNFILTERED:
    * the protocol server emits a `/metadata` line per SCANNED record like the
    * reference's watch loop (native.go:432-518), so it needs the misses too.
    * One JSON parse and one interpreter walk per row.
    */
  private def flags(records: DataFrame, query: String): DataFrame =
    records.select(col("id"), BflExpressions.bflEval(col("doc"), query).as("doc"))

  /** Drain one micro-batch to the driver in id order: one task reads the
    * batch's files and sorts them (no sampling pass, no exchange), then the
    * callback fires per `chunk`-bounded group. The sort is needed because a
    * distributed insert writes one batch as several part files. The driver
    * holds at most one micro-batch, which spans at most
    * [[Engine.MaxStepRows]] ids.
    */
  private def drainOrdered(batch: Dataset[Row], chunk: Int)(f: Seq[Row] => Unit): Unit =
    batch.coalesce(1).sortWithinPartitions("id").toLocalIterator().asScala
      .grouped(chunk)
      .foreach(g => f(g.toSeq))

  /** Start an unfiltered scan-tail of the records with ids above
    * `startAfter`, pushing (id, doc-or-None) per record. `onBatch` fires per
    * bounded chunk (≤ `maxRowsPerChunk`), in id order; the second argument
    * is the chunk's high-water id (resume point).
    */
  def startTailScan(
      spark: SparkSession,
      engineDir: String,
      query: String,
      startAfter: Long,
      onBatch: (Seq[(Long, Option[String])], Long) => Unit,
      maxRowsPerChunk: Int = 8192
  ): StreamingQuery = {
    val source = new LogSource(spark, engineDir, startAfter)
    flags(StreamBridge.stream(spark, source), query).writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // A compaction or eviction with no GC grace can delete a dir after
        // the batch planned it. The job then fails before any row reaches
        // the driver, and the range is read again from the current manifest.
        var rows = batch
        var attempt = 0
        var drained = false
        while (!drained) {
          try {
            drainOrdered(rows, maxRowsPerChunk) { chunk =>
              val docs = chunk.map(r =>
                (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getString(1))))
              onBatch(docs, docs.last._1)
            }
            drained = true
          } catch {
            case e: Exception if attempt < 5 && Engine.isEvictionRace(e) =>
              attempt += 1
              rows = flags(source.read(source.range), query)
          }
        }
      }
      .start()
  }
}
