package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The pluggable storage surface the protocol server talks to — the Spark
  * re-expression of the reference's 14-method `Storage` interface
  * (reference: server/lib/structs.go:90-107). One driver ships (the
  * Parquet-log [[Engine]], the analog of the reference's sole `native`
  * driver), but the server is written against this trait so an alternative
  * backend (e.g. an object-store log, a Delta-style table) drops in without
  * touching the protocol layer.
  *
  * | reference method              | here                                   |
  * |-------------------------------|----------------------------------------|
  * | Init / DumpCore / RestoreCore | constructor + durable meta.json        |
  * | InsertData                    | insert / insertDistributed             |
  * | ValidateQuery / PrepareQuery  | validate / expandMacros                |
  * | StreamRecords                 | scanWithFlags + the streaming tail     |
  * | RetrieveSingle                | single (the one batch covering the id) |
  * | Fetch                         | fetch / fetchScan (batch by batch from |
  * |                               | leftOff, stopping at the limit)        |
  * | ApplyMacro / GetMacros        | addMacro / macros                      |
  * | SetLimit / SetInsertionFilter | setLimit / setInsertionFilter          |
  * | Flush / Reset                 | flush / reset                          |
  * | HandleExit                    | close                                  |
  *
  * The reference's offsets[] + partitionRefs[] index (native.go:70-76) is
  * the batch manifest in meta.json: each batch entry carries its id range,
  * row count, bytes and max ts, so a read opens only the batches that can
  * hold its ids.
  *
  * The wire benchmark's `TimedStorage` (`wirebench/.../Trace.scala`)
  * implements every method here and forwards each to the engine, so
  * removing a method the server never calls (`records`, `query`,
  * `queryExpanded`, `fetch`) breaks the benchmark's build; it has to change
  * together with the benchmark.
  */
trait Storage {

  /** Session queries run on; the streaming tail attaches here. */
  def spark: SparkSession

  /** Log directory; the streaming tail reads its manifest and batches. */
  def dir: String

  def insert(jsonDocs: Seq[String]): Seq[Long]
  def insertDistributed(lines: Dataset[String], writeShards: Int = 4): Seq[Long]

  def records(): DataFrame
  def query(leftOff: String, queryStr: String): DataFrame
  def queryExpanded(leftOff: String, expanded: String): DataFrame
  def scanWithFlags(leftOff: String, expanded: String): DataFrame
  def single(index: Long, queryStr: String): Option[String]
  def fetch(leftOff: Long, direction: Int, queryStr: String, limit: Int): (Seq[String], Engine.FetchMeta)
  def fetchScan(leftOff: Long, direction: Int, queryStr: String, limit: Int)
      : (Iterator[(Long, Option[String])], Long, Long)

  def validate(queryStr: String): Either[String, Unit]
  def addMacro(name: String, expanded: String): Unit
  def setInsertionFilter(queryStr: String): Either[String, Unit]
  def setLimit(bytes: Long): Unit
  def flush(): Unit
  def reset(): Unit

  def totalRecords: Long
  def highWater: Long
  def truncatedTimestamp: Long
  def macros: Map[String, String]
  def expandMacros(q: String): String

  /** Release background resources (tickers, pools). Idempotent. */
  def close(): Unit
}
