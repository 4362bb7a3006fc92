package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Central table loaders for the driver-generated parquet fixtures.
  *
  * `events.parquet` has carried two `ts` encodings across fixture
  * generations, both normalized here to a microsecond TimestampType so every
  * downstream consumer sees one type:
  *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it unless
  *     `spark.sql.legacy.parquet.nanosAsLong=true` (see [[Sessions]]), after
  *     which `ts` arrives as a Long of epoch nanoseconds — normalized with
  *     integer arithmetic (no double rounding);
  *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): read as TimestampNTZType —
  *     cast to TimestampType, which is an identical instant because the
  *     session time zone is pinned UTC ([[Sessions]]).
  */
object Tables {

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      // runtime-settable; makes events readable even when the caller's
      // session (e.g. the driver's own) didn't set it at build time
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer DIV: double division would lose sub-µs precision at 1e18 ns
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
    else df
  }

  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}

/** Session config shared by Verify/Bench/tests.
  *
  * `builder` returns a thin facade whose `getOrCreate()` also performs the
  * session-level wiring `SparkSessionExtensions` cannot express:
  * [[graft.plans.FilterCseBinding]] must run in the "User Provided
  * Optimizers" batch (after every pushdown batch), which only
  * `spark.experimental.extraOptimizations` reaches.
  */
object Sessions {

  final class Builder private[Sessions] (b: SparkSession.Builder) {
    def appName(n: String): Builder = new Builder(b.appName(n))
    def config(k: String, v: String): Builder = new Builder(b.config(k, v))
    def getOrCreate(): SparkSession = {
      val s = b.getOrCreate()
      if (!s.experimental.extraOptimizations.contains(graft.plans.FilterCseBinding))
        s.experimental.extraOptimizations ++= Seq(graft.plans.FilterCseBinding)
      s
    }
  }

  def builder(master: String, cpus: Int): Builder =
    new Builder(rawBuilder(master, cpus))

  private def rawBuilder(master: String, cpus: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // RocksDB state store session-wide: the provider transformWithState
      // REQUIRES (Sessionize/StreamFunnel/StreamNearDup/StreamKmv/StreamHll)
      // and the production choice for every other stateful streaming op —
      // state spills off-heap instead of growing the executor heap with the
      // key space
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // NOTE: transformWithState state schemas pass through the Avro
      // converter no matter what encodingFormat says, so state classes must
      // avoid non-string-key Maps — StreamPsi/StreamQuantile/StreamAci carry
      // their histograms as key-sorted parallel arrays for this reason.
      // a missing file fails a read (Spark's default): a batch file the
      // engine's retention or compaction deletes under a reader makes the
      // engine replan (Engine.readBatches), where a skip would silently
      // drop rows a compaction only moved
      // plan audits read PushedFilters from plan strings; don't truncate
      .config("spark.sql.debug.maxToStringFields", "200")
      .config("spark.sql.maxMetadataStringLength", "10000")
      // graft.plans.TimestampPushdown: restores Parquet pushdown for
      // timestamp predicates over the nanos-backed event log
      .withExtensions(new graft.plans.GraftExtensions()(_))
}
