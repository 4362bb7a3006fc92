package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine

/** Live-tail semantics: history is replayed, then NEW inserts keep arriving
  * through the same query (reference behavior of `/query`,
  * native.go:369-523 + watchPartitions).
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = graft.Sessions
    .builder("local[4]", 4)
    .appName("streaming-spec")
    .getOrCreate()

  test("tail replays history then picks up new inserts, with redact applied") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft-tail").toString
    val engine = new Engine(spark, dir)
    engine.insert((0 until 10).map(i => s"""{"n":$i,"keep":${i % 2 == 0}}"""))

    val seen = mutable.ArrayBuffer[(Long, Option[String])]()
    @volatile var lastLeftOff = -1L
    val q = Streaming.startTailScan(spark, dir, """keep == true and redact("n")""", -1L,
      (rows, leftOff) => { seen.synchronized { seen ++= rows }; lastLeftOff = leftOff })
    def matched = seen.synchronized(seen.collect { case (id, Some(doc)) => (id, doc) }.toList)
    try {
      q.processAllAvailable()
      // every scanned record arrives; only matches carry a (redacted) doc
      assert(seen.synchronized(seen.map(_._1).toList) == (0L until 10L))
      assert(matched.map(_._1).toSet == Set(0L, 2L, 4L, 6L, 8L))
      assert(matched.forall(_._2.contains("\"n\":\"[REDACTED]\"")))

      engine.insert((10 until 16).map(i => s"""{"n":$i,"keep":${i % 2 == 0}}"""))
      q.processAllAvailable()
      assert(matched.map(_._1).toSet == Set(0L, 2L, 4L, 6L, 8L, 10L, 12L, 14L))
      assert(matched.forall(_._2.contains("\"n\":\"[REDACTED]\"")))
      assert(lastLeftOff == 15L)
    } finally q.stop()
  }

  test("tail drains a large backlog in bounded ordered chunks, never whole") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft-tail-chunk").toString
    val engine = new Engine(spark, dir)
    // one big backlog micro-batch: 5000 records, all matching
    engine.insert((0 until 5000).map(i => s"""{"n":$i,"keep":true}"""))

    val chunks = mutable.ArrayBuffer[Seq[(Long, Option[String])]]()
    val q = Streaming.startTailScan(spark, dir, """keep == true""", -1L,
      (rows, _) => chunks.synchronized { chunks += rows },
      maxRowsPerChunk = 256)
    try {
      q.processAllAvailable()
      val snap = chunks.synchronized(chunks.toList)
      // the backlog arrived split into many bounded chunks…
      assert(snap.size >= 5000 / 256, s"expected many chunks, got ${snap.size}")
      assert(snap.forall(_.size <= 256), "a chunk exceeded maxRowsPerChunk")
      // …covering every record exactly once, in GLOBAL id order across
      // chunk boundaries (the per-chunk high-water is only a valid resume
      // point if ordering holds end-to-end)
      val ids = snap.flatten.map(_._1)
      assert(ids == ids.sorted && ids.distinct.size == ids.size, "ids out of order or duplicated")
      assert(ids.size == 5000 && ids.head == 0L && ids.last == 4999L)
    } finally q.stop()
  }

  /** Records a query's micro-batch progress (`numInputRows` is what its
    * source read) and the Spark jobs its micro-batches run.
    */
  private final class TailMeter {
    private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val jobQueries = new ConcurrentLinkedQueue[String]()
    private val Marker = "tail-meter-marker"
    private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    @volatile private var markerDone = false
    private val streams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress); ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    private val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.job.description").contains(Marker)) markerJobs.add(e.jobId)
        else prop("sql.streaming.queryId").foreach(jobQueries.add)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone = true
    }
    spark.streams.addListener(streams)
    spark.sparkContext.addSparkListener(jobs)

    /** Rows read per non-empty micro-batch of `q`, once the listeners have
      * caught up with its last progress, and the jobs `q` ran.
      */
    def of(q: StreamingQuery): (Seq[Long], Int) = {
      val last = q.lastProgress.batchId
      def mine = progress.asScala.filter(_.id == q.id).toSeq
      val deadline = System.currentTimeMillis() + 10000
      while (!mine.exists(_.batchId == last) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      // job events travel on another listener queue: a job of our own, run
      // after the query's, ends only once that queue has passed them
      markerDone = false
      spark.sparkContext.setJobDescription(Marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      while (!markerDone && System.currentTimeMillis() < deadline) Thread.sleep(20)
      (mine.map(_.numInputRows).filter(_ > 0),
        jobQueries.asScala.count(_ == q.id.toString))
    }

    def stop(): Unit = {
      spark.streams.removeListener(streams)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("tail reads only new ids: none of the preload, each later record once, one job per batch") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft-tail-reads").toString
    val engine = new Engine(spark, dir, compactMinRun = 2, compactKeepRecent = 0,
      compactMinAgeMs = 0L, compactInBackground = false, gcGraceMs = 0L)
    def docs(from: Int, n: Int) = (from until from + n).map(i => s"""{"n":$i,"keep":${i % 3 == 0}}""")
    val k = 600
    (0 until 3).foreach(b => engine.insert(docs(b * 200, 200)))
    val meter = new TailMeter
    val seen = mutable.ArrayBuffer[Long]()
    // started after the preload, as the server starts a tail after its history
    val q = Streaming.startTailScan(spark, dir, "keep == true", k - 1L,
      (rows, _) => seen.synchronized { seen ++= rows.map(_._1) })
    try {
      q.processAllAvailable()
      assert(seen.synchronized(seen.isEmpty), "the tail delivered preloaded records")
      var next = k
      def grow(n: Int): Unit = { engine.insert(docs(next, n)); next += n; q.processAllAvailable() }
      grow(50)
      grow(70)
      // every dir so far, read or not by the tail, becomes one batch; the
      // replaced dirs are deleted at once
      engine.compactionTick()
      assert(Files.list(Paths.get(dir, "records")).count() == 1, "compaction did not run")
      grow(40)
      grow(40)
      val m = next - k
      val (batchRows, jobs) = meter.of(q)
      assert(seen.synchronized(seen.toList) == (k.toLong until next.toLong))
      assert(batchRows.sum == m, s"rows read per micro-batch: $batchRows")
      assert(batchRows.nonEmpty && jobs == batchRows.size,
        s"${batchRows.size} micro-batches ran $jobs jobs")
      assert(q.isActive)
    } finally { q.stop(); meter.stop(); engine.close() }
  }

  test("a multi-part batch from a distributed insert reaches the tail in id order") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft-tail-parts").toString
    val engine = new Engine(spark, dir)
    engine.insert(Seq("""{"n":0}"""))
    val seen = mutable.ArrayBuffer[Long]()
    val q = Streaming.startTailScan(spark, dir, "n >= 0", 0L,
      (rows, _) => seen.synchronized { seen ++= rows.map(_._1) })
    try {
      q.processAllAvailable()
      val lines = spark.createDataset((1 to 400).map(i => s"""{"n":$i}"""))(Encoders.STRING)
        .repartition(4)
      assert(engine.insertDistributed(lines, writeShards = 4) == (1L to 400L))
      val parts = Files.list(Paths.get(dir, "records", "batch_000000001")).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(parts > 1, s"the batch was written as $parts part file(s)")
      q.processAllAvailable()
      val ids = seen.synchronized(seen.toList)
      assert(ids == (1L to 400L), "ids missing, repeated or out of order")
    } finally { q.stop(); engine.close() }
  }

  test("stateful sessionization closes sessions on gap and carries state across batches") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Sessionize.Event]
    val sessions = Sessionize.sessionize(source.toDS(), gapMs = 1000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      // batch 1: user 1 has two events 500ms apart (one session, still open)
      source.addData(Sessionize.Event(1L, 1000L), Sessionize.Event(1L, 1500L))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM sessions_out").count() == 0) // still open
      // batch 2: a 5s-later event closes the first session and opens another
      source.addData(Sessionize.Event(1L, 6500L))
      q.processAllAvailable()
      val closed = spark.sql("SELECT userId, startMs, endMs, nEvents FROM sessions_out")
        .as[(Long, Long, Long, Long)].collect()
      assert(closed.toSeq == Seq((1L, 1000L, 1500L, 2L)))
    } finally q.stop()
  }

  test("streaming EWMA folds gap days as zeros and seeds at the first closed day") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val day = 86400000L
    // key "a": day0×2, day1 empty (gap), day2×2, day3×20 (spike), sentinel.
    // fold: seed 2, gap → .7·2=1.4, day2 → .3·2+.7·1.4=1.58; day3 resid
    // 20−1.58=18.42 — same numbers as the batch hand spec
    val evs =
      Seq.fill(2)(StreamEwma.Event("a", 0L)) ++
      Seq.fill(2)(StreamEwma.Event("a", 2 * day)) ++
      Seq.fill(20)(StreamEwma.Event("a", 3 * day)) :+
      StreamEwma.Event("a", 5 * day)
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamEwma.Event]
    val q = StreamEwma.anomalies(source.toDS(), gateMult = 0.0)
      .writeStream.outputMode("append")
      .format("memory").queryName("ewma_gap").start()
    try {
      source.addData(evs.toIndexedSeq: _*)
      q.processAllAvailable()
      val out = spark.sql("SELECT dayMs, n, levelPrev, resid FROM ewma_gap")
        .as[(Long, Long, Double, Double)].collect().sorted.toSeq
      // day0 seeds (unjudged), day2 judged against .7·2, day3 the spike
      assert(out == Seq((2 * day, 2L, 1.4, 0.6), (3 * day, 20L, 1.58, 18.42)),
        s"$out")
    } finally q.stop()
  }

  test("streaming dedup keeps first arrivals only, normalized across formatting") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String)]
    val deduped = StreamDedup.firstArrivals(
      source.toDS().toDF("ts", "text"), "text", "ts", "10 minutes")
    val q = deduped
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    try {
      source.addData(
        (t(0), "alpha beta gamma"),
        (t(1), "alpha beta gamma"),     // exact dup
        (t(2), "  ALPHA  beta GAMMA "), // formatting-only dup (normalized key)
        (t(3), "something else"))
      q.processAllAvailable()
      // a second micro-batch with one more dup and one new doc
      source.addData((t(4), "alpha beta gamma"), (t(5), "third doc"))
      q.processAllAvailable()
      val out = spark.table("dedup_out").select("text").as[String].collect().toSeq
      assert(out.sorted == Seq("alpha beta gamma", "something else", "third doc"),
        s"got $out")
    } finally q.stop()
  }

  test("stream-stream interval join matches batch, plans symmetric hash join") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // purchases at :10 and :40; clicks land in/out of each trailing 15 min
    val purchases = Seq((100L, 1L, t(10)), (101L, 1L, t(40)), (102L, 2L, t(20)))
    val clicks = Seq(
      (1L, t(0)),  // 10 min before p100: in
      (1L, t(9)),  // in
      (1L, t(11)), // after p100, 29 min before p101: out of both
      (1L, t(30)), // 10 min before p101: in
      (2L, t(1)))  // 19 min before p102: out
    val pSrc = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cSrc = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val joined = StreamJoin.intervalJoin(
      pSrc.toDS().toDF("p_id", "p_user", "p_ts"), "p_user", "p_ts",
      cSrc.toDS().toDF("c_user", "c_ts"), "c_user", "c_ts",
      horizonSeconds = 900L)
    val q = joined
      .writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      pSrc.addData(purchases: _*)
      cSrc.addData(clicks: _*)
      q.processAllAvailable()
      val got = spark.table("ij_out")
        .select("p_id", "c_ts").as[(Long, java.sql.Timestamp)]
        .collect().toSeq.sorted
      // the SAME operator call on batch frames is the parity reference
      val want = StreamJoin.intervalJoin(
        purchases.toDF("p_id", "p_user", "p_ts"), "p_user", "p_ts",
        clicks.toDF("c_user", "c_ts"), "c_user", "c_ts", 900L)
        .select("p_id", "c_ts").as[(Long, java.sql.Timestamp)]
        .collect().toSeq.sorted
      assert(got == want, s"stream $got != batch $want")
      assert(got.map(_._1) == Seq(100L, 100L, 101L), got.toString)
      // state-bounded join: the planner must have accepted the watermark +
      // time-range predicate as a symmetric hash join with state eviction
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("StreamingSymmetricHashJoin"),
        s"interval join not planned as bounded-state stream join:\n$plan")
    } finally q.stop()
  }

  test("streaming CMS: constant d·w state, final counters equal the batch sketch") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val (depth, width) = (4, 64)
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val counters = StreamSketch.cmsCounters(
      source.toDS().toDF("text"), "text", n = 2, depth = depth, width = width)
    val q = counters
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("complete").start()
    val b1 = Seq("hot pair hot pair hot pair", "cold one here", "another doc text")
    val b2 = Seq("hot pair again", "late arrival doc", "cold one here")
    try {
      source.addData(b1: _*)
      q.processAllAvailable()
      source.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("cms_out").as[(Int, Long, Long)].collect().toSeq.sorted
      // parity: the SAME definition over the full history as a batch frame
      val want = StreamSketch.cmsCounters(
        (b1 ++ b2).toDF("text"), "text", n = 2, depth = depth, width = width)
        .as[(Int, Long, Long)].collect().toSeq.sorted
      assert(got == want, s"stream counters != batch sketch of history")
      assert(got.nonEmpty && got.map(_._3).sum ==
        (b1 ++ b2).map(_.split("\\s+").length - 1).sum * depth)
      // the selling point: state is the matrix itself, bounded by d·w
      // regardless of stream length or vocabulary growth
      val rows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(rows <= depth.toLong * width,
        s"state $rows exceeds the d*w=${depth * width} bound")
    } finally q.stop()
  }
}
