package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.bfl.JsonTree

/** Manifest id ranges: every `meta.json` entry carries its batch's
  * firstId..lastId, row count, bytes and max ts, so `/single` and `/fetch`
  * open only the batches that can hold the answer, retention is arithmetic
  * over the manifest, and a names-only manifest is ranged from Parquet
  * footers at open (the reference's offsets[] + partitionRefs[] index,
  * native.go:70-76, at batch granularity).
  */
class ManifestRangeSpec extends AnyFunSuite {

  private lazy val spark = graft.Sessions
    .builder("local[4]", 4)
    .appName("manifest-range-spec")
    .getOrCreate()

  private val perBatch = 200

  private def engine(dir: String): Engine = {
    spark.sparkContext.setLogLevel("WARN")
    new Engine(spark, dir, compactMinRun = 4, compactKeepRecent = 2,
      compactMinAgeMs = 0L, compactInBackground = false, gcGraceMs = 0L)
  }

  private def doc(n: Int): String =
    s"""{"n":$n,"rare":${n % 50 == 0},"timestamp":${1700000000000L + n}}"""

  /** Appends `batches` batches of [[perBatch]] docs, numbered on from `from`. */
  private def grow(e: Engine, from: Int, batches: Int): Unit =
    (0 until batches).foreach { b =>
      e.insert((0 until perBatch).map(i => doc(from + b * perBatch + i)))
    }

  private def manifest(dir: String): Engine.Meta =
    Engine.Meta.fromJson(new String(Files.readAllBytes(Paths.get(dir, "meta.json")),
      StandardCharsets.UTF_8))

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Every entry is ranged, ranges tile the live ids in order, and each
    * entry's sizes match its dir.
    */
  private def assertRanged(dir: String): Unit = {
    val m = manifest(dir)
    val bs = m.batches
    assert(bs.nonEmpty)
    assert(bs.head.firstId == m.removedCount)
    assert(bs.last.lastId == m.highWater - 1)
    bs.sliding(2).foreach {
      case Seq(a, b) => assert(b.firstId == a.lastId + 1, s"gap or overlap: $a then $b")
      case _         => ()
    }
    bs.foreach { b =>
      assert(b.rows == b.lastId - b.firstId + 1, b.toString)
      assert(b.bytes == dirBytes(Paths.get(dir, "records", b.name)), b.toString)
      assert(b.maxTs == 1700000000000L + b.lastId, b.toString)
    }
  }

  /** Every read surface at once, for before/after comparisons. */
  private def answers(e: Engine): Seq[Any] = Seq(
    e.records().orderBy("id").collect().map(r => (r.getLong(0), r.getString(2))).toSeq,
    e.totalRecords, e.highWater, e.truncatedTimestamp,
    e.single(e.highWater - 1, ""), e.single(e.highWater / 2, ""),
    e.fetch(e.highWater - 1, -1, "rare == true", 3),
    e.fetch(0L, 1, "rare == true", 5),
    e.fetch(e.highWater / 3, 1, "n >= 0", 250),
    e.query("", "rare == true").orderBy("id").collect().map(_.getString(2)).toSeq)

  test("/single and a latest /fetch page read one batch, however long the log") {
    val dir = Files.createTempDirectory("graft-ranges").toString
    val e = engine(dir)
    val reads = new ReadCounter(spark)
    try {
      def probe(): ((Long, Int), (Long, Int)) = {
        val last = e.highWater.toInt - 1
        val (single, singleRead) = reads.measure(e.single(last - 7L, ""))
        assert(single.exists(_.contains(s""""n":${last - 7},""")))
        // two rare matches sit in the newest batch: 50-aligned ids below last
        val ((page, m), pageRead) = reads.measure(e.fetch(last.toLong, -1, "rare == true", 2))
        assert(page.length == 2 && !m.noMoreData)
        assert(m.leftOff == (last / 50 - 1) * 50L)
        (singleRead, pageRead)
      }
      grow(e, 0, 10)
      val (single10, page10) = probe()
      assert(single10 == (perBatch.toLong, 1), "a /single reads exactly its own batch")
      assert(page10._1 <= perBatch && page10._2 == 1,
        s"a page that fits in the newest batch reads only it: $page10")
      grow(e, 10 * perBatch, 90)
      assert(probe() == ((single10, page10)), "reads grew with the log")
      assertRanged(dir)
    } finally { reads.stop(); e.close() }
  }

  test("a page that outruns its batch steps batch by batch, and stops at the limit") {
    val dir = Files.createTempDirectory("graft-ranges").toString
    val e = engine(dir)
    val reads = new ReadCounter(spark)
    try {
      grow(e, 0, 10)
      // 4 rare docs per 200-doc batch: 6 matches backward from the top
      // need the newest two batches
      val ((page, m), (rows, jobs)) = reads.measure(e.fetch(e.highWater, -1, "rare == true", 6))
      assert(page.map(d => JsonTree.parse(d).asInstanceOf[JsonTree.Obj]("n")) ==
        Seq(1950L, 1900L, 1850L, 1800L, 1750L, 1700L))
      assert(m.leftOff == 1700L)
      assert(jobs == 2 && rows <= 2L * perBatch, s"rows=$rows jobs=$jobs")
      // forward across every batch to the boundary: all ids, each once, in
      // order; steps grow with what the scan has read (1, 1, 2, 4, 2
      // batches), so a long scan does not pay one job per batch
      val (scanned, (_, scanJobs)) = reads.measure {
        val (it, _, _) = e.fetchScan(0L, 1, "rare == true", Int.MaxValue)
        it.map(_._1).toVector
      }
      assert(scanned == (0L until 2000L))
      assert(scanJobs == 5, s"jobs=$scanJobs")
    } finally { reads.stop(); e.close() }
  }

  test("ranges survive compaction, reopen and retention; retention runs no Spark job") {
    val dir = Files.createTempDirectory("graft-ranges").toString
    val e = engine(dir)
    grow(e, 0, 10)
    val before = answers(e)
    e.compactionTick()
    assert(manifest(dir).batches.length == 3, "8 eligible dirs → 1 consolidated + 2 recent")
    assertRanged(dir)
    assert(answers(e) == before, "compaction changed an answer")
    e.close()

    val e2 = engine(dir)
    val reads = new ReadCounter(spark)
    try {
      assert(answers(e2) == before, "reopen changed an answer")
      assert(manifest(dir).batches.length == 3)
      val m = manifest(dir)
      // a budget that keeps the newest two 200-doc batches evicts the
      // consolidated entry in one step; the ticker does it with no job
      val keep = m.batches.takeRight(2).map(_.bytes).sum
      val (_, (_, jobs)) = reads.measure {
        e2.setLimit(keep)
        val deadline = System.currentTimeMillis() + 15000
        while (e2.totalRecords > 2 * perBatch && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
      }
      assert(e2.totalRecords == 2L * perBatch)
      assert(jobs == 0, "retention ran a Spark job")
      assert(e2.truncatedTimestamp == 1700000000000L + 8 * perBatch)
      assertRanged(dir)
      assert(e2.single(8L * perBatch - 1, "").isEmpty)
      assert(e2.single(8L * perBatch, "").exists(_.contains(s""""n":${8 * perBatch},""")))
      val (page, meta) = e2.fetch(e2.highWater, -1, "n >= 0", 1000)
      assert(page.length == 2 * perBatch && meta.noMoreData)
    } finally { reads.stop(); e2.close() }
  }

  test("a names-only or pre-manifest meta.json opens with the same answers, no Spark job") {
    val dir = Files.createTempDirectory("graft-ranges").toString
    val e = engine(dir)
    grow(e, 0, 6)
    e.compactionTick() // one consolidated entry among plain ones
    val before = answers(e)
    val ranged = manifest(dir).batches
    e.close()
    val metaPath = Paths.get(dir, "meta.json")
    val reads = new ReadCounter(spark)
    try {
      Seq(Seq("ranges"), Seq("ranges", "batches")).foreach { dropped =>
        val m = JsonTree.parse(new String(Files.readAllBytes(metaPath), StandardCharsets.UTF_8))
          .asInstanceOf[JsonTree.Obj]
        dropped.foreach(m.remove)
        Files.write(metaPath, JsonTree.serialize(m).getBytes(StandardCharsets.UTF_8))
        val (legacy, (_, jobs)) = reads.measure(engine(dir))
        try {
          assert(jobs == 0, s"opening without ${dropped.mkString("+")} ran a Spark job")
          assert(manifest(dir).batches == ranged, "footer ranges differ from commit-time ranges")
          assert(answers(legacy) == before)
        } finally legacy.close()
      }
    } finally reads.stop()
  }
}

/** Counts the Spark jobs a block runs and the input rows their tasks read.
  * Streaming micro-batches of other suites' tails are not counted. The
  * listener bus is asynchronous, so [[measure]] ends with a marker job and
  * waits until the listener has seen it.
  */
private final class ReadCounter(spark: SparkSession) extends SparkListener {
  private val Marker = "read-counter-marker"
  private val rows = new AtomicLong
  private val jobs = new AtomicInteger
  private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  @volatile private var markerDone = false
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    if (prop("spark.job.description").contains(Marker)) markerJobs.add(e.jobId)
    else if (prop("sql.streaming.queryId").isEmpty) {
      jobs.incrementAndGet()
      e.stageIds.foreach(stages.add(_))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stages.contains(e.stageId) && e.taskMetrics != null)
      rows.addAndGet(e.taskMetrics.inputMetrics.recordsRead)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.contains(e.jobId)) markerDone = true

  /** (result, (input rows read, jobs run)) of `f`. */
  def measure[T](f: => T): (T, (Long, Int)) = {
    settle()
    rows.set(0L); jobs.set(0); stages.clear()
    val r = f
    settle()
    (r, (rows.get, jobs.get))
  }

  private def settle(): Unit = {
    markerDone = false
    val sc = spark.sparkContext
    sc.setJobDescription(Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 30000
    while (!markerDone && System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(markerDone, "listener bus did not drain")
  }

  def stop(): Unit = spark.sparkContext.removeSparkListener(this)
}
