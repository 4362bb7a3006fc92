package graft.engine

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Batch-log compaction: consolidation must be invisible to every query
  * surface (ids, docs, fetch, single, totals) while keeping the directory
  * listing bounded under trickle ingest — the engine-side role of the
  * reference's periodicPartitioner (reference: native.go:1046-1108).
  */
class CompactionSpec extends AnyFunSuite {

  private lazy val spark = graft.Sessions
    .builder("local[4]", 4)
    .appName("compaction-spec")
    .getOrCreate()

  private def compactingEngine(dir: String, minRun: Int = 4, keepRecent: Int = 2): Engine = {
    spark.sparkContext.setLogLevel("WARN")
    new Engine(spark, dir,
      compactMinRun = minRun, compactKeepRecent = keepRecent,
      compactTargetBytes = 128L << 20, compactMinAgeMs = 0L,
      compactInBackground = false, // deterministic: the spec ticks manually
      gcGraceMs = 0L) // this spec counts directories — GC synchronously
  }

  private def batchDirs(dir: String): Seq[Path] =
    Files.list(Paths.get(dir, "records")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("batch_"))
      .toSeq.sortBy(_.getFileName.toString)

  private def hiddenDirs(dir: String): Seq[Path] =
    Files.list(Paths.get(dir, "records")).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("."))
      .toSeq

  test("compaction consolidates a small-batch run; every query surface unchanged") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val e = compactingEngine(dir)
    try {
      (0 until 12).foreach(i => e.insert(Seq(s"""{"n":$i,"even":${i % 2 == 0}}""")))
      val before = e.records().orderBy("id").collect().map(r => (r.getLong(0), r.getString(2)))
      assert(batchDirs(dir).length == 12)

      e.compactionTick()

      // 12 dirs − keepRecent 2 = 10 eligible → one consolidated + 2 recent
      assert(batchDirs(dir).length == 3)
      assert(hiddenDirs(dir).isEmpty, "no tmp/trash debris after a clean swap")
      val after = e.records().orderBy("id").collect().map(r => (r.getLong(0), r.getString(2)))
      assert(after.toSeq == before.toSeq, "ids and docs bit-identical across compaction")
      assert(e.totalRecords == 12)
      // point lookup, filtered query, and fetch paging all still line up
      assert(e.single(5L, "").get.contains("\"n\":5"))
      val evens = e.query("", "even == true").select("id").collect().map(_.getLong(0))
      assert(evens.toSet == (0 until 12 by 2).map(_.toLong).toSet)
      val (page, m) = e.fetch(0L, 1, "even == true", 4)
      assert(page.length == 4 && m.leftOff == 7L)
    } finally e.close()
  }

  test("compaction is id-sorted and name-ordered: consolidated dir keeps the run head's slot") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val e = compactingEngine(dir)
    try {
      (0 until 8).foreach(i => e.insert(Seq(s"""{"n":$i}""")))
      val firstName = batchDirs(dir).head.getFileName.toString
      e.compactionTick()
      val dirs = batchDirs(dir)
      // FRESH generation name (never a reused member name — in-flight scans
      // must keep their planned paths), sorted into the head's position
      assert(dirs.head.getFileName.toString == s"${firstName}_c1")
      // consolidated file is globally id-sorted (row-group pruning intact)
      val ids = spark.read.parquet(dirs.head.toString).select("id")
        .collect().map(_.getLong(0))
      assert(ids.toSeq == ids.sorted.toSeq && ids.length == 6)
    } finally e.close()
  }

  test("trickle soak: listing stays bounded, nothing lost") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val e = compactingEngine(dir, minRun = 8, keepRecent = 2)
    try {
      (0 until 200).foreach { i =>
        e.insert(Seq(s"""{"n":$i}"""))
        if (i % 5 == 4) e.compactionTick()
      }
      e.compactionTick()
      assert(batchDirs(dir).length <= 24,
        s"expected bounded listing, got ${batchDirs(dir).length} dirs")
      val ids = e.records().select("id").collect().map(_.getLong(0))
      assert(ids.length == 200 && ids.toSet == (0L until 200L).toSet)
      assert(e.query("150", "n >= 0").count() == 49)
    } finally e.close()
  }

  test("compaction coexists with retention: evicted rows stay evicted, survivors intact") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val e = compactingEngine(dir, minRun = 4, keepRecent = 1)
    try {
      (0 until 10).foreach(i => e.insert(Seq(s"""{"n":$i,"pad":"${"x" * 200}"}""")))
      // budget that keeps roughly half the log → oldest dirs evicted
      val perBatch = batchDirs(dir).map(p =>
        Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum).max
      e.setLimit(perBatch * 5)
      // eviction runs on the 1 s background ticker — wait for it to settle
      val deadline = System.currentTimeMillis() + 15000
      while (e.totalRecords > 6 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val removedBefore = 10 - e.totalRecords
      assert(removedBefore >= 4, s"retention should have evicted, kept ${e.totalRecords}")
      e.compactionTick()
      val ids = e.records().select("id").collect().map(_.getLong(0)).sorted
      assert(ids.headOption.exists(_ >= removedBefore))
      assert(ids.lastOption.contains(9L))
      assert(e.totalRecords == ids.length)
    } finally e.close()
  }

  test("deferred GC: a scan planned BEFORE the swap still reads cleanly after it") {
    val dir = Files.createTempDirectory("graft-compact").toString
    // nonzero grace: members must stay on disk after leaving the manifest
    val e = new Engine(spark, dir,
      compactMinRun = 4, compactKeepRecent = 2,
      compactTargetBytes = 128L << 20, compactMinAgeMs = 0L,
      compactInBackground = false, gcGraceMs = 60000L)
    try {
      (0 until 12).foreach(i => e.insert(Seq(s"""{"n":$i}""")))
      val preSwap = e.records() // plan now, against the pre-swap manifest
      val preCount = batchDirs(dir).length
      e.compactionTick()
      // manifest swapped (fresh listing shrinks) but members still on disk
      assert(e.records().inputFiles.length < preSwap.inputFiles.length)
      assert(batchDirs(dir).length == preCount + 1, "members linger through grace")
      // THE guarantee: the stale plan materializes without a FAILED_READ
      val ids = preSwap.orderBy("id").collect().map(_.getLong(0))
      assert(ids.toSeq == (0L until 12L).toSeq)
      e.gcTick(force = true)
      assert(batchDirs(dir).length == preCount + 1 - 10,
        "grace expiry collects the replaced members")
    } finally e.close()
  }

  test("no GC grace: a scan planned before the swap fails to be replanned, never drops rows") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val e = compactingEngine(dir, keepRecent = 0)
    try {
      (0 until 8).foreach(b => e.insert((b * 5 until b * 5 + 5).map(n => s"""{"n":$n}""")))
      // planned against the pre-swap manifest, materialized after its dirs go
      val planned = Seq(e.records(), e.scanWithFlags("", "n >= 0"))
      e.compactionTick()
      assert(batchDirs(dir).length == 1, "compaction did not replace the planned dirs")
      planned.foreach { df =>
        scala.util.Try(df.collect().map(_.getLong(0)).sorted.toSeq) match {
          case scala.util.Success(ids) => assert(ids == (0L until 40L), "rows lost")
          case scala.util.Failure(err) =>
            assert(Engine.isEvictionRace(err), s"not an eviction race: $err")
        }
      }
      assert(e.records().count() == 40L)
    } finally e.close()
  }

  test("reconcile: an unacked (crashed mid-insert) orphan dir is dropped at open") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val e = compactingEngine(dir)
    (0 until 4).foreach(i => e.insert(Seq(s"""{"n":$i}""")))
    e.close()
    // simulate a crash AFTER the batch dir write but BEFORE the manifest
    // commit: copy an existing dir under the next batchSeq name
    val src = batchDirs(dir).head
    val orphan = Paths.get(dir, "records", "batch_000000004")
    Files.createDirectories(orphan)
    Files.list(src).iterator().asScala.foreach(f =>
      Files.copy(f, orphan.resolve(f.getFileName.toString)))
    val e2 = compactingEngine(dir)
    try {
      assert(!Files.exists(orphan), "unacked orphan deleted at open")
      assert(e2.records().count() == 4)
      // the next insert reuses batchSeq 4 with no id collision
      e2.insert(Seq("""{"n":99}"""))
      val ids = e2.records().select("id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == (0L to 4L).toSeq)
    } finally e2.close()
  }

  test("crash recovery: orphan tmp dirs are dropped, a journaled swap completes") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val e = compactingEngine(dir)
    (0 until 6).foreach(i => e.insert(Seq(s"""{"n":$i}""")))
    e.close()
    // simulate a crash mid-REWRITE: a stale tmp dir with no manifest
    val orphan = Paths.get(dir, "records", ".compact_batch_000000000.tmp")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    val e2 = compactingEngine(dir)
    try {
      assert(hiddenDirs(dir).isEmpty, "orphan tmp cleaned on startup")
      assert(e2.records().count() == 6, "records untouched by the rollback")
    } finally e2.close()
  }
}
