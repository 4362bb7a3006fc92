package graft.engine

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Engine behavior ported from the reference's server/storage e2e tests
  * (reference: server/server_test.go, server/lib/storages/native_test.go,
  * client/go/client_test.go fixtures).
  */
class EngineSpec extends AnyFunSuite {

  private lazy val spark = graft.Sessions
    .builder("local[4]", 4)
    .appName("engine-spec")
    .getOrCreate()

  private def freshEngine(): Engine = {
    spark.sparkContext.setLogLevel("WARN")
    new Engine(spark, Files.createTempDirectory("graft-engine").toString)
  }

  private val car = """{"brand":{"name":"Chevrolet"},"model":"Camaro","year":2021}"""

  test("insert assigns contiguous 24-digit ids and injects them into the doc") {
    val e = freshEngine()
    val ids = e.insert(Seq(car, car, car))
    assert(ids == Seq(0L, 1L, 2L))
    val ids2 = e.insert(Seq(car))
    assert(ids2 == Seq(3L))
    val single = e.single(2L, "").get
    assert(single.contains("\"id\":\"000000000000000000000002\""))
    assert(e.totalRecords == 4)
  }

  test("non-JSON lines are rejected") {
    val e = freshEngine()
    val ids = e.insert(Seq("NOT JSON", car))
    assert(ids.length == 1)
  }

  test("insertion filter drops and transforms (A5 fixture)") {
    val e = freshEngine()
    assert(e.setInsertionFilter("""brand.name == "Chevrolet" and redact("year")""").isRight)
    val ids = e.insert(Seq(
      car,
      """{"brand":{"name":"Ford"},"model":"Mustang","year":2021}"""
    ))
    assert(ids.length == 1) // Ford dropped
    val stored = e.single(0L, "").get
    assert(stored.contains("\"year\":\"[REDACTED]\""))
    assert(stored.contains("Chevrolet"))
  }

  test("query filters, transforms, limits, and honors leftOff") {
    val e = freshEngine()
    val docs = (0 until 20).map(i => s"""{"model":"m$i","year":${2000 + i}}""")
    e.insert(docs)
    val out = e.query("", "year > 2010").select("id").collect().map(_.getLong(0))
    assert(out.toSet == (11 until 20).toSet)
    val page = e.query("", "year > 2010 and limit(3)").collect()
    assert(page.length == 3)
    val resumed = e.query("15", "year > 2010").select("id").collect().map(_.getLong(0))
    assert(resumed.toSet == (16 until 20).toSet)
    val latest = e.query("latest", "").select("id").collect().map(_.getLong(0))
    assert(latest.toSeq == Seq(19L))
    // record-altering helpers rewrite the docs the query emits
    val redacted = e.query("", """redact("model") and year > 2015""")
      .select("doc").collect().map(_.getString(0))
    assert(redacted.nonEmpty && redacted.forall(_.contains("\"model\":\"[REDACTED]\"")))
  }

  test("fetch pages bidirectionally with match-counting limit") {
    val e = freshEngine()
    e.insert((0 until 30).map(i => s"""{"n":$i,"even":${i % 2 == 0}}"""))
    val (fwd, m1) = e.fetch(9L, 1, "even == true", 5)
    assert(fwd.length == 5)
    assert(m1.numberOfWritten == 5)
    assert(!m1.noMoreData)
    assert(fwd.head.contains("\"n\":10"))
    val (bwd, m2) = e.fetch(10L, -1, "even == true", 5)
    assert(bwd.length == 5)
    assert(bwd.head.contains("\"n\":8"))
    val (tail, m3) = e.fetch(27L, 1, "even == true", 5)
    assert(tail.length == 1) // only n=28 remains
    assert(m3.noMoreData)
    // limit <= 0: nothing scanned, graceful empty page (the reference's
    // `numberOfWritten >= _limit` fires before the first offset)
    val (z, mz) = e.fetch(0L, 1, "", 0)
    assert(z.isEmpty && mz.numberOfWritten == 0)
    val (zn, _) = e.fetch(0L, 1, "", -3)
    assert(zn.isEmpty)
  }

  test("backward paging chain covers every record exactly once") {
    val e = freshEngine()
    e.insert((0 until 20).map(i => s"""{"n":$i}"""))
    // page backward from 20 in pages of 6; resume at meta.leftOff each time
    var leftOff = 20L
    var seen = List.empty[String]
    var more = true
    while (more) {
      val (docs, m) = e.fetch(leftOff, -1, "", 6)
      seen = seen ++ docs
      more = docs.nonEmpty && m.leftOff > 0 && !m.noMoreData
      leftOff = m.leftOff
    }
    // every record visited once, in descending order, none skipped
    val ns = seen.map(d => "\"n\":(\\d+)".r.findFirstMatchIn(d).get.group(1).toInt)
    assert(ns == (19 to 0 by -1).toList, s"backward chain skipped/dup: $ns")
  }

  test("fetch matrix from the reference server tests (inclusive-forward)") {
    // reference: server/server_test.go:403-418 — 100 identical records,
    // every row matches; forward includes leftOff, backward excludes it
    val e = freshEngine()
    e.insert((0 until 100).map(_ => car))
    val matrix = Seq(
      // (leftOff, direction, limit, expectedCount, firstId)
      (0L, 1, 5, 5, 0L),
      (13L, 1, 5, 5, 13L),
      (13L, 1, 200, 87, 13L),
      (93L, 1, 20, 7, 93L),
      (99L, -1, 5, 5, 98L),
      (13L, -1, 5, 5, 12L),
      (13L, -1, 200, 13, 12L),
      (93L, -1, 20, 20, 92L)
    )
    matrix.foreach { case (leftOff, dir, limit, expected, firstId) =>
      val (docs, _) = e.fetch(leftOff, dir, """brand.name == "Chevrolet"""", limit)
      assert(docs.length == expected,
        s"fetch($leftOff,$dir,limit=$limit): got ${docs.length}, want $expected")
      assert(docs.head.contains("\"id\":\"" + Engine.indexToId(firstId) + "\""),
        s"fetch($leftOff,$dir): wrong first record: ${docs.head}")
    }
  }

  test("single applies altering helpers only") {
    val e = freshEngine()
    e.insert(Seq(car))
    // redact on the LEFT runs before the false predicate (short-circuit is
    // left-to-right, exactly like the reference's Eval in RetrieveSingle)
    val s = e.single(0L, """redact("model") and model == "NOPE"""").get
    assert(s.contains("\"model\":\"[REDACTED]\""))
    // ...whereas a false-and short-circuits the redact away
    val s2 = e.single(0L, """model == "NOPE" and redact("brand.name")""").get
    assert(s2.contains("Chevrolet"))
  }

  test("macros expand in queries") {
    val e = freshEngine()
    e.addMacro("chevy", """brand.name == "Chevrolet"""")
    e.insert(Seq(car, """{"brand":{"name":"Ford"}}"""))
    assert(e.query("", "chevy").count() == 1)
    assert(e.validate("chevy").isRight)
    assert(e.validate("chevy ==").isLeft)
  }

  test("flush clears records but keeps macros; reset clears everything") {
    val e = freshEngine()
    e.addMacro("chevy", """brand.name == "Chevrolet"""")
    e.insert(Seq(car))
    e.flush()
    assert(e.totalRecords == 0)
    assert(e.macros.contains("chevy"))
    val ids = e.insert(Seq(car))
    assert(ids == Seq(0L)) // ids restart after flush, like the reference
    e.reset()
    assert(e.macros.isEmpty)
  }

  test("engine compiled tier agrees with the interpreter on log queries") {
    import graft.functions.BflExpressions
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val e = freshEngine()
    e.insert((0 until 200).map(i =>
      s"""{"n":$i,"name":"item$i","tag":"${if (i % 3 == 0) "hot" else "cold"}","score":${i / 10.0}}"""))
    val queries = Seq(
      """tag == "hot" and n > 50""",
      """score >= 12.5 or name.startsWith("item19")""",
      """name.contains("9") and !(tag == "hot")""",
      """missing.path == 1 or tag == "cold""""
    )
    queries.foreach { q =>
      // engine path (compiled tier for these)
      val got = e.query("", q).select("id").collect().map(_.getLong(0)).toSet
      // interpreter expression over the same log
      val exp = e.records()
        .where(coalesce(BflExpressions.bflMatch(col("doc"), q), lit(false)))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == exp, s"tier mismatch on engine for `$q`")
    }
  }

  test("meta.json persistence: a reopened engine restores state (dump/restore)") {
    // reference: gob core dump + RestoreCore (native_test.go:25-35)
    val dir = Files.createTempDirectory("graft-reopen").toString
    val e1 = new Engine(spark, dir)
    e1.addMacro("chevy", """brand.name == "Chevrolet"""")
    assert(e1.setInsertionFilter("""brand.name != "Skip"""").isRight)
    e1.insert(Seq(car, car))
    val e2 = new Engine(spark, dir) // reopen from the same directory
    assert(e2.totalRecords == 2)
    assert(e2.macros.contains("chevy"))
    val ids = e2.insert(Seq(car, """{"brand":{"name":"Skip"}}"""))
    assert(ids == Seq(2L)) // high-water continues; filter still applies
    assert(e2.query("", "chevy").count() == 3)
  }

  test("concurrent inserts keep ids contiguous (single-writer lock)") {
    val e = freshEngine()
    val threads = (0 until 4).map { t =>
      new Thread(() => e.insert((0 until 25).map(i => s"""{"t":$t,"i":$i}""")))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(e.totalRecords == 100)
    val ids = e.records().select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 100L))
  }

  test("retention evicts oldest batches and tracks truncatedTimestamp") {
    val e = freshEngine()
    e.setLimit(60 * 1024) // tiny budget: a couple of parquet batches
    val rnd = new scala.util.Random(42)
    val mkBatch = (b: Int) =>
      (0 until 200).map { i =>
        val pad = Seq.fill(8)(rnd.nextLong().toHexString).mkString // incompressible
        s"""{"batch":$b,"i":$i,"timestamp":${1700000000000L + b * 1000 + i},"pad":"$pad"}"""
      }
    (0 until 6).foreach(b => e.insert(mkBatch(b)))
    assert(e.totalRecords < 1200) // something was evicted
    assert(e.truncatedTimestamp > 0)
    // remaining records are the newest
    val minId = e.records().agg(org.apache.spark.sql.functions.min("id")).collect()(0).getLong(0)
    assert(minId > 0)
  }

  test("background ticker evicts a pending budget breach with no intervening insert") {
    // reference parity: periodicPartitioner runs on a 1 s ticker
    // (native.go:149,1049-1057) — a /limit issued AFTER the last insert
    // must still evict, without waiting for the next write
    val e = freshEngine()
    try {
      val rnd = new scala.util.Random(7)
      val mkBatch = (b: Int) =>
        (0 until 200).map { i =>
          val pad = Seq.fill(8)(rnd.nextLong().toHexString).mkString
          s"""{"batch":$b,"i":$i,"timestamp":${1700000000000L + b * 1000 + i},"pad":"$pad"}"""
        }
      (0 until 6).foreach(b => e.insert(mkBatch(b)))
      assert(e.totalRecords == 1200 && e.truncatedTimestamp == 0)
      e.setLimit(60 * 1024) // breach exists NOW; no further inserts follow
      val deadline = System.currentTimeMillis() + 15000
      while (e.truncatedTimestamp == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(e.truncatedTimestamp > 0, "idle engine never evicted")
      assert(e.totalRecords < 1200)
    } finally e.close()
  }

  test("retention under concurrent ingest: truncatedTimestamp monotone, surface consistent") {
    // the reference's periodicPartitioner RACES inserts on a timer
    // (native.go:1046-1108); here eviction runs under the engine's writer
    // lock — this spec pins the invariants that design guarantees while
    // 4 writers hammer a 1-batch byte budget and a reader polls mid-flight
    val e = freshEngine()
    e.insert(Seq("""{"seed":true}"""))
    e.setLimit(4096) // a couple of batches at most — eviction fires constantly
    val writers = (0 until 4).map { t =>
      new Thread(() => {
        (0 until 12).foreach { i =>
          e.insert((0 until 25).map(j =>
            s"""{"t":$t,"i":$i,"j":$j,"pad":"${"x" * 40}","timestamp":${1000000L + t * 1000 + i}}"""))
        }
      })
    }
    val observed = scala.collection.mutable.ArrayBuffer[Long]()
    @volatile var readerErr: Option[Throwable] = None
    val reader = new Thread(() => {
      try (0 until 60).foreach { _ =>
        observed += e.truncatedTimestamp
        // the read surface must stay servable mid-eviction
        e.fetch(e.highWater - 1, -1, "", 3)
        Thread.sleep(10)
      } catch { case t: Throwable => readerErr = Some(t) }
    })
    (writers :+ reader).foreach(_.start())
    (writers :+ reader).foreach(_.join(120000))
    readerErr.foreach(t => fail(s"reader failed mid-eviction: $t"))
    // truncatedTimestamp never moves backwards
    observed.toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a <= b, s"truncatedTimestamp regressed: $a -> $b")
      case _         => ()
    }
    assert(e.truncatedTimestamp > 0, "retention never fired under the byte budget")
    // accounting closes: live rows == highWater - removedCount, and the
    // surviving ids are exactly the contiguous suffix of the id space
    val ids = e.records().select("id").collect().map(_.getLong(0)).sorted
    assert(ids.length.toLong == e.totalRecords)
    assert(ids.toSeq == ((e.highWater - e.totalRecords) until e.highWater))
  }

  test("rejects take no id; timestamp lift; id replaced in place") {
    val e = freshEngine()
    assert(e.setInsertionFilter("""brand.name == "Chevrolet"""").isRight)
    val t0 = System.currentTimeMillis()
    val ids = e.insert(Seq(
      "NOT JSON",
      """[1,2,3]""", // non-object
      """{"brand":{"name":"Ford"}}""", // dropped by the filter
      """{"brand":{"name":"Chevrolet"},"timestamp":1700000000123}""",
      """{"id":"replaced","brand":{"name":"Chevrolet"}}"""))
    val t1 = System.currentTimeMillis()
    assert(ids == Seq(0L, 1L))
    val rows = e.records().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // a record's own timestamp is its ts; otherwise the insert time
    assert(rows.head == ((0L, 1700000000123L,
      """{"brand":{"name":"Chevrolet"},"timestamp":1700000000123,"id":"000000000000000000000000"}""")))
    assert(rows(1)._2 >= t0 && rows(1)._2 <= t1)
    // an existing id key keeps its place and takes the assigned id
    assert(rows(1)._3 == """{"id":"000000000000000000000001","brand":{"name":"Chevrolet"}}""")
    e.close()
  }
}
