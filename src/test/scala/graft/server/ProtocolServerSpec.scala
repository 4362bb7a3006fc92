package graft.server

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine

/** Wire-protocol e2e, modeled on the reference's server tests over net.Pipe
  * (reference: server/server_test.go:19-605). Each connection speaks the
  * line protocol through a real socket.
  */
class ProtocolServerSpec extends AnyFunSuite {

  /** overridden by [[ProtocolServerShardedSpec]]: the whole matrix must be
    * observably identical when /insert routes through the executor-side
    * distributed pipeline instead of the driver single writer
    */
  protected def ingestShards: Int = 1

  private lazy val spark = graft.Sessions
    .builder("local[4]", 4)
    .appName("protocol-spec")
    .getOrCreate()

  private def withServer(f: (Engine, Int) => Unit): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft-proto").toString
    val engine = new Engine(spark, dir)
    val srv = new ProtocolServer(engine, 0, ingestShards)
    val port = srv.start()
    try f(engine, port)
    finally srv.stop()
  }

  private def connect(port: Int): (Socket, BufferedReader, PrintWriter) = {
    val s = new Socket("127.0.0.1", port)
    (s, new BufferedReader(new InputStreamReader(s.getInputStream)),
      new PrintWriter(s.getOutputStream, true))
  }

  private val car = """{"brand":{"name":"Chevrolet"},"model":"Camaro","year":2021}"""

  test("insert then single via wire protocol") {
    withServer { (engine, port) =>
      val (s, _, w) = connect(port)
      w.println("/insert")
      (0 until 5).foreach(_ => w.println(car))
      w.flush()
      // inserts are async on the conn thread; wait for them
      var tries = 0
      while (engine.totalRecords < 5 && tries < 300) { Thread.sleep(100); tries += 1 }
      assert(engine.totalRecords == 5)
      s.close()

      val (s2, r2, w2) = connect(port)
      w2.println("/single")
      w2.println("3")
      w2.println("")
      val got = r2.readLine()
      assert(got.contains("\"id\":\"000000000000000000000003\""))
      s2.close()
    }
  }

  test("validate, macro, flush respond OK / error text") {
    withServer { (_, port) =>
      val (s, r, w) = connect(port)
      w.println("/macro")
      w.println("""chevy~brand.name == "Chevrolet"""")
      assert(r.readLine() == "OK")
      s.close()

      val (s2, r2, w2) = connect(port)
      w2.println("/validate")
      w2.println("chevy and year > 2000")
      assert(r2.readLine() == "OK")
      w2.println("chevy ==")
      assert(r2.readLine() != "OK")
      s2.close()

      val (s3, r3, w3) = connect(port)
      w3.println("/flush")
      assert(r3.readLine() == "OK")
      s3.close()
    }
  }

  test("insert-filter over the wire drops and transforms stored records") {
    withServer { (engine, port) =>
      val (s, r, w) = connect(port)
      w.println("/insert-filter")
      w.println("""brand.name == "Chevrolet" and redact("year")""")
      assert(r.readLine() == "OK")
      s.close()
      engine.insert(Seq(car, """{"brand":{"name":"Ford"},"year":1999}"""))
      assert(engine.totalRecords == 1)
      assert(engine.single(0L, "").get.contains("\"year\":\"[REDACTED]\""))
    }
  }

  test("fetch streams records + metadata; limit-bounded page sends NO %quit%") {
    withServer { (engine, port) =>
      engine.insert((0 until 10).map(i => s"""{"n":$i}"""))
      val (s, r, w) = connect(port)
      w.println("/fetch")
      w.println("-1") // leftOff: from the beginning (exclusive)
      w.println("1")
      w.println("n >= 5")
      w.println("3")
      // scanned ids 0..7 → 8 metadata lines; matches 5,6,7 → 3 records
      val (records, metas) = readUntilRecords(r, 3)
      assert(records.head.contains("\"n\":5"))
      assert(metas.length == 8)
      // resume point is one past the last scanned record
      assert(metas.last.contains("\"leftOff\":\"000000000000000000000008\""))
      // the reference's limit check `return`s before SendClose when offsets
      // remain unscanned (native.go:729-731): no %quit% on this page
      s.setSoTimeout(1500)
      intercept[java.net.SocketTimeoutException](r.readLine())
      s.close()
    }
  }

  test("fetch that exhausts the log DOES close with %quit%") {
    withServer { (engine, port) =>
      engine.insert((0 until 10).map(i => s"""{"n":$i}"""))
      val (s, r, w) = connect(port)
      w.println("/fetch")
      w.println("-1")
      w.println("1")
      w.println("n >= 5")
      w.println("100") // limit beyond the log: scan runs to the boundary
      val lines = Iterator.continually(r.readLine()).takeWhile(l => l != null && l != "%quit%").toList
      s.close()
      assert(lines.count(!_.startsWith("/metadata")) == 5)
    }
  }

  test("fetch leftOff specials: \"\" starts at 0, \"latest\" at the last index") {
    withServer { (engine, port) =>
      engine.insert((0 until 10).map(i => s"""{"n":$i}"""))
      // "" → 0 (reference handleSpecialLeftOff, native.go:1158-1176)
      val (s, r, w) = connect(port)
      w.println("/fetch")
      w.println("")
      w.println("1")
      w.println("")
      w.println("100")
      val lines = Iterator.continually(r.readLine()).takeWhile(l => l != null && l != "%quit%").toList
      s.close()
      // forward from index 0 EXCLUSIVE of nothing: ids 0..9 scanned
      assert(lines.count(!_.startsWith("/metadata")) == 10)
      // "latest" → last index (9): a backward page serves the whole log
      val (s2, r2, w2) = connect(port)
      w2.println("/fetch")
      w2.println("latest")
      w2.println("-1")
      w2.println("")
      w2.println("3")
      val (recs2, _) = readUntilRecords(r2, 3)
      assert(recs2.head.contains("\"n\":8")) // backward is EXCLUSIVE of leftOff
      s2.close()
    }
  }

  test("fetch numeric args are 64-bit: direction keeps its sign past int32") {
    withServer { (engine, port) =>
      engine.insert((0 until 10).map(i => s"""{"n":$i}"""))
      val (s, r, w) = connect(port)
      w.println("/fetch")
      w.println("5")
      // Go's Atoi is 64-bit; a naive .toInt would wrap this to +1 and flip
      // the scan FORWARD
      w.println("-4294967295")
      w.println("")
      w.println("100")
      val lines = Iterator.continually(r.readLine()).takeWhile(l => l != null && l != "%quit%").toList
      s.close()
      val records = lines.filterNot(_.startsWith("/metadata"))
      assert(records.length == 5) // backward from 5 (exclusive): ids 4..0
      assert(records.head.contains("\"n\":4"))
    }
  }

  test("fetch leftOff beyond the high-water mark replies Index out of range") {
    withServer { (engine, port) =>
      engine.insert((0 until 5).map(i => s"""{"n":$i}"""))
      val (s, r, w) = connect(port)
      w.println("/fetch")
      w.println("400")
      w.println("1")
      w.println("")
      w.println("5")
      assert(r.readLine() == "Index out of range: 400")
      s.close()
    }
  }

  /** read lines until `n` record (non-/metadata) lines arrived */
  private def readUntilRecords(r: BufferedReader, n: Int): (List[String], List[String]) = {
    var records = List.empty[String]
    var metas = List.empty[String]
    while (records.length < n) {
      val l = r.readLine()
      assert(l != null, "connection closed early")
      if (l.startsWith("/metadata")) metas ::= l else records ::= l
    }
    (records.reverse, metas.reverse)
  }

  test("query with limit(N) ends the stream once satisfied") {
    // reference matrix: server_test.go:123-132 — limit stops /query.
    // cadence per reference streamRecords: matched record first, then ONE
    // /metadata line per SCANNED record (native.go:432-518)
    withServer { (engine, port) =>
      engine.insert((0 until 20).map(i => s"""{"n":$i}"""))
      val (s, r, w) = connect(port)
      s.setSoTimeout(60000)
      w.println("/query")
      w.println("")
      w.println("n >= 4 and limit(3)")
      val (records, metas) = readUntilRecords(r, 3)
      assert(records.head.contains("\"n\":4"))
      assert(records.last.contains("\"n\":6"))
      // ids 0..3 scanned without a match, each still got a metadata line
      assert(metas.length >= 4)
      s.close()
    }
  }

  test("query streams history then live-tails new inserts") {
    withServer { (engine, port) =>
      engine.insert((0 until 6).map(i => s"""{"n":$i,"keep":${i % 2 == 0}}"""))
      val (s, r, w) = connect(port)
      s.setSoTimeout(30000)
      w.println("/query")
      w.println("")
      w.println("keep == true")
      val (records, _) = readUntilRecords(r, 3)
      assert(records.count(_.contains("\"keep\":true")) == 3)
      // drain the remaining per-scanned metadata of the history phase
      // (ids 3..5: one line each; id 3 and 5 are misses, id 4 matched above)
      var l = r.readLine()
      while (l != null && !l.contains("\"leftOff\":\"" + graft.engine.Engine.indexToId(6))) l = r.readLine()
      // now a live insert must arrive through the open connection
      engine.insert(Seq("""{"n":100,"keep":true}"""))
      val tailed = Iterator.continually(r.readLine())
        .take(2).filterNot(_.startsWith("/metadata")).toList
      assert(tailed.exists(_.contains("\"n\":100")))
      s.close()
    }
  }

  test("a closed /query stops its streaming tail") {
    withServer { (engine, port) =>
      engine.insert((0 until 6).map(i => s"""{"n":$i}"""))
      val before = spark.streams.active.map(_.id).toSet
      val (s, r, w) = connect(port)
      s.setSoTimeout(30000)
      w.println("/query")
      w.println("")
      w.println("")
      // drain the history: one /metadata line per record, the last at leftOff 6
      var l = r.readLine()
      while (l != null && !l.contains("\"leftOff\":\"" + graft.engine.Engine.indexToId(6)))
        l = r.readLine()
      assert(l != null, "history ended early")
      def added = spark.streams.active.map(_.id).filterNot(before)
      val started = System.currentTimeMillis() + 30000
      while (added.isEmpty && System.currentTimeMillis() < started) Thread.sleep(50)
      assert(added.nonEmpty, "the live tail never started")
      // no write ever fails on a quiet tail: only the client's EOF ends it
      s.close()
      val deadline = System.currentTimeMillis() + 10000
      while (added.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(added.isEmpty, "the closed connection's streaming query is still running")
    }
  }

  test("query history far larger than one driver batch streams incrementally") {
    // the history phase must stream partition-lazily (toLocalIterator), not
    // collect(): the first record has to arrive while most of the scan is
    // still unread, and an early disconnect must not break the server
    withServer { (engine, port) =>
      (0 until 40).foreach(b => engine.insert((0 until 100).map(i => s"""{"n":${b * 100 + i}}""")))
      assert(engine.totalRecords == 4000)
      val (s, r, w) = connect(port)
      s.setSoTimeout(60000)
      w.println("/query")
      w.println("")
      w.println("") // match-all: 4000 records + 4000 metadata lines
      val (records, _) = readUntilRecords(r, 10)
      assert(records.head.contains("\"n\":0"))
      assert(records(9).contains("\"n\":9"))
      // disconnect with ~3990 records unsent; server thread must survive
      s.close()
      // server still serves new connections afterwards
      val (s2, r2, w2) = connect(port)
      w2.println("/single")
      w2.println("42")
      w2.println("")
      assert(r2.readLine().contains("\"n\":42"))
      s2.close()
    }
  }

  test("query history survives retention racing the scan (resume, no re-sends)") {
    withServer { (engine, port) =>
      engine.insert((0 until 400).map(i => s"""{"n":$i,"pad":"${"x" * 60}"}"""))
      engine.setLimit(16384) // eviction fires as the writer below appends
      val writer = new Thread(() => (0 until 12).foreach { b =>
        engine.insert((0 until 50).map(i => s"""{"n":${1000 + b * 50 + i},"pad":"${"y" * 60}"}"""))
        Thread.sleep(30)
      })
      val (s, r, w) = connect(port)
      s.setSoTimeout(60000)
      w.println("/query")
      w.println("")
      w.println("")
      writer.start()
      // read a chunk of history while eviction churns underneath; ids must
      // be strictly increasing (resume never re-sends) and the connection
      // must not die mid-history
      var seen = List.empty[Long]
      while (seen.length < 150) {
        val l = r.readLine()
        assert(l != null, "query stream died under eviction")
        if (!l.startsWith("/metadata")) {
          val id = java.lang.Long.parseLong(
            "\"id\":\"(\\d+)\"".r.findFirstMatchIn(l).get.group(1))
          seen ::= id
        }
      }
      writer.join(60000)
      s.close()
      val ids = seen.reverse
      assert(ids == ids.distinct, "resume re-sent a record")
      assert(ids.zip(ids.tail).forall { case (a, b) => a < b }, "ids not increasing")
    }
  }

  test("line over the scanner cap kills the connection; normal lines survive") {
    // reference parity: server.go:115 sizes the scanner buffer at
    // 209,715,200 B — a longer line stops the scan and ends the
    // connection. Tested with a tiny cap (the guard's code path is
    // identical; the production default is the reference constant).
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft-proto-cap").toString
    val engine = new Engine(spark, dir)
    val srv = new ProtocolServer(engine, 0, ingestShards, maxLineChars = 1024)
    val port = srv.start()
    try {
      val (s1, r1, w1) = connect(port)
      w1.println("/insert")
      w1.println("x" * 5000) // exceeds the cap mid-line
      s1.setSoTimeout(5000)
      assert(r1.readLine() == null) // server closed the connection
      s1.close()
      // engine unharmed; a compliant connection still works
      val (s2, r2, w2) = connect(port)
      w2.println("/insert")
      w2.println(car)
      // the sharded ingest path lands the insert asynchronously — poll with
      // a bound instead of a fixed sleep (300 ms flaked under a loaded
      // full-suite run; the assertion is "it lands", not "it lands fast")
      val t0 = System.currentTimeMillis()
      while (engine.totalRecords < 1 &&
        System.currentTimeMillis() - t0 < 15000) Thread.sleep(100)
      assert(engine.totalRecords == 1)
      s2.close(); r2.close()
    } finally { srv.stop(); engine.close() }
  }

  test("malformed numeric args get reference error text, connection stays up") {
    withServer { (engine, port) =>
      engine.insert(Seq(car))
      val (s, r, w) = connect(port)
      w.println("/single")
      w.println("abc")
      w.println("")
      // Go interpolates err.Error() (native.go:528-530): strconv parity
      assert(r.readLine() ==
        """Error: While converting the index to integer: strconv.Atoi: parsing "abc": invalid syntax""")
      s.close()
      val (s2, r2, w2) = connect(port)
      w2.println("/fetch")
      w2.println("0")
      w2.println("not-a-dir")
      w2.println("")
      w2.println("5")
      assert(r2.readLine() ==
        """Error: While converting the direction to integer: strconv.Atoi: parsing "not-a-dir": invalid syntax""")
      s2.close()
      val (s3, r3, w3) = connect(port)
      w3.println("/fetch")
      w3.println("zz")
      w3.println("1")
      w3.println("")
      w3.println("5")
      assert(r3.readLine() ==
        """Error: Cannot parse leftOff value to int: strconv.Atoi: parsing "zz": invalid syntax""")
      s3.close()
    }
  }
}

/** The full wire matrix again with /insert routed through the
  * executor-side distributed pipeline (Engine.insertDistributed, 4 write
  * shards): ids, fetch pages, filters and error replies must be
  * byte-identical to the driver-writer run above.
  */
class ProtocolServerShardedSpec extends ProtocolServerSpec {
  override protected def ingestShards: Int = 4
}
