package graft.server

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine

/** The reference Go client's own test scenario, replayed wire-for-wire
  * (reference: client/go/client_test.go:36-185 — no Go toolchain in this
  * environment, so the exact byte-level exchanges the client performs are
  * asserted here instead: same commands, same 15k insert volume, same
  * redaction visibility through /single, /query and /fetch, same exact
  * /metadata JSON the client_test pins for Fetch, same connection churn).
  */
class GoClientInteropSpec extends AnyFunSuite {

  private lazy val spark = graft.Sessions
    .builder("local[4]", 4)
    .appName("goclient-spec")
    .getOrCreate()

  private val payload = """{"brand":{"name":"Chevrolet"},"model":"Camaro","year":2021}"""
  private val N = 15000

  private def connect(port: Int): (Socket, BufferedReader, PrintWriter) = {
    val s = new Socket("127.0.0.1", port)
    s.setSoTimeout(120000)
    (s, new BufferedReader(new InputStreamReader(s.getInputStream)),
      new PrintWriter(s.getOutputStream, true))
  }

  /** one-shot command connection, like the Go client's Limit/Macro/... */
  private def oneShot(port: Int, lines: String*): String = {
    val (s, r, w) = connect(port)
    try { lines.foreach(w.println); r.readLine() }
    finally s.close()
  }

  test("reference client scenario end-to-end") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft-gointerop").toString
    val engine = new Engine(spark, dir)
    val srv = new ProtocolServer(engine, 0)
    val port = srv.start()
    try {
      // TestLimit / TestMacro / TestInsertionFilter
      assert(oneShot(port, "/limit", "1000000") == "OK")
      assert(oneShot(port, "/macro", """chevy~brand.name == "Chevrolet"""") == "OK")
      assert(oneShot(port, "/insert-filter",
        """brand.name == "Chevrolet" and redact("year")""") == "OK")

      // TestInsert: 15000 payloads through ONE /insert connection
      locally {
        val (s, _, w) = connect(port)
        w.println("/insert")
        (0 until N).foreach(_ => w.println(payload))
        w.flush()
        s.close()
      }
      var tries = 0
      while (engine.totalRecords < N && tries < 1200) { Thread.sleep(100); tries += 1 }
      assert(engine.totalRecords == N, s"ingested ${engine.totalRecords}/$N")

      // TestSingle: insertion-filter redaction visible via /single
      locally {
        val got = oneShot(port, "/single", "42", "")
        assert(got.contains("\"id\":\"" + Engine.indexToId(42) + "\""))
        assert(got.contains("\"year\":\"[REDACTED]\""))
        assert(got.contains("\"model\":\"Camaro\""))
      }

      // TestValidate: good queries OK, bad queries answered with the
      // EXACT participle error strings (round 11: the full reference-
      // asserted set is byte-equal — the lexer-precedence cases are
      // pinned parser-level in bfl ParserSpec)
      assert(oneShot(port, "/validate", """brand.name == "Chevrolet"""") == "OK")
      assert(oneShot(port, "/validate",
        """http and request.method == "GET" and request.path != "/example" and (request.query.a > 42 or request.headers["x"] == "y")""") == "OK")
      // the exact participle strings client_test pins (server_test.go:267-274)
      assert(oneShot(port, "/validate", "=.=") == """1:1: unexpected token "="""")
      assert(oneShot(port, "/validate", """request.path[3.14] == "hello"""") ==
        """1:14: unexpected token "3.14" (expected (<string> | <char> | <rawstring> | "*") "]")""")

      // TestQuery: /query "" chevy — the client reads >14000 redacted
      // records (and as many metadata lines) then closes mid-stream; the
      // Go test fails the whole run if this takes over 20 s
      // (client_test.go:147-149 waitTimeout) — pin the same budget
      locally {
        val t0 = System.nanoTime()
        val (s, r, w) = connect(port)
        w.println("/query")
        w.println("")
        w.println("chevy")
        var records = 0
        var metas = 0
        while (records <= 14000) {
          val l = r.readLine()
          assert(l != null, "stream ended early")
          if (l.startsWith("/metadata")) metas += 1
          else {
            assert(l.contains("\"year\":\"[REDACTED]\""), s"unredacted record: $l")
            assert(l.contains("\"brand\":{\"name\":\"Chevrolet\"}"))
            records += 1
          }
        }
        assert(metas >= 14000)
        s.close() // mid-stream close, like the client at index > 14000
        val secs = (System.nanoTime() - t0) / 1e9
        assert(secs < 20.0, f"14k-record query stream took $secs%.1f s (client budget 20 s)")
      }

      // TestFetch: backward from id 100, limit 20 — client_test pins the
      // EXACT first/last metadata JSON (client_test.go:154-159)
      locally {
        val (s, r, w) = connect(port)
        w.println("/fetch")
        w.println(Engine.indexToId(100)) // the client sends the 24-digit form
        w.println("-1")
        w.println("chevy")
        w.println("20")
        // every record matches, so the 20-limit is hit with offsets still
        // unscanned: the reference `return`s without SendClose
        // (native.go:729-731) — exactly 20 metadata + 20 record lines, then
        // silence (NO %quit%)
        val lines = Iterator.continually(r.readLine()).take(40).toList
        assert(lines.forall(_ != null))
        s.setSoTimeout(1500)
        intercept[java.net.SocketTimeoutException](r.readLine())
        s.close()
        val metas = lines.filter(_.startsWith("/metadata ")).map(_.stripPrefix("/metadata "))
        val records = lines.filterNot(_.startsWith("/metadata"))
        assert(metas.head ==
          s"""{"current":1,"total":$N,"numberOfWritten":0,"leftOff":"${Engine.indexToId(99)}","truncatedTimestamp":0,"noMoreData":false}""")
        assert(metas.last ==
          s"""{"current":20,"total":$N,"numberOfWritten":19,"leftOff":"${Engine.indexToId(80)}","truncatedTimestamp":0,"noMoreData":false}""")
        assert(records.length == 20)
        (0 until 20).foreach { i =>
          assert(records(i).contains("\"id\":\"" + Engine.indexToId(99 - i) + "\""),
            s"wrong record order at $i: ${records(i)}")
          assert(records(i).contains("\"year\":\"[REDACTED]\""))
        }
      }

      // TestTCPConnectionLeak: the reference volume — 10,000
      // connect/validate/close cycles (client_test.go:179-185; its 1 ms
      // inter-iteration sleep only slows the Go test down — omitting it
      // makes the churn STRICTER). A leak would surface as accumulating
      // per-connection handler threads; assert they drain back to idle.
      locally {
        (0 until 10000).foreach { _ =>
          assert(oneShot(port, "/validate", """brand.name == "Chevrolet"""") == "OK")
        }
        val deadline = System.currentTimeMillis() + 10000
        def connThreads(): Int = {
          val arr = new Array[Thread](Thread.activeCount() * 2 + 8)
          Thread.enumerate(arr)
          arr.count(t => t != null && t.getName == "graft-protocol-conn" && t.isAlive)
        }
        while (connThreads() > 8 && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
        assert(connThreads() <= 8,
          s"${connThreads()} handler threads alive after churn — connection leak")
      }

      // TestFlush / TestReset
      assert(oneShot(port, "/flush") == "OK")
      assert(engine.totalRecords == 0L)
      assert(oneShot(port, "/reset") == "OK")
    } finally srv.stop()
  }
}
