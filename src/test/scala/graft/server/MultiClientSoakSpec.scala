package graft.server

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine

/** Multi-client soak: N concurrent connections mixing `/query` live tails,
  * `/insert` writers, `/fetch` pages and `/macro`+`/validate` control verbs
  * against ONE engine — the reference serves exactly this mix from its
  * per-connection goroutines over a shared storage (server.go:100-170), so
  * the Spark engine must too. ProtocolServerSpec exercises each verb on its
  * own connection; this spec asserts the properties that only show up under
  * concurrency:
  *
  *   - no cross-talk: a tail subscribed to `kind == "a"` never receives a
  *     `"b"`/`"c"` record, even while three writers interleave all kinds
  *   - per-connection order: every tail sees strictly increasing ids across
  *     the history→live handoff, with no re-sends and no gaps in ITS match
  *     set once the writers drain
  *   - control verbs stay correct mid-churn: `/macro` + `/validate` + a
  *     bounded `/fetch` page served while inserts land
  *   - clean shutdown: sockets close, `stop()` ends the accept loop, and the
  *     engine remains consistent and usable afterwards
  */
class MultiClientSoakSpec extends AnyFunSuite {

  private lazy val spark = graft.Sessions
    .builder("local[4]", 4)
    .appName("soak-spec")
    .getOrCreate()

  private def connect(port: Int): (Socket, BufferedReader, PrintWriter) = {
    val s = new Socket("127.0.0.1", port)
    s.setSoTimeout(120000)
    (s, new BufferedReader(new InputStreamReader(s.getInputStream)),
      new PrintWriter(s.getOutputStream, true))
  }

  private def recordId(line: String): Long =
    java.lang.Long.parseLong(
      "\"id\":\"(\\d+)\"".r.findFirstMatchIn(line).get.group(1))

  /** Drain a tail connection on its own thread into a queue (records only —
    * `/metadata` cadence lines are counted but not stored).
    */
  private final class TailReader(r: BufferedReader) {
    val records = new ConcurrentLinkedQueue[String]()
    val metas = new AtomicInteger(0)
    @volatile var error: Option[Throwable] = None
    val thread = new Thread(() =>
      try {
        var l = r.readLine()
        while (l != null) {
          if (l.startsWith("/metadata")) metas.incrementAndGet()
          else records.add(l)
          l = r.readLine()
        }
      } catch {
        case _: java.net.SocketException => () // closed by the test: clean end
        case e: Throwable                => error = Some(e)
      })
    thread.setDaemon(true)
    thread.start()
  }

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    cond
  }

  test("concurrent tails + writers + fetch + macro: no cross-talk, ordered ids, clean shutdown") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = Files.createTempDirectory("graft-soak").toString
    val engine = new Engine(spark, dir)
    val srv = new ProtocolServer(engine, 0)
    val port = srv.start()
    try {
      // seeded history so each tail exercises the history phase too
      engine.insert((0 until 30).map(i =>
        s"""{"kind":"${Seq("a", "b", "c")(i % 3)}","w":-1,"i":$i}"""))

      // two live tails on DISJOINT filters, reading concurrently
      val (sa, ra, wa) = connect(port)
      wa.println("/query"); wa.println(""); wa.println("""kind == "a"""")
      val tailA = new TailReader(ra)
      val (sb, rb, wb) = connect(port)
      wb.println("/query"); wb.println(""); wb.println("""kind == "b"""")
      val tailB = new TailReader(rb)

      // both tails must finish history before the live churn starts, so the
      // spec exercises the handoff (10 "a" + 10 "b" seeds)
      assert(awaitTrue(60000)(tailA.records.size >= 10 && tailB.records.size >= 10),
        s"history not served: a=${tailA.records.size} b=${tailB.records.size}")

      // three wire writers interleaving kinds a/b/c concurrently; failures
      // inside a thread must surface in the MAIN thread — a swallowed
      // assert would otherwise resurface later as a misleading drain-count
      // mismatch
      val perWriter = 150
      val writerErrors = new ConcurrentLinkedQueue[Throwable]()
      val writers = (0 until 3).map { w =>
        val t = new Thread(() =>
          try {
            val (s, _, pw) = connect(port)
            pw.println("/insert")
            (0 until perWriter).foreach { i =>
              pw.println(s"""{"kind":"${Seq("a", "b", "c")(i % 3)}","w":$w,"i":$i}""")
              if (i % 25 == 24) { pw.flush(); Thread.sleep(20) } // spread across micro-batches
            }
            pw.flush()
            assert(!pw.checkError(), s"writer $w socket broke mid-burst")
            s.close() // close-after-flush: TCP delivers everything already written
          } catch { case e: Throwable => writerErrors.add(e) })
        t.start(); t
      }

      // control verbs and a bounded fetch page mid-churn, each on its own conn
      val (sm, rm, wm) = connect(port)
      wm.println("/macro"); wm.println("""kindA~kind == "a"""")
      assert(rm.readLine() == "OK")
      sm.close()
      val (sv, rv, wv) = connect(port)
      wv.println("/validate"); wv.println("kindA and w >= 0")
      assert(rv.readLine() == "OK")
      sv.close()
      val (sf, rf, wf) = connect(port)
      wf.println("/fetch"); wf.println("-1"); wf.println("1"); wf.println(""); wf.println("20")
      var fetched = List.empty[Long]
      while (fetched.length < 20) {
        val l = rf.readLine()
        assert(l != null, "fetch page died mid-churn")
        if (!l.startsWith("/metadata")) fetched ::= recordId(l)
      }
      sf.close()
      val fids = fetched.reverse
      assert(fids == fids.sorted && fids == fids.distinct, "fetch page not an ordered page")

      writers.foreach(_.join(120000))
      assert(writerErrors.isEmpty, s"writer thread failed: ${writerErrors.peek()}")
      // the conn threads keep draining buffered bursts AFTER the writer
      // sockets close (each burst is a parquet append): wait for the drain,
      // then the exact-count assert catches both loss and duplication
      val total = 30 + 3 * perWriter
      assert(awaitTrue(120000)(engine.totalRecords >= total),
        s"inserts never drained: ${engine.totalRecords} < $total")
      assert(engine.totalRecords == total, s"over-inserted: ${engine.totalRecords} != $total")

      // every "a" and "b" record must arrive on its tail: 10 seeds + 50/writer
      val expectA = 10 + 3 * 50
      val expectB = 10 + 3 * 50
      assert(awaitTrue(120000)(tailA.records.size >= expectA && tailB.records.size >= expectB),
        s"tails incomplete: a=${tailA.records.size}/$expectA b=${tailB.records.size}/$expectB")

      import scala.jdk.CollectionConverters._
      val aRecs = tailA.records.asScala.toList
      val bRecs = tailB.records.asScala.toList
      // no cross-talk between connections
      assert(aRecs.forall(_.contains("\"kind\":\"a\"")), "tail A got a non-a record")
      assert(bRecs.forall(_.contains("\"kind\":\"b\"")), "tail B got a non-b record")
      assert(aRecs.size == expectA, s"tail A over-delivered: ${aRecs.size}")
      assert(bRecs.size == expectB, s"tail B over-delivered: ${bRecs.size}")
      // strictly increasing ids per connection across the history→live handoff
      val aIds = aRecs.map(recordId)
      val bIds = bRecs.map(recordId)
      assert(aIds.zip(aIds.tail).forall { case (x, y) => x < y }, "tail A ids not increasing")
      assert(bIds.zip(bIds.tail).forall { case (x, y) => x < y }, "tail B ids not increasing")
      // exactly the engine's match set, no gaps (weaker check without
      // re-running the query: count per writer tag)
      (0 until 3).foreach { w =>
        assert(aRecs.count(_.contains(s"\"w\":$w")) == 50, s"tail A missing writer-$w records")
        assert(bRecs.count(_.contains(s"\"w\":$w")) == 50, s"tail B missing writer-$w records")
      }
      assert(tailA.error.isEmpty && tailB.error.isEmpty,
        s"tail reader error: ${tailA.error.orElse(tailB.error)}")

      // clean shutdown: close the tails, stop the server, engine stays usable
      sa.close(); sb.close()
      srv.stop()
      assert(awaitTrue(30000) {
        try { new Socket("127.0.0.1", port).close(); false }
        catch { case _: java.io.IOException => true }
      }, "server still accepting after stop()")
      assert(engine.single(0L, "").get.contains("\"i\":0"))
    } finally {
      srv.stop()
      // leave no streaming tails running into the next suite
      spark.streams.active.foreach(_.stop())
    }
  }
}
