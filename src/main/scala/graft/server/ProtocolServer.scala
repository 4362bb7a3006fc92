package graft.server

import java.io.{BufferedReader, InputStreamReader, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean

import graft.bfl.JsonTree
import graft.engine.{Engine, Storage}
import graft.streaming.Streaming

/** The reference's line-based TCP protocol over the Spark engine, so a
  * basenine Go client can talk to this server unchanged
  * (reference: server/server.go:100-280, server/lib/structs.go:43-87).
  *
  * Wire behavior preserved: connection modes set by the first `/command`
  * line; `OK` / error-text / `%quit%` responses; record lines as raw JSON;
  * `/metadata {json}` progress lines with
  * {current,total,numberOfWritten,leftOff,truncatedTimestamp,noMoreData};
  * `/query` streams history then keeps following new inserts (live tail).
  */
final class ProtocolServer(engine: Storage, port: Int,
    // must be 1: the server has one insert path. The wire benchmark
    // (wirebench/.../Main.scala) passes this positionally as `1`, so
    // removing it would silently rebind that argument to `maxLineChars`
    // and still compile; it goes together with a benchmark change
    ingestShards: Int = 1,
    maxLineChars: Int = ProtocolServer.MaxLineChars,
    bindAddr: String = "") {

  require(ingestShards == 1, s"ingestShards must be 1, got $ingestShards")

  @volatile private var server: ServerSocket = _
  private val running = new AtomicBoolean(false)

  def start(): Int = {
    // "" = all interfaces, like the reference's -addr default (server.go:33)
    server =
      if (bindAddr.isEmpty) new ServerSocket(port)
      else new ServerSocket(port, 50, java.net.InetAddress.getByName(bindAddr))
    running.set(true)
    val t = new Thread(() => acceptLoop(), "graft-protocol-accept")
    t.setDaemon(true)
    t.start()
    server.getLocalPort
  }

  def stop(): Unit = {
    running.set(false)
    if (server != null) server.close()
  }

  private def acceptLoop(): Unit =
    while (running.get()) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), "graft-protocol-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: Exception => /* socket closed */ }
    }

  /** Per-line size cap, mirroring the reference's scanner buffer of
    * 209,715,200 bytes (server/server.go:115): a line that exceeds it
    * kills the connection, exactly as Go's bufio.Scanner stops scanning
    * on ErrTooLong and handleConnection returns. Also the DoS guard — an
    * unterminated stream can no longer grow an unbounded StringBuilder.
    * (Cap counted in chars; the reference counts UTF-8 bytes — for the
    * protocol's ASCII-framed traffic these coincide.)
    */
  private final class LineTooLong extends Exception

  /** `BufferedReader.readLine` semantics ('\n' terminator, trailing '\r'
    * stripped, null at EOF) with the [[MaxLineChars]] cap enforced while
    * reading — the unbounded aggregation is the whole bug.
    */
  private def readLineCapped(in: BufferedReader): String = {
    var c = in.read()
    if (c == -1) return null
    val sb = new java.lang.StringBuilder
    while (c != -1 && c != '\n') {
      sb.append(c.toChar)
      if (sb.length > maxLineChars) throw new LineTooLong
      c = in.read()
    }
    if (sb.length > 0 && sb.charAt(sb.length - 1) == '\r') sb.setLength(sb.length - 1)
    sb.toString
  }

  private def send(out: OutputStream, msg: String): Unit = {
    out.write((msg + "\n").getBytes(StandardCharsets.UTF_8))
    out.flush()
  }

  /** `/metadata {json}` progress line (reference: native.go:497-511). */
  private def metadataJson(current: Long, total: Long, written: Long,
      leftOff: Long, truncated: Long, noMore: Boolean): String = {
    val m = new JsonTree.Obj
    m.put("current", current)
    m.put("total", total)
    m.put("numberOfWritten", written)
    m.put("leftOff", Engine.indexToId(leftOff))
    m.put("truncatedTimestamp", truncated)
    m.put("noMoreData", noMore)
    "/metadata " + JsonTree.serialize(m)
  }

  // one connection = one mode, like the reference's handleConnection
  private def handle(sock: Socket): Unit = {
    val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
    val out = sock.getOutputStream
    var mode = "NONE"
    val args = scala.collection.mutable.ArrayBuffer[String]()
    try {
      var line = readLineCapped(in)
      while (line != null) {
        if (mode == "NONE" && line.startsWith("/")) {
          line.split(" ", 2)(0) match {
            case "/insert"        => mode = "INSERT"
            case "/insert-filter" => mode = "INSERTION_FILTER"
            case "/query"         => mode = "QUERY"
            case "/single"        => mode = "SINGLE"
            case "/fetch"         => mode = "FETCH"
            case "/validate"      => mode = "VALIDATE"
            case "/macro"         => mode = "MACRO"
            case "/limit"         => mode = "LIMIT"
            case "/flush"         => engine.flush(); send(out, "OK")
            case "/reset"         => engine.reset(); send(out, "OK")
            case _                => send(out, "Unrecognized command.")
          }
        } else {
          mode match {
            case "INSERT" =>
              // drain everything already buffered on the connection into ONE
              // engine batch — one Parquet append per burst instead of one
              // Spark job per line (the reference appends per line because
              // its append is a cheap WriteAt; ours is a columnar batch)
              val batch = scala.collection.mutable.ListBuffer(line)
              while (in.ready()) {
                val more = readLineCapped(in)
                if (more != null) batch += more
              }
              engine.insert(batch.toSeq)
            case "INSERTION_FILTER" =>
              engine.setInsertionFilter(line) match {
                case Right(_) => send(out, "OK")
                case Left(e)  => send(out, e)
              }
            case "VALIDATE" =>
              engine.validate(line) match {
                case Right(_) => send(out, "OK")
                case Left(e)  => send(out, e)
              }
            case "MACRO" =>
              val s = line.split("~")
              if (s.length != 2) send(out, "Error: Provide only two expressions!")
              else { engine.addMacro(s(0).trim, s(1).trim); send(out, "OK") }
            case "LIMIT" =>
              GoAtoi.parse(line) match {
                case Right(n) => engine.setLimit(n); send(out, "OK")
                case Left(e) =>
                  // reference: native.go:852-864 interpolates Go's err.Error()
                  send(out, s"Error: While converting the limit to integer: $e")
              }
            case "SINGLE" =>
              args += line
              if (args.length == 2) {
                GoAtoi.parse(args(0)) match {
                  case Left(e) =>
                    // reference: native.go:528-530 interpolates Go's err.Error()
                    send(out, s"Error: While converting the index to integer: $e")
                  case Right(idx) =>
                    // the reference checks the REMOVED-adjusted index: < 0 ⇒
                    // evicted ⇒ "does not exist"; > highWater ⇒ out of range
                    // (native.go:536-551 — its `l` bound is offsets+removed).
                    // Comparing the ADJUSTED index against that bound (and
                    // printing the adjusted value) is the reference's own
                    // quirk, replicated deliberately — /fetch bounds the RAW
                    // index, also like the reference (native.go:649-656).
                    // Where Go would panic past the offsets slice, indexes in
                    // the uncovered window reply "Record does not exist!".
                    val adjusted = idx - (engine.highWater - engine.totalRecords)
                    if (adjusted < 0) send(out, "Record does not exist!")
                    else if (adjusted > engine.highWater)
                      send(out, s"Index out of range: $adjusted")
                    else
                      engine.single(idx, args(1)) match {
                        case Some(doc) => send(out, doc)
                        case None      => send(out, "Record does not exist!")
                      }
                }
              }
            case "FETCH" =>
              args += line
              if (args.length == 4) {
                handleFetch(out, args(0), args(1), args(2), args(3))
              }
            case "QUERY" =>
              args += line
              if (args.length == 2) streamQuery(sock, out, args(0), args(1))
            case _ => ()
          }
        }
        line = readLineCapped(in)
      }
    } catch { case _: Exception => () }
    finally sock.close()
  }

  /** `/fetch`: the reference emits, for EVERY scanned offset, a `/metadata`
    * line (numberOfWritten-so-far, cumulative `current`, leftOff one past the
    * scan point) and THEN the record when it matches (native.go:728-820).
    * The scan arrives partition-lazily from [[Engine.fetchScan]], so a page
    * over a huge log never materializes on the driver.
    */
  private def handleFetch(out: OutputStream, leftOffS: String, dirS: String,
      query: String, limitS: String): Unit = {
    // special leftOff values route through the same dispatch as /query:
    // "" → 0, "latest" → last index floored at 0 (reference:
    // handleSpecialLeftOff, native.go:1158-1176)
    val leftOff = leftOffS match {
      case "" | null => 0L
      case "latest"  => math.max(engine.highWater - 1, 0L)
      case s =>
        GoAtoi.parse(s) match {
          case Right(v) => v
          case Left(e) =>
            // reference: native.go:630-632
            send(out, s"Error: Cannot parse leftOff value to int: $e"); return
        }
    }
    // Go's Atoi is 64-bit: a raw .toInt would WRAP out-of-int32 values
    // (direction -4294967295 → +1, flipping the scan direction) — only the
    // sign of direction matters, and limit saturates
    val dir = GoAtoi.parse(dirS) match {
      case Right(v) => if (v < 0) -1 else 1
      case Left(e) =>
        // reference: native.go:635-639
        send(out, s"Error: While converting the direction to integer: $e"); return
    }
    val limit = GoAtoi.parse(limitS) match {
      case Right(v) => math.min(math.max(v, Int.MinValue.toLong), Int.MaxValue.toLong).toInt
      case Left(e) =>
        // reference: native.go:642-646
        send(out, s"Error: While converting the limit to integer: $e"); return
    }
    // the reference bounds leftOff by offsets+removed (native.go:649-656)
    if (leftOff > engine.highWater) {
      send(out, s"Index out of range: $leftOff"); return
    }
    var written = 0L
    var scanned = 0L
    var stop = false
    var exhausted = false
    var lastScanned = -1L
    var resume = leftOff
    var attempts = 0
    var firstId = engine.highWater - engine.totalRecords
    var lastId = engine.highWater - 1
    // a scan losing the race against retention mid-stream resumes from the
    // protocol's OWN mechanism — the one-past-the-scan-point leftOff — the
    // way a reference reader skips a removed partition and continues
    // (native.go:745-755); already-sent records are never re-sent
    while (!stop && !exhausted && attempts < 6) {
      firstId = engine.highWater - engine.totalRecords
      lastId = engine.highWater - 1
      try {
        val (scan, total, truncated) =
          engine.fetchScan(resume, dir, query, (limit - written).toInt)
        var emitted = false
        while (!stop && scan.hasNext) {
          val (id, doc) = scan.next()
          emitted = true
          lastScanned = id
          scanned += 1
          // one past the scan point, per direction (native.go:732-741)
          val nextOff = if (dir < 0) id else id + 1
          resume = nextOff
          val noMore = if (dir < 0) id <= firstId else id >= lastId
          send(out, metadataJson(scanned, total, written, nextOff, truncated, noMore))
          doc.foreach { d =>
            send(out, d)
            written += 1
            // limit counts matches; the reference stops the offset loop there
            if (written >= limit) stop = true
          }
        }
        if (!stop) exhausted = true
        if (!emitted && !stop) exhausted = true
      } catch {
        // ONLY retention races retry — a dead socket must propagate to the
        // connection handler, not trigger rescans against a closed client
        case e if Engine.isEvictionRace(e) => attempts += 1
      }
    }
    // the reference's limit check sits at the TOP of the next iteration and
    // `return`s WITHOUT SendClose (native.go:729-731) — so a page that ends
    // by reaching the limit with offsets still unscanned sends no %quit%;
    // only a page that runs to the log boundary closes the stream (the
    // engine's scan is itself limit-bounded, so "offsets remained" is
    // decided against the boundary ids, not scan.hasNext)
    val offsetsRemained =
      if (dir < 0) lastScanned > firstId else lastScanned < lastId
    if (!(stop && offsetsRemained)) send(out, "%quit%")
  }

  /** `/query`: history + live tail. History is served in id order from the
    * engine; then a Structured Streaming tail keeps pushing new matches until
    * the client disconnects (reference: native.go:369-523).
    */
  private def streamQuery(sock: Socket, out: OutputStream, leftOff: String,
      query: String): Unit = {
    var written = 0L
    // the tail must start after everything the HISTORY phase scanned —
    // matched or not — and never before leftOff (the client asked to skip
    // those); seed from both
    val histHighWater = engine.highWater - 1
    val leftOffSeed = leftOff match {
      case "" | null => -1L
      case "latest"  => engine.highWater - 2 // history = last record only
      case s         => s.toLong
    }
    var last = math.max(histHighWater, leftOffSeed)
    @volatile var dead = false
    def sendSafe(msg: String): Unit =
      if (!dead) {
        try send(out, msg)
        catch { case _: Exception => dead = true } // client disconnected
      }
    // expand macros ONCE: limit extraction, the history scan, and the tail
    // all evaluate the same query text even if /macro runs concurrently
    val expanded = engine.expandMacros(query)
    val limit: Long = graft.bfl.Parser.parse(expanded) match {
      case Right(q) => q.limit.getOrElse(0L)
      case Left(_)  => 0L
    }
    // history: the reference writes the record (when it matches) and then a
    // `/metadata` line for EVERY scanned offset, `current` counting scans
    // since the last metadata emission — always 1 here, there are no skip
    // paths — and leftOff one past the scan point (native.go:432-518). The
    // scan streams partition-lazily (toLocalIterator): an unselective query
    // over a large log never materializes on the driver, and breaking out at
    // `limit` stops fetching further partitions.
    var done = false
    var histDone = false
    var histResume = leftOff
    var attempts = 0
    // a history scan losing the race against retention resumes from the
    // last id it emitted (exclusive resume — QUERY leftOff semantics), the
    // same mechanism handleFetch uses; nothing is re-sent
    while (!done && !dead && !histDone && attempts < 6) {
      try {
        val hist = engine.scanWithFlags(histResume, expanded).toLocalIterator()
        while (!done && !dead && hist.hasNext) {
          val r = hist.next()
          val id = r.getLong(0)
          if (!r.isNullAt(1)) {
            sendSafe(r.getString(1))
            written += 1
          }
          sendSafe(metadataJson(1, engine.totalRecords, written, id + 1,
            engine.truncatedTimestamp, noMore = false))
          // a record inserted DURING the history scan can exceed the
          // pre-scan high-water snapshot; advancing `last` here keeps the
          // tail from re-sending it
          last = math.max(last, id)
          histResume = id.toString
          // `limit(N)` ends the stream once satisfied — no live tail
          // (reference: native.go:513-517 returns from StreamRecords)
          if (limit != 0 && written >= limit) done = true
        }
        histDone = true
      } catch {
        case e if Engine.isEvictionRace(e) => attempts += 1
      }
    }
    if (done || dead) return
    // live tail: the streaming source starts after everything the history
    // scanned and reads each later record once, in id order; same
    // per-scanned-record metadata cadence as the history loop
    val tailQ = Streaming.startTailScan(engine.spark, engine.dir, expanded, last,
      (rows, _) =>
        rows.foreach { case (id, doc) =>
          if (!done) {
            doc.foreach { d =>
              sendSafe(d)
              written += 1
            }
            sendSafe(metadataJson(1, engine.totalRecords, written, id + 1,
              engine.truncatedTimestamp, noMore = false))
            if (limit != 0 && written >= limit) done = true
          }
        })
    // hold the connection open until the client goes away or the limit is
    // reached. A failed write flips `dead`, like the reference's conn.Write
    // error break; a quiet tail writes nothing, so the client's EOF is read
    // here too. Bytes sent after the query line are dropped — the reference
    // never reads them.
    sock.setSoTimeout(100)
    val in = sock.getInputStream
    val drop = new Array[Byte](4096)
    try while (!dead && !done && tailQ.isActive) {
      try if (in.read(drop) < 0) dead = true
      catch { case _: java.net.SocketTimeoutException => () }
    }
    catch { case _: Exception => dead = true }
    finally { tailQ.stop(); sock.setSoTimeout(0) }
    // a tail that stopped or failed by itself delivers nothing more: close
    // the connection so the client sees EOF instead of a silent hang
    if (!dead && !done) {
      tailQ.exception.foreach(e => System.err.println(s"graft: /query live tail failed: $e"))
      sock.close()
    }
  }
}

/** Go `strconv.Atoi` with Go's exact error STRINGS — the reference
  * interpolates `err.Error()` into its numeric-argument replies
  * (native.go:528-530, 630-646, 852-864), so wire parity needs
  * `strconv.Atoi: parsing "abc": invalid syntax`, not the raw input.
  */
private[server] object GoAtoi {

  /** `%q`-style quoting for the error message (Go strconv.Quote): printable
    * ASCII plus the common escapes; other control bytes as \xHH.
    */
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      // Go escapes every non-printable: C0 + DEL as \xhh, C1 as \u00hh
      case c if Character.isISOControl(c) =>
        if (c < 0x80) b ++= f"\\x${c.toInt}%02x" else b ++= f"\\u${c.toInt}%04x"
      case c => b += c // printable (Go keeps unicode)
    }
    (b += '"').toString
  }

  /** Right(value) or Left(Go error string). Atoi on a 64-bit platform is
    * int64-ranged: optional sign + digits only (no trim, no hex).
    */
  def parse(s: String): Either[String, Long] = {
    val body = if (s.nonEmpty && (s(0) == '+' || s(0) == '-')) s.substring(1) else s
    if (body.isEmpty || !body.forall(c => c >= '0' && c <= '9'))
      Left(s"strconv.Atoi: parsing ${quote(s)}: invalid syntax")
    else
      try Right(s.toLong)
      catch {
        case _: NumberFormatException =>
          Left(s"strconv.Atoi: parsing ${quote(s)}: value out of range")
      }
  }
}

object ProtocolServer {
  /** Reference scanner-buffer cap (server/server.go:115): 209,715,200 B. */
  val MaxLineChars: Int = 209715200
}
