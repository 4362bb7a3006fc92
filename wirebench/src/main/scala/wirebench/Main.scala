package wirebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.engine.{Engine, Storage}
import graft.server.ProtocolServer

/** Command line of one benchmark run (see wirebench/README.md). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    data: String,
    cpus: Int,
    traceOut: Option[String],
    smoke: Boolean,
    breakModel: Boolean
)

object Args {
  val Workloads = Seq("ingest", "ui_reads", "live_tail")

  def parse(argv: Seq[String]): Either[String, Args] = {
    val valued = mutable.Map[String, String]()
    val flags = mutable.Set[String]()
    var i = 0
    while (i < argv.length) {
      val k = argv(i)
      if (k == "--smoke" || k == "--break-model") { flags += k; i += 1 }
      else if (k.startsWith("--") && i + 1 < argv.length) { valued(k.drop(2)) = argv(i + 1); i += 2 }
      else return Left(s"unexpected argument $k")
    }
    def need(k: String) = valued.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload").filterOrElse(Workloads.contains, s"unknown workload; one of ${Workloads.mkString(", ")}")
      seed <- need("seed").flatMap(_.toLongOption.toRight("bad --seed"))
      secs <- need("seconds").flatMap(_.toIntOption.filter(_ > 0).toRight("bad --seconds"))
      trace <- need("trace").filterOrElse(t => t == "0" || t == "1", "--trace is 0 or 1")
      data <- need("data")
      cpus <- need("cpus").flatMap(_.toIntOption.filter(_ > 0).toRight("bad --cpus"))
    } yield Args(w, seed, secs, trace == "1", data, cpus, valued.get("trace-out"),
      flags("--smoke"), flags("--break-model"))
  }
}

/** Workload sizes. `smoke` shrinks every one so a whole run takes seconds. */
final case class Sizes(
    setupPreload: Int,
    setupBatches: Int,
    uiPreload: Int,
    uiBatch: Int,
    warmSteps: Int,
    burst: Int,
    warmBursts: Int,
    warmSeconds: Double,
    setups: Int
)

object Sizes {
  /** ui_reads: viewer steps per round (one history drain each). */
  val UiSteps = 4
  /** live_tail: the writer's open-loop period and docs per burst. */
  val TailPeriodMs = 250
  val TailBurst = 4

  val Full = Sizes(setupPreload = 2000, setupBatches = 2, uiPreload = 10000,
    uiBatch = 2000, warmSteps = 12, burst = 200, warmBursts = 20,
    warmSeconds = 4.0, setups = 3)
  val Smoke = Sizes(setupPreload = 100, setupBatches = 1, uiPreload = 300,
    uiBatch = 150, warmSteps = 2, burst = 20, warmBursts = 5,
    warmSeconds = 1.0, setups = 2)
}

/** A metric line: name, unit, value and the number of samples behind it. */
final case class M(name: String, unit: String, value: Double, samples: Long)

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; NaN on no samples. */
  def q(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = q * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = q(xs, 0.5)
  def ms(ns: Long): Double = ns / 1e6
}

object Main {
  def main(argv: Array[String]): Unit = {
    val code = Args.parse(argv.toSeq) match {
      case Left(err) =>
        System.err.println(s"wirebench: $err")
        2
      case Right(a) =>
        try new Bench(a).run()
        catch {
          case e: Throwable =>
            System.err.println("wirebench: run aborted")
            e.printStackTrace()
            3
        }
    }
    System.out.flush()
    System.err.flush()
    // the server's connection threads and any live tails die with the JVM
    Runtime.getRuntime.halt(code)
  }
}

/** One live server: Engine + ProtocolServer over a fresh log directory, as
  * ServerMain wires them (ingestShards 1).
  */
final class Live(val dir: String, val engine: Engine, val server: ProtocolServer,
    val port: Int) {
  def stop(): Unit = { server.stop(); engine.close() }
}

final class Bench(a: Args) {
  private val sizes = if (a.smoke) Sizes.Smoke else Sizes.Full
  private val out = ArrayBuffer[M]()
  private var attempted = 0L
  private var failed = 0L
  private val problems = ArrayBuffer[String]()

  /** The documents the program should hold, by id. */
  private val log = ArrayBuffer[Doc]()
  private var nextSeq = 0L
  /** Docs sent that the model says the insertion filter keeps. */
  private var modelKept = 0L

  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private var live: Live = _

  // filled by the workloads for the per-layer metrics
  private var windowOps = 0L
  private var metadataLines = 0L
  private val fetchWireMs = ArrayBuffer[Double]()
  private val lateMs = ArrayBuffer[Double]()
  private var workloadQueries: Seq[String] = Nil
  /** Set-up the workload does once, after the repeated set-ups (seconds). */
  private var oneShotSetupS = 0.0

  private val started = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  private def note(msg: String): Unit =
    System.err.println(f"wirebench: ${(System.nanoTime() - started) / 1e9}%6.1fs $msg")

  /** Counts one attempted operation; false (and a failed one) unless `ok`. */
  private def op(ok: Boolean, what: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (problems.size < 20) problems += what
    }
    ok
  }

  /** The model's filter: `--break-model` swaps the rare filter's model for a
    * wrong one, so the benchmark's own checks can be shown to fire.
    */
  private def model(f: Filter): Doc => Boolean =
    if (a.breakModel && f.name == "rare") (d: Doc) => d.status == 404 else f.model

  private def keptByInsertFilter(d: Doc): Boolean =
    a.breakModel || Gen.keptByInsertFilter(d)

  def run(): Int = {
    val boot0 = System.nanoTime()
    spark = Sessions.builder(s"local[${a.cpus}]", a.cpus)
      .appName("graft-wirebench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bootS = (System.nanoTime() - boot0) / 1e9
    if (a.trace) tracer = Some(new Tracer(spark))
    note("spark up")

    // set-up, repeated: a fresh Engine + ProtocolServer and the workload's
    // whole preload
    val setupS = (0 until sizes.setups).map { i =>
      if (live != null) live.stop()
      log.clear()
      nextSeq = 0L
      modelKept = 0L
      val t0 = System.nanoTime()
      live = setup(i)
      (System.nanoTime() - t0) / 1e9
    }
    note(s"set-ups done: ${setupS.map(x => f"$x%.2f").mkString(" ")} s")

    val measured = a.workload match {
      case "ingest"    => ingest()
      case "ui_reads"  => uiReads()
      case "live_tail" => liveTail()
    }
    // set-up time: Spark's boot, the median repeated set-up and the
    // workload's own one-shot set-up (live_tail's tails)
    val e2e = ArrayBuffer(
      M("setup_s", "s", bootS + Stats.median(setupS) + oneShotSetupS, setupS.size.toLong))
    e2e ++= measured
    extra(M("spark_boot_s", "s", bootS, 1))
    extra(M("setup_repeat_s", "s", Stats.median(setupS), setupS.size.toLong))

    note("workload done")
    e2e.foreach(emit)
    out.foreach(emit)
    val correct = failed == 0
    problems.foreach(p => System.err.println(s"wirebench: check failed: $p"))
    println(s"""{"workload":"${a.workload}","attempted":$attempted,"failed":$failed}""")

    val reported =
      if (!a.trace) e2e.toSeq
      else layers()
    a.traceOut.foreach { path =>
      val body = (e2e ++ out ++ (if (a.trace) reported else Nil))
        .map(m => s"""  "${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}", "samples": ${m.samples}}""")
        .mkString(",\n")
      Files.write(Paths.get(path), s"{\n$body\n}\n".getBytes("UTF-8"))
    }
    val metrics = reported
      .map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
      .mkString(",")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$metrics}}""")
    if (correct) 0 else 1
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def emit(m: M): Unit =
    println(s"""{"metric":"${m.name}","workload":"${a.workload}","unit":"${m.unit}",""" +
      s""""value":${num(m.value)},"samples":${m.samples}}""")

  private def extra(m: M): Unit = out += m

  // ------------------------------------------------------------------
  // set-up
  // ------------------------------------------------------------------

  private def setup(i: Int): Live = {
    val dir = Paths.get(a.data, s"log$i").toString
    val eng = new Engine(spark, dir)
    val st: Storage = tracer.map(new TimedStorage(eng, _)).getOrElse(eng)
    val srv = new ProtocolServer(st, 0, 1, bindAddr = "127.0.0.1")
    val l = new Live(dir, eng, srv, srv.start())
    val ingest = a.workload == "ingest"
    if (ingest) {
      val w = new Wire(l.port)
      try {
        w.send(Seq("/insert-filter", Gen.HealthzFilter))
        val r = w.readLine()
        if (r != "OK") throw new IllegalStateException(s"/insert-filter replied $r")
      } finally w.close()
    }
    if (a.workload == "ui_reads")
      (0 until sizes.uiPreload / sizes.uiBatch).foreach(_ => preload(eng, sizes.uiBatch, 0))
    else
      (0 until sizes.setupBatches).foreach(_ =>
        preload(eng, sizes.setupPreload / sizes.setupBatches, if (ingest) 10 else 0))
    // first wire round trip: the server answers
    val w = new Wire(l.port)
    try {
      w.send(Seq("/validate", Gen.Wide.bfl))
      val r = w.readLine()
      if (r != "OK") throw new IllegalStateException(s"/validate replied $r")
    } finally w.close()
    l
  }

  /** One preload batch straight into the engine (not over the wire), so
    * every run starts from the same batch layout.
    */
  private def preload(eng: Engine, n: Int, healthzShare: Int): Unit = {
    val docs = Gen.docs(a.seed, nextSeq, n, healthzShare)
    nextSeq += n
    eng.insert(docs.map(_.json))
    log ++= docs.filter(d => healthzShare == 0 || Gen.keptByInsertFilter(d))
    modelKept += docs.count(d => healthzShare == 0 || keptByInsertFilter(d))
    if (eng.highWater != log.size)
      throw new IllegalStateException(s"preload: highWater ${eng.highWater} != ${log.size}")
  }

  /** Ends the untimed warm-up that began at `warm0` (nanoTime). */
  private def startWindow(warm0: Long): Unit = {
    extra(M("warmup_s", "s", (System.nanoTime() - warm0) / 1e9, 1))
    note("warm-up done")
    tracer.foreach(_.startWindow())
  }

  // ------------------------------------------------------------------
  // ingest: one closed-loop writer, fixed bursts through the insert filter
  // ------------------------------------------------------------------

  private def ingest(): Seq[M] = {
    workloadQueries = Seq(Gen.HealthzFilter)
    val w = new Wire(live.port)
    w.send(Seq("/insert"))
    val lat = ArrayBuffer[Double]()
    var docsCommitted = 0L

    def burst(): Boolean = {
      val docs = Gen.docs(a.seed, nextSeq, sizes.burst, healthzShare = 10)
      nextSeq += sizes.burst
      // the wait follows the generator's marking; the check below follows
      // the model
      val kept = docs.filter(Gen.keptByInsertFilter)
      log ++= kept
      modelKept += docs.count(keptByInsertFilter)
      val target = log.size.toLong
      val t0 = System.nanoTime()
      w.send(docs.map(_.json))
      val deadline = t0 + 60_000_000_000L
      while (live.engine.highWater < target && System.nanoTime() < deadline)
        java.util.concurrent.locks.LockSupport.parkNanos(100_000L)
      val ok = live.engine.highWater == target
      lat += Stats.ms(System.nanoTime() - t0)
      docsCommitted += kept.size
      op(ok, s"insert burst: highWater ${live.engine.highWater}, expected $target")
    }

    // warm-up: the same bursts, untimed
    val warm0 = System.nanoTime()
    var alive = true
    (0 until sizes.warmBursts).foreach(_ => if (alive) alive = burst())
    startWindow(warm0)
    lat.clear()
    docsCommitted = 0L
    val windowStartOps = attempted
    val t0 = System.nanoTime()
    val end = t0 + a.seconds * 1_000_000_000L
    // whole rounds of 5 bursts
    while (alive && System.nanoTime() < end)
      (0 until 5).foreach(_ => if (alive) alive = burst())
    val wallS = (System.nanoTime() - t0) / 1e9
    windowOps = attempted - windowStartOps
    w.close()

    // checks: highWater is the model's count; a seeded sample of /single
    // reads returns each sent doc with its 24-digit id
    op(live.engine.highWater == modelKept,
      s"highWater ${live.engine.highWater} != model $modelKept")
    val r = new java.util.SplittableRandom(a.seed ^ 0x5eed)
    (0 until 10).foreach { _ =>
      val id = r.nextInt(log.size)
      checkSingle(id, "", None)
    }

    extra(M("insert_commit_p50_ms", "ms", Stats.median(lat), lat.size))
    extra(M("insert_commit_p90_ms", "ms", Stats.q(lat, 0.9), lat.size))
    extra(M("insert_docs_per_s", "1/s", docsCommitted / wallS, lat.size))
    Seq(
      M("p50_ms", "ms", Stats.median(lat), lat.size),
      M("items_per_s", "1/s", docsCommitted / wallS, lat.size))
  }

  /** One /single over the wire, checked against the model; wire ms. */
  private def checkSingle(id: Long, query: String, redact: Option[String]): Double = {
    val w = new Wire(live.port)
    try {
      val t0 = System.nanoTime()
      w.send(Seq("/single", id.toString, query))
      val line = w.readLine()
      val dt = Stats.ms(System.nanoTime() - t0)
      val ok = line != null && !line.startsWith("Index") && !line.startsWith("Record") &&
        scala.util.Try(Wire.tree(line)).toOption.contains(Wire.expected(log(id.toInt), id, redact))
      op(ok, s"/single $id ${if (query.isEmpty) "" else query}: got ${String.valueOf(line).take(200)}")
      dt
    } finally w.close()
  }

  // ------------------------------------------------------------------
  // ui_reads: a viewer's fixed, seeded read sequence over a preloaded log
  // ------------------------------------------------------------------

  private def uiReads(): Seq[M] = {
    workloadQueries = Gen.Filters.map(_.bfl) ++ Seq(Gen.RedactQuery, "")
    val stepMs = ArrayBuffer[Double]()
    val fetchMs = ArrayBuffer[Double]()
    val singleMs = ArrayBuffer[Double]()
    val firstMs = ArrayBuffer[Double]()
    val afterDrainMs = ArrayBuffer[Double]()
    var drained = 0L
    var drainNs = 0L
    val n = log.size

    /** One viewer step: a /fetch page, then a /single. Even steps page from
      * "latest"; odd steps from a leftOff in the newer half of the log,
      * spread evenly over it with a seeded jitter, so every round of
      * `steps` costs about the same. Returns (fetch ms, single ms).
      */
    def step(r: java.util.SplittableRandom, s: Int, steps: Int): (Double, Double) = {
      val f = Gen.Filters(s % Gen.Filters.size)
      val slot = (n / 2) / math.max(steps / 2, 1)
      val leftOff =
        if (s % 2 == 0) "latest"
        else (n / 2 + (s / 2) * slot + r.nextInt(slot)).toString
      val fm = checkFetch(leftOff, f)
      val redact = s % 2 == 1
      val sm = checkSingle(r.nextInt(n), if (redact) Gen.RedactQuery else "",
        if (redact) Some(Gen.RedactPath) else None)
      (fm, sm)
    }

    // warm-up: the same steps, untimed, until the JIT has settled (the
    // latency of a step falls steeply over about the first ten), then one
    // drain, so that every measured round starts right after a drain
    val warm0 = System.nanoTime()
    val warm = new java.util.SplittableRandom(a.seed * 31L)
    (0 until sizes.warmSteps).foreach(s => step(warm, s % Sizes.UiSteps, Sizes.UiSteps))
    checkDrain(Gen.Wide)

    // measured: whole rounds of UiSteps steps and one history drain, by one
    // viewer with no pause; each round is seeded by its number. The server
    // keeps each drained /query as a live tail whose first micro-batch
    // re-reads the log, and that read overlaps the round's first steps.
    startWindow(warm0)
    metadataLines = 0L
    val windowStartOps = attempted
    val t0 = System.nanoTime()
    val end = t0 + a.seconds * 1_000_000_000L
    var k = 0
    while (System.nanoTime() < end && failed == 0) {
      val r = new java.util.SplittableRandom(a.seed * 7919L + k)
      (0 until Sizes.UiSteps).foreach { s =>
        val (fm, sm) = step(r, s, Sizes.UiSteps)
        fetchMs += fm; singleMs += sm; stepMs += fm + sm
        fetchWireMs += fm
        if (s == 0) afterDrainMs += fm + sm
      }
      val (first, total) = checkDrain(Gen.Wide)
      firstMs += first; drained += n; drainNs += total
      k += 1
    }
    windowOps = attempted - windowStartOps
    note(s"step ms: ${stepMs.map(x => f"$x%.0f").mkString(" ")}")

    // a run holds ~20 steps: too few for a p90 to be a tail, so it is an
    // extra line and not a gated metric
    extra(M("step_p90_ms", "ms", Stats.q(stepMs, 0.9), stepMs.size))
    extra(M("step_after_drain_ms", "ms", Stats.median(afterDrainMs), afterDrainMs.size))
    extra(M("fetch_p50_ms", "ms", Stats.median(fetchMs), fetchMs.size))
    extra(M("fetch_p90_ms", "ms", Stats.q(fetchMs, 0.9), fetchMs.size))
    extra(M("single_p50_ms", "ms", Stats.median(singleMs), singleMs.size))
    extra(M("single_p90_ms", "ms", Stats.q(singleMs, 0.9), singleMs.size))
    extra(M("query_first_record_ms", "ms", Stats.median(firstMs), firstMs.size))
    extra(M("history_records_per_s", "1/s", drained / (drainNs / 1e9), firstMs.size))
    Seq(
      M("p50_ms", "ms", Stats.median(stepMs), stepMs.size),
      M("items_per_s", "1/s", drained / (drainNs / 1e9), firstMs.size))
  }

  /** A backward /fetch page of 20, checked against the model: the 20
    * highest matching ids below leftOff, descending, with one /metadata line
    * per scanned record. Returns the wire ms to the page's last record.
    */
  private def checkFetch(leftOff: String, f: Filter): Double = {
    val n = log.size
    val bound = if (leftOff == "latest") n - 1 else leftOff.toInt
    val m = model(f)
    val want = (bound - 1 to 0 by -1).iterator.filter(i => m(log(i))).take(20).toVector
    val wantScanned = if (want.size == 20) bound - want.last else bound
    val w = new Wire(live.port)
    try {
      val t0 = System.nanoTime()
      w.send(Seq("/fetch", leftOff, "-1", f.bfl, "20"))
      val got = ArrayBuffer[String]()
      var meta = 0
      var done = false
      while (!done) {
        val line = w.readLine()
        if (line == null || line == Wire.Quit) done = true
        else if (line.startsWith(Wire.Metadata)) meta += 1
        else { got += line; if (got.size == 20) done = true }
      }
      val dt = Stats.ms(System.nanoTime() - t0)
      metadataLines += meta
      val ok = got.size == want.size && meta == wantScanned &&
        got.zip(want).forall { case (line, id) =>
          scala.util.Try(Wire.tree(line)).toOption.contains(Wire.expected(log(id), id))
        }
      op(ok, s"/fetch $leftOff ${f.name}: ${got.size} records (want ${want.size}), " +
        s"$meta metadata lines (want $wantScanned)")
      dt
    } finally w.close()
  }

  /** A full /query history drain from "": exactly the model's matches in
    * ascending id order and one /metadata line per record in the log.
    * Returns (ms to first record, ns to the last /metadata line).
    */
  private def checkDrain(f: Filter): (Double, Long) = {
    val n = log.size
    val m = model(f)
    val want = log.indices.iterator.filter(i => m(log(i))).toVector
    val w = new Wire(live.port)
    try {
      val t0 = System.nanoTime()
      w.send(Seq("/query", "", f.bfl))
      var first = -1L
      var meta = 0
      var i = 0
      var ok = true
      while (meta < n && ok) {
        val line = w.readLine()
        if (line == null) ok = false
        else if (line.startsWith(Wire.Metadata)) meta += 1
        else {
          if (first < 0) first = System.nanoTime() - t0
          ok = i < want.size &&
            scala.util.Try(Wire.tree(line)).toOption.contains(Wire.expected(log(want(i)), want(i)))
          i += 1
        }
      }
      val total = System.nanoTime() - t0
      metadataLines += meta
      op(ok && i == want.size && meta == n,
        s"/query '' ${f.name}: $i records (want ${want.size}), $meta metadata lines (want $n)")
      (Stats.ms(math.max(first, 0L)), total)
    } finally w.close() // the server keeps this tail's streaming query
  }

  // ------------------------------------------------------------------
  // live_tail: three /query tails, one open-loop writer
  // ------------------------------------------------------------------

  /** One /query tail from "latest": a reader thread records each record
    * line's arrival time.
    */
  private final class Tail(val f: Filter) {
    val w = new Wire(live.port, 180000)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val ready = new java.util.concurrent.CountDownLatch(1)
    w.send(Seq("/query", "latest", f.bfl))
    private val reader = new Thread(() => {
      try {
        var line = w.readLine()
        while (line != null) {
          val now = System.nanoTime()
          if (line.startsWith(Wire.Metadata)) { ready.countDown(); metaSeen.incrementAndGet() }
          else got.add((now, line))
          line = w.readLine()
        }
      } catch { case _: Exception => () }
      ready.countDown()
    }, s"wirebench-tail-${f.name}")
    val metaSeen = new java.util.concurrent.atomic.AtomicLong()
    reader.setDaemon(true)
    reader.start()
    def close(): Unit = { w.close(); reader.join(5000) }
  }

  private def liveTail(): Seq[M] = {
    workloadQueries = Gen.Filters.map(_.bfl)
    // one-shot set-up: the tails, each up once its history has ended
    val tails0 = System.nanoTime()
    val tails = Gen.Filters.map(new Tail(_))
    tails.foreach(_.ready.await(60, java.util.concurrent.TimeUnit.SECONDS))
    oneShotSetupS = (System.nanoTime() - tails0) / 1e9
    extra(M("tails_ready_s", "s", oneShotSetupS, tails.size))
    // the history of a tail from "latest" is the last preloaded record
    val firstId = log.size - 1
    val w = new Wire(live.port)
    w.send(Seq("/insert"))
    val dueNs = mutable.HashMap[Long, Long]() // seq -> due time
    val r = new java.util.SplittableRandom(a.seed ^ 0x7a11L)
    val warmMs = (sizes.warmSeconds * 1000).toLong
    val totalMs = warmMs + a.seconds * 1000L
    val baseNs = System.nanoTime() + 200_000_000L
    val baseEpoch = System.currentTimeMillis() + 200L
    var k = 0
    var offMs = 0L
    var windowStarted = false
    var windowBursts = 0L
    var windowDocs = 0L
    while (offMs < totalMs) {
      if (!windowStarted && offMs >= warmMs) { startWindow(baseNs); windowStarted = true }
      val due = baseNs + offMs * 1_000_000L
      val wait = due - System.nanoTime()
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
      val late = System.nanoTime() - due
      val docs = Gen.docs(a.seed, nextSeq, Sizes.TailBurst).map(_.copy(due = baseEpoch + offMs))
      nextSeq += Sizes.TailBurst
      log ++= docs
      docs.foreach(d => dueNs(d.seq) = due)
      w.send(docs.map(_.json))
      if (offMs >= warmMs) {
        lateMs += Stats.ms(late); windowBursts += 1; windowDocs += docs.size
      }
      k += 1
      // seeded jitter keeps the mean period
      offMs = k.toLong * Sizes.TailPeriodMs + r.nextInt(Sizes.TailPeriodMs / 5) - Sizes.TailPeriodMs / 10
    }
    val windowFrom = baseNs + warmMs * 1_000_000L
    val windowTo = baseNs + totalMs * 1_000_000L
    // wait for every tail to receive everything its model expects
    val want = tails.map { t =>
      val m = model(t.f)
      (firstId until log.size).filter(i => m(log(i)))
    }
    val deadline = System.nanoTime() + 60_000_000_000L
    while (tails.zip(want).exists { case (t, ws) => t.got.size < ws.size } &&
        System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(600) // one more trigger: anything extra would show now
    windowOps = windowBursts
    w.close()

    val lat = ArrayBuffer[Double]()
    var lastAt = windowFrom
    tails.zip(want).foreach { case (t, ws) =>
      val got = t.got.asScala.toVector
      metadataLines += t.metaSeen.get()
      val trees = got.map { case (at, line) => (at, scala.util.Try(Wire.tree(line)).toOption) }
      val ids = trees.map(_._2.map(Wire.idOf).getOrElse(-1L))
      val increasing = ids.zip(ids.drop(1)).forall { case (x, y) => x < y }
      // one op per expected delivery, one failed op per missing, extra or
      // wrong one
      val gotById = trees.flatMap { case (at, tr) => tr.map(x => Wire.idOf(x) -> (at, x)) }.toMap
      ws.foreach { id =>
        val ok = gotById.get(id).exists(_._2 == Wire.expected(log(id), id))
        op(ok, s"tail ${t.f.name}: record $id missing or wrong")
        gotById.get(id).foreach { case (at, _) =>
          val d = dueNs.getOrElse(id.toLong, -1L)
          if (d >= windowFrom && d < windowTo) {
            lat += Stats.ms(at - d)
            lastAt = math.max(lastAt, at)
          }
        }
      }
      val extras = got.size - ws.size
      if (extras != 0 || !increasing)
        op(ok = false, s"tail ${t.f.name}: ${got.size} records for ${ws.size} expected, " +
          s"ids increasing: $increasing")
    }
    tails.foreach(_.close())

    // the window's docs over the time from the window's start until the
    // last of them has reached every tail that matches it: slower tails
    // stretch that time and lower the rate
    val rate = windowDocs / ((lastAt - windowFrom) / 1e9)
    extra(M("tail_docs_followed_per_s", "1/s", rate, windowDocs))
    extra(M("tail_deliver_p50_ms", "ms", Stats.median(lat), lat.size))
    extra(M("tail_deliver_p90_ms", "ms", Stats.q(lat, 0.9), lat.size))
    Seq(
      M("p50_ms", "ms", Stats.median(lat), lat.size),
      M("items_per_s", "1/s", rate, lat.size))
  }

  // ------------------------------------------------------------------
  // traced run: per-layer metrics
  // ------------------------------------------------------------------

  private def layers(): Seq[M] = {
    val t = tracer.get
    Thread.sleep(500) // let the listener bus deliver the window's last events
    val jobs = t.windowJobs
    val spans = t.spans.asScala.toVector
    def spansOf(k: String) = spans.filter(_.kind == k).sortBy(_.startNs)
    val jobsBySpan = jobs.groupBy(_.span)
    def jobMs(j: JobRec) = if (j.endMs >= 0) (j.endMs - j.startMs).toDouble else 0.0
    def spanJobs(s: Span) = jobsBySpan.getOrElse(s.id, Nil)
    def ratio(x: Double, y: Double) = if (y > 0) x / y else 0.0
    val out = ArrayBuffer[M]()
    def put(name: String, unit: String, v: Double, n: Long): Unit = out += M(name, unit, v, n)

    // server
    val inserts = spansOf("insert")
    put("server.docs_per_insert_call", "count", ratio(inserts.map(_.items).sum, inserts.size), inserts.size)
    val fetches = spansOf("fetch")
    val selfMs =
      if (fetches.size == fetchWireMs.size)
        fetches.zip(fetchWireMs).map { case (s, wire) => wire - Stats.ms(s.busyNs) }
      else Vector.empty
    put("server.fetch_self_ms_p50", "ms", Stats.median(selfMs), selfMs.size)
    put("server.metadata_lines", "count", metadataLines, 1)

    // engine: insert
    put("engine.insert_calls", "count", inserts.size, inserts.size)
    put("engine.insert_ms_p50", "ms", Stats.median(inserts.map(s => Stats.ms(s.busyNs))), inserts.size)
    put("engine.insert_write_job_ms_p50", "ms",
      Stats.median(inserts.map(s => spanJobs(s).map(jobMs).sum)), inserts.size)
    put("engine.insert_driver_ms_p50", "ms",
      Stats.median(inserts.map(s => Stats.ms(s.busyNs) - spanJobs(s).map(jobMs).sum)), inserts.size)

    // engine: reads
    val fetchJobs = fetches.flatMap(spanJobs)
    put("engine.fetch_scan_ms_p50", "ms", Stats.median(fetches.map(s => Stats.ms(s.busyNs))), fetches.size)
    put("engine.fetch_jobs_per_call", "count", ratio(fetchJobs.size, fetches.size), fetches.size)
    put("engine.fetch_rows_read_per_result", "count",
      ratio(fetchJobs.map(_.inputRecords).sum, fetches.map(_.items).sum), fetches.size)
    val singles = spansOf("single")
    put("engine.single_ms_p50", "ms", Stats.median(singles.map(s => Stats.ms(s.busyNs))), singles.size)
    put("engine.single_rows_read_per_call", "count",
      ratio(singles.flatMap(spanJobs).map(_.inputRecords).sum, singles.size), singles.size)

    // engine: log layout and compaction
    val compactions = jobs.filter(_.compaction)
    val (liveFiles, liveBytes) = liveBatches()
    put("engine.live_files", "count", liveFiles, 1)
    put("engine.compaction_jobs", "count", compactions.size, compactions.size)
    put("engine.compaction_task_ms", "ms", compactions.map(_.taskMs).sum, compactions.size)
    val inputBytes = log.iterator.map(_.json.length.toLong).sum
    put("engine.disk_bytes_per_input_byte", "ratio", ratio(liveBytes, inputBytes), 1)

    // streaming
    val batches = t.progress.asScala.toVector.filter(_.rows > 0)
    def dur(k: String) = Stats.median(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    put("streaming.batches", "count", batches.size, batches.size)
    put("streaming.trigger_ms_p50", "ms", dur("triggerExecution"), batches.size)
    put("streaming.get_batch_ms_p50", "ms", dur("getBatch"), batches.size)
    put("streaming.plan_ms_p50", "ms", dur("queryPlanning"), batches.size)
    put("streaming.add_batch_ms_p50", "ms", dur("addBatch"), batches.size)
    val rowsRead = t.rowsByQuery.values.asScala.map(_.longValue).sum
    put("streaming.rows_read_per_record", "ratio",
      ratio(rowsRead, t.rowsByQuery.size.toDouble * live.engine.highWater), t.rowsByQuery.size)
    put("streaming.active_queries_max", "count", t.activeMax, 1)

    // spark
    put("spark.jobs", "count", jobs.size, jobs.size)
    put("spark.tasks", "count", jobs.map(_.tasks).sum, jobs.size)
    put("spark.task_ms", "ms", jobs.map(_.taskMs).sum, jobs.size)
    put("spark.job_ms_p50", "ms", Stats.median(jobs.map(jobMs)), jobs.size)
    put("spark.input_bytes", "B", jobs.map(_.inputBytes).sum, jobs.size)
    put("spark.shuffle_write_bytes", "B", jobs.map(_.shuffleWriteBytes).sum, jobs.size)
    put("spark.jobs_per_op", "count", ratio(jobs.size, windowOps), windowOps)

    // jvm / generator
    put("jvm.gc_ms", "ms", t.gcSinceWindow, 1)
    put("jvm.heap_used_max_mb", "MB", t.heapMaxMb, 1)
    put("gen.late_ms_p90", "ms", Stats.q(lateMs, 0.9), lateMs.size)
    t.stop()

    // direct calls, after the window: bfl and a history scan
    out ++= bflTimings()
    out ++= directScan()
    note("traced extras done")
    out.toSeq
  }

  /** (live batch dirs, their bytes on disk), from the engine's manifest. */
  private def liveBatches(): (Int, Long) = {
    val meta = Wire.tree(new String(Files.readAllBytes(Paths.get(live.dir, "meta.json")), "UTF-8"))
    val names = meta.get("batches").elements().asScala.map(_.asText).toVector
    val bytes = names.map { n =>
      Files.walk(Paths.get(live.dir, "records", n)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
    }.sum
    (names.size, bytes)
  }

  /** Direct timed calls into graft.bfl over the workload's own queries and
    * documents.
    */
  private def bflTimings(): Seq[M] = {
    import graft.bfl.{Compiler, Interp, JsonTree, Parser}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType), StructField("ts", LongType),
      StructField("doc", StringType)))
    val qs = workloadQueries
    val reps = if (a.smoke) 20 else 300
    val parseUs = ArrayBuffer[Double]()
    val compileUs = ArrayBuffer[Double]()
    (0 until reps).foreach { _ =>
      qs.foreach { q =>
        val t0 = System.nanoTime()
        val parsed = Parser.parse(q)
        val t1 = System.nanoTime()
        parseUs += (t1 - t0) / 1e3
        parsed.foreach { p =>
          val c0 = System.nanoTime()
          // interpreter-tier queries (redact) do not compile; they are not timed
          if (scala.util.Try(Compiler.compileQuery(schema, p, docCol = Some("doc"))).isSuccess)
            compileUs += (System.nanoTime() - c0) / 1e3
        }
      }
    }
    val interps = qs.flatMap(q => Parser.parse(q).toOption).map(new Interp(_))
    val docs = log.iterator.take(2000).map(d => JsonTree.parse(d.json)).toVector
    var best = Double.MaxValue
    (0 until 5).foreach { _ =>
      val t0 = System.nanoTime()
      var hits = 0
      docs.foreach(d => interps.foreach(i => if (i.eval(d)) hits += 1))
      val perDoc = (System.nanoTime() - t0) / 1e3 / math.max(docs.size * interps.size, 1)
      best = math.min(best, perDoc)
    }
    Seq(
      M("bfl.parse_us_p50", "us", Stats.median(parseUs), parseUs.size),
      M("bfl.compile_us_p50", "us", Stats.median(compileUs), compileUs.size),
      M("bfl.interp_us_per_doc", "us", best, docs.size.toLong * interps.size))
  }

  /** A direct `scanWithFlags` drain of the whole log with the wide filter:
    * the history path without the socket.
    */
  private def directScan(): Seq[M] = {
    val t0 = System.nanoTime()
    val it = live.engine.scanWithFlags("", Gen.Wide.bfl).toLocalIterator()
    var first = -1L
    var n = 0L
    while (it.hasNext) {
      it.next()
      if (first < 0) first = System.nanoTime() - t0
      n += 1
    }
    val total = (System.nanoTime() - t0) / 1e9
    Seq(
      M("engine.scan_first_row_ms", "ms", Stats.ms(first), 1),
      M("engine.scan_records_per_s", "1/s", n / total, n))
  }
}
