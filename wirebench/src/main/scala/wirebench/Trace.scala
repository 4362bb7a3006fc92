package wirebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.engine.{Engine, Storage}

/** One timed call into a layer. `busyNs` and `items` are filled in as the
  * call proceeds: a `/fetch` scan is consumed lazily by the server after the
  * call returns.
  */
final class Span(val kind: String, val id: String, val startNs: Long) {
  @volatile var busyNs = 0L
  @volatile var items = 0L
}

/** A Spark job and the work its tasks did. Written by the listener-bus
  * thread only.
  */
final class JobRec(val span: String, val compaction: Boolean, val startMs: Long) {
  var endMs = -1L
  var tasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
}

/** Per-layer recorder: spans from the [[TimedStorage]] decorator, Spark
  * jobs from a listener (attributed to a span, or to compaction by call
  * site), micro-batch
  * progress from a streaming listener, and a JVM heap sampler.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicInteger()

  def begin(kind: String): Span = {
    val s = new Span(kind, s"$kind#${seq.incrementAndGet()}", System.nanoTime())
    // local properties ride along to every job this thread submits
    spark.sparkContext.setLocalProperty(SpanKey, s.id)
    spans.add(s)
    s
  }

  def timed[T](kind: String, items: T => Long)(f: => T): T = {
    val s = begin(kind)
    val r = f
    s.busyNs = System.nanoTime() - s.startNs
    s.items = items(r)
    r
  }

  // ---- Spark jobs ----
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val byId = mutable.HashMap[Int, JobRec]()
  private val byStage = mutable.HashMap[Int, JobRec]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val site = prop("callSite.long").getOrElse("") +
        e.stageInfos.map(_.details).mkString("\n")
      // streaming jobs inherit the span of the connection that started
      // the tail; they are not that call's work
      val span =
        if (prop("sql.streaming.queryId").isDefined) "" else prop(SpanKey).getOrElse("")
      val r = new JobRec(span, site.contains("compactGroup"), e.time)
      e.stageIds.foreach(byStage(_) = r)
      byId(e.jobId) = r
      jobs.add(r)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      byId.get(e.jobId).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (r <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
        r.tasks += 1
        r.taskMs += m.executorRunTime
        r.inputBytes += m.inputMetrics.bytesRead
        r.inputRecords += m.inputMetrics.recordsRead
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
  }

  // ---- streaming ----
  final case class Progress(rows: Long, durations: Map[String, Long])
  val progress = new ConcurrentLinkedQueue[Progress]()
  /** Rows each streaming query read over its whole life (never reset). */
  val rowsByQuery = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val active = new AtomicInteger()
  @volatile var activeMax = 0

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val n = active.incrementAndGet()
      if (n > activeMax) activeMax = n
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      rowsByQuery.merge(p.id.toString, p.numInputRows, (a, b) => a + b)
      progress.add(Progress(p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      active.decrementAndGet(); ()
    }
  }

  // ---- JVM ----
  @volatile private var heapMaxBytes = 0L
  @volatile private var sampling = true
  private val sampler = new Thread(() => {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    while (sampling) {
      heapMaxBytes = math.max(heapMaxBytes, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(50)
    }
  }, "wirebench-heap-sampler")
  sampler.setDaemon(true)

  spark.sparkContext.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)
  sampler.start()

  private var windowStartMs = 0L
  private var gcAtStart = 0L

  /** Starts the measured window: spans, finished progress and jobs before
    * it are dropped; active streaming queries carry over.
    */
  def startWindow(): Unit = {
    spans.clear()
    progress.clear()
    activeMax = active.get()
    heapMaxBytes = 0L
    gcAtStart = gcMs()
    windowStartMs = System.currentTimeMillis()
  }

  def stop(): Unit = {
    sampling = false
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  def windowJobs: Seq[JobRec] = jobs.asScala.filter(_.startMs >= windowStartMs).toSeq
  def gcSinceWindow: Long = gcMs() - gcAtStart
  def heapMaxMb: Double = heapMaxBytes / 1048576.0
}

object Tracer {
  val SpanKey = "wirebench.span"
}

/** Timing decorator around the [[Storage]] the protocol server is handed.
  * Every call delegates unchanged; the calls the protocol server makes on
  * the workloads' paths (insert, single, fetchScan, scanWithFlags) are
  * timed.
  */
final class TimedStorage(u: Storage, t: Tracer) extends Storage {
  def spark: SparkSession = u.spark
  def dir: String = u.dir

  def insert(jsonDocs: Seq[String]): Seq[Long] =
    t.timed("insert", (_: Seq[Long]) => jsonDocs.size.toLong)(u.insert(jsonDocs))
  def insertDistributed(lines: Dataset[String], writeShards: Int): Seq[Long] =
    u.insertDistributed(lines, writeShards)

  def records(): DataFrame = u.records()
  def query(leftOff: String, queryStr: String): DataFrame = u.query(leftOff, queryStr)
  def queryExpanded(leftOff: String, expanded: String): DataFrame =
    u.queryExpanded(leftOff, expanded)
  // the server drains the returned frame itself; the span tags its jobs
  def scanWithFlags(leftOff: String, expanded: String): DataFrame =
    t.timed("scan", (_: DataFrame) => 0L)(u.scanWithFlags(leftOff, expanded))
  def single(index: Long, queryStr: String): Option[String] =
    t.timed("single", (r: Option[String]) => r.size.toLong)(u.single(index, queryStr))
  def fetch(leftOff: Long, direction: Int, queryStr: String, limit: Int)
      : (Seq[String], Engine.FetchMeta) = u.fetch(leftOff, direction, queryStr, limit)

  /** The span covers the call and the time spent inside the returned
    * iterator, which the server interleaves with its socket sends.
    */
  def fetchScan(leftOff: Long, direction: Int, queryStr: String, limit: Int)
      : (Iterator[(Long, Option[String])], Long, Long) = {
    val s = t.begin("fetch")
    val (it, total, truncated) = u.fetchScan(leftOff, direction, queryStr, limit)
    s.busyNs = System.nanoTime() - s.startNs
    val timedIt = new Iterator[(Long, Option[String])] {
      def hasNext: Boolean = {
        val t0 = System.nanoTime()
        val h = it.hasNext
        s.busyNs += System.nanoTime() - t0
        h
      }
      def next(): (Long, Option[String]) = {
        val t0 = System.nanoTime()
        val r = it.next()
        s.busyNs += System.nanoTime() - t0
        if (r._2.isDefined) s.items += 1
        r
      }
    }
    (timedIt, total, truncated)
  }

  def validate(queryStr: String): Either[String, Unit] = u.validate(queryStr)
  def addMacro(name: String, expanded: String): Unit = u.addMacro(name, expanded)
  def setInsertionFilter(queryStr: String): Either[String, Unit] = u.setInsertionFilter(queryStr)
  def setLimit(bytes: Long): Unit = u.setLimit(bytes)
  def flush(): Unit = u.flush()
  def reset(): Unit = u.reset()

  def totalRecords: Long = u.totalRecords
  def highWater: Long = u.highWater
  def truncatedTimestamp: Long = u.truncatedTimestamp
  def macros: Map[String, String] = u.macros
  def expandMacros(q: String): String = u.expandMacros(q)
  def close(): Unit = u.close()
}
