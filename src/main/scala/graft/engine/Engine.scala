package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.bfl.{Ast, Bfl, Compiler, Interp, JsonTree, Macros, Parser}
import graft.functions.BflExpressions

/** Engine over a Parquet-backed append-only record log — the Spark-native
  * re-expression of the reference's storage + command surface
  * (reference: server/lib/storages/native.go, server/lib/structs.go:90-107).
  *
  * | reference                      | here                                    |
  * |--------------------------------|-----------------------------------------|
  * | length-prefixed JSON log files | Parquet batches `records/batch_%09d`    |
  * | offsets[] + partitionRefs[]    | manifest id ranges: each batch's        |
  * |                                | firstId..lastId in meta.json picks the  |
  * |                                | batches a read opens; Parquet row-group |
  * |                                | min/max stats prune inside a batch      |
  * | global RWMutex single writer   | engine-level insert lock (single JVM);  |
  * |                                | cluster: one streaming sink per log     |
  * | fsnotify tail, resumed from    | Structured Streaming source whose       |
  * | the last offset served         | offset is the committed high-water id;  |
  * |                                | a micro-batch reads only the batches    |
  * |                                | past the previous one                   |
  * | gob core dump                  | meta.json (macros, filter, high-water)  |
  *
  * Records carry (id LONG, ts LONG epoch-millis, doc STRING); the stored doc
  * has the 24-digit zero-padded id injected, exactly like the reference
  * (reference: native.go:302-311, helpers.go:15-17).
  */
final class Engine(
    val spark: SparkSession,
    val dir: String,
    /** Batch-log compaction policy (the reference's periodicPartitioner
      * consolidation role, native.go:1046-1108): bin-pack contiguous runs of
      * small `batch_%09d` dirs into one consolidated batch so a long-running
      * trickle ingest (one dir per 500 ms trigger = ~170k dirs/day) keeps a
      * BOUNDED listing/planning cost. Ids are immutable, so compaction is a
      * rewrite + atomic dir swap; correctness is unchanged by construction.
      */
    val compactMinRun: Int = 16,       // smallest run worth rewriting
    val compactKeepRecent: Int = 4,    // newest dirs are the live tail region — never touched
    val compactTargetBytes: Long = 128L << 20, // consolidated dir size target (~1 HDFS block)
    val compactMinAgeMs: Long = 10000L, // only dirs at least this old (tail grace window)
    val compactInBackground: Boolean = true, // ticker-driven; false = caller ticks (tests)
    /** Replaced/evicted dirs stay ON DISK this long after leaving the
      * manifest, so every scan planned before the swap keeps reading files
      * that still exist (the LSM/Iceberg deferred-GC discipline). 0 = delete
      * immediately (tests that count directories).
      */
    val gcGraceMs: Long = 15000L
) extends Storage {

  import Engine._

  private val recordsDir = Paths.get(dir, "records")
  private val metaPath = Paths.get(dir, "meta.json")

  Files.createDirectories(recordsDir)

  // ---- durable metadata (the reference's gob core dump analog) ----
  @volatile private var meta: Meta = loadMeta()

  // adopt/garbage-collect the on-disk state against the manifest — BEFORE
  // any reader can list the log (constructor runs before first use)
  reconcileLog()

  private def loadMeta(): Meta =
    if (Files.exists(metaPath)) Meta.fromJson(new String(Files.readAllBytes(metaPath), StandardCharsets.UTF_8))
    else Meta()

  /** Atomic: the manifest inside meta.json is the log's commit point, so a
    * torn write must be impossible, not just unlikely.
    */
  private def saveMeta(): Unit = {
    val tmp = metaPath.resolveSibling(".meta.json.tmp")
    Files.write(tmp, meta.toJson.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, metaPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private val recordSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("doc", StringType, nullable = false)
  ))

  // ------------------------------------------------------------------
  // commands (reference: server/lib/structs.go:60-72 dispatch surface)
  // ------------------------------------------------------------------

  /** `/insert` — batch insert of JSON lines. Applies the insertion filter
    * (drop + transform), injects the 24-digit id, appends one Parquet batch.
    * Returns the ids assigned. Single-writer per engine instance, like the
    * reference's storage mutex (reference: native.go:266-334).
    */
  def insert(jsonDocs: Seq[String]): Seq[Long] = synchronized {
    val filterInterp = meta.insertionFilter.map(q =>
      new Interp(parseOrThrow(expand(q))))
    val now = System.currentTimeMillis()
    var nextId = meta.highWater
    val rows = jsonDocs.flatMap { json =>
      JsonTree.tryParse(json) match {
        case None => None // non-JSON lines are rejected (server_test.go:30-32)
        case Some(root0) =>
          var root = root0
          val keep = filterInterp.forall { in =>
            val t = in.eval(root)
            t
          }
          if (!keep) None
          else {
            root match {
              case m: JsonTree.Obj =>
                m.put("id", indexToId(nextId))
                val ts = m.get("timestamp") match {
                  case Some(l: Long) => l
                  case _             => now
                }
                val r = Row(nextId, ts, JsonTree.serialize(m))
                nextId += 1
                Some(r)
              case _ => None // non-object records are rejected
            }
          }
      }
    }
    val newBatch =
      if (rows.isEmpty) None
      else {
        val name = f"batch_${meta.batchSeq}%09d"
        spark.createDataFrame(rows.asJava, recordSchema)
          .coalesce(1) // no shuffle — preserves id order inside the batch file
          .write
          .mode(SaveMode.Append)
          .parquet(recordsDir.resolve(name).toString)
        Some(Batch(name, meta.highWater, nextId - 1, rows.size.toLong,
          dirBytes(recordsDir.resolve(name)), rows.map(_.getLong(1)).max))
      }
    val assigned = (meta.highWater until nextId).toList
    // manifest commit AFTER the dir is complete: a crash in between leaves
    // an unacked orphan the open-time reconcile deletes
    meta = meta.copy(highWater = nextId, batchSeq = meta.batchSeq + 1,
      batches = meta.batches ++ newBatch)
    saveMeta()
    enforceRetention()
    assigned
  }

  /** `/insert` at scale: the same semantics as [[insert]] — insertion filter
    * (drop + transform), contiguous ids in arrival order, 24-digit id
    * injection, one Parquet batch append — but EXECUTOR-side. The driver
    * path parses and filters every document on one thread (the round-2
    * measured ~24k rec/s ingest ceiling); here the micro-batch is processed
    * as a distributed two-pass pipeline:
    *
    *   1. parse + insertion-filter + transform in parallel on executors
    *      (order-preserving; rejected lines consume no id);
    *   2. contiguous id assignment via `zipWithIndex` (the standard
    *      distributed rank idiom: one count job over the cached survivors,
    *      then per-partition offsets), id injected + serialized executor-side;
    *   3. `writeShards` Parquet part-files written in parallel into ONE
    *      batch directory (each part covers a contiguous id range, so
    *      row-group min/max pruning behaves exactly like the driver path).
    *
    * The engine lock is held throughout: one writer per log, like the
    * reference's storage mutex — parallelism comes from WITHIN the batch.
    * At cluster scale this is the sink of a Structured Streaming ingest:
    * shard ↔ Kafka partition, id reservation ↔ log offset range.
    */
  def insertDistributed(lines: org.apache.spark.sql.Dataset[String],
      writeShards: Int = 4): Seq[Long] = synchronized {
    import org.apache.spark.storage.StorageLevel
    val filterQ: Option[Ast.Query] =
      meta.insertionFilter.map(q => parseOrThrow(expand(q)))
    val prepped = lines.rdd
      .mapPartitions(Engine.prepPartition(filterQ))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val kept = prepped.count()
      val base = meta.highWater
      if (kept > 0) {
        val now = System.currentTimeMillis()
        val rows = prepped
          .zipWithIndex()
          .map { case (doc, i) => Engine.buildRecordRow(doc, base + i, now) }
        // The N shard part-files are renamed into the output dir ONE AT A
        // TIME during commitJob, so a crash mid-commit would leave a
        // `batch_*` dir holding only some shards. Writing to a dot-prefixed
        // dir (which the open-time reconcile deletes as an incomplete
        // write) and renaming the DIRECTORY is atomic on POSIX: a batch dir
        // exists with all its shards or not at all. The driver path needs
        // none of this — one part file, one rename.
        val tmp = recordsDir.resolve(f".batch_${meta.batchSeq}%09d.tmp")
        spark
          .createDataFrame(rows, recordSchema)
          .coalesce(math.max(1, writeShards))
          .write
          .mode(SaveMode.Overwrite) // clobber a stale tmp from a crashed run
          .parquet(tmp.toString)
        Files.move(tmp, recordsDir.resolve(f"batch_${meta.batchSeq}%09d"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      meta = meta.copy(highWater = base + kept, batchSeq = meta.batchSeq + 1,
        batches =
          if (kept > 0) meta.batches :+ describe(f"batch_${meta.batchSeq}%09d")
          else meta.batches)
      saveMeta()
      enforceRetention()
      (base until base + kept).toList
    } finally { prepped.unpersist(blocking = false); () }
  }

  /** All live records as a DataFrame (id, ts, doc). */
  def records(): DataFrame = recordsOver(_ => true)

  /** Live records of the manifest batches `keep` selects by id range — a
    * read opens only the batches that can hold its ids (the reference's
    * offsets index at batch granularity); Parquet row-group min/max stats
    * prune further inside them.
    */
  private def recordsOver(keep: Batch => Boolean): DataFrame = {
    // Retention or compaction may remove a batch dir under a reader — the
    // reference's readers likewise skip removed partitions ("fRef == nil …
    // pass this offset", native.go:745-755). Two distinct race windows:
    //   - files vanishing AFTER planning → FAILED_READ_FILE at execution;
    //     every materialization site replans via retryOnEvictionRace. NOT
    //     ignoreMissingFiles: a silent skip is correct for retention (rows
    //     legitimately evicted) but LOSES rows a compaction merely moved —
    //     throw-and-replan is correct for both.
    //   - a batch dir vanishing BETWEEN lookup and path resolution →
    //     PATH_NOT_FOUND at planning, handled by a fresh lookup (bounded).
    var attempt = 0
    while (attempt < 6) {
      val batches = meta.batches.filter(keep)
      if (batches.isEmpty)
        return spark.createDataFrame(java.util.List.of[Row](), recordSchema)
      try return readBatches(batches)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("PATH_NOT_FOUND") =>
          attempt += 1 // eviction won the race; look up again and retry
      }
    }
    throw new IllegalStateException("records(): path listing raced eviction 6 times")
  }

  /** Explicit batch paths, NOT a glob: a data directory containing glob
    * metacharacters ([ ] { } * ?) must not change what the scan matches.
    */
  private def readBatches(batches: Seq[Batch]): DataFrame =
    spark.read.schema(recordSchema).parquet(batches.map(b => batchPath(b).toString): _*)

  private def batchPath(b: Batch): Path = recordsDir.resolve(b.name)

  /** `/query` — filtered scan from `leftOff` (exclusive index semantics match
    * Fetch; "" = beginning, "latest" = last record only). Returns transformed
    * docs in id order, capped by the query's `limit(N)`
    * (reference: native.go:369-523).
    */
  def query(leftOff: String, queryStr: String): DataFrame =
    queryExpanded(leftOff, expand(queryStr))

  /** Like [[query]] but with macros already expanded — callers that expand
    * once up-front (the protocol server) avoid a second, possibly
    * macro-state-racing expansion.
    */
  def queryExpanded(leftOff: String, expanded: String): DataFrame = {
    val q = parseOrThrow(expanded)
    val matched = applyQuery(baseFrom(leftOff), expanded, q).orderBy("id")
    q.limit.fold(matched)(n => matched.limit(n.toInt))
  }

  /** shared QUERY-mode leftOff dispatch: "" = beginning, "latest" = last
    * record only, otherwise exclusive resume (reference:
    * native.go:392,1158-1176 handleSpecialLeftOff).
    */
  private def baseFrom(leftOff: String): DataFrame = leftOff match {
    case "" | null => records()
    case "latest" =>
      val last = meta.highWater - 1
      recordsOver(_.lastId >= last).where(col("id") === last)
    case s =>
      val after = s.toLong
      recordsOver(_.lastId > after).where(col("id") > after)
  }

  /** `/single` — point lookup by index; only the query's record-altering
    * helpers apply, the predicate itself is not used to reject
    * (reference: native.go:526-601).
    */
  def single(index: Long, queryStr: String): Option[String] = {
    val expanded = expand(queryStr)
    parseOrThrow(expanded) // validate
    val rows = retryOnEvictionRace {
      recordsOver(b => b.firstId <= index && index <= b.lastId)
        .where(col("id") === index)
        .select(BflExpressions.bflTransform(col("doc"), expanded))
        .collect()
    }
    rows.headOption.map(_.getString(0))
  }

  /** Retry a materialized read that lost the race against retention: the
    * parquet FOOTER open wraps its FileNotFoundException in ways
    * `ignoreMissingFiles` cannot intercept (FAILED_READ_FILE.NO_HINT), so
    * the read is re-planned against a fresh batch listing — the exact
    * analog of the reference reader skipping a removed partition and
    * carrying on (native.go:745-755). Bounded: a persistent failure is a
    * real error, not a race.
    */
  private[engine] def retryOnEvictionRace[T](f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case e: Exception if attempt < 5 && Engine.isEvictionRace(e) => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** `/fetch` scan — every SCANNED record in scan order as (id, doc-or-None):
    * doc is present (transformed) iff the record matches. The reference emits
    * a `/metadata` line per scanned offset (native.go:728-820), so the
    * protocol server needs unmatched ids too. The scan walks the manifest
    * from `leftOff` in scan direction, one Spark job per step, and stops at
    * the record where the `limit`-th match lands; when fewer matches exist
    * it runs to the log boundary, like the reference's offset loop. A page
    * that fits in the batch holding `leftOff` reads only that batch.
    *
    * Each step looks its batches up in the CURRENT manifest from the scan
    * cursor, so a compaction swap or an eviction between steps costs nothing:
    * moved ids are found in their new batch, evicted ids are gone. A step
    * covers one batch at first, then as many rows as the scan has read so
    * far (capped): a page near its start costs one or two jobs, and a long
    * scan over a fragmented log costs O(log batches) jobs, not one per dir.
    * The driver holds one step's scanned ids plus its matched docs.
    */
  def fetchScan(leftOff: Long, direction: Int, queryStr: String, limit: Int)
      : (Iterator[(Long, Option[String])], Long, Long) = {
    val expanded = expand(queryStr)
    val q = parseOrThrow(expanded)
    val total = meta.highWater - meta.removedCount
    // limit <= 0: the reference's `numberOfWritten >= _limit` check fires on
    // the first loop iteration — nothing is scanned (native.go:729-731)
    if (limit <= 0) return (Iterator.empty, total, meta.truncatedTimestamp)
    val backward = direction < 0
    // a forward scan ends at the call's high-water, not at later inserts
    val end = meta.highWater
    val it = new Iterator[(Long, Option[String])] {
      // forward is INCLUSIVE of leftOff (offsets[leftOff:]), backward is
      // exclusive (offsets[:leftOff]) — reference: native.go:700-706, pinned
      // by the server fetch matrix (server_test.go:403-418). So the cursor
      // is the next id to scan forward, or one past it backward.
      private var cursor = if (backward) math.min(leftOff, end) else leftOff
      private var matched = 0
      private var readRows = 0L
      private var step: Iterator[(Long, Option[String])] = Iterator.empty

      def hasNext: Boolean = {
        while (!step.hasNext && matched < limit && nextStep()) ()
        step.hasNext
      }

      def next(): (Long, Option[String]) = {
        if (!hasNext) throw new NoSuchElementException("fetch scan exhausted")
        val r = step.next()
        if (r._2.isDefined) matched += 1
        r
      }

      /** Reads the next step's rows into `step`; false at the log boundary. */
      private def nextStep(): Boolean = retryOnEvictionRace {
        val bs = meta.batches
        val head =
          if (backward) bs.lastIndexWhere(_.firstId < cursor)
          else bs.indexWhere(b => b.lastId >= cursor && b.firstId < end)
        if (head < 0) false
        else {
          val budget = math.min(math.max(readRows, 1L), MaxStepRows)
          val order = if (backward) (head to 0 by -1) else (head until bs.length)
          var rows = 0L
          val group = order.iterator.map(bs(_)).takeWhile { b =>
            val take = rows == 0L || rows + b.rows <= budget
            if (take) rows += b.rows
            take
          }.toVector
          val (lo, hi) =
            if (backward) (group.last.firstId, cursor - 1)
            else (cursor, math.min(group.last.lastId, end - 1))
          val ordered = readBatches(group)
            .where(col("id").between(lo, hi))
            .coalesce(1) // one task, so the running match count is global
            .sortWithinPartitions(if (backward) col("id").desc else col("id"))
          step = flagsOver(ordered, expanded, q).rdd
            .mapPartitions(Engine.untilMatches(limit - matched))
            .collect()
            .iterator
            .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getString(1))))
          readRows += rows
          cursor = if (backward) lo else hi + 1
          true
        }
      }
    }
    (it, total, meta.truncatedTimestamp)
  }

  /** `/fetch` — page of up to `limit` matching records scanning forward
    * (direction > 0) or backward from `leftOff`; limit counts MATCHES
    * (reference: native.go:625-827). Returns (matched docs, metadata).
    */
  def fetch(leftOff: Long, direction: Int, queryStr: String, limit: Int): (Seq[String], FetchMeta) = {
    // materialized page: losing the retention race re-plans the whole page
    // (idempotent — evicted rows legitimately vanish between attempts)
    val (rows, total, truncated) = retryOnEvictionRace {
      val (it, t, tr) = fetchScan(leftOff, direction, queryStr, limit)
      (it.toVector, t, tr)
    }
    val docs = rows.flatMap(_._2)
    val lastScanned = rows.lastOption.map(_._1)
    // resume point is one PAST the last scanned record in scan direction
    // (the reference's _leftOff counts beyond each scanned offset,
    // native.go:732-741): forward resume is INCLUSIVE so one past = id+1;
    // backward resume is EXCLUSIVE so one past = the scanned id itself —
    // `last - 1` here would skip a record per backward page. Matches the
    // per-record metadata the protocol server emits (handleFetch nextOff).
    val nextLeftOff = lastScanned
      .map(last => if (direction < 0) last else last + 1)
      .getOrElse(leftOff)
    // the log boundary being scanned also means no more data
    val atBoundary = lastScanned.exists { last =>
      if (direction < 0) last <= meta.removedCount else last >= meta.highWater - 1
    }
    val m = FetchMeta(
      total = total,
      numberOfWritten = docs.length,
      leftOff = nextLeftOff,
      // limit <= 0 pages never advance and never produce more data — flag
      // them done so a noMoreData-keyed pagination loop terminates
      noMoreData = limit <= 0 || docs.length < limit || atBoundary,
      truncatedTimestamp = truncated
    )
    (docs, m)
  }

  /** `/query` history scan — (id, doc-or-null) for EVERY record past
    * `leftOff` in id order; doc non-null iff matched (transformed when the
    * query alters records). Feeds the reference's per-scanned-record
    * `/metadata` cadence (native.go:432-518). No match filter reaches the
    * scan by design — the protocol requires touching every record — but the
    * `leftOff` id range still prunes Parquet row groups.
    */
  def scanWithFlags(leftOff: String, expanded: String): DataFrame = {
    val q = parseOrThrow(expanded)
    flagsOver(baseFrom(leftOff), expanded, q).orderBy("id")
  }

  /** (id, doc-or-null) projection: compiled-tier predicate inside `when`
    * (NULL condition ⇒ no match, so no coalesce wrapper), or ONE fused
    * interpreter eval (bflEval) on the fallback tier.
    */
  private def flagsOver(df: DataFrame, expanded: String, q: Ast.Query): DataFrame =
    try {
      val plan = Compiler.compileQuery(df.schema, q, docCol = Some("doc"))
      val d =
        if (usesAlteringHelpers(q)) BflExpressions.bflTransform(col("doc"), expanded)
        else col("doc")
      df.select(col("id"), when(plan.pred, d).as("doc"))
    } catch {
      case e: IllegalArgumentException => throw e
      case scala.util.control.NonFatal(_) =>
        df.select(col("id"), BflExpressions.bflEval(col("doc"), expanded).as("doc"))
    }

  /** `/validate` — parse-only (reference: native.go:605-622). */
  def validate(queryStr: String): Either[String, Unit] =
    Bfl.validate(queryStr, meta.macros)

  /** `/macro name~expansion` (reference: native.go:830-850, macro.go). */
  def addMacro(name: String, expanded: String): Unit = synchronized {
    meta = meta.copy(macros = Macros.add(meta.macros, name, expanded))
    saveMeta()
  }

  /** `/insert-filter` (reference: native.go:866-885). */
  def setInsertionFilter(queryStr: String): Either[String, Unit] = synchronized {
    validate(queryStr).map { _ =>
      meta = meta.copy(insertionFilter = Some(queryStr))
      saveMeta()
    }
  }

  /** `/limit <bytes>` — retention budget (reference: native.go:852-864). */
  def setLimit(bytes: Long): Unit = synchronized {
    meta = meta.copy(limitBytes = Some(bytes))
    saveMeta()
  }

  /** `/flush` — drop records, keep macros/filters (reference: native.go:888-903).
    * Explicitly destructive: deletes immediately (no GC grace) and drains
    * the deferred queue, so nothing can resurrect or collide with the
    * restarting batchSeq.
    */
  def flush(): Unit = synchronized {
    deleteBatches(meta.batches.map(batchPath))
    gcTick(force = true)
    deleteBatches(hiddenEntries()) // half-written tmp dirs go too
    meta = meta.copy(highWater = 0L, removedCount = 0L, truncatedTimestamp = 0L,
      batchSeq = 0L, batches = Vector.empty)
    saveMeta()
  }

  /** `/reset` — flush + clear macros/filter/limit (reference: native.go:906-928). */
  def reset(): Unit = synchronized {
    flush()
    meta = Meta()
    saveMeta()
  }

  def totalRecords: Long = meta.highWater - meta.removedCount
  /** next id to be assigned; ids < highWater exist (or were evicted) */
  def highWater: Long = meta.highWater
  def expandMacros(q: String): String = expand(q)
  def truncatedTimestamp: Long = meta.truncatedTimestamp
  def macros: Map[String, String] = meta.macros

  // ------------------------------------------------------------------

  private def expand(q: String): String = Macros.expand(meta.macros, q)

  private def parseOrThrow(expanded: String): Ast.Query =
    Parser.parse(expanded).fold(e => throw new IllegalArgumentException(e), identity)

  /** Filter + transform with the compiled tier when the query allows it
    * (pure predicates run as native Columns over get_json_object residuals),
    * interpreter expression otherwise.
    */
  private def applyQuery(df: DataFrame, expanded: String, q: Ast.Query): DataFrame = {
    val filtered = applyQueryNoLimit(df, expanded)
    if (usesAlteringHelpers(q))
      filtered.withColumn("doc", BflExpressions.bflTransform(col("doc"), expanded))
    else filtered
  }

  /** Compiled tier first: a compilable query runs as native Columns over
    * `get_json_object(doc, …)` — codegen'd, no per-row interpreter, and the
    * id/ts conjuncts remain pushable. Falls back to the exact interpreter
    * expression for redact/json()/xml()/descent shapes.
    */
  private def applyQueryNoLimit(df: DataFrame, expanded: String): DataFrame =
    try {
      val q = parseOrThrow(expanded)
      val plan = Compiler.compileQuery(df.schema, q, docCol = Some("doc"))
      df.where(plan.pred)
    } catch {
      case e: IllegalArgumentException => throw e // bad query text propagates
      case scala.util.control.NonFatal(_) =>
        df.where(coalesce(BflExpressions.bflMatch(col("doc"), expanded), lit(false)))
    }

  private def usesAlteringHelpers(q: Ast.Query): Boolean =
    Ast.usesAlteringHelpers(q)

  // ---- deferred GC of replaced/evicted dirs --------------------------------
  // (path, wall-clock deadline); insertion order = deadline order
  private val pendingDeletes =
    new java.util.concurrent.ConcurrentLinkedQueue[(Path, Long)]()

  private def scheduleDelete(ps: Seq[Path]): Unit = {
    val deadline = System.currentTimeMillis() + gcGraceMs
    ps.foreach(p => pendingDeletes.add((p, deadline)))
    if (gcGraceMs <= 0) gcTick() // tests that count directories: synchronous
  }

  /** Delete every queued dir whose grace expired (`force` = all of them). */
  private[engine] def gcTick(force: Boolean = false): Unit = {
    val now = System.currentTimeMillis()
    var done = false
    while (!done) {
      val head = pendingDeletes.peek()
      if (head == null || (!force && head._2 > now)) done = true
      else {
        pendingDeletes.poll()
        if (Files.exists(head._1)) deleteBatches(Seq(head._1))
      }
    }
  }

  private def deleteBatches(batches: Seq[Path]): Unit =
    batches.foreach { p =>
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Dot-prefixed entries of the records dir: tmp dirs of rewrites and
    * distributed inserts that never reached the manifest.
    */
  private def hiddenEntries(): Seq[Path] =
    Files.list(recordsDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("."))
      .toSeq

  /** Size-bounded retention: delete oldest batches while the log exceeds the
    * byte budget; record the max ts evicted as truncatedTimestamp + advance
    * removedCount (reference: native.go:1046-1108 periodicPartitioner).
    * Manifest arithmetic only: each entry's `bytes`, `rows` and `maxTs` were
    * taken at its commit, so a pass walks no directory and runs no job.
    */
  private def enforceRetention(): Unit =
    meta.limitBytes.foreach { budget =>
      var live = meta.batches
      var total = live.map(_.bytes).sum
      while (total > budget && live.length > 1) {
        total -= live.head.bytes
        live = live.tail
      }
      val evicted = meta.batches.dropRight(live.length)
      if (evicted.nonEmpty) {
        // manifest commit is the eviction; the dirs linger through the GC
        // grace so scans planned before this commit finish cleanly
        meta = meta.copy(
          removedCount = meta.removedCount + evicted.map(_.rows).sum,
          truncatedTimestamp = math.max(meta.truncatedTimestamp, evicted.map(_.maxTs).max + 1),
          batches = live
        )
        saveMeta()
        scheduleDelete(evicted.map(batchPath))
      }
    }

  // ---- batch-log compaction ----------------------------------------------
  // Long-running trickle ingest writes one batch dir per micro-batch; left
  // alone, a day at a 500 ms trigger is ~170k dirs and driver-side listing +
  // parquet footer opens dominate every query (the 100 TB scale-killer). The
  // reference's periodicPartitioner keeps ≤2 live partitions by rotation
  // (native.go:1046-1108); here the analog is LSM-style consolidation:
  // contiguous runs of small dirs are rewritten into one id-sorted dir and
  // atomically swapped in. Steady-state listing is O(total/target +
  // minRun + keepRecent) dirs; write amplification is the standard
  // size-tiered ~log(target/batch) per record.

  /** One bounded unit of compaction work per ticker tick: at most one group
    * rewritten + swapped. No-op (a directory listing) when nothing qualifies.
    * Overlap-guarded: the rewrite runs outside the engine lock, so a manual
    * tick racing the ticker must not double-write the same tmp dir.
    */
  private[graft] def compactionTick(): Unit =
    if (compactionInFlight.compareAndSet(false, true))
      try {
        // consume up to 4 runs per tick: one-run-per-second cannot keep up
        // with a bursty wire ingest (each burst = one dir; a 5-burst/s
        // client outruns a 1-group/s compactor and the listing grows
        // without bound). Bounded so a tick never monopolizes the engine.
        var rounds = 0
        var planned = planCompactionGroup()
        while (planned.isDefined && rounds < 4) {
          compactGroup(planned.get)
          rounds += 1
          planned = if (rounds < 4) planCompactionGroup() else None
        }
        gcTick() // manual-tick tests (background off) still age out replaced dirs
      } finally compactionInFlight.set(false)

  private val compactionInFlight = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** First contiguous run of ≥ minRun small dirs that bin-packs under
    * targetBytes — excluding the newest keepRecent dirs (the live tail
    * region) and anything younger than minAge (grace for in-flight tail
    * micro-batches planned against the old paths).
    */
  private def planCompactionGroup(): Option[Seq[Batch]] = {
    val now = System.currentTimeMillis()
    val eligible = meta.batches
      .dropRight(compactKeepRecent)
      .filter(b => now - Files.getLastModifiedTime(batchPath(b)).toMillis >= compactMinAgeMs)
    var group = List.empty[Batch]
    var bytes = 0L
    for (b <- eligible) {
      if (b.bytes >= compactTargetBytes || (bytes + b.bytes > compactTargetBytes && group.nonEmpty)) {
        // run closes: a full-size dir, or the pack is full
        if (group.length >= compactMinRun) return Some(group.reverse)
        group = Nil
        bytes = 0L
      }
      if (b.bytes < compactTargetBytes) { group ::= b; bytes += b.bytes }
    }
    if (group.length >= compactMinRun) Some(group.reverse) else None
  }

  /** Rewrite `group` into one id-sorted consolidated dir under a FRESH name
    * (head member's number + a bumped `_cN` generation — sorts into exactly
    * the head's position), then commit by patching the manifest with one
    * entry spanning the members' id ranges. Members are never renamed or
    * touched: in-flight scans planned against the old manifest keep reading
    * them until the GC grace expires. Crash safety is positional, no
    * journal needed:
    *   - before the manifest commit → the consolidated dir is an orphan the
    *     open-time reconcile deletes; members intact;
    *   - after the commit → members are off-manifest garbage the reconcile
    *     deletes.
    * The expensive rewrite runs OUTSIDE the lock — ids are immutable and
    * members are frozen.
    */
  private def compactGroup(group: Seq[Batch]): Unit = {
    val newName = Engine.bumpGeneration(group.head.name)
    val tmp = recordsDir.resolve(s".compact_$newName.tmp")
    readBatches(group)
      .coalesce(1)                 // one output file — no shuffle
      .sortWithinPartitions("id")  // id-sorted → row-group min/max pruning intact
      .write
      .mode(SaveMode.Overwrite)    // clobber a stale tmp from a crashed run
      .parquet(tmp.toString)
    synchronized {
      // retention may have evicted members while we rewrote — abort stale
      // swaps (the group must still be one contiguous manifest run)
      val idx = meta.batches.indexOf(group.head)
      if (idx < 0 || meta.batches.slice(idx, idx + group.length) != group) {
        deleteBatches(Seq(tmp)); return
      }
      Files.move(tmp, recordsDir.resolve(newName),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val merged = Batch(newName, group.head.firstId, group.last.lastId,
        group.map(_.rows).sum, dirBytes(recordsDir.resolve(newName)), group.map(_.maxTs).max)
      meta = meta.copy(batches = meta.batches.patch(idx, Seq(merged), group.length))
      saveMeta()
      scheduleDelete(group.map(batchPath))
    }
  }

  /** Open-time reconcile of disk vs manifest.
    *
    *   1. A legacy meta.json (no `batches` key) adopts the filesystem
    *      listing as its first manifest.
    *   2. Every on-disk batch dir NOT in the manifest is garbage by
    *      construction (an unacked crashed insert, or a replaced/evicted
    *      member whose deferred GC never ran) — deleted. This is also what
    *      makes a crashed mid-insert append safe: the unacked dir would
    *      otherwise collide with the next insert's batchSeq name.
    *   3. Manifest entries whose dir vanished (manual deletion) are dropped.
    *   4. Entries without id ranges (a legacy names-only manifest) get them
    *      from their Parquet footers — driver-side, no Spark job.
    *   5. Hidden (tmp) dirs are incomplete rewrites — deleted.
    */
  private def reconcileLog(): Unit = synchronized {
    val onDisk = Files.list(recordsDir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("batch_"))
      .toSeq.sorted
    val listed =
      if (meta.batchesKnown) meta.batches
      else onDisk.map(Batch.unranged).toVector
    val names = listed.map(_.name).toSet
    onDisk.filterNot(names).foreach(n => deleteBatches(Seq(recordsDir.resolve(n))))
    val batches = listed
      .filter(b => Files.exists(batchPath(b)))
      .map(b => if (b.ranged) b else describe(b.name))
      .filter(_.rows > 0)
    if (!meta.batchesKnown || batches != meta.batches) {
      meta = meta.copy(batches = batches, batchesKnown = true)
      saveMeta()
    }
    deleteBatches(hiddenEntries())
  }

  /** A batch dir's manifest entry, from its Parquet footers: row counts and
    * the `id`/`ts` column statistics every Spark-written file carries. Reads
    * footers on the driver — no Spark job.
    */
  private def describe(name: String): Batch = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val p = recordsDir.resolve(name)
    val conf = spark.sparkContext.hadoopConfiguration
    var firstId = Long.MaxValue
    var lastId = Long.MinValue
    var rows = 0L
    var maxTs = Long.MinValue
    Files.list(p).iterator().asScala
      .filter(f => f.getFileName.toString.endsWith(".parquet") &&
        !f.getFileName.toString.startsWith("."))
      .foreach { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
        try r.getFooter.getBlocks.asScala.filter(_.getRowCount > 0).foreach { block =>
          rows += block.getRowCount
          block.getColumns.asScala.foreach { c =>
            val st = c.getStatistics
            def stat(v: Any): Long = v match {
              case l: java.lang.Long if st.hasNonNullValue => l
              case _ => throw new IllegalStateException(
                s"$f: no ${c.getPath.toDotString} statistics, cannot range the batch")
            }
            c.getPath.toDotString match {
              case "id" =>
                firstId = math.min(firstId, stat(st.genericGetMin))
                lastId = math.max(lastId, stat(st.genericGetMax))
              case "ts" => maxTs = math.max(maxTs, stat(st.genericGetMax))
              case _    => ()
            }
          }
        } finally r.close()
      }
    Batch(name, firstId, lastId, rows, dirBytes(p), maxTs)
  }

  // ---- background retention ticker --------------------------------------
  // The reference's periodicPartitioner runs on a 1 s ticker
  // (native.go:149,1049-1057) and evicts even while the log is idle;
  // mutation-time enforcement alone leaves a pending budget breach (e.g. a
  // /limit issued after the last insert) unevicted until the next write.
  // The tick is a no-op without a limit (one volatile read); with one, the
  // pass is manifest arithmetic — no filesystem walk and no Spark job.
  private val tickerStop = new java.util.concurrent.atomic.AtomicBoolean(false)
  locally {
    val t = new Thread(() => {
      var interrupted = false
      while (!tickerStop.get() && !interrupted) {
        try {
          if (meta.limitBytes.isDefined) synchronized { enforceRetention() }
          if (compactInBackground) compactionTick()
          gcTick()
        } catch {
          case _: InterruptedException => interrupted = true
          case _: Exception            => ()
        }
        // Sleep outside the try: a persistently-throwing tick (transient FS
        // error) must not skip the pause, or the daemon busy-spins at 100%.
        try Thread.sleep(1000)
        catch { case _: InterruptedException => interrupted = true }
      }
    }, "graft-retention-ticker")
    t.setDaemon(true)
    t.start()
  }

  /** Stop the background retention ticker (idempotent). The engine stays
    * usable — retention still runs at mutation time. Drains the deferred-GC
    * queue (no reader of THIS engine remains to race; a dir missed here is
    * collected by the next open's reconcile anyway).
    */
  def close(): Unit = {
    tickerStop.set(true)
    gcTick(force = true)
  }
}

object Engine {

  /** 24-digit zero-padded record id (reference: server/lib/helpers.go:15-17). */
  def indexToId(i: Long): String = f"$i%024d"

  /** Fresh consolidated-dir name: the head member's fixed-width number plus
    * a bumped `_cN` generation. `batch_000000007` → `batch_000000007_c1`,
    * `batch_000000007_c1` → `batch_000000007_c2`. Name-sorts into exactly
    * the head's manifest position (`_` > digit never matters: the next
    * batch number differs in the fixed-width digits first).
    */
  private[engine] def bumpGeneration(headName: String): String =
    headName match {
      case Engine.GenRe(base, gen) => s"${base}_c${gen.toInt + 1}"
      case _                       => s"${headName}_c1"
    }
  private val GenRe = "(batch_\\d+)_c(\\d+)".r

  /** Does this failure look like a read that lost the race against
    * retention (deleted batch file/dir mid-plan or mid-read)? Checked
    * recursively — the parquet footer path wraps its FileNotFoundException.
    */
  private[graft] def isEvictionRace(e: Throwable): Boolean =
    e != null && (String.valueOf(e.getMessage).contains("FAILED_READ_FILE") ||
      String.valueOf(e.getMessage).contains("PATH_NOT_FOUND") ||
      e.isInstanceOf[java.io.FileNotFoundException] ||
      isEvictionRace(e.getCause))

  /** Executor-side pass 1 of [[Engine.insertDistributed]]: parse, reject
    * non-JSON / non-object lines, run the insertion filter (its
    * record-altering helpers mutate the tree), serialize the survivor —
    * WITHOUT an id, which only exists after the distributed rank pass. The
    * AST ships in the closure (plain case classes); the Interp is built once
    * per partition. Exactly mirrors the driver path in [[Engine.insert]].
    */
  private[engine] def prepPartition(filterQ: Option[Ast.Query])(
      it: Iterator[String]): Iterator[String] = {
    val interp = filterQ.map(new Interp(_))
    it.flatMap { json =>
      JsonTree.tryParse(json) match {
        case Some(m: JsonTree.Obj) if interp.forall(_.eval(m)) =>
          Some(JsonTree.serialize(m))
        case _ => None // non-JSON / non-object / filtered out — no id consumed
      }
    }
  }

  /** Executor-side pass 2: inject the assigned 24-digit id (replacing an
    * existing `id` key in place, appending otherwise — LinkedHashMap.put,
    * same as the driver path) and lift the record's own `timestamp` over the
    * batch insert time (reference: native.go:302-311).
    */
  private[engine] def buildRecordRow(doc: String, id: Long, now: Long): Row = {
    val m = JsonTree.parse(doc).asInstanceOf[JsonTree.Obj]
    m.put("id", indexToId(id))
    val ts = m.get("timestamp") match {
      case Some(l: Long) => l
      case _             => now
    }
    Row(id, ts, JsonTree.serialize(m))
  }

  /** Rows a `/fetch` step may read at most, once its first batch is in, and
    * ids one micro-batch of a live tail spans at most.
    */
  private[graft] val MaxStepRows = 1L << 18

  /** Executor-side cut of a `/fetch` step: the rows of one scan-ordered
    * partition up to and including its `n`-th match (doc column non-null).
    */
  private def untilMatches(n: Int): Iterator[Row] => Iterator[Row] = it =>
    new Iterator[Row] {
      private var matched = 0
      def hasNext: Boolean = matched < n && it.hasNext
      def next(): Row = {
        val r = it.next()
        if (!r.isNullAt(1)) matched += 1
        r
      }
    }

  /** One manifest entry: a live batch dir and what it holds — ids
    * `firstId..lastId` (contiguous; batches never overlap and are kept in id
    * order), its row count, its on-disk bytes and its largest `ts`, all taken
    * once at commit. `rows < 0` marks an entry read from a names-only
    * manifest whose ranges are not known yet.
    */
  final case class Batch(name: String, firstId: Long, lastId: Long, rows: Long,
      bytes: Long, maxTs: Long) {
    def ranged: Boolean = rows >= 0
  }
  object Batch {
    def unranged(name: String): Batch = Batch(name, -1L, -1L, -1L, -1L, -1L)
  }

  final case class FetchMeta(
      total: Long,
      numberOfWritten: Long,
      leftOff: Long,
      noMoreData: Boolean,
      truncatedTimestamp: Long
  )

  /** Engine metadata — macros, insertion filter, retention, id high-water.
    * Hand-rolled JSON (no external deps beyond Jackson, reused from JsonTree).
    */
  final case class Meta(
      highWater: Long = 0L,
      batchSeq: Long = 0L,
      removedCount: Long = 0L,
      truncatedTimestamp: Long = 0L,
      limitBytes: Option[Long] = None,
      insertionFilter: Option[String] = None,
      macros: Map[String, String] = Map.empty,
      /** The LIVE batch manifest, in id (= name-sort) order. Readers find
        * the batches that hold an id range here, never on the filesystem —
        * so a dir leaving the manifest (compaction swap, retention evict)
        * can stay on disk through a GC grace window without any reader ever
        * seeing both the old and new copy. The manifest commit (atomic
        * meta.json rename) IS the swap; on-disk dirs not in the manifest are
        * garbage. Serialized as `batches` (the names) plus a parallel
        * `ranges` array holding each entry's id range and sizes.
        */
      batches: Vector[Batch] = Vector.empty,
      /** false only for a meta.json written before the manifest existed —
        * the open-time reconcile then adopts the filesystem listing once.
        * Never serialized.
        */
      batchesKnown: Boolean = true
  ) {
    def toJson: String = {
      val m = new JsonTree.Obj
      m.put("highWater", highWater)
      m.put("batchSeq", batchSeq)
      m.put("removedCount", removedCount)
      m.put("truncatedTimestamp", truncatedTimestamp)
      limitBytes.foreach(m.put("limitBytes", _))
      insertionFilter.foreach(m.put("insertionFilter", _))
      val mm = new JsonTree.Obj
      macros.foreach { case (k, v) => mm.put(k, v) }
      m.put("macros", mm)
      val names = new JsonTree.Arr
      val ranges = new JsonTree.Arr
      batches.foreach { b =>
        names += b.name
        val r = new JsonTree.Obj
        r.put("firstId", b.firstId)
        r.put("lastId", b.lastId)
        r.put("rows", b.rows)
        r.put("bytes", b.bytes)
        r.put("maxTs", b.maxTs)
        ranges += r
      }
      m.put("batches", names)
      m.put("ranges", ranges)
      JsonTree.serialize(m)
    }
  }

  object Meta {
    def fromJson(s: String): Meta = {
      val m = JsonTree.parse(s).asInstanceOf[JsonTree.Obj]
      def longOf(o: JsonTree.Obj, k: String): Long = o.get(k) match {
        case Some(l: Long) => l
        case _             => 0L
      }
      val names = m.get("batches") match {
        case Some(a: JsonTree.Arr) => a.toVector.collect { case s: String => s }
        case _                     => Vector.empty
      }
      val ranges = m.get("ranges") match {
        case Some(a: JsonTree.Arr) => a.toVector.collect { case o: JsonTree.Obj => o }
        case _                     => Vector.empty
      }
      // a names-only manifest (or one whose ranges do not line up) is ranged
      // from Parquet footers at open
      val batches =
        if (ranges.length == names.length)
          names.zip(ranges).map { case (n, r) =>
            Batch(n, longOf(r, "firstId"), longOf(r, "lastId"), longOf(r, "rows"),
              longOf(r, "bytes"), longOf(r, "maxTs"))
          }
        else names.map(Batch.unranged)
      Meta(
        highWater = longOf(m, "highWater"),
        batchSeq = longOf(m, "batchSeq"),
        removedCount = longOf(m, "removedCount"),
        truncatedTimestamp = longOf(m, "truncatedTimestamp"),
        limitBytes = m.get("limitBytes").collect { case l: Long => l },
        insertionFilter = m.get("insertionFilter").collect { case s: String => s },
        macros = m.get("macros") match {
          case Some(mm: JsonTree.Obj) =>
            mm.collect { case (k, v: String) => k -> v }.toMap
          case _ => Map.empty
        },
        batches = batches,
        batchesKnown = m.get("batches").isDefined
      )
    }
  }
}
