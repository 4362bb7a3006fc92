package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.bfl.{Bfl, Compiler, Macros}
import graft.operators.{Dedup, Similarity, Skew, TextAnalysis}

/** Driver contract — queries + DuckDB oracle SQL (see SURVEY.md §2, §7).
  *
  * Conventions for oracle hash-parity:
  *   - every query ends in a fully deterministic ORDER BY (unique tie-break);
  *   - aggregated doubles accumulate via DECIMAL(18,6) (exact, associative —
  *     immune to float summation order) then cast back to double;
  *   - timestamps are emitted as epoch millis (`unix_millis` ≡ `epoch_ms`);
  *   - column names/aliases match the SQL exactly.
  */
object SparkEntry {

  /** Flagship: compiled BFL over the event stream — predicate pushes to the
    * Parquet scan (event_type/value native filters + get_json_object residual).
    */
  def entry(spark: SparkSession): DataFrame = {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    Bfl.filter(ev, """event_type == "purchase" and value > 100 and props.k >= 50""").df
  }

  // ---------- helpers ----------

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** events filtered by a compiled BFL predicate, standard projection */
  private def bflEvents(s: SparkSession, dir: String, q: String): DataFrame = {
    val df = ev(s, dir)
    df.where(Compiler.compile(df, q).pred)
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      .orderBy("event_id")
  }

  private val evCols = "event_id, event_type, user_id, value"

  /** dict_tag's dictionary: corpus-frequent words AND nested/overlapping
    * phrases ("scan" inside "table scan", "order" inside "join order") so
    * the Aho–Corasick fail-chain output merging is exercised, not just
    * disjoint exact words.
    */
  private val dictTerms = Seq(
    "scan", "table scan", "hash scan", "join", "join order", "order", "sort",
    "window", "filter pushdown")

  private def decSum(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  /** Temp directories backing written-artifact memos and staged pipeline
    * runs, all deleted on JVM exit — a multi-rep bench or a long verify
    * session no longer accumulates one written-index/stage-table copy per
    * invocation on disk. (In-session reuse is still the memos' job; this
    * is the END-of-life story.)
    */
  private val tempDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val tempDirHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach { p =>
        try
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach { f => java.nio.file.Files.deleteIfExists(f); () }
        catch { case _: Throwable => () }
      }))
  private def tempDir(prefix: String): String = {
    tempDirHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(p)
    p.toString
  }

  /** A build memoized per (session, fixture dir). Entries of stopped
    * sessions are swept on every lookup: a JVM cycling SparkSessions must
    * not pin dead sessions and their checkpointed blocks forever. Fixture
    * dirs are immutable per session, so rebuilding under the same path
    * within one session is out of contract. Each memo owns its map: builds
    * nest (`ivfServedArtifacts` calls `ivfAutoArtifacts`), and a nested
    * `computeIfAbsent` on one ConcurrentHashMap throws "Recursive update".
    */
  private def memo[V](build: (SparkSession, String) => V): (SparkSession, String) => V = {
    val built = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V]()
    (s, dir) => {
      built.keySet.removeIf(_._1.sparkContext.isStopped)
      built.computeIfAbsent((s, dir), k => build(k._1, k._2))
    }
  }

  /** Trained IVF artifacts memoized per (session, fixture dir): the index is
    * a build-once batch product (see `ivf_build`); every `ivf_topk`
    * invocation probes the same prebuilt index, like a real deployment.
    */
  private val ivfArtifacts = memo { (s, d) =>
    Similarity.ivfTrained(Tables.embeddings(s, d), "vec_id", "embedding",
      nCentroids = 8, kmeansIters = 1)
  }

  /** Auto-scaled IVF artifacts (C = ⌈√n⌉ cells, sampled training —
    * `sampleBudget = 200` so the sampling law is exercised at fixture
    * scale, matching the `ivf_auto` build query) memoized per (session,
    * dir): `ivf_auto` is the build job, `ivf_auto_topk` probes its output.
    */
  private val ivfAutoArtifacts = memo { (s, d) =>
    Similarity.ivfTrainedAuto(Tables.embeddings(s, d), "vec_id", "embedding",
      kmeansIters = 1, sampleBudget = 200)
  }

  /** WRITTEN (cluster-partitioned parquet) auto-IVF index memoized per
    * (session, fixture dir): [[operators.Similarity.writeIvfIndex]] runs
    * once — the at-scale "train once, write once" half — and every
    * `ivf_auto_served` probe partition-prunes the written table. The
    * localCheckpoint inside `ivfTrainedAuto` remains the in-session build
    * artifact; THIS is the durable table a real deployment serves from.
    */
  private val ivfServedArtifacts = memo { (s, d) =>
    val (cents, index) = ivfAutoArtifacts(s, d)
    val path = tempDir("graft_ivf_idx_")
    Similarity.writeIvfIndex(index, path)
    (cents, path)
  }

  /** FULLY-WRITTEN IVF-PQ serving artifacts memoized per (session, fixture
    * dir): the auto code table persisted cluster-partitioned
    * ([[operators.Similarity.writeIvfPqCodes]]) next to the written float
    * index ([[ivfServedArtifacts]]). `ivfpq_served` probes BOTH from disk —
    * partition-pruned ADC over 8 B/vec codes, point-read rerank against the
    * written vectors — the complete train-offline/serve-online composition.
    */
  private val ivfPqServedArtifacts = memo { (s, d) =>
    val (cents, indexPath) = ivfServedArtifacts(s, d)
    val (books, codes) = ivfPqArtifacts(s, d)
    val codesPath = tempDir("graft_ivfpq_codes_")
    Similarity.writeIvfPqCodes(codes, codesPath)
    (cents, books, codesPath, indexPath)
  }

  /** PUBLISHED (pointer-versioned) auto-IVF index memoized per (session,
    * fixture dir): [[operators.IndexLifecycle.publish]] writes v1 under a
    * base dir and `ivf_versioned_served` probes whatever `CURRENT` resolves
    * to — the deployment loop's read path (train → publish → serve;
    * retrain/compaction publish the NEXT version and swap the pointer,
    * IndexLifecycleSpec pins the whole cycle).
    */
  private val ivfVersionedArtifacts = memo { (s, d) =>
    val (cents, index) = ivfAutoArtifacts(s, d)
    val base = tempDir("graft_ivf_ver_")
    operators.IndexLifecycle.publish(s, index, base)
    (cents, base)
  }

  /** Trained PQ artifacts memoized per (session, fixture dir) — the same
    * build/serve split as the IVF memo: `pq_build` is the once-per-corpus
    * batch job, `pq_topk` probes the prebuilt code table.
    */
  private val pqArtifacts = memo { (s, d) =>
    Similarity.pqTrained(Tables.embeddings(s, d), "vec_id", "embedding",
      numSub = 8, k = 16, iters = 1)
  }

  /** Auto-law IVF-PQ artifacts memoized per (session, fixture dir): the
    * auto codebooks ([[operators.Similarity.pqCodebooksAuto]] — codebook
    * size follows the training sample via the 39-points-per-centroid rule,
    * training scans the id-mod sample only) plus the cluster-carrying code
    * table projected from the auto-IVF index, so `ivfpq_auto` probes scan
    * CODES, never corpus vectors. sampleBudget matches `ivf_auto` (200) so
    * both halves resolve the same sampling law at the verify corpus.
    */
  private val ivfPqArtifacts = memo { (s, d) =>
    val (_, index) = ivfAutoArtifacts(s, d)
    val books = Similarity.pqCodebooksAuto(Tables.embeddings(s, d),
      "vec_id", "embedding", subDim = 8, sampleBudget = 200)
    val codes = Similarity.pqEncode(index, "vec_id", "embedding", books,
      carry = Seq("cluster")).localCheckpoint()
    (books, codes)
  }

  /** Bucketed catalog tables memoized per (session, fixture dir): the
    * bucketed layout is paid ONCE at write (the ingest-time shuffle);
    * `bucketed_join` then demonstrates the exchange-free join every
    * subsequent pipeline run gets for free.
    */
  private val bucketedTables = memo { (s, d) =>
    val tag = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(d))
    val base = tempDir("graft_bkt_")
    val ot = s"graft_bkt_orders_$tag"
    val ct = s"graft_bkt_customer_$tag"
    operators.Bucketing.writeBucketed(
      Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey").as("custkey"), col("o_totalprice")),
      ot, s"$base/orders", "custkey", buckets = 8)
    operators.Bucketing.writeBucketed(
      Tables.customer(s, d).select(col("c_custkey").as("custkey"), col("c_name")),
      ct, s"$base/customer", "custkey", buckets = 8)
    (ot, ct)
  }

  /** WRITTEN dedup band index memoized per (session, fixture dir): the
    * corpus slice's band table bucketed by band_key
    * ([[operators.Dedup.writeBandIndex]]) — built once; every
    * `neardup_incremental` probe joins arrivals against it with zero
    * exchange on the corpus side (BandIndexSpec pins the plan + rebuild
    * parity). Returns the catalog table name.
    */
  private val bandIndexTable = memo { (s, d) =>
    val tag = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(d))
    val table = s"graft_band_idx_$tag"
    operators.Dedup.writeBandIndex(
      Tables.documents(s, d).where(col("doc_id") % 4 =!= 0),
      "doc_id", "text", k = 8, rowsPerBand = 2,
      table, s"${tempDir("graft_band_idx_")}/bands", buckets = 8)
    table
  }

  /** Trained BPE artifacts memoized per (session, fixture dir): the merge
    * table and encoded vocabulary are one training job; `bpe_merges` and
    * `bpe_encode` both serve from it.
    */
  private val bpeArtifacts = memo { (s, d) =>
    operators.Bpe.train(Tables.documents(s, d), "text", steps = 8)
  }

  /** Near-dup candidate pairs memoized per (session, fixture dir) — the same
    * build/serve split as the IVF memo above: `neardup_pairs` IS the build
    * (always fresh), `neardup_clusters` consumes the materialized pair list
    * the way a real pipeline clusters a pairs table it just wrote out.
    */
  private val nearDupPairsBuilt = memo { (s, d) =>
    Dedup.nearDupPairs(Tables.documents(s, d), "doc_id", "text",
        k = 8, rowsPerBand = 2, threshold = 0.2)
      .localCheckpoint()
  }

  // ---------- queries ----------

  /** One board query: its Spark plan over a fixture dir, and the DuckDB
    * SQL its output must hash-match. */
  final case class BoardQuery(
      name: String, run: (SparkSession, String) => DataFrame, oracleSql: String)

  /** The registry's only constructor: a name-keyed map would silently
    * keep one of two entries sharing a name, so a duplicate fails here. */
  private[graft] def board(qs: BoardQuery*): Seq[BoardQuery] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate board query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap

  /** The board, one entry per query: the Spark plan and its DuckDB
    * oracle, side by side. Names must be unique (see [[board]]). */
  private lazy val registry: Seq[BoardQuery] = board(
    // --- BFL operator coverage (SURVEY §2.2-2.5) ---
    BoardQuery("bfl_eq", (s, dir) => bflEvents(s, dir, """event_type == "click""""),
      s"SELECT $evCols FROM events WHERE event_type = 'click' ORDER BY event_id"),
    BoardQuery("bfl_and_gt", (s, dir) =>
      bflEvents(s, dir, """event_type == "purchase" and value > 100"""),
      s"SELECT $evCols FROM events WHERE event_type = 'purchase' AND value > 100 ORDER BY event_id"),
    BoardQuery("bfl_or_not", (s, dir) =>
      bflEvents(s, dir, """(event_type == "signup" or event_type == "error") and !(user_id == 0)"""),
      s"SELECT $evCols FROM events WHERE (event_type = 'signup' OR event_type = 'error') AND NOT user_id = 0 ORDER BY event_id"),
    BoardQuery("bfl_props_json", (s, dir) => bflEvents(s, dir, """props.k >= 50"""),
      s"SELECT $evCols FROM events WHERE COALESCE(TRY_CAST(json_extract_string(props,'$$.k') AS DOUBLE),0) >= 50 ORDER BY event_id"),
    BoardQuery("bfl_helpers_str", (s, dir) =>
      bflEvents(s, dir, """event_type.startsWith("s") or event_type.contains("lick")"""),
      s"SELECT $evCols FROM events WHERE starts_with(event_type,'s') OR contains(event_type,'lick') ORDER BY event_id"),
    BoardQuery("bfl_regex", (s, dir) => bflEvents(s, dir, """event_type == r"^(click|view)$""""),
      s"SELECT $evCols FROM events WHERE regexp_matches(event_type, '^(click|view)$$') ORDER BY event_id"),
    BoardQuery("bfl_collapse", (s, dir) =>
      bflEvents(s, dir, """props.missing == "x" or event_type == "click""""),
      s"SELECT $evCols FROM events WHERE 1=0 ORDER BY event_id"),
    BoardQuery("bfl_limit", (s, dir) => {
      val df = ev(s, dir)
      val plan = Compiler.compile(df, """value > 150 and limit(20)""")
      df.where(plan.pred)
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy("event_id")
        .limit(plan.limit.get.toInt)
    },
      "SELECT event_id, event_type, value FROM events WHERE value > 150 ORDER BY event_id LIMIT 20"),
    BoardQuery("bfl_datetime", (s, dir) => {
      val df = ev(s, dir)
      df.where(Compiler.compile(df,
        """ts >= datetime("1/15/2024, 12:00:00.000 AM") and event_type == "purchase"""").pred)
        .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"), col("value"))
        .orderBy("event_id")
    },
      "SELECT event_id, epoch_ms(ts) AS ts_ms, value FROM events WHERE epoch_ms(ts) >= 1705276800000 AND event_type = 'purchase' ORDER BY event_id"),
    // --- point lookup / pagination (SURVEY §2.1, §2.5) ---
    BoardQuery("single_lookup", (s, dir) =>
      ev(s, dir)
        .where(col("event_id") === 424)
        .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"), col("user_id"),
          col("event_type"), col("value"), col("props")),
      "SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value, props FROM events WHERE event_id = 424"),
    BoardQuery("fetch_forward", (s, dir) => {
      val df = ev(s, dir)
      df.where(col("event_id") > 300 && Compiler.compile(df, """event_type == "view"""").pred)
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy("event_id")
        .limit(25)
    },
      "SELECT event_id, event_type, value FROM events WHERE event_id > 300 AND event_type = 'view' ORDER BY event_id LIMIT 25"),
    BoardQuery("fetch_backward", (s, dir) => {
      val df = ev(s, dir)
      df.where(col("event_id") < 700 && Compiler.compile(df, """event_type == "view"""").pred)
        .select(col("event_id"), col("event_type"), col("value"))
        .orderBy(col("event_id").desc)
        .limit(25)
    },
      "SELECT event_id, event_type, value FROM events WHERE event_id < 700 AND event_type = 'view' ORDER BY event_id DESC LIMIT 25"),
    // --- redact transform through the interpreter fallback tier ---
    BoardQuery("redact_transform", (s, dir) => {
      val df = ev(s, dir).withColumn(
        "doc",
        // coalesce: to_json drops null struct fields, which would silently
        // diverge from the oracle's unconditional '[REDACTED]' if a sparse
        // props object ever lacked k
        to_json(struct(col("event_id"), col("event_type"),
          coalesce(get_json_object(col("props"), "$.k"), lit("?")).as("k")))
      )
      Bfl
        .queryDocs(df, "doc", """event_type == "error" and redact("k")""",
          // doc is built from these columns verbatim, so the compilable
          // conjunct event_type == "error" prefilters AT THE SCAN
          backed = Map("event_id" -> "event_id", "event_type" -> "event_type"))
        .select(col("event_id"), get_json_object(col("doc"), "$.k").as("redacted_k"))
        .orderBy("event_id")
    },
      "SELECT event_id, '[REDACTED]' AS redacted_k FROM events WHERE event_type = 'error' ORDER BY event_id"),
    // --- Spark-native relational breadth (beyond-reference; SURVEY §2.4) ---
    BoardQuery("q1_pricing", (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= to_timestamp(lit("2000-12-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          round(decSum(col("l_extendedprice")), 2).as("sum_base"),
          round(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
          count(lit(1)).as("count_order")
        )
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
         round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_base,
         round(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_disc,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),
    BoardQuery("q3_topsales", (s, dir) => {
      val c = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).where(col("o_orderdate") < to_timestamp(lit("1999-01-01")))
      val l = Tables.lineitem(s, dir).where(col("l_shipdate") > to_timestamp(lit("1999-01-01")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey")
        .agg(round(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey,
         round(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1999-01-01'
           AND l_shipdate > TIMESTAMP '1999-01-01'
         GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    // TPC-H Q4 (adapted to the reduced schema: no l_commitdate, so "late"
    // means shipped > 90 days after the order date): order count by
    // priority over orders with at least one late line — the EXISTS
    // (left-semi) + bounded-agg shape
    BoardQuery("q4_priority", (s, dir) => {
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      val late = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select(col("l_orderkey")).distinct()
      o.join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey
             AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    // TPC-H Q7 volume shipping: revenue between two nations by year and
    // direction — the two-aliased-nation join (n1 supplier side, n2
    // customer side), both broadcast; year from l_shipdate
    BoardQuery("q7_volume", (s, dir) => {
      val n1 = Tables.nation(s, dir).select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir).select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sk"))
        .join(broadcast(n2), col("c_nationkey") === col("ck"))
        .where((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         round(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    // TPC-H Q10 returned-item reporting: top-20 customers by lost revenue
    // from 'R' lines in one quarter — selective scan + TakeOrdered top-k
    BoardQuery("q10_returned", (s, dir) => {
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01")))
      Tables.lineitem(s, dir).where(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        // exact DECIMAL arithmetic INTERNALLY (prices/discounts are
        // cents-exact, so decimal(12,2) x decimal(4,2) terms sum exactly and
        // rounding happens on the exact decimal — round(double,2) hits a
        // half-cent boundary here, observed 307843.595) but the LANDED column
        // is DOUBLE: DECIMAL output columns hash differently across oracle
        // harness canonicalizers (round-7 driver fail), and a scale-2 decimal
        // casts to the identical IEEE double in both engines
        .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)"))), 2)
          .cast("decimal(18,2)").cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c_custkey, c_name, c_acctbal, n_name,
         CAST(CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
         GROUP BY 1, 2, 3, 4 ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    // TPC-H Q18 large-volume customers: the aggregate-then-join-back shape
    // (HAVING sum(qty) over the fact table, then rejoin the dimensions)
    BoardQuery("q18_large_orders", (s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(decSum(col("l_quantity")).as("sum_qty"))
        .where(col("sum_qty") > 150)
      big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      """WITH big AS (SELECT l_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 150)
         SELECT c_name, c_custkey, o_orderkey, epoch_ms(o_orderdate) AS o_date_ms,
           o_totalprice, sum_qty
         FROM big JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),
    // TPC-H Q19 (adapted: brand × quantity brackets; the reduced schema
    // has no container/shipmode): the OR-of-conjuncts predicate that must
    // still reach the scans as a pushable disjunction
    BoardQuery("q19_brackets", (s, dir) => {
      val p = Tables.part(s, dir)
      Tables.lineitem(s, dir)
        .join(p, col("l_partkey") === col("p_partkey"))
        .where((col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 30)))
        .agg(round(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    },
      """SELECT round(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)"""),
    BoardQuery("q5_region_rev", (s, dir) => {
      val r = Tables.region(s, dir).where(col("r_name") === "EUROPE")
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val l = Tables.lineitem(s, dir)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      """SELECT n_name,
         round(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'EUROPE'
           AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name"""),
    // TPC-H Q2 (adapted: no partsupp table — a supplier's "supply cost" for
    // a part is its average unit sell price from lineitem): for mid-size
    // LARGE parts, the EUROPE supplier(s) achieving the per-part minimum —
    // the correlated-scalar-min + join-back-on-equality shape. The dims
    // (candidate parts, EU suppliers) broadcast; only lineitem shuffles,
    // once, on (partkey, suppkey).
    BoardQuery("q2_mincost", (s, dir) => {
      val cand = Tables.part(s, dir)
        .where(col("p_size").between(10, 15) && col("p_type") === "LARGE")
        .select(col("p_partkey"))
      val eu = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val ps = Tables.lineitem(s, dir)
        .join(broadcast(cand), col("l_partkey") === col("p_partkey"))
        .join(broadcast(eu.select(col("s_suppkey"))), col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(round(decSum(col("l_extendedprice")) / decSum(col("l_quantity")), 4)
          .as("unit_price"))
      val mn = ps.groupBy(col("l_partkey").as("mk"))
        .agg(min(col("unit_price")).as("min_price"))
      ps.join(mn, col("l_partkey") === col("mk") && col("unit_price") === col("min_price"))
        .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("l_partkey").as("p_partkey"), col("min_price"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    },
      """WITH eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
         ps AS (SELECT l_partkey, l_suppkey,
           round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) AS unit_price
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN eu ON l_suppkey = s_suppkey
           WHERE p_size BETWEEN 10 AND 15 AND p_type = 'LARGE'
           GROUP BY 1, 2),
         mn AS (SELECT l_partkey AS mk, min(unit_price) AS min_price FROM ps GROUP BY 1)
         SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, min_price
         FROM ps JOIN mn ON l_partkey = mk AND unit_price = min_price
         JOIN eu ON l_suppkey = s_suppkey
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"""),
    // TPC-H Q8 (national market share): NATION_1's share of STANDARD-part
    // revenue sold into ASIA by year — conditional-sum ratio over the
    // two-sided nation join (supplier nation vs customer region)
    BoardQuery("q8_share", (s, dir) => {
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val asiaN = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cnk"))
      val suppN = Tables.nation(s, dir)
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).where(col("p_type") === "STANDARD")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir)
          .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(asiaN), col("c_nationkey") === col("cnk"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppN), col("s_nationkey") === col("snk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_1", vol).otherwise(lit(0.0))
            .cast("decimal(18,6)")).cast("double") /
          sum(vol.cast("decimal(18,6)")).cast("double"), 4).as("mkt_share"))
        .orderBy("o_year")
    },
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         round(CAST(SUM(CASE WHEN n2.n_name = 'NATION_1'
             THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))
             ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE) /
           CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4)
           AS mkt_share
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region ON n1.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1 ORDER BY o_year"""),
    // TPC-H Q9 (product-type profit, adapted: no partsupp — supply cost is
    // modeled as 60% of p_retailprice per unit): profit by supplier nation
    // and order year over 'red' parts
    BoardQuery("q9_profit", (s, dir) => {
      val amount = col("l_extendedprice") * (lit(1) - col("l_discount")) -
        lit(0.6) * col("p_retailprice") * col("l_quantity")
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir).where(col("p_name").contains("red"))
          .select(col("p_partkey"), col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(decSum(amount), 2).as("sum_profit"))
        .orderBy("nation", "o_year")
    },
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         round(CAST(SUM(CAST(l_extendedprice*(1-l_discount)
             - 0.6*p_retailprice*l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%red%'
         GROUP BY 1, 2 ORDER BY nation, o_year"""),
    // TPC-H Q11 (important stock, adapted: no partsupp — a part's "value"
    // is NATION_1-supplied revenue): parts whose value exceeds 0.1% of the
    // total — the scalar-subquery-threshold (one-row broadcast) shape
    BoardQuery("q11_important", (s, dir) => {
      val n1 = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir).where(col("n_name") === "NATION_1")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val vals = Tables.lineitem(s, dir)
        .join(broadcast(n1), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("v"))
      val tot = vals.agg(decSum(col("v")).as("total_v"))
      vals.crossJoin(broadcast(tot))
        .where(col("v") > lit(0.001) * col("total_v"))
        .select(col("p_partkey"), round(col("v"), 2).as("part_value"))
        .orderBy(col("part_value").desc, col("p_partkey"))
    },
      """WITH n1 AS (SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_1'),
         vals AS (SELECT l_partkey AS p_partkey,
           CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS v
           FROM lineitem JOIN n1 ON l_suppkey = s_suppkey GROUP BY 1),
         tot AS (SELECT CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total_v FROM vals)
         SELECT p_partkey, round(v, 2) AS part_value
         FROM vals CROSS JOIN tot WHERE v > 0.001 * total_v
         ORDER BY part_value DESC, p_partkey"""),
    // TPC-H Q12 (shipmode priority split, adapted: no l_shipmode — grouped
    // by l_linestatus): late lines (shipped >60d after order) in 1997,
    // urgent-vs-other order counts via conditional aggregation
    BoardQuery("q12_latestatus", (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
            .as("low_line_count"))
        .orderBy("l_linestatus"),
      """SELECT l_linestatus,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > o_orderdate + INTERVAL 60 DAY
         GROUP BY 1 ORDER BY l_linestatus"""),
    // TPC-H Q13 (customer order-count distribution): LEFT OUTER join with a
    // non-key join condition, then the double aggregation (orders per
    // customer → customers per order-count)
    BoardQuery("q13_custdist", (s, dir) => {
      val o = Tables.orders(s, dir).where(col("o_orderpriority") =!= "5-LOW")
      Tables.customer(s, dir)
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, COUNT(*) AS custdist FROM (
           SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
           GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),
    // TPC-H Q15 (top supplier): quarterly revenue per supplier, scalar MAX
    // broadcast back as the filter — the create-view + max-equality shape
    BoardQuery("q15_top_supplier", (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01")))
        .groupBy("l_suppkey")
        .agg(round(decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mr"))
      rev.crossJoin(broadcast(mx)).where(col("total_revenue") === col("mr"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    },
      """WITH rev AS (SELECT l_suppkey,
           round(CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         ORDER BY s_suppkey"""),
    // TPC-H Q16 (supplier count by part attributes, adapted: supply
    // relationships come from lineitem; the NOT-IN complaint-supplier
    // subquery becomes an acctbal >= 0 gate): COUNT DISTINCT suppliers per
    // (brand, type, size) over the filtered part families
    BoardQuery("q16_supplier_cnt", (s, dir) => {
      val p = Tables.part(s, dir)
        .where(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(5, 10, 15, 20, 25, 30))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val ok = Tables.supplier(s, dir).where(col("s_acctbal") >= 0).select(col("s_suppkey"))
      Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(ok), col("l_suppkey") === col("s_suppkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         WHERE p_brand <> 'Brand#1' AND p_size IN (5,10,15,20,25,30)
           AND s_acctbal >= 0
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),
    // TPC-H Q17 (small-quantity-order revenue): the correlated per-part
    // AVG subquery — per-part averages aggregate once, broadcast back
    // against the same fact scan; one row out
    BoardQuery("q17_small_qty", (s, dir) => {
      val pk = Tables.part(s, dir).where(col("p_brand") === "Brand#3")
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, dir)
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      val avgq = li.groupBy(col("l_partkey").as("ak"))
        .agg((decSum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      li.join(broadcast(avgq), col("l_partkey") === col("ak"))
        .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(round(decSum(col("l_extendedprice")) / lit(7.0), 2).as("avg_yearly"))
    },
      """WITH pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#3'),
         avgq AS (SELECT l_partkey AS ak,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty
           FROM lineitem JOIN pk ON l_partkey = p_partkey GROUP BY 1)
         SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 2)
           AS avg_yearly
         FROM lineitem JOIN avgq ON l_partkey = ak
         WHERE l_quantity < 0.2 * avg_qty"""),
    // TPC-H Q20 (part promotion, adapted: no partsupp availqty — a
    // supplier "holds excess stock" of a part when it shipped more than
    // half of that part's 1997 PROMO flow): EUROPE suppliers holding any
    // dominant share — the nested-subquery semi-join chain
    BoardQuery("q20_promo_suppliers", (s, dir) => {
      val flow = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .join(broadcast(Tables.part(s, dir).where(col("p_type") === "PROMO")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(decSum(col("l_quantity")).as("sq"))
      val tot = flow.groupBy(col("l_partkey").as("tk")).agg(decSum(col("sq")).as("tq"))
      val dominant = flow.join(tot, col("l_partkey") === col("tk"))
        .where(col("sq") > lit(0.5) * col("tq"))
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .orderBy("s_suppkey")
    },
      """WITH flow AS (SELECT l_partkey, l_suppkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sq
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_type = 'PROMO'
             AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
           GROUP BY 1, 2),
         tot AS (SELECT l_partkey AS tk, CAST(SUM(CAST(sq AS DECIMAL(18,6))) AS DOUBLE) AS tq
           FROM flow GROUP BY 1),
         dominant AS (SELECT DISTINCT l_suppkey FROM flow JOIN tot ON l_partkey = tk
           WHERE sq > 0.5 * tq)
         SELECT s_suppkey, s_name, s_acctbal
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'EUROPE' AND s_suppkey IN (SELECT l_suppkey FROM dominant)
         ORDER BY s_suppkey"""),
    // TPC-H Q21 (suppliers who kept orders waiting, adapted: late =
    // shipped >60d after order date): the EXISTS(other supplier) +
    // NOT EXISTS(other late supplier) pair expressed as per-order
    // distinct-supplier counts — one fact shuffle instead of two
    // correlated self-joins
    BoardQuery("q21_waiting", (s, dir) => {
      val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
      val f = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).where(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"), late.as("is_late"))
      val st = f.groupBy(col("l_orderkey").as("ok"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(when(col("is_late"), col("l_suppkey"))).as("n_late"))
      f.where(col("is_late")).select(col("l_orderkey"), col("l_suppkey")).distinct()
        .join(st, col("l_orderkey") === col("ok"))
        .where(col("n_supp") > 1 && col("n_late") === 1)
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },
      """WITH f AS (SELECT l_orderkey, l_suppkey,
           l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'),
         st AS (SELECT l_orderkey AS ok, COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late
           FROM f GROUP BY 1),
         lw AS (SELECT DISTINCT l_orderkey, l_suppkey FROM f WHERE is_late)
         SELECT s_name, COUNT(*) AS numwait
         FROM lw JOIN st ON l_orderkey = ok
         JOIN supplier ON l_suppkey = s_suppkey
         WHERE n_supp > 1 AND n_late = 1
         GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"""),
    // TPC-H Q22 (global sales opportunity, adapted: "no recent orders"
    // replaces the 7-year dormancy window since every customer has
    // history): above-average-balance customers dormant since 1999, by
    // nation — scalar AVG broadcast + LEFT ANTI join
    BoardQuery("q22_opportunity", (s, dir) => {
      val c = Tables.customer(s, dir)
      val avgBal = c.where(col("c_acctbal") > 0)
        .agg((decSum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
      val recent = Tables.orders(s, dir)
        .where(col("o_orderdate") >= to_timestamp(lit("1999-01-01")))
        .select(col("o_custkey")).distinct()
      c.crossJoin(broadcast(avgBal))
        .where(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"), round(decSum(col("c_acctbal")), 2).as("totacctbal"))
        .orderBy("c_nationkey")
    },
      """WITH a AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS avg_bal
           FROM customer WHERE c_acctbal > 0),
         recent AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1999-01-01')
         SELECT c_nationkey, COUNT(*) AS numcust,
           round(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 2) AS totacctbal
         FROM customer CROSS JOIN a
         WHERE c_acctbal > avg_bal
           AND c_custkey NOT IN (SELECT o_custkey FROM recent)
         GROUP BY c_nationkey ORDER BY c_nationkey"""),
    // TPC-H Q6 (forecast-revenue change): the pushdown showcase — three
    // range predicates reach the parquet scan, one scan-agg, one row out
    BoardQuery("q6_forecast", (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(round(decSum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue")),
      """SELECT round(CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""),
    // TPC-H Q14 (promo revenue share): broadcast part join, conditional
    // DECIMAL-exact aggregation
    BoardQuery("q14_promo", (s, dir) => {
      val l = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= to_timestamp(lit("1996-09-01")) &&
          col("l_shipdate") < to_timestamp(lit("1996-10-01")))
      val p = Tables.part(s, dir)
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type").startsWith("PROMO"), rev)
            .otherwise(lit(0.0)).cast("decimal(18,6)")).cast("double") /
          decSum(rev), 4).as("promo_revenue_pct"))
    },
      """SELECT round(100.0 *
           CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
             THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))
             ELSE CAST(0.0 AS DECIMAL(18,6)) END) AS DOUBLE) /
           CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4)
           AS promo_revenue_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'"""),
    // 2-D Pareto frontier (price vs recency): the NOT-EXISTS-free skyline
    // — local per-bucket frontier prune, then a global sweep over the
    // frontier-sized candidate union (never the quadratic self-join)
    BoardQuery("skyline_orders", (s, dir) =>
      operators.Skyline.frontier(
          Tables.orders(s, dir)
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")),
          "o_totalprice", "o_orderdate")
        .select(col("o_orderkey"), col("o_totalprice"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("odate_ms"))
        .orderBy("o_orderkey"),
      s"""SELECT o_orderkey, o_totalprice, epoch_ms(o_orderdate) AS odate_ms
         FROM (${operators.Skyline.frontierSql(
        "orders", "o_orderkey", "o_totalprice", "o_orderdate")})
         ORDER BY o_orderkey"""),
    BoardQuery("topk_orders", (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    BoardQuery("window_rank", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy("o_custkey", "rn")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"""),
    BoardQuery("hourly_events", (s, dir) =>
      ev(s, dir)
        .groupBy(
          unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(decSum(col("value")), 2).as("sum_value"))
        .orderBy("hour_ms", "event_type"),
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
         COUNT(*) AS n, round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type"""),
    BoardQuery("left_join_agg", (s, dir) => {
      val o = Tables.orders(s, dir).where(col("o_totalprice") > 400000)
      Tables.customer(s, dir)
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(decSum(coalesce(col("o_totalprice"), lit(0.0))), 2).as("total"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
         round(CAST(SUM(CAST(COALESCE(o_totalprice,0) AS DECIMAL(18,6))) AS DOUBLE),2) AS total
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey AND o_totalprice > 400000
         GROUP BY c_custkey ORDER BY c_custkey"""),
    BoardQuery("cube_counts", (s, dir) =>
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
    BoardQuery("percentiles", (s, dir) =>
      // ONE array-percentile: N scalar percentile aggregates each buffer
      // and sort the whole column independently (N full sorts of the
      // relation in one task); the array form shares a single buffer and
      // evaluates the SAME interpolation per fraction — bit-identical
      // values, measured 2.3× faster at sf0.1 (round-11 optimization,
      // applied at every multi-fraction exact-percentile site)
      Tables.orders(s, dir)
        .agg(expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").as("_p"))
        .select(
          round(col("_p").getItem(0), 4).as("p50"),
          round(col("_p").getItem(1), 4).as("p90"),
          round(col("_p").getItem(2), 4).as("p99")),
      """SELECT round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
         round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
         round(quantile_cont(o_totalprice, 0.99), 4) AS p99 FROM orders"""),
    // bounded-state quantiles: mergeable log-histogram sketch (HDR
    // discipline) — one row per occupied bucket shuffles, never the values;
    // the streaming/100 TB counterpart to the exact `percentiles` sort-agg
    BoardQuery("hist_quantiles", (s, dir) =>
      operators.Sketch.logHistQuantiles(ev(s, dir), "event_type", "value")
        .orderBy("event_type"),
      operators.Sketch.logHistQuantilesSql("events", "event_type", "value")),
    // data-driven quantile banding: exact quartile breakpoints (one tiny
    // agg row) broadcast back over the fact scan — the "band by score
    // distribution" gate shape; no shuffle of the facts beyond the
    // band agg itself
    BoardQuery("value_bands", (s, dir) => {
      val o = Tables.orders(s, dir)
      val breaks = o
        .agg(expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").as("_p"))
        .select(
          round(col("_p").getItem(0), 4).as("p25"),
          round(col("_p").getItem(1), 4).as("p50"),
          round(col("_p").getItem(2), 4).as("p75"))
      o.crossJoin(broadcast(breaks))
        .select(
          when(col("o_totalprice") < col("p25"), "q1")
            .when(col("o_totalprice") < col("p50"), "q2")
            .when(col("o_totalprice") < col("p75"), "q3")
            .otherwise("q4").as("band"),
          col("o_totalprice"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,6)")).cast("double"), 2)
            .as("sum_price"))
        .orderBy("band")
    },
      // quartile breakpoints (quantile_cont ≡ Spark percentile, round(4)
      // masking interpolation ulps — the percentiles-query convention)
      """WITH b AS (SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
                  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                  round(quantile_cont(o_totalprice, 0.75), 4) AS p75 FROM orders)
         SELECT CASE WHEN o_totalprice < p25 THEN 'q1'
                     WHEN o_totalprice < p50 THEN 'q2'
                     WHEN o_totalprice < p75 THEN 'q3' ELSE 'q4' END AS band,
           COUNT(*) AS n,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_price
         FROM orders CROSS JOIN b GROUP BY band ORDER BY band"""),
    // hopping (sliding) windows: 1-hour windows every 30 minutes — each
    // event lands in exactly width/hop = 2 windows
    BoardQuery("sliding_window", (s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"),
          round(decSum(col("value")), 2).as("sum_value"))
        .select(unix_millis(col("window.start")).as("w_ms"), col("n"), col("sum_value"))
        .orderBy("w_ms"),
      // width/hop = 2 epoch-aligned starts per event; Spark window() floors
      // to the hop exactly like time_bucket
      """SELECT epoch_ms(s) AS w_ms, COUNT(*) AS n,
         round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_value
         FROM (SELECT value, unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                       time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS s
               FROM events)
         GROUP BY 1 ORDER BY w_ms"""),
    // token frequency-of-frequency spectrum (the Good-Turing input and the
    // quickest corpus-health fingerprint): how many distinct terms occur
    // exactly f times
    BoardQuery("freq_spectrum", (s, dir) =>
      operators.Dedup.parallelize(Tables.documents(s, dir))
        .select(explode(operators.TextAnalysis.tokens(lower(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("f"))
        .groupBy("f").agg(count(lit(1)).as("n_terms"))
        .orderBy("f"),
      """SELECT f, COUNT(*) AS n_terms FROM (
           SELECT term, COUNT(*) AS f FROM (
             SELECT unnest(string_split_regex(trim(lower(text)),'\s+')) AS term
             FROM documents) GROUP BY term)
         GROUP BY f ORDER BY f"""),
    BoardQuery("edit_distance", (s, dir) =>
      Tables.part(s, dir)
        .select(col("p_partkey"),
          levenshtein(col("p_name"), lit("steel blue tomato")).cast("long").as("dist"))
        .orderBy("dist", "p_partkey")
        .limit(20),
      """SELECT p_partkey, levenshtein(p_name, 'steel blue tomato') AS dist
         FROM part ORDER BY dist, p_partkey LIMIT 20"""),
    BoardQuery("tumbling_window", (s, dir) =>
      // Spark's streaming window() in batch mode; epoch-aligned 6h buckets
      ev(s, dir)
        .groupBy(window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n"), round(decSum(col("value")), 2).as("sum_value"))
        .select(unix_millis(col("window.start")).as("w"), col("n"), col("sum_value"))
        .orderBy("w"),
      """SELECT epoch_ms(time_bucket(INTERVAL 6 HOUR, ts)) AS w, COUNT(*) AS n,
         round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_value
         FROM events GROUP BY 1 ORDER BY w"""),
    BoardQuery("sessionize", (s, dir) => {
      // gap-based sessionization (2h inactivity starts a new session) —
      // the batch expression of mapGroupsWithState-style session state
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gapMs = 7200000L
      ev(s, dir)
        .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(byUser))
        .withColumn("new_s",
          when(col("prev_ms").isNull ||
            unix_millis(col("ts")) - col("prev_ms") > gapMs, 1L).otherwise(0L))
        .withColumn("session_id",
          sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (max(unix_millis(col("ts"))) - min(unix_millis(col("ts")))).as("duration_ms"))
        .orderBy("user_id", "session_id")
    },
      """WITH g AS (SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 7200000
                THEN 1 ELSE 0 END AS new_s
           FROM events),
         s AS (SELECT user_id, ts,
           CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM g)
         SELECT user_id, session_id, COUNT(*) AS n_events,
           epoch_ms(max(ts)) - epoch_ms(min(ts)) AS duration_ms
         FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"""),
    BoardQuery("nation_supplier_stats", (s, dir) =>
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"),
          round(decSum(col("s_acctbal")), 2).as("sum_acctbal"))
        .orderBy("n_name"),
      """SELECT n_name, COUNT(*) AS n_suppliers,
         round(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_acctbal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name"""),
    // --- training-data pipeline operators ---
    BoardQuery("dedup_exact", (s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("content_hash"),
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes
         FROM documents GROUP BY 1 ORDER BY content_hash"""),
    BoardQuery("text_tokens", (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.punctCount(col("text")).as("n_punct"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"),
          TextAnalysis.bagFingerprint(col("text")).as("bag_fingerprint"))
        .orderBy("doc_id"),
      """SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))[:16] AS fingerprint,
         md5(list_aggregate(list_sort(list_distinct(string_split_regex(trim(lower(text)), '\s+'))), 'string_agg', ' '))[:16] AS bag_fingerprint
         FROM documents ORDER BY doc_id"""),
    // skew mitigation: result-identical to the plain forms, oracle-checked
    BoardQuery("skew_salted_agg", (s, dir) =>
      Skew.saltedSumCount(ev(s, dir), "event_type", "value",
          col("event_id"), salts = 16)
        .select(col("event_type"),
          round(col("sum_value").cast("double"), 2).as("sum_value"), col("n"))
        .orderBy("event_type"),
      """SELECT event_type,
         round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_value,
         COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type"""),
    BoardQuery("skew_salted_join", (s, dir) =>
      Skew.saltedJoin(Tables.orders(s, dir), Tables.customer(s, dir),
          "o_custkey", "c_custkey", col("o_orderkey"), salts = 8)
        .select(col("o_orderkey"), col("o_totalprice"), col("c_name"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, o_totalprice, c_name
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey"""),
    BoardQuery("text_bpe_tokens", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_words"),
          TextAnalysis.bpeTokenEstimate(col("text")).as("n_bpe"))
        .orderBy("doc_id"),
      """SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS n_words,
         coalesce(CAST(list_sum(list_transform(
           regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r\f]'),
           w -> CAST(floor((length(w)+3)/4.0) AS BIGINT))) AS BIGINT), 0) AS n_bpe
         FROM documents ORDER BY doc_id"""),
    // Gopher-style rule gate: per-row codegen'd thresholds, no shuffle
    BoardQuery("gopher_rules", (s, dir) =>
      TextAnalysis.gopherRules(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      operators.TextAnalysis.gopherRulesSql("documents", "doc_id", "text")),
    // per-source n-gram type/token diversity (distinct-n); the distinct
    // count is a count over the deduped type relation, never count_distinct
    BoardQuery("ngram_diversity", (s, dir) =>
      TextAnalysis.ngramDiversity(Tables.documents(s, dir), "source", "text", n = 3)
        .orderBy("source"),
      operators.TextAnalysis.ngramDiversitySql("documents", "source", "text", 3)),
    // per-doc 3-gram novelty vs all earlier docs (corpus-growth
    // redundancy curve): distinct types → gram-keyed first-occurrence
    // fold → one type-table join; no corpus window, no text self-join
    BoardQuery("ngram_novelty", (s, dir) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, dir), "doc_id", "text",
        n = 3),
      operators.TextAnalysis.ngramNoveltySql("documents", "doc_id", "text", 3)),
    // per-source Unicode script composition + dominant script: the
    // script-level gate beside token-level langid — codegen'd regexp
    // counts inside the scan, one bounded group agg
    BoardQuery("script_profile", (s, dir) =>
      TextAnalysis.scriptProfile(Tables.documents(s, dir), "source", "text"),
      operators.TextAnalysis.scriptProfileSql("documents", "source", "text")),
    // per-source Flesch ease / FK grade with the vowel-group syllable
    // proxy: three codegen'd regexp folds in the scan, one bounded agg
    BoardQuery("readability", (s, dir) =>
      TextAnalysis.readability(Tables.documents(s, dir), "source", "text"),
      operators.TextAnalysis.readabilitySql("documents", "source", "text")),
    // isotonic calibration of the Gopher keep-rate against length
    // buckets via the Barlow minimax closed form — corpus work is one
    // scan into B buckets; the O(B³) fit is relational algebra over a
    // broadcast-sized relation, no sequential PAV loop
    BoardQuery("isotonic_calib", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").cast("int").as("y"))
      val bucketed = docs
        .select(col("doc_id"),
          least(expr("n_chars DIV 200"), lit(15L)).as("bucket"))
        .join(scored, "doc_id")
      operators.Isotonic.calibrate(bucketed, "bucket", "y")
    },
      s"""WITH gr AS (${operators.TextAnalysis.gopherRulesSql("documents", "doc_id", "text")}),
         bucketed AS (SELECT least(d.n_chars // 200, 15) AS bucket,
             CAST(g.keep AS INT) AS y
           FROM documents d JOIN gr g ON d.doc_id = g.doc_id),
         ${operators.Isotonic.calibrateSql("bucketed", "bucket", "y")
            .stripPrefix("WITH ")}"""),
    // Kaplan–Meier gap survival with right-censoring: waiting-time curve
    // over inter-event gaps, each user's final OPEN gap entering as a
    // censored observation (the bias gap_quantiles silently carries) —
    // one user-keyed lag window, then the bounded bucket relation
    BoardQuery("km_gap_survival", (s, dir) =>
      operators.Survival.kmGapSurvival(ev(s, dir), "user_id", "ts",
        "event_id"),
      operators.Survival.kmGapSurvivalSql("events", "user_id", "ts",
        "event_id")),
    // per-label embedding drift between md5-halves: centroid cosine +
    // norm ratio — representation-rot monitor; labels×2 centroid relation
    BoardQuery("embed_drift", (s, dir) =>
      operators.Drift.embedDrift(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label"),
      operators.Drift.embedDriftSql("embeddings", "vec_id", "embedding",
        "label", dim = 64)),
    // k-anonymity audit over (source, lang) quasi-identifiers: class-size
    // spectrum + share of rows below each candidate k — one QI hash agg,
    // two bounded rollups
    BoardQuery("k_anonymity", (s, dir) =>
      operators.Privacy.kAnonymity(Tables.documents(s, dir),
        Seq("source", "lang")),
      operators.Privacy.kAnonymitySql("documents", Seq("source", "lang"))),
    // l-diversity: the k-anonymity follow-up — distinct sensitive values
    // (user_id) per (event_type, hour) class, integer-exact summary
    BoardQuery("l_diversity", (s, dir) =>
      operators.Privacy.lDiversity(
        ev(s, dir).withColumn("hr", hour(col("ts"))),
        Seq("event_type", "hr"), "user_id"),
      operators.Privacy.lDiversitySql(
        "(SELECT event_type, hour(ts) AS hr, user_id FROM events)",
        Seq("event_type", "hr"), "user_id")),
    // t-closeness: per-class ordered EMD of the value distribution vs the
    // corpus, cross-multiplied integer arithmetic until one division
    BoardQuery("t_closeness", (s, dir) =>
      operators.Privacy.tCloseness(ev(s, dir), Seq("event_type"), "value"),
      operators.Privacy.tClosenessSql("events", Seq("event_type"), "value")),
    // χ²-independence + Cramér's V between source and lang — the
    // confounding audit a stratified sampling plan runs first
    BoardQuery("chi2_assoc", (s, dir) =>
      operators.Audit.chi2Independence(Tables.documents(s, dir), "source", "lang"),
      operators.Audit.chi2IndependenceSql("documents", "source", "lang")),
    // exact two-sample KS between md5-halves of n_chars — supremum-gap
    // companion to psi_drift/wasserstein_drift, integer cross-multiplied
    BoardQuery("ks_drift", (s, dir) =>
      operators.Drift.ksDrift(Tables.documents(s, dir), "doc_id", "n_chars"),
      operators.Drift.ksDriftSql("documents", "doc_id", "n_chars")),
    // Laplace-noised count release (seeded inverse-CDF noise — the ε-DP
    // counting mechanism, reproducible for cross-engine testing)
    BoardQuery("dp_counts", (s, dir) =>
      operators.Privacy.laplaceCounts(ev(s, dir), "event_type",
        epsilon = 0.5),
      operators.Privacy.laplaceCountsSql("events", "event_type", epsilon = 0.5)),
    // per-language subword fertility of the proxy BPE tokenizer
    BoardQuery("tokenizer_fertility", (s, dir) =>
      TextAnalysis.tokenizerFertility(Tables.documents(s, dir), "lang", "text"),
      operators.TextAnalysis.tokenizerFertilitySql("documents", "lang", "text")),
    // perplexity-quartile curriculum buckets (percentile-broadcast banding,
    // not a global ntile window)
    BoardQuery("ppl_buckets", (s, dir) =>
      TextAnalysis.pplBuckets(Tables.documents(s, dir), "doc_id", "text"),
      operators.TextAnalysis.pplBucketsSql(unigramLogprobOracle)),
    BoardQuery("text_quality", (s, dir) =>
      TextAnalysis.withQuality(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
          col("avg_word_len"), col("quality_score"))
        .orderBy("doc_id"),
      """SELECT doc_id,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         round((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))) / greatest(length(text), 1), 6) AS punct_ratio,
         round(length(text) / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6) AS avg_word_len,
         round(least(len(string_split_regex(trim(text), '\s+')) / 50.0, 1.0) *
               (1.0 - least((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))) / greatest(length(text), 1), 1.0)), 6) AS quality_score
         FROM documents ORDER BY doc_id"""),
    BoardQuery("lang_detect", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      s"SELECT doc_id, ${TextAnalysis.langIdSql("text")} AS lang_pred FROM documents ORDER BY doc_id"),
    // confusion matrix of the n-gram langid vs the labeled lang, with
    // per-true-label recall — the detector's eval card (which languages
    // leak into which) in one scan + a label²-bounded agg
    BoardQuery("lang_confusion", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
        .groupBy("lang", "pred")
        .agg(count(lit(1)).as("n"))
        .withColumn("recall",
          round(col("n").cast("double") /
            sum(col("n")).over(org.apache.spark.sql.expressions.Window
              .partitionBy("lang")).cast("double"), 6))
        .orderBy("lang", "pred"),
      s"""WITH p AS (SELECT lang, ${TextAnalysis.langIdSql("text")} AS pred FROM documents),
         c AS (SELECT lang, pred, COUNT(*) AS n FROM p GROUP BY lang, pred)
         SELECT lang, pred, n,
           round(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE), 6) AS recall
         FROM c ORDER BY lang, pred"""),
    BoardQuery("cosine_topk", (s, dir) =>
      Similarity.cosineTopK(Tables.embeddings(s, dir), "vec_id", "embedding", 0L, 10),
      """WITH q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
           round(
             list_sum(list_transform(list_zip(e.embedding, q.query_vec), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(q.query_vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 4) AS sim
         FROM embeddings e, q ORDER BY sim DESC, vec_id LIMIT 10"""),
    BoardQuery("cosine_neardup", (s, dir) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding", 0.3)
        .orderBy("id_a", "id_b"), {
      // banded sign-LSH mirror of Similarity.cosineNearDupPairs(signDims=16,
      // rowsPerBand=8): one UNION ALL branch per band, generated from the
      // same constants
      val bandBranches = (0 until 2).map { b =>
        s"SELECT vec_id, $b AS band_idx, ${operators.Similarity.bandValSql("embedding", b, 8)} AS band_val FROM embeddings"
      }.mkString("\n           UNION ALL\n           ")
      s"""WITH sig AS (
           $bandBranches),
         cand AS (SELECT DISTINCT a.vec_id ia, b.vec_id ib
                  FROM sig a JOIN sig b
                  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
         j AS (SELECT ia, ib, ea.embedding ea, eb.embedding eb
               FROM cand JOIN embeddings ea ON ea.vec_id = ia
                         JOIN embeddings eb ON eb.vec_id = ib)
         SELECT * FROM (
           SELECT ia AS id_a, ib AS id_b, round(${cosSql("ea", "eb")}, 4) AS sim
           FROM j)
         WHERE sim >= 0.3 ORDER BY id_a, id_b"""
    }),
    // --- BFL arrays / wildcards / macros / json() fallback ---
    BoardQuery("bfl_wildcard_exist", (s, dir) => {
      // array-vs-scalar equality is existential membership (§1.2)
      val df = ev(s, dir).withColumn("tags",
        array(col("event_type"), concat(lit("u"), col("user_id"))))
      df.where(Compiler.compile(df, """tags.* == "click"""").pred)
        .select(col("event_id"), col("event_type"), col("user_id"))
        .orderBy("event_id")
    },
      """SELECT event_id, event_type, user_id FROM events
         WHERE list_contains([event_type, 'u'||CAST(user_id AS VARCHAR)], 'click')
         ORDER BY event_id"""),
    BoardQuery("bfl_wildcard_cmp", (s, dir) => {
      // array-vs-scalar comparison is existential (any element >)
      val df = ev(s, dir).withColumn("vals",
        array(col("user_id").cast("double"), col("value")))
      df.where(Compiler.compile(df, """vals.* > 300""").pred)
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, value FROM events
         WHERE len(list_filter([CAST(user_id AS DOUBLE), value], x -> x > 300)) > 0
         ORDER BY event_id"""),
    BoardQuery("bfl_json_helper", (s, dir) => {
      // json() over a JSON-in-string body via the interpreter fallback tier
      val df = ev(s, dir).withColumn("doc",
        to_json(struct(col("event_id"), col("props").as("body"))))
      // doc.body is props verbatim, so the json() comparison prefilters via
      // its VARIANT model (and IsNotNull(props) reaches the Parquet scan)
      Bfl.queryDocs(df, "doc", """body.json().k >= 95""",
          backed = Map("event_id" -> "event_id", "body" -> "props"))
        .select(col("event_id"), col("user_id"))
        .orderBy("event_id")
    },
      "SELECT event_id, user_id FROM events WHERE CAST(json_extract_string(props,'$.k') AS DOUBLE) >= 95 ORDER BY event_id"),
    BoardQuery("bfl_macro", (s, dir) => {
      val df = ev(s, dir)
      val macros = Macros.add(Map.empty, "purchase", """event_type == "purchase"""")
      val applied = Bfl.filter(df, """purchase and value > 200""", macros)
      applied.df.select(col("event_id"), col("value")).orderBy("event_id")
    },
      "SELECT event_id, value FROM events WHERE event_type = 'purchase' AND value > 200 ORDER BY event_id"),
    BoardQuery("bfl_unary_neg", (s, dir) =>
      bflEvents(s, dir, """value > -50 and !(event_type == "view") and user_id <= 5"""),
      s"SELECT $evCols FROM events WHERE value > -50 AND NOT event_type = 'view' AND user_id <= 5 ORDER BY event_id"),
    // --- relational set operations ---
    BoardQuery("semi_join", (s, dir) => {
      val o = Tables.orders(s, dir).where(col("o_totalprice") > 400)
      Tables.customer(s, dir)
        .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400)
         ORDER BY c_custkey"""),
    BoardQuery("anti_join", (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).where(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
         ORDER BY c_custkey"""),
    // MASS-weighted quantiles: "the median TOKEN lives in a doc of length
    // X" per source — the weighted distribution shard planning actually
    // budgets against (unweighted quantiles over-represent short docs).
    // Thresholds are integer cross-multiplied (2·cum ≥ tot etc.), so the
    // order statistic is exact in both engines; per-source window sort.
    BoardQuery("weighted_quantiles", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("v"), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val tot = org.apache.spark.sql.expressions.Window.partitionBy("source")
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars").as("v"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("wt"))
        .withColumn("cum", sum(col("wt")).over(w))
        .withColumn("tot", sum(col("wt")).over(tot))
        .groupBy("source")
        .agg(max(col("tot")).as("total_tokens"),
          min(when(col("cum") * 2 >= col("tot"), col("v"))).as("p50_w"),
          min(when(col("cum") * 10 >= col("tot") * 9, col("v"))).as("p90_w"),
          min(when(col("cum") * 100 >= col("tot") * 99, col("v"))).as("p99_w"))
        .orderBy("source")
    },
      """WITH b AS (SELECT source, doc_id, n_chars AS v,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS wt
         FROM documents),
         c AS (SELECT source, v,
             SUM(wt) OVER (PARTITION BY source ORDER BY v, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(wt) OVER (PARTITION BY source) AS tot
           FROM b)
         SELECT source, CAST(MAX(tot) AS BIGINT) AS total_tokens,
           MIN(CASE WHEN cum * 2 >= tot THEN v END) AS p50_w,
           MIN(CASE WHEN cum * 10 >= tot * 9 THEN v END) AS p90_w,
           MIN(CASE WHEN cum * 100 >= tot * 99 THEN v END) AS p99_w
         FROM c GROUP BY source ORDER BY source"""),
    // INTERSECT / EXCEPT surface: nations present among customers AND
    // suppliers, and customers-only nations — Spark plans both as
    // semi-/anti-joins over distinct inputs
    BoardQuery("intersect_except", (s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      val su = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
      c.intersect(su).withColumn("side", lit("both"))
        .unionByName(c.except(su).withColumn("side", lit("customer_only")))
        .unionByName(su.except(c).withColumn("side", lit("supplier_only")))
        .orderBy("side", "nationkey")
    },
      """WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
         s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
         SELECT nationkey, side FROM (
           SELECT nationkey, 'both' AS side
             FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
           UNION ALL
           SELECT nationkey, 'customer_only'
             FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
           UNION ALL
           SELECT nationkey, 'supplier_only'
             FROM (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c))
         ORDER BY side, nationkey"""),
    // Cohen's κ of the langid detector vs the labeled lang: the
    // chance-corrected agreement the raw confusion accuracy overstates
    BoardQuery("cohen_kappa", (s, dir) => {
      val p = Tables.documents(s, dir)
        .select(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
      val grid = p.groupBy("lang", "pred").agg(count(lit(1)).as("c"))
      val obs = grid.agg(
        sum(when(col("lang") === col("pred"), col("c")).otherwise(lit(0L)))
          .as("agree"),
        sum(col("c")).as("n"))
      // Σ_k rowSum_k·colSum_k — labels absent on either side contribute 0,
      // so the inner join over the bounded label set is exact
      val chance = grid.groupBy("lang").agg(sum(col("c")).as("r"))
        .join(grid.groupBy(col("pred").as("lang")).agg(sum(col("c")).as("cl")), "lang")
        .agg(sum(col("r") * col("cl")).as("chance_num"))
      val pObs = col("agree").cast("double") / col("n").cast("double")
      val pCh = col("chance_num").cast("double") / (col("n") * col("n")).cast("double")
      obs.crossJoin(broadcast(chance))
        .select(col("n"),
          round(pObs, 6).as("p_obs"),
          round(pCh, 6).as("p_chance"),
          round((pObs - pCh) / (lit(1.0) - pCh), 6).as("kappa"))
    },
      s"""WITH p AS (SELECT lang, ${operators.TextAnalysis.langIdSql("text")} AS pred FROM documents),
         g AS (SELECT lang, pred, COUNT(*) AS c FROM p GROUP BY lang, pred),
         o AS (SELECT CAST(SUM(CASE WHEN lang = pred THEN c ELSE 0 END) AS BIGINT) AS agree,
             CAST(SUM(c) AS BIGINT) AS n FROM g),
         rs AS (SELECT lang, SUM(c) AS r FROM g GROUP BY lang),
         cs AS (SELECT pred AS lang, SUM(c) AS cl FROM g GROUP BY pred),
         ch AS (SELECT CAST(SUM(r * cl) AS BIGINT) AS chance_num
           FROM rs JOIN cs USING (lang))
         SELECT n, round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_obs,
           round(CAST(chance_num AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS p_chance,
           round((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(chance_num AS DOUBLE) / CAST(n * n AS DOUBLE))
             / (1.0 - CAST(chance_num AS DOUBLE) / CAST(n * n AS DOUBLE)), 6) AS kappa
         FROM o CROSS JOIN ch"""),
    BoardQuery("union_distinct", (s, dir) =>
      Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy("nationkey"),
      """SELECT DISTINCT nationkey FROM (
           SELECT c_nationkey AS nationkey FROM customer
           UNION ALL SELECT s_nationkey FROM supplier)
         ORDER BY nationkey"""),
    BoardQuery("rollup_counts", (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
    // --- near-dup / fingerprint pipeline ops ---
    BoardQuery("minhash_sigs", (s, dir) =>
      Dedup.signatureTable(Tables.documents(s, dir), "doc_id", "text", 4)
        .orderBy("doc_id"),
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text),'\s+') AS ws FROM documents),
         sh AS (SELECT doc_id, CASE WHEN len(ws)>=3
                 THEN list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])
                 ELSE [array_to_string(ws,' ')] END AS sh FROM w)
         SELECT doc_id,
           list_min(list_transform(list_distinct(sh), s -> md5('0:'||s))) AS mh0,
           list_min(list_transform(list_distinct(sh), s -> md5('1:'||s))) AS mh1,
           list_min(list_transform(list_distinct(sh), s -> md5('2:'||s))) AS mh2,
           list_min(list_transform(list_distinct(sh), s -> md5('3:'||s))) AS mh3
         FROM sh ORDER BY doc_id"""),
    BoardQuery("neardup_pairs", (s, dir) =>
      Dedup.nearDupPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 8, rowsPerBand = 2, threshold = 0.2)
        .orderBy("id_a", "id_b"),
      s"""WITH $nearDupCtes
         SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.2 ORDER BY id_a, id_b"""),
    // hot-bucket-capped near-dup mining: buckets holding > 2 docs are
    // dropped before the self-join (the boilerplate guard — a B-doc bucket
    // is B(B-1)/2 candidates; pairs keep colliding in cooler bands). Cap 2
    // is deliberately tight so the fixture exercises the drop (max bucket
    // 3 at sf0.01); production runs hundreds
    BoardQuery("neardup_capped", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.nearDupPairsFromBands(
          Dedup.capBands(Dedup.lshBands(docs, "doc_id", "text", k = 8, rowsPerBand = 2),
            maxBucket = 2).localCheckpoint(),
          docs, "doc_id", "text", threshold = 0.2)
        .orderBy("id_a", "id_b")
    },
      // the same chain with hot buckets (> 2 docs) dropped before the
      // candidate self-join — mirror of Dedup.capBands(maxBucket = 2)
      s"""WITH ${nearDupCtesFor("documents")
            .replace("cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a",
              """cool AS (SELECT band_idx, band_hash FROM bands
                   GROUP BY band_idx, band_hash HAVING COUNT(*) <= 2),
                 bandk AS (SELECT b.doc_id, b.band_idx, b.band_hash
                   FROM bands b JOIN cool USING (band_idx, band_hash)),
                 cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bandk a""")
            .replace("JOIN bands b ON a.band_idx=b.band_idx AND a.band_hash=b.band_hash AND a.doc_id < b.doc_id)",
              "JOIN bandk b ON a.band_idx=b.band_idx AND a.band_hash=b.band_hash AND a.doc_id < b.doc_id)")}
         SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.2 ORDER BY id_a, id_b"""),
    BoardQuery("neardup_clusters", (s, dir) =>
      Dedup.nearDupClusters(nearDupPairsBuilt(s, dir))
        .orderBy("id"),
      // connected components over the near-dup pair graph: min reachable id
      // per node via a recursive transitive closure (tiny clusters — the
      // closure stays small), mirroring Dedup.nearDupClusters' label
      // propagation fixpoint
      s"""WITH RECURSIVE $nearDupCtes,
         pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
         SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id ORDER BY id"""),
    // duplication-aware loss weights: 1/|cluster| per doc (singletons 1) —
    // the keep-everything alternative to dropping near-dups
    BoardQuery("dedup_weights", (s, dir) =>
      Dedup.dedupWeights(Tables.documents(s, dir), "doc_id",
        nearDupPairsBuilt(s, dir)),
      // cluster sizes from the same transitive closure, 1/size broadcast
      // back over every doc id (absent from any cluster → singleton)
      s"""WITH RECURSIVE $nearDupCtes,
         pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
         cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         sz AS (SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY cluster_id),
         ws AS (SELECT cl.id, sz.sz FROM cl JOIN sz USING (cluster_id))
         SELECT d.doc_id, COALESCE(ws.sz, 1) AS cluster_size,
           round(CAST(1.0 AS DOUBLE) / CAST(COALESCE(ws.sz, 1) AS DOUBLE), 6) AS weight
         FROM documents d LEFT JOIN ws ON d.doc_id = ws.id
         ORDER BY d.doc_id"""),
    // train/valid/test LEAKAGE audit: near-dup pairs crossing split
    // boundaries — the contamination a random split leaves behind
    BoardQuery("split_leakage", (s, dir) => {
      val sp = Tables.documents(s, dir)
        .select(col("doc_id"), operators.Sampling.splitOf(col("doc_id")).as("split"))
      nearDupPairsBuilt(s, dir)
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaked", col("split_a") =!= col("split_b"))
        .orderBy("split_a", "split_b")
    },
      s"""WITH RECURSIVE $nearDupCtes,
         pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         sp AS (SELECT doc_id,
             CASE WHEN b < 230 THEN 'train' WHEN b < 243 THEN 'valid' ELSE 'test' END AS split
           FROM (SELECT doc_id,
                   CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,2) AS INT) AS b
                 FROM documents))
         SELECT split_a, split_b, n_pairs, split_a <> split_b AS leaked FROM (
           SELECT sa.split AS split_a, sb.split AS split_b, COUNT(*) AS n_pairs
           FROM pairs JOIN sp sa ON pairs.id_a = sa.doc_id
           JOIN sp sb ON pairs.id_b = sb.doc_id
           GROUP BY 1, 2) ORDER BY 1, 2"""),
    // DoReMi-style mixture reweighting: per-source excess unigram NLL →
    // softmax sampling weights (hard domains upweighted)
    BoardQuery("mixture_reweight", (s, dir) =>
      operators.Sampling.mixtureReweight(Tables.documents(s, dir), "source", "text"),
      operators.Sampling.mixtureReweightSql("documents", "source", "text")),
    // content centrality: PageRank over the near-dup candidate graph — the
    // canonical-representative / template-farm signal; per-round checkpointed
    // power iteration, DECIMAL-exact rank sums
    BoardQuery("pagerank_dups", (s, dir) =>
      operators.Graph.pageRank(nearDupPairsBuilt(s, dir), "id_a", "id_b",
          iters = 5, damping = 0.85)
        .orderBy("id"),
      operators.Graph.pageRankSql(
        s"""$nearDupCtes,
         ep AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2)""",
        idOut = "id", iters = 5, damping = 0.85)),
    // triangle census of the near-dup graph: clique-density vs chain
    // transitivity readout — degree-ordered Schank–Wagner, O(√E) wedge
    // fan-out regardless of hub nodes
    BoardQuery("neardup_triangles", (s, dir) =>
      operators.Graph.triangles(nearDupPairsBuilt(s, dir)),
      operators.Graph.trianglesSql(
        s"""$nearDupCtes,
         ep AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2)""")),
    // per-doc 1-hop vs <=2-hop reach over the near-dup graph: the blast
    // radius ranking — which documents anchor transitive duplication
    BoardQuery("two_hop_reach", (s, dir) =>
      operators.Graph.twoHopReach(nearDupPairsBuilt(s, dir))
        .orderBy("id"),
      s"""${operators.Graph.twoHopReachSql(
        s"""$nearDupCtes,
         ep AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2)""")}
         ORDER BY id"""),
    // degree assortativity of the near-dup graph: hubs-link-hubs (template
    // tangle) vs hubs-link-leaves (star families) — the regimes want
    // different dedup strategies
    BoardQuery("dup_assortativity", (s, dir) =>
      operators.Graph.assortativity(nearDupPairsBuilt(s, dir)),
      operators.Graph.assortativitySql(
        s"""$nearDupCtes,
         ep AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2)""")),
    // contrastive (anchor, positive, negative) triplets: near-dup pairs as
    // positives, negatives from a broadcast 2-per-bucket representative
    // table keyed by the pair's md5 — no corpus-sized join per pair
    BoardQuery("contrastive_triplets", (s, dir) =>
      operators.Contrastive.triplets(nearDupPairsBuilt(s, dir),
          Tables.documents(s, dir), "doc_id")
        .orderBy("anchor", "positive"),
      operators.Contrastive.tripletsSql(
        s"""$nearDupCtes,
         ep AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2)""",
        "documents", "doc_id")),
    // dedup-policy threshold sweep: surviving pairs + affected docs per
    // candidate threshold — pick the dedup threshold FROM this curve
    BoardQuery("dedup_sweep", (s, dir) =>
      Dedup.thresholdSweep(nearDupPairsBuilt(s, dir)),
      s"""WITH $nearDupCtes,
         p AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.2),
         pt AS (SELECT t.threshold, id_a, id_b FROM p
                CROSS JOIN (SELECT CAST(unnest([0.3, 0.5, 0.7, 0.9, 0.95, 0.97, 0.99]) AS DOUBLE) AS threshold) t
                WHERE jaccard >= t.threshold),
         c AS (SELECT threshold, COUNT(*) AS n_pairs FROM pt GROUP BY 1),
         d AS (SELECT threshold, COUNT(*) AS n_docs_affected FROM (
             SELECT DISTINCT threshold, id FROM (
               SELECT threshold, id_a AS id FROM pt
               UNION ALL SELECT threshold, id_b FROM pt))
           GROUP BY 1)
         SELECT c.threshold, n_pairs, n_docs_affected
         FROM c JOIN d USING (threshold) ORDER BY threshold"""),
    // dedup COST model: tokens actually saved per candidate threshold
    // under the min-id-keeper rule — the curve that turns the sweep into a
    // budget decision ("0.7 drops 9% of docs but only 4% of tokens")
    BoardQuery("dedup_savings", (s, dir) => {
      val ths = Seq(0.3, 0.5, 0.7, 0.9)
      val dropped = nearDupPairsBuilt(s, dir)
        .select(explode(array(ths.map(lit): _*)).as("threshold"),
          col("id_b").as("doc_id"), col("jaccard"))
        .where(col("jaccard") >= col("threshold"))
        .select("threshold", "doc_id").distinct()
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("wt"))
      val totals = toks.agg(count(lit(1)).as("n_docs"), sum(col("wt")).as("tot_w"))
      dropped.join(toks, "doc_id")
        .groupBy("threshold")
        .agg(count(lit(1)).as("n_dropped"), sum(col("wt")).as("tokens_dropped"))
        .crossJoin(broadcast(totals))
        .select(col("threshold"), col("n_dropped"), col("tokens_dropped"),
          round(col("tokens_dropped").cast("double") / col("tot_w").cast("double"), 6)
            .as("frac_tokens"))
        .orderBy("threshold")
    },
      s"""WITH $nearDupCtes,
         p AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.2),
         dropped AS (SELECT DISTINCT t.threshold, id_b AS doc_id
           FROM p CROSS JOIN (SELECT CAST(unnest([0.3, 0.5, 0.7, 0.9]) AS DOUBLE) AS threshold) t
           WHERE jaccard >= t.threshold),
         tk AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS wt
           FROM documents),
         tot AS (SELECT SUM(wt) AS tot_w FROM tk)
         SELECT threshold, COUNT(*) AS n_dropped,
           CAST(SUM(wt) AS BIGINT) AS tokens_dropped,
           round(CAST(SUM(wt) AS DOUBLE) / CAST(MAX(tot_w) AS DOUBLE), 6) AS frac_tokens
         FROM dropped JOIN tk USING (doc_id) CROSS JOIN tot
         GROUP BY threshold ORDER BY threshold"""),
    // near-dup cluster size spectrum: clusters/members/pairwise-comparison
    // mass per size k — the dedup capacity-planning shape readout
    BoardQuery("cluster_sizes", (s, dir) =>
      Dedup.clusterSizeSpectrum(
        Dedup.nearDupClusters(nearDupPairsBuilt(s, dir))),
      s"""WITH RECURSIVE $nearDupCtes,
         pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
         cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         ks AS (SELECT cluster_id, COUNT(*) AS k FROM cl GROUP BY cluster_id)
         SELECT k AS cluster_size, COUNT(*) AS n_clusters,
           CAST(k * COUNT(*) AS BIGINT) AS n_members,
           CAST(k * (k - 1) / 2 * COUNT(*) AS BIGINT) AS n_comparisons
         FROM ks GROUP BY k ORDER BY k"""),
    // per-doc dedup decision record (keep / exact_dup / near_dup + the
    // keeper id): the reviewable audit trail of the dedup stage — exact
    // tier wins, near tier from the keep-best representatives
    BoardQuery("dedup_decisions", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dedupDecisions(docs, "doc_id", "text",
        Dedup.nearDupClusters(nearDupPairsBuilt(s, dir)),
        docs.select(col("doc_id"), col("n_chars")), "n_chars")
    },
      // exact tier: md5(text) min-id groups; near tier: clusters chain +
      // keep-best window; exact wins, keeper named in dup_of
      s"""WITH RECURSIVE $nearDupCtes,
         pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
         cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         reps AS (SELECT cluster_id, id AS keep_id FROM (
             SELECT cl.cluster_id, cl.id,
               row_number() OVER (PARTITION BY cl.cluster_id
                 ORDER BY d.n_chars DESC, cl.id) AS rn
             FROM cl JOIN documents d ON cl.id = d.doc_id) WHERE rn = 1),
         near AS (SELECT cl.id, reps.keep_id FROM cl JOIN reps USING (cluster_id)),
         ex AS (SELECT CAST(doc_id AS BIGINT) AS id, md5(text) AS h FROM documents),
         exk AS (SELECT h, MIN(id) AS keep FROM ex GROUP BY h)
         SELECT ex.id AS doc_id,
           CASE WHEN exk.keep <> ex.id THEN 'exact_dup'
                WHEN near.keep_id IS NOT NULL AND near.keep_id <> ex.id THEN 'near_dup'
                ELSE 'keep' END AS decision,
           CASE WHEN exk.keep <> ex.id THEN exk.keep
                WHEN near.keep_id IS NOT NULL AND near.keep_id <> ex.id THEN near.keep_id
           END AS dup_of
         FROM ex JOIN exk USING (h) LEFT JOIN near ON near.id = ex.id
         ORDER BY doc_id"""),
    // duplication-debiased draw: weight 1/cluster-size from the near-dup
    // clusters (singletons weigh 1), deterministic E–S TakeOrdered — the
    // soft dedup-then-sample operator; no global sort
    BoardQuery("cluster_balanced_sample", (s, dir) =>
      operators.Sampling.clusterBalancedSample(Tables.documents(s, dir),
        "doc_id", Dedup.nearDupClusters(nearDupPairsBuilt(s, dir)),
        "id", "cluster_id", k = 50),
      // clusters chain + inverse-cluster-size weights + the weighted_sample
      // ES draw (ln(u)/w desc, round(9), id tie-break)
      s"""WITH RECURSIVE $nearDupCtes,
         pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
         cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         sz AS (SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY cluster_id),
         wdoc AS (SELECT d.doc_id, COALESCE(sz.sz, 1) AS cluster_size,
             CAST(1 AS DOUBLE) / CAST(COALESCE(sz.sz, 1) AS DOUBLE) AS w
           FROM documents d LEFT JOIN cl ON CAST(d.doc_id AS BIGINT) = cl.id
           LEFT JOIN sz USING (cluster_id))
         SELECT doc_id, cluster_size, weight FROM (
           SELECT doc_id, CAST(cluster_size AS BIGINT) AS cluster_size,
             round(w, 6) AS weight,
             round(ln(CAST('0x'||substr(md5('cbs:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
                      / 1152921504606846976.0) / w, 9) AS k
           FROM wdoc WHERE w > 0
           ORDER BY k DESC, doc_id LIMIT 50)
         ORDER BY doc_id"""),
    // sketch-accuracy calibration: per estimated-similarity band, MinHash
    // estimate vs exact Jaccard over the candidate pairs — bounded by the
    // pair list, DECIMAL-exact means
    BoardQuery("minhash_calib", (s, dir) =>
      Dedup.minhashCalibration(nearDupPairsBuilt(s, dir),
        Tables.documents(s, dir), "doc_id", "text", k = 8, buckets = 4), {
      val matches = (1 to 8)
        .map(i => s"(CASE WHEN x.sigs[$i] = y.sigs[$i] THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $nearDupCtes,
         p AS (SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.2),
         e AS (SELECT p.jaccard, CAST($matches AS DOUBLE) / 8 AS est
               FROM p JOIN sig x ON x.doc_id = p.id_a
                      JOIN sig y ON y.doc_id = p.id_b),
         bk AS (SELECT least(3, CAST(floor(est * 4) AS BIGINT)) AS bucket,
                  est, jaccard FROM e)
         SELECT bucket, COUNT(*) AS n_pairs,
           round(CAST(SUM(CAST(est AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_est,
           round(CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_exact,
           round(CAST(SUM(CAST(abs(est - jaccard) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mae
         FROM bk GROUP BY bucket ORDER BY bucket"""
    }),
    // SCD2 versioned upsert: fold a derived update batch (changed / no-op
    // redelivered / inserted docs) into the snapshot — one broadcast
    // id-keyed join, fingerprint change detection, history preserved
    BoardQuery("scd2_merge", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val changed = docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"))
      val redelivered = docs.where(col("doc_id") % 11 === 0 && col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), col("text"))
      val inserted = docs.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new: "), col("text")).as("text"))
      operators.Scd.merge2(docs,
        changed.unionAll(redelivered).unionAll(inserted), "doc_id", "text")
    },
      s"""WITH scd_base AS (SELECT doc_id AS id, substr(md5(text), 1, 16) AS fp FROM documents),
         scd_upd AS (
           SELECT doc_id AS id, substr(md5(text || ' [rev2]'), 1, 16) AS ufp
             FROM documents WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id, substr(md5(text), 1, 16)
             FROM documents WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0
           UNION ALL
           SELECT doc_id + 1000000, substr(md5('new: ' || text), 1, 16)
             FROM documents WHERE doc_id % 13 = 0),
         ${operators.Scd.merge2Sql()}"""),
    // rank-normalized quality blend via bucketized empirical CDFs — zero
    // corpus sorts (the percent_rank plan is one global sort PER signal)
    BoardQuery("quality_blend", (s, dir) =>
      operators.QualityBlend.blend(Tables.documents(s, dir), "doc_id", "text"),
      operators.QualityBlend.blendSql("documents", "doc_id", "text")),
    // keep-BEST per near-dup cluster (longest copy wins, id tie-break) —
    // the selection real dedup pipelines apply to cluster members
    BoardQuery("cluster_best", (s, dir) =>
      Dedup.clusterRepresentatives(
          Dedup.nearDupClusters(nearDupPairsBuilt(s, dir)),
          Tables.documents(s, dir), "doc_id", "n_chars")
        .orderBy("cluster_id"),
      // clusters chain + keep-best representative: (n_chars desc, id)
      // argmax per cluster — the window mirror of Dedup.clusterRepresentatives
      s"""WITH RECURSIVE $nearDupCtes,
         pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
         cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         jd AS (SELECT cl.cluster_id, cl.id, d.n_chars,
               row_number() OVER (PARTITION BY cl.cluster_id
                 ORDER BY d.n_chars DESC, cl.id) AS rn,
               COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_members
             FROM cl JOIN documents d ON cl.id = d.doc_id)
         SELECT cluster_id, id AS keep_id, n_chars AS keep_score, n_members
         FROM jd WHERE rn = 1 ORDER BY cluster_id"""),
    // leakage-safe split: assignment is a function of the SOURCE, so
    // within-source near-dups can never straddle train/test
    BoardQuery("group_split", (s, dir) =>
      operators.Sampling.groupSplit(Tables.documents(s, dir), "doc_id", "source")
        .orderBy("doc_id"),
      """SELECT doc_id, source,
         CASE WHEN b < 230 THEN 'train' WHEN b < 243 THEN 'valid' ELSE 'test' END AS split
         FROM (SELECT doc_id, source,
                 CAST('0x'||substr(md5('gsplit:'||source),1,2) AS INT) AS b
               FROM documents)
         ORDER BY doc_id"""),
    // robust per-type outlier gate: median + MAD broadcast back over the
    // fact scan twice; facts never shuffle
    BoardQuery("mad_outliers", (s, dir) =>
      operators.Robust.madOutliers(ev(s, dir), "event_type", "value")
        .orderBy("event_type"),
      operators.Robust.madOutliersSql("events", "event_type", "value")),
    // fuzzy record linkage over the distinct-name dictionary: q-gram count
    // filter (no false negatives), exact levenshtein only on survivors
    BoardQuery("fuzzy_match", (s, dir) =>
      operators.Linkage.fuzzyMatch(Tables.part(s, dir), "p_name", maxDist = 2)
        .orderBy("name_a", "name_b"),
      operators.Linkage.fuzzyMatchSql("part", "p_name", maxDist = 2)),
    BoardQuery("split_assign", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), operators.Sampling.splitOf(col("doc_id")).as("split"))
        .orderBy("doc_id"),
      // byte computed once, thresholds in one place — mirrors the
      // Sampling.splitByte / splitOf structure
      """SELECT doc_id,
         CASE WHEN b < 230 THEN 'train' WHEN b < 243 THEN 'valid' ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,2) AS INT) AS b
               FROM documents)
         ORDER BY doc_id"""),
    // per-label embedding separability audit (centroid silhouette margin);
    // centroids are labels×dim broadcast literals, the corpus scans once
    BoardQuery("label_margin", (s, dir) =>
      operators.Similarity.labelCentroidMargin(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label"),
      operators.Similarity.labelCentroidMarginSql(
        "embeddings", "vec_id", "embedding", "label", dim = 64)),
    // distinctive per-source vocabulary by Dunning G² keyness (χ² overweights
    // rare terms, raw counts find stopwords); all folds at type-table size
    BoardQuery("source_keyness", (s, dir) =>
      operators.TextAnalysis.sourceKeyness(Tables.documents(s, dir), "source", "text", topN = 10)
        .orderBy("source", "rank"),
      operators.TextAnalysis.sourceKeynessSql("documents", "source", "text", 10)),
    // per-type burstiness (Fano factor over 1h buckets, empty buckets
    // counted in closed form) — no per-key event ordering anywhere
    BoardQuery("burstiness", (s, dir) =>
      operators.Temporal.burstiness(ev(s, dir), "event_type", "ts", bucketSeconds = 3600L)
        .orderBy("event_type"),
      operators.Temporal.burstinessSql("events", "event_type", "ts", 3600L)),
    // traffic-rate anomaly gate: hourly per-type counts z-scored against
    // the trailing 24 observed buckets (all stats integer-derived — engine-
    // identical doubles); |z| > 2.5 rows surface for alerting
    BoardQuery("rate_anomaly", (s, dir) =>
      operators.Temporal.rateAnomaly(ev(s, dir), "event_type", "ts",
        bucketSeconds = 3600L, lookback = 24, zThresh = 2.5),
      operators.Temporal.rateAnomalySql("events", "event_type", "ts",
        3600L, 24, 2.5)),
    // per-source Zipf slope over the term type table (log-log OLS; natural
    // text ≈ −1, template storms drift) — rank window is vocabulary-sized
    BoardQuery("zipf_fit", (s, dir) =>
      operators.TextAnalysis.zipfFit(Tables.documents(s, dir), "source", "text"),
      operators.TextAnalysis.zipfFitSql("documents", "source", "text")),
    // feature-hashed BoW text embedding (hashing trick): text→vector with
    // bounded width at any vocab size; compared in long nonzero form
    BoardQuery("hash_embed", (s, dir) =>
      operators.TextAnalysis.hashEmbed(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "w")))
        .where(col("w") =!= 0.0)
        .orderBy("doc_id", "dim"),
      operators.TextAnalysis.hashEmbedLongSql("documents", "doc_id", "text")),
    // sqrt-smoothed data-budget planner: per-source sampling weights,
    // allocated tokens, and EPOCHS at a fixed token budget
    BoardQuery("epoch_planner", (s, dir) =>
      operators.Sampling.epochPlanner(Tables.documents(s, dir), "source",
        "text", budgetTokens = 1000000L),
      operators.Sampling.epochPlannerSql("documents", "source", "text", 1000000L)),
    // truncated Rank-Biased Overlap between the n_chars and token-count
    // rankings — top-weighted scorer agreement; only top-depth materializes
    BoardQuery("rbo_overlap", (s, dir) =>
      operators.Correlation.rboOverlap(Tables.documents(s, dir), "doc_id",
        col("n_chars"),
        operators.TextAnalysis.tokenCount(col("text")), depth = 50),
      operators.Correlation.rboOverlapSql(
        """SELECT doc_id AS id, n_chars AS sa,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS sb
           FROM documents""", depth = 50)),
    // Hill tail-index of each source's term-frequency head — the proper
    // heavy-tail statistic next to zipf_fit's whole-curve OLS
    BoardQuery("tail_index", (s, dir) =>
      operators.TextAnalysis.hillTail(Tables.documents(s, dir), "source",
        "text", k = 30),
      operators.TextAnalysis.hillTailSql("documents", "source", "text", 30)),
    // Heaps' law vocabulary-growth fit (V ≈ k·n^β) along the doc order —
    // the vocab-at-100× estimator; cumulative counts ride the packShards
    // two-level prefix sum, never one global window
    BoardQuery("heaps_law", (s, dir) =>
      operators.TextAnalysis.heapsLaw(Tables.documents(s, dir), "doc_id", "text"),
      operators.TextAnalysis.heapsLawSql("documents", "doc_id", "text")),
    // Spearman ρ between token count and char count — the gate-redundancy
    // audit (ρ≈1 ⇒ one signal is dead weight); average ranks from the
    // distinct-value type relation, ×2-integer moments, exact under any
    // partitioning
    BoardQuery("spearman_corr", (s, dir) => {
      val t = Tables.documents(s, dir)
      operators.Correlation.spearman(t,
        operators.TextAnalysis.tokenCount(col("text")),
        col("n_chars"))
    },
      operators.Correlation.spearmanSql(
        """SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS x,
           n_chars AS y FROM documents""")),
    // Wilson 95% interval on each source's quality-gate pass rate — the
    // error bar that behaves at small n and extreme p
    BoardQuery("wilson_ci", (s, dir) =>
      operators.Audit.wilsonCi(Tables.documents(s, dir), "source",
        col("n_chars") >= 200),
      operators.Audit.wilsonCiSql("documents", "source", "n_chars >= 200")),
    // leave-one-source-out influence on mean doc length — the cheap
    // data-ablation readout per source
    BoardQuery("jackknife_source", (s, dir) =>
      operators.Audit.jackknifeSource(Tables.documents(s, dir), "source",
        col("n_chars")),
      operators.Audit.jackknifeSourceSql("documents", "source", "n_chars")),
    // per-source PSI between deterministic md5-halves over length buckets
    // — the distribution-drift gate; one scan, bounded aggs
    BoardQuery("psi_drift", (s, dir) =>
      operators.Drift.psiDrift(Tables.documents(s, dir), "doc_id", "source", "text"),
      operators.Drift.psiDriftSql("documents", "doc_id", "source", "text")),
    // per-source vocabulary coverage curve (top-100/1k/10k type share) —
    // tokenizer-budget sizing; zipfFit's source-partitioned rank window
    BoardQuery("vocab_coverage", (s, dir) =>
      operators.TextAnalysis.vocabCoverage(Tables.documents(s, dir), "source", "text"),
      operators.TextAnalysis.vocabCoverageSql("documents", "source", "text")),
    // Jelinek–Mercer interpolated bigram LM (λ=0.7) — the linear-interp
    // rung between Laplace and KN; same one-occurrence-join plan
    BoardQuery("jm_logprob", (s, dir) =>
      operators.TextAnalysis.jmLogprob(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      // mirror of TextAnalysis.jmLogprob (λ=0.7): per-type interpolated
      // nll rounded to 4 then DECIMAL-summed per doc occurrence
      """WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)),'\s+') AS ws FROM documents),
         b AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> ws[i]||' '||ws[i+1])) AS bg FROM w),
         tf AS (SELECT doc_id, bg, COUNT(*) AS tf FROM b GROUP BY doc_id, bg),
         c2 AS (SELECT bg, SUM(tf) AS c12 FROM tf GROUP BY bg),
         c1 AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c12) AS c1 FROM c2 GROUP BY 1),
         cw2 AS (SELECT split_part(bg, ' ', 2) AS w2, SUM(c12) AS cdot2 FROM c2 GROUP BY 1),
         t AS (SELECT SUM(c12) AS t_tot FROM c2),
         j AS (SELECT tf.doc_id, tf.tf,
               CAST(round(-ln(
                 0.7 * CAST(c2.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) +
                 0.30000000000000004 * CAST(cw2.cdot2 AS DOUBLE) / CAST(t.t_tot AS DOUBLE)), 4)
                 AS DECIMAL(18,4)) AS nll
               FROM tf JOIN c2 USING (bg)
               JOIN c1 ON split_part(tf.bg, ' ', 1) = c1.w1
               JOIN cw2 ON split_part(tf.bg, ' ', 2) = cw2.w2
               CROSS JOIN t)
         SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(tf AS DECIMAL(18,4)) * nll) AS DOUBLE)
             / CAST(SUM(tf) AS DOUBLE) AS avg_nll
         FROM j GROUP BY doc_id ORDER BY doc_id"""),
    // per-shard source-mix entropy over the pack_shards assignment
    BoardQuery("shard_mix", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val assign = operators.Sharding.packShards(
        docs, "doc_id", operators.TextAnalysis.tokenCount(col("text")), budget = 10000)
      operators.Sharding.shardMixEntropy(assign,
        docs.select(col("doc_id"), col("source")), "doc_id", "source")
    },
      operators.Sharding.shardMixEntropySql(
        """SELECT doc_id AS id,
           CAST(COALESCE(SUM(tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 10000 AS BIGINT) AS shard
           FROM (SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok
                 FROM documents)""",
        "documents", "doc_id", "source")),
    // duplication inflation factor: corpus token mass over post-dedup mass
    // (one representative per near-dup cluster)
    BoardQuery("dup_inflation", (s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Audit.dupInflation(
        operators.Dedup.nearDupClusters(nearDupPairsBuilt(s, dir)),
        docs.select(col("doc_id"),
          operators.TextAnalysis.tokenCount(col("text")).as("tok")),
        "doc_id", "tok")
    },
      s"""WITH RECURSIVE $nearDupCtes,
         pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
         cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         tok AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tok
           FROM documents),
         pc AS (SELECT cluster_id, SUM(tok.tok) AS ct,
                  SUM(CASE WHEN cl.id = cluster_id THEN tok.tok ELSE 0 END) AS keep
                FROM cl JOIN tok ON cl.id = tok.doc_id GROUP BY cluster_id),
         rem AS (SELECT COALESCE(SUM(ct - keep), 0) AS removable_tokens FROM pc),
         tot AS (SELECT SUM(tok) AS total_tokens FROM tok)
         SELECT CAST(total_tokens AS BIGINT) AS total_tokens,
           CAST(removable_tokens AS BIGINT) AS removable_tokens,
           round(CAST(total_tokens AS DOUBLE) /
             CAST(total_tokens - removable_tokens AS DOUBLE), 6) AS inflation
         FROM tot CROSS JOIN rem"""),
    // ordered-funnel conversion over the event stream: signup → view →
    // click → purchase, each stage within 7 days of the previous; K chained
    // user-keyed joins, no event-time shuffle
    BoardQuery("funnel", (s, dir) =>
      operators.EventSeq.funnel(ev(s, dir), "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"), windowSec = 7 * 86400L),
      operators.EventSeq.funnelSql("events", "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"), windowSec = 7 * 86400L)),
    // stage-to-stage conversion timing over the same funnel chain
    BoardQuery("funnel_timing", (s, dir) =>
      operators.EventSeq.funnelTiming(ev(s, dir), "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"), windowSec = 7 * 86400L),
      operators.EventSeq.funnelTimingSql("events", "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"), windowSec = 7 * 86400L)),
    // last-touch attribution (as-of join + 24h lookback gate): which
    // channel gets credit for each purchase
    BoardQuery("attribution", (s, dir) =>
      operators.Attribution.lastTouch(ev(s, dir), "user_id", "ts",
        "event_type", "event_id", convType = "purchase", lookbackSec = 86400L),
      operators.Attribution.lastTouchSql("events", "user_id", "ts",
        "event_type", "event_id", convType = "purchase", lookbackSec = 86400L)),
    // Markov-chain attribution with removal effects: absorbing-chain
    // conversion probability, re-solved with each channel redirected to
    // NULL — distributed path/transition extraction, bounded-state value
    // iteration (the pca recursive-oracle pattern)
    BoardQuery("markov_attribution", (s, dir) =>
      operators.Attribution.markovRemoval(ev(s, dir), "user_id", "ts",
        "event_type", "event_id", convType = "purchase",
        channels = Seq("click", "error", "signup", "view")),
      operators.Attribution.markovRemovalSql("events", "user_id", "ts",
        "event_type", "event_id", convType = "purchase",
        channels = Seq("click", "error", "signup", "view"))),
    // RFM quartile segmentation per user over purchases (percentile-
    // broadcast banding; recency inverts)
    BoardQuery("rfm_scores", (s, dir) =>
      operators.EventSeq.rfmScores(ev(s, dir), "user_id", "ts", "value",
        "event_type", convType = "purchase"),
      operators.EventSeq.rfmScoresSql("events", "user_id", "ts", "value",
        "event_type", convType = "purchase")),
    // first-order Markov transition matrix of per-user event sequences:
    // one lead() window + a |types|²-bounded agg
    BoardQuery("event_transitions", (s, dir) =>
      operators.EventSeq.transitions(ev(s, dir), "user_id", "ts",
        "event_type", "event_id"),
      operators.EventSeq.transitionsSql("events", "user_id", "ts",
        "event_type", "event_id")),
    // daily cohort retention (first-active-day cohorts × day offset);
    // activity is de-duplicated per (user, day) BEFORE the cohort join
    BoardQuery("cohort_retention", (s, dir) =>
      operators.EventSeq.cohortRetention(ev(s, dir), "user_id", "ts"),
      operators.EventSeq.cohortRetentionSql("events", "user_id", "ts")),
    // top 3-step event-type journeys: two leads over ONE user window, a
    // |types|³-bounded agg, TakeOrdered top-k
    BoardQuery("path_trigrams", (s, dir) =>
      operators.EventSeq.pathTrigrams(ev(s, dir), "user_id", "ts",
        "event_type", "event_id", topN = 20),
      operators.EventSeq.pathTrigramsSql("events", "user_id", "ts",
        "event_type", "event_id", topN = 20)),
    // two-proportion experiment readout: md5-parity arms, pooled z — one
    // user-keyed agg + a 2-row rollup
    BoardQuery("ab_conversion", (s, dir) =>
      operators.EventSeq.abConversion(ev(s, dir), "user_id", "event_type",
        convType = "purchase", minCount = 15),
      operators.EventSeq.abConversionSql("events", "user_id", "event_type",
        convType = "purchase", minCount = 15)),
    // recency-weighted per-user engagement (half-life 3 days), DECIMAL-exact
    // decayed sum so partitioning can't reorder the float accumulation
    BoardQuery("decay_agg", (s, dir) =>
      operators.EventSeq.decayAgg(ev(s, dir), "user_id", "ts", "value",
        halfLifeSec = 3 * 86400L),
      operators.EventSeq.decayAggSql("events", "user_id", "ts", "value",
        halfLifeSec = 3 * 86400L)),
    // per-user daily series on a complete day grid, missing days forward-
    // filled — resample+ffill; per-key windows sort calendar spans, not
    // event counts
    BoardQuery("gap_fill", (s, dir) =>
      operators.Temporal.gapFill(ev(s, dir), "user_id", "ts", "value"),
      operators.Temporal.gapFillSql("events", "user_id", "ts", "value")),
    // long→wide pivot with an explicit value set (one agg shuffle; the
    // values-discovery distinct job never runs)
    BoardQuery("pivot_counts", (s, dir) =>
      operators.Reshape.pivotCounts(ev(s, dir), "user_id", "event_type",
        Seq("click", "view", "purchase", "signup", "error")),
      operators.Reshape.pivotCountsSql("events", "user_id", "event_type",
        Seq("click", "view", "purchase", "signup", "error"))),
    // wide→long melt of the pivot — the round trip reproduces the plain
    // groupBy counts, which is exactly what the oracle checks
    BoardQuery("unpivot_wide", (s, dir) =>
      operators.Reshape.meltCounts(
          operators.Reshape.pivotCounts(ev(s, dir), "user_id", "event_type",
            Seq("click", "view", "purchase", "signup", "error")),
          "user_id", Seq("click", "view", "purchase", "signup", "error"),
          "event_type", "n")
        .where(col("n") > 0)
        .orderBy("user_id", "event_type"),
      // the melt(pivot(x)) round trip must land back on the plain counts —
      // an oracle independent of both reshaping operators
      """SELECT user_id, event_type, COUNT(*) AS n FROM events
         GROUP BY user_id, event_type ORDER BY user_id, event_type"""),
    // embedding-table hygiene gate: dim consistency, zero vectors, norm
    // range per label — one scan, label-bounded agg
    BoardQuery("embed_hygiene", (s, dir) =>
      operators.Audit.embedHygiene(Tables.embeddings(s, dir), "embedding", "label"),
      operators.Audit.embedHygieneSql("embeddings", "embedding", "label")),
    // inter-arrival latency profile per type — the distribution the
    // sessionize gap threshold should be picked from
    BoardQuery("gap_quantiles", (s, dir) =>
      operators.Temporal.gapQuantiles(ev(s, dir), "event_type", "user_id",
        "ts", "event_id"),
      operators.Temporal.gapQuantilesSql("events", "event_type", "user_id",
        "ts", "event_id")),
    // Theil-Sen robust trend: median of pairwise day slopes — a spike
    // reads as a spike, not a trend (29% breakdown vs OLS's zero)
    BoardQuery("theil_sen", (s, dir) =>
      operators.Temporal.theilSenTrend(ev(s, dir), "event_type", "ts"),
      operators.Temporal.theilSenTrendSql("events", "event_type", "ts")),
    // ranker-quality audit: precision@k of BM25 against the deterministic
    // conjunctive-match relevance set — measure the ranker before trusting
    // its top-k
    BoardQuery("retrieval_eval", (s, dir) =>
      // 'dup' is the corpus's one rare term — the conjunctive relevance
      // set is small, so the disjunctive ranker's precision is actually
      // discriminative (common-term queries saturate p@k at 1.0)
      operators.Search.precisionAtK(Tables.documents(s, dir), "doc_id", "text",
        Seq("dup", "spark", "window")),
      s"""WITH ${bm25SqlCtes(Seq("dup", "spark", "window"))},
         topk AS (SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM bm),
         rel AS (SELECT doc_id FROM p GROUP BY doc_id HAVING COUNT(*) = 3),
         pr AS (SELECT
             round(CAST(SUM(CASE WHEN rk <= 5 AND rel.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / least(CAST(5 AS DOUBLE), CAST(COUNT(*) AS DOUBLE)), 4) AS p5,
             round(CAST(SUM(CASE WHEN rk <= 10 AND rel.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / least(CAST(10 AS DOUBLE), CAST(COUNT(*) AS DOUBLE)), 4) AS p10,
             round(CAST(SUM(CASE WHEN rk <= 20 AND rel.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / least(CAST(20 AS DOUBLE), CAST(COUNT(*) AS DOUBLE)), 4) AS p20
           FROM topk LEFT JOIN rel ON topk.doc_id = rel.doc_id
           WHERE rk <= 20),
         nr AS (SELECT COUNT(*) AS n_relevant FROM rel)
         SELECT n_relevant, p5, p10, p20 FROM nr CROSS JOIN pr"""),
    // seasonality-adjusted daily anomaly: each grid day z-scored against
    // the key's same-day-of-week mean — silent busy-days alarm, quiet
    // Sundays don't
    BoardQuery("seasonal_residuals", (s, dir) =>
      operators.Temporal.seasonalResiduals(ev(s, dir), "event_type", "ts", zThresh = 1.8),
      operators.Temporal.seasonalResidualsSql("events", "event_type", "ts", zThresh = 1.8)),
    // token-mass concentration (bucketized-Lorenz Gini) per source — the
    // size-skew audit behind chunking/sampling policy; no per-group sort
    BoardQuery("gini_tokens", (s, dir) =>
      operators.Audit.giniConcentration(Tables.documents(s, dir), "source",
        TextAnalysis.tokenCount(col("text"))),
      s"""WITH gc_base AS (SELECT source AS k,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS v
           FROM documents),
         ${operators.Audit.giniConcentrationSql("source")}"""),
    // CUSUM level-shift detection on daily counts — the changepoint a
    // local z-score cannot see; gap endpoints evaluated in closed form
    BoardQuery("changepoint", (s, dir) =>
      operators.Temporal.changepoint(ev(s, dir), "event_type", "ts"),
      operators.Temporal.changepointSql("events", "event_type", "ts")),
    // per-type daily-count OLS trend with empty days as closed-form zeros
    // (the burstiness discipline applied to regression)
    BoardQuery("daily_trend", (s, dir) =>
      operators.Temporal.dailyTrend(ev(s, dir), "event_type", "ts"),
      operators.Temporal.dailyTrendSql("events", "event_type", "ts")),
    // day-of-week seasonality profile; dow computed portably as
    // (epoch_days + 4) mod 7 — engine date-part functions disagree
    BoardQuery("dow_profile", (s, dir) =>
      operators.Temporal.dowProfile(ev(s, dir), "event_type", "ts"),
      operators.Temporal.dowProfileSql("events", "event_type", "ts")),
    // Welch's t on purchase values between md5 arms — the continuous-
    // metric companion to ab_conversion; DECIMAL-exact moments, one scan
    BoardQuery("ab_value_ttest", (s, dir) =>
      operators.EventSeq.abValueTtest(ev(s, dir), "user_id", "event_type",
        "value", convType = "purchase"),
      operators.EventSeq.abValueTtestSql("events", "user_id", "event_type",
        "value", convType = "purchase")),
    // CUPED variance-reduced A/B on per-user event value: pre-period
    // (before Jan 16) covariate X, post-period metric Y, pooled θ —
    // DECIMAL-exact moments, one scan, one output row
    BoardQuery("cuped_adjust", (s, dir) =>
      operators.Cuped.adjust(ev(s, dir), "user_id", "ts", "value",
        splitMs = 1705363200000L),
      operators.Cuped.adjustSql("events", "user_id", "ts", "value",
        splitMs = 1705363200000L)),
    // Poisson-bootstrap CI of the mean event value: B deterministic
    // Poisson(1) weights per row from md5 uniforms — one scan, a B-row
    // aggregate, order statistics over B replica means; never B·N copies
    BoardQuery("bootstrap_ci", (s, dir) =>
      operators.Bootstrap.meanCi(ev(s, dir), "event_id", "value", b = 32),
      operators.Bootstrap.meanCiSql("events", "event_id", "value", b = 32)),
    // sketch-accuracy audit #2 (the hist_quantiles counterpart of
    // minhash_calib): per type, log-histogram quantile estimates vs exact
    // percentiles, relative error — the readout that justifies trusting
    // the bounded-state sketch at full scale
    BoardQuery("quantile_calib", (s, dir) => {
      val evts = ev(s, dir)
      val sk = operators.Sketch.logHistQuantiles(evts, "event_type", "value",
        qs = Seq(0.5, 0.95, 0.99))
      val ex = evts.where(col("value") > 0).groupBy("event_type")
        .agg(expr("percentile(value, array(0.5, 0.95, 0.99))").as("_p"))
        .select(col("event_type"),
          round(col("_p").getItem(0), 4).as("e50"),
          round(col("_p").getItem(1), 4).as("e95"),
          round(col("_p").getItem(2), 4).as("e99"))
      def err(p: Column, e: Column) = round(abs(p - e) / e, 6)
      sk.join(ex, "event_type")
        .select(col("event_type"), col("n"),
          col("p50"), col("e50"), err(col("p50"), col("e50")).as("err50"),
          col("p95"), col("e95"), err(col("p95"), col("e95")).as("err95"),
          col("p99"), col("e99"), err(col("p99"), col("e99")).as("err99"))
        .orderBy("event_type")
    }, {
      val sk = operators.Sketch.logHistQuantilesSql("events", "event_type", "value",
        qs = Seq(0.5, 0.95, 0.99))
      s"""WITH sk AS ($sk),
         ex AS (SELECT event_type,
             round(quantile_cont(value, 0.5), 4) AS e50,
             round(quantile_cont(value, 0.95), 4) AS e95,
             round(quantile_cont(value, 0.99), 4) AS e99
           FROM events WHERE value > 0 GROUP BY event_type)
         SELECT sk.event_type, n,
           p50, e50, round(abs(p50 - e50) / e50, 6) AS err50,
           p95, e95, round(abs(p95 - e95) / e95, 6) AS err95,
           p99, e99, round(abs(p99 - e99) / e99, 6) AS err99
         FROM sk JOIN ex ON sk.event_type = ex.event_type
         ORDER BY sk.event_type"""
    }),
    // sketch-accuracy audit #3: KMV estimate vs exact distinct per source
    BoardQuery("kmv_calib", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val est = operators.Sketch.kmvDistinctTokens(docs, "source", "text", k = 128)
      val ex = docs
        .select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
        .distinct()
        .groupBy("source").agg(count(lit(1)).as("exact_distinct"))
      est.join(ex, "source")
        .select(col("source"), col("exact_distinct"),
          round(col("est_distinct"), 6).as("est_distinct"),
          round(abs(col("est_distinct") - col("exact_distinct")) /
            col("exact_distinct"), 6).as("rel_err"))
        .orderBy("source")
    }, {
      val k = 128
      s"""WITH t AS (SELECT DISTINCT grp, term FROM (
             SELECT source AS grp, unnest(string_split_regex(trim(lower(text)),'\\s+')) AS term
             FROM documents)),
         h AS (SELECT grp, substr(md5(term), 1, 15) AS h FROM t),
         r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn FROM h),
         a AS (SELECT grp, COUNT(*) AS k_actual, ('0x' || MAX(h))::BIGINT AS hkl
             FROM r WHERE rn <= $k GROUP BY grp),
         est AS (SELECT grp AS source, ${operators.Sketch.kmvEstimateSql(k)} AS est_distinct FROM a),
         ex AS (SELECT grp AS source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
             FROM t GROUP BY grp)
         SELECT est.source, exact_distinct,
           round(est_distinct, 6) AS est_distinct,
           round(abs(est_distinct - exact_distinct) / exact_distinct, 6) AS rel_err
         FROM est JOIN ex ON est.source = ex.source
         ORDER BY est.source"""
    }),
    // ANALYZE-style table profile of the event log: exact per-column
    // distinct via distinct-then-count; doubles printf'd so both engines
    // format identically
    BoardQuery("profile_stats", (s, dir) =>
      operators.Profile.stats(ev(s, dir), Seq(
        ("event_id", col("event_id"), false),
        ("user_id", col("user_id"), false),
        ("event_type", col("event_type"), false),
        ("value", col("value"), true),
        ("props", col("props"), false),
        ("ts_ms", unix_millis(col("ts")), false))),
      operators.Profile.statsSql("events", Seq(
        ("event_id", "event_id", false),
        ("user_id", "user_id", false),
        ("event_type", "event_type", false),
        ("value", "value", true),
        ("props", "props", false),
        ("ts_ms", "epoch_ms(ts)", false)))),
    // threshold-free AUC of the same score/outcome pair (tie-aware
    // Mann–Whitney over the distinct-value type relation — no pair
    // stream; ×2-integer numerator, exact under any partitioning)
    BoardQuery("score_auc", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val sc = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
        .select(col("doc_id"), col("entropy"))
      val oc = TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep"))
      operators.Audit.scoreAuc(sc.join(oc, "doc_id"), "entropy", "keep")
    },
      operators.Audit.scoreAucSql(
        s"""SELECT e.entropy, g.keep
            FROM (${TextAnalysis.tokenEntropySql("documents", "doc_id", "text")}) e
            JOIN (${TextAnalysis.gopherRulesSql("documents", "doc_id", "text")}) g
              ON e.doc_id = g.doc_id""",
        "entropy", "keep")),
    // lift/gain chart: does token entropy RANK gopher-keepworthiness?
    // percentile-broadcast deciles, bounded band relation
    BoardQuery("lift_gain", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val sc = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
        .select(col("doc_id"), col("entropy"))
      val oc = TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep"))
      operators.Audit.liftGain(sc.join(oc, "doc_id"), "entropy", "keep")
    },
      operators.Audit.liftGainSql(
        s"""SELECT e.entropy, g.keep
            FROM (${TextAnalysis.tokenEntropySql("documents", "doc_id", "text")}) e
            JOIN (${TextAnalysis.gopherRulesSql("documents", "doc_id", "text")}) g
              ON e.doc_id = g.doc_id""",
        "entropy", "keep")),
    // 1-D Wasserstein drift of doc length between md5-halves: the
    // in-units EMD companion of psi_drift; B-bucket bounded
    BoardQuery("wasserstein_drift", (s, dir) =>
      operators.Drift.wassersteinDrift(Tables.documents(s, dir), "doc_id",
        "n_chars"),
      operators.Drift.wassersteinDriftSql("documents", "doc_id", "n_chars")),
    // corpus entropy rate H(w2|w1) + perplexity: the model-free ceiling
    // the LM-scoring family converges to; one bigram type table, terms
    // rounded-then-DECIMAL
    BoardQuery("entropy_rate", (s, dir) =>
      TextAnalysis.entropyRate(Tables.documents(s, dir), "text"),
      operators.TextAnalysis.entropyRateSql("documents", "text")),
    // shuffle-quality audit: same-source run length in globalShuffle
    // order vs the iid expectation 1/(1-sum p^2); adjacency via a
    // position equi-join — no corpus-wide single-partition window
    BoardQuery("shuffle_runs", (s, dir) =>
      operators.CorpusShuffle.shuffleRunAudit(Tables.documents(s, dir),
        "doc_id", "source"),
      operators.CorpusShuffle.shuffleRunAuditSql("documents", "doc_id",
        "source")),
    // one-row corpus datasheet (Gebru et al.): volume, length, exact-dup
    // rate, dominant language share, gate pass rate — two corpus scans +
    // bounded broadcast rollups
    BoardQuery("corpus_datasheet", (s, dir) =>
      operators.Datasheet.summarize(Tables.documents(s, dir), "doc_id",
        "text", "lang"),
      operators.Datasheet.summarizeSql("documents", "doc_id", "text", "lang",
        s"SELECT doc_id, keep FROM (${operators.TextAnalysis.gopherRulesSql("documents", "doc_id", "text")})")),
    // 5–95 trimmed-mean A/B on purchase values (pooled thresholds so
    // trimming can't induce an arm difference) — the robust metric
    BoardQuery("trimmed_mean_ab", (s, dir) =>
      operators.EventSeq.trimmedMeanAb(ev(s, dir), "user_id", "event_type",
        "value", convType = "purchase"),
      operators.EventSeq.trimmedMeanAbSql("events", "user_id", "event_type",
        "value", convType = "purchase")),
    // Fleiss' kappa across a 3-gate quality panel (gopher, entropy,
    // length) — does the ensemble agree beyond chance as a panel?
    BoardQuery("fleiss_kappa", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val g1 = TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("v"))
      val g2 = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
        .select(col("doc_id"), (col("entropy") >= 3.1).as("v"))
      val g3 = docs.select(col("doc_id"),
        (col("n_chars") >= 150 && col("n_chars") <= 450).as("v"))
      operators.Audit.fleissKappa(g1.unionByName(g2).unionByName(g3),
        "doc_id", "v")
    },
      operators.Audit.fleissKappaSql(
        s"""SELECT doc_id, keep AS v FROM (
              ${TextAnalysis.gopherRulesSql("documents", "doc_id", "text")})
            UNION ALL SELECT doc_id, entropy >= 3.1 AS v FROM (
              ${TextAnalysis.tokenEntropySql("documents", "doc_id", "text")})
            UNION ALL SELECT doc_id, n_chars >= 150 AND n_chars <= 450 AS v
            FROM documents""",
        "doc_id", "v")),
    // STL-lite decomposition: c = trend (centered 7d MA) + dow seasonal
    // + residual per (type, day) — the table behind the anomaly gate
    BoardQuery("stl_decompose", (s, dir) =>
      operators.Temporal.stlDecompose(ev(s, dir), "event_type", "ts"),
      operators.Temporal.stlDecomposeSql("events", "event_type", "ts")),
    // per-type daily autocorrelation: the ACF finds whatever cycle is
    // there (dow_profile assumes the week); calendar-bounded relations
    BoardQuery("autocorr_daily", (s, dir) =>
      operators.Temporal.autocorrDaily(ev(s, dir), "event_type", "ts"),
      operators.Temporal.autocorrDailySql("events", "event_type", "ts")),
    // Mann–Kendall monotone-trend significance per type (tie-corrected,
    // continuity-corrected z) — the significance companion of theil_sen;
    // integer-derived, D²-bounded pair join on the day grid
    BoardQuery("mann_kendall", (s, dir) =>
      operators.Temporal.mannKendall(ev(s, dir), "event_type", "ts"),
      operators.Temporal.mannKendallSql("events", "event_type", "ts")),
    // lead/lag daily cross-correlation of click vs purchase: does the
    // click series lead purchases by k days? bounded grid × lags
    BoardQuery("daily_xcorr", (s, dir) =>
      operators.Temporal.dailyXcorr(ev(s, dir), "event_type", "ts",
        "click", "purchase"),
      operators.Temporal.dailyXcorrSql("events", "event_type", "ts",
        "click", "purchase")),
    // Benford first-digit audit of order totals: observed vs log10(1+1/d)
    // with chi-square terms — float-free digit via DECIMAL cents → BIGINT
    BoardQuery("benford_audit", (s, dir) =>
      operators.Audit.benford(Tables.orders(s, dir), "o_totalprice"),
      operators.Audit.benfordSql("orders", "o_totalprice")),
    // EWMA last-day anomaly gate: per-type smoothed daily level via a
    // bounded array fold (list_reduce convention), last-day residual +
    // 3·sqrt(level+1) Poisson-ish gate — the smoothed rateAnomaly
    BoardQuery("ewma_daily", (s, dir) =>
      operators.Temporal.ewmaDaily(ev(s, dir), "event_type", "ts"),
      operators.Temporal.ewmaDailySql("events", "event_type", "ts")),
    // expanding-window time-based CV folds: fold i trains on days ≤ b_i,
    // validates on (b_i, b_i+1] — event-mass-balanced boundaries, all
    // integer-derived; everything past the day agg runs on the bounded
    // day relation
    BoardQuery("time_folds", (s, dir) =>
      operators.Temporal.timeFolds(ev(s, dir), "ts", k = 4),
      operators.Temporal.timeFoldsSql("events", "ts", k = 4)),
    // incremental aggregate maintenance: merge(agg(A), agg(B)) over md5
    // event halves must equal agg(A ∪ B) — counts add, DECIMAL sums add
    // exactly, min/max via least/greatest; the oracle is the DIRECT
    // aggregate, independent of the merge path
    BoardQuery("incr_agg_merge", (s, dir) => {
      val evts = ev(s, dir)
      val half = conv(substring(md5(concat(lit("incr:"),
        col("event_id").cast("string"))), 1, 2), 16, 10).cast("int") % 2
      operators.Incremental.present(
        operators.Incremental.merge(
          operators.Incremental.aggState(evts.where(half === 0), "event_type", "value"),
          operators.Incremental.aggState(evts.where(half === 1), "event_type", "value"),
          "event_type"),
        "event_type")
    },
      """SELECT event_type, COUNT(*) AS n,
         round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total,
         round(MIN(value), 6) AS vmin, round(MAX(value), 6) AS vmax
         FROM events GROUP BY event_type ORDER BY event_type"""),
    // gate-agreement governance: confusion matrix + Cohen's kappa between
    // the Gopher rule gate and the token-entropy gate (threshold at the
    // corpus median) — one id join of two boolean relations, one row out
    BoardQuery("filter_agreement", (s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Audit.filterAgreement(
        TextAnalysis.gopherRules(docs, "doc_id", "text")
          .select(col("doc_id"), col("keep")),
        TextAnalysis.tokenEntropy(docs, "doc_id", "text")
          .select(col("doc_id"), (col("entropy") >= 3.1).as("keep_e")),
        "doc_id", "keep", "keep_e")
    },
      s"""WITH ga AS (SELECT doc_id, keep AS a FROM (
             ${TextAnalysis.gopherRulesSql("documents", "doc_id", "text")})),
         gb AS (SELECT doc_id, entropy >= 3.1 AS b FROM (
             ${TextAnalysis.tokenEntropySql("documents", "doc_id", "text")})),
         ${operators.Audit.filterAgreementSql("doc_id")}"""),
    // canonical text normalization (NFC + control/zero-width strip +
    // whitespace collapse) over deterministically-dirtied fixture text;
    // both engines build the same dirty input, so the normalizer itself is
    // what's compared
    BoardQuery("text_normalize", (s, dir) => {
      val dirty = concat(lit("  "), col("text"),
        lit("\t\t\u200Bz\r\ny\u0001  ")) // tabs, ZWSP, CRLF, a control byte, blanks
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.NormalizeTextExpr.normalize(dirty).as("_tn"))
        .select(col("doc_id"),
          substring(md5(col("_tn")), 1, 16).as("norm_fp"),
          length(col("_tn")).cast("long").as("n_chars_norm"))
        .orderBy("doc_id")
    }, {
      val dirty = "'  ' || text || chr(9) || chr(9) || chr(8203) || 'z' || " +
        "chr(13) || chr(10) || 'y' || chr(1) || '  '"
      s"""SELECT doc_id,
         md5(${graft.functions.NormalizeTextExpr.sql(dirty)})[:16] AS norm_fp,
         CAST(length(${graft.functions.NormalizeTextExpr.sql(dirty)}) AS BIGINT) AS n_chars_norm
         FROM documents ORDER BY doc_id"""
    }),
    // per-source heavy hitters: the TopK.perKey salted two-phase again —
    // the hot source with most tokens is exactly the skewed key
    BoardQuery("per_source_heavy", (s, dir) =>
      operators.TopK.perKey(
          operators.Dedup.parallelize(Tables.documents(s, dir))
            .select(col("source"), explode(operators.TextAnalysis.tokens(lower(col("text")))).as("term"))
            .groupBy("source", "term").agg(count(lit(1)).as("n")),
          Seq("source"), Seq(col("n").desc, col("term").asc),
          saltFrom = col("term"), n = 10)
        .select(col("source"), col("rank"), col("term"), col("n"))
        .orderBy("source", "rank"),
      """SELECT source, rank, term, n FROM (
           SELECT source, term, n,
             CAST(row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS BIGINT) AS rank
           FROM (SELECT source, term, COUNT(*) AS n
                 FROM (SELECT source,
                         unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
                       FROM documents)
                 GROUP BY source, term))
         WHERE rank <= 10 ORDER BY source, rank"""),
    // snapshot diff: B is a deterministic mutation of the fixture corpus
    // (drops %10, edits %7, adds %13 under new ids) built identically in
    // both engines; the diff itself is fingerprint-reduced + one full-outer
    BoardQuery("corpus_diff", (s, dir) => {
      val a = Tables.documents(s, dir)
      val b = a.where(col("doc_id") % 10 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(a.where(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      operators.CorpusDiff.diff(a, b, "doc_id", "text").orderBy("doc_id")
    },
      operators.CorpusDiff.diffSql(
        "SELECT doc_id, text FROM documents",
        """SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 10 <> 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0""",
        "doc_id", "text")),
    // windowed co-occurrence relation (GloVe X_ij / PMI input): bounded
    // per-position probe explode + equi-join, never a range self-join
    BoardQuery("cooccur_counts", (s, dir) =>
      operators.TextAnalysis.cooccurCounts(Tables.documents(s, dir), "doc_id", "text", window = 3)
        .orderBy("w1", "w2"),
      (operators.TextAnalysis.cooccurCountsSql("documents", "doc_id", "text", 3) +
        " ORDER BY 1, 2")),
    // PMI collocations over the same relation; marginals fold into the
    // pair-type table, nothing re-shuffles the corpus-sized stream
    BoardQuery("pmi_top", (s, dir) =>
      operators.TextAnalysis.pmiTop(Tables.documents(s, dir), "doc_id", "text",
        window = 3, minCount = 5, topN = 30),
      operators.TextAnalysis.pmiTopSql("documents", "doc_id", "text", 3, 5, 30)),
    // one Aho-Corasick pass counts the whole dictionary per doc (blocklist
    // tagging) — K contains() columns would rescan the corpus K times
    BoardQuery("dict_tag", (s, dir) =>
      operators.DictTag.tagCounts(Tables.documents(s, dir), "doc_id", "text", dictTerms)
        .orderBy("doc_id", "term"),
      operators.DictTag.tagCountsSql("documents", "doc_id", "text", dictTerms)),
    // RefinedWeb-style domain cap: ≤25 best docs per source by size; the
    // hot-source skew rides the salted two-phase TopK, not one window group
    BoardQuery("source_cap", (s, dir) =>
      operators.SourceCap.capPerSource(
          Tables.documents(s, dir), "doc_id", "source", col("n_chars"), n = 25)
        .orderBy("source", "rank"),
      operators.SourceCap.capPerSourceSql("documents", "doc_id", "source", "n_chars", 25)),
    // kNN label propagation: a FIXED 100-vector query batch (a labeling
    // batch is workload-sized, not corpus-sized) against the rest,
    // majority vote of each query's 5 nearest labeled neighbors
    BoardQuery("knn_label", (s, dir) =>
      operators.Similarity.knnLabel(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label",
          isQuery = col("vec_id") < 100, k = 5)
        .orderBy("vec_id"),
      operators.Similarity.knnLabelSql(
        "embeddings", "vec_id", "embedding", "label", "vec_id < 100", 5)),
    // Local Outlier Factor over the candidate kNN graph: the density-based
    // OOD audit of the embedding corpus; exact LOF is all-pairs, the
    // scale-honest form scores against the bucket cohort. The SERVED path
    // (round 9) is the auto-width banding — width = autoBandWidth(n) over
    // seed-offset hyperplane bands, so candidates/row stays at the budget as
    // n grows where the fixed 16-bit/4-per-band form was ∝ n (measured
    // 9–13× at 10×, vs 1.3–2.0× auto). The fixed-width operators stay
    // spec-pinned (DensitySpec); the oracles bake the width the 500-row
    // verify corpus resolves to (the static-mirror contract).
    BoardQuery("lof_outliers", (s, dir) =>
      operators.Similarity.lofOutliersAuto(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 5),
      // the density board names serve the AUTO-WIDTH path (round 9); width 5 =
      // autoBandWidth(500) for the 500-row verify embeddings slice — static
      // SQL bakes it, a verify row-count drift breaks rows+hash loudly
      operators.Similarity.lofOutliersAutoSql("embeddings", "vec_id", "embedding",
        k = 5, nBands = 4, rowsPerBand = 5, dim = 64)),
    // the density family's measured-recall AUDIT GATE, oracle-exact: the
    // fraction of true kNN/eps neighbors inside the exact cohorts the
    // board's SERVED (auto-width) banding builds (panel ids exist at every
    // fixture SF)
    BoardQuery("cohort_coverage", (s, dir) =>
      operators.Similarity.cohortCoverageAuto(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        queryIds = CoveragePanel, k = 5, eps = 0.68)
        .orderBy("metric"),
      operators.Similarity.cohortCoverageAutoSql("embeddings", "vec_id", "embedding",
        queryIds = CoveragePanel, k = 5, eps = 0.68,
        nBands = 4, rowsPerBand = 5, dim = 64)),
    // DBSCAN core/border/noise over the same candidate machinery: density
    // clustering with no preset k, leaving junk unclustered; clusters =
    // bounded-round CC over core-core eps edges (auto-width cohorts)
    BoardQuery("dbscan_clusters", (s, dir) =>
      operators.Similarity.dbscanClustersAuto(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        eps = 0.68, minPts = 3),
      operators.Similarity.dbscanClustersAutoSql("embeddings", "vec_id", "embedding",
        eps = 0.68, minPts = 3, nBands = 4, rowsPerBand = 5, dim = 64)),
    // kNN in-degree hubness audit (Radovanović et al.): hub vectors poison
    // every kNN-derived signal; one hash agg over the shared candidate kNN
    // (auto-width cohorts)
    BoardQuery("hubness", (s, dir) =>
      operators.Similarity.hubnessAuto(
        Tables.embeddings(s, dir), "vec_id", "embedding", k = 5),
      operators.Similarity.hubnessAutoSql("embeddings", "vec_id", "embedding",
        k = 5, nBands = 4, rowsPerBand = 5, dim = 64)),
    // exact d×d covariance of the embedding corpus: upper-triangle products
    // emitted inside the scan, one (i,j)-keyed agg bounded at d(d+1)/2 rows
    // per partition after map-side combine
    BoardQuery("cov_matrix", (s, dir) =>
      operators.Pca.covMatrix(Tables.embeddings(s, dir), "embedding", dim = 64),
      operators.Pca.covMatrixSql("embeddings", "embedding", 64)),
    // PCA projection onto the dominant eigenvector (driver-side power
    // iteration over the bounded d×d covariance; the oracle replays the
    // identical fixed-count iteration as a DuckDB recursive CTE — the
    // contraction damps per-step float ulps far below the round(4))
    BoardQuery("pca_project", (s, dir) =>
      operators.Pca.pcaProject(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64),
      operators.Pca.pcaProjectSql("embeddings", "vec_id", "embedding", 64)),
    // trailing 7-day per-user rolling engagement (range-frame window)
    BoardQuery("rolling_7d", (s, dir) =>
      operators.EventSeq.rollingWindow(ev(s, dir), "user_id", "ts", "value",
        "event_id", windowSec = 7 * 86400L),
      operators.EventSeq.rollingWindowSql("events", "user_id", "ts", "value",
        "event_id", windowSec = 7 * 86400L)),
    // hard-negative mining for contrastive training: per-anchor top-3
    // different-label cosine neighbors; fixed anchor batch broadcast, one
    // reference scan, salted per-anchor ranking
    BoardQuery("hard_negatives", (s, dir) =>
      operators.Similarity.hardNegatives(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label",
          isAnchor = col("vec_id") < 100, k = 3)
        .orderBy("anchor_id", "rank"),
      operators.Similarity.hardNegativesSql(
        "embeddings", "vec_id", "embedding", "label", "vec_id < 100", 3)),
    BoardQuery("stratified_sample", (s, dir) =>
      operators.Sampling.stratifiedSample(
          Tables.documents(s, dir), "doc_id", "lang", 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
      // md5-ranked exact per-stratum quota — mirrors Sampling.stratifiedSample
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5('sample:'||CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
           FROM documents)
         WHERE rn <= CEIL(n * 0.1) ORDER BY doc_id"""),
    BoardQuery("pack_shards", (s, dir) =>
      operators.Sharding.packShards(
          Tables.documents(s, dir), "doc_id",
          operators.TextAnalysis.tokenCount(col("text")), budget = 10000)
        .orderBy("doc_id"),
      // the NAIVE single-window prefix-sum form: Sharding.packShards'
      // two-level distributed decomposition must be invisible in the output
      """SELECT doc_id,
         CAST(COALESCE(SUM(tok) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 10000 AS BIGINT) AS shard
         FROM (SELECT doc_id,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok
               FROM documents)
         ORDER BY doc_id"""),
    // per-shard integrity manifest over the pack_shards assignment: counts,
    // token totals, id range, md5 fingerprint of the ordered id list
    BoardQuery("shard_manifest", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val assign = operators.Sharding.packShards(
        docs, "doc_id", operators.TextAnalysis.tokenCount(col("text")), budget = 10000)
      operators.Sharding.shardManifest(
          assign.join(
            docs.select(col("doc_id"),
              operators.TextAnalysis.tokenCount(col("text")).as("tok")), "doc_id"),
          "doc_id", col("tok"))
        .orderBy("shard")
    },
      operators.Sharding.shardManifestSql(
        """SELECT doc_id AS id, tok,
           CAST(COALESCE(SUM(tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 10000 AS BIGINT) AS shard
           FROM (SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok
                 FROM documents)""")),
    // per-shard CONTENT digest over the same pack_shards assignment: the
    // dataset-card provenance fingerprint — two builds match iff every
    // member's bytes match
    BoardQuery("shard_digest", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val assign = operators.Sharding.packShards(
        docs, "doc_id", operators.TextAnalysis.tokenCount(col("text")), budget = 10000)
      operators.Sharding.shardContentDigest(assign, docs, "doc_id", "text")
        .orderBy("shard")
    },
      operators.Sharding.shardContentDigestSql(
        """SELECT doc_id AS id,
           CAST(COALESCE(SUM(tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 10000 AS BIGINT) AS shard
           FROM (SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok
                 FROM documents)""",
        "documents", "doc_id", "text")),
    // Efraimidis–Spirakis weighted sampling without replacement: exactly 50
    // docs, inclusion odds ∝ n_chars, pure function of ids — one scan +
    // TakeOrdered, no global sort
    BoardQuery("weighted_sample", (s, dir) =>
      operators.Sampling.weightedSample(
          Tables.documents(s, dir), "doc_id", col("n_chars"), k = 50)
        .select("doc_id", "n_chars")
        .orderBy("doc_id"),
      // ES key ln(u)/w desc, u = md5-unit of the id over 16^15 = 2^60
      // (exact double literal), round(9) + id tie-break masking libm ln ulps
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars,
             round(ln(CAST('0x'||substr(md5('ws:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
                      / 1152921504606846976.0) / CAST(n_chars AS DOUBLE), 9) AS k
           FROM documents WHERE n_chars > 0
           ORDER BY k DESC, doc_id LIMIT 50)
         ORDER BY doc_id"""),
    // prefix-filtered all-pairs tf-idf cosine in 5-gram shingle space
    // (exact APSS): every doc pair with cosine ≥ 0.8 — candidates from the
    // rare-first prefix join, never all-pairs; the oracle is the brute form
    BoardQuery("apss_pairs", (s, dir) =>
      operators.Apss.tfidfPairs(Tables.documents(s, dir), "doc_id", "text",
          threshold = 0.8)
        .orderBy("id_a", "id_b"),
      operators.Apss.tfidfPairsSql("documents", "doc_id", "text", threshold = 0.8)),
    BoardQuery("tfidf_top_terms", (s, dir) =>
      operators.TextAnalysis.tfIdf(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("tfidf").desc, col("doc_id"), col("term"))
        .limit(20),
      // tf * ln(N/df) over whitespace tokens, round(4) masking libm ulps
      """WITH tf AS (
           SELECT doc_id, term, COUNT(*) AS tf FROM (
             SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
             FROM documents)
           GROUP BY doc_id, term),
         dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         total AS (SELECT COUNT(*) AS n_docs FROM documents)
         SELECT tf.doc_id, tf.term, tf.tf,
           round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
         FROM tf JOIN dfreq USING (term) CROSS JOIN total
         ORDER BY tfidf DESC, tf.doc_id, tf.term LIMIT 20"""),
    // train/eval n-gram decontamination across the deterministic split: one
    // row per (train doc, eval doc) pair sharing a distinct 5-gram — the
    // near-dups that straddle the split boundary
    BoardQuery("decontam_ngram", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val split = operators.Sampling.splitOf(col("doc_id"))
      operators.Decontam.ngramOverlap(
          docs.where(split === "train"), docs.where(split === "test"),
          "doc_id", "text", n = 5)
        .orderBy("train_id", "eval_id")
    },
      decontamNgramSql),
    // cross-source duplication audit: distinct shared 8-grams per source
    // pair — bounded output (≤ C(sources,2) rows), gram-partitioned join
    BoardQuery("source_overlap", (s, dir) =>
      operators.Audit.sourceOverlap(Tables.documents(s, dir), "source", "text", k = 8)
        .orderBy("source_a", "source_b"),
      operators.Audit.sourceOverlapSql("documents", "source", "text", k = 8)),
    // bloom-accelerated exact decontamination: eval grams compressed into a
    // broadcast Bloom filter gating the train-side scan; result is exactly
    // decontam_ngram's (FPs die at the join), so the oracle SQL is shared
    BoardQuery("decontam_bloom", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val split = operators.Sampling.splitOf(col("doc_id"))
      operators.Decontam.ngramOverlapBloom(
          docs.where(split === "train"), docs.where(split === "test"),
          "doc_id", "text", n = 5)
        .orderBy("train_id", "eval_id")
    },
      // decontam_bloom computes the IDENTICAL relation (the bloom gate is a
      // pure plan optimization — no false negatives, FPs die at the join), so
      // its oracle IS decontam_ngram's
      decontamNgramSql),
    // near-dup decontamination: paraphrase-level leakage the exact n-gram
    // check misses — LSH candidates across the split, verified by Jaccard
    BoardQuery("neardup_incremental", (s, dir) => {
      // the production crawl-batch question — "is this arrival a near-dup
      // of anything we already hold?" — served from the WRITTEN band index:
      // arrivals' bands (batch-sized) join the bucketed corpus band table
      // with zero exchange on the corpus side (the band_key shuffle was
      // paid once at index write; BandIndexSpec pins the plan), then exact
      // Jaccard verifies candidates only. Same arithmetic as the batch
      // cross-pairs rebuild — the oracle is the full bands×bands chain
      // restricted to corpus×arrival
      val docs = Tables.documents(s, dir)
      operators.Dedup.probeNearDups(s, bandIndexTable(s, dir),
        docs.where(col("doc_id") % 4 =!= 0),
        docs.where(col("doc_id") % 4 === 0),
        "doc_id", "text", k = 8, rowsPerBand = 2, threshold = 0.2)
        .orderBy("corpus_id", "new_id")
    },
      // the incremental probe's oracle IS the batch rebuild's corpus×batch
      // cross-pairs (the served-index layout changes where candidates come
      // from, never their values): the nearDupCtes chain with candidates
      // restricted to (doc_id % 4 != 0) × (doc_id % 4 = 0)
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text),'\s+') AS ws FROM documents),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws)>=3
                 THEN list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])
                 ELSE [array_to_string(ws,' ')] END) AS sh FROM w),
         sig AS (SELECT doc_id, sh,
                 [list_min(list_transform(sh, s -> md5('0:'||s))),
                  list_min(list_transform(sh, s -> md5('1:'||s))),
                  list_min(list_transform(sh, s -> md5('2:'||s))),
                  list_min(list_transform(sh, s -> md5('3:'||s))),
                  list_min(list_transform(sh, s -> md5('4:'||s))),
                  list_min(list_transform(sh, s -> md5('5:'||s))),
                  list_min(list_transform(sh, s -> md5('6:'||s))),
                  list_min(list_transform(sh, s -> md5('7:'||s)))] AS sigs FROM sh),
         bands AS (SELECT doc_id, bi AS band_idx, md5(sigs[2*bi+1]||'|'||sigs[2*bi+2]) AS band_hash
                   FROM sig CROSS JOIN unnest([0,1,2,3]) AS t(bi)),
         cand AS (SELECT DISTINCT a.doc_id AS corpus_id, c.doc_id AS new_id
                  FROM bands a JOIN bands c ON a.band_idx=c.band_idx AND a.band_hash=c.band_hash
                  WHERE a.doc_id % 4 <> 0 AND c.doc_id % 4 = 0),
         j AS (SELECT corpus_id, new_id,
                 round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
               FROM cand JOIN sh x ON x.doc_id = corpus_id JOIN sh y ON y.doc_id = new_id)
         SELECT corpus_id, new_id, jaccard FROM j WHERE jaccard >= 0.2
         ORDER BY corpus_id, new_id"""),
    BoardQuery("decontam_neardup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val split = operators.Sampling.splitOf(col("doc_id"))
      operators.Decontam.nearDupAcross(
          docs.where(split === "train"), docs.where(split === "test"),
          "doc_id", "text", k = 8, rowsPerBand = 2, threshold = 0.2)
        .orderBy("train_id", "eval_id")
    },
      // mirror of Decontam.nearDupAcross(k=8, rowsPerBand=2, threshold=0.2)
      // across Sampling.splitOf: the nearDupCtes chain with the split byte
      // carried through, candidates restricted to train×test
      """WITH s AS (SELECT doc_id, text,
           CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,2) AS INT) AS b
           FROM documents),
         w AS (SELECT doc_id, b, string_split_regex(trim(text),'\s+') AS ws FROM s),
         sh AS (SELECT doc_id, b, list_distinct(CASE WHEN len(ws)>=3
                 THEN list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])
                 ELSE [array_to_string(ws,' ')] END) AS sh FROM w),
         sig AS (SELECT doc_id, b, sh,
                 [list_min(list_transform(sh, s -> md5('0:'||s))),
                  list_min(list_transform(sh, s -> md5('1:'||s))),
                  list_min(list_transform(sh, s -> md5('2:'||s))),
                  list_min(list_transform(sh, s -> md5('3:'||s))),
                  list_min(list_transform(sh, s -> md5('4:'||s))),
                  list_min(list_transform(sh, s -> md5('5:'||s))),
                  list_min(list_transform(sh, s -> md5('6:'||s))),
                  list_min(list_transform(sh, s -> md5('7:'||s)))] AS sigs FROM sh),
         bands AS (SELECT doc_id, b, bi AS band_idx, md5(sigs[2*bi+1]||'|'||sigs[2*bi+2]) AS band_hash
                   FROM sig CROSS JOIN unnest([0,1,2,3]) AS t(bi)),
         cand AS (SELECT DISTINCT a.doc_id AS train_id, c.doc_id AS eval_id
                  FROM bands a JOIN bands c ON a.band_idx=c.band_idx AND a.band_hash=c.band_hash
                  WHERE a.b < 230 AND c.b >= 243),
         j AS (SELECT train_id, eval_id,
                 round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
               FROM cand JOIN sh x ON x.doc_id = train_id JOIN sh y ON y.doc_id = eval_id)
         SELECT train_id, eval_id, jaccard FROM j WHERE jaccard >= 0.2
         ORDER BY train_id, eval_id"""),
    // decontamination APPLIED: the clean training set after removing every
    // doc flagged by either signal (exact 5-gram overlap OR LSH near-dup) —
    // detect → anti-join, the step a pipeline actually ships
    BoardQuery("decontam_apply", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val split = operators.Sampling.splitOf(col("doc_id"))
      val train = docs.where(split === "train")
      val eval_ = docs.where(split === "test")
      // the bloom-gated ngram path: identical relation (spec-pinned), and
      // the apply step is exactly where a 100 TB pipeline would use it
      val bad = operators.Decontam.ngramOverlapBloom(train, eval_, "doc_id", "text", n = 5)
        .select(col("train_id").as("doc_id"))
        .union(operators.Decontam
          .nearDupAcross(train, eval_, "doc_id", "text",
            k = 8, rowsPerBand = 2, threshold = 0.2)
          .select(col("train_id").as("doc_id")))
      train.join(bad, Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
      // union of both decontamination signals' CTE chains (5-gram exact +
      // banded near-dup), then the anti-join: train docs NOT flagged
      """WITH s AS (SELECT doc_id, text,
           CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,2) AS INT) AS b
           FROM documents),
         w AS (SELECT doc_id, b, string_split_regex(trim(text),'\s+') AS ws FROM s),
         g5 AS (SELECT doc_id, b, list_distinct(CASE WHEN len(ws)>=5
               THEN list_transform(range(1, len(ws)-3),
                 i -> md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]))
               ELSE [md5(array_to_string(ws,' '))] END) AS gr FROM w),
         t5 AS (SELECT doc_id AS train_id, unnest(gr) AS g FROM g5 WHERE b < 230),
         e5 AS (SELECT doc_id AS eval_id, unnest(gr) AS g FROM g5 WHERE b >= 243),
         bad5 AS (SELECT DISTINCT train_id FROM t5 JOIN e5 USING (g)),
         sh AS (SELECT doc_id, b, list_distinct(CASE WHEN len(ws)>=3
                 THEN list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])
                 ELSE [array_to_string(ws,' ')] END) AS sh FROM w),
         sig AS (SELECT doc_id, b, sh,
                 [list_min(list_transform(sh, s -> md5('0:'||s))),
                  list_min(list_transform(sh, s -> md5('1:'||s))),
                  list_min(list_transform(sh, s -> md5('2:'||s))),
                  list_min(list_transform(sh, s -> md5('3:'||s))),
                  list_min(list_transform(sh, s -> md5('4:'||s))),
                  list_min(list_transform(sh, s -> md5('5:'||s))),
                  list_min(list_transform(sh, s -> md5('6:'||s))),
                  list_min(list_transform(sh, s -> md5('7:'||s)))] AS sigs FROM sh),
         bands AS (SELECT doc_id, b, bi AS band_idx, md5(sigs[2*bi+1]||'|'||sigs[2*bi+2]) AS band_hash
                   FROM sig CROSS JOIN unnest([0,1,2,3]) AS t(bi)),
         cand AS (SELECT DISTINCT a.doc_id AS train_id, c.doc_id AS eval_id
                  FROM bands a JOIN bands c ON a.band_idx=c.band_idx AND a.band_hash=c.band_hash
                  WHERE a.b < 230 AND c.b >= 243),
         badnd AS (SELECT DISTINCT train_id FROM (
               SELECT train_id,
                 round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
               FROM cand JOIN sh x ON x.doc_id = train_id JOIN sh y ON y.doc_id = eval_id)
             WHERE jaccard >= 0.2),
         bad AS (SELECT train_id FROM bad5 UNION SELECT train_id FROM badnd)
         SELECT doc_id FROM s
         WHERE b < 230 AND doc_id NOT IN (SELECT train_id FROM bad)
         ORDER BY doc_id"""),
    // SEMANTIC decontamination: train-split embeddings cosine-close to any
    // eval-split embedding — the leakage tier lexical n-grams cannot see
    // (translated/reworded benchmark items). Auto-width banded candidates
    // (width 5 = autoBandWidth(~450) baked in the oracle), exact cosine
    // verify; threshold 0.30 sits in the isotropic fixture's upper tail so
    // the verify genuinely filters
    BoardQuery("decontam_semantic", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val split = operators.Sampling.splitOf(col("vec_id"))
      operators.Decontam.embedNearDupAcross(
          emb.where(split === "train"), emb.where(split === "test"),
          "vec_id", "embedding", threshold = 0.30)
        .orderBy("train_id", "eval_id")
    },
      operators.Decontam.embedNearDupAcrossSql("embeddings", "vec_id", "embedding",
        trainWhere = "CAST('0x'||substr(md5('split:'||CAST(vec_id AS VARCHAR)),1,2) AS INT) < 230",
        evalWhere = "CAST('0x'||substr(md5('split:'||CAST(vec_id AS VARCHAR)),1,2) AS INT) >= 243",
        threshold = 0.30, nBands = 4, rowsPerBand = 5, dim = 64)),
    // decontamination REPORT: one row per flagged train doc with both
    // signals' evidence (distinct eval hits via 5-grams, near-dup hits +
    // max jaccard) and a combined verdict — the reviewable artifact
    // behind decontam_apply's anti-join
    BoardQuery("decontam_report", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val split = operators.Sampling.splitOf(col("doc_id"))
      val train = docs.where(split === "train")
      val eval_ = docs.where(split === "test")
      val ng = operators.Decontam.ngramOverlap(train, eval_, "doc_id", "text", n = 5)
        .groupBy("train_id")
        .agg(count(lit(1)).as("n_ngram_evals"))
      val nd = operators.Decontam.nearDupAcross(train, eval_, "doc_id", "text",
          k = 8, rowsPerBand = 2, threshold = 0.2)
        .groupBy("train_id")
        .agg(count(lit(1)).as("n_near_evals"), max(col("jaccard")).as("max_jaccard"))
      ng.join(nd, Seq("train_id"), "full_outer")
        .select(col("train_id"),
          coalesce(col("n_ngram_evals"), lit(0L)).as("n_ngram_evals"),
          coalesce(col("n_near_evals"), lit(0L)).as("n_near_evals"),
          col("max_jaccard"),
          when(col("n_ngram_evals").isNotNull && col("n_near_evals").isNotNull,
            lit("both"))
            .when(col("n_ngram_evals").isNotNull, lit("ngram"))
            .otherwise(lit("neardup")).as("verdict"))
        .orderBy("train_id")
    },
      // same dual CTE chain as decontam_apply, but emitting the per-doc
      // evidence instead of the anti-join
      """WITH s AS (SELECT doc_id, text,
           CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,2) AS INT) AS b
           FROM documents),
         w AS (SELECT doc_id, b, string_split_regex(trim(text),'\s+') AS ws FROM s),
         g5 AS (SELECT doc_id, b, list_distinct(CASE WHEN len(ws)>=5
               THEN list_transform(range(1, len(ws)-3),
                 i -> md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]))
               ELSE [md5(array_to_string(ws,' '))] END) AS gr FROM w),
         t5 AS (SELECT doc_id AS train_id, unnest(gr) AS g FROM g5 WHERE b < 230),
         e5 AS (SELECT doc_id AS eval_id, unnest(gr) AS g FROM g5 WHERE b >= 243),
         ng AS (SELECT train_id, COUNT(*) AS n_ngram_evals FROM (
               SELECT DISTINCT train_id, eval_id FROM t5 JOIN e5 USING (g))
             GROUP BY train_id),
         sh AS (SELECT doc_id, b, list_distinct(CASE WHEN len(ws)>=3
                 THEN list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])
                 ELSE [array_to_string(ws,' ')] END) AS sh FROM w),
         sig AS (SELECT doc_id, b, sh,
                 [list_min(list_transform(sh, s -> md5('0:'||s))),
                  list_min(list_transform(sh, s -> md5('1:'||s))),
                  list_min(list_transform(sh, s -> md5('2:'||s))),
                  list_min(list_transform(sh, s -> md5('3:'||s))),
                  list_min(list_transform(sh, s -> md5('4:'||s))),
                  list_min(list_transform(sh, s -> md5('5:'||s))),
                  list_min(list_transform(sh, s -> md5('6:'||s))),
                  list_min(list_transform(sh, s -> md5('7:'||s)))] AS sigs FROM sh),
         bands AS (SELECT doc_id, b, bi AS band_idx, md5(sigs[2*bi+1]||'|'||sigs[2*bi+2]) AS band_hash
                   FROM sig CROSS JOIN unnest([0,1,2,3]) AS t(bi)),
         cand AS (SELECT DISTINCT a.doc_id AS train_id, c.doc_id AS eval_id
                  FROM bands a JOIN bands c ON a.band_idx=c.band_idx AND a.band_hash=c.band_hash
                  WHERE a.b < 230 AND c.b >= 243),
         jj AS (SELECT train_id, eval_id,
                 round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
               FROM cand JOIN sh x ON x.doc_id = train_id JOIN sh y ON y.doc_id = eval_id),
         nd AS (SELECT train_id, COUNT(*) AS n_near_evals, MAX(jaccard) AS max_jaccard
               FROM jj WHERE jaccard >= 0.2 GROUP BY train_id)
         SELECT COALESCE(ng.train_id, nd.train_id) AS train_id,
           CAST(COALESCE(n_ngram_evals, 0) AS BIGINT) AS n_ngram_evals,
           CAST(COALESCE(n_near_evals, 0) AS BIGINT) AS n_near_evals,
           max_jaccard,
           CASE WHEN ng.train_id IS NOT NULL AND nd.train_id IS NOT NULL THEN 'both'
                WHEN ng.train_id IS NOT NULL THEN 'ngram'
                ELSE 'neardup' END AS verdict
         FROM ng FULL OUTER JOIN nd ON ng.train_id = nd.train_id
         ORDER BY train_id"""),
    // Gopher-style within-doc repetition signals for quality gating
    BoardQuery("repetition_stats", (s, dir) =>
      operators.TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
        .withColumnRenamed("dup_ngram_frac", "dup_3gram_frac")
        .orderBy("doc_id"),
      // mirror of TextAnalysis.repetitionStats(n=3)
      """WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)),'\s+') AS ws FROM documents),
         g AS (SELECT doc_id, ws, CASE WHEN len(ws)>=3
               THEN list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])
               ELSE [array_to_string(ws,' ')] END AS gr FROM w)
         SELECT doc_id,
           round(CAST(len(gr) - len(list_distinct(gr)) AS DOUBLE) / greatest(len(gr), 1), 6) AS dup_3gram_frac,
           round(CAST(list_max(list_transform(list_distinct(ws), t -> len(list_filter(ws, x -> x = t)))) AS DOUBLE) / greatest(len(ws), 1), 6) AS top_token_frac
         FROM g ORDER BY doc_id"""),
    // degenerate-generation loop detector: longest CONSECUTIVE identical
    // trigram run per doc (gaps-and-islands over the positional shingle
    // stream); loops planted on doc_id % 9 == 0 in both engines — the
    // fixtures are random words, genuinely loop-free
    BoardQuery("loop_detector", (s, dir) => {
      val d = Tables.documents(s, dir).withColumn("dirty",
        when(col("doc_id") % 9 === 0,
          concat(col("text"), lit(" loop loop loop loop loop")))
          .otherwise(col("text")))
      operators.TextAnalysis.loopDetector(d, "doc_id", "dirty")
    },
      operators.TextAnalysis.loopDetectorSql(
        """(SELECT doc_id, CASE WHEN doc_id % 9 = 0
             THEN text || ' loop loop loop loop loop' ELSE text END AS dirty
           FROM documents)""", "doc_id", "dirty")),
    // quality-gate funnel: cumulative survivor counts through the
    // length → punctuation → language gates, one corpus scan
    BoardQuery("quality_funnel", (s, dir) =>
      operators.TextAnalysis.qualityFunnel(Tables.documents(s, dir),
        "doc_id", "text", "lang"),
      operators.TextAnalysis.qualityFunnelSql("documents", "doc_id", "text", "lang")),
    // PII scrub: the fixtures are PII-free by construction, so a
    // doc_id-derived email + phone ride on each body (the multimodal_dims
    // convention); the oracle rebuilds the same body and must reproduce the
    // scrub byte-for-byte
    BoardQuery("pii_scrub", (s, dir) => {
      val body = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com or +1 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val scrubbed1 = TextAnalysis.scrubEmails(col("body"))
      Tables.documents(s, dir)
        .select(col("doc_id"), body.as("body"))
        .select(col("doc_id"),
          TextAnalysis.piiCount(col("body"), TextAnalysis.emailRe).as("n_emails"),
          TextAnalysis.piiCount(scrubbed1, TextAnalysis.phoneRe).as("n_phones"),
          substring(md5(TextAnalysis.scrubPhones(scrubbed1)), 1, 16).as("scrubbed_fp"))
        .orderBy("doc_id")
    }, {
      val em = operators.TextAnalysis.emailRe
      val ph = operators.TextAnalysis.phoneRe
      s"""WITH b AS (SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or +1 555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS body
           FROM documents),
         e AS (SELECT doc_id,
           len(regexp_extract_all(body, '$em')) AS n_emails,
           regexp_replace(body, '$em', '<EMAIL>', 'g') AS body1 FROM b)
         SELECT doc_id, n_emails,
           len(regexp_extract_all(body1, '$ph')) AS n_phones,
           md5(regexp_replace(body1, '$ph', '<PHONE>', 'g'))[:16] AS scrubbed_fp
         FROM e ORDER BY doc_id"""
    }),
    // context-window preparation: overlapping 32-token chunks, stride 24
    BoardQuery("chunk_tokens", (s, dir) =>
      operators.Chunking.tokenChunks(Tables.documents(s, dir), "doc_id", "text",
          chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx"),
      // mirror of Chunking.tokenChunks(chunkSize=32, stride=24): 1-based
      // inclusive list slices, last window start = max(0, ceil((n-32)/24))
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text),'\s+') AS ws FROM documents),
         k AS (SELECT doc_id, ws, len(ws) AS n,
               greatest(CAST(ceil((len(ws) - 32) / 24.0) AS BIGINT), 0) AS last FROM w),
         c AS (SELECT doc_id, ws, n, unnest(range(0, last + 1)) AS ci FROM k)
         SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
           array_to_string(ws[ci*24 + 1 : ci*24 + 32], ' ') AS chunk_text,
           least(32, n - ci*24) AS n_tok
         FROM c ORDER BY doc_id, chunk_idx"""),
    // content-defined chunking: rolling-hash boundaries stable under edits
    // (expected 16-token chunks; insertions re-chunk only their neighborhood)
    BoardQuery("cdc_chunks", (s, dir) =>
      operators.Chunking.cdcChunks(Tables.documents(s, dir), "doc_id", "text",
          k = 4, modulus = 16)
        .orderBy("doc_id", "chunk_idx"),
      operators.Chunking.cdcChunksSql("documents", "doc_id", "text", k = 4, modulus = 16)),
    // corpus-level boilerplate strip (RefinedWeb repeated-line removal over
    // CDC chunks): spans recurring in >= 3 distinct docs removed everywhere,
    // docs reassembled losslessly from the surviving chunks
    BoardQuery("boilerplate_strip", (s, dir) =>
      operators.Boilerplate.stripBoilerplate(
          Tables.documents(s, dir), "doc_id", "text",
          k = 4, modulus = 16, minDocs = 3)
        .orderBy("doc_id"),
      operators.Boilerplate.stripBoilerplateSql("documents", "doc_id", "text",
        k = 4, modulus = 16, minDocs = 3)),
    // vocabulary pruning + OOV remap: corpus-rare tokens become <unk>,
    // documents reassembled in original token order
    BoardQuery("vocab_prune", (s, dir) =>
      operators.TextAnalysis.pruneVocab(
          Tables.documents(s, dir), "doc_id", "text", minCount = 500)
        .select(col("doc_id"),
          substring(md5(col("pruned_text")), 1, 16).as("pruned_fp"),
          col("n_unk"))
        .orderBy("doc_id"),
      // mirror of TextAnalysis.pruneVocab(minCount=500): vocab from the
      // same token stream, order restored via the carried subscript
      """WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)),'\s+') AS ws FROM documents),
         t AS (SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS i FROM w),
         vocab AS (SELECT tok FROM (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok) WHERE n >= 500),
         m AS (SELECT t.doc_id, t.i,
               CASE WHEN v.tok IS NOT NULL THEN t.tok ELSE '<unk>' END AS tok2
               FROM t LEFT JOIN vocab v ON t.tok = v.tok)
         SELECT doc_id, md5(string_agg(tok2, ' ' ORDER BY i))[:16] AS pruned_fp,
           CAST(SUM(CASE WHEN tok2 = '<unk>' THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
         FROM m GROUP BY doc_id ORDER BY doc_id"""),
    // exact duplicate-substring spans (Lee et al. 2021): per document, the
    // maximal token spans whose every 8-token window repeats in the corpus
    BoardQuery("dup_spans", (s, dir) =>
      operators.DupSpans.dupSpans(Tables.documents(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc_id", "span_start"),
      // generated mirror of DupSpans.dupSpans(k=8): the naive single-engine
      // window-function form — count per gram digest, gaps-and-islands
      operators.DupSpans.dupSpansSql("documents", "doc_id", "text", 8)),
    // the span APPLY step: documents with duplicated substrings cut out;
    // fully-duplicated docs drop entirely
    BoardQuery("dup_spans_strip", (s, dir) =>
      operators.DupSpans.stripDupSpans(Tables.documents(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc_id"),
      // generated mirror of DupSpans.stripDupSpans(k=8): span CTEs + token
      // anti-join + order-restored reassembly
      operators.DupSpans.stripDupSpansSql("documents", "doc_id", "text", 8)),
    // asymmetric containment over LSH candidates: the excerpt/quotation
    // signal resemblance Jaccard misses
    BoardQuery("containment_pairs", (s, dir) =>
      operators.Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 8, rowsPerBand = 2, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      // the nearDupCtes chain's cand + distinct shingles, both containment
      // directions, pair kept when either reaches 0.5
      s"""WITH $nearDupCtes,
         ct AS (SELECT id_a, id_b,
             round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(x.sh), 6) AS cont_a_in_b,
             round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(y.sh), 6) AS cont_b_in_a
           FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b)
         SELECT id_a, id_b, cont_a_in_b, cont_b_in_a FROM ct
         WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.5 ORDER BY id_a, id_b"""),
    // per-vector symmetric int8 embedding quantization, engine-exact codes
    BoardQuery("int8_quantize", (s, dir) =>
      operators.Quantize.int8Quantize(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy("vec_id"),
      // generated mirror of Quantize.int8Quantize: IEEE-exact code arrays,
      // md5-fingerprint equality
      operators.Quantize.int8QuantizeSql("embeddings", "vec_id", "embedding")),
    // Matryoshka truncation: first-16-dim prefix renormalized, with the
    // retained-norm diagnostic (the cheap-ANN serving path for MRL models)
    BoardQuery("mrl_truncate", (s, dir) =>
      operators.Quantize.mrlTruncate(Tables.embeddings(s, dir), "vec_id", "embedding", d = 16)
        .orderBy("vec_id"),
      operators.Quantize.mrlTruncateSql("embeddings", "vec_id", "embedding", d = 16)),
    // deterministic global corpus shuffle: a reproducible pretraining order
    // assigned by the two-level bucketed rank (no single-partition window)
    BoardQuery("global_shuffle", (s, dir) =>
      operators.CorpusShuffle.globalShuffle(Tables.documents(s, dir), "doc_id")
        .orderBy("doc_id"),
      // the naive single-window rank the two-level decomposition must equal
      operators.CorpusShuffle.globalShuffleSql("documents", "doc_id", "shuffle")),
    // T=2 temperature rebalancing across languages: each stratum keeps
    // ceil(min(n, 8*sqrt(n))) md5-ranked docs — rare langs upweighted
    BoardQuery("temperature_sample", (s, dir) =>
      operators.Sampling.temperatureSample(
          Tables.documents(s, dir), "doc_id", "lang", c = 8.0)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
      // mirror of Sampling.temperatureSample(c=8): sqrt is IEEE-exact in
      // both engines, so the ceil threshold can never flip
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5('sample:'||CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
           FROM documents)
         WHERE rn <= CEIL(least(CAST(n AS DOUBLE), 8.0 * sqrt(CAST(n AS DOUBLE))))
         ORDER BY doc_id"""),
    // mixture epoch-weighting: per-source upsample factors (quarter-step
    // weights 0.0..2.25 by source index — exercises drop, fractional
    // downsample, and >1-epoch repeat in one query), exact per-stratum totals
    BoardQuery("mix_upsample", (s, dir) =>
      operators.Sampling.mixUpsample(Tables.documents(s, dir), "doc_id", "source",
          weights = (0 until 20).map(i => s"src$i" -> (i % 10) * 0.25).toMap)
        .select(col("doc_id"), col("source"), col("copy_idx"))
        .orderBy("doc_id", "copy_idx"), {
      // mirror of Sampling.mixUpsample: same md5 rank, same quarter-step
      // weight table (exact doubles — the ceil can never flip), copies via
      // range-unnest (range(0,0) is empty, so 0-copy docs drop)
      val caseArms = (0 until 20)
        .map(i => s"WHEN 'src$i' THEN ${(i % 10) * 0.25}").mkString(" ")
      s"""WITH w AS (SELECT doc_id, source,
             CAST(CASE source $caseArms ELSE 1.0 END AS DOUBLE) AS wt,
             row_number() OVER (PARTITION BY source
               ORDER BY md5('mix:'||CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
           FROM documents),
         c AS (SELECT doc_id, source,
             CAST(FLOOR(wt) AS BIGINT) +
               (CASE WHEN rn <= CEIL((wt - FLOOR(wt)) * n) THEN 1 ELSE 0 END) AS nc
           FROM w)
         SELECT doc_id, source, unnest(range(0, nc)) AS copy_idx FROM c
         ORDER BY doc_id, copy_idx"""
    }),
    // unigram-LM surprise score (cheap perplexity proxy) per document
    BoardQuery("unigram_logprob", (s, dir) =>
      operators.TextAnalysis.unigramLogprob(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      unigramLogprobOracle),
    // bigram-LM perplexity proxy: the next quality-gate rung — word-salad
    // with common words passes the unigram gate but not this one
    BoardQuery("bigram_logprob", (s, dir) =>
      operators.TextAnalysis.bigramLogprob(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      // mirror of TextAnalysis.bigramLogprob: Laplace-smoothed bigram
      // conditional nll, per-pair rounded to 4 decimals then DECIMAL-exact
      // per-doc sum (same discipline as unigram_logprob); range(1, len)
      // is empty for <2-token docs, matching the Spark side's no-space
      // gram filter
      """WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)),'\s+') AS ws FROM documents),
         b AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> ws[i]||' '||ws[i+1])) AS bg FROM w),
         tf AS (SELECT doc_id, bg, COUNT(*) AS tf FROM b GROUP BY doc_id, bg),
         c2 AS (SELECT bg, SUM(tf) AS c2 FROM tf GROUP BY bg),
         c1 AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT split_part(bg, ' ', 2)) AS v_size FROM c2),
         j AS (SELECT tf.doc_id, tf.tf,
               CAST(round(ln((CAST(c1.c1 AS DOUBLE) + CAST(v.v_size AS DOUBLE))
                 / (CAST(c2.c2 AS DOUBLE) + 1.0)), 4) AS DECIMAL(18,4)) AS nll
               FROM tf JOIN c2 USING (bg)
               JOIN c1 ON split_part(tf.bg, ' ', 1) = c1.w1 CROSS JOIN v)
         SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(tf AS DECIMAL(18,4)) * nll) AS DOUBLE)
             / CAST(SUM(tf) AS DOUBLE) AS avg_nll
         FROM j GROUP BY doc_id ORDER BY doc_id"""),
    // exchange-free join + agg over tables bucketed by the join key at
    // write time — the pay-the-shuffle-once storage layout for 100 TB
    BoardQuery("bucketed_join", (s, dir) => {
      val (ot, ct) = bucketedTables(s, dir)
      operators.Bucketing.colocatedJoin(s, ot, ct, "custkey")
        .groupBy("custkey")
        .agg(count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("total_price"))
        .orderBy("custkey")
    },
      // relation check for the bucketed co-located join: the LAYOUT (zero
      // exchanges) is pinned in BucketingSpec; the oracle proves the result
      // is the plain join it claims to be
      """SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1"""),
    // the pretraining prep flow end-to-end in ONE plan: chunk into context
    // windows, then pack chunks into ~4096-token shards (chunk id = global
    // (doc, chunk) order); output = per-shard chunk counts
    BoardQuery("chunk_pack_e2e", (s, dir) => {
      val chunks = operators.Chunking.tokenChunks(
          Tables.documents(s, dir), "doc_id", "text", chunkSize = 32, stride = 24)
        .select((col("doc_id") * 16 + col("chunk_idx")).as("chunk_id"), col("n_tok"))
      operators.Sharding.packShards(chunks, "chunk_id", col("n_tok"), budget = 4096)
        .groupBy("shard").agg(count(lit(1)).as("n_chunks"))
        .orderBy("shard")
    },
      // chunking CTEs + the NAIVE single-window prefix sum over chunk ids
      // (chunk_id = doc_id*16 + chunk_idx preserves (doc, chunk) order; max
      // 5 windows per 100-token doc at stride 24, far under 16)
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text),'\s+') AS ws FROM documents),
         k AS (SELECT doc_id, len(ws) AS n,
               greatest(CAST(ceil((len(ws) - 32) / 24.0) AS BIGINT), 0) AS last FROM w),
         c AS (SELECT doc_id, n, unnest(range(0, last + 1)) AS ci FROM k),
         ch AS (SELECT doc_id*16 + ci AS chunk_id, least(32, n - ci*24) AS n_tok FROM c),
         p AS (SELECT chunk_id,
               CAST(COALESCE(SUM(n_tok) OVER (ORDER BY chunk_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096 AS BIGINT) AS shard
               FROM ch)
         SELECT shard, COUNT(*) AS n_chunks FROM p GROUP BY shard ORDER BY shard"""),
    // the FULL corpus path as one composed dataflow — the round-9 proof
    // that the pipeline operators stack without plan blowups: NFC normalize
    // → train/eval split → Gopher quality gate → dedup decisions (exact +
    // near tier, keep only 'keep') → decontamination anti-join vs the eval
    // split (bloom-gated 5-grams ∪ LSH near-dup) → deterministic global
    // shuffle → token chunking in SHUFFLED order → ~4096-token shard
    // packing → per-shard integrity manifest. Every stage is the board
    // operator itself (same params as its standalone query), so each
    // stage's scale posture carries over; the composite's readout is the
    // shard manifest — shard-count-bounded rows.
    BoardQuery("pipeline_e2e", (s, dir) =>
      // the composed dataflow lives in operators.CorpusPipeline (round 10);
      // this is its in-session form — localCheckpoint barriers, the
      // single-JVM stand-in for the stage tables `pipeline_staged` writes
      operators.CorpusPipeline.checkpointed(Tables.documents(s, dir)),
      pipelineE2eSql),
    BoardQuery("pipeline_staged", (s, dir) => {
      // the DURABLE form: every barrier written as a parquet stage table
      // (fresh temp dir per invocation — the honest full-build cost) and
      // read back; byte-equal manifest to pipeline_e2e (shared oracle,
      // StagedPipelineSpec pins equality + the resume-from-stage-k
      // economics). Round 11 runs the BUCKETED form: the doc_id-keyed
      // stage tables pay their shuffle once at write, so every inter-stage
      // semi/anti join — and every join a RESUME re-plans — is
      // exchange-free (StagedPipelineSpec pins zero Exchange under the
      // resumed doc_id joins). At 100 TB these five tables are what makes
      // a multi-day corpus build restartable without re-shuffling the
      // corpus per rerun.
      val stageDir = tempDir("graft_stages_")
      operators.CorpusPipeline.stagedBucketed(Tables.documents(s, dir), stageDir)
    },
      pipelineE2eSql),
    // conjunctive keyword search through the inverted-index shape
    BoardQuery("keyword_search", (s, dir) =>
      operators.Search.matchAllTerms(Tables.documents(s, dir), "doc_id", "text",
          Seq("spark", "window", "join"))
        .orderBy("doc_id"),
      // mirror of Search.matchAllTerms(["spark","window","join"]): postings
      // for the query terms only, conjunctive intersection, total hits
      """WITH p AS (SELECT doc_id, term, COUNT(*) AS tf FROM (
             SELECT doc_id, unnest(string_split_regex(trim(lower(text)),'\s+')) AS term
             FROM documents)
           WHERE term IN ('spark','window','join') GROUP BY doc_id, term)
         SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_hits FROM p
         GROUP BY doc_id HAVING COUNT(*) = 3 ORDER BY doc_id"""),
    // BM25-ranked disjunctive search over the same inverted-index shape
    BoardQuery("bm25_search", (s, dir) =>
      operators.Search.bm25Rank(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "window", "join"), k = 20),
      s"""WITH ${bm25SqlCtes()}
         SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id LIMIT 20"""),
    // pseudo-relevance-feedback expansion: BM25 top-10 as the feedback
    // set (broadcast semi-join), expansion terms by feedback-tf × corpus
    // idf, original query terms excluded
    BoardQuery("prf_expand", (s, dir) =>
      operators.Search.prfExpand(Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "window", "join"), nDocs = 10, nTerms = 15),
      operators.Search.prfExpandSql(bm25SqlCtes(), "documents", "doc_id", "text",
        Seq("spark", "window", "join"), nDocs = 10, nTerms = 15)),
    // BPE tokenizer training: the corpus-wide merge-table construction.
    // One corpus pass builds the vocab; every merge step is vocab-sized.
    BoardQuery("bpe_merges", (s, dir) => {
      val (merges, _) = bpeArtifacts(s, dir)
      import s.implicits._
      merges.toDF("step", "pair", "freq").orderBy("step")
    },
      // generated unrolled training chain: per-step pair counts + argmax
      // (freq desc, pair asc) + doubled-separator merge application; best
      // pairs are data-dependent scalar subqueries
      operators.Bpe.mergesSql("documents", "text", steps = 8)),
    BoardQuery("bpe_encode", (s, dir) =>
      bpeArtifacts(s, dir)._2.select("word", "repr").orderBy("word"),
      operators.Bpe.encodeSql("documents", "text", steps = 8)),
    // Morton Z-values for the (user, value-bucket) filter dimensions — the
    // write-side layout key; the skipping effect is measured in ZOrderSpec
    BoardQuery("zorder_key", (s, dir) =>
      ev(s, dir)
        .select(col("event_id"),
          operators.ZOrder.interleave16(
            pmod(col("user_id"), lit(65536L)),
            pmod(floor(col("value")).cast("long"), lit(65536L))).as("z"))
        .orderBy("event_id"), {
      val z = operators.ZOrder.interleave16Sql(
        "(user_id % 65536)", "(CAST(floor(value) AS BIGINT) % 65536)")
      s"SELECT event_id, ($z) AS z FROM events ORDER BY event_id"
    }),
    // sketched cross-source vocabulary Jaccard: the O(k) exchange two
    // clusters make instead of shipping gram tables
    BoardQuery("kmv_overlap", (s, dir) =>
      operators.Sketch.kmvOverlapTokens(Tables.documents(s, dir), "source", "text",
          k = 512)
        .orderBy("source_a", "source_b"),
      operators.Sketch.kmvOverlapSql("documents", "source", "text", k = 512)),
    // per-language distinct-token estimate via the KMV order-statistic
    // sketch — engine-exact where HLL never is
    BoardQuery("kmv_distinct", (s, dir) =>
      operators.Sketch.kmvDistinctTokens(Tables.documents(s, dir), "lang", "text",
          k = 256)
        .orderBy("lang"), {
      // mirror of Sketch.kmvDistinctTokens(k=256): distinct (lang, token),
      // 15-hex md5 order statistics, shared estimator SQL (interpolated
      // from the same Scala constants)
      val k = 256
      s"""WITH t AS (SELECT DISTINCT grp, term FROM (
             SELECT lang AS grp, unnest(string_split_regex(trim(lower(text)),'\\s+')) AS term
             FROM documents)),
         h AS (SELECT grp, substr(md5(term), 1, 15) AS h FROM t),
         r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn FROM h),
         a AS (SELECT grp, COUNT(*) AS k_actual, ('0x' || MAX(h))::BIGINT AS hkl
             FROM r WHERE rn <= $k GROUP BY grp)
         SELECT grp AS lang, ${operators.Sketch.kmvEstimateSql(k)} AS est_distinct
         FROM a ORDER BY lang"""
    }),
    // per-source HyperLogLog distinct tokens beside the exact count — the
    // register fold is exact-integer (bitwise bucket/rank, BIGINT harmonic
    // sum), so even THIS sketch oracles bit-for-bit
    BoardQuery("hll_distinct", (s, dir) =>
      operators.Sketch.hllDistinctTokens(Tables.documents(s, dir), "source", "text"),
      operators.Sketch.hllDistinctTokensSql("documents", "source", "text")),
    // per-doc encoding-quality audit: U+FFFD / mojibake digraphs / control
    // chars, over a deterministically-corrupted text column (both engines
    // synthesize the same damage — the fixtures are clean ASCII)
    BoardQuery("mojibake_scan", (s, dir) => {
      val d = Tables.documents(s, dir).withColumn("dirty",
        when(col("doc_id") % 7 === 0, concat(lit("Ã©â€™ "), col("text")))
          .when(col("doc_id") % 11 === 0, concat(col("text"), lit(" �")))
          .when(col("doc_id") % 13 === 0, concat(col("text"), lit("\u0007")))
          .otherwise(col("text")))
      operators.TextAnalysis.mojibakeScan(d, "doc_id", "dirty")
    }, {
      // same deterministic damage, same literals: chr(65533)=U+FFFD,
      // chr(7)=BEL; the mojibake prefix is the identical UTF-8 string
      s"""WITH d AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 'Ã©â€™ ' || text
                  WHEN doc_id % 11 = 0 THEN text || ' ' || chr(65533)
                  WHEN doc_id % 13 = 0 THEN text || chr(7)
                  ELSE text END AS dirty
           FROM documents)
         ${operators.TextAnalysis.mojibakeScanSql("d", "doc_id", "dirty")}"""
    }),
    // count-min φ-heavy-hitters over bigrams: constant-size mergeable
    // counter matrix, estimate = min over d probed counters (ĉ ≥ c always)
    BoardQuery("cms_heavy", (s, dir) =>
      operators.Sketch.cmsHeavyHitters(Tables.documents(s, dir), "text",
          n = 2, phiInv = 1024)
        .orderBy("gram"),
      operators.Sketch.cmsHeavyHittersSql("documents", "text", phiInv = 1024)),
    // DSIR (Xie et al. 2023): hashed-bigram importance weights of every
    // doc against the lang='en' target slice — B-bounded feature tables
    BoardQuery("dsir_weights", (s, dir) =>
      operators.Dsir.importanceWeights(Tables.documents(s, dir), "doc_id", "text",
          col("lang") === "en", buckets = 1024)
        .orderBy("doc_id"),
      operators.Dsir.importanceWeightsSql("documents", "doc_id", "text",
        "lang = 'en'", buckets = 1024)),
    // fastText-style model-based classification (language ID): closed-form
    // multinomial NB trained on the 80% split, scored over every doc via a
    // broadcast V×C weight table on the single tf relation
    BoardQuery("nb_classify", (s, dir) =>
      operators.Classify.nbClassify(Tables.documents(s, dir), "doc_id", "text",
          "lang", trainMod = 5)
        .orderBy("doc_id"),
      operators.Classify.nbClassifySql("documents", "doc_id", "text",
        "lang", trainMod = 5)),
    // hybrid retrieval: BM25 lexical ranks fused with brute-cosine semantic
    // ranks by reciprocal-rank fusion (only RANKS cross the two scorers)
    BoardQuery("hybrid_rrf", (s, dir) => {
      val wLex = Window.orderBy(col("score").desc, col("doc_id"))
      val lex = operators.Search.bm25Rank(Tables.documents(s, dir), "doc_id", "text",
          Seq("spark", "window", "join"), k = 50)
        .withColumn("rank", row_number().over(wLex).cast("long"))
      val wSem = Window.orderBy(col("sim").desc, col("vec_id"))
      val sem = Similarity.cosineTopK(Tables.embeddings(s, dir), "vec_id", "embedding", 0L, 50)
        .withColumn("rank", row_number().over(wSem).cast("long"))
        .withColumnRenamed("vec_id", "doc_id")
      operators.Search.rrfFuse(lex, sem, "doc_id", k = 20)
    },
      // BM25 top-50 ranks ⊕ brute-cosine top-50 ranks via reciprocal-rank
      // fusion: each reciprocal is the same IEEE division in both engines,
      // the two-term sum has fixed operand order, rounded to 6
      s"""WITH ${bm25SqlCtes()},
         lex AS (SELECT doc_id, r_lex FROM (
             SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex FROM bm)
           WHERE r_lex <= 50),
         q AS (SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0),
         cs AS (SELECT e.vec_id AS doc_id, round(${cosSql("e.embedding", "q.query_vec")}, 4) AS sim
             FROM embeddings e, q),
         sem AS (SELECT doc_id, r_sem FROM (
             SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r_sem FROM cs)
           WHERE r_sem <= 50)
         SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem,
           round(COALESCE(1.0 / (60.0 + CAST(r_lex AS DOUBLE)), 0.0)
               + COALESCE(1.0 / (60.0 + CAST(r_sem AS DOUBLE)), 0.0), 6) AS rrf
         FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
         ORDER BY rrf DESC, doc_id LIMIT 20"""),
    // binary-quantized two-stage ANN: 64-bit sign signatures ranked by
    // bit_count(xor) hamming, exact-cosine rescore of the top candidates
    BoardQuery("hamming_rerank", (s, dir) =>
      Similarity.hammingRerank(Tables.embeddings(s, dir), "vec_id", "embedding",
          queryId = 1L, k = 10, candidates = 50), {
      // mirror of Similarity.hammingRerank(queryId=1, k=10, candidates=50):
      // packed 32-bit sign halves, bit_count(xor) hamming, cosine rescore
      val lo = operators.Similarity.binaryHalfSigSql("embedding", 0)
      val hi = operators.Similarity.binaryHalfSigSql("embedding", 32)
      s"""WITH s AS (SELECT vec_id, embedding,
             CAST($lo AS BIGINT) AS sig_lo, CAST($hi AS BIGINT) AS sig_hi FROM embeddings),
         q AS (SELECT embedding AS q_vec, sig_lo AS q_lo, sig_hi AS q_hi FROM s WHERE vec_id = 1),
         h AS (SELECT s.vec_id, s.embedding, q.q_vec,
             bit_count(xor(s.sig_lo, q.q_lo)) + bit_count(xor(s.sig_hi, q.q_hi)) AS ham
             FROM s, q),
         cand AS (SELECT * FROM h ORDER BY ham, vec_id LIMIT 50)
         SELECT vec_id, CAST(ham AS INT) AS ham,
           round(${cosSql("embedding", "q_vec")}, 4) AS sim
         FROM cand ORDER BY sim DESC, vec_id LIMIT 10"""
    }),
    // interpolated Kneser–Ney bigram scoring: the absolute-discount +
    // continuation-probability smoothing, all stats from ONE bigram relation
    BoardQuery("kn_logprob", (s, dir) =>
      TextAnalysis.knLogprob(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      TextAnalysis.knLogprobSql("documents", "doc_id", "text")),
    // per-doc token Shannon entropy — the diversity/repetition gate signal
    BoardQuery("token_entropy", (s, dir) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      TextAnalysis.tokenEntropySql("documents", "doc_id", "text")),
    // MMR diversified retrieval: distributed candidate pool, k bounded
    // greedy steps (one argmax row each — the BPE/k-means driver pattern)
    BoardQuery("mmr_topk", (s, dir) =>
      Similarity.mmrTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryId = 0L, k = 10),
      operators.Similarity.mmrSql("embeddings", "vec_id", "embedding",
        queryId = 0L, k = 10, cosSql)),
    // Johnson–Lindenstrauss 64→16 Rademacher projection, coordinates
    // integer-quantized then fingerprinted (the mrl convention)
    BoardQuery("jl_project", (s, dir) =>
      Similarity.jlProject(Tables.embeddings(s, dir), "vec_id", "embedding", k = 16)
        .orderBy("vec_id"),
      operators.Similarity.jlProjectSql("embeddings", "vec_id", "embedding", k = 16)),
    // exact phrase match as ONE positional-postings aggregation (shifted
    // position-list intersection; no self-joins)
    BoardQuery("phrase_search", (s, dir) =>
      operators.Search.phraseSearch(Tables.documents(s, dir), "doc_id", "text",
          Seq("stream", "table", "hash"))
        .orderBy("doc_id"),
      operators.Search.phraseSearchSql("documents", "doc_id", "text",
        Seq("stream", "table", "hash"))),
    // sequence-length bucketing: per-capacity doc/batch counts and the
    // padding cost the bucketed batcher pays
    BoardQuery("length_buckets", (s, dir) =>
      operators.Sharding.lengthBuckets(Tables.documents(s, dir), "text")
        .orderBy("bucket"),
      operators.Sharding.lengthBucketsSql("documents", "text")),
    // the light scan-only prep flow as ONE declarative plan: quality gate →
    // exact dedup (keep min id) → stable split assignment → per-split stats.
    // Catalyst fuses the stages; nothing materializes in between. (Named
    // pipeline_e2e rounds 1–8; the full composed corpus path now owns that
    // name.)
    BoardQuery("split_pipeline", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val quality = operators.TextAnalysis.withQuality(docs, "text")
        .where(col("quality_score") >= 0.5)
      val deduped = quality
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("doc_id"))
      deduped
        .select(col("doc_id"), operators.Sampling.splitOf(col("doc_id")).as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("split")
    },
      """WITH quality AS (
           SELECT doc_id, text FROM documents
           WHERE round(least(len(string_split_regex(trim(text), '\s+')) / 50.0, 1.0) *
                 (1.0 - least((length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))) / greatest(length(text), 1), 1.0)), 6) >= 0.5),
         deduped AS (SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)),
         assigned AS (SELECT doc_id,
           CASE WHEN b < 230 THEN 'train' WHEN b < 243 THEN 'valid' ELSE 'test' END AS split
           FROM (SELECT doc_id,
                   CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,2) AS INT) AS b
                 FROM deduped))
         SELECT split, COUNT(*) AS n_docs FROM assigned GROUP BY split ORDER BY split"""),
    BoardQuery("vocab_topn", (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(100),
      """SELECT token, COUNT(*) AS n FROM (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 100"""),
    BoardQuery("dedup_bag", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(TextAnalysis.bagFingerprint(col("text")).as("bag_fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
        .orderBy("bag_fingerprint"),
      """SELECT md5(list_aggregate(list_sort(list_distinct(string_split_regex(trim(lower(text)),'\s+'))),'string_agg',' '))[:16] AS bag_fingerprint,
         MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
         FROM documents GROUP BY 1 ORDER BY bag_fingerprint"""),
    // md5-token-hash SimHash (oracle-portable: DuckDB reproduces the md5
    // bit votes exactly; the xxhash64 form stays engine-internal)
    BoardQuery("simhash_buckets", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          operators.Dedup.simhashMd5Hex(col("text")).as("simhash"))
        .withColumn("bucket", substring(col("simhash"), 1, 4))
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id,
           list_transform(string_split_regex(trim(text),'\s+'), w -> CAST('0x'||substr(md5(w),1,16) AS UBIGINT)) AS hs
           FROM documents)
         SELECT doc_id, simhash, substr(simhash,1,4) AS bucket FROM (
           SELECT doc_id, lpad(lower(to_hex(CAST(list_sum(list_transform(range(0,64), b ->
             CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h>>b)&1=1 THEN 1 ELSE -1 END)) > 0
                  THEN (CAST(1 AS UBIGINT)<<b) ELSE CAST(0 AS UBIGINT) END)) AS UBIGINT))),16,'0') AS simhash
           FROM t)
         ORDER BY doc_id"""),
    // Manku-style simhash dedup: pairs within hamming 3 via the 4-block
    // pigeonhole equi-join + two-popcount verify — never all-pairs
    BoardQuery("simhash_pairs", (s, dir) =>
      operators.Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = 3)
        .orderBy("id_a", "id_b"),
      // brute hamming over the same md5-simhash mirror: the block
      // pigeonhole is exact-pruning-only, so brute ≡ filtered
      """WITH t AS (SELECT doc_id,
           list_transform(string_split_regex(trim(text),'\s+'), w -> CAST('0x'||substr(md5(w),1,16) AS UBIGINT)) AS hs
           FROM documents),
         sh AS (SELECT doc_id, lpad(lower(to_hex(CAST(list_sum(list_transform(range(0,64), b ->
             CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h>>b)&1=1 THEN 1 ELSE -1 END)) > 0
                  THEN (CAST(1 AS UBIGINT)<<b) ELSE CAST(0 AS UBIGINT) END)) AS UBIGINT))),16,'0') AS simhash
           FROM t),
         v AS (SELECT doc_id,
             CAST('0x'||substr(simhash,1,8) AS BIGINT) AS hi,
             CAST('0x'||substr(simhash,9,8) AS BIGINT) AS lo FROM sh)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
         FROM v a JOIN v b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
         ORDER BY id_a, id_b"""),
    BoardQuery("ann_lsh_topk", (s, dir) =>
      Similarity.annTopK(Tables.embeddings(s, dir), "vec_id", "embedding", 0L, 10), {
      // exact mirror of Similarity.annTopK(bits=8, dim=64, seed=42): the
      // hyperplane constants come from the same Random(42) stream
      val sigSql = operators.Similarity.lshSignatureSql("embedding", 8, 64)
      s"""WITH sig AS (SELECT vec_id, embedding, $sigSql AS lsh_sig FROM embeddings),
         q AS (SELECT embedding AS qv, lsh_sig AS qs FROM sig WHERE vec_id = 0)
         SELECT * FROM (
           SELECT s.vec_id, round(${cosSql("s.embedding", "q.qv")}, 4) AS sim
           FROM sig s, q WHERE s.lsh_sig = q.qs)
         ORDER BY sim DESC, vec_id LIMIT 10"""
    }),
    BoardQuery("ann_multiprobe", (s, dir) =>
      Similarity.annMultiProbe(Tables.embeddings(s, dir), "vec_id", "embedding", 0L, 10), {
      // mirror of Similarity.annMultiProbe(bits=8, dim=64, seed=42): the
      // query bucket plus its eight 1-bit-flip neighbors — membership is
      // xor(sig, qsig) ∈ {0, 1, 2, 4, …, 128}
      val sigSql = operators.Similarity.lshSignatureSql("embedding", 8, 64)
      val probeSet = (0L +: (0 until 8).map(b => 1L << b)).mkString(", ")
      s"""WITH sig AS (SELECT vec_id, embedding, $sigSql AS lsh_sig FROM embeddings),
         q AS (SELECT embedding AS qv, lsh_sig AS qs FROM sig WHERE vec_id = 0)
         SELECT * FROM (
           SELECT s.vec_id, round(${cosSql("s.embedding", "q.qv")}, 4) AS sim
           FROM sig s, q WHERE xor(s.lsh_sig, q.qs) IN ($probeSet))
         ORDER BY sim DESC, vec_id LIMIT 10"""
    }),
    BoardQuery("ivf_build", (s, dir) =>
      // IVF index BUILD as its own operator: seeded k-means training (one
      // Lloyd iteration — on the fixtures recall@10 is equal-or-better than
      // two, 0.580 vs 0.570, at half the training cost) + full-corpus
      // nearest-centroid assignment. This is the once-per-corpus batch job;
      // probes (ivf_topk) never pay for it.
      Similarity.ivfTrained(Tables.embeddings(s, dir), "vec_id", "embedding",
          nCentroids = 8, kmeansIters = 1)._2
        .select(col("vec_id"), col("cluster"))
        .orderBy("vec_id"), {
      // mirror of Similarity.ivfTrained(nCentroids=8, kmeansIters=1)'s
      // index: the same generated Lloyd CTE chain, then the full-corpus
      // nearest-centroid assignment (ties to smallest cid)
      val (kmCtes, cent) = Similarity.kmeansCentSqlCtes(
        "embeddings", "vec_id", "embedding", nCentroids = 8, iters = 1, dim = 64, cosSql)
      s"""WITH $kmCtes,
         assign AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
             FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1)
         SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM assign ORDER BY vec_id"""
    }),
    BoardQuery("ivf_auto", (s, dir) =>
      // the AUTO-SCALED build: C = autoCellCount(n) ≈ √n cells, k-means
      // trained on the id-mod systematic sample (sampleBudget=200 exercises
      // the sampling law at fixture scale — n=500 ⇒ C=23, mod 3; real
      // deployments run the 64k default), assignment via the single-node
      // NearestCentroidsExpr scan. The oracle bakes the widths the verify
      // corpus resolves to (the lof_auto static-mirror contract).
      Similarity.ivfTrainedAuto(Tables.embeddings(s, dir), "vec_id", "embedding",
          kmeansIters = 1, sampleBudget = 200)._2
        .select(col("vec_id"), col("cluster"))
        .orderBy("vec_id"), {
      // mirror of Similarity.ivfTrainedAuto(kmeansIters=1, sampleBudget=200)
      // at the 500-row verify corpus: C = autoCellCount(500) = 23 cells,
      // sample mod = autoSampleMod(500, 200) = 3 (train on vec_id ≡ 0 mod 3),
      // seeds = the 23 sample ids below 23·3 = 69. Static SQL bakes the
      // resolved law values; a verify-corpus row-count drift breaks rows+hash
      // loudly, by design (the lof_auto baked-width contract). The Spark side
      // stays fully adaptive.
      val (kmCtes, cent) = Similarity.kmeansCentSqlCtesWhere(
        "embeddings", "vec_id", "embedding",
        seedWhere = "vec_id % 3 = 0 AND vec_id < 69",
        trainWhere = "vec_id % 3 = 0",
        iters = 1, dim = 64, cosSql)
      s"""WITH $kmCtes,
         assign AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
             FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1)
         SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM assign ORDER BY vec_id"""
    }),
    BoardQuery("ivf_auto_topk", (s, dir) => {
      // the serving half of ivf_auto: probe-only against the memoized
      // auto-scaled artifacts (C = ⌈√n⌉, sampled training), probing
      // autoProbeCount(C) = ⌈C/4⌉ cells — scan share held at ~25% as C
      // grows (the matched-share point the recall panel measured beating
      // the fixed-C board index); resolves to 6 of 23 at the verify corpus,
      // which the oracle bakes
      val (cents, index) = ivfAutoArtifacts(s, dir)
      Similarity.ivfTopKIndexed(cents, index, "vec_id", "embedding", 0L, 10,
        nProbe = Similarity.autoProbeCount(cents.length))
    },
      ivfAutoProbeSql),
    BoardQuery("ivf_auto_served", (s, dir) => {
      // probe against the WRITTEN cluster-partitioned auto index: the probe
      // cells are chosen on the driver (a bit-pinned replica of the in-plan
      // ranking — IvfServedSpec) and land in the scan as cluster IN (…)
      // literals, so Catalyst prunes partitions at PLANNING time and the
      // scan reads only ~w/C of the index FILES (files-read fraction
      // measured in IvfServedSpec, the ZOrder discipline). Bit-equal to
      // ivf_auto_topk — the same probe over a durable layout.
      val (cents, path) = ivfServedArtifacts(s, dir)
      val qv = Tables.embeddings(s, dir).where(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0)
      Similarity.ivfServedTopK(s, path, cents, "vec_id", "embedding", qv, 10,
        nProbe = Similarity.autoProbeCount(cents.length))
    },
      // same math, durable layout: the served probe is bit-equal to the
      // in-session probe by construction (IvfServedSpec pins it), so the
      // mirror is shared — what differs is the SCAN (partition-pruned files
      // vs checkpointed blocks), which a row/hash oracle can't see and the
      // spec's files-read measurement does
      ivfAutoProbeSql),
    BoardQuery("index_residuals", (s, dir) => {
      // the drift monitor's batch face: every vector's assigned cell and
      // residual (1 − cosine to its centroid) under the auto-trained
      // index — the per-row quantity StreamIndex.driftMonitor folds and
      // baselineResidual averages, oracle-checked end to end. Scan-only
      // (centroids are broadcast literals), no shuffle.
      val (cents, _) = ivfAutoArtifacts(s, dir)
      streaming.StreamIndex.assign(Tables.embeddings(s, dir),
          "vec_id", "embedding", cents)
        .orderBy("vecId")
    }, {
      // mirror of StreamIndex.assign over the auto-trained index: the
      // ivf_auto assignment chain plus each row's residual to its centroid
      val (kmCtes, cent) = Similarity.kmeansCentSqlCtesWhere(
        "embeddings", "vec_id", "embedding",
        seedWhere = "vec_id % 3 = 0 AND vec_id < 69",
        trainWhere = "vec_id % 3 = 0",
        iters = 1, dim = 64, cosSql)
      s"""WITH $kmCtes,
         assign AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
             FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1)
         SELECT e.vec_id AS vecId, CAST(a.cid AS BIGINT) AS cluster,
           round(1.0 - ${cosSql("e.embedding", "c.cvec")}, 6) AS residual
         FROM embeddings e JOIN assign a ON a.vec_id = e.vec_id
         JOIN $cent c ON c.cid = a.cid
         ORDER BY vecId"""
    }),
    BoardQuery("ivf_served_panel", (s, dir) => {
      // batch-of-queries serving against the WRITTEN index: every 100th
      // vector probes its top-6 cells in ONE pass — the probe list is a
      // relation (not driver literals), so pruning arrives at RUNTIME as a
      // DynamicPruningSubquery on the partition column (IvfServedSpec pins
      // the dynamicpruning PartitionFilter); per-query ranking is a
      // qid-partitioned window, never a global sort
      val (cents, path) = ivfServedArtifacts(s, dir)
      Similarity.ivfServedTopKPanel(s, path, cents, "vec_id", "embedding",
        Tables.embeddings(s, dir).where(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding")),
        "qid", "embedding", k = 10,
        nProbe = Similarity.autoProbeCount(cents.length))
    }, {
      // panel mirror of the written-index batched probe: same baked law
      // values as ivf_auto_topk (C=23, mod 3, seeds below 69, probe 6),
      // per-query probe ranking and candidate rank both windowed by qid
      val (kmCtes, cent) = Similarity.kmeansCentSqlCtesWhere(
        "embeddings", "vec_id", "embedding",
        seedWhere = "vec_id % 3 = 0 AND vec_id < 69",
        trainWhere = "vec_id % 3 = 0",
        iters = 1, dim = 64, cosSql)
      s"""WITH $kmCtes,
         q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id % 100 = 0),
         assign AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
             FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1),
         probe AS (SELECT qid, cid FROM (
             SELECT q.qid, c.cid,
               row_number() OVER (PARTITION BY q.qid ORDER BY ${cosSql("q.qv", "c.cvec")} DESC, c.cid) AS rn
             FROM $cent c CROSS JOIN q) WHERE rn <= 6),
         cand AS (SELECT q.qid, e.vec_id, round(${cosSql("e.embedding", "q.qv")}, 4) AS sim
             FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
             JOIN probe p ON p.cid = a.cid JOIN q ON q.qid = p.qid)
         SELECT qid, rank, vec_id, sim FROM (
           SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
           FROM cand)
         WHERE rank <= 10 ORDER BY qid, rank"""
    }),
    BoardQuery("ivfpq_rerank", (s, dir) => {
      // ADC + exact rerank (the FAISS refine rung): the code-only ADC pass
      // picks a 50-id pool from the probed cells, then exactly those 50
      // vectors are fetched (left-semi point reads) and reranked by exact
      // cosine — RecallPanel measured the why: clustered corpora give the
      // cells recall 1.0 but codes can't order WITHIN a cluster (ADC-only
      // 0.25); 50 exact reads buy the order back at 8 B/vec scan cost
      val (cents, _) = ivfAutoArtifacts(s, dir)
      val (books, codes) = ivfPqArtifacts(s, dir)
      Similarity.ivfPqTopKRerank(cents, books, codes,
        Tables.embeddings(s, dir), "vec_id", "embedding", 0L, 10,
        nProbe = Similarity.autoProbeCount(cents.length), rerank = 50)
    },
      ivfPqRerankSql),
    BoardQuery("ivfpq_served", (s, dir) => {
      // the complete at-scale serving composition, BOTH tables written:
      // driver-computed probe literals partition-prune the WRITTEN code
      // table (8 B/vec ADC pass cuts the 50-id pool) and the WRITTEN float
      // index (point-read exact rerank of just those ids). Bit-equal to
      // ivfpq_rerank — same arithmetic over durable layouts (shared
      // oracle; IvfServedSpec pins both scans' files-read sets)
      val (cents, books, codesPath, indexPath) = ivfPqServedArtifacts(s, dir)
      val qv = Tables.embeddings(s, dir).where(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0)
      Similarity.ivfPqServedTopK(s, codesPath, indexPath, cents, books,
        "vec_id", "embedding", qv, 10,
        nProbe = Similarity.autoProbeCount(cents.length), rerank = 50)
    },
      // the served form runs the same arithmetic over WRITTEN tables —
      // bit-equal by construction (IvfServedSpec), so the mirror is shared
      ivfPqRerankSql),
    BoardQuery("ivf_versioned_served", (s, dir) => {
      // probe through the published pointer: the plan resolves CURRENT
      // once, reads an immutable version directory — retrain/compaction
      // happen on the NEXT version and swap the pointer (the FAISS/segment
      // -commit discipline; IndexLifecycleSpec pins swap atomicity, old-
      // version immutability, compaction-version equality, retire safety).
      // Bit-equal to ivf_auto_served — same probe, pointer-resolved layout
      val (cents, base) = ivfVersionedArtifacts(s, dir)
      val qv = Tables.embeddings(s, dir).where(col("vec_id") === 0L)
        .select("embedding").head().getSeq[Float](0)
      Similarity.ivfServedTopK(s,
        operators.IndexLifecycle.currentPath(s, base), cents,
        "vec_id", "embedding", qv, 10,
        nProbe = Similarity.autoProbeCount(cents.length))
    },
      // pointer-resolved serving runs the same probe over the same layout —
      // the lifecycle adds publication atomicity, never arithmetic
      ivfAutoProbeSql),
    BoardQuery("ivfpq_served_panel", (s, dir) => {
      // the last cell of the serving matrix (single/batch × float/code
      // tables): a query RELATION probes the WRITTEN code table in one
      // pass — runtime pruning via DynamicPruningSubquery on the broadcast
      // probe join (IvfServedSpec pins the PartitionFilters), per-qid ADC
      // pools carrying their cluster so the float-index point reads join
      // on (cluster, id) and prune too; per-qid windows, never global
      val (cents, books, codesPath, indexPath) = ivfPqServedArtifacts(s, dir)
      Similarity.ivfPqServedTopKPanel(s, codesPath, indexPath, cents, books,
        "vec_id", "embedding",
        Tables.embeddings(s, dir).where(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("embedding")),
        "qid", "embedding", k = 10,
        nProbe = Similarity.autoProbeCount(cents.length), rerank = 50)
    },
      ivfPqServedPanelSql),
    BoardQuery("ivf_topk", (s, dir) => {
      // probe-only: trained artifacts are built once per (session, dir) and
      // reused, so this benches the serving path — not training (which made
      // the headline number regress every time training changed)
      val (cents, index) = ivfArtifacts(s, dir)
      // nProbe=4 of 8 (was 2): the round-7 recall panel measured 0.595 ->
      // 0.800 recall@10 at the 10x density for one extra probed cluster --
      // on near-orthogonal fixtures recall tracks scan share, and half the
      // clusters is the knee of that curve
      Similarity.ivfTopKIndexed(cents, index, "vec_id", "embedding", 0L, 10,
        nProbe = 4)
    }, {
      // mirror of the PROBE against ivfTrained(nCentroids=8, kmeansIters=1)
      // artifacts (the oracle retrains inline — SQL has no build/probe
      // split, but the trained state is deterministic so results agree):
      // first-8 seed centroids refined by an iteration-unrolled Lloyd step
      // (GENERATED CTE chain — DECIMAL-exact means make the converged
      // centroids bit-identical in both engines), then nearest-centroid
      // assignment with ties to smallest cid, probe the query's top-4
      // centroids (recall-panel-tuned, round 7), exact rank within probed
      // clusters
      val (kmCtes, cent) = Similarity.kmeansCentSqlCtes(
        "embeddings", "vec_id", "embedding", nCentroids = 8, iters = 1, dim = 64, cosSql)
      s"""WITH $kmCtes,
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         assign AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
             FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1),
         probe AS (SELECT cid FROM (
             SELECT c.cid,
               row_number() OVER (ORDER BY ${cosSql("q.qv", "c.cvec")} DESC, c.cid) AS rn
             FROM $cent c CROSS JOIN q) WHERE rn <= 4)
         SELECT * FROM (
           SELECT e.vec_id, round(${cosSql("e.embedding", "q.qv")}, 4) AS sim
           FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id CROSS JOIN q
           WHERE a.cid IN (SELECT cid FROM probe))
         ORDER BY sim DESC, vec_id LIMIT 10"""
    }),
    BoardQuery("pq_build", (s, dir) =>
      // product-quantization BUILD: per-subspace k-means codebooks (8
      // subspaces x 16 codewords, one joint Lloyd iteration = one shuffle)
      // + the scan-only encode projection. The compression half of IVF-PQ:
      // at 100 TB the code table is what ANN serving actually scans.
      Similarity.pqTrained(Tables.embeddings(s, dir), "vec_id", "embedding",
          numSub = 8, k = 16, iters = 1)._2
        .orderBy("vec_id"), {
      // mirror of Similarity.pqTrained(numSub=8, k=16, iters=1): per-subspace
      // slice + generated L2-Lloyd chain + argmin code CTE, one chain per
      // subspace (the Spark side fuses their execution; the math is
      // per-subspace independent, so the unfused mirror is exact)
      val (ctes, codeCtes, _) = Similarity.pqSqlCtes(
        "embeddings", "vec_id", "embedding", numSub = 8, k = 16, subDim = 8, iters = 1)
      val joins = codeCtes.zipWithIndex
        .map { case (c, m) => s"JOIN $c k$m USING (vec_id)" }.mkString(" ")
      val cols = codeCtes.indices
        .map(m => s"CAST(k$m.cid AS BIGINT) AS c$m").mkString(", ")
      s"""WITH $ctes
         SELECT e.vec_id, $cols
         FROM embeddings e $joins ORDER BY e.vec_id"""
    }),
    BoardQuery("pq_topk", (s, dir) => {
      // ADC probe against the prebuilt code table: reconstruct each vector
      // from its codes (literal codebook lookup) and rank by cosine to the
      // exact query vector. Probe-only, like ivf_topk.
      val (books, codes) = pqArtifacts(s, dir)
      Similarity.pqTopKIndexed(books, codes, Tables.embeddings(s, dir),
        "vec_id", "embedding", 0L, 10)
    }, {
      // ADC probe mirror: reconstruct each vector as the concatenation of
      // its per-subspace codewords, rank by cosine to the exact query vector
      val (ctes, codeCtes, centCtes) = Similarity.pqSqlCtes(
        "embeddings", "vec_id", "embedding", numSub = 8, k = 16, subDim = 8, iters = 1)
      val joins = codeCtes.zip(centCtes).zipWithIndex.map { case ((code, cent), m) =>
        s"JOIN $code k$m USING (vec_id) JOIN $cent s$m ON s$m.cid = k$m.cid"
      }.mkString(" ")
      val xhat = codeCtes.indices.map(m => s"s$m.cvec").mkString(" || ")
      s"""WITH $ctes,
         recon AS (SELECT e.vec_id, $xhat AS xhat FROM embeddings e $joins),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         SELECT r.vec_id, round(${cosSql("q.qv", "r.xhat")}, 4) AS sim
         FROM recon r, q ORDER BY sim DESC, vec_id LIMIT 10"""
    }),
    BoardQuery("ivfpq_auto", (s, dir) => {
      // IVF-PQ, both halves on the auto law: probe the auto index's top-w
      // cells (w = autoProbeCount(C), ~25% scan share) but scan the CODE
      // table (numSub small codes/vector, not the float vectors) and
      // ADC-rank reconstructions against the exact query vector — the
      // memory architecture ANN serving deploys at 10^11 vectors. Codebook
      // size follows the training sample (autoCodebookSize: 39 points per
      // centroid, byte cap); the oracle bakes the resolved law values
      // (k=4, mod 3, C=23, w=6 at the verify corpus).
      val (cents, _) = ivfAutoArtifacts(s, dir)
      val (books, codes) = ivfPqArtifacts(s, dir)
      Similarity.ivfPqTopKIndexed(cents, books, codes,
        Tables.embeddings(s, dir), "vec_id", "embedding", 0L, 10,
        nProbe = Similarity.autoProbeCount(cents.length))
    }, {
      // mirror of the auto IVF-PQ probe: sampled renumbered-seed PQ chains
      // (k = autoCodebookSize(167) = 4 codewords/subspace, train on the
      // mod-3 sample), the ivf_auto Lloyd chain + assignment + top-6 probe,
      // then ADC rank of code-reconstructed vectors within probed cells
      val (pqCtes, codeCtes, centCtes) = Similarity.pqSqlCtesAuto(
        "embeddings", "vec_id", "embedding", numSub = 8, k = 4, subDim = 8,
        iters = 1, trainWhere = "vec_id % 3 = 0")
      val (kmCtes, cent) = Similarity.kmeansCentSqlCtesWhere(
        "embeddings", "vec_id", "embedding",
        seedWhere = "vec_id % 3 = 0 AND vec_id < 69",
        trainWhere = "vec_id % 3 = 0",
        iters = 1, dim = 64, cosSql)
      val joins = codeCtes.zip(centCtes).zipWithIndex.map { case ((code, cc), m) =>
        s"JOIN $code k$m USING (vec_id) JOIN $cc s$m ON s$m.cid = k$m.cid"
      }.mkString(" ")
      val xhat = codeCtes.indices.map(m => s"s$m.cvec").mkString(" || ")
      s"""WITH $pqCtes,
         $kmCtes,
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         assign AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
             FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1),
         probe AS (SELECT cid FROM (
             SELECT c.cid,
               row_number() OVER (ORDER BY ${cosSql("q.qv", "c.cvec")} DESC, c.cid) AS rn
             FROM $cent c CROSS JOIN q) WHERE rn <= 6),
         recon AS (SELECT e.vec_id, $xhat AS xhat FROM embeddings e $joins)
         SELECT * FROM (
           SELECT r.vec_id, round(${cosSql("q.qv", "r.xhat")}, 4) AS sim
           FROM recon r JOIN assign a USING (vec_id) CROSS JOIN q
           WHERE a.cid IN (SELECT cid FROM probe))
         ORDER BY sim DESC, vec_id LIMIT 10"""
    }),
    // SemDeDup (Abbas et al. 2023): embedding-space near-dedup bounded by
    // the trained IVF clusters — within-cluster pairs only, min-id kept
    BoardQuery("semdedup", (s, dir) =>
      // threshold 0.45 sits in the observed tail of the fixture's
      // near-orthogonal random embeddings (top within-cluster cosines
      // 0.44-0.51), so the drop decision is actually exercised; real
      // corpora run ~0.95+ — the semantics don't depend on the value
      Similarity.semDedup(ivfArtifacts(s, dir)._2, "vec_id", "embedding",
          threshold = 0.45)
        .orderBy("vec_id"), {
      // mirror of Similarity.semDedup over the trained IVF index: the same
      // generated Lloyd chain + assignment as ivf_build, then within-cluster
      // smaller-id-neighbor EXISTS at the same rounded-cosine threshold
      val (kmCtes, cent) = Similarity.kmeansCentSqlCtes(
        "embeddings", "vec_id", "embedding", nCentroids = 8, iters = 1, dim = 64, cosSql)
      s"""WITH $kmCtes,
         assign AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
             FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1),
         ix AS (SELECT e.vec_id, e.embedding, CAST(a.cid AS BIGINT) AS cluster
                FROM embeddings e JOIN assign a USING (vec_id)),
         dup AS (SELECT DISTINCT a.vec_id FROM ix a JOIN ix b
                 ON a.cluster = b.cluster AND b.vec_id < a.vec_id
                 AND round(${cosSql("a.embedding", "b.embedding")}, 4) >= 0.45)
         SELECT i.vec_id, i.cluster, (d.vec_id IS NULL) AS keep
         FROM ix i LEFT JOIN dup d USING (vec_id) ORDER BY i.vec_id"""
    }),
    BoardQuery("bfl_xml_helper", (s, dir) => {
      // xml() helper through the interpreter tier over constructed XML
      // bodies; `body` is a real df column so the backed prefilter can
      // derive the scan-pushable IsNotNull (a missing receiver yields the
      // value false, and false == "87" is statically false)
      val df = ev(s, dir)
        .withColumn("body",
          concat(lit("<r><k>"), get_json_object(col("props"), "$.k"), lit("</k></r>")))
        .withColumn("doc", to_json(struct(col("event_id"), col("body"))))
      Bfl.queryDocs(df, "doc", """body.xml().r.k == 87""",
          backed = Map("event_id" -> "event_id", "body" -> "body"))
        .select(col("event_id"))
        .orderBy("event_id")
    },
      "SELECT event_id FROM events WHERE json_extract_string(props,'$.k') = '87' ORDER BY event_id"),
    BoardQuery("bfl_descent", (s, dir) => {
      // recursive descent `..k` on the COMPILED tier: the path evaluates
      // through the dedicated bfl_descent expression (JsonTree walk only),
      // the ==/collapse predicate around it stays native Columns — no
      // query-level interpreter in the plan (PlanAuditSpec-pinned)
      // min-parallelism guard: the JSON re-encode + per-row JsonTree
      // descent walk below are CPU-bound and a one-row-group scan runs
      // them on ONE task (no-op on a many-split real log)
      val df = Dedup.parallelize(ev(s, dir)).withColumn("doc",
        to_json(struct(col("event_id"),
          struct(struct(get_json_object(col("props"), "$.k").as("k")).as("inner"))
            .as("outer"))))
      Bfl.filter(df, """outer..k == 87""", docCol = Some("doc")).df
        .select(col("event_id"))
        .orderBy("event_id")
    },
      "SELECT event_id FROM events WHERE json_extract_string(props,'$.k') = '87' ORDER BY event_id"),
    // --- multimodal binary-column plumbing ---
    BoardQuery("multimodal_bytes", (s, dir) => {
      // honest codegen-tier byte features only: length, checksum, magic-byte
      // format sniff — the fabricated width/height stubs are retired (real
      // dims come from the parse tier in multimodal_dims, NULL otherwise)
      val df = Tables.documents(s, dir)
        .withColumn("blob", encode(col("text"), "UTF-8"))
      operators.Multimodal.byteFeatures(df, "blob")
        .select(col("doc_id"), col("byte_len"), col("checksum"),
          col("format_sniff"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS checksum,
         CASE WHEN upper(substr(hex(encode(text)), 1, 4)) = 'FFD8' THEN 'jpeg'
              WHEN upper(substr(hex(encode(text)), 1, 4)) = '8950' THEN 'png'
              ELSE 'raw' END AS format_sniff
         FROM documents ORDER BY doc_id"""),
    BoardQuery("interval_join", (s, dir) => {
      // attribution: clicks in the hour before each purchase, per purchase.
      // Same StreamJoin.intervalJoin definition the streaming pipeline runs
      // (watermarks no-op on batch); batch/stream parity is spec-pinned.
      val e = ev(s, dir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      streaming.StreamJoin.intervalJoin(p, "p_user", "p_ts", c, "c_user", "c_ts", 3600L)
        .groupBy("p_id")
        .agg(count(lit(1)).as("n_clicks"))
        .orderBy("p_id")
    },
      // mirror of StreamJoin.intervalJoin(3600s) + per-purchase count
      """SELECT p.event_id AS p_id, COUNT(*) AS n_clicks
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'
         GROUP BY 1 ORDER BY 1"""),
    BoardQuery("asof_join", (s, dir) => {
      // as-of join: each purchase matched to the user's latest click
      // at-or-before it — union+window plan (one keyed shuffle, no
      // range-join explosion); DuckDB's native ASOF JOIN is the oracle
      val ev = Tables.events(s, dir)
      val p = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val c = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      operators.AsOfJoin.leftAsOf(p, c, "user_id", "ts", Seq("event_id", "value"), "event_id")
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("right_event_id"), col("right_value"))
        .orderBy("event_id")
    },
      // DuckDB native ASOF: greatest right ts <= left ts per key; right
      // rows deduped per (user, ts) keeping the max event_id, exactly the
      // operator's tie-break
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c0 AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
         c AS (SELECT event_id, user_id, ts, value FROM (
             SELECT c0.*, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
             FROM c0) WHERE rn = 1)
         SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
           c.event_id AS right_event_id, c.value AS right_value
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
         ORDER BY p.event_id"""),
    // FORWARD as-of: each click matched to the user's NEXT purchase
    // at-or-after it — the time-reversed union+window traversal
    BoardQuery("asof_join_fwd", (s, dir) => {
      val ev = Tables.events(s, dir)
      val c = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val p = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      operators.AsOfJoin.leftAsOfForward(c, p, "user_id", "ts",
          Seq("event_id", "value"), "event_id")
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("right_event_id"), col("right_value"))
        .orderBy("event_id")
    },
      // DuckDB native forward ASOF: smallest right ts >= left ts per key;
      // right rows deduped per (user, ts) keeping the max event_id
      """WITH c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
         p0 AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
         p AS (SELECT event_id, user_id, ts, value FROM (
             SELECT p0.*, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
             FROM p0) WHERE rn = 1)
         SELECT c.event_id, c.user_id, epoch_ms(c.ts) AS ts_ms,
           p.event_id AS right_event_id, p.value AS right_value
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
         ORDER BY c.event_id"""),
    // pairwise Jensen-Shannon divergence between per-source unigram
    // distributions (nats) — the corpus-similarity matrix for mixture
    // design; entropy-decomposed so no per-pair union-vocab outer join
    BoardQuery("js_divergence", (s, dir) =>
      operators.CorpusDiff.jsDivergence(Tables.documents(s, dir), "source", "text"),
      operators.CorpusDiff.jsDivergenceSql("documents", "source", "text")),
    // MOSS match step: pairs sharing >= 3 rare winnowed fingerprints —
    // fingerprint equi-join gated by a document-frequency cap (never
    // all-pairs; hot boilerplate fingerprints dropped before the join)
    BoardQuery("winnow_overlap", (s, dir) =>
      operators.TextAnalysis.winnowOverlap(
        Tables.documents(s, dir), "doc_id", "text"),
      operators.TextAnalysis.winnowOverlapSql("documents", "doc_id", "text")),
    BoardQuery("text_winnow", (s, dir) =>
      // winnowed rolling-hash fingerprints (MOSS): one (doc_id, fp) row per
      // distinct window-min k-gram hash — substring-level dedup signal
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(operators.TextAnalysis.winnowFingerprints(col("text"))).as("fp"))
        .orderBy("doc_id", "fp"),
      // exact mirror of TextAnalysis.winnowFingerprints(k=3, w=4): 15-hex
      // md5 token hashes mod 1e9+7, k-step fold with % after every
      // multiply, window-of-4 minima over 1-based inclusive list slices
      // WHERE text IS NOT NULL: the Spark side's explode of a null
      // fingerprint array drops the document, while DuckDB's greatest()
      // skips NULLs and would fabricate a (doc_id, 0) row
      """WITH t AS (SELECT doc_id,
           list_transform(string_split_regex(trim(lower(text)), '\s+'),
             tok -> CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1000000007) AS th
           FROM documents WHERE text IS NOT NULL),
         g AS (SELECT doc_id,
           list_transform(range(1, greatest(len(th) - 2, 1) + 1), i ->
             (((COALESCE(th[i], 0) * 131 + COALESCE(th[i+1], 0)) % 1000000007)
               * 131 + COALESCE(th[i+2], 0)) % 1000000007) AS kg
           FROM t),
         f AS (SELECT doc_id, list_sort(list_distinct(
             list_transform(range(1, greatest(len(kg) - 3, 1) + 1),
               j -> list_min(kg[j:j+3])))) AS fps
           FROM g)
         SELECT doc_id, unnest(fps) AS fp FROM f ORDER BY doc_id, fp"""),
    BoardQuery("multimodal_dims", (s, dir) => {
      // REAL header parsing across FOUR container formats: synthesize
      // deterministic PNG/JPEG/GIF/BMP headers (doc_id % 4) carrying
      // doc_id-derived dimensions, then recover width/height through the
      // batched decode path's general parser (Multimodal.parseDims — IHDR
      // u32be / SOF marker scan / GIF u16le / BMP i32le). The oracle
      // re-derives the same bytes and parses them back with hex arithmetic.
      val w = (col("doc_id") % 640 + 1).cast("int")
      val h = (col("doc_id") % 480 + 1).cast("int")
      val pngHex = concat(lit("89504E470D0A1A0A0000000D49484452"),
        lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"), lit("0806000000"))
      val jpgHex = concat(
        lit("FFD8FFE000104A46494600010100000100010000FFC0001108"),
        lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"), lit("03011100021101031101"))
      val gifHex = concat(lit("474946383961"), le16(w), le16(h), lit("F70000"))
      val bmpHex = concat(lit("424D"), le32(lit(28)), lit("00000000"),
        le32(lit(28)), lit("28000000"), le32(w), le32(h), lit("0100"))
      val m4 = col("doc_id") % 4
      val df = Tables.documents(s, dir).select(col("doc_id"),
        unhex(when(m4 === 0, pngHex).when(m4 === 1, jpgHex)
          .when(m4 === 2, gifHex).otherwise(bmpHex)).as("asset"))
      operators.Multimodal.withDecodedMeta(df, "asset")
        .select(col("doc_id"), col("asset_meta.format").as("format"),
          col("asset_meta.width").as("width"), col("asset_meta.height").as("height"))
        .orderBy("doc_id")
    },
      // build the SAME deterministic PNG/JPEG/GIF/BMP headers, then parse
      // the dimensions BACK out of the bytes (hex-substring arithmetic at
      // the fixed header offsets: PNG IHDR w/h at bytes 17-24 big-endian;
      // this JPEG layout's SOF0 h/w at bytes 26-29; GIF screen w/h at 6/8
      // LITTLE-endian; BMP w/h at 18/22 little-endian)
      s"""WITH b AS (SELECT doc_id,
           unhex(CASE doc_id % 4
             WHEN 0 THEN '89504E470D0A1A0A0000000D49484452'
               || lpad(to_hex(CAST(doc_id % 640 + 1 AS INTEGER)), 8, '0')
               || lpad(to_hex(CAST(doc_id % 480 + 1 AS INTEGER)), 8, '0')
               || '0806000000'
             WHEN 1 THEN 'FFD8FFE000104A46494600010100000100010000FFC0001108'
               || lpad(to_hex(CAST(doc_id % 480 + 1 AS INTEGER)), 4, '0')
               || lpad(to_hex(CAST(doc_id % 640 + 1 AS INTEGER)), 4, '0')
               || '03011100021101031101'
             WHEN 2 THEN '474946383961'
               || ${le16Sql("CAST(doc_id % 640 + 1 AS INTEGER)")}
               || ${le16Sql("CAST(doc_id % 480 + 1 AS INTEGER)")}
               || 'F70000'
             ELSE '424D' || ${le32Sql("28")} || '00000000' || ${le32Sql("28")}
               || '28000000'
               || ${le32Sql("CAST(doc_id % 640 + 1 AS INTEGER)")}
               || ${le32Sql("CAST(doc_id % 480 + 1 AS INTEGER)")}
               || '0100'
           END) AS asset FROM documents)
         SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                WHEN 2 THEN 'gif' ELSE 'bmp' END AS format,
           CASE doc_id % 4
             WHEN 0 THEN CAST(('0x' || substr(hex(asset), 33, 8)) AS INTEGER)
             WHEN 1 THEN CAST(('0x' || substr(hex(asset), 55, 4)) AS INTEGER)
             WHEN 2 THEN CAST(('0x' || substr(hex(asset), 15, 2) || substr(hex(asset), 13, 2)) AS INTEGER)
             ELSE CAST(('0x' || substr(hex(asset), 43, 2) || substr(hex(asset), 41, 2)
               || substr(hex(asset), 39, 2) || substr(hex(asset), 37, 2)) AS INTEGER) END AS width,
           CASE doc_id % 4
             WHEN 0 THEN CAST(('0x' || substr(hex(asset), 41, 8)) AS INTEGER)
             WHEN 1 THEN CAST(('0x' || substr(hex(asset), 51, 4)) AS INTEGER)
             WHEN 2 THEN CAST(('0x' || substr(hex(asset), 19, 2) || substr(hex(asset), 17, 2)) AS INTEGER)
             ELSE CAST(('0x' || substr(hex(asset), 51, 2) || substr(hex(asset), 49, 2)
               || substr(hex(asset), 47, 2) || substr(hex(asset), 45, 2)) AS INTEGER) END AS height
         FROM b ORDER BY doc_id"""),
    // (multimodal_profile — a pure groupBy rollup of multimodal_dims —
    // was cut in round 8 to pay for avi_frames under the board freeze:
    // the parse it audited is per-row-pinned by multimodal_dims)
    BoardQuery("multimodal_wav", (s, dir) => {
      // audio metadata without a codec: deterministic RIFF/WAVE headers
      // (channels/rate/payload size derived from doc_id), parsed back by
      // the chunk scan in the batched decode shape; duration from the
      // header's own byte-rate field
      val ch = (col("doc_id") % 2 + 1).cast("int")
      val rate = ((col("doc_id") % 3 + 1) * 8000).cast("int")
      val dataSz = (col("doc_id") % 9000 + 1000).cast("int")
      val byteRate = (rate * ch * 2).cast("int")
      val hexStr = concat(lit("52494646"), le32(dataSz + 36), lit("57415645"),
        lit("666D7420"), lit("10000000"), lit("0100"), le16(ch), le32(rate),
        le32(byteRate), le16(ch * 2), lit("1000"), lit("64617461"), le32(dataSz))
      val df = Tables.documents(s, dir)
        .select(col("doc_id"), unhex(hexStr).as("audio"))
      operators.Multimodal.withWavMeta(df, "audio")
        .select(col("doc_id"),
          col("wav_meta.channels").as("channels"),
          col("wav_meta.sample_rate").as("sample_rate"),
          expr("wav_meta.data_len * 1000 DIV wav_meta.byte_rate").as("duration_ms"))
        .orderBy("doc_id")
    },
      // RIFF/WAVE headers rebuilt field-for-field, then channels/rate/
      // data-size parsed BACK from the little-endian bytes at their fixed
      // offsets (22, 24, 28, 40); duration from the header's byte-rate
      s"""WITH p AS (SELECT doc_id,
           CAST(doc_id % 2 + 1 AS INTEGER) AS ch,
           CAST((doc_id % 3 + 1) * 8000 AS INTEGER) AS rate,
           CAST(doc_id % 9000 + 1000 AS INTEGER) AS ds FROM documents),
         b AS (SELECT doc_id,
           unhex('52494646' || ${le32Sql("ds + 36")} || '57415645'
             || '666D7420' || '10000000' || '0100' || ${le16Sql("ch")}
             || ${le32Sql("rate")} || ${le32Sql("rate * ch * 2")}
             || ${le16Sql("ch * 2")} || '1000' || '64617461'
             || ${le32Sql("ds")}) AS audio FROM p)
         SELECT doc_id,
           CAST(('0x' || substr(hex(audio), 47, 2) || substr(hex(audio), 45, 2)) AS INTEGER) AS channels,
           CAST(('0x' || substr(hex(audio), 55, 2) || substr(hex(audio), 53, 2)
             || substr(hex(audio), 51, 2) || substr(hex(audio), 49, 2)) AS INTEGER) AS sample_rate,
           CAST(('0x' || substr(hex(audio), 87, 2) || substr(hex(audio), 85, 2)
             || substr(hex(audio), 83, 2) || substr(hex(audio), 81, 2)) AS BIGINT) * 1000
             // CAST(('0x' || substr(hex(audio), 63, 2) || substr(hex(audio), 61, 2)
               || substr(hex(audio), 59, 2) || substr(hex(audio), 57, 2)) AS BIGINT) AS duration_ms
         FROM b ORDER BY doc_id"""),
    // REAL audio decode end-to-end: PCM16 WAV bytes synthesized from a
    // doc_id sample formula (with planted full-scale clipping), decoded
    // back to samples, integer amplitude/zero-cross/clip features — the
    // audio twin of multimodal_pixels; the oracle re-derives the FORMULA
    BoardQuery("audio_resample", (s, dir) => {
      // PCM16 decode → integer box decimation to 50 slots → per-slot hex
      // readout: the oracle re-derives every output sample from the sample
      // formula (truncating-division means — JVM / and DuckDB // agree,
      // negatives included), so a hash match proves decode AND resample
      // are sample-exact
      val assets = operators.Multimodal.syntheticWavAssets(Tables.documents(s, dir))
      operators.Multimodal.withResampledPcm(assets, "audio", m = 50)
        .select(col("doc_id"),
          col("resample_meta.n_samples").as("n_samples"),
          col("resample_meta.n_out").as("n_out"),
          col("resample_meta.pcm_hex").as("pcm_hex"))
        .orderBy("doc_id")
    },
      // independent re-derivation of the RESAMPLED stream from the sample
      // formula: slot j = (i*50)//n, value = truncating-division mean,
      // landed as the %04x unsigned-16 pattern per slot
      """WITH d AS (SELECT doc_id, CAST(200 + doc_id % 50 AS INT) AS n FROM documents),
         s AS (SELECT doc_id, n, i.i AS i,
             greatest(-32768, least(32767,
               CAST((doc_id*31 + i.i*17) % 70001 - 35000 AS BIGINT))) AS v
           FROM d, range(0, 250) i(i) WHERE i.i < n),
         slots AS (SELECT doc_id, n, (i * 50) // n AS j,
             CAST(SUM(v) // COUNT(*) AS BIGINT) AS sv
           FROM s GROUP BY doc_id, n, (i * 50) // n),
         hexes AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_samples,
             string_agg(printf('%04x', sv & 65535), '' ORDER BY j) AS pcm_hex
           FROM slots GROUP BY doc_id)
         SELECT doc_id, n_samples, 50 AS n_out, pcm_hex
         FROM hexes ORDER BY doc_id"""),
    BoardQuery("wav_features", (s, dir) => {
      val assets = operators.Multimodal.syntheticWavAssets(Tables.documents(s, dir))
      operators.Multimodal.withAudioFeatures(assets, "audio")
        .select(col("doc_id"),
          col("audio_meta.n_samples").as("n_samples"),
          col("audio_meta.mean_abs").as("mean_abs"),
          round(sqrt(col("audio_meta.sum_sq").cast("double") /
            col("audio_meta.n_samples").cast("double")), 4).as("rms"),
          col("audio_meta.zero_cross").as("zero_cross"),
          col("audio_meta.clip_count").as("clip_count"))
        .orderBy("doc_id")
    },
      // independent re-derivation from the SAMPLE FORMULA (never the
      // bytes): s_i = clamp((id*31 + i*17) % 70001 - 35000) — a hash match
      // proves the PCM16 encode→decode round trip is sample-exact
      """WITH d AS (SELECT doc_id, CAST(200 + doc_id % 50 AS INT) AS n FROM documents),
         s AS (SELECT doc_id, n, i.i AS i,
             greatest(-32768, least(32767,
               CAST((doc_id*31 + i.i*17) % 70001 - 35000 AS BIGINT))) AS v
           FROM d, range(0, 250) i(i) WHERE i.i < n),
         l AS (SELECT doc_id, n, i, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
         SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(SUM(abs(v)) // MAX(n) AS BIGINT) AS mean_abs,
           round(sqrt(CAST(SUM(v * v) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)), 4) AS rms,
           CAST(SUM(CASE WHEN pv IS NOT NULL AND
             ((pv < 0 AND v >= 0) OR (pv >= 0 AND v < 0)) THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
           CAST(SUM(CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END) AS BIGINT) AS clip_count
         FROM l GROUP BY doc_id ORDER BY doc_id"""),
    BoardQuery("multimodal_mp4", (s, dir) => {
      // video container metadata without a codec: deterministic ISO-BMFF
      // boxes (ftyp + moov/mvhd-v0 + a declared-only mdat, timescale/
      // duration/payload from doc_id), walked back by the generic box scan
      // in the batched decode shape; every asset reads truncated because
      // mdat's declared payload is never materialized — the header-only
      // crawl reality the gate exists for
      val ts = ((col("doc_id") % 3 + 1) * 600).cast("int")
      val dur = (col("doc_id") % 9000 + 600).cast("int")
      val mdatSz = (col("doc_id") % 5000 + 100).cast("int")
      val mvhd = concat(lit("0000006c"), lit("6d766864"),
        lit("00000000"), lit("00000000"), lit("00000000"), // ver/flags, ctime, mtime
        be32(ts), be32(dur),
        lit("00010000"), lit("0100"), lit("0000"), lit("0000000000000000"), // rate, vol, reserved
        lit("000100000000000000000000000000000001000000000000000000000000000040000000"), // unity matrix
        lit("000000000000000000000000000000000000000000000000"), // pre_defined
        lit("00000002")) // next_track_ID
      val hexStr = concat(
        lit("00000010"), lit("66747970"), lit("69736f6d"), lit("00000000"), // ftyp
        lit("00000074"), lit("6d6f6f76"), mvhd, // moov
        be32(mdatSz + 8), lit("6d646174")) // mdat header, payload declared only
      val df = Tables.documents(s, dir)
        .select(col("doc_id"), unhex(hexStr).as("video"))
      operators.Multimodal.withMp4Meta(df, "video")
        .select(col("doc_id"),
          col("mp4_meta.n_boxes").as("n_boxes"),
          col("mp4_meta.timescale").as("timescale"),
          col("mp4_meta.duration_ms").as("duration_ms"),
          col("mp4_meta.mdat_declared").as("mdat_declared"),
          col("mp4_meta.truncated").as("truncated"))
        .orderBy("doc_id")
    },
      // ISO-BMFF boxes rebuilt field-for-field (ftyp + moov/mvhd-v0 +
      // declared-only mdat), then timescale/duration/mdat parsed BACK from
      // the big-endian hex at their fixed offsets (bytes 44, 48, 132);
      // n_boxes is the walk's count over this 3-box layout; truncated
      // because mdat's payload is declared, never materialized
      s"""WITH p AS (SELECT doc_id,
           CAST((doc_id % 3 + 1) * 600 AS INTEGER) AS ts,
           CAST(doc_id % 9000 + 600 AS INTEGER) AS dur,
           CAST(doc_id % 5000 + 100 AS INTEGER) AS ms FROM documents),
         b AS (SELECT doc_id,
           '00000010' || '66747970' || '69736f6d' || '00000000'
           || '00000074' || '6d6f6f76'
           || '0000006c' || '6d766864' || '00000000' || '00000000' || '00000000'
           || lpad(to_hex(ts),8,'0') || lpad(to_hex(dur),8,'0')
           || '00010000' || '0100' || '0000' || '0000000000000000'
           || '000100000000000000000000000000000001000000000000000000000000000040000000'
           || '000000000000000000000000000000000000000000000000'
           || '00000002'
           || lpad(to_hex(ms + 8),8,'0') || '6d646174' AS h
           FROM p)
         SELECT doc_id,
           3 AS n_boxes,
           ('0x' || substr(h, 89, 8))::BIGINT AS timescale,
           (('0x' || substr(h, 97, 8))::BIGINT * 1000) // ('0x' || substr(h, 89, 8))::BIGINT AS duration_ms,
           ('0x' || substr(h, 265, 8))::BIGINT - 8 AS mdat_declared,
           (('0x' || substr(h, 265, 8))::BIGINT - 8) > 0 AS truncated
         FROM b ORDER BY doc_id"""),
    BoardQuery("mp4_tracks", (s, dir) => {
      // per-TRACK container walk (the tier below multimodal_mp4's movie
      // header): synthesize two-track moov subtrees — a video trak
      // (avc1/hev1 by doc_id parity) and an audio trak (mp4a) — with
      // doc_id-derived media timescale/duration, stts sample counts and a
      // 3-entry stss keyframe table, then recover every field through the
      // generic trak/mdia/stbl box walk (Multimodal.parseMp4Tracks). The
      // oracle rebuilds the same bytes and parses them back at the fixed
      // hex offsets, exactly the multimodal_wav discipline.
      val d = col("doc_id")
      val tsV = ((d % 3 + 1) * 1000).cast("int")
      val durV = (d % 9000 + 600).cast("int")
      val nsV = (d % 240 + 24).cast("int")
      val k2V = (d % 10 + 2).cast("int")
      val codecV = when(d % 2 === 0, lit("61766331")).otherwise(lit("68657631"))
      val tsA = ((d % 2 + 1) * 24000).cast("int")
      val durA = (d % 7000 + 500).cast("int")
      val nsA = (d % 500 + 50).cast("int")
      val k2A = (d % 20 + 2).cast("int")
      val msz = (d % 5000 + 100).cast("int")
      val mvhd = lit("0000006c6d766864000000000000000000000000" + // hdr+vf+ctime+mtime
        "000003e8" + "00002710" + "00010000" + "01000000" + "0000000000000000" +
        "000100000000000000000000000000000001000000000000000000000000000040000000" +
        "000000000000000000000000000000000000000000000000" + "00000002")
      val hexStr = concat(
        lit("000000106674797069736f6d00000000"),                 // ftyp
        lit("000002946d6f6f76"), mvhd,                           // moov(660) hdr + mvhd
        trakHex("00000001", "76696465", codecV, tsV, durV, nsV, k2V), // video
        trakHex("00000002", "736f756e", lit("6d703461"), tsA, durA, nsA, k2A), // audio
        be32(msz + 8), lit("6d646174"))                          // declared-only mdat
      val df = Tables.documents(s, dir)
        .select(col("doc_id"), unhex(hexStr).as("video"))
      operators.Multimodal.mp4Tracks(df, "doc_id", "video")
        .orderBy("doc_id", "track_id")
    },
      // two-track moov rebuilt field-for-field (video avc1/hev1 + audio
      // mp4a trak subtrees, fixed 272-byte layout), then every per-track
      // field parsed BACK from the big-endian hex at its fixed offset
      // relative to the trak base (bytes 132 / 404): track_id +28,
      // timescale +128, duration +132, handler 4cc +156, codec 4cc +208,
      // stts sample count +236, stss count/first/last +256/+260/+268
      s"""WITH p AS (SELECT doc_id,
           CAST((doc_id % 3 + 1) * 1000 AS INTEGER) AS tsv,
           CAST(doc_id % 9000 + 600 AS INTEGER) AS durv,
           CAST(doc_id % 240 + 24 AS INTEGER) AS nsv,
           CAST(doc_id % 10 + 2 AS INTEGER) AS k2v,
           CAST((doc_id % 2 + 1) * 24000 AS INTEGER) AS tsa,
           CAST(doc_id % 7000 + 500 AS INTEGER) AS dura,
           CAST(doc_id % 500 + 50 AS INTEGER) AS nsa,
           CAST(doc_id % 20 + 2 AS INTEGER) AS k2a,
           CAST(doc_id % 5000 + 100 AS INTEGER) AS msz FROM documents),
         b AS (SELECT doc_id,
           '000000106674797069736f6d00000000'
           || '000002946d6f6f76'
           || '0000006c6d766864000000000000000000000000'
           || '000003e8' || '00002710' || '00010000' || '01000000' || '0000000000000000'
           || '000100000000000000000000000000000001000000000000000000000000000040000000'
           || '000000000000000000000000000000000000000000000000' || '00000002'
           || ${trakHexSql("00000001", "76696465",
               "(CASE WHEN doc_id % 2 = 0 THEN '61766331' ELSE '68657631' END)",
               "tsv", "durv", "nsv", "k2v")}
           || ${trakHexSql("00000002", "736f756e", "'6d703461'",
               "tsa", "dura", "nsa", "k2a")}
           || lpad(to_hex(msz + 8),8,'0') || '6d646174' AS h
           FROM p),
         t AS (SELECT doc_id, h, 132 AS base FROM b
               UNION ALL SELECT doc_id, h, 404 AS base FROM b)
         SELECT doc_id,
           ('0x' || substr(h, base*2 + 57, 8))::BIGINT AS track_id,
           CASE substr(h, base*2 + 313, 8) WHEN '76696465' THEN 'vide'
             ELSE 'soun' END AS handler,
           CASE substr(h, base*2 + 417, 8) WHEN '61766331' THEN 'avc1'
             WHEN '68657631' THEN 'hev1' ELSE 'mp4a' END AS codec,
           ('0x' || substr(h, base*2 + 257, 8))::BIGINT AS timescale,
           (('0x' || substr(h, base*2 + 265, 8))::BIGINT * 1000)
             // ('0x' || substr(h, base*2 + 257, 8))::BIGINT AS duration_ms,
           ('0x' || substr(h, base*2 + 473, 8))::BIGINT AS n_samples,
           ('0x' || substr(h, base*2 + 513, 8))::BIGINT AS n_keyframes,
           ('0x' || substr(h, base*2 + 521, 8))::BIGINT AS kf_first,
           ('0x' || substr(h, base*2 + 537, 8))::BIGINT AS kf_last
         FROM t ORDER BY doc_id, track_id"""),
    BoardQuery("avi_frames", (s, dir) => {
      // REAL video-frame decode end-to-end (MJPEG-in-AVI — the public
      // format a pure-JVM engine can fully decode): encode 2..5 baseline
      // JPEG frames per doc, wrap them in a RIFF/AVI movi list, then
      // extract the frame table and parse each frame's SOF dims back
      // through the generic walk. The oracle re-derives count/dims from
      // the doc_id formula; the PIXEL loop (Jpeg decode, mean luma, dHash)
      // is lossy and therefore spec-pinned (AviMjpegSpec), not hashed.
      // doc_id < 2000 (the image_neardup convention): ~7k real JPEG
      // encode+decode round trips already exercise the tier; the full
      // 5k-doc corpus at sf0.1 just triples codec time on the bench
      val assets = operators.Multimodal.syntheticAviAssets(
        Tables.documents(s, dir).where(col("doc_id") < 2000))
      operators.Multimodal.aviFrames(assets, "doc_id", "video")
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          col("width"), col("height"))
        .orderBy("doc_id", "frame_idx")
    },
      // frame count and per-frame SOF dims re-derived from the doc_id
      // formula (the bytes are lossy JPEG, so the pixel loop is spec-
      // pinned; the container walk + header parse land here)
      """SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
         CAST(doc_id % 4 + 2 AS INTEGER) AS n_frames,
         CAST(doc_id % 8 + f % 3 + 9 AS INTEGER) AS width,
         CAST(doc_id % 7 + f % 2 + 8 AS INTEGER) AS height
         FROM documents, range(0, 5) r(f)
         WHERE f < doc_id % 4 + 2 AND doc_id < 2000
         ORDER BY doc_id, frame_idx"""),
    BoardQuery("multimodal_pixels", (s, dir) => {
      // REAL pixel decode end-to-end: synthesize BMP24 / PNG-RGB / PNG-gray
      // / GIF-gray assets whose pixels follow a doc_id formula
      // (Multimodal.synthPixel), run the full decoders (zlib inflate + all
      // five PNG unfilters; general variable-width LZW for GIF — the
      // encoder cycles filter types per row), and emit floor channel means
      // + the 9×8 box-downsampled dHash. The oracle reproduces the FORMULA,
      // never the bytes: a hash match proves encode→decode is pixel-exact.
      val assets = operators.Multimodal.syntheticAssets(Tables.documents(s, dir))
      operators.Multimodal.withDecodedPixels(assets, "asset")
        .select(col("doc_id"),
          col("pixel_meta.format").as("format"),
          col("pixel_meta.width").as("width"),
          col("pixel_meta.height").as("height"),
          col("pixel_meta.mean_r").as("mean_r"),
          col("pixel_meta.mean_g").as("mean_g"),
          col("pixel_meta.mean_b").as("mean_b"),
          col("pixel_meta.dhash_hi").as("dhash_hi"),
          col("pixel_meta.dhash_lo").as("dhash_lo"))
        .orderBy("doc_id")
    },
      // INDEPENDENT re-derivation from the pixel FORMULA (never the bytes):
      // channel c at (x,y) is (doc_id*7 + x*13 + y*31 + c*101) % 256, gray
      // uses c=0; floor means; dHash = 9×8 integer box-downsample of the
      // ITU-601 integer luma, bit (r,c) = cell<next, packed as hi/lo u32
      """WITH d AS (SELECT doc_id, CAST(doc_id % 8 + 9 AS INTEGER) AS w,
           CAST(doc_id % 7 + 8 AS INTEGER) AS h, doc_id % 4 AS f FROM documents),
         px AS (SELECT d.doc_id, d.w, d.h, d.f, tx.x, ty.y,
             (d.doc_id*7 + tx.x*13 + ty.y*31) % 256 AS r0,
             (d.doc_id*7 + tx.x*13 + ty.y*31 + 101) % 256 AS g0,
             (d.doc_id*7 + tx.x*13 + ty.y*31 + 202) % 256 AS b0
           FROM d, range(0, 16) tx(x), range(0, 14) ty(y)
           WHERE tx.x < d.w AND ty.y < d.h),
         ch AS (SELECT doc_id, w, h, f, x, y,
             -- f 2 (PNG gray) and f 3 (GIF gray palette) carry c=0 on all
             -- channels; BMP/PNG-RGB carry the three-channel formula
             CASE WHEN f >= 2 THEN r0 ELSE r0 END AS cr,
             CASE WHEN f >= 2 THEN r0 ELSE g0 END AS cg,
             CASE WHEN f >= 2 THEN r0 ELSE b0 END AS cb
           FROM px),
         lum AS (SELECT doc_id, w, h, f, x, y, cr, cg, cb,
             (299*cr + 587*cg + 114*cb) // 1000 AS luma FROM ch),
         means AS (SELECT doc_id, w, h, f,
             CAST(SUM(cr) // COUNT(*) AS BIGINT) AS mean_r,
             CAST(SUM(cg) // COUNT(*) AS BIGINT) AS mean_g,
             CAST(SUM(cb) // COUNT(*) AS BIGINT) AS mean_b
           FROM lum GROUP BY doc_id, w, h, f),
         cells AS (SELECT doc_id, (y*8)//h AS r, (x*9)//w AS c,
             CAST(SUM(luma) // COUNT(*) AS BIGINT) AS cl
           FROM lum GROUP BY doc_id, (y*8)//h, (x*9)//w),
         dh AS (SELECT doc_id, r, c, cl,
             lead(cl) OVER (PARTITION BY doc_id, r ORDER BY c) AS nx FROM cells),
         bits AS (SELECT doc_id, r, c,
             CASE WHEN cl < nx THEN 1 ELSE 0 END AS bit FROM dh WHERE c < 8),
         hash AS (SELECT doc_id,
             CAST(SUM(CASE WHEN r < 4 AND bit = 1
               THEN (CAST(1 AS BIGINT) << CAST(31 - (r*8+c) AS INTEGER)) ELSE 0 END) AS BIGINT) AS dhash_hi,
             CAST(SUM(CASE WHEN r >= 4 AND bit = 1
               THEN (CAST(1 AS BIGINT) << CAST(31 - ((r-4)*8+c) AS INTEGER)) ELSE 0 END) AS BIGINT) AS dhash_lo
           FROM bits GROUP BY doc_id)
         SELECT m.doc_id,
           CASE m.f WHEN 0 THEN 'bmp' WHEN 3 THEN 'gif' ELSE 'png' END AS format,
           m.w AS width, m.h AS height, m.mean_r, m.mean_g, m.mean_b,
           hash.dhash_hi, hash.dhash_lo
         FROM means m JOIN hash ON m.doc_id = hash.doc_id ORDER BY m.doc_id"""),
    BoardQuery("image_resize", (s, dir) => {
      // decode → integer box resize (area thumbnail) → per-cell readout:
      // the resized 4×4 luma grid lands as hex, so the oracle re-derives
      // every output pixel from the synthPixel formula — a hash match
      // proves decode AND resize are pixel-exact per cell
      val assets = operators.Multimodal.syntheticAssets(Tables.documents(s, dir))
      operators.Multimodal.withResizedLuma(assets, "asset", dw = 4, dh = 4)
        .select(col("doc_id"),
          col("resize_meta.format").as("format"),
          col("resize_meta.width").as("width"),
          col("resize_meta.height").as("height"),
          col("resize_meta.rw").as("rw"),
          col("resize_meta.rh").as("rh"),
          col("resize_meta.luma_hex").as("luma_hex"))
        .orderBy("doc_id")
    },
      // independent re-derivation of the RESIZED raster from the pixel
      // formula: per-cell channel means over the floor-index box partition
      // ((x*4)//w, (y*4)//h), then floor ITU-601 luma of the MEANS (gray
      // rides the same formula: luma(v,v,v) = v exactly)
      """WITH d AS (SELECT doc_id, CAST(doc_id % 8 + 9 AS INTEGER) AS w,
           CAST(doc_id % 7 + 8 AS INTEGER) AS h, doc_id % 4 AS f FROM documents),
         px AS (SELECT d.doc_id, d.w, d.h, d.f, tx.x, ty.y,
             (d.doc_id*7 + tx.x*13 + ty.y*31) % 256 AS r0,
             (d.doc_id*7 + tx.x*13 + ty.y*31 + 101) % 256 AS g0,
             (d.doc_id*7 + tx.x*13 + ty.y*31 + 202) % 256 AS b0
           FROM d, range(0, 16) tx(x), range(0, 14) ty(y)
           WHERE tx.x < d.w AND ty.y < d.h),
         ch AS (SELECT doc_id, w, h, f, x, y,
             r0 AS cr,
             CASE WHEN f >= 2 THEN r0 ELSE g0 END AS cg,
             CASE WHEN f >= 2 THEN r0 ELSE b0 END AS cb
           FROM px),
         cells AS (SELECT doc_id, w, h, f, (y*4)//h AS ry, (x*4)//w AS rx,
             CAST(SUM(cr) // COUNT(*) AS BIGINT) AS mr,
             CAST(SUM(cg) // COUNT(*) AS BIGINT) AS mg,
             CAST(SUM(cb) // COUNT(*) AS BIGINT) AS mb
           FROM ch GROUP BY doc_id, w, h, f, (y*4)//h, (x*4)//w),
         lum AS (SELECT doc_id, w, h, f, ry, rx,
             (299*mr + 587*mg + 114*mb) // 1000 AS lv FROM cells),
         hexes AS (SELECT doc_id, w, h, f,
             string_agg(printf('%02x', lv), '' ORDER BY ry, rx) AS luma_hex
           FROM lum GROUP BY doc_id, w, h, f)
         SELECT doc_id,
           CASE f WHEN 0 THEN 'bmp' WHEN 3 THEN 'gif' ELSE 'png' END AS format,
           w AS width, h AS height, 4 AS rw, 4 AS rh, luma_hex
         FROM hexes ORDER BY doc_id"""),
    BoardQuery("image_neardup", (s, dir) => {
      // perceptual near-dup: decode engineered 9×8 gray PNGs (same-family
      // images differ by ≤ 1 dHash bit), then Manku 4×16-bit pigeonhole
      // equi-join + popcount verify — no all-pairs anywhere
      val docs = Tables.documents(s, dir).where(col("doc_id") < 500)
      val hashed = operators.Multimodal
        .withDecodedPixels(operators.Multimodal.nearDupAssets(docs, 97), "asset")
        .select(col("doc_id"),
          col("pixel_meta.dhash_hi").as("hi"), col("pixel_meta.dhash_lo").as("lo"))
      operators.Multimodal.dHashPairs(hashed, maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
      // mirror of the 4×16-bit pigeonhole + popcount verify over dHashes
      // derived straight from the engineered 9×8 gray pattern (identity
      // downsample at exactly 9×8): base (g²·31+g·17+x·(23+g%7)+y·(5+g%5))
      // % 251, variant parity perturbs pixel (0,0) by +128 mod 251
      """WITH d AS (SELECT doc_id, doc_id % 97 AS g, (doc_id // 97) % 2 AS v
           FROM documents WHERE doc_id < 500),
         px AS (SELECT doc_id, tx.x, ty.y,
             CASE WHEN v = 1 AND tx.x = 0 AND ty.y = 0
               THEN ((g*g*31 + g*17 + tx.x*(23 + g%7) + ty.y*(5 + g%5)) % 251 + 128) % 251
               ELSE (g*g*31 + g*17 + tx.x*(23 + g%7) + ty.y*(5 + g%5)) % 251 END AS p
           FROM d, range(0, 9) tx(x), range(0, 8) ty(y)),
         bits AS (SELECT a.doc_id, a.y AS r, a.x AS c,
             CASE WHEN a.p < b.p THEN 1 ELSE 0 END AS bit
           FROM px a JOIN px b ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
           WHERE a.x < 8),
         hash AS (SELECT doc_id,
             CAST(SUM(CASE WHEN r < 4 AND bit = 1
               THEN (CAST(1 AS BIGINT) << CAST(31 - (r*8+c) AS INTEGER)) ELSE 0 END) AS BIGINT) AS hi,
             CAST(SUM(CASE WHEN r >= 4 AND bit = 1
               THEN (CAST(1 AS BIGINT) << CAST(31 - ((r-4)*8+c) AS INTEGER)) ELSE 0 END) AS BIGINT) AS lo
           FROM bits GROUP BY doc_id),
         blocks AS (SELECT doc_id, hi, lo, t.b_idx,
             CASE t.b_idx WHEN 0 THEN hi >> 16 WHEN 1 THEN hi & 65535
               WHEN 2 THEN lo >> 16 ELSE lo & 65535 END AS b_val
           FROM hash, unnest([0, 1, 2, 3]) t(b_idx)),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b
           FROM blocks a JOIN blocks b
             ON a.b_idx = b.b_idx AND a.b_val = b.b_val AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM (
           SELECT id_a, id_b,
             CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INTEGER) AS hamming
           FROM cand)
         WHERE hamming <= 3 ORDER BY id_a, id_b"""),
    // split-conformal 90% bands per event_type: calibration-half mean ±
    // the ceil((n+1)(1−α))-th abs residual, realized coverage on the eval
    // half — finite-sample distribution-free intervals for score gates
    BoardQuery("conformal_intervals", (s, dir) =>
      operators.Conformal.intervals(ev(s, dir), "event_type", "event_id", "value")
        .orderBy("event_type"),
      s"""${operators.Conformal.intervalsSql("events", "event_type", "event_id", "value")}
         ORDER BY event_type"""),
    // ordered first-occurrence pair support (PrefixSpan cut to length-2
    // over first occurrences): corpus collapses ONCE to (user, type,
    // first_ts); the pair join is per-user over that bounded relation
    BoardQuery("seq_support", (s, dir) =>
      operators.SeqMine.pairSupport(ev(s, dir), "user_id", "event_type", "ts")
        .orderBy("ante", "cons"),
      s"""${operators.SeqMine.pairSupportSql("events", "user_id", "event_type", "ts")}
         ORDER BY ante, cons"""),
    // NEAREST as-of: each purchase matched to the closest click on EITHER
    // side (exact ties resolve backward) — one keyed shuffle, two
    // in-partition sorts sharing the exchange
    BoardQuery("asof_nearest", (s, dir) => {
      val e = ev(s, dir)
      val p = e.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val c = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      operators.AsOfJoin.leftAsOfNearest(p, c, "user_id", "ts",
          Seq("event_id", "value"), "event_id")
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("right_event_id"), col("right_value"), col("matched_dir"))
        .orderBy("event_id")
    },
      // two native ASOF traversals (right rows deduped per (user, ts)
      // keeping the max event_id — the operator's tie-break), then the
      // same nearer-pick with ties to the backward match
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c0 AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
         c AS (SELECT event_id, user_id, ts, value FROM (
             SELECT c0.*, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
             FROM c0) WHERE rn = 1),
         bk AS (SELECT p.event_id, c.event_id AS r_id, c.value AS r_val, c.ts AS r_ts
                FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
         fw AS (SELECT p.event_id, c.event_id AS r_id, c.value AS r_val, c.ts AS r_ts
                FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts),
         m AS (SELECT p.event_id, p.user_id, p.ts,
             bk.r_id AS b_id, bk.r_val AS b_val, bk.r_ts AS b_ts,
             fw.r_id AS f_id, fw.r_val AS f_val, fw.r_ts AS f_ts,
             (bk.r_id IS NULL OR (fw.r_id IS NOT NULL
               AND epoch_ms(fw.r_ts) - epoch_ms(p.ts) < epoch_ms(p.ts) - epoch_ms(bk.r_ts))) AS pickfwd
           FROM p JOIN bk ON p.event_id = bk.event_id
                  JOIN fw ON p.event_id = fw.event_id)
         SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           CASE WHEN pickfwd THEN f_id ELSE b_id END AS right_event_id,
           CASE WHEN pickfwd THEN f_val ELSE b_val END AS right_value,
           CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
                WHEN pickfwd THEN 'fwd' ELSE 'back' END AS matched_dir
         FROM m ORDER BY event_id"""),
    // in-engine recall@10 of the IVF probe path vs exact brute cosine over
    // a 1%-of-ids query panel — the ANN quality regression test, now
    // oracle-checkable instead of spec-only
    BoardQuery("ann_recall", (s, dir) => {
      val (cents, index) = ivfArtifacts(s, dir)
      Similarity.annRecallPanel(cents, index, "vec_id", "embedding",
          queryMod = 100, k = 10, nProbe = 4)
        .orderBy("qid")
    },
      s"""${operators.Similarity.annRecallPanelSql("embeddings", "vec_id", "embedding",
        queryMod = 100, k = 10, nProbe = 4, nCentroids = 8, iters = 1, dim = 64, cosSql)}
         ORDER BY qid"""),
    // quantile normalization of per-doc length across sources onto the
    // pooled 21-point corpus profile — cross-source score comparability
    // before any global threshold
    BoardQuery("quantile_norm", (s, dir) =>
      operators.QuantileNorm.normalize(Tables.documents(s, dir),
        "doc_id", "source", "n_chars")
        .orderBy("doc_id"),
      s"""${operators.QuantileNorm.normalizeSql("documents", "doc_id", "source", "n_chars")}
         ORDER BY doc_id"""),
    // anytime-valid mSPRT A/B readout: p_always_valid stays correct under
    // continuous peeking — the sequential companion to ab_conversion's
    // fixed-n z statistic
    BoardQuery("msprt_ab", (s, dir) =>
      operators.EventSeq.msprtAb(ev(s, dir), "user_id", "event_type", "purchase"),
      operators.EventSeq.msprtAbSql("events", "user_id", "event_type", "purchase")),
    // Luhn-validated card-shape PII audit: per-doc synthesized 16-digit
    // candidates (even ids carry the correct check digit, odd ids an
    // off-by-one) — the checksum pass a bare digit-run regex cannot do
    BoardQuery("pii_luhn", (s, dir) => {
      val base = lpad(((col("doc_id") + lit(7)) * lit(7919L) % lit(1000000000000000L))
        .cast("string"), 15, "0")
      val check = operators.Privacy.luhnCheckDigit(base)
      val digit = when(col("doc_id") % 2 === 0, check)
        .otherwise((check + 1) % 10)
      val wrapped = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"), lit(" card "), base, digit.cast("string")).as("body"))
      operators.Privacy.luhnScan(wrapped, "doc_id", "body")
        .orderBy("doc_id", "candidate")
    }, {
      val base = "lpad(CAST((doc_id + 7) * 7919 % 1000000000000000 AS VARCHAR), 15, '0')"
      s"""WITH syn AS (SELECT doc_id, $base AS base,
           ${operators.Privacy.luhnCheckDigitSql(base)} AS chk
         FROM documents),
         wrapped AS (SELECT d.doc_id,
             d.text || ' card ' || s.base ||
             CAST(CASE WHEN d.doc_id % 2 = 0 THEN s.chk ELSE (s.chk + 1) % 10 END AS VARCHAR) AS body
           FROM documents d JOIN syn s ON d.doc_id = s.doc_id),
         cand AS (SELECT doc_id,
             unnest(regexp_extract_all(body, '\\d{13,19}')) AS candidate
           FROM wrapped)
         SELECT doc_id, candidate, ${operators.Privacy.luhnValidSql("candidate")} AS luhn_valid
         FROM cand ORDER BY doc_id, candidate"""
    }),
    // held-out unigram perplexity: model fit on the train split only, OOV
    // priced at the unseen mass — the honest deployment form of the
    // perplexity quality gate
    BoardQuery("heldout_ppl", (s, dir) =>
      TextAnalysis.heldoutPpl(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      operators.TextAnalysis.heldoutPplSql("documents", "doc_id", "text")),
    // fixed-n power analysis from the observed per-arm moments: the
    // required n per arm to detect a 5% lift at alpha=.05, power .8
    BoardQuery("power_planner", (s, dir) =>
      operators.EventSeq.powerPlanner(ev(s, dir), "user_id", "value"),
      operators.EventSeq.powerPlannerSql("events", "user_id", "value")),
    // seasonal-naive forecast eval with MASE scaling: does weekly
    // seasonality beat persistence, per event type?
    BoardQuery("mase_eval", (s, dir) =>
      operators.Temporal.maseEval(ev(s, dir), "event_type", "ts")
        .orderBy("event_type"),
      s"""${operators.Temporal.maseEvalSql("events", "event_type", "ts")}
         ORDER BY event_type"""),
    // per-type KS drift battery under Benjamini-Hochberg FDR control —
    // the multiple-testing correction a drift dashboard needs before
    // paging; per-group windows, then m-row BH step-up
    BoardQuery("bh_fdr", (s, dir) =>
      operators.Drift.ksDriftFdr(ev(s, dir), "event_type", "event_id", "value")
        .orderBy("rank"),
      s"""${operators.Drift.ksDriftFdrSql("events", "event_type", "event_id", "value")}
         ORDER BY rank"""),
    // reliability diagram + ECE of the NB source classifier on its
    // held-out split: is the confidence that gates corpus admission
    // actually calibrated?
    BoardQuery("ece_reliability", (s, dir) =>
      operators.Classify.nbReliability(Tables.documents(s, dir),
        "doc_id", "text", "source")
        .orderBy("bin"),
      operators.Classify.nbReliabilitySql("documents", "doc_id", "text", "source")),
    // two-period difference-in-differences on the md5 arms: per-user
    // post-minus-pre deltas difference out baselines AND the common shock
    BoardQuery("diff_in_diff", (s, dir) =>
      operators.Cuped.diffInDiff(ev(s, dir), "user_id", "ts", "value",
        splitMs = 1705363200000L),
      operators.Cuped.diffInDiffSql("events", "user_id", "ts", "value",
        splitMs = 1705363200000L)),
    // structural format triage (json/xml/csv/markdown/plain) over a
    // deterministically container-wrapped corpus — the sniffer recovers
    // the wrapper, self-validating in both engines
    BoardQuery("format_sniff", (s, dir) =>
      operators.FormatSniff.sniff(
        operators.FormatSniff.withWrapped(Tables.documents(s, dir),
          "doc_id", "text", "lang", "n_chars"),
        "doc_id", "raw")
        .orderBy("doc_id"),
      s"""${operators.FormatSniff.wrappedSniffSql("documents", "doc_id", "text", "lang", "n_chars")}
         ORDER BY doc_id"""),
    // GROUPING SETS (rollup/cube's general form): the source×lang mixture
    // tally at four chosen granularities in ONE Expand pass
    BoardQuery("grouping_sets_mix", (s, dir) =>
      Tables.documents(s, dir)
        .groupingSets(
          Seq(Seq(col("source"), col("lang")), Seq(col("source")),
            Seq(col("lang")), Seq()),
          col("source"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first),
      """SELECT source, lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
         ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST"""),
    // corpus BLEU-4 against a deterministically thinned hypothesis (drop
    // every k-th token, k keyed on doc_id) — integer clipped n-gram counts
    // end to end, floating point only in the final BP/geometric mean
    BoardQuery("bleu_eval", (s, dir) =>
      operators.TextEval.bleuEval(Tables.documents(s, dir), "doc_id", "text"),
      operators.TextEval.bleuEvalSql("documents", "doc_id", "text")),
    // graded-relevance ranking quality: NDCG@10 of the BM25 ranker over a
    // 3-query panel, ideal ranking derived from the grade histogram (no
    // per-query corpus sort)
    BoardQuery("ndcg_eval", (s, dir) =>
      operators.Search.ndcgAtK(Tables.documents(s, dir), "doc_id", "text",
        NdcgPanel),
      operators.Search.ndcgAtKSql("documents", "doc_id", "text", NdcgPanel)),
    // blocked Jaro-Winkler entity resolution over distinct part names —
    // the native expression Spark lacks, verified bit-for-bit against
    // DuckDB's jaro_winkler_similarity
    BoardQuery("jw_linkage", (s, dir) =>
      operators.Linkage.jaroWinklerPairs(Tables.part(s, dir), "p_name"),
      operators.Linkage.jaroWinklerPairsSql("part", "p_name")),
    // Holt double exponential smoothing of per-type daily counts (level +
    // trend state), gap days as zeros; fixed-op-order double fold ==
    // DuckDB recursive CTE
    BoardQuery("holt_linear", (s, dir) =>
      operators.Temporal.holtLinear(ev(s, dir), "event_type", "ts"),
      operators.Temporal.holtLinearSql("events", "event_type", "ts")),
    // Simpson concentration / effective vocabulary per source — the
    // integer-exact head-heaviness diagnostic next to Shannon entropy
    BoardQuery("simpson_diversity", (s, dir) =>
      operators.TextAnalysis.simpsonDiversity(Tables.documents(s, dir),
        "source", "text"),
      operators.TextAnalysis.simpsonDiversitySql("documents", "source", "text")),
    // ROUGE-1/2 over the same thinned hypothesis as bleu_eval — recall
    // against the REFERENCE total, the summarization-side denominator
    BoardQuery("rouge_eval", (s, dir) =>
      operators.TextEval.rougeEval(Tables.documents(s, dir), "doc_id", "text"),
      operators.TextEval.rougeEvalSql("documents", "doc_id", "text")),
    // chrF (β=2) — tokenizer-free character n-gram F over the same pair;
    // per-n rows plus the n=0 macro-average summary row
    BoardQuery("chrf_eval", (s, dir) =>
      operators.TextEval.chrfEval(Tables.documents(s, dir), "doc_id", "text"),
      operators.TextEval.chrfEvalSql("documents", "doc_id", "text")),
    // rank-sum A/B on purchase values: tie-corrected Mann-Whitney z plus
    // Cliff's delta, folded over the value TYPE TABLE (no global row rank)
    BoardQuery("mann_whitney", (s, dir) =>
      operators.EventSeq.mannWhitney(ev(s, dir), "user_id", "event_type",
        "value", convType = "purchase"),
      operators.EventSeq.mannWhitneySql("events", "user_id", "event_type",
        "value", convType = "purchase")),
    // Hirsch-Slack seasonal MK: per-day-of-week trend pairs, combined S
    // and variance — drift under weekly cycles, 7× less pair fan-out
    BoardQuery("seasonal_mk", (s, dir) =>
      operators.Temporal.seasonalMannKendall(ev(s, dir), "event_type", "ts"),
      operators.Temporal.seasonalMannKendallSql("events", "event_type", "ts")),
    // byte-level quality floor: per-doc character entropy in bits
    BoardQuery("char_entropy", (s, dir) =>
      operators.TextAnalysis.charEntropy(Tables.documents(s, dir),
        "doc_id", "text"),
      operators.TextAnalysis.charEntropySql("documents", "doc_id", "text")),
    // length-invariant lexical diversity over fixed 50-token windows
    BoardQuery("mattr_ttr", (s, dir) =>
      operators.TextAnalysis.mattr(Tables.documents(s, dir), "doc_id", "text"),
      operators.TextAnalysis.mattrSql("documents", "doc_id", "text")),
    // stylometric source distance: z-scored top-k word profiles
    BoardQuery("burrows_delta", (s, dir) =>
      operators.TextAnalysis.burrowsDelta(Tables.documents(s, dir),
        "source", "text"),
      operators.TextAnalysis.burrowsDeltaSql("documents", "source", "text")),
    // paragraph-granularity dedup audit: cross-doc duplicated paragraph
    // mass per source (the boilerplate share a para-dedup pass deletes)
    BoardQuery("para_dedup", (s, dir) =>
      operators.Dedup.paraDedup(Tables.documents(s, dir), "doc_id",
        "source", "text"),
      operators.Dedup.paraDedupSql("documents", "doc_id", "source", "text")),
    // imbalance-honest classifier card for the langid heuristic: accuracy,
    // macro-F1, multiclass Matthews correlation off one confusion matrix
    BoardQuery("mcc_eval", (s, dir) =>
      operators.Classify.mccEval(
        Tables.documents(s, dir).select(col("lang"),
          operators.TextAnalysis.langId(col("text")).as("pred")),
        "lang", "pred"),
      operators.Classify.mccEvalSql(
        s"SELECT lang, ${operators.TextAnalysis.langIdSql("text")} AS pred FROM documents",
        "lang", "pred")),
    // do sources differ in MEAN length — F and eta^2 from DECIMAL moments
    BoardQuery("anova_length", (s, dir) =>
      operators.Anova.oneWay(Tables.documents(s, dir), "source", "n_chars"),
      operators.Anova.oneWaySql("documents", "source", "n_chars")),
    // ...and in SPREAD — Brown-Forsythe on |x − group median|
    BoardQuery("levene_test", (s, dir) =>
      operators.Anova.brownForsythe(Tables.documents(s, dir), "source",
        "n_chars"),
      operators.Anova.brownForsytheSql("documents", "source", "n_chars")),
    // whiteness gate: Ljung-Box portmanteau over the autocorr_daily panel
    BoardQuery("ljung_box", (s, dir) =>
      operators.Temporal.ljungBox(ev(s, dir), "event_type", "ts"),
      operators.Temporal.ljungBoxSql("events", "event_type", "ts")),
    // tie-corrected rank correlation WITHOUT ranking rows: tau-b from the
    // bucketed contingency grid (chars x tokens)
    BoardQuery("kendall_tau", (s, dir) =>
      operators.Correlation.kendallTauGrid(Tables.documents(s, dir),
        col("n_chars"),
        operators.TextAnalysis.tokenCount(trim(col("text"))),
        xWidth = 100L, yWidth = 20L),
      operators.Correlation.kendallTauGridSql(
        """SELECT n_chars AS x,
           len(string_split_regex(trim(text),'\s+')) AS y FROM documents""",
        xWidth = 100L, yWidth = 20L)),
    // Dunning G2 bigram collocations — count-weighted evidence where PMI
    // explodes at low counts
    BoardQuery("collocation_llr", (s, dir) =>
      operators.TextAnalysis.collocationLlr(Tables.documents(s, dir),
        "doc_id", "text"),
      operators.TextAnalysis.collocationLlrSql("documents", "doc_id", "text")),
    // 1-in-52-weeks peak-day estimate: Gumbel MOM fit on weekly block
    // maxima of the dense daily grid
    BoardQuery("extreme_value", (s, dir) =>
      operators.Temporal.extremeValue(ev(s, dir), "event_type", "ts"),
      operators.Temporal.extremeValueSql("events", "event_type", "ts")),
    // clique-like vs bridge near-dups: Watts-Strogatz local clustering
    // per node over the near-dup pair graph
    BoardQuery("clustering_coeff", (s, dir) =>
      operators.Graph.localClustering(nearDupPairsBuilt(s, dir)),
      operators.Graph.localClusteringSql(
        s"""$nearDupCtes,
         ep AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2)""")),
    // nonparametric repeated-measures: do event types consistently
    // out-rank each other across days (integer doubled-rank algebra)
    BoardQuery("friedman_test", (s, dir) =>
      operators.Temporal.friedmanTest(ev(s, dir), "event_type", "ts"),
      operators.Temporal.friedmanTestSql("events", "event_type", "ts")),
    // additive inequality split: how much length inequality is
    // source-vs-source (mixture problem) vs inside sources (filter problem)
    BoardQuery("theil_decomp", (s, dir) =>
      operators.Audit.theilDecomp(Tables.documents(s, dir), "source",
        "n_chars"),
      operators.Audit.theilDecompSql("documents", "source", "n_chars")),
    // long-range dependence of daily load: rescaled-range Hurst slope
    BoardQuery("hurst_exponent", (s, dir) =>
      operators.Temporal.hurstExponent(ev(s, dir), "event_type", "ts"),
      operators.Temporal.hurstExponentSql("events", "event_type", "ts")),
    // nonparametric one-way: does any source's LENGTH DISTRIBUTION sit
    // higher, without anova_length's normality assumption (doubled-rank
    // histogram algebra, no per-row rank window)
    BoardQuery("kruskal_wallis", (s, dir) =>
      operators.Anova.kruskalWallis(Tables.documents(s, dir), "source",
        "n_chars"),
      operators.Anova.kruskalWallisSql("documents", "source", "n_chars")),
    // normality gate per event type: skew/kurtosis moments → JB ~ χ²(2);
    // the check before any z/t readout leans on its approximation
    BoardQuery("jarque_bera", (s, dir) =>
      operators.Robust.jarqueBera(ev(s, dir), "event_type", "value"),
      operators.Robust.jarqueBeraSql("events", "event_type", "value")),
    // paired gate strictness: among filter_agreement's disagreements, is
    // one gate systematically stricter (continuity-corrected McNemar)
    BoardQuery("mcnemar_gates", (s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Audit.mcnemarGates(
        TextAnalysis.gopherRules(docs, "doc_id", "text")
          .select(col("doc_id"), col("keep")),
        TextAnalysis.tokenEntropy(docs, "doc_id", "text")
          .select(col("doc_id"), (col("entropy") >= 3.1).as("keep_e")),
        "doc_id", "keep", "keep_e")
    },
      s"""WITH ga AS (SELECT doc_id, keep AS a FROM (
             ${TextAnalysis.gopherRulesSql("documents", "doc_id", "text")})),
         gb AS (SELECT doc_id, entropy >= 3.1 AS b FROM (
             ${TextAnalysis.tokenEntropySql("documents", "doc_id", "text")})),
         ${operators.Audit.mcnemarGatesSql("doc_id")}"""),
    // gate-panel omnibus: do the three quality gates pass different
    // fractions of the same docs (Cochran's Q over k=3 booleans)
    BoardQuery("cochran_q", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val g1 = docs.select(col("doc_id"), (col("n_chars") >= 200).as("g1"))
      val g2 = TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("g2"))
      val g3 = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
        .select(col("doc_id"), (col("entropy") >= 3.1).as("g3"))
      operators.Audit.cochranQ(
        g1.join(g2, "doc_id").join(g3, "doc_id"), "doc_id",
        Seq("g1", "g2", "g3"))
    },
      s"""WITH gl AS (SELECT doc_id, n_chars >= 200 AS g1 FROM documents),
         gr AS (SELECT doc_id, keep AS g2 FROM (
             ${TextAnalysis.gopherRulesSql("documents", "doc_id", "text")})),
         ge AS (SELECT doc_id, entropy >= 3.1 AS g3 FROM (
             ${TextAnalysis.tokenEntropySql("documents", "doc_id", "text")})),
         gj AS (SELECT gl.doc_id, g1, g2, g3
           FROM gl JOIN gr USING (doc_id) JOIN ge USING (doc_id)),
         ${operators.Audit.cochranQSql(3)}"""),
    // exchangeability gate per type: runs of above/below-median days vs
    // the randomness expectation — regime clustering or oscillation
    BoardQuery("runs_test", (s, dir) =>
      operators.Temporal.runsTest(ev(s, dir), "event_type", "ts"),
      operators.Temporal.runsTestSql("events", "event_type", "ts")),
    // concordance effect size on the friedman fold: how STRONGLY days
    // agree on the key ordering, on [0,1]
    BoardQuery("kendall_w", (s, dir) =>
      operators.Temporal.kendallW(ev(s, dir), "event_type", "ts"),
      operators.Temporal.kendallWSql("events", "event_type", "ts")),
    // dedup recall without labels: Chapman capture-recapture over the
    // LSH and SimHash catches — how many near-dup pairs exist UNSEEN
    BoardQuery("capture_recapture", (s, dir) =>
      operators.Dedup.captureRecapture(
        nearDupPairsBuilt(s, dir).where(col("jaccard") >= 0.2),
        operators.Dedup.simhashPairs(Tables.documents(s, dir), "doc_id",
          "text", maxHamming = 3)),
      s"""WITH $nearDupCtes,
         epa AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         t2 AS (SELECT doc_id,
           list_transform(string_split_regex(trim(text),'\\s+'), w -> CAST('0x'||substr(md5(w),1,16) AS UBIGINT)) AS hs
           FROM documents),
         sh2 AS (SELECT doc_id, lpad(lower(to_hex(CAST(list_sum(list_transform(range(0,64), b ->
             CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h>>b)&1=1 THEN 1 ELSE -1 END)) > 0
                  THEN (CAST(1 AS UBIGINT)<<b) ELSE CAST(0 AS UBIGINT) END)) AS UBIGINT))),16,'0') AS simhash
           FROM t2),
         v2 AS (SELECT doc_id,
             CAST('0x'||substr(simhash,1,8) AS BIGINT) AS hi,
             CAST('0x'||substr(simhash,9,8) AS BIGINT) AS lo FROM sh2),
         epb AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM v2 a JOIN v2 b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
         ${operators.Dedup.captureRecaptureSql()}"""),
    // multiplicative-scale A/B readout: OR/RR with Woolf CI over the
    // same per-user 2x2 as ab_conversion
    BoardQuery("odds_ratio", (s, dir) =>
      operators.EventSeq.oddsRatio(ev(s, dir), "user_id", "event_type",
        convType = "purchase"),
      operators.EventSeq.oddsRatioSql("events", "user_id", "event_type",
        convType = "purchase")),
    // is daily traffic Poisson? variance-to-mean index with χ² gate —
    // the assumption every rate threshold silently makes
    BoardQuery("dispersion_test", (s, dir) =>
      operators.Temporal.dispersionTest(ev(s, dir), "event_type", "ts"),
      operators.Temporal.dispersionTestSql("events", "event_type", "ts")),
    // co-audience association per type pair: support/confidence/lift +
    // audience jaccard over per-user distinct type sets
    BoardQuery("basket_lift", (s, dir) =>
      operators.EventSeq.basketLift(ev(s, dir), "user_id", "event_type"),
      operators.EventSeq.basketLiftSql("events", "user_id", "event_type")),
    // tail CLASS per type: POT/GPD shape over all p90 exceedances —
    // bounded vs exponential vs heavy, which Gumbel assumes away
    BoardQuery("pot_tail", (s, dir) =>
      operators.Temporal.potTail(ev(s, dir), "event_type", "ts"),
      operators.Temporal.potTailSql("events", "event_type", "ts")),
    // SPC individuals chart: moving-range limits x̄ ± 2.66·MRbar per
    // type, violation count — drift-immune unlike a global ±3σ band
    BoardQuery("xmr_chart", (s, dir) =>
      operators.Temporal.xmrChart(ev(s, dir), "event_type", "ts"),
      operators.Temporal.xmrChartSql("events", "event_type", "ts")),
    // cluster-overlap validity: per-cluster worst scatter/separation
    // ratio over the trained IVF — the pairwise companion to silhouette
    BoardQuery("davies_bouldin", (s, dir) => {
      val (cents, index) = ivfArtifacts(s, dir)
      operators.Similarity.daviesBouldin(cents, index, "vec_id", "embedding")
    }, {
      val (kmCtes, cent) = operators.Similarity.kmeansCentSqlCtes(
        "embeddings", "vec_id", "embedding", nCentroids = 8, iters = 1,
        dim = 64, cosSql)
      s"""WITH $kmCtes,
         assign AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
             FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1),
         ${operators.Similarity.daviesBouldinSql(cent, "embeddings",
           "vec_id", "embedding", cosSql)}"""
    }),
    // boxplot-rule outliers per type: asymmetric 1.5/3-IQR fence counts
    // on event values — the dashboard-standard complement to MAD
    BoardQuery("tukey_fences", (s, dir) =>
      operators.Robust.tukeyFences(ev(s, dir), "event_type", "value"),
      operators.Robust.tukeyFencesSql("events", "event_type", "value")),
    // dose-response gate audit: does keep-rate trend monotonically with
    // length bucket (Cochran-Armitage linear contrast)
    BoardQuery("trend_test", (s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Audit.trendTest(
        docs.select(col("doc_id"),
            least(floor(col("n_chars") / 100), lit(5)).as("bucket"))
          .join(TextAnalysis.gopherRules(docs, "doc_id", "text")
            .select(col("doc_id"), col("keep")), "doc_id"),
        "bucket", "keep")
    },
      s"""WITH tb AS (SELECT d.doc_id,
             least(CAST(floor(n_chars / 100) AS BIGINT), 5) AS bucket, keep
           FROM documents d JOIN (
             ${TextAnalysis.gopherRulesSql("documents", "doc_id", "text")}) g
             ON d.doc_id = g.doc_id),
         ${operators.Audit.trendTestSql("tb", "bucket", "keep")
            .stripPrefix("WITH ")}"""),
    // rank-sensitive ranker audit, per-query AP/MRR rows over the shared
    // ndcg panel — what a ranker regression gate actually tracks (the
    // single-query map_eval variant was cut in round 8: strictly subsumed
    // by this panel, and the board is held at its bench-window ceiling)
    BoardQuery("map_panel", (s, dir) =>
      operators.Search.apEvalPanel(Tables.documents(s, dir), "doc_id",
        "text", NdcgPanel),
      s"""SELECT * FROM (
         ${NdcgPanel.map { case (name, terms) =>
           s"(${mapEvalSqlFor(terms, Some(name))})"
         }.mkString("\n         UNION ALL ")}
         ) ORDER BY query"""),
    // when do we lose users: per-lifetime-age churn hazard — localizes
    // the drop the KM curve smooths over
    BoardQuery("churn_hazard", (s, dir) =>
      operators.EventSeq.churnHazard(ev(s, dir), "user_id", "ts"),
      operators.EventSeq.churnHazardSql("events", "user_id", "ts")),
    // does the gate panel cohere as ONE quality axis (Cronbach's α over
    // the three boolean gates as items)
    BoardQuery("cronbach_alpha", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val g1 = docs.select(col("doc_id"), (col("n_chars") >= 200).as("g1"))
      val g2 = TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("g2"))
      val g3 = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
        .select(col("doc_id"), (col("entropy") >= 3.1).as("g3"))
      operators.Audit.cronbachAlpha(
        g1.join(g2, "doc_id").join(g3, "doc_id"), "doc_id",
        Seq("g1", "g2", "g3"))
    },
      s"""WITH gl AS (SELECT doc_id, n_chars >= 200 AS g1 FROM documents),
         gr AS (SELECT doc_id, keep AS g2 FROM (
             ${TextAnalysis.gopherRulesSql("documents", "doc_id", "text")})),
         ge AS (SELECT doc_id, entropy >= 3.1 AS g3 FROM (
             ${TextAnalysis.tokenEntropySql("documents", "doc_id", "text")})),
         gj AS (SELECT gl.doc_id, g1, g2, g3
           FROM gl JOIN gr USING (doc_id) JOIN ge USING (doc_id)),
         ${operators.Audit.cronbachAlphaSql(3)}"""),
    // collinearity audit: entropy~length with token count held fixed —
    // first-order partial correlation over one moment scan
    BoardQuery("partial_corr", (s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Audit.partialCorr(
        docs.select(col("doc_id"), col("n_chars"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"))
          .join(TextAnalysis.tokenEntropy(docs, "doc_id", "text")
            .select(col("doc_id"), col("entropy")), "doc_id"),
        "entropy", "n_chars", "n_tokens")
    },
      operators.Audit.partialCorrSql(
        s"""(SELECT e.entropy, d.n_chars,
             len(string_split_regex(trim(d.text),'\\s+')) AS n_tokens
           FROM documents d JOIN (
             ${TextAnalysis.tokenEntropySql("documents", "doc_id", "text")}) e
             ON d.doc_id = e.doc_id)""",
        "entropy", "n_chars", "n_tokens")),
    // assignment integrity: χ² of the md5 arm split vs designed 50/50 —
    // run before believing any A/B readout
    BoardQuery("srm_check", (s, dir) =>
      operators.EventSeq.srmCheck(ev(s, dir), "user_id"),
      operators.EventSeq.srmCheckSql("events", "user_id")),
    // stakeholder-scale A/B: Beta-Binomial posterior means + P(A>B) via
    // the A&S erf polynomial (bit-consistent in both engines)
    BoardQuery("bayes_ab", (s, dir) =>
      operators.EventSeq.bayesAb(ev(s, dir), "user_id", "event_type",
        convType = "purchase"),
      operators.EventSeq.bayesAbSql("events", "user_id", "event_type",
        convType = "purchase")),
    // one-number serial-correlation gate: von Neumann successive-
    // difference ratio per type (η ≈ 2 under randomness)
    BoardQuery("von_neumann", (s, dir) =>
      operators.Temporal.vonNeumann(ev(s, dir), "event_type", "ts"),
      operators.Temporal.vonNeumannSql("events", "event_type", "ts")),
    // ratio metrics done right: delta-method z on revenue-per-purchase
    // between arms (per-user pairs, not per-event rows)
    BoardQuery("ratio_metric_ab", (s, dir) =>
      operators.EventSeq.ratioMetricAb(ev(s, dir), "user_id", "event_type",
        "value", convType = "purchase"),
      operators.EventSeq.ratioMetricAbSql("events", "user_id", "event_type",
        "value", convType = "purchase")),
    // is the series ACTUALLY weekly / trending: Hyndman F_s/F_t strength
    // dials over the stl_decompose parts, per type
    BoardQuery("seasonal_strength", (s, dir) =>
      operators.Temporal.seasonalStrength(ev(s, dir), "event_type", "ts"),
      operators.Temporal.seasonalStrengthSql("events", "event_type", "ts")),
    // imbalance-honest ranking quality: PR-AUC (average precision) of
    // the entropy score against gopher keep — ROC AUC's blind spot
    BoardQuery("pr_auc", (s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Audit.prAuc(
        TextAnalysis.tokenEntropy(docs, "doc_id", "text")
          .select(col("doc_id"), col("entropy"))
          .join(TextAnalysis.gopherRules(docs, "doc_id", "text")
            .select(col("doc_id"), col("keep")), "doc_id"),
        "doc_id", "entropy", "keep")
    },
      operators.Audit.prAucSql(
        s"""SELECT e.doc_id, e.entropy, g.keep
            FROM (${TextAnalysis.tokenEntropySql("documents", "doc_id", "text")}) e
            JOIN (${TextAnalysis.gopherRulesSql("documents", "doc_id", "text")}) g
              ON e.doc_id = g.doc_id""",
        "doc_id", "entropy", "keep")),
    // regularized keyness: Monroe log-odds with informative Dirichlet
    // prior between md5-half snapshots — shrunken effect + per-word z,
    // where raw log-odds ranks rare-word noise first
    BoardQuery("logodds_keyness", (s, dir) =>
      operators.TextAnalysis.logoddsKeyness(Tables.documents(s, dir),
        "doc_id", "text"),
      operators.TextAnalysis.logoddsKeynessSql("documents", "doc_id",
        "text")),
    // axiomatic channel credit: exact Shapley over exposure-set
    // coalitions (2^4 grid) — the symmetric/efficient split last-touch
    // and Markov removal both approximate from different angles
    BoardQuery("shapley_attribution", (s, dir) =>
      operators.Attribution.shapley(ev(s, dir), "user_id", "event_type",
        convType = "purchase", nChannels = 4),
      operators.Attribution.shapleySql("events", "user_id", "event_type",
        convType = "purchase", nChannels = 4)),
    // rebuild-risk number: adjusted Rand index between IVF trainings
    // from disjoint seed sets — are the clusters data or seed artifacts
    BoardQuery("ivf_stability", (s, dir) =>
      operators.Similarity.ivfStability(Tables.embeddings(s, dir),
        "vec_id", "embedding", nCentroids = 8, kmeansIters = 1),
      operators.Similarity.ivfStabilitySql("embeddings", "vec_id",
        "embedding", nCentroids = 8, iters = 1, dim = 64, cosSql)),
    // the product pulse: exact DAU/WAU/MAU + stickiness via a bounded
    // 28-day fan-out of the user-day relation
    BoardQuery("active_users", (s, dir) =>
      operators.EventSeq.activeUsers(ev(s, dir), "user_id", "ts"),
      operators.EventSeq.activeUsersSql("events", "user_id", "ts")),
    // magnitude companions to the tests: Cohen's h (proportions) and d
    // (values) between the md5 arms in one row
    BoardQuery("effect_sizes", (s, dir) =>
      operators.EventSeq.effectSizes(ev(s, dir), "user_id", "event_type",
        "value", convType = "purchase"),
      operators.EventSeq.effectSizesSql("events", "user_id", "event_type",
        "value", convType = "purchase")),
    // mix-shift-corrected A/B: raw vs post-stratified diff over the
    // first-activity-dow strata — disagreement = the raw read was
    // confounded
    BoardQuery("post_strat", (s, dir) =>
      operators.EventSeq.postStrat(ev(s, dir), "user_id", "event_type",
        "ts", convType = "purchase"),
      operators.EventSeq.postStratSql("events", "user_id", "event_type",
        "ts", convType = "purchase")),
    // the aggregation-artifact alarm: do all strata agree on a sign the
    // pooled diff contradicts
    BoardQuery("simpsons_check", (s, dir) =>
      operators.EventSeq.simpsonsCheck(ev(s, dir), "user_id", "event_type",
        "ts", convType = "purchase"),
      operators.EventSeq.simpsonsCheckSql("events", "user_id", "event_type",
        "ts", convType = "purchase")),
    // length-invariant vocabulary richness per source (Yule's K over the
    // frequency-of-frequencies spectrum)
    BoardQuery("yule_k", (s, dir) =>
      TextAnalysis.yuleK(Tables.documents(s, dir), "source", "text"),
      TextAnalysis.yuleKSql("documents", "source", "text")),
    // which terms CLUMP into few docs vs scatter (Church-Gale df vs
    // Poisson expectation) — the term-level topical/boilerplate signal
    BoardQuery("term_burstiness", (s, dir) =>
      TextAnalysis.termBurstiness(Tables.documents(s, dir), "doc_id",
        "text"),
      TextAnalysis.termBurstinessSql("documents", "doc_id", "text")),
    // foundation audit: χ²(255) uniformity of the md5 bucketing every
    // split/arm/salt on this board relies on, over real user ids
    BoardQuery("hash_uniformity", (s, dir) =>
      operators.Audit.hashUniformity(ev(s, dir), "user_id"),
      operators.Audit.hashUniformitySql("events", "user_id")),
    // dense-template mass: 2-/3-core of the near-dup graph — clique-like
    // boilerplate vs star fan-out, which pair counts can't separate
    BoardQuery("kcore_dups", (s, dir) =>
      operators.Graph.kcore(nearDupPairsBuilt(s, dir)),
      operators.Graph.kcoreSql(
        s"""$nearDupCtes,
         ep AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2)""")),
    // parametric variance homogeneity (powerful under normality, fragile
    // off it — run after jarque_bera): Bartlett vs levene_test's robust F
    BoardQuery("bartlett_test", (s, dir) =>
      operators.Anova.bartlett(Tables.documents(s, dir), "source",
        "n_chars"),
      operators.Anova.bartlettSql("documents", "source", "n_chars")),
    // heteroscedastic mean comparison: Welch's W* over event values per
    // type — the ANOVA to trust when bartlett/levene reject
    BoardQuery("welch_anova", (s, dir) =>
      operators.Anova.welchAnova(ev(s, dir), "event_type", "value"),
      operators.Anova.welchAnovaSql("events", "event_type", "value")),
    // exact-inference A/B: B deterministic md5 user relabelings build the
    // null distribution; no normality or variance model
    BoardQuery("permutation_test", (s, dir) =>
      operators.EventSeq.permutationTest(ev(s, dir), "user_id",
        "event_type", "value", convType = "purchase", b = 128),
      operators.EventSeq.permutationTestSql("events", "user_id",
        "event_type", "value", convType = "purchase", b = 128)),
    // index-quality eval: per-cluster simplified silhouette of the
    // trained IVF assignment — are the probe partitions actually separated
    BoardQuery("silhouette_ivf", (s, dir) => {
      val (cents, index) = ivfArtifacts(s, dir)
      operators.Similarity.silhouette(cents, index, "vec_id", "embedding")
    }, {
      val (kmCtes, cent) = operators.Similarity.kmeansCentSqlCtes(
        "embeddings", "vec_id", "embedding", nCentroids = 8, iters = 1,
        dim = 64, cosSql)
      s"""WITH $kmCtes,
         assign AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
             FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1),
         ${operators.Similarity.silhouetteSql(cent, "embeddings", "vec_id",
           "embedding", cosSql)}"""
    }),
    // value-weighted cohorts: cumulative per-member worth by cohort age —
    // the monetization curve cohort_retention's counts can't show
    BoardQuery("cohort_ltv", (s, dir) =>
      operators.EventSeq.cohortLtv(ev(s, dir), "user_id", "ts", "value"),
      operators.EventSeq.cohortLtvSql("events", "user_id", "ts", "value")),
    // whale concentration: revenue share of customers above the
    // p90/p80/p50 spend thresholds (value_bands pattern, no global sort)
    BoardQuery("pareto_share", (s, dir) =>
      operators.Audit.paretoShare(Tables.orders(s, dir), "o_custkey",
        "o_totalprice"),
      operators.Audit.paretoShareSql("orders", "o_custkey", "o_totalprice")),
    // gate-panel agreement beyond margins: nominal Krippendorff's alpha
    // with the three gates as raters (integer until one division)
    BoardQuery("kripp_alpha", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val g1 = docs.select(col("doc_id"), (col("n_chars") >= 200).as("g1"))
      val g2 = TextAnalysis.gopherRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("g2"))
      val g3 = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
        .select(col("doc_id"), (col("entropy") >= 3.1).as("g3"))
      operators.Audit.krippAlpha(
        g1.join(g2, "doc_id").join(g3, "doc_id"), "doc_id",
        Seq("g1", "g2", "g3"))
    },
      s"""WITH gl AS (SELECT doc_id, n_chars >= 200 AS g1 FROM documents),
         gr AS (SELECT doc_id, keep AS g2 FROM (
             ${TextAnalysis.gopherRulesSql("documents", "doc_id", "text")})),
         ge AS (SELECT doc_id, entropy >= 3.1 AS g3 FROM (
             ${TextAnalysis.tokenEntropySql("documents", "doc_id", "text")})),
         gj AS (SELECT gl.doc_id, g1, g2, g3
           FROM gl JOIN gr USING (doc_id) JOIN ge USING (doc_id)),
         ${operators.Audit.krippAlphaSql(3)}"""),
    // post-hoc pairwise: WHICH sources differ in mean length once
    // anova_length rejects — Tukey-Kramer at family-wise 5%
    BoardQuery("tukey_hsd", (s, dir) =>
      operators.Anova.tukeyHsd(Tables.documents(s, dir), "source",
        "n_chars"),
      operators.Anova.tukeyHsdSql("documents", "source", "n_chars")),
    // effect-size companion to chi2_assoc on the same pair: nats of
    // information source carries about lang, min-entropy normalized
    BoardQuery("mutual_info", (s, dir) =>
      operators.Audit.mutualInfo(Tables.documents(s, dir), "source", "lang"),
      operators.Audit.mutualInfoSql("documents", "source", "lang")),
    // feature-or-leak audit: per-source weight of evidence + IV terms
    // against the gopher keep outcome
    BoardQuery("woe_iv", (s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Audit.woeIv(
        docs.select(col("doc_id"), col("source"))
          .join(TextAnalysis.gopherRules(docs, "doc_id", "text")
            .select(col("doc_id"), col("keep")), "doc_id"),
        "source", "keep")
    },
      s"""WITH wj AS (SELECT d.source, g.keep FROM documents d JOIN (
             ${TextAnalysis.gopherRulesSql("documents", "doc_id", "text")}) g
           ON d.doc_id = g.doc_id),
         ${operators.Audit.woeIvSql("wj", "source", "keep")
            .stripPrefix("WITH ")}"""),
    // Murphy split of the entropy-gate's Brier score: miscalibration vs
    // inability to separate — two gates with equal Brier differ here
    BoardQuery("brier_decomp", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val p = round(lit(1.0) /
        (lit(1.0) + exp(-(col("entropy") - lit(3.1)) * lit(2.0))), 6)
      val pb = TextAnalysis.tokenEntropy(docs, "doc_id", "text")
        .select(col("doc_id"), p.as("p"))
        .join(TextAnalysis.gopherRules(docs, "doc_id", "text")
          .select(col("doc_id"), col("keep")), "doc_id")
      operators.Audit.brierDecomp(pb, "p", "keep")
    },
      s"""WITH pe AS (SELECT doc_id,
             round(1.0 / (1.0 + exp(-(entropy - 3.1) * 2.0)), 6) AS p FROM (
             ${TextAnalysis.tokenEntropySql("documents", "doc_id", "text")})),
         gk AS (SELECT doc_id, keep FROM (
             ${TextAnalysis.gopherRulesSql("documents", "doc_id", "text")})),
         pb AS (SELECT p, CASE WHEN keep THEN 1 ELSE 0 END AS y
           FROM pe JOIN gk USING (doc_id)),
         ${operators.Audit.brierDecompSql()}""")
  )

  /** cohort_coverage query panel: 20 spread ids, all < 500 so they exist
    * at every fixture SF (embeddings carry ≥ 500 rows at each). */
  private val CoveragePanel: Seq[Long] = (0 until 20).map(i => i * 23L)

  /** Query panel shared by `ndcg_eval`'s Spark and oracle forms. */
  private val NdcgPanel: Seq[(String, Seq[String])] = Seq(
    ("q_dup_window", Seq("dup", "window")),
    ("q_merge_scan_table", Seq("merge", "scan", "table")),
    ("q_spark_join", Seq("spark", "join")))

  /** DuckDB AP/MRR readout for one query's term set — the `map_eval`
    * oracle body, with an optional leading label column for the panel
    * form. Relevance = docs matching ALL terms; denominator = full-corpus
    * relevance count.
    */
  private def mapEvalSqlFor(terms: Seq[String], label: Option[String]): String = {
    val labelCol = label.map(l =>
      s"'${operators.OracleSql.esc(l)}' AS query, ").getOrElse("")
    s"""WITH ${bm25SqlCtes(terms)},
       topk AS (SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM bm),
       rel AS (SELECT doc_id FROM p GROUP BY doc_id
         HAVING COUNT(*) = ${terms.map(_.toLowerCase).distinct.length}),
       hits AS (SELECT rk, r,
           SUM(r) OVER (ORDER BY rk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM (SELECT rk,
             CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS r
           FROM topk LEFT JOIN rel ON topk.doc_id = rel.doc_id
           WHERE rk <= 100)),
       ps AS (SELECT
           CASE WHEN r = 1 THEN CAST(round(CAST(cum AS DOUBLE)
             / CAST(rk AS DOUBLE), 6) AS DECIMAL(18,6)) END AS p,
           CASE WHEN r = 1 THEN rk END AS rrk
         FROM hits),
       a AS (SELECT SUM(p) AS sp, MIN(rrk) AS frk,
           COUNT(p) AS hits_ranked FROM ps),
       nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_relevant FROM rel)
       SELECT ${labelCol}n_relevant, hits_ranked,
         CASE WHEN n_relevant > 0 THEN round(
           COALESCE(CAST(sp AS DOUBLE), 0.0) / CAST(n_relevant AS DOUBLE), 6)
           END AS ap,
         CASE WHEN frk IS NOT NULL
           THEN round(1.0 / CAST(frk AS DOUBLE), 6) END AS mrr
       FROM a CROSS JOIN nr"""
  }

  /** Little-endian hex of a u16/u32 value column (RIFF/BMP headers). */
  private def le16(c: Column): Column = {
    val h = lpad(hex(c), 4, "0")
    concat(substring(h, 3, 2), substring(h, 1, 2))
  }
  private def le32(c: Column): Column = {
    val h = lpad(hex(c), 8, "0")
    concat(substring(h, 7, 2), substring(h, 5, 2), substring(h, 3, 2), substring(h, 1, 2))
  }
  private def be32(c: Column): Column = lpad(hex(c), 8, "0")

  /** Fixed-layout 272-byte ISO-BMFF `trak` subtree as hex:
    * tkhd(92) + mdia(172)[mdhd(32) + hdlr(32) + minf(100)[stbl(92)[
    * stsd(32) + stts(24) + stss(28)]]]. Only field VALUES vary — every box
    * size is a literal — so the mp4_tracks oracle can parse each field back
    * at a fixed byte offset (track_id +28, timescale +128, duration +132,
    * handler +156, codec +208, n_samples +236, keyframe count/first/last
    * +256/+260/+268 relative to the trak box start).
    */
  private def trakHex(tidHex: String, handlerHex: String, codecHex: Column,
      ts: Column, dur: Column, ns: Column, k2: Column): Column = concat(
    lit("000001107472616b"),                                    // trak hdr
    lit("0000005c746b6864000000000000000000000000"),            // tkhd v0 hdr+vf+ctime+mtime
    lit(tidHex), lit("00000000"), be32(dur),                    // track_ID, reserved, duration
    lit("00000000000000000000000000000000"),                    // reserved8, layer/alt, vol/res
    lit("000100000000000000000000000000000001000000000000000000000000000040000000"),
    lit("0280000001e00000"),                                    // 640x480 fixed 16.16
    lit("000000ac6d646961"),                                    // mdia hdr
    lit("000000206d646864000000000000000000000000"),            // mdhd v0 hdr+vf+ctime+mtime
    be32(ts), be32(dur), lit("55c40000"),                       // timescale, duration, lang
    lit("0000002068646c720000000000000000"),                    // hdlr hdr+vf+pre_defined
    lit(handlerHex), lit("000000000000000000000000"),           // handler 4cc, reserved
    lit("000000646d696e66"),                                    // minf hdr
    lit("0000005c7374626c"),                                    // stbl hdr
    lit("00000020737473640000000000000001" + "00000010"),       // stsd hdr+vf+count, entry size
    codecHex, lit("0000000000000001"),                          // codec 4cc, 6B reserved + dref 1
    lit("00000018737474730000000000000001"), be32(ns), lit("00000200"), // stts: ns samples @512
    lit("0000001c737473730000000000000003" + "00000001"), be32(k2), be32(ns)) // stss: 1,k2,ns

  // ---------- oracle SQL (DuckDB) ----------

  /** Shared CTE chain computing the LSH near-dup candidate pairs + jaccard
    * (`j`), used by both `neardup_pairs` and `neardup_clusters`. Mirrors
    * Dedup.nearDupPairs(k=8, rowsPerBand=2). */
  private val nearDupCtes: String = nearDupCtesFor("documents")

  /** The near-dup mining CTE chain (3-gram shingles → 8 MinHash components →
    * 4 two-row bands → candidate pairs → exact Jaccard) over an arbitrary
    * relation — `pipeline_e2e` runs it over the quality-gated subset, the
    * standalone dedup queries over `documents`. */
  private def nearDupCtesFor(tbl: String): String =
    s"""w AS (SELECT doc_id, string_split_regex(trim(text),'\\s+') AS ws FROM $tbl),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws)>=3
                 THEN list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])
                 ELSE [array_to_string(ws,' ')] END) AS sh FROM w),
         sig AS (SELECT doc_id, sh,
                 [list_min(list_transform(sh, s -> md5('0:'||s))),
                  list_min(list_transform(sh, s -> md5('1:'||s))),
                  list_min(list_transform(sh, s -> md5('2:'||s))),
                  list_min(list_transform(sh, s -> md5('3:'||s))),
                  list_min(list_transform(sh, s -> md5('4:'||s))),
                  list_min(list_transform(sh, s -> md5('5:'||s))),
                  list_min(list_transform(sh, s -> md5('6:'||s))),
                  list_min(list_transform(sh, s -> md5('7:'||s)))] AS sigs FROM sh),
         bands AS (SELECT doc_id, b AS band_idx, md5(sigs[2*b+1]||'|'||sigs[2*b+2]) AS band_hash
                   FROM sig CROSS JOIN unnest([0,1,2,3]) AS t(b)),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a
                  JOIN bands b ON a.band_idx=b.band_idx AND a.band_hash=b.band_hash AND a.doc_id < b.doc_id),
         j AS (SELECT id_a, id_b,
                 round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
               FROM cand JOIN sh x ON x.doc_id = id_a JOIN sh y ON y.doc_id = id_b)"""

  /** Cosine similarity in DuckDB, matching [[operators.Similarity.cosine]]'s
    * float→double elementwise products and left-fold sums exactly. */
  // mirror of Decontam.ngramOverlap(n=5) across Sampling.splitOf: both
  // sides' distinct per-doc 5-gram md5 digests, joined, counted per pair.
  // Shared by decontam_ngram and decontam_bloom (same relation by design).
  private val decontamNgramSql =
    """WITH s AS (SELECT doc_id, text,
         CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,2) AS INT) AS b
         FROM documents),
       w AS (SELECT doc_id, b, string_split_regex(trim(text),'\s+') AS ws FROM s),
       g AS (SELECT doc_id, b, list_distinct(CASE WHEN len(ws)>=5
             THEN list_transform(range(1, len(ws)-3),
               i -> md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]))
             ELSE [md5(array_to_string(ws,' '))] END) AS gr FROM w),
       tg AS (SELECT doc_id AS train_id, unnest(gr) AS g FROM g WHERE b < 230),
       eg AS (SELECT doc_id AS eval_id, unnest(gr) AS g FROM g WHERE b >= 243)
       SELECT train_id, eval_id, COUNT(*) AS n_shared
       FROM tg JOIN eg USING (g)
       GROUP BY train_id, eval_id ORDER BY train_id, eval_id"""

  /** Mirror of Search.bm25Rank(k1=1.2, b=0.75) as a CTE chain ending in
    * `bm(doc_id, score)` — shared by bm25_search and hybrid_rrf. Constants
    * are INTERPOLATED from the same Scala doubles the Column side uses
    * (folding 1.2+1.0 independently in two engines risks a one-ulp split);
    * association parenthesized to match idf * (tfnum / denom).
    */
  private def bm25SqlCtes(terms: Seq[String] = Seq("spark", "window", "join")): String = {
    val (k1, b) = (1.2, 0.75)
    val inList = terms.map(t => operators.OracleSql.lit(t)).mkString(",")
    s"""base AS (SELECT doc_id, trim(lower(text)) AS txt,
             len(string_split_regex(trim(lower(text)),'\\s+')) AS dl FROM documents),
         stats AS (SELECT COUNT(*) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM base),
         p AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM (
             SELECT doc_id, dl, unnest(string_split_regex(txt,'\\s+')) AS term FROM base)
           WHERE term IN ($inList) GROUP BY doc_id, term),
         f AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
         sc AS (SELECT p.doc_id,
             CAST(round(
               ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                 / (CAST(df AS DOUBLE) + 0.5) + 1.0)
               * ((CAST(tf AS DOUBLE) * ${k1 + 1})
                 / (CAST(tf AS DOUBLE) + $k1 * (${1 - b} + ($b * CAST(dl AS DOUBLE)) / avgdl))),
               4) AS DECIMAL(18,4)) AS s
             FROM p JOIN f USING (term) CROSS JOIN stats),
         bm AS (SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM sc GROUP BY doc_id)"""
  }

  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))
       / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"""

  /** mirror of TextAnalysis.unigramLogprob: per-term nll rounded to 4
    * decimals THEN summed as DECIMAL — exact, no float-order dependence;
    * the avg divides once in double with NO final round (cast + IEEE
    * division are correctly rounded ⇒ bit-identical; a round(4) landed
    * on exact halves where the engines' rounding algorithms disagree).
    * Shared: it is both the `unigram_logprob` oracle and the scored CTE
    * `ppl_buckets` buckets over.
    */
  private val unigramLogprobOracle: String =
    """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),'\s+')) AS term
             FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
         fr AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY term),
         tot AS (SELECT SUM(cnt) AS t_total FROM fr),
         j AS (SELECT tf.doc_id, tf.tf,
               CAST(round(ln(CAST(t_total AS DOUBLE) / CAST(cnt AS DOUBLE)), 4)
                 AS DECIMAL(18,4)) AS nll
               FROM tf JOIN fr USING (term) CROSS JOIN tot)
         SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_toks,
           CAST(SUM(CAST(tf AS DECIMAL(18,4)) * nll) AS DOUBLE)
             / CAST(SUM(tf) AS DOUBLE) AS avg_nll
         FROM j GROUP BY doc_id ORDER BY doc_id"""

  /** PROBE mirror against the ivfTrainedAuto(sampleBudget=200) artifacts —
    * the serving half of ivf_auto: same baked law values (C=23, sample
    * mod 3, seeds below 69 — the ivf_auto oracle's coupling note), the
    * query's top-6 of 23 centroids (~25% scan share, the matched-share
    * point the round-9 recall panel measured winning), exact rank within
    * probed clusters. Shared by `ivf_auto_topk` (checkpointed index) and
    * `ivf_auto_served` (written cluster-partitioned index) — the two serve
    * bit-equal answers over different layouts.
    */
  /** RERANKED IVF-PQ mirror: the ivfpq_auto ADC chain cut at a 50-id pool
    * (rounded-sim + vec_id order — deterministic cross-engine), then
    * exact-cosine rerank of only those ids. Shared by `ivfpq_rerank`
    * (in-session code table) and `ivfpq_served` (WRITTEN code + float
    * tables) — same arithmetic, bit-equal answers over different layouts.
    */
  private lazy val ivfPqRerankSql: String = {
    val (pqCtes, codeCtes, centCtes) = Similarity.pqSqlCtesAuto(
      "embeddings", "vec_id", "embedding", numSub = 8, k = 4, subDim = 8,
      iters = 1, trainWhere = "vec_id % 3 = 0")
    val (kmCtes, cent) = Similarity.kmeansCentSqlCtesWhere(
      "embeddings", "vec_id", "embedding",
      seedWhere = "vec_id % 3 = 0 AND vec_id < 69",
      trainWhere = "vec_id % 3 = 0",
      iters = 1, dim = 64, cosSql)
    val joins = codeCtes.zip(centCtes).zipWithIndex.map { case ((code, cc), m) =>
      s"JOIN $code k$m USING (vec_id) JOIN $cc s$m ON s$m.cid = k$m.cid"
    }.mkString(" ")
    val xhat = codeCtes.indices.map(m => s"s$m.cvec").mkString(" || ")
    s"""WITH $pqCtes,
         $kmCtes,
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         assign AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
             FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1),
         probe AS (SELECT cid FROM (
             SELECT c.cid,
               row_number() OVER (ORDER BY ${cosSql("q.qv", "c.cvec")} DESC, c.cid) AS rn
             FROM $cent c CROSS JOIN q) WHERE rn <= 6),
         recon AS (SELECT e.vec_id, $xhat AS xhat FROM embeddings e $joins),
         pool AS (SELECT vec_id FROM (
             SELECT r.vec_id, round(${cosSql("q.qv", "r.xhat")}, 4) AS sim
             FROM recon r JOIN assign a USING (vec_id) CROSS JOIN q
             WHERE a.cid IN (SELECT cid FROM probe)
             ORDER BY sim DESC, vec_id LIMIT 50))
         SELECT e.vec_id, round(${cosSql("e.embedding", "q.qv")}, 4) AS sim
         FROM embeddings e JOIN pool USING (vec_id) CROSS JOIN q
         ORDER BY sim DESC, vec_id LIMIT 10"""
  }

  /** PANEL mirror of the written-codes serving path: [[ivfPqRerankSql]]'s
    * chain with the probe / ADC pool / exact rerank all windowed per qid
    * (every 100th vector is a query) — the ivf_served_panel discipline
    * applied to the IVF-PQ composition. Shared CTEs: the PQ code chains and
    * the Lloyd chain are qid-independent, so they are built once.
    */
  private lazy val ivfPqServedPanelSql: String = {
    val (pqCtes, codeCtes, centCtes) = Similarity.pqSqlCtesAuto(
      "embeddings", "vec_id", "embedding", numSub = 8, k = 4, subDim = 8,
      iters = 1, trainWhere = "vec_id % 3 = 0")
    val (kmCtes, cent) = Similarity.kmeansCentSqlCtesWhere(
      "embeddings", "vec_id", "embedding",
      seedWhere = "vec_id % 3 = 0 AND vec_id < 69",
      trainWhere = "vec_id % 3 = 0",
      iters = 1, dim = 64, cosSql)
    val joins = codeCtes.zip(centCtes).zipWithIndex.map { case ((code, cc), m) =>
      s"JOIN $code k$m USING (vec_id) JOIN $cc s$m ON s$m.cid = k$m.cid"
    }.mkString(" ")
    val xhat = codeCtes.indices.map(m => s"s$m.cvec").mkString(" || ")
    s"""WITH $pqCtes,
         $kmCtes,
         q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
               WHERE vec_id % 100 = 0),
         assign AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
             FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1),
         probe AS (SELECT qid, cid FROM (
             SELECT q.qid, c.cid,
               row_number() OVER (PARTITION BY q.qid ORDER BY ${cosSql("q.qv", "c.cvec")} DESC, c.cid) AS rn
             FROM $cent c CROSS JOIN q) WHERE rn <= 6),
         recon AS (SELECT e.vec_id, $xhat AS xhat FROM embeddings e $joins),
         pool AS (SELECT qid, vec_id FROM (
             SELECT q.qid, r.vec_id, round(${cosSql("q.qv", "r.xhat")}, 4) AS sim,
               row_number() OVER (PARTITION BY q.qid ORDER BY round(${cosSql("q.qv", "r.xhat")}, 4) DESC, r.vec_id) AS rn
             FROM recon r JOIN assign a USING (vec_id)
             JOIN probe p ON p.cid = a.cid JOIN q ON q.qid = p.qid)
             WHERE rn <= 50)
         SELECT qid, rank, vec_id, sim FROM (
           SELECT p.qid, e.vec_id, round(${cosSql("e.embedding", "q.qv")}, 4) AS sim,
             row_number() OVER (PARTITION BY p.qid ORDER BY round(${cosSql("e.embedding", "q.qv")}, 4) DESC, e.vec_id) AS rank
           FROM embeddings e JOIN pool p ON p.vec_id = e.vec_id
           JOIN q ON q.qid = p.qid)
         WHERE rank <= 10 ORDER BY qid, rank"""
  }

  private lazy val ivfAutoProbeSql: String = {
    val (kmCtes, cent) = Similarity.kmeansCentSqlCtesWhere(
      "embeddings", "vec_id", "embedding",
      seedWhere = "vec_id % 3 = 0 AND vec_id < 69",
      trainWhere = "vec_id % 3 = 0",
      iters = 1, dim = 64, cosSql)
    s"""WITH $kmCtes,
       q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       assign AS (SELECT vec_id, cid FROM (
           SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
           FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1),
       probe AS (SELECT cid FROM (
           SELECT c.cid,
             row_number() OVER (ORDER BY ${cosSql("q.qv", "c.cvec")} DESC, c.cid) AS rn
           FROM $cent c CROSS JOIN q) WHERE rn <= 6)
       SELECT * FROM (
         SELECT e.vec_id, round(${cosSql("e.embedding", "q.qv")}, 4) AS sim
         FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id CROSS JOIN q
         WHERE a.cid IN (SELECT cid FROM probe))
       ORDER BY sim DESC, vec_id LIMIT 10"""
  }

  /** Mirror of the composed corpus pipeline (operators.CorpusPipeline.manifest): shared by `pipeline_e2e` (localCheckpoint barriers) and `pipeline_staged` (parquet stage tables) — barrier strategy is materialization only, the answer is byte-equal by construction (StagedPipelineSpec).
    */
  private lazy val pipelineE2eSql: String =
      // the full corpus path composed: every stage is the standalone
      // query's own mirror (normalize = NormalizeTextExpr.sql, gopher =
      // gopherRulesSql over the train CTE, dedup = the dedup_decisions
      // chain over the gated CTE, decontam = the decontam_apply dual chain
      // with keptd as the train side, shuffle/chunk/pack/manifest = the
      // global_shuffle + chunk_pack_e2e + shard_manifest mirrors)
      s"""WITH RECURSIVE norm0 AS (SELECT doc_id,
           ${graft.functions.NormalizeTextExpr.sql("text")} AS text, n_chars,
           CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,2) AS INT) AS b
           FROM documents),
         tr AS (SELECT doc_id, text, n_chars FROM norm0 WHERE b < 230),
         ev AS (SELECT doc_id, text FROM norm0 WHERE b >= 243),
         gop AS (${operators.TextAnalysis.gopherRulesSql("tr", "doc_id", "text")}),
         gated AS (SELECT t.doc_id, t.text, t.n_chars
                   FROM tr t JOIN gop g USING (doc_id) WHERE g.keep),
         ${nearDupCtesFor("gated")},
         pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
         cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         reps AS (SELECT cluster_id, id AS keep_id FROM (
             SELECT cl.cluster_id, cl.id,
               row_number() OVER (PARTITION BY cl.cluster_id
                 ORDER BY d.n_chars DESC, cl.id) AS rn
             FROM cl JOIN gated d ON cl.id = d.doc_id) WHERE rn = 1),
         near AS (SELECT cl.id, reps.keep_id FROM cl JOIN reps USING (cluster_id)),
         ex AS (SELECT CAST(doc_id AS BIGINT) AS id, md5(text) AS h FROM gated),
         exk AS (SELECT h, MIN(id) AS keep FROM ex GROUP BY h),
         keptd AS (SELECT g.doc_id, g.text FROM gated g
             JOIN ex ON ex.id = g.doc_id JOIN exk USING (h)
             LEFT JOIN near ON near.id = ex.id
             WHERE exk.keep = ex.id
               AND (near.keep_id IS NULL OR near.keep_id = ex.id)),
         wt AS (SELECT doc_id, string_split_regex(trim(text),'\\s+') AS ws FROM keptd),
         we AS (SELECT doc_id, string_split_regex(trim(text),'\\s+') AS ws FROM ev),
         g5t AS (SELECT doc_id, list_distinct(CASE WHEN len(ws)>=5
               THEN list_transform(range(1, len(ws)-3),
                 i -> md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]))
               ELSE [md5(array_to_string(ws,' '))] END) AS gr FROM wt),
         g5e AS (SELECT doc_id, list_distinct(CASE WHEN len(ws)>=5
               THEN list_transform(range(1, len(ws)-3),
                 i -> md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]))
               ELSE [md5(array_to_string(ws,' '))] END) AS gr FROM we),
         t5 AS (SELECT doc_id AS train_id, unnest(gr) AS g FROM g5t),
         e5 AS (SELECT doc_id AS eval_id, unnest(gr) AS g FROM g5e),
         bad5 AS (SELECT DISTINCT train_id FROM t5 JOIN e5 USING (g)),
         sht AS (SELECT doc_id, list_distinct(CASE WHEN len(ws)>=3
                 THEN list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])
                 ELSE [array_to_string(ws,' ')] END) AS sh FROM wt),
         she AS (SELECT doc_id, list_distinct(CASE WHEN len(ws)>=3
                 THEN list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])
                 ELSE [array_to_string(ws,' ')] END) AS sh FROM we),
         sigt AS (SELECT doc_id, sh,
                 [list_min(list_transform(sh, s -> md5('0:'||s))),
                  list_min(list_transform(sh, s -> md5('1:'||s))),
                  list_min(list_transform(sh, s -> md5('2:'||s))),
                  list_min(list_transform(sh, s -> md5('3:'||s))),
                  list_min(list_transform(sh, s -> md5('4:'||s))),
                  list_min(list_transform(sh, s -> md5('5:'||s))),
                  list_min(list_transform(sh, s -> md5('6:'||s))),
                  list_min(list_transform(sh, s -> md5('7:'||s)))] AS sigs FROM sht),
         sige AS (SELECT doc_id, sh,
                 [list_min(list_transform(sh, s -> md5('0:'||s))),
                  list_min(list_transform(sh, s -> md5('1:'||s))),
                  list_min(list_transform(sh, s -> md5('2:'||s))),
                  list_min(list_transform(sh, s -> md5('3:'||s))),
                  list_min(list_transform(sh, s -> md5('4:'||s))),
                  list_min(list_transform(sh, s -> md5('5:'||s))),
                  list_min(list_transform(sh, s -> md5('6:'||s))),
                  list_min(list_transform(sh, s -> md5('7:'||s)))] AS sigs FROM she),
         bandt AS (SELECT doc_id, bi AS band_idx, md5(sigs[2*bi+1]||'|'||sigs[2*bi+2]) AS band_hash
                   FROM sigt CROSS JOIN unnest([0,1,2,3]) AS t(bi)),
         bande AS (SELECT doc_id, bi AS band_idx, md5(sigs[2*bi+1]||'|'||sigs[2*bi+2]) AS band_hash
                   FROM sige CROSS JOIN unnest([0,1,2,3]) AS t(bi)),
         candx AS (SELECT DISTINCT a.doc_id AS train_id, c.doc_id AS eval_id
                  FROM bandt a JOIN bande c
                    ON a.band_idx = c.band_idx AND a.band_hash = c.band_hash),
         badnd AS (SELECT DISTINCT train_id FROM (
               SELECT train_id,
                 round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
               FROM candx JOIN sht x ON x.doc_id = train_id JOIN she y ON y.doc_id = eval_id)
             WHERE jaccard >= 0.2),
         bad AS (SELECT train_id FROM bad5 UNION SELECT train_id FROM badnd),
         clean AS (SELECT doc_id, text FROM keptd
                   WHERE doc_id NOT IN (SELECT train_id FROM bad)),
         pos AS (SELECT doc_id,
               row_number() OVER (ORDER BY md5('shuffle:'||CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
             FROM clean),
         cw AS (SELECT doc_id, string_split_regex(trim(text),'\\s+') AS ws FROM clean),
         ck AS (SELECT doc_id, len(ws) AS n,
               greatest(CAST(ceil((len(ws) - 32) / 24.0) AS BIGINT), 0) AS last FROM cw),
         cc AS (SELECT doc_id, n, unnest(range(0, last + 1)) AS ci FROM ck),
         mc AS (SELECT MAX(ci) + 1 AS m FROM cc),
         ch AS (SELECT p.pos*(SELECT m FROM mc) + cc.ci AS id,
                  least(32, cc.n - cc.ci*24) AS tok
                FROM cc JOIN pos p USING (doc_id)),
         pk AS (SELECT id, tok,
               CAST(COALESCE(SUM(tok) OVER (ORDER BY id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 4096 AS BIGINT) AS shard
               FROM ch)
         SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens,
           MIN(id) AS min_id, MAX(id) AS max_id,
           md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY CAST(id AS VARCHAR))) AS id_fp
         FROM pk GROUP BY shard ORDER BY shard"""

  /** DuckDB little-endian hex builders matching [[le16]]/[[le32]]. */
  private def le16Sql(e: String): String =
    s"(substr(lpad(to_hex($e),4,'0'),3,2) || substr(lpad(to_hex($e),4,'0'),1,2))"
  private def le32Sql(e: String): String =
    s"""(substr(lpad(to_hex($e),8,'0'),7,2) || substr(lpad(to_hex($e),8,'0'),5,2)
       || substr(lpad(to_hex($e),8,'0'),3,2) || substr(lpad(to_hex($e),8,'0'),1,2))"""

  /** DuckDB mirror of [[trakHex]] — identical literals, lpad(to_hex) for
    * the value fields, so the byte layout (and therefore every parse-back
    * offset) matches the Spark-built asset exactly. */
  private def trakHexSql(tidHex: String, handlerHex: String, codecSql: String,
      ts: String, dur: String, ns: String, k2: String): String =
    s"""'000001107472616b'
       || '0000005c746b6864000000000000000000000000'
       || '$tidHex' || '00000000' || lpad(to_hex($dur),8,'0')
       || '00000000000000000000000000000000'
       || '000100000000000000000000000000000001000000000000000000000000000040000000'
       || '0280000001e00000'
       || '000000ac6d646961'
       || '000000206d646864000000000000000000000000'
       || lpad(to_hex($ts),8,'0') || lpad(to_hex($dur),8,'0') || '55c40000'
       || '0000002068646c720000000000000000'
       || '$handlerHex' || '000000000000000000000000'
       || '000000646d696e66'
       || '0000005c7374626c'
       || '0000002073747364000000000000000100000010'
       || $codecSql || '0000000000000001'
       || '00000018737474730000000000000001' || lpad(to_hex($ns),8,'0') || '00000200'
       || '0000001c737473730000000000000003' || '00000001'
       || lpad(to_hex($k2),8,'0') || lpad(to_hex($ns),8,'0')"""
}
