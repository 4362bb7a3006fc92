package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two tiers:
  *   - brute-force cosine top-k: broadcast the query vector, one scan,
  *     `TakeOrderedAndProject` top-k — the exact baseline. 100 TB shape:
  *     embarrassingly parallel scan, no shuffle beyond the final top-k merge.
  *   - LSH-bucketed ANN (random hyperplane signs): computes a b-bit signature
  *     per vector, joins on signature buckets, ranks within buckets — probes
  *     only matching buckets instead of the full corpus.
  *
  * All arithmetic is float→double elementwise then left-fold sum, matching
  * the DuckDB oracle's `list_transform`/`list_sum` evaluation exactly.
  */
object Similarity {

  /** dot(a,b) in double precision via zip_with + aggregate (codegen'd). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x
    )

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** One-pass JVM expression, bit-identical to `dot/(norm*norm)` in HOF form
    * (see [[graft.functions.CosineExpr]]).
    */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineExpr.cosine(a, b)

  /** HOF Column form — kept as the equivalence reference for the fast path. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k against the vector with id `queryId`.
    * Output: (vec_id, label, sim) ordered by sim desc, vec_id asc.
    */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int): DataFrame = {
    val q = emb
      .where(col(idCol) === queryId)
      .select(col(vecCol).as("query_vec"))
    emb
      .crossJoin(broadcast(q))
      .withColumn("sim", round(cosine(col(vecCol), col("query_vec")), 4))
      .orderBy(col("sim").desc, col(idCol))
      .select(col(idCol), col("sim"))
      .limit(k)
  }

  /** The seeded ±1 hyperplane matrix shared by [[lshSignature]],
    * [[lshSignatureColumns]] and the generated oracle SQL. */
  def planes(bits: Int, dim: Int, seed: Int = 42): Array[Array[Boolean]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rnd.nextBoolean()))
  }

  /** Random-hyperplane LSH signature: sign(dot(v,h)) per seeded plane →
    * b-bit signature, evaluated by the one-pass
    * [[graft.functions.HyperplaneSigExpr]] (the plane matrix rides as a
    * literal). At scale the bucket join is hash-partitioned on the
    * signature.
    */
  def lshSignature(vec: Column, bits: Int, dim: Int, seed: Int = 42): Column =
    graft.functions.HyperplaneExpr.signature(vec, planes(bits, dim, seed))

  /** Column-pipeline form — kept as the equivalence reference for the
    * one-pass expression (pinned in OperatorsSpec). The ~bits×dim×4-node
    * tree this builds costs seconds of Janino compile per invocation, which
    * is why queries use the expression form.
    */
  def lshSignatureColumns(vec: Column, bits: Int, dim: Int, seed: Int = 42): Column = {
    val ps = planes(bits, dim, seed)
    val bitCols = (0 until bits).map { p =>
      // ±1 hyperplane ⇒ the dot product is a signed sum — built from plain
      // element_at adds/subtracts
      val terms = (0 until dim).map { d =>
        // try_element_at + 0-default: vectors shorter than `dim` contribute
        // nothing instead of ANSI-throwing
        val e = coalesce(try_element_at(vec, lit(d + 1)).cast("double"), lit(0.0))
        if (ps(p)(d)) e else -e
      }
      val dotp = terms.reduce(_ + _)
      when(dotp >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bitCols.reduce(_ bitwiseOR _)
  }

  /** Per-band sign value: bits r of band b come from coordinate
    * b*rowsPerBand + r (deterministic coordinate-hyperplane LSH that a SQL
    * oracle can replicate exactly). */
  private def bandVal(vec: Column, b: Int, rowsPerBand: Int): Column =
    (0 until rowsPerBand).map { r =>
      val d = b * rowsPerBand + r
      when(try_element_at(vec, lit(d + 1)) >= 0, 1 << r).otherwise(0)
    }.reduce(_ + _)

  /** Long-form (id, band_idx, band_val) sign-band table. */
  def signBands(emb: DataFrame, idCol: String, vecCol: String,
      signDims: Int, rowsPerBand: Int): DataFrame = {
    val bands = signDims / rowsPerBand
    val structs = (0 until bands).map(b =>
      struct(lit(b).as("band_idx"), bandVal(col(vecCol), b, rowsPerBand).as("band_val")))
    emb
      .select(col(idCol), explode(array(structs: _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_val"))
  }

  /** Long-form (id, band_idx, band_val) RANDOM-HYPERPLANE band table: band
    * b's value is an independent `rowsPerBand`-bit hyperplane signature
    * (seed offset per band, each evaluated by the one-pass
    * [[graft.functions.HyperplaneSigExpr]]), so total bits
    * nBands×rowsPerBand is NOT capped by the vector dimension the way
    * coordinate-sign banding ([[signBands]]) is — the prerequisite for
    * width that grows with log(n) at corpus scale.
    */
  def planeBands(emb: DataFrame, idCol: String, vecCol: String,
      nBands: Int, rowsPerBand: Int, dim: Int, seed: Int = 42): DataFrame = {
    val structs = (0 until nBands).map(b =>
      struct(lit(b).as("band_idx"),
        lshSignature(col(vecCol), rowsPerBand, dim, seed + 1000 * (b + 1))
          .as("band_val")))
    emb
      .select(col(idCol), explode(array(structs: _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_val"))
  }

  /** Band width that holds the EXPECTED per-row candidate volume at
    * `budgetPerRow` under the uniform sign model: each band's bucket holds
    * ~n/2^r rows, so nBands·n/2^r ≤ budget ⇒ r = ⌈log2(nBands·n/budget)⌉ —
    * the classical LSH width tuning (Gionis, Indyk & Motwani, VLDB 1999
    * choose hash width k ∝ log n for the same reason; sign bits are
    * Charikar's SimHash family, STOC 2002).
    * This is the scale law the fixed-width density operators document but
    * cannot apply (fixed r ⇒ candidate volume ∝ n²; width growing with
    * log n ⇒ ∝ n·budget). Returns rowsPerBand ≥ 4, ≤ 62 (a 62-bit band
    * bucket is past any physical corpus).
    */
  def autoBandWidth(n: Long, nBands: Int = 4, budgetPerRow: Int = 64): Int = {
    require(n >= 0 && nBands >= 1 && budgetPerRow >= 1)
    val target = nBands.toDouble * n.toDouble / budgetPerRow.toDouble
    val r = math.ceil(math.log(math.max(target, 1.0)) / math.log(2.0)).toInt
    math.min(62, math.max(4, r))
  }

  /** IVF cell-count law C = ⌈√n⌉ (clamped): the classical balance point —
    * with C cells an exhaustive build pays n·C assignment comparisons and a
    * w-probe query scans ~w·n/C rows, so C ≈ √n makes build cost n^1.5 and
    * per-probe work √n (the IVF sizing rule the FAISS guidelines publish as
    * C between 4√n and 16√n). Crucially it keeps DRIVER state bounded: the
    * centroid set is C·dim doubles — ~230 MB at n = 10¹¹, dim 64 — where a
    * C ∝ n law would break the bounded-driver contract every trained-index
    * operator here relies on.
    */
  def autoCellCount(n: Long, cMin: Int = 4, cMax: Int = 1 << 16): Int = {
    require(n >= 0 && cMin >= 1 && cMax >= cMin)
    val c = math.ceil(math.sqrt(n.toDouble)).toInt
    math.min(cMax, math.max(cMin, c))
  }

  /** Probe-count law for the auto-scaled index: w = ⌈C/shareInv⌉ (≥ 2) —
    * a CONSTANT scan share (1/shareInv of the corpus) as C grows with √n,
    * the matched-share operating point the round-9 recall panel measured
    * beating the fixed-C index (recall rises with density at fixed share
    * because more cells capture finer structure). Probing a fixed COUNT
    * instead would shrink scan share as 1/√n — cheaper but recall-decaying;
    * callers choosing that trade pass nProbe explicitly.
    */
  def autoProbeCount(nCells: Int, shareInv: Int = 4): Int = {
    require(nCells >= 1 && shareInv >= 1)
    math.max(2, (nCells + shareInv - 1) / shareInv)
  }

  /** Deterministic training-sample modulus: the smallest m with n/m ≤
    * `sampleBudget`, so k-means trains on rows with id ≡ 0 (mod m) — a
    * fixed-rate systematic sample (≈ n/m rows) instead of full-corpus Lloyd
    * scans. Deterministic by id (not RNG) so the trained centroids are
    * bit-reproducible and SQL-mirrorable; sampled k-means centroids converge
    * to the full-data optimum at O(1/√sample) (mini-batch k-means,
    * Sculley WWW 2010), which is why every at-scale IVF build trains on a
    * sample (FAISS caps training points per centroid the same way).
    */
  def autoSampleMod(n: Long, sampleBudget: Int = 1 << 16): Long = {
    require(n >= 0 && sampleBudget >= 1)
    math.max(1L, (n + sampleBudget - 1) / sampleBudget)
  }

  /** One bounded-driver-state job shared by the `*Auto` density operators:
    * corpus row count and max vector length (two scalars). */
  private def corpusShape(emb: DataFrame, idCol: String, vecCol: String): (Long, Int) = {
    val row = emb.agg(count(lit(1)), max(size(col(vecCol)))).head()
    (row.getLong(0), if (row.isNullAt(1)) 0 else row.getInt(1))
  }

  /** Embedding-cosine near-duplicate PAIRS, banded: `signDims` coordinate
    * sign bits split into `signDims/rowsPerBand` bands of `rowsPerBand` bits
    * each — candidates are pairs agreeing on ALL bits of ANY band (the
    * `Dedup.lshBands` pattern). With r-bit bands each band partitions the
    * corpus into 2^r buckets (256 at the default r=8, measured ≤0.8%
    * population share on the fixtures), so within-bucket join cardinality
    * stays bounded — the round-1 single-16-bucket design grew as (n/16)².
    * Candidate pairs are verified with exact cosine ≥ threshold; vectors are
    * joined back only for candidates.
    */
  def cosineNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      signDims: Int = 16,
      rowsPerBand: Int = 8
  ): DataFrame =
    cosineNearDupPairsFrom(
      signBands(emb, idCol, vecCol, signDims, rowsPerBand),
      emb, idCol, vecCol, threshold)

  /** [[cosineNearDupPairs]] with the band width chosen by [[autoBandWidth]]
    * from the corpus size, over [[planeBands]] (the density operators'
    * scale path applied to near-dup mining): candidate volume per row
    * stays at `budgetPerRow` as n grows instead of the fixed-width n²/2^r.
    * Recall on CLUSTERED corpora holds because near-duplicates share sign
    * patterns far above the uniform rate — audit with
    * [[cohortCoverageAuto]] before trusting a new corpus.
    */
  def cosineNearDupPairsAuto(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBands: Int = 4, budgetPerRow: Int = 64, seed: Int = 42): DataFrame = {
    val (n, dim) = corpusShape(emb, idCol, vecCol)
    val r = autoBandWidth(n, nBands, budgetPerRow)
    cosineNearDupPairsFrom(planeBands(emb, idCol, vecCol, nBands, r, dim, seed),
      emb, idCol, vecCol, threshold)
  }

  private def cosineNearDupPairsFrom(bands: DataFrame, emb: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val a = bands.as("a")
    val b = bands.as("b")
    val cand = a
      .join(b, col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val vecs = emb.select(col(idCol), col(vecCol))
    cand
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("vec_a")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("vec_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosine(col("vec_a"), col("vec_b")), 4).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Materialized (id, vec, lsh_sig) index: the signature scan runs ONCE
    * (eager localCheckpoint; blocks are ContextCleaner-reclaimed) and every
    * subsequent query is a bucket lookup against it. At 100 TB this is a
    * parquet table partitioned by `lsh_sig`, so a query prunes to one
    * partition; localCheckpoint is the single-JVM stand-in with the same
    * plan shape (queries scan the materialized form, never recompute
    * signatures corpus-wide).
    */
  def signatureIndex(emb: DataFrame, idCol: String, vecCol: String,
      bits: Int = 8, dim: Int = 64, seed: Int = 42): DataFrame =
    emb
      .select(col(idCol), col(vecCol),
        lshSignature(col(vecCol), bits, dim, seed).as("lsh_sig"))
      .localCheckpoint()

  /** ANN top-k against a prebuilt [[signatureIndex]]: broadcast the query's
    * (vector, signature), hash-join on the signature bucket, rank within the
    * bucket. A sparse bucket returns fewer than k rows (recall/latency
    * trade-off — at real scale multi-probe or band-OR widens the candidate
    * set).
    */
  def annTopKIndexed(index: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = index
      .where(col(idCol) === queryId)
      .select(col(vecCol).as("query_vec"), col("lsh_sig").as("query_sig"))
    index
      .join(broadcast(q), col("lsh_sig") === col("query_sig"))
      .withColumn("sim", round(cosine(col(vecCol), col("query_vec")), 4))
      .orderBy(col("sim").desc, col(idCol))
      .select(col(idCol), col("sim"))
      .limit(k)
  }

  /** One-shot ANN top-k: builds the index, then does the bucket lookup. */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int,
      bits: Int = 8, dim: Int = 64): DataFrame =
    annTopKIndexed(signatureIndex(emb, idCol, vecCol, bits, dim), idCol, vecCol, queryId, k)

  /** MULTI-PROBE ANN top-k: search the query's bucket plus its `bits`
    * 1-bit-flip neighbor buckets — a signature bit flips exactly when the
    * query sits near that hyperplane, so Hamming-1 buckets hold the likeliest
    * missed neighbors (multi-probe LSH). Candidates stay bounded at
    * ~(bits+1)/2^bits of the corpus (9/256 here); at scale this is 1+bits
    * partition reads of the sig-partitioned index instead of one. The probe
    * membership test is `xor(sig, query_sig) ∈ {0} ∪ {2^b}` — one broadcast
    * nested-loop against a single-row query side, like the brute-force tier.
    */
  def annTopKMultiProbe(index: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, bits: Int = 8): DataFrame = {
    val q = index
      .where(col(idCol) === queryId)
      .select(col(vecCol).as("query_vec"), col("lsh_sig").as("query_sig"))
    val hamming01 = {
      val x = col("lsh_sig").bitwiseXOR(col("query_sig"))
      x.isin(0L +: (0 until bits).map(b => 1L << b): _*)
    }
    index
      .join(broadcast(q), hamming01)
      .withColumn("sim", round(cosine(col(vecCol), col("query_vec")), 4))
      .orderBy(col("sim").desc, col(idCol))
      .select(col(idCol), col("sim"))
      .limit(k)
  }

  /** One-shot multi-probe ANN top-k over a fresh [[signatureIndex]]. */
  def annMultiProbe(emb: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int,
      bits: Int = 8, dim: Int = 64): DataFrame =
    annTopKMultiProbe(signatureIndex(emb, idCol, vecCol, bits, dim), idCol, vecCol,
      queryId, k, bits)

  // --- IVF (inverted-file) ANN --------------------------------------------

  /** The deterministic IVF SEED centroid set: the first `nCentroids` vectors
    * of the corpus (id < nCentroids), collected once — tiny, and embedded
    * into the assignment scan as array literals so clustering is ONE
    * projection over the corpus with no join and no shuffle. Elements are
    * widened to double: centroid arithmetic (and any Lloyd refinement) runs
    * in double like every cosine here.
    */
  private def centroidSet(emb: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, seedOffset: Int = 0): Array[(Long, Seq[Double])] =
    emb.where(col(idCol) >= seedOffset && col(idCol) < seedOffset + nCentroids)
      .select(col(idCol), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)

  /** Seeded distributed k-means (Lloyd) refinement of the first-N seed set:
    * each iteration is (a) a scan-only assignment — centroids ride along as
    * broadcast literals, nearest by cosine with ties to the smallest cid —
    * and (b) an element-wise mean per (cluster, dim) via posexplode +
    * partial-aggregated groupBy. Means accumulate through DECIMAL(18,6)
    * (exact, order-independent) then divide in double, so the result is
    * bit-reproducible across partitionings AND replicable by the generated
    * DuckDB oracle ([[kmeansCentSqlCtes]]). An emptied cluster keeps its
    * previous centroid. Only nCentroids×dim values ever reach the driver.
    */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int,
      seedOffset: Int = 0): Array[(Long, Seq[Double])] = {
    var cents = centroidSet(emb, idCol, vecCol, nCentroids, seedOffset)
    for (_ <- 0 until iters) {
      val best = greatest(centroidSims(col(vecCol), cents): _*)
      val upd = emb
        .select((-best.getField("negcid")).cast("long").as("cluster"),
          posexplode(col(vecCol)).as(Seq("dim", "v")))
        .groupBy("cluster", "dim")
        .agg((sum(col("v").cast("double").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.map { case (cid, old) => (cid, upd.getOrElse(cid, old)) }
    }
    cents
  }

  /** Two INDEPENDENT Lloyd trainings (seed windows [0, C) and [C, 2C))
    * co-executed for [[ivfStability]]: each iteration computes both
    * assignments in the SAME scan and folds both mean sets through one
    * (train, cluster, dim) aggregation — half the corpus scans/shuffles of
    * two sequential trainings. Bit-identical centroids: the train tag only
    * splits groups that were already disjoint, so every (cluster, dim)
    * DECIMAL fold sees exactly the rows the sequential training fed it.
    */
  private def kmeansCentroidsPair(emb: DataFrame, idCol: String,
      vecCol: String, nCentroids: Int, iters: Int)
      : (Array[(Long, Seq[Double])], Array[(Long, Seq[Double])]) = {
    var ca = centroidSet(emb, idCol, vecCol, nCentroids)
    var cb = centroidSet(emb, idCol, vecCol, nCentroids, seedOffset = nCentroids)
    for (_ <- 0 until iters) {
      val bestA = greatest(centroidSims(col(vecCol), ca): _*)
      val bestB = greatest(centroidSims(col(vecCol), cb): _*)
      val upd = emb
        .select(col(vecCol).as("_km_v"),
          (-bestA.getField("negcid")).cast("long").as("_km_ca"),
          (-bestB.getField("negcid")).cast("long").as("_km_cb"))
        .select(explode(array(
          struct(lit(0).as("t"), col("_km_ca").as("cluster")),
          struct(lit(1).as("t"), col("_km_cb").as("cluster")))).as("_km_tc"),
          col("_km_v"))
        .select(col("_km_tc.t").as("t"), col("_km_tc.cluster").as("cluster"),
          posexplode(col("_km_v")).as(Seq("dim", "v")))
        .groupBy("t", "cluster", "dim")
        .agg((sum(col("v").cast("double").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("m"))
        .collect()
      def updOf(t: Int): Map[Long, Seq[Double]] = upd
        .filter(_.getInt(0) == t)
        .groupBy(_.getLong(1))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
        }
      val (ua, ub) = (updOf(0), updOf(1))
      ca = ca.map { case (cid, old) => (cid, ua.getOrElse(cid, old)) }
      cb = cb.map { case (cid, old) => (cid, ub.getOrElse(cid, old)) }
    }
    (ca, cb)
  }

  /** (sim, -cid) ranking structs vs every centroid — greatest/sort_array
    * over these picks max sim with ties to the SMALLEST centroid id, exactly
    * the SQL mirror's `ORDER BY sim DESC, cid`. */
  private def centroidSims(vec: Column, cents: Array[(Long, Seq[Double])]) =
    cents.map { case (cid, cv) =>
      struct(cosine(vec, typedlit(cv)).as("sim"), lit(-cid).as("negcid"))
    }

  /** IVF index: every vector assigned to its nearest centroid (cosine, ties
    * to smallest id), materialized once. At 100 TB: a table partitioned by
    * `cluster`, so a probe reads only the probed partitions; assignment is a
    * scan-only projection (centroids ride along as broadcast literals).
    */
  def ivfIndex(emb: DataFrame, idCol: String, vecCol: String, nCentroids: Int,
      kmeansIters: Int = 0): DataFrame =
    ivfIndexFrom(emb, idCol, vecCol, centroids(emb, idCol, vecCol, nCentroids, kmeansIters))

  private def centroids(emb: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, kmeansIters: Int): Array[(Long, Seq[Double])] =
    if (kmeansIters <= 0) centroidSet(emb, idCol, vecCol, nCentroids)
    else kmeansCentroids(emb, idCol, vecCol, nCentroids, kmeansIters)

  private def ivfIndexFrom(emb: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Long, Seq[Double])]): DataFrame = {
    require(cents.length >= 2, "need at least 2 centroids")
    val best = greatest(centroidSims(col(vecCol), cents): _*)
    emb
      .select(col(idCol), col(vecCol),
        (-best.getField("negcid")).cast("long").as("cluster"))
      .localCheckpoint()
  }

  /** Trained IVF artifacts: the (refined) centroid set plus the
    * materialized (id, vec, cluster) index. Train ONCE, probe many — the
    * serving split a real deployment uses: index construction is a
    * once-per-corpus batch job, probes are partition-pruned lookups against
    * its output. At 100 TB the index is a cluster-partitioned table; here
    * it's the localCheckpoint'ed equivalent with the same plan shape.
    */
  def ivfTrained(emb: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 8, kmeansIters: Int = 0): (Array[(Long, Seq[Double])], DataFrame) = {
    val cents = centroids(emb, idCol, vecCol, nCentroids, kmeansIters)
    (cents, ivfIndexFrom(emb, idCol, vecCol, cents))
  }

  /** Seeded Lloyd refinement from an EXPLICIT seed set over an arbitrary
    * training relation — [[kmeansCentroids]] generalized for the sampled
    * auto-scale build: same assignment (cosine, ties to smallest cid), same
    * DECIMAL(18,6)-exact element means, same emptied-cluster carry-forward,
    * but the per-iteration assignment runs through ONE
    * [[graft.functions.NearestCentroidsExpr]] node (a C×dim loop over a
    * reference-object matrix) instead of C literal cosine structs, so the
    * plan stays constant-size as C grows with √n. Bit-identical to
    * [[kmeansCentroids]] when fed the same seeds/relation (spec-pinned).
    * Driver state per iteration: C·dim doubles — the bounded contract.
    */
  def kmeansCentroidsFrom(train: DataFrame, idCol: String, vecCol: String,
      seeds: Array[(Long, Seq[Double])], iters: Int): Array[(Long, Seq[Double])] = {
    var cents = seeds
    for (_ <- 0 until iters) {
      val assign = element_at(
        graft.functions.CentroidExpr.nearestCids(col(vecCol), cents, 1), 1)
      val upd = train
        .select(assign.as("cluster"), posexplode(col(vecCol)).as(Seq("dim", "v")))
        .groupBy("cluster", "dim")
        .agg((sum(col("v").cast("double").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.map { case (cid, old) => (cid, upd.getOrElse(cid, old)) }
    }
    cents
  }

  /** Auto-scaled IVF build — the distributed-index form of [[ivfTrained]]
    * whose every knob follows the corpus size instead of a fixed constant:
    *
    *   - cell count C = [[autoCellCount]](n) ≈ √n — per-probe scan share
    *     shrinks as 1/√n while driver state (the centroid set, C·dim
    *     doubles) stays bounded at any corpus size;
    *   - training sample: rows with id ≡ 0 (mod [[autoSampleMod]](n,
    *     sampleBudget)) — Lloyd iterations scan ≤ sampleBudget rows, not the
    *     corpus, so training cost is corpus-size-independent;
    *   - seeds: the first C sample rows by id (ids {0, m, …, (C−1)·m}) —
    *     deterministic, so the whole build is bit-reproducible and
    *     SQL-mirrorable;
    *   - full-corpus assignment through the single-node
    *     [[graft.functions.NearestCentroidsExpr]] — one scan-parallel
    *     projection, n·C comparisons, no shuffle, no per-centroid plan
    *     growth.
    *
    * At 100 TB: training reads a pushed-down id-filtered sample, the
    * assignment scan writes a `cluster`-partitioned table, and probes prune
    * to w/C of it — the build is the only corpus-wide pass.
    *
    * Returns (centroids, index) like [[ivfTrained]]; index columns
    * (idCol, vecCol, cluster).
    */
  def ivfTrainedAuto(emb: DataFrame, idCol: String, vecCol: String,
      kmeansIters: Int = 1, sampleBudget: Int = 1 << 16,
      cMin: Int = 4, cMax: Int = 1 << 16): (Array[(Long, Seq[Double])], DataFrame) = {
    val (n, _) = corpusShape(emb, idCol, vecCol)
    require(n >= 2, "ivfTrainedAuto: need at least 2 rows")
    // a corpus below cMin points can't fill cMin cells — cap at n (2..3
    // cells on a 2..3-row corpus), never more cells than points
    val c = math.min(autoCellCount(n, cMin, cMax).toLong, n).toInt
    val m = autoSampleMod(n, sampleBudget)
    val train = if (m == 1L) emb else emb.where(pmod(col(idCol), lit(m)) === 0)
    // seeds: the first C sample rows BY ID (a TakeOrdered over the ≤ budget
    // sample, not an id-range filter) — on a dense id space these are ids
    // {0, m, …, (C−1)·m} exactly as before, and on a SPARSE one the seed set
    // tops up from the next sample ids instead of silently training fewer
    // than autoCellCount(n) cells (round-9 advice: a shrunken cell count
    // degraded recall with no signal). Fewer than C sample rows at all means
    // the budget can't seed the law's cell count — loud, not degraded.
    val seeds = train
      .select(col(idCol), col(vecCol))
      .orderBy(col(idCol))
      .limit(c)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)
    require(seeds.length == c,
      s"ivfTrainedAuto: training sample has only ${seeds.length} rows for C=$c " +
        s"cells (n=$n, mod=$m) — raise sampleBudget or lower cMax")
    val cents = kmeansCentroidsFrom(train, idCol, vecCol, seeds, kmeansIters)
    val index = emb
      .select(col(idCol), col(vecCol),
        element_at(graft.functions.CentroidExpr.nearestCids(col(vecCol), cents, 1), 1)
          .as("cluster"))
      .localCheckpoint()
    (cents, index)
  }

  /** IVF top-k PROBE against prebuilt [[ivfTrained]] artifacts: rank the
    * query's `nProbe` nearest centroids (a driver-side computation over the
    * literal centroid set), then search ONLY vectors assigned to those
    * clusters — the brute-force scan becomes a partition-pruned scan of
    * nProbe/nCentroids of the corpus. No training cost on this path.
    */
  /** Top-`nProbe` centroid ids for the vector in `vecCol` (sim DESC, ties
    * to smallest cid) — the probe list a query row carries. */
  private def probesExpr(cents: Array[(Long, Seq[Double])], vecCol: String,
      nProbe: Int): Column =
    transform(
      slice(sort_array(array(centroidSims(col(vecCol), cents): _*), asc = false),
        1, nProbe),
      s => -s.getField("negcid"))

  /** Persist a trained IVF index ([[ivfTrained]]/[[ivfTrainedAuto]] `_2`) as
    * a CLUSTER-PARTITIONED parquet table — the real thing the
    * localCheckpoint in the build operators stands in for. One directory per
    * cell; every probe that filters on `cluster` literals is partition
    * pruning at PLANNING time: the scan lists and reads only the probed
    * cells' files (~w/C of the index), which is the entire serving-cost
    * story at 100 TB.
    *
    * The write REPARTITIONS by `cluster` first — one bounded hash shuffle
    * (the same price [[Bucketing.writeBucketed]] pays) so each cell's rows
    * land in ONE task and each partition directory gets ~1 file. Without
    * it every write task emits a file per cell it happens to hold:
    * round 10 measured 31.6 files/cell (4,486 files for a 20k-row index),
    * which at cells ×10⁵ and tasks ×10⁴ is 10⁹ metastore entries — a
    * listing/metadata killer. files/cell ≈ 1 is pinned in IvfServedSpec.
    */
  def writeIvfIndex(index: DataFrame, path: String): Unit =
    index.repartition(col("cluster"))
      .write.partitionBy("cluster").mode("overwrite").parquet(path)

  /** Persist an IVF-PQ CODE table ((idCol, cluster, c0..c<numSub−1>) —
    * [[pqEncode]] with `carry = Seq("cluster")`) cluster-partitioned like
    * [[writeIvfIndex]]: the durable layout ADC serving probes. Same
    * repartition-by-cell discipline (files/cell ≈ 1, spec-pinned). At
    * 10¹¹ vectors this table is numSub bytes/vector — the scan target —
    * while the float index ([[writeIvfIndex]]) is touched only for
    * point-read rerank.
    */
  def writeIvfPqCodes(codes: DataFrame, path: String): Unit =
    codes.repartition(col("cluster"))
      .write.partitionBy("cluster").mode("overwrite").parquet(path)

  /** Compact the oversized cells of a written cluster-partitioned table
    * ([[writeIvfIndex]] / [[writeIvfPqCodes]] layout) back to ~1 file each —
    * the maintenance half of the streamed-append story: every
    * [[graft.streaming.StreamIndex.appendBatch]] adds ≤1 file per touched
    * cell, so files/cell grows linearly with appends between retrains;
    * this rewrites ONLY cells past `maxFilesPerCell` (incremental — quiet
    * cells cost nothing) and returns how many were compacted.
    *
    * Scale posture: each compaction is one bounded job over ONE cell's
    * rows (~n/C), and cells are independent — a production run fans the
    * oversized-cell list out as parallel jobs; the sequential driver loop
    * here is the fixture-scale form of that schedule. The swap
    * (delete old files, rename compacted ones in) is not atomic for
    * concurrent probes of the SAME cell — run it in the index's
    * maintenance window (the retrain slot), like FAISS segment merges.
    */
  def compactIvfCells(spark: org.apache.spark.sql.SparkSession, path: String,
      maxFilesPerCell: Int = 4): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val cells = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cluster="))
    var compacted = 0
    cells.foreach { cell =>
      val old = fs.listStatus(cell.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      if (old.length > maxFilesPerCell) {
        val tmp = new org.apache.hadoop.fs.Path(root,
          s"_compact_tmp_${cell.getPath.getName}")
        spark.read.parquet(cell.getPath.toString)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        // swap order bounds the inconsistency window and FAILS LOUDLY on
        // any FS refusal (a silently false delete/rename here would empty
        // the cell with no error): (1) move the compacted files into the
        // cell under DOT-prefixed names — hidden from parquet readers, so
        // concurrent probes still see exactly the old files; (2) delete
        // the old files; (3) unhide the compacted ones. A crash leaves
        // either old files (+ ignorable hidden ones) or the cell empty
        // only between (2) and (3) — the documented non-atomic step.
        val staged = fs.listStatus(tmp)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .zipWithIndex.map { case (f, i) =>
            val hidden = new org.apache.hadoop.fs.Path(
              cell.getPath, s".compact-$i.parquet.tmp")
            if (!fs.rename(f.getPath, hidden))
              throw new java.io.IOException(
                s"compactIvfCells: staging rename failed for ${f.getPath}")
            (hidden, new org.apache.hadoop.fs.Path(
              cell.getPath, s"compact-$i.parquet"))
          }
        old.foreach { f =>
          if (!fs.delete(f.getPath, false))
            throw new java.io.IOException(
              s"compactIvfCells: delete failed for ${f.getPath}")
        }
        staged.foreach { case (hidden, fin) =>
          if (fs.exists(fin) && !fs.delete(fin, false))
            throw new java.io.IOException(
              s"compactIvfCells: could not clear stale $fin")
          if (!fs.rename(hidden, fin))
            throw new java.io.IOException(
              s"compactIvfCells: final rename failed for $hidden")
        }
        fs.delete(tmp, true)
        compacted += 1
      }
    }
    compacted
  }

  /** Driver-side replica of the probe ranking
    * ([[graft.functions.NearestCentroidsExpr]] / `probesExpr`): top-`nProbe`
    * centroids of `qv` by (cosine DESC via `java.lang.Double.compare`, ties
    * to the smallest cid) — same float→double element conversion, same
    * left-to-right fold, dot over the shorter length, norms over each full
    * vector. Bit-agreement with the expression is spec-pinned
    * (IvfServedSpec), so a probe list computed on the driver (to become
    * PARTITION-PRUNING literals) can never pick different cells than the
    * in-plan expression would.
    */
  def nearestCentroidsDriver(cents: Array[(Long, Seq[Double])], qv: Seq[Float],
      nProbe: Int): Seq[Long] = {
    require(nProbe >= 1 && nProbe <= cents.length, "nProbe out of range")
    var na = 0.0
    qv.foreach { x => val d = x.toDouble; na += d * d }
    val rowNorm = math.sqrt(na)
    val sims = cents.map { case (_, cv) =>
      var dot = 0.0
      var nb = 0.0
      var j = 0
      val n = math.min(qv.length, cv.length)
      while (j < n) { dot += qv(j).toDouble * cv(j); j += 1 }
      j = 0
      while (j < cv.length) { nb += cv(j) * cv(j); j += 1 }
      dot / (rowNorm * math.sqrt(nb))
    }
    val taken = new Array[Boolean](cents.length)
    (0 until nProbe).map { _ =>
      var best = -1
      var i = 0
      while (i < cents.length) {
        if (!taken(i)) {
          if (best < 0) best = i
          else {
            val cmp = java.lang.Double.compare(sims(i), sims(best))
            if (cmp > 0 || (cmp == 0 && cents(i)._1 < cents(best)._1)) best = i
          }
        }
        i += 1
      }
      taken(best) = true
      cents(best)._1
    }
  }

  /** IVF top-k probe against a WRITTEN cluster-partitioned index
    * ([[writeIvfIndex]]): the probe list is computed on the driver over the
    * literal centroid set ([[nearestCentroidsDriver]] — C·dim flops, the
    * bounded state every trained operator here carries) and lands in the
    * scan as `cluster IN (…)` LITERALS, so Catalyst prunes partitions at
    * planning time — the scan reads only the probed cells' FILES, not a
    * filtered full pass. Ranking is bit-identical to [[ivfTopKIndexed]]
    * (same round-4 cosine, same (sim DESC, id) tie-break; spec-pinned).
    * This is the at-scale serving path: train once, write once, every probe
    * is a w/C-of-the-corpus pruned read.
    */
  def ivfServedTopK(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      cents: Array[(Long, Seq[Double])], idCol: String, vecCol: String,
      qv: Seq[Float], k: Int, nProbe: Int = 2): DataFrame = {
    val probes = nearestCentroidsDriver(cents, qv, nProbe)
    spark.read.parquet(indexPath)
      .where(col("cluster").isin(probes: _*))
      .select(col(idCol),
        round(cosine(col(vecCol), typedlit(qv)), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Batched probe of the WRITTEN index for a QUERY RELATION — the panel
    * form of [[ivfServedTopK]]: each query row computes its probe list
    * in-plan ([[graft.functions.NearestCentroidsExpr]], exploded to
    * (qid, cluster) rows), and candidate lookup is an equi-join against
    * the cluster-partitioned table. The probe list is a relation, not
    * driver literals, so PLANNING-time pruning can't apply — instead the
    * broadcast join over the partition column lets Spark insert a
    * DynamicPruningSubquery: the scan's PartitionFilters carry
    * `dynamicpruning#…` and the probed cells' directories are selected at
    * RUNTIME from the broadcast side (spec-pinned). This is the shape for
    * serving a batch of queries in one pass — one pruned scan covering
    * the UNION of all probe lists, per-query ranking by a qid-partitioned
    * window (panel-keyed sort, never global).
    */
  def ivfServedTopKPanel(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, cents: Array[(Long, Seq[Double])],
      idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(
      col(qidCol).cast("long").as("qid"), col(qvecCol).as("_qv"),
      explode(graft.functions.CentroidExpr.nearestCids(
        col(qvecCol), cents, nProbe)).as("cluster"))
    val idx = spark.read.parquet(indexPath)
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col(idCol))
    idx.join(broadcast(q), Seq("cluster"))
      .select(col("qid"), col(idCol),
        round(cosine(col(vecCol), col("_qv")), 4).as("sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol), col("sim"))
      .orderBy("qid", "rank")
  }

  def ivfTopKIndexed(cents: Array[(Long, Seq[Double])], index: DataFrame,
      idCol: String, vecCol: String, queryId: Long, k: Int, nProbe: Int = 2): DataFrame = {
    // the query row carries its vector + probe list (top-nProbe centroids)
    val probes = probesExpr(cents, vecCol, nProbe)
    val q = index
      .where(col(idCol) === queryId)
      .select(col(vecCol).as("query_vec"), probes.as("probes"))
    index
      .join(broadcast(q), array_contains(col("probes"), col("cluster")))
      .select(col(idCol), round(cosine(col(vecCol), col("query_vec")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** One-shot IVF top-k (train + probe). `kmeansIters` > 0 refines the
    * first-N seed centroids with that many Lloyd iterations
    * (better-balanced clusters ⇒ better recall at the same probe budget).
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int,
      nCentroids: Int = 8, nProbe: Int = 2, kmeansIters: Int = 0): DataFrame = {
    // one centroid computation feeds both the index build and probe ranking
    val (cents, index) = ivfTrained(emb, idCol, vecCol, nCentroids, kmeansIters)
    ivfTopKIndexed(cents, index, idCol, vecCol, queryId, k, nProbe)
  }

  /** Recall@k audit of the IVF probe path against exact brute-force cosine,
    * IN-ENGINE and oracle-checkable — the quality regression test an ANN
    * serving deployment runs after every index rebuild (the round-7 recall
    * panel promoted from a spec harness to a first-class operator). The
    * query panel is every id divisible by `queryMod`; both rankings use the
    * same round-to-4 sim and (sim DESC, id) tie-break, so the top-k SETS
    * are engine-deterministic and recall is exact arithmetic, not a
    * tolerance comparison. Self-matches count for both sides (consistent,
    * and standard for fixed-k panel audits).
    *
    * Scale shape: the panel is corpus-fraction-bounded (1/queryMod); truth
    * is one broadcast-panel scan of the corpus, candidates one
    * probe-pruned scan; per-query ranking is a window partitioned by qid
    * (panel-keyed sort, never global). Nothing quadratic in the corpus.
    */
  def annRecallPanel(cents: Array[(Long, Seq[Double])], index: DataFrame,
      idCol: String, vecCol: String, queryMod: Long, k: Int,
      nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = probesExpr(cents, vecCol, nProbe)
    val q = index
      .where(col(idCol) % queryMod === 0)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"), probes.as("probes"))
    val wq = Window.partitionBy("qid").orderBy(col("sim").desc, col(idCol))
    val truth = index
      .crossJoin(broadcast(q.select("qid", "qv")))
      .select(col("qid"), col(idCol), round(cosine(col(vecCol), col("qv")), 4).as("sim"))
      .withColumn("rn", row_number().over(wq))
      .where(col("rn") <= k)
      .select("qid", idCol)
    val cand = index
      .join(broadcast(q), array_contains(col("probes"), col("cluster")))
      .select(col("qid"), col(idCol), round(cosine(col(vecCol), col("qv")), 4).as("sim"))
      .withColumn("rn", row_number().over(wq))
      .where(col("rn") <= k)
      .select(col("qid"), col(idCol), lit(1L).as("hit"))
    truth
      .join(cand, Seq("qid", idCol), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("qid"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(k.toDouble), 4).as("recall"))
  }

  /** DuckDB mirror of [[annRecallPanel]] over [[ivfTrained]] artifacts
    * (retrains the centroid chain inline, like the ivf_topk oracle). */
  def annRecallPanelSql(table: String, idCol: String, vecCol: String,
      queryMod: Long, k: Int, nProbe: Int, nCentroids: Int, iters: Int,
      dim: Int, cos: (String, String) => String): String = {
    val (kmCtes, cent) = kmeansCentSqlCtes(table, idCol, vecCol, nCentroids, iters, dim, cos)
    s"""WITH $kmCtes,
       q AS (SELECT $idCol AS qid, $vecCol AS qv FROM $table WHERE $idCol % $queryMod = 0),
       probe AS (SELECT qid, cid FROM (
           SELECT q.qid, c.cid,
             row_number() OVER (PARTITION BY q.qid ORDER BY ${cos("q.qv", "c.cvec")} DESC, c.cid) AS rn
           FROM $cent c CROSS JOIN q) WHERE rn <= $nProbe),
       assign AS (SELECT $idCol AS vid, cid FROM (
           SELECT e.$idCol, c.cid,
             row_number() OVER (PARTITION BY e.$idCol ORDER BY ${cos(s"e.$vecCol", "c.cvec")} DESC, c.cid) AS rn
           FROM $table e CROSS JOIN $cent c) WHERE rn = 1),
       truth AS (SELECT qid, vid FROM (
           SELECT q.qid, e.$idCol AS vid,
             row_number() OVER (PARTITION BY q.qid ORDER BY round(${cos(s"e.$vecCol", "q.qv")}, 4) DESC, e.$idCol) AS rn
           FROM $table e CROSS JOIN q) WHERE rn <= $k),
       cand AS (SELECT qid, vid FROM (
           SELECT q.qid, e.$idCol AS vid,
             row_number() OVER (PARTITION BY q.qid ORDER BY round(${cos(s"e.$vecCol", "q.qv")}, 4) DESC, e.$idCol) AS rn
           FROM $table e JOIN assign a ON e.$idCol = a.vid
           JOIN q ON TRUE JOIN probe p ON p.qid = q.qid AND p.cid = a.cid) WHERE rn <= $k)
       SELECT t.qid AS qid, CAST(COUNT(c.vid) AS BIGINT) AS n_hits,
         round(CAST(COUNT(c.vid) AS DOUBLE) / $k.0, 4) AS recall
       FROM truth t LEFT JOIN cand c ON t.qid = c.qid AND t.vid = c.vid
       GROUP BY t.qid"""
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-space near-dedup
    * bounded by clusters. Every vector is assigned to a k-means cluster (the
    * trained IVF index — build once, reuse); within each cluster a vector is
    * a semantic duplicate iff some SMALLER-id cluster-mate has cosine ≥
    * `threshold` to it, so each near-dup neighborhood keeps exactly its
    * min-id representative and the decision is a pure function of the
    * (deterministic) clustering — no iteration, no global order.
    *
    * The cluster bound is the whole trick: candidate pairs exist only
    * within a cluster, so the quadratic verify is Σ n_c² instead of n²
    * corpus-wide, and the self-join hash-partitions on `cluster` — at
    * 100 TB the index is a cluster-partitioned table and every partition
    * verifies its own pairs locally (no cross-partition candidates by
    * construction; cluster-count sizing keeps n_c bounded, the paper runs
    * 50k clusters for 5B embeddings).
    *
    * Output: (id, cluster, keep) for EVERY input vector — the apply step is
    * a `where(keep)`, kept separate so the drop rate is inspectable.
    */
  /** Simplified silhouette (Rousseeuw 1987; the centroid form used at
    * scale): per vector, a = cosine distance to OWN centroid, b = distance
    * to the nearest OTHER centroid, s = (b−a)/max(a,b) — is each cluster
    * actually separated, per cluster. The index-quality eval that should
    * gate an IVF rebuild alongside [[annRecallPanel]]: low-silhouette
    * clusters are the ones whose members leak into neighbor probes.
    *
    * Full silhouette is Σn_c² pairwise work; the centroid form is ONE
    * scan with the trained centroid set riding as broadcast literals —
    * the [[ivfIndexFrom]] assignment shape with k distances instead of
    * argmax. Per-vector s rounds to 6 and folds as DECIMAL per cluster.
    */
  def silhouette(cents: Array[(Long, Seq[Double])], index: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    require(cents.length >= 2, "silhouette: need >= 2 centroids")
    val dists = cents.map { case (cid, cv) =>
      (cid, lit(1.0) - cosine(col(vecCol), typedlit(cv)))
    }
    val own = dists.tail.foldLeft(
      when(col("cluster") === dists.head._1, dists.head._2)) {
      case (acc, (cid, dc)) => acc.when(col("cluster") === cid, dc)
    }
    val other = least(dists.map { case (cid, dc) =>
      when(col("cluster") === cid, lit(Double.MaxValue)).otherwise(dc)
    }: _*)
    val s = when(greatest(own, other) > 0,
      (other - own) / greatest(own, other)).otherwise(lit(0.0))
    index
      .select(col("cluster"), round(s, 6).cast("decimal(18,6)").as("s"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        round(sum(col("s")).cast("double") / count(lit(1)), 6)
          .as("mean_sil"))
      .orderBy("cluster")
  }

  /** DuckDB mirror of [[silhouette]] over caller-prepended CTEs: the
    * trained centroid relation `cname(cid, cvec)` and the assignment
    * `assign(vec_id, cid)` (the `ivf_build` oracle's own CTEs).
    */
  def silhouetteSql(cname: String, embTbl: String, idCol: String,
      vecCol: String, cos: (String, String) => String): String =
    s"""pd AS (SELECT a.$idCol, a.cid AS cluster, c.cid AS ocid,
           1.0 - ${cos(s"e.$vecCol", "c.cvec")} AS dist
         FROM assign a JOIN $embTbl e USING ($idCol) CROSS JOIN $cname c),
       pv AS (SELECT $idCol, cluster,
           MIN(CASE WHEN ocid = cluster THEN dist END) AS a,
           MIN(CASE WHEN ocid <> cluster THEN dist END) AS b
         FROM pd GROUP BY 1, 2),
       sv AS (SELECT cluster,
           CAST(round(CASE WHEN greatest(a, b) > 0
             THEN (b - a) / greatest(a, b) ELSE 0.0 END, 6)
             AS DECIMAL(18,6)) AS s
         FROM pv)
       SELECT cluster, COUNT(*) AS n,
         round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS mean_sil
       FROM sv GROUP BY cluster ORDER BY cluster"""

  /** Index stability under reseeding: the adjusted Rand index (Hubert &
    * Arabie 1985) between two IVF trainings started from DISJOINT seed
    * sets. ARI ≈ 1 means the partition is a property of the DATA (safe to
    * rebuild, probe routing stable); ARI near 0 means the clusters are
    * seed artifacts and every index rebuild reshuffles probe behavior —
    * the rebuild-risk number [[annRecallPanel]]/[[silhouette]] don't
    * measure. Chance-corrected, so k and cluster-size skew don't inflate
    * it the way raw agreement would.
    *
    * One scan assigns BOTH trainings' clusters (two broadcast-literal
    * argmaxes); the contingency is k²-bounded; every C(n,2) term is
    * integer (DECIMAL(38,0)) until the final ratio.
    */
  def ivfStability(emb: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 8, kmeansIters: Int = 1): DataFrame = {
    def d(c: Column) = c.cast("double")
    val (ca, cb) = kmeansCentroidsPair(emb, idCol, vecCol, nCentroids, kmeansIters)
    val bestA = greatest(centroidSims(col(vecCol), ca): _*)
    val bestB = greatest(centroidSims(col(vecCol), cb): _*)
    val cont = emb.select(
        (-bestA.getField("negcid")).cast("long").as("ca"),
        (-bestB.getField("negcid")).cast("long").as("cb"))
      .groupBy("ca", "cb").agg(count(lit(1)).as("nij"))
    // DOUBLED binomial sums x(x−1) = 2·C(x,2): pure integer folds, the
    // shared /2 factors cancel into the closing double arithmetic
    def c2x2(c: Column) = (c.cast("decimal(19,0)") *
      (c.cast("decimal(19,0)") - 1)).cast("decimal(38,0)")
    val rows = cont.groupBy("ca").agg(sum(col("nij")).as("ai"))
      .agg(sum(c2x2(col("ai"))).as("sa2"))
    val cols = cont.groupBy("cb").agg(sum(col("nij")).as("bj"))
      .agg(sum(c2x2(col("bj"))).as("sb2"))
    val cells = cont.agg(sum(c2x2(col("nij"))).as("sij2"),
      sum(col("nij")).as("n"))
    val joined = cells.crossJoin(broadcast(rows)).crossJoin(broadcast(cols))
    val cn2 = d(col("n")) * (d(col("n")) - lit(1.0)) / lit(2.0)
    val expected = (d(col("sa2")) / lit(2.0)) * (d(col("sb2")) / lit(2.0)) / cn2
    val maxIdx = (d(col("sa2")) / lit(2.0) + d(col("sb2")) / lit(2.0)) / lit(2.0)
    joined.select(col("n").cast("long").as("n_vectors"),
      lit(nCentroids).as("k"),
      when(maxIdx - expected =!= 0.0,
        round((d(col("sij2")) / lit(2.0) - expected) / (maxIdx - expected), 6))
        .otherwise(lit(1.0)).as("ari"))
  }

  /** DuckDB mirror of [[ivfStability]]. */
  def ivfStabilitySql(table: String, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int, dim: Int,
      cos: (String, String) => String): String = {
    val (ctesA, centA) = kmeansCentSqlCtes(table, idCol, vecCol,
      nCentroids, iters, dim, cos, prefix = "sa_")
    val (ctesB, centB) = kmeansCentSqlCtes(table, idCol, vecCol,
      nCentroids, iters, dim, cos, prefix = "sb_", seedOffset = nCentroids)
    s"""WITH $ctesA,
       $ctesB,
       asg AS (SELECT e.$idCol,
           (SELECT c.cid FROM $centA c
            ORDER BY ${cos(s"e.$vecCol", "c.cvec")} DESC, c.cid LIMIT 1) AS ca,
           (SELECT c.cid FROM $centB c
            ORDER BY ${cos(s"e.$vecCol", "c.cvec")} DESC, c.cid LIMIT 1) AS cb
         FROM $table e),
       cont AS (SELECT ca, cb, COUNT(*) AS nij FROM asg GROUP BY 1, 2),
       ra AS (SELECT SUM(CAST(CAST(ai AS DECIMAL(19,0)) * (ai - 1) AS DECIMAL(38,0))) AS sa2 FROM
         (SELECT CAST(SUM(nij) AS BIGINT) AS ai FROM cont GROUP BY ca)),
       rb AS (SELECT SUM(CAST(CAST(bj AS DECIMAL(19,0)) * (bj - 1) AS DECIMAL(38,0))) AS sb2 FROM
         (SELECT CAST(SUM(nij) AS BIGINT) AS bj FROM cont GROUP BY cb)),
       cc AS (SELECT SUM(CAST(CAST(nij AS DECIMAL(19,0)) * (nij - 1) AS DECIMAL(38,0))) AS sij2,
           CAST(SUM(nij) AS BIGINT) AS n FROM cont),
       f AS (SELECT n, CAST(sij2 AS DOUBLE) / 2.0 AS sij,
           CAST(sa2 AS DOUBLE) / 2.0 AS sa, CAST(sb2 AS DOUBLE) / 2.0 AS sb,
           CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0 AS cn2
         FROM cc CROSS JOIN ra CROSS JOIN rb)
       SELECT n AS n_vectors, $nCentroids AS k,
         CASE WHEN (sa + sb) / 2.0 - sa * sb / cn2 <> 0.0
           THEN round((sij - sa * sb / cn2)
             / ((sa + sb) / 2.0 - sa * sb / cn2), 6)
           ELSE 1.0 END AS ari
       FROM f"""
  }

  /** Davies–Bouldin index (Davies & Bouldin 1979), centroid form: for
    * each cluster, its worst (s_i + s_j)/d(c_i, c_j) against any other —
    * scatter-to-separation. Lower is better; a component > 1 says that
    * cluster overlaps its nearest neighbor more than it coheres, i.e.
    * the probe partition boundary cuts through real density. Reads the
    * same trained IVF artifacts as [[silhouette]] but penalizes PAIRS of
    * confusable clusters rather than averaging per-point margins — the
    * two disagree exactly when clusters are unevenly sized, which is why
    * index-quality dashboards carry both.
    *
    * Per-cluster scatter = one corpus scan with centroid literals;
    * centroid pair distances are DRIVER-side literals (k² doubles, same
    * left-fold arithmetic as the oracle's list_sum, rounded to 9); the
    * pair layer is a k²-bounded join of the k-row scatter relation.
    */
  def daviesBouldin(cents: Array[(Long, Seq[Double])], index: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    require(cents.length >= 2, "daviesBouldin: need >= 2 centroids")
    def d(c: Column) = c.cast("double")
    val distTo = cents.map { case (cid, cv) =>
      (cid, lit(1.0) - cosine(col(vecCol), typedlit(cv)))
    }
    val own = distTo.tail.foldLeft(
      when(col("cluster") === distTo.head._1, distTo.head._2)) {
      case (acc, (cid, dc)) => acc.when(col("cluster") === cid, dc)
    }
    val scatter = index
      .select(col("cluster"), round(own, 6).cast("decimal(18,6)").as("dv"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        (sum(col("dv")).cast("double") / count(lit(1))).as("s"))
    def cosD(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      1.0 - dot / (na * nb)
    }
    val spark = index.sparkSession
    import spark.implicits._
    val pairD = (for {
      (i, ci) <- cents; (j, cj) <- cents if i != j
    } yield (i, j, BigDecimal(cosD(ci, cj))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSeq.toDF("ca", "cb", "dc")
    scatter.select(col("cluster").as("ca"), col("n"), col("s").as("sa"))
      .join(broadcast(pairD), "ca")
      .join(broadcast(scatter.select(col("cluster").as("cb"),
        col("s").as("sb"))), "cb")
      .groupBy(col("ca").as("cluster"), col("n"))
      .agg(round(max((col("sa") + col("sb")) / col("dc")), 6)
        .as("db_component"))
      .orderBy("cluster")
  }

  /** DuckDB mirror of [[daviesBouldin]] over the `ivf_build` oracle's
    * CTEs: trained centroids `cname(cid, cvec)` + `assign(vec_id, cid)`.
    */
  def daviesBouldinSql(cname: String, embTbl: String, idCol: String,
      vecCol: String, cos: (String, String) => String): String =
    s"""sc AS (SELECT a.cid AS cluster, COUNT(*) AS n,
           CAST(SUM(CAST(round(1.0 - ${cos(s"e.$vecCol", "c.cvec")}, 6)
             AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS s
         FROM assign a JOIN $embTbl e USING ($idCol)
         JOIN $cname c ON c.cid = a.cid
         GROUP BY 1),
       pd AS (SELECT a.cid AS ca, b.cid AS cb,
           round(1.0 - ${cos("a.cvec", "b.cvec")}, 9) AS dc
         FROM $cname a JOIN $cname b ON a.cid <> b.cid)
       SELECT sa.cluster, sa.n,
         round(MAX((sa.s + sb.s) / pd.dc), 6) AS db_component
       FROM sc sa JOIN pd ON pd.ca = sa.cluster
       JOIN sc sb ON sb.cluster = pd.cb
       GROUP BY 1, 2 ORDER BY sa.cluster"""

  def semDedup(index: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val slim = index.select(col(idCol), col(vecCol), col("cluster"))
    val dups = slim.as("a")
      .join(slim.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col(s"b.$idCol") < col(s"a.$idCol") &&
          round(cosine(col(s"a.$vecCol"), col(s"b.$vecCol")), 4) >= threshold,
        "left_semi")
      .select(col(idCol), lit(true).as("_sd_dup"))
    index.select(col(idCol), col("cluster"))
      .join(dups, Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(!col("_sd_dup"), lit(true)).as("keep"))
  }

  // --- oracle-SQL generators (DuckDB) -------------------------------------
  // The constructions above are deterministic, so their exact SQL mirror can
  // be GENERATED from the same constants — this is what lets the driver
  // hash-check the similarity operators instead of rows-only counting.

  /** ±coordinate-sum hyperplane signature as DuckDB SQL over `vecExpr`,
    * reproducing [[lshSignature]]'s planes (same Random(seed) stream), add
    * order (left fold over d), and float→double casts.
    */
  def lshSignatureSql(vecExpr: String, bits: Int, dim: Int, seed: Int = 42): String = {
    val ps = planes(bits, dim, seed)
    (0 until bits).map { p =>
      val terms = (0 until dim).map { d =>
        val cast = s"COALESCE(CAST($vecExpr[${d + 1}] AS DOUBLE), 0.0)"
        if (d == 0) { if (ps(p)(0)) cast else s"-$cast" }
        else if (ps(p)(d)) s" + $cast" else s" - $cast"
      }.mkString
      s"(CASE WHEN ($terms) >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
  }

  /** Per-band sign value as DuckDB SQL, reproducing [[bandVal]]. */
  def bandValSql(vecExpr: String, b: Int, rowsPerBand: Int): String =
    (0 until rowsPerBand).map { r =>
      val d = b * rowsPerBand + r
      s"(CASE WHEN $vecExpr[${d + 1}] >= 0 THEN ${1 << r} ELSE 0 END)"
    }.mkString(" + ")

  /** CTE chain `cent0 … cent<iters>` reproducing [[kmeansCentroids]] in
    * DuckDB, iteration-unrolled: cent0 = first-N seed (double-cast), each
    * step = nearest-centroid assignment (ties to smallest cid) then a
    * DECIMAL(18,6)-exact element-wise mean (the same
    * decimal-accumulate-then-double-divide both engines compute
    * bit-identically), with an emptied cluster keeping its previous
    * centroid via LEFT JOIN + COALESCE. `cos` renders a cosine over two SQL
    * list expressions. Returns (cteChain, finalCteName).
    */
  def kmeansCentSqlCtes(table: String, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int, dim: Int,
      cos: (String, String) => String, prefix: String = "",
      seedOffset: Int = 0): (String, String) =
    kmeansCentSqlCtesWhere(table, idCol, vecCol,
      seedWhere = s"$idCol >= $seedOffset AND $idCol < ${seedOffset + nCentroids}",
      trainWhere = "TRUE", iters = iters, dim = dim, cos = cos, prefix = prefix)

  /** [[kmeansCentSqlCtes]] generalized to EXPLICIT seed/training predicates —
    * the mirror of the sampled auto-scale build ([[ivfTrainedAuto]]): seeds
    * from `seedWhere`, every Lloyd assignment/update scan restricted to
    * `trainWhere` (the id-mod systematic sample). Same DECIMAL-exact means,
    * same tie-break, so centroids are bit-identical across engines.
    */
  def kmeansCentSqlCtesWhere(table: String, idCol: String, vecCol: String,
      seedWhere: String, trainWhere: String, iters: Int, dim: Int,
      cos: (String, String) => String, prefix: String = "",
      cent0Select: Option[String] = None): (String, String) = {
    val sb = new StringBuilder
    // cent0Select overrides the seed relation wholesale (must yield
    // (cid, cvec)) — the auto-PQ mirror renumbers its seeds 0..k−1 with it
    val cent0Body = cent0Select.getOrElse(
      s"SELECT $idCol AS cid, list_transform($vecCol, x -> CAST(x AS DOUBLE)) AS cvec " +
        s"FROM $table WHERE $seedWhere")
    sb ++= s"${prefix}cent0 AS ($cent0Body)"
    for (t <- 1 to iters) {
      val prev = s"${prefix}cent${t - 1}"
      sb ++= s""",
         ${prefix}asg$t AS (SELECT $idCol, cid FROM (
             SELECT e.$idCol, c.cid,
               row_number() OVER (PARTITION BY e.$idCol ORDER BY ${cos(s"e.$vecCol", "c.cvec")} DESC, c.cid) AS rn
             FROM (SELECT * FROM $table WHERE $trainWhere) e CROSS JOIN $prev c) WHERE rn = 1),
         ${prefix}upd$t AS (SELECT a.cid, d.d AS dim,
               CAST(SUM(CAST(CAST(e.$vecCol[d.d] AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) AS val
             FROM ${prefix}asg$t a JOIN $table e USING ($idCol) CROSS JOIN range(1, ${dim + 1}) d(d)
             GROUP BY a.cid, d.d),
         ${prefix}cent$t AS (SELECT p.cid, COALESCE(u.cvec, p.cvec) AS cvec
             FROM $prev p LEFT JOIN (SELECT cid, list(val ORDER BY dim) AS cvec FROM ${prefix}upd$t GROUP BY cid) u USING (cid))"""
    }
    (sb.toString, s"${prefix}cent$iters")
  }

  // --- product quantization (IVF-PQ's compression half) -------------------

  /** Negative squared L2 distance between `vec` and the literal codeword
    * `cv`, as a left fold of per-dimension `(x-c)²` terms — the exact order
    * the oracle's `list_sum(list_transform(list_zip(...)))` mirrors, so
    * argmin comparisons are bit-identical across engines. Negated so the
    * same greatest-of-structs machinery as cosine assignment (max sim, ties
    * to smallest code) applies unchanged.
    */
  private def negSqDist(vec: Column, cv: Seq[Double]): Column =
    -cv.zipWithIndex.map { case (c, d) =>
      val x = element_at(vec, d + 1).cast("double") - lit(c)
      x * x
    }.reduceLeft(_ + _)

  /** (sim, -code) ranking structs of subspace `m`'s slice of `vec` vs every
    * codeword — greatest over these = nearest codeword by L2, ties to the
    * smallest code. */
  private def pqSubSims(vec: Column, cents: Array[(Long, Seq[Double])],
      m: Int, subDim: Int): Array[Column] = {
    val sv = slice(vec, m * subDim + 1, subDim)
    cents.map { case (cid, cv) =>
      struct(negSqDist(sv, cv).as("sim"), lit(-cid).as("negcid"))
    }
  }

  private def pqBestCode(vec: Column, cents: Array[(Long, Seq[Double])],
      m: Int, subDim: Int): Column =
    (-greatest(pqSubSims(vec, cents, m, subDim): _*).getField("negcid")).cast("long")

  /** One-pass all-subspace code assignment ([[graft.functions.PqCodesExpr]]);
    * the Column form above is its pinned equivalence reference. */
  private def pqCodesFast(vec: Column, books: Array[Array[(Long, Seq[Double])]]): Column =
    graft.functions.PqExpr.codes(vec, books.map(_.map(_._2).toSeq).toSeq)

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * quantization for nearest neighbor search"): the vector is split into
    * `numSub` contiguous subspaces and each subspace gets its own k-means
    * codebook (`k` codewords, L2 assignment), so a 64-dim float vector
    * compresses to `numSub` small codes — the memory side of IVF-PQ, the
    * architecture large-scale ANN serving actually deploys.
    *
    * All subspaces train JOINTLY per Lloyd iteration: one scan computes
    * every subspace's assignment (codebooks ride along as literals), one
    * posexplode + groupBy(aggregation on (subspace, code, dim)) computes
    * every codeword mean — so an iteration costs ONE shuffle regardless of
    * `numSub`, and only numSub×k×subDim values reach the driver. Means
    * accumulate through DECIMAL(18,6) exactly like [[kmeansCentroids]];
    * an emptied code keeps its previous codeword. Seeds are the first-`k`
    * vectors' subspace slices (requires ids 0..k-1 present, checked).
    */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      numSub: Int, k: Int, iters: Int): Array[Array[(Long, Seq[Double])]] = {
    val seed = emb.where(col(idCol) < k)
      .select(col(idCol), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)
    require(seed.map(_._1).toSeq == (0L until k.toLong),
      s"PQ seeding needs contiguous ids 0..${k - 1}, got ${seed.map(_._1).mkString(",")}")
    val dim = seed.head._2.length
    require(dim % numSub == 0, s"dim $dim not divisible into $numSub subspaces")
    val subDim = dim / numSub
    val books: Array[Array[(Long, Seq[Double])]] =
      Array.tabulate(numSub) { m =>
        seed.map { case (cid, v) => (cid, v.slice(m * subDim, (m + 1) * subDim)) }
      }
    pqLloyd(emb, vecCol, books, subDim, iters)
  }

  /** The joint Lloyd refinement shared by [[pqCodebooks]] (full-corpus
    * training) and [[pqCodebooksAuto]] (sampled training): per iteration,
    * ONE scan of `train` computes every subspace's assignment and one
    * posexplode + groupBy on (subspace, code, dim) every codeword mean —
    * one shuffle per iteration regardless of `numSub`, numSub×k×subDim
    * values to the driver, DECIMAL(18,6)-exact means, emptied codes keep
    * their previous codeword.
    */
  private def pqLloyd(train: DataFrame, vecCol: String,
      seedBooks: Array[Array[(Long, Seq[Double])]], subDim: Int,
      iters: Int): Array[Array[(Long, Seq[Double])]] = {
    var books = seedBooks
    for (_ <- 0 until iters) {
      val codes = pqCodesFast(col(vecCol), books)
      val sub = (col("dim") / lit(subDim)).cast("int")
      val upd = train
        .select(codes.as("codes"), posexplode(col(vecCol)).as(Seq("dim", "v")))
        .select(sub.as("m"), element_at(col("codes"), sub + 1).as("code"),
          pmod(col("dim"), lit(subDim)).as("d"), col("v"))
        .groupBy("m", "code", "d")
        .agg((sum(col("v").cast("double").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("mean"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
        }
      books = Array.tabulate(books.length) { m =>
        books(m).map { case (cid, old) => (cid, upd.getOrElse((m, cid), old)) }
      }
    }
    books
  }

  /** Codebook-size law for the auto-scaled PQ build: the largest power of
    * two `k ≤ kMax` with 39·k ≤ `nTrain` — the classical
    * points-per-centroid floor (k-means needs ~39 training points per
    * centroid before codewords stop being noise; FAISS warns below exactly
    * this ratio), capped at 256 so a code always fits one byte (the PQ
    * memory contract). Powers of two keep code widths byte-packable
    * (log₂k bits). Grows with the training sample, never past the byte.
    */
  def autoCodebookSize(nTrain: Long, kMin: Int = 4, kMax: Int = 256): Int = {
    require(nTrain >= 0 && kMin >= 1 && kMax >= kMin)
    var k = kMin
    while (k * 2 <= kMax && 39L * (k * 2) <= nTrain) k *= 2
    k
  }

  /** Auto-law PQ codebooks — the compression half of the ANN stack on the
    * same discipline as [[ivfTrainedAuto]]:
    *
    *   - training sample: rows with id ≡ 0 (mod [[autoSampleMod]]) — Lloyd
    *     scans ≤ sampleBudget rows at any corpus size;
    *   - codebook size k = [[autoCodebookSize]](sample size) — follows the
    *     corpus through the sample until the one-byte cap;
    *   - subspace count = dim / `subDim` — subspaces follow the VECTOR
    *     width, not the corpus (memory per vector = numSub codes ≈ numSub
    *     bytes; the corpus-size axis of memory is row count, which PQ
    *     cannot and should not absorb);
    *   - seeds: the first k sample rows by id, RENUMBERED 0..k−1 (dense
    *     codes ⇒ codes stay byte-packable and reconstruct LUTs stay flat
    *     arrays), sliced per subspace — deterministic, SQL-mirrorable.
    *
    * On a dense id space with sampleBudget ≥ n this reduces exactly to
    * [[pqCodebooks]] at the same k (spec-pinned), so the sampled build can
    * never drift from the proven one.
    */
  def pqCodebooksAuto(emb: DataFrame, idCol: String, vecCol: String,
      subDim: Int = 8, sampleBudget: Int = 1 << 16,
      iters: Int = 1): Array[Array[(Long, Seq[Double])]] = {
    val (n, dim) = corpusShape(emb, idCol, vecCol)
    require(n >= 2, "pqCodebooksAuto: need at least 2 rows")
    require(dim > 0 && dim % subDim == 0,
      s"pqCodebooksAuto: dim $dim not divisible into $subDim-wide subspaces")
    val numSub = dim / subDim
    val m = autoSampleMod(n, sampleBudget)
    val train = if (m == 1L) emb else emb.where(pmod(col(idCol), lit(m)) === 0)
    val nTrain = (n + m - 1) / m
    val k = autoCodebookSize(nTrain)
    val seeds = train.select(col(idCol), col(vecCol))
      .orderBy(col(idCol))
      .limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)
      .map(_._2)
    require(seeds.length == k,
      s"pqCodebooksAuto: sample has ${seeds.length} rows for k=$k codewords")
    val seedBooks: Array[Array[(Long, Seq[Double])]] =
      Array.tabulate(numSub) { mm =>
        seeds.zipWithIndex.map { case (v, i) =>
          (i.toLong, v.slice(mm * subDim, (mm + 1) * subDim))
        }
      }
    pqLloyd(train, vecCol, seedBooks, subDim, iters)
  }

  /** PQ-encode every vector: `numSub` code columns `c0..c<numSub-1>`, each
    * the nearest codeword of that subspace's slice. Scan-only — codebooks
    * are broadcast literals, no shuffle; at 100 TB this is the projection
    * that turns a petabyte of float vectors into terabytes of codes.
    */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[(Long, Seq[Double])]],
      carry: Seq[String] = Nil): DataFrame = {
    // one-pass codes behind a Generate barrier so the k column projections
    // read a bound attribute instead of re-evaluating the expression per
    // column (the signatureTable pattern). `carry` rides extra columns
    // through (e.g. `cluster` for the IVF-PQ composition).
    val codes = pqCodesFast(col(vecCol), books)
    val keyCols = col(idCol) +: carry.map(col)
    emb.select(keyCols :+ explode(array(codes)).as("_pc"): _*)
      .select(keyCols ++
        books.indices.map(m => element_at(col("_pc"), m + 1).as(s"c$m")): _*)
  }

  /** Column-form encode — the equivalence reference [[pqEncode]]'s one-pass
    * expression is pinned against (PQ spec); quadratically larger plan, not
    * for the hot path. */
  def pqEncodeColumns(emb: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[(Long, Seq[Double])]]): DataFrame = {
    val subDim = books.head.head._2.length
    val codeCols = books.zipWithIndex.map { case (cents, m) =>
      pqBestCode(col(vecCol), cents, m, subDim).as(s"c$m")
    }
    emb.select(col(idCol) +: codeCols.toIndexedSeq: _*)
  }

  /** Trained PQ artifacts: codebooks + the materialized code table. Train
    * once, serve many — same build/probe split as [[ivfTrained]]. */
  def pqTrained(emb: DataFrame, idCol: String, vecCol: String,
      numSub: Int, k: Int, iters: Int): (Array[Array[(Long, Seq[Double])]], DataFrame) = {
    val books = pqCodebooks(emb, idCol, vecCol, numSub, k, iters)
    (books, pqEncode(emb, idCol, vecCol, books).localCheckpoint())
  }

  /** Asymmetric-distance (ADC) top-k over a prebuilt PQ code table: the
    * query keeps its exact vector, every corpus vector is reconstructed
    * from its codes (per-subspace codebook lookup — a literal 2-D array
    * index, no data movement) and ranked by cosine to the query. The scan
    * reads ONLY the code table (numSub bytes-ish per vector, not the
    * vectors); the single shuffle is the final top-k merge.
    */
  def pqTopKIndexed(books: Array[Array[(Long, Seq[Double])]], codes: DataFrame,
      emb: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int): DataFrame = {
    val xhat = concat(books.zipWithIndex.map { case (cents, m) =>
      val lut = typedlit(cents.sortBy(_._1).map(_._2))
      element_at(lut, col(s"c$m").cast("int") + 1)
    }: _*)
    val q = emb
      .where(col(idCol) === queryId)
      .select(col(vecCol).as("query_vec"))
    codes
      .crossJoin(broadcast(q))
      .select(col(idCol), round(cosine(col("query_vec"), xhat), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF-PQ probe — the composition large-scale ANN serving actually
    * deploys ([[ivfTrainedAuto]]'s cells × [[pqCodebooksAuto]]'s codes):
    * the query row carries its EXACT vector plus its top-`nProbe` centroid
    * list; candidates are the CODE rows of the probed clusters only
    * (`codes` = (idCol, cluster, c0..c<numSub−1>) — the scan touches codes,
    * never corpus vectors); each candidate is reconstructed from its codes
    * (flat literal LUT per subspace) and ADC-ranked by cosine to the exact
    * query. At 100 TB the code table is cluster-partitioned like the
    * [[writeIvfIndex]] layout, so this probe is a partition-pruned scan of
    * ~w/C of the CODES — memory per vector numSub bytes instead of 4·dim.
    */
  def ivfPqTopKIndexed(cents: Array[(Long, Seq[Double])],
      books: Array[Array[(Long, Seq[Double])]], codes: DataFrame,
      emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nProbe: Int = 2): DataFrame = {
    val xhat = concat(books.zipWithIndex.map { case (cb, m) =>
      val lut = typedlit(cb.sortBy(_._1).map(_._2))
      element_at(lut, col(s"c$m").cast("int") + 1)
    }: _*)
    val q = emb
      .where(col(idCol) === queryId)
      .select(col(vecCol).as("query_vec"),
        probesExpr(cents, vecCol, nProbe).as("probes"))
    codes
      .join(broadcast(q), array_contains(col("probes"), col("cluster")))
      .select(col(idCol), round(cosine(col("query_vec"), xhat), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF-PQ probe with EXACT RERANK — the refine step production ANN
    * serving runs on top of ADC (FAISS's IndexRefineFlat): the ADC pass
    * over the probed cells' CODES selects a candidate pool of `rerank`
    * ids, then ONLY those ids' exact vectors are fetched (an id semi-join
    * against the corpus — `rerank` point reads, not w·n/C vector reads)
    * and reranked by exact cosine. Round-10 RecallPanel measured why this
    * rung exists: on a CLUSTERED corpus the cells are perfect (IVF recall
    * 1.0) but codes can't resolve within-cluster order (ADC-only recall
    * 0.25) — reconstruction collapses every member toward its cluster
    * center; 8 B/vec still pays for the scan, the `rerank` exact reads
    * buy the order back.
    */
  def ivfPqTopKRerank(cents: Array[(Long, Seq[Double])],
      books: Array[Array[(Long, Seq[Double])]], codes: DataFrame,
      emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, nProbe: Int = 2, rerank: Int = 50): DataFrame = {
    require(rerank >= k, "rerank pool must be at least k")
    val pool = ivfPqTopKIndexed(cents, books, codes, emb, idCol, vecCol,
        queryId, rerank, nProbe)
      .select(col(idCol))
    val q = emb
      .where(col(idCol) === queryId)
      .select(col(vecCol).as("query_vec"))
    emb
      .join(pool, Seq(idCol), "left_semi")
      .crossJoin(broadcast(q))
      .select(col(idCol), round(cosine(col(vecCol), col("query_vec")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF-PQ serving from WRITTEN tables — the composition of round 10's
    * two halves ([[writeIvfIndex]]'s partitioned layout × codes-not-
    * vectors) that a 10¹¹-vector deployment actually runs. Probe list is
    * computed on the driver ([[nearestCentroidsDriver]], bit-pinned to the
    * in-plan ranking) and lands as `cluster IN (…)` literals in BOTH scans,
    * so each is partition-pruned at planning time:
    *
    *   1. ADC pass over the WRITTEN CODE table ([[writeIvfPqCodes]]) —
    *      reads ~w/C of the codes at numSub bytes/vector, reconstructs via
    *      literal codebook LUTs, ranks by cosine to the exact query, cuts
    *      a `rerank`-id pool;
    *   2. exact rerank against the WRITTEN FLOAT index
    *      ([[writeIvfIndex]]) — the pool ids live in probed cells by
    *      construction, so the point reads prune to the same w/C
    *      directories and a left-semi join selects the `rerank` rows.
    *
    * Ranking arithmetic is [[ivfPqTopKRerank]]'s (same ADC cosine, same
    * pool cut, same exact-cosine rerank and (sim DESC, id) tie-break), so
    * the served answer is bit-equal to the in-session form — spec-pinned,
    * oracle-shared. Scan cost: w/C of an 8 B/vec table + `rerank` exact
    * rows; never a full pass over anything.
    */
  def ivfPqServedTopK(spark: org.apache.spark.sql.SparkSession,
      codesPath: String, indexPath: String,
      cents: Array[(Long, Seq[Double])],
      books: Array[Array[(Long, Seq[Double])]],
      idCol: String, vecCol: String, qv: Seq[Float],
      k: Int, nProbe: Int = 2, rerank: Int = 50): DataFrame = {
    require(rerank >= k, "rerank pool must be at least k")
    val probes = nearestCentroidsDriver(cents, qv, nProbe)
    val xhat = concat(books.zipWithIndex.map { case (cb, m) =>
      val lut = typedlit(cb.sortBy(_._1).map(_._2))
      element_at(lut, col(s"c$m").cast("int") + 1)
    }: _*)
    val pool = spark.read.parquet(codesPath)
      .where(col("cluster").isin(probes: _*))
      .select(col(idCol),
        round(cosine(typedlit(qv), xhat), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(rerank)
      .select(col(idCol))
    spark.read.parquet(indexPath)
      .where(col("cluster").isin(probes: _*))
      .join(pool, Seq(idCol), "left_semi")
      .select(col(idCol),
        round(cosine(col(vecCol), typedlit(qv)), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Batched IVF-PQ serving from WRITTEN tables — [[ivfPqServedTopK]]'s
    * panel form, completing the serving matrix (single/batch × float/code
    * layouts; [[ivfServedTopKPanel]] is the float-table batch face). Each
    * query row computes its probe list in-plan and the candidate lookup is
    * an equi-join on the partition column, so the CODE scan is pruned at
    * RUNTIME via DynamicPruningSubquery (probe lists are a relation —
    * planning-time literals are impossible); the ADC pass window-ranks per
    * qid and cuts a per-query `rerank` pool THAT CARRIES ITS CLUSTER, so
    * the float-index point reads join on (cluster, id) — the broadcast
    * pool side lets runtime pruning reach the second scan too. One pruned
    * pass over codes + nq·rerank exact reads for the whole batch; ranking
    * is per-qid windows, never a global sort.
    */
  def ivfPqServedTopKPanel(spark: org.apache.spark.sql.SparkSession,
      codesPath: String, indexPath: String,
      cents: Array[(Long, Seq[Double])],
      books: Array[Array[(Long, Seq[Double])]],
      idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nProbe: Int = 2, rerank: Int = 50): DataFrame = {
    require(rerank >= k, "rerank pool must be at least k")
    import org.apache.spark.sql.expressions.Window
    val xhat = concat(books.zipWithIndex.map { case (cb, m) =>
      val lut = typedlit(cb.sortBy(_._1).map(_._2))
      element_at(lut, col(s"c$m").cast("int") + 1)
    }: _*)
    val q = queries.select(
      col(qidCol).cast("long").as("qid"), col(qvecCol).as("_qv"),
      explode(graft.functions.CentroidExpr.nearestCids(
        col(qvecCol), cents, nProbe)).as("cluster"))
    val wAdc = Window.partitionBy("qid").orderBy(col("sim").desc, col(idCol))
    val pool = spark.read.parquet(codesPath)
      .join(broadcast(q), Seq("cluster"))
      .select(col("qid"), col("cluster"), col(idCol),
        round(cosine(col("_qv"), xhat), 4).as("sim"))
      .withColumn("rank", row_number().over(wAdc))
      .where(col("rank") <= rerank)
      .select(col("qid"), col("cluster"), col(idCol))
    val qv = queries.select(
      col(qidCol).cast("long").as("qid"), col(qvecCol).as("_qv"))
    val wK = Window.partitionBy("qid").orderBy(col("sim").desc, col(idCol))
    spark.read.parquet(indexPath)
      .join(broadcast(pool), Seq("cluster", idCol))
      .join(broadcast(qv), Seq("qid"))
      .select(col("qid"), col(idCol),
        round(cosine(col(vecCol), col("_qv")), 4).as("sim"))
      .withColumn("rank", row_number().over(wK))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol), col("sim"))
      .orderBy("qid", "rank")
  }

  /** Negative squared L2 between two SQL list expressions, mirroring
    * [[negSqDist]]'s fold order. */
  def negSqDistSql(a: String, b: String): String =
    s"""-(list_sum(list_transform(list_zip($a, $b),
       x -> (CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE))*(CAST(x[1] AS DOUBLE)-CAST(x[2] AS DOUBLE)))))"""

  /** Per-subspace DuckDB CTE chains reproducing [[pqCodebooks]] +
    * [[pqEncode]]: for each subspace m, a slice CTE, the generated Lloyd
    * chain over slices (L2 assignment), and a `pq_code<m>` argmin CTE.
    * Joint-vs-per-subspace training fuses only execution — the per-subspace
    * math is independent, so the unfused mirror is exact. Returns
    * (cteChain, codeCteNames, centCteNames).
    */
  def pqSqlCtes(table: String, idCol: String, vecCol: String,
      numSub: Int, k: Int, subDim: Int, iters: Int): (String, Seq[String], Seq[String]) = {
    val parts = (0 until numSub).map { m =>
      val sub = s"pq_sub$m"
      val subCte = s"$sub AS (SELECT $idCol, list_slice($vecCol, ${m * subDim + 1}, ${(m + 1) * subDim}) AS svec FROM $table)"
      val (km, cent) = kmeansCentSqlCtes(sub, idCol, "svec", k, iters, subDim,
        negSqDistSql, prefix = s"pq${m}_")
      val codeCte = s"""pq_code$m AS (SELECT $idCol, cid FROM (
             SELECT e.$idCol, c.cid,
               row_number() OVER (PARTITION BY e.$idCol ORDER BY ${negSqDistSql("e.svec", "c.cvec")} DESC, c.cid) AS rn
             FROM $sub e CROSS JOIN $cent c) WHERE rn = 1)"""
      (s"$subCte,\n         $km,\n         $codeCte", s"pq_code$m", cent)
    }
    (parts.map(_._1).mkString(",\n         "), parts.map(_._2), parts.map(_._3))
  }

  /** [[pqSqlCtes]] for the AUTO build ([[pqCodebooksAuto]]): per subspace,
    * the slice CTE, a sampled Lloyd chain whose seeds are the first `k`
    * sample rows by id RENUMBERED 0..k−1 (the dense-code contract) and
    * whose training scans only `trainWhere` rows, then the full-corpus
    * argmin code CTE. Returns (cteChain, codeCteNames, centCteNames).
    */
  def pqSqlCtesAuto(table: String, idCol: String, vecCol: String,
      numSub: Int, k: Int, subDim: Int, iters: Int,
      trainWhere: String): (String, Seq[String], Seq[String]) = {
    val parts = (0 until numSub).map { m =>
      val sub = s"pq_sub$m"
      val subCte = s"$sub AS (SELECT $idCol, list_slice($vecCol, ${m * subDim + 1}, ${(m + 1) * subDim}) AS svec FROM $table)"
      val cent0 =
        s"""SELECT row_number() OVER (ORDER BY $idCol) - 1 AS cid,
              list_transform(svec, x -> CAST(x AS DOUBLE)) AS cvec
            FROM (SELECT $idCol, svec FROM $sub WHERE $trainWhere ORDER BY $idCol LIMIT $k)"""
      val (km, cent) = kmeansCentSqlCtesWhere(sub, idCol, "svec",
        seedWhere = "TRUE", trainWhere = trainWhere, iters = iters,
        dim = subDim, negSqDistSql, prefix = s"pq${m}_",
        cent0Select = Some(cent0))
      val codeCte = s"""pq_code$m AS (SELECT $idCol, cid FROM (
             SELECT e.$idCol, c.cid,
               row_number() OVER (PARTITION BY e.$idCol ORDER BY ${negSqDistSql("e.svec", "c.cvec")} DESC, c.cid) AS rn
             FROM $sub e CROSS JOIN $cent c) WHERE rn = 1)"""
      (s"$subCte,\n         $km,\n         $codeCte", s"pq_code$m", cent)
    }
    (parts.map(_._1).mkString(",\n         "), parts.map(_._2), parts.map(_._3))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    * 1998): greedily pick `score = λ·sim(c, q) − (1−λ)·max_{s∈S} sim(c, s)`
    * — the standard result-diversification rung on top of a similarity
    * retriever (near-duplicate hits crowd out coverage at λ=1).
    *
    * Execution shape: the DISTRIBUTED work is the candidate pool (brute
    * cosine TakeOrdered over the corpus — at scale, any ANN probe above);
    * the greedy loop is inherently sequential over a ≤ pool-sized set, so
    * the pool is collected ONCE (bounded driver state — pool × d floats,
    * the BPE/k-means discipline) and the Carbonell–Goldstein greedy runs
    * in plain Scala: ONE Spark job total, not k argmax jobs with growing
    * isin() literals.
    *
    * Cross-engine exactness: all sims round to 4 before entering scores;
    * the driver cosine replicates [[graft.functions.CosineSimExpr]]'s
    * left-to-right double fold bit-for-bit; λ and 1−λ are the same Scala
    * doubles interpolated into the oracle; ties break on id; final scores
    * round to 6 (HALF_UP, like `round`).
    */
  def mmrTopK(emb: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int, lambda: Double = 0.7, pool: Int = 50): DataFrame = {
    val spark = emb.sparkSession
    val q = emb.where(col(idCol) === queryId).select(col(vecCol).as("q_vec"))
    val cand = emb
      // the query is not a retrievable document: with q ∈ S every
      // candidate's redundancy is ≥ its relevance (sim to q IS rel) and
      // diversification collapses
      .where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), col(vecCol),
        round(cosine(col(vecCol), col("q_vec")), 4).as("rel"))
      .orderBy(col("rel").desc, col(idCol))
      .limit(pool)
      .collect()
    // driver-side mirrors of the expression arithmetic (same fold order as
    // CosineSimExpr; same HALF_UP decimal rounding as functions.round)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); i += 1 }
      i = 0; while (i < a.length) { na += a(i) * a(i); i += 1 }
      i = 0; while (i < b.length) { nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def rnd(x: Double, s: Int): Double =
      java.math.BigDecimal.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    val cs = cand.map { r =>
      val vec = r.getSeq[Any](1).map {
        case f: java.lang.Float  => f.toDouble
        case d: java.lang.Double => d.doubleValue()
      }.toArray
      (r.getLong(0), vec, r.getDouble(2))
    }
    var selected = Vector.empty[(Long, Int, Double)]
    var remaining = cs.toVector
    while (selected.length < k && remaining.nonEmpty) {
      val sel = selected.map(s => cs.find(_._1 == s._1).get)
      val best = remaining.map { case (id, vec, rel) =>
        val red = if (sel.isEmpty) 0.0
          else sel.map(s => rnd(cos(vec, s._2), 4)).max
        (id, lambda * rel - (1 - lambda) * red)
      }.minBy { case (id, score) => (-score, id) }
      selected :+= ((best._1, selected.length + 1, best._2))
      remaining = remaining.filterNot(_._1 == best._1)
    }
    import spark.implicits._
    selected.toDF(idCol, "step", "score")
      .select(col(idCol), col("step"), round(col("score"), 6).as("score"))
      .orderBy("step")
  }

  /** DuckDB mirror of [[mmrTopK]]: iteration-unrolled greedy chain —
    * cand pool CTE, then per step a remaining×selected max-redundancy
    * aggregate and a single argmax row, accumulated through MATERIALIZED
    * union CTEs (DuckDB's default inlining re-evaluates a doubly-referenced
    * chain exponentially — the BPE lesson).
    */
  def mmrSql(table: String, idCol: String, vecCol: String, queryId: Long,
      k: Int, cos: (String, String) => String,
      lambda: Double = 0.7, pool: Int = 50): String = {
    val lam = s"CAST($lambda AS DOUBLE)"
    val oneMinus = s"CAST(${1 - lambda} AS DOUBLE)"
    val steps = (1 until k).map { i =>
      s"""red$i AS MATERIALIZED (SELECT c.$idCol AS cid,
             MAX(round(${cos("c.vec", "s.vec")}, 4)) AS red
           FROM cand c JOIN selu${i - 1} s ON true
           WHERE c.$idCol NOT IN (SELECT $idCol FROM selu${i - 1})
           GROUP BY c.$idCol),
         sel$i AS MATERIALIZED (SELECT c.$idCol, c.vec, c.rel,
             ($lam * CAST(c.rel AS DOUBLE) - $oneMinus * r.red) AS score, ${i + 1} AS step
           FROM cand c JOIN red$i r ON c.$idCol = r.cid
           ORDER BY score DESC, c.$idCol LIMIT 1),
         selu$i AS MATERIALIZED (SELECT * FROM selu${i - 1} UNION ALL SELECT * FROM sel$i)"""
    }.mkString(",\n         ")
    s"""WITH q AS (SELECT $vecCol AS qv FROM $table WHERE $idCol = $queryId),
       cand AS MATERIALIZED (SELECT $idCol, $vecCol AS vec,
           round(${cos(vecCol, "q.qv")}, 4) AS rel
         FROM $table, q WHERE $idCol <> $queryId
         ORDER BY rel DESC, $idCol LIMIT $pool),
       sel0 AS MATERIALIZED (SELECT $idCol, vec, rel,
           ($lam * CAST(rel AS DOUBLE) - $oneMinus * 0.0) AS score, 1 AS step
         FROM cand ORDER BY rel DESC, $idCol LIMIT 1),
       selu0 AS MATERIALIZED (SELECT * FROM sel0),
       $steps
       SELECT $idCol, step, round(score, 6) AS score FROM selu${k - 1} ORDER BY step"""
  }

  /** Johnson–Lindenstrauss dimensionality reduction: project each vector
    * onto `k` seeded Rademacher (±1) directions and scale by 1/√k, so
    * E‖y‖² = ‖x‖² and pairwise distances are preserved within the JL
    * distortion bound — the cheap front-end that cuts every downstream
    * ANN / clustering cost by dim/k. One scan-only projection (the
    * [[graft.functions.RademacherProjectExpr]] loop — the k×dim Column
    * tree repeats the PQ codegen blowup), no shuffle.
    *
    * Output: (idCol, jl_fp) — the projected coordinates integer-quantized
    * (floor(x·1e6+0.5), the mrl convention: no float printing is ever
    * compared) and fingerprinted, plus the quantized first coordinate as a
    * direct value probe.
    */
  def jlProject(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, seed: Int = 7): DataFrame = {
    val scale = 1.0 / math.sqrt(k.toDouble)
    val dim = 64
    val proj = graft.functions.ProjectExpr.project(col(vecCol), planes(k, dim, seed))
    emb.select(col(idCol),
      transform(proj, x => floor(x * lit(scale) * lit(1e6) + lit(0.5)).cast("long")).as("_q"))
      .select(col(idCol),
        element_at(col("_q"), 1).as("q0"),
        substring(md5(concat_ws(",", transform(col("_q"), _.cast("string")))), 1, 16).as("jl_fp"))
  }

  /** Column reference form of the projection (equivalence-spec only). */
  def jlProjectColumns(vec: Column, k: Int, dim: Int, seed: Int = 7): Column = {
    val ps = planes(k, dim, seed)
    array((0 until k).map { p =>
      (0 until dim).foldLeft(lit(0.0)) { (acc, d) =>
        val e = coalesce(try_element_at(vec, lit(d + 1)).cast("double"), lit(0.0))
        if (ps(p)(d)) acc + e else acc - e
      }
    }: _*)
  }

  /** DuckDB mirror of [[jlProject]] — same planes, same interpolated
    * scale. */
  def jlProjectSql(table: String, idCol: String, vecCol: String,
      k: Int, seed: Int = 7): String = {
    val scale = 1.0 / math.sqrt(k.toDouble)
    val dim = 64
    val ps = planes(k, dim, seed)
    val coords = (0 until k).map { p =>
      val terms = (0 until dim).map { d =>
        val cast = s"COALESCE(CAST($vecCol[${d + 1}] AS DOUBLE), 0.0)"
        if (d == 0) { if (ps(p)(0)) cast else s"-$cast" }
        else if (ps(p)(d)) s" + $cast" else s" - $cast"
      }.mkString
      s"CAST(floor(($terms) * $scale * 1000000.0 + 0.5) AS BIGINT)"
    }
    s"""SELECT $idCol, q[1] AS q0, md5(array_to_string(q, ','))[:16] AS jl_fp
       FROM (SELECT $idCol, [${coords.mkString(",\n         ")}] AS q FROM $table)
       ORDER BY $idCol"""
  }

  /** Sign-bit binary quantization of one 32-dim half of a vector: bit i is
    * set iff `vec[lo + i] > 0`, packed into a non-negative long
    * (Σ bit·2^i, i < 32 — two halves per 64-dim vector keeps every
    * signature inside signed-64 with no sign-bit games in either engine).
    */
  def binaryHalfSig(vec: Column, lo: Int): Column =
    aggregate(sequence(lit(0), lit(31)), lit(0L),
      (acc, i) => acc + when(element_at(vec, i + lit(lo + 1)) > 0f,
        pow(lit(2.0), i).cast("long")).otherwise(lit(0L)))

  /** DuckDB mirror of [[binaryHalfSig]] (2^i exact in double for i<32). */
  def binaryHalfSigSql(vecExpr: String, lo: Int): String =
    s"""list_sum(list_transform(range(32),
       i -> CASE WHEN $vecExpr[i + ${lo + 1}] > 0 THEN CAST(2**i AS BIGINT) ELSE 0 END))"""

  /** Two-stage binary-quantized ANN (the "binary quantization + rescore"
    * path modern vector stores ship): stage 1 ranks by Hamming distance
    * between 64-bit sign signatures (`bit_count(xor)` over two packed
    * halves — 16 bytes per vector, a 16× scan-size reduction at 100 TB,
    * SIMD-friendly, no floats touched); stage 2 re-ranks the top
    * `candidates` survivors by EXACT cosine. Hamming ties break on id, so
    * the candidate set is deterministic in both engines.
    *
    * Plan shape at scale: the signature table is materialized once
    * (scan-only projection, like [[pqEncode]]); a query is one broadcast
    * row against the signature scan, a TakeOrdered of `candidates`
    * ids, and exact-vector lookups for only those ids.
    */
  def hammingRerank(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, candidates: Int): DataFrame = {
    val sigs = emb.select(col(idCol), col(vecCol),
      binaryHalfSig(col(vecCol), 0).as("sig_lo"),
      binaryHalfSig(col(vecCol), 32).as("sig_hi"))
    val q = sigs
      .where(col(idCol) === queryId)
      .select(col(vecCol).as("q_vec"), col("sig_lo").as("q_lo"), col("sig_hi").as("q_hi"))
    sigs
      .crossJoin(broadcast(q))
      .withColumn("ham",
        bit_count(col("sig_lo").bitwiseXOR(col("q_lo"))) +
        bit_count(col("sig_hi").bitwiseXOR(col("q_hi"))))
      .orderBy(col("ham").asc, col(idCol))
      .limit(candidates)
      .withColumn("sim", round(cosine(col(vecCol), col("q_vec")), 4))
      .orderBy(col("sim").desc, col(idCol))
      .select(col(idCol), col("ham").cast("int").as("ham"), col("sim"))
      .limit(k)
  }

  /** k-NN label propagation: classify each QUERY vector by majority vote of
    * its k nearest REFERENCE vectors (exact cosine) — the cheap
    * labeled-seed → whole-corpus classifier (quality tiers, topic buckets)
    * once a small seed set is labeled.
    *
    * Plan shape at 100 TB: the query batch broadcasts (queries are the
    * small side — a labeling batch vs the corpus), the reference corpus is
    * scanned ONCE, and per-query ranking goes through [[TopK.perKey]] —
    * each query's candidate list is corpus-sized, exactly the unsplittable
    * window group the salted two-phase avoids. The vote argmax is a plain
    * per-(query,label) count + one max_by struct, never a collect.
    *
    * sim rounds to 4 decimals before ranking (the [[cosineTopK]]
    * convention: float-vs-double engine drift can't reorder ties) and ties
    * break on reference id, so top-k sets are deterministic in both
    * engines. Vote ties break toward the smallest label.
    *
    * Output: (vec_id, pred_label, n_votes) per query vector.
    */
  def knnLabel(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      isQuery: Column,
      k: Int
  ): DataFrame = {
    val q = emb.where(isQuery)
      .select(col(idCol).as("_kl_qid"), col(vecCol).as("_kl_qv"))
    val pairs = emb.where(!isQuery)
      .crossJoin(broadcast(q))
      .select(col("_kl_qid"), col(idCol).as("_kl_rid"),
        col(labelCol).as("_kl_label"),
        round(cosine(col(vecCol), col("_kl_qv")), 4).as("_kl_sim"))
    TopK.perKey(pairs, Seq("_kl_qid"),
        Seq(col("_kl_sim").desc, col("_kl_rid").asc),
        saltFrom = col("_kl_rid"), n = k)
      .groupBy(col("_kl_qid"), col("_kl_label"))
      .agg(count(lit(1)).as("n_votes"))
      .groupBy(col("_kl_qid"))
      .agg(max(struct(col("n_votes"),
        (-col("_kl_label")).cast("int").as("_kl_neg"))).as("_kl_w"))
      .select(col("_kl_qid").as("vec_id"),
        (-col("_kl_w._kl_neg")).cast("int").as("pred_label"),
        col("_kl_w.n_votes").as("n_votes"))
  }

  /** DuckDB mirror of [[knnLabel]] — naive cross join + single window. */
  def knnLabelSql(tbl: String, idCol: String, vecCol: String, labelCol: String,
      queryPredSql: String, k: Int): String = {
    val dot = s"""list_sum(list_transform(list_zip(r.$vecCol, q.qv),
         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"""
    val norm = (v: String) =>
      s"sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"""WITH q AS (SELECT $idCol AS qid, $vecCol AS qv FROM $tbl WHERE $queryPredSql),
       r AS (SELECT * FROM $tbl WHERE NOT ($queryPredSql)),
       sims AS (SELECT q.qid, r.$idCol AS rid, r.$labelCol AS label,
                  round($dot / (${norm(s"r.$vecCol")} * ${norm("q.qv")}), 4) AS sim
                FROM r CROSS JOIN q),
       topk AS (SELECT * FROM (
                  SELECT qid, label,
                    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, rid) AS rn
                  FROM sims) WHERE rn <= $k),
       votes AS (SELECT qid, label, COUNT(*) AS n FROM topk GROUP BY qid, label)
       SELECT qid AS vec_id, label AS pred_label, n AS n_votes FROM votes
       QUALIFY row_number() OVER (PARTITION BY qid ORDER BY n DESC, label) = 1
       ORDER BY vec_id"""
  }

  /** Per-label embedding separability audit — "are my labels real clusters?"
    * before anyone trains on them: for every vector, cosine to its OWN
    * label centroid minus the best cosine to any OTHER label centroid (a
    * centroid-based silhouette margin), aggregated per label.
    *
    * Determinism discipline (the [[kmeansCentroids]] conventions):
    * centroid coordinates accumulate through DECIMAL(18,6) (exact,
    * order-independent) and divide in double; per-vector sims round to 4
    * before the margin; per-label margin MEANS accumulate the rounded
    * margins through DECIMAL(18,4). Centroids are labels×dim — broadcast;
    * the corpus scans once.
    *
    * Output: (label, n_vecs, avg_margin, frac_separated) — frac of vectors
    * strictly closer to their own centroid than to every other.
    */
  def labelCentroidMargin(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val cents = emb
      .select(col(labelCol).as("_lm_cl"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("_lm_cl", "dim")
      .agg((sum(col("v").cast("double").cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("m"))
      .groupBy("_lm_cl")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("_sm"))
      .select(col("_lm_cl"), transform(col("_sm"), _.getField("m")).as("_lm_cv"))
    val sims = emb
      .crossJoin(broadcast(cents))
      .select(col(idCol), col(labelCol).as("label"), col("_lm_cl"),
        round(cosine(col(vecCol), col("_lm_cv")), 4).as("sim"))
    val margins = sims
      .groupBy(col(idCol), col("label"))
      .agg(
        max(when(col("label") === col("_lm_cl"), col("sim"))).as("_own"),
        max(when(col("label") =!= col("_lm_cl"), col("sim"))).as("_other"))
      .select(col("label"), (col("_own") - col("_other")).as("_margin"))
    margins
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum(col("_margin").cast("decimal(18,4)")).cast("double") /
          count(lit(1)), 4).as("avg_margin"),
        round(sum(when(col("_margin") > 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 4).as("frac_separated"))
      .orderBy("label")
  }

  /** DuckDB mirror of [[labelCentroidMargin]]. */
  def labelCentroidMarginSql(tbl: String, idCol: String, vecCol: String,
      labelCol: String, dim: Int): String = {
    val cos = (a: String, b: String) =>
      s"""(list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"""
    s"""WITH cdim AS (SELECT $labelCol AS cl, d.d AS dim,
             CAST(SUM(CAST(CAST($vecCol[d.d] AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) AS m
           FROM $tbl CROSS JOIN range(1, ${dim + 1}) d(d)
           GROUP BY 1, 2),
       cents AS (SELECT cl, list(m ORDER BY dim) AS cv FROM cdim GROUP BY cl),
       sims AS (SELECT e.$idCol, e.$labelCol AS label, c.cl,
                  round(${cos(s"e.$vecCol", "c.cv")}, 4) AS sim
                FROM $tbl e CROSS JOIN cents c),
       marg AS (SELECT $idCol, label,
                  MAX(CASE WHEN label = cl THEN sim END) -
                  MAX(CASE WHEN label <> cl THEN sim END) AS margin
                FROM sims GROUP BY 1, 2)
       SELECT label, COUNT(*) AS n_vecs,
         round(CAST(SUM(CAST(margin AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*), 4) AS avg_margin,
         round(CAST(SUM(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS DOUBLE)/COUNT(*), 4) AS frac_separated
       FROM marg GROUP BY label ORDER BY label"""
  }

  /** Hard-negative mining for contrastive training: for each anchor in a
    * workload-sized batch, the k most-cosine-similar reference vectors whose
    * label DIFFERS from the anchor's — the "confusable" negatives a
    * contrastive or reranker trainer wants, vs the uninformative random ones.
    *
    * Scale contract (the [[knnLabel]] lesson): the anchor batch is a fixed,
    * workload-sized set — broadcast — so the reference corpus scans ONCE and
    * pair cardinality is |refs|·|batch|, linear in the corpus. The label
    * mismatch filter lands BEFORE ranking (inside the same projection the
    * cosine computes in), and per-anchor ranking goes through the salted
    * [[TopK.perKey]] because each anchor's candidate list is corpus-sized —
    * exactly the window partition AQE can't split. Sims round to 4 decimals
    * pre-ranking so engine float drift can't reorder ties.
    */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, isAnchor: Column, k: Int): DataFrame = {
    val q = emb.where(isAnchor)
      .select(col(idCol).as("_hn_aid"), col(vecCol).as("_hn_av"),
        col(labelCol).as("_hn_al"))
    val pairs = emb.where(!isAnchor)
      .crossJoin(broadcast(q))
      .where(col(labelCol) =!= col("_hn_al"))
      .select(col("_hn_aid"), col(idCol).as("_hn_nid"),
        col(labelCol).as("_hn_nl"),
        round(cosine(col(vecCol), col("_hn_av")), 4).as("_hn_sim"))
    TopK.perKey(pairs, Seq("_hn_aid"),
        Seq(col("_hn_sim").desc, col("_hn_nid").asc),
        saltFrom = col("_hn_nid"), n = k)
      .select(col("_hn_aid").as("anchor_id"), col("rank"),
        col("_hn_nid").as("neg_id"), col("_hn_nl").as("neg_label"),
        col("_hn_sim").as("sim"))
  }

  /** Candidate kNN graph shared by [[lofOutliers]] and [[hubness]]:
    * symmetric banded-LSH candidate closure (both directions, self
    * excluded), exact rounded cosine distance on candidates only, salted
    * top-k per id. Columns: (_lof_id, _lof_nbr, _lof_d).
    */
  private def candidateKnn(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, signDims: Int, rowsPerBand: Int): DataFrame =
    candidateKnnFrom(signBands(emb, idCol, vecCol, signDims, rowsPerBand),
      emb, idCol, vecCol, k)

  private def candidateKnnFrom(bands: DataFrame, emb: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val a = bands.as("a")
    val b = bands.as("b")
    val cand = a
      .join(b, col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("_lof_id"), col(s"b.$idCol").as("_lof_nbr"))
      .distinct()
    val vecs = emb.select(col(idCol), col(vecCol))
    val dists = cand
      .join(vecs.select(col(idCol).as("_lof_id"), col(vecCol).as("_lof_v1")), "_lof_id")
      .join(vecs.select(col(idCol).as("_lof_nbr"), col(vecCol).as("_lof_v2")), "_lof_nbr")
      .select(col("_lof_id"), col("_lof_nbr"),
        round(lit(1.0) - cosine(col("_lof_v1"), col("_lof_v2")), 4).as("_lof_d"))
    TopK.perKey(dists, Seq("_lof_id"),
        Seq(col("_lof_d").asc, col("_lof_nbr").asc),
        saltFrom = col("_lof_nbr"), n = k)
      .select(col("_lof_id"), col("_lof_nbr"), col("_lof_d"))
  }

  /** DuckDB CTE chain ending in `knn(id, nbr, d)` — the SQL mirror of
    * [[candidateKnn]] over RANDOM-HYPERPLANE bands, i.e. of
    * [[planeBands]] (same seed-offset-per-band plane stream, same fold
    * order as [[lshSignatureSql]]). `rowsPerBand` must be the width
    * [[autoBandWidth]] picks for the table's row count — the mirror is
    * static SQL, so the width is baked by the caller.
    */
  def knnPlaneSqlCtes(tbl: String, idCol: String, vecCol: String, k: Int,
      nBands: Int, rowsPerBand: Int, dim: Int, seed: Int = 42): String = {
    val bandRows = (0 until nBands).map { bi =>
      s"SELECT $idCol AS id, $bi AS band_idx, " +
        s"${lshSignatureSql(vecCol, rowsPerBand, dim, seed + 1000 * (bi + 1))} AS band_val FROM $tbl"
    }.mkString(" UNION ALL ")
    val cos = (x: String, y: String) =>
      s"""(list_sum(list_transform(list_zip($x, $y), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform($x, z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))))
          * sqrt(list_sum(list_transform($y, z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))))))"""
    s"""bands AS ($bandRows),
       cand AS (SELECT DISTINCT a.id AS id, b.id AS nbr
                FROM bands a JOIN bands b
                  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                 AND a.id <> b.id),
       dists AS (SELECT c.id, c.nbr,
                   round(1.0 - ${cos(s"v1.$vecCol", s"v2.$vecCol")}, 4) AS d
                 FROM cand c
                 JOIN $tbl v1 ON v1.$idCol = c.id
                 JOIN $tbl v2 ON v2.$idCol = c.nbr),
       knn AS (SELECT id, nbr, d FROM (
                 SELECT id, nbr, d,
                   row_number() OVER (PARTITION BY id ORDER BY d, nbr) AS rn
                 FROM dists) WHERE rn <= $k)"""
  }

  /** kNN-graph HUBNESS audit: how often each vector appears in OTHER
    * vectors' k-nearest lists (in-degree of the directed kNN graph) — the
    * classic high-dimensional pathology (Radovanović et al. 2010): a few
    * "hub" vectors show up in everyone's neighbor lists and poison
    * retrieval/kNN-label quality, while "anti-hubs" are never retrieved at
    * all. Run this before trusting any kNN-derived signal.
    *
    * Same scale contract as [[lofOutliers]] (shared [[candidateKnn]]);
    * the in-degree is one hash agg over the kNN edge list. Hubs are flagged
    * at in-degree ≥ 2k, anti-hubs at 0.
    *
    * Output: (vec_id, in_degree, is_hub, is_antihub) ordered by vec_id.
    */
  /** Measured-recall diagnostic for the density operators ([[lofOutliers]],
    * [[dbscanClusters]], [[hubness]]): for a panel of query ids, the
    * fraction of TRUE neighbors that fall inside the banded-LSH cohort —
    * i.e. share at least one (band_idx, band_val) with the query — under
    * the SAME signDims/rowsPerBand the operators run with. Two metrics:
    * `knn` (true k nearest by exact cosine) and `eps` (all true neighbors
    * at distance ≤ eps, DBSCAN's edge set). A coverage below ~0.9 means
    * the cohort is silently starving k-distance / core-point counts and
    * the banding needs retuning (more bands / fewer rows per band).
    *
    * Cost: |panel| × corpus exact distances (panel is small by contract)
    * plus one band equi-join — a diagnostic, not a serving path.
    *
    * Output: (metric, n_true, n_in_cohort, coverage) — 2 rows.
    */
  def cohortCoverage(emb: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, eps: Double,
      signDims: Int = 16, rowsPerBand: Int = 4): DataFrame =
    cohortCoverageFrom(signBands(emb, idCol, vecCol, signDims, rowsPerBand),
      emb, idCol, vecCol, queryIds, k, eps)

  /** [[cohortCoverage]] under the SAME auto-width [[planeBands]] the
    * `*Auto` density operators run with — the audit gate for the scale
    * path (pass the identical nBands/budgetPerRow/seed).
    */
  def cohortCoverageAuto(emb: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, eps: Double,
      nBands: Int = 4, budgetPerRow: Int = 64, seed: Int = 42): DataFrame = {
    val (n, dim) = corpusShape(emb, idCol, vecCol)
    val r = autoBandWidth(n, nBands, budgetPerRow)
    cohortCoverageFrom(planeBands(emb, idCol, vecCol, nBands, r, dim, seed),
      emb, idCol, vecCol, queryIds, k, eps)
  }

  /** DuckDB mirror of [[cohortCoverageAuto]] — plane bands with the width
    * BAKED by the caller (`rowsPerBand` must equal `autoBandWidth(n)` for
    * the table's actual row count; a row-count drift breaks the hash loudly,
    * by design — the [[hubnessAutoSql]] contract).
    */
  def cohortCoverageAutoSql(tbl: String, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, eps: Double,
      nBands: Int, rowsPerBand: Int, dim: Int, seed: Int = 42): String = {
    val bandRows = (0 until nBands).map { bi =>
      s"SELECT $idCol AS id, $bi AS band_idx, " +
        s"${lshSignatureSql(vecCol, rowsPerBand, dim, seed + 1000 * (bi + 1))} AS band_val FROM $tbl"
    }.mkString(" UNION ALL ")
    val panel = queryIds.mkString(", ")
    val cos = (x: String, y: String) =>
      s"""(list_sum(list_transform(list_zip($x, $y), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform($x, z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))))
          * sqrt(list_sum(list_transform($y, z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))))))"""
    s"""WITH q AS (SELECT $idCol AS qid, $vecCol AS qv FROM $tbl
             WHERE $idCol IN ($panel)),
       d AS (SELECT q.qid, e.$idCol AS nid,
               round(1.0 - ${cos(s"e.$vecCol", "q.qv")}, 4) AS dist
             FROM $tbl e CROSS JOIN q WHERE e.$idCol <> q.qid),
       knn AS (SELECT qid, nid FROM (
               SELECT qid, nid, row_number() OVER (PARTITION BY qid
                 ORDER BY dist, nid) AS rn FROM d) WHERE rn <= $k),
       epst AS (SELECT qid, nid FROM d WHERE dist <= $eps),
       bands AS ($bandRows),
       cohort AS (SELECT DISTINCT a.id AS qid, b.id AS nid
                  FROM bands a JOIN bands b
                    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                   AND a.id <> b.id
                  WHERE a.id IN ($panel)),
       cov AS (
         SELECT 'knn' AS metric, CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN c.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_cohort
         FROM knn t LEFT JOIN cohort c ON c.qid = t.qid AND c.nid = t.nid
         UNION ALL
         SELECT 'eps', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN c.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM epst t LEFT JOIN cohort c ON c.qid = t.qid AND c.nid = t.nid)
       SELECT metric, n_true, n_in_cohort,
         round(CAST(n_in_cohort AS DOUBLE) / CAST(n_true AS DOUBLE), 4) AS coverage
       FROM cov ORDER BY metric"""
  }

  private def cohortCoverageFrom(bands: DataFrame, emb: DataFrame,
      idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, eps: Double): DataFrame = {
    require(queryIds.nonEmpty, "cohortCoverage: empty panel")
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.where(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("_cc_q"), col(vecCol).as("_cc_qv"))
    val dists = emb.select(col(idCol).as("_cc_n"), col(vecCol).as("_cc_nv"))
      .crossJoin(broadcast(q))
      .where(col("_cc_n") =!= col("_cc_q"))
      .select(col("_cc_q"), col("_cc_n"),
        round(lit(1.0) - cosine(col("_cc_qv"), col("_cc_nv")), 4).as("_cc_d"))
    val knnTrue = TopK.perKey(dists, Seq("_cc_q"),
        Seq(col("_cc_d").asc, col("_cc_n").asc), saltFrom = col("_cc_n"), n = k)
      .select(col("_cc_q"), col("_cc_n"))
    val epsTrue = dists.where(col("_cc_d") <= eps).select(col("_cc_q"), col("_cc_n"))
    val cohort = bands.select(col(idCol).as("_cc_q"), col("band_idx"), col("band_val"))
      .where(col("_cc_q").isin(queryIds: _*))
      .join(bands.select(col(idCol).as("_cc_n"), col("band_idx"), col("band_val")),
        Seq("band_idx", "band_val"))
      .where(col("_cc_q") =!= col("_cc_n"))
      .select(col("_cc_q"), col("_cc_n")).distinct()
      .withColumn("_cc_in", lit(1))
    def cov(truth: DataFrame, name: String): DataFrame = truth
      .join(cohort, Seq("_cc_q", "_cc_n"), "left")
      .agg(count(lit(1)).as("n_true"), sum(coalesce(col("_cc_in"), lit(0))).as("n_in_cohort"))
      .select(lit(name).as("metric"), col("n_true"), col("n_in_cohort"),
        round(col("n_in_cohort").cast("double") / col("n_true").cast("double"), 4)
          .as("coverage"))
    cov(knnTrue, "knn").unionByName(cov(epsTrue, "eps"))
  }

  /** RETIRED from the public surface (round 10): the fixed 16-bit band
    * width holds candidate volume ∝ 0.25·n² — the superlinear wall the
    * round-9 board swap demoted. Spec-internal only: DensitySpec owns the
    * closed-form semantics, ScaleSmoke keeps it as the `hubness_fixed`
    * stress anchor so the wall stays measurable. Library callers get
    * [[hubnessAuto]] (budget-bounded width), which is what the board
    * serves.
    */
  private[graft] def hubness(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      signDims: Int = 16, rowsPerBand: Int = 4): DataFrame =
    hubnessFromKnn(emb, idCol,
      candidateKnn(emb, idCol, vecCol, k, signDims, rowsPerBand), k)

  /** [[hubness]] with the band width chosen by [[autoBandWidth]] from the
    * corpus size (one count job), over [[planeBands]] so width is not
    * capped by the vector dimension: per-row candidate volume stays at
    * `budgetPerRow` as n grows instead of growing ∝ n. Same downstream
    * algebra; candidate-graph membership differs from the fixed-width
    * operator by construction.
    */
  def hubnessAuto(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nBands: Int = 4, budgetPerRow: Int = 64, seed: Int = 42): DataFrame = {
    val (n, dim) = corpusShape(emb, idCol, vecCol)
    val r = autoBandWidth(n, nBands, budgetPerRow)
    hubnessFromKnn(emb, idCol,
      candidateKnnFrom(planeBands(emb, idCol, vecCol, nBands, r, dim, seed),
        emb, idCol, vecCol, k), k)
  }

  private def hubnessFromKnn(emb: DataFrame, idCol: String,
      knn: DataFrame, k: Int): DataFrame = {
    val indeg = knn.groupBy(col("_lof_nbr").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    emb.select(col(idCol).as("vec_id"))
      .join(indeg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        (coalesce(col("in_degree"), lit(0L)) >= 2L * k).as("is_hub"),
        (coalesce(col("in_degree"), lit(0L)) === 0L).as("is_antihub"))
      .orderBy("vec_id")
  }

  /** DuckDB mirror of [[hubnessAuto]] — `rowsPerBand` must equal
    * `autoBandWidth(n)` for the table's actual row count (static SQL bakes
    * the width; a row-count drift breaks the hash loudly, by design) and
    * `dim` the vector length.
    */
  def hubnessAutoSql(tbl: String, idCol: String, vecCol: String, k: Int,
      nBands: Int, rowsPerBand: Int, dim: Int, seed: Int = 42): String =
    s"""WITH ${knnPlaneSqlCtes(tbl, idCol, vecCol, k, nBands, rowsPerBand, dim, seed)},
       indeg AS (SELECT nbr AS vec_id, COUNT(*) AS in_degree FROM knn GROUP BY nbr)
       SELECT t.$idCol AS vec_id,
         COALESCE(in_degree, 0) AS in_degree,
         COALESCE(in_degree, 0) >= ${2 * k} AS is_hub,
         COALESCE(in_degree, 0) = 0 AS is_antihub
       FROM $tbl t LEFT JOIN indeg ON indeg.vec_id = t.$idCol
       ORDER BY vec_id"""

  /** Local Outlier Factor (Breunig et al. 2000) over the banded-LSH
    * candidate graph: density-based outlier scoring of the embedding corpus
    * — "is this vector in a sparser neighborhood than its neighbors?" — the
    * audit that catches mis-embedded / out-of-distribution rows a global
    * distance threshold misses.
    *
    * Scale contract: exact LOF needs the kNN graph, which is all-pairs; at
    * 100 TB the honest construction is LOF over CANDIDATE kNN — the same
    * banded sign-LSH candidate generation as [[cosineNearDupPairs]]
    * (symmetric closure, so every id's candidate list is its LSH bucket
    * cohort, cardinality Σ_bucket pop² per band, never n²). Every stage
    * after candidates is an equi-join or per-id agg:
    * knn (salted top-k per id) → k-distance (per-id max) → reachability
    * (join neighbor's k-distance) → lrd (per-id fold) → LOF (join neighbor
    * lrd, per-id fold). Ids whose bucket cohort is empty drop out (no
    * neighborhood ⇒ no score) — deterministically in both engines.
    *
    * Determinism discipline: distances round(4) BEFORE ranking with id
    * tie-break; every cross-row sum accumulates through DECIMAL (exact,
    * order-independent); divisions happen once, in double, on identical
    * inputs; lrd rounds to 6, lof to 4.
    *
    * Output: (vec_id, n_nbrs, lrd, lof) ordered by vec_id.
    */
  /** RETIRED from the public surface (round 10) — see [[hubness]]'s note:
    * fixed-width candidates are ∝ 0.25·n²; spec/stress-anchor use only.
    * Library callers get [[lofOutliersAuto]].
    */
  private[graft] def lofOutliers(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      signDims: Int = 16, rowsPerBand: Int = 4): DataFrame =
    lofFromKnn(candidateKnn(emb, idCol, vecCol, k, signDims, rowsPerBand))

  /** [[lofOutliers]] with the band width chosen by [[autoBandWidth]] from
    * the corpus size — the applied form of the fixed-width operator's scale
    * contract (candidate volume per row bounded at `budgetPerRow` instead
    * of ∝ n). One extra count job; [[planeBands]] so width can exceed the
    * vector dimension.
    */
  def lofOutliersAuto(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nBands: Int = 4, budgetPerRow: Int = 64, seed: Int = 42): DataFrame = {
    val (n, dim) = corpusShape(emb, idCol, vecCol)
    val r = autoBandWidth(n, nBands, budgetPerRow)
    lofFromKnn(candidateKnnFrom(
      planeBands(emb, idCol, vecCol, nBands, r, dim, seed),
      emb, idCol, vecCol, k))
  }

  private def lofFromKnn(knn: DataFrame): DataFrame = {
    // k-distance + realized neighbor count per id (may be < k in a sparse bucket)
    val kdist = knn.groupBy("_lof_id")
      .agg(max(col("_lof_d")).as("_lof_kd"), count(lit(1)).as("_lof_n"))
    // reachability distance: max(k-distance(nbr), d(id,nbr)); the symmetric
    // candidate closure guarantees every nbr has its own kdist row
    val reach = knn
      .join(kdist.select(col("_lof_id").as("_lof_nbr"),
        col("_lof_kd").as("_lof_nkd")), "_lof_nbr")
      .select(col("_lof_id"), col("_lof_nbr"),
        greatest(col("_lof_nkd"), col("_lof_d")).as("_lof_r"))
    // an all-zero reachability sum (k exact-duplicate neighbors — replicas,
    // byte-identical embeddings) is the classic LOF degenerate case: lrd is
    // formally infinite. NULL, deterministically in both engines, is the
    // honest score; dedup such vectors first.
    val lrd = reach.groupBy("_lof_id")
      .agg(when(sum(col("_lof_r").cast("decimal(18,4)")) > 0,
        round(count(lit(1)).cast("double") /
          sum(col("_lof_r").cast("decimal(18,4)")).cast("double"), 6))
        .as("_lof_lrd"))
    knn
      .join(lrd.select(col("_lof_id").as("_lof_nbr"),
        col("_lof_lrd").as("_lof_nlrd")), "_lof_nbr")
      .groupBy("_lof_id")
      .agg(count(lit(1)).as("n_nbrs"),
        sum(col("_lof_nlrd").cast("decimal(18,6)")).as("_lof_s"),
        // SQL SUM skips nulls — a degenerate neighbor must null the WHOLE
        // score, not silently shrink the average
        sum(when(col("_lof_nlrd").isNull, 1L).otherwise(0L)).as("_lof_degen"))
      .join(lrd, "_lof_id")
      .select(col("_lof_id").as("vec_id"), col("n_nbrs"),
        col("_lof_lrd").as("lrd"),
        when(col("_lof_degen") === 0,
          round((col("_lof_s").cast("double") / col("n_nbrs")) / col("_lof_lrd"), 4))
          .as("lof"))
      .orderBy("vec_id")
  }

  /** DBSCAN over the banded-LSH candidate eps-graph: density clustering of
    * the embedding corpus into core / border / noise — the clustering that
    * needs no cluster count and leaves outliers OUT (vs k-means forcing
    * every vector somewhere), i.e. the topic-discovery + junk-separation
    * pass of an embedding-curated corpus.
    *
    * Same scale contract as [[lofOutliers]]: the eps-neighborhood is
    * evaluated over LSH bucket cohorts (never n²); cluster formation is the
    * bounded-round label-propagation fixpoint [[Dedup.nearDupClusters]]
    * runs, over CORE-CORE edges only (the classic DBSCAN equivalence:
    * clusters = connected components of core points under eps-adjacency,
    * borders attach to a neighboring core's cluster). Border assignment is
    * the deterministic min-cluster variant (classic DBSCAN is
    * scan-order-dependent there; a distributed engine must not be).
    *
    * Output: one row per vector — (vec_id, kind core|border|noise,
    * cluster_id nullable) ordered by vec_id. Distances round(4) before the
    * eps test so engine float drift can't flip an edge.
    */
  /** RETIRED from the public surface (round 10) — see [[hubness]]'s note:
    * fixed-width candidates are ∝ 0.25·n²; spec/stress-anchor use only.
    * Library callers get [[dbscanClustersAuto]].
    */
  private[graft] def dbscanClusters(emb: DataFrame, idCol: String, vecCol: String,
      eps: Double, minPts: Int,
      signDims: Int = 16, rowsPerBand: Int = 4): DataFrame =
    dbscanFrom(signBands(emb, idCol, vecCol, signDims, rowsPerBand),
      emb, idCol, vecCol, eps, minPts)

  /** [[dbscanClusters]] with the band width chosen by [[autoBandWidth]]
    * from the corpus size (see [[lofOutliersAuto]]): eps-edge candidates
    * per row stay at `budgetPerRow` as n grows.
    */
  def dbscanClustersAuto(emb: DataFrame, idCol: String, vecCol: String,
      eps: Double, minPts: Int,
      nBands: Int = 4, budgetPerRow: Int = 64, seed: Int = 42): DataFrame = {
    val (n, dim) = corpusShape(emb, idCol, vecCol)
    val r = autoBandWidth(n, nBands, budgetPerRow)
    dbscanFrom(planeBands(emb, idCol, vecCol, nBands, r, dim, seed),
      emb, idCol, vecCol, eps, minPts)
  }

  private def dbscanFrom(bands: DataFrame, emb: DataFrame, idCol: String,
      vecCol: String, eps: Double, minPts: Int): DataFrame = {
    val a = bands.as("a")
    val b = bands.as("b")
    // candidates are NOT deduped before the eps test: a pair agreeing on
    // multiple bands costs a few extra codegen'd cosines, while deduping
    // first would shuffle the FULL candidate volume — the eps filter drops
    // the overwhelming share (≈99.5% at the board's settings), so the
    // distinct shuffles only surviving edges
    val cand = a
      .join(b, col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("_db_id"), col(s"b.$idCol").as("_db_nbr"))
    val vecs = emb.select(col(idCol), col(vecCol))
    // symmetric eps-edges (both directions present by candidate symmetry)
    val edges = cand
      .join(vecs.select(col(idCol).as("_db_id"), col(vecCol).as("_db_v1")), "_db_id")
      .join(vecs.select(col(idCol).as("_db_nbr"), col(vecCol).as("_db_v2")), "_db_nbr")
      .where(round(lit(1.0) - cosine(col("_db_v1"), col("_db_v2")), 4) <= eps)
      .select(col("_db_id"), col("_db_nbr"))
      .distinct()
      .localCheckpoint()
    // core = (eps-neighbor count + self) >= minPts
    val cores = edges.groupBy("_db_id").agg(count(lit(1)).as("_db_n"))
      .where(col("_db_n") + 1 >= minPts)
      .select(col("_db_id").as("_db_core"))
    // clusters = CC over core-core edges; an isolated core (no core
    // neighbor) is its own singleton cluster
    val coreEdges = edges
      .join(cores.select(col("_db_core").as("_db_id")), "_db_id")
      .join(cores.select(col("_db_core").as("_db_nbr")), "_db_nbr")
      .where(col("_db_id") < col("_db_nbr"))
      .select(col("_db_id").as("id_a"), col("_db_nbr").as("id_b"))
    val cc = Dedup.nearDupClusters(coreEdges)
    val coreClusters = cores
      .join(cc.select(col("id").as("_db_core"), col("cluster_id")), Seq("_db_core"), "left")
      .select(col("_db_core"), coalesce(col("cluster_id"), col("_db_core")).as("_db_cl"))
    // border = non-core with >= 1 core eps-neighbor; attaches to the MIN
    // cluster id among its core neighbors (deterministic)
    val borderClusters = edges
      .join(coreClusters.select(col("_db_core").as("_db_nbr"),
        col("_db_cl").as("_db_ncl")), "_db_nbr")
      .join(cores.withColumnRenamed("_db_core", "_db_id"), Seq("_db_id"), "left_anti")
      .groupBy("_db_id")
      .agg(min(col("_db_ncl")).as("_db_cl"))
    emb.select(col(idCol).as("vec_id"))
      .join(coreClusters.select(col("_db_core").as("vec_id"),
        col("_db_cl").as("_core_cl")), Seq("vec_id"), "left")
      .join(borderClusters.select(col("_db_id").as("vec_id"),
        col("_db_cl").as("_bord_cl")), Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("_core_cl").isNotNull, "core")
          .when(col("_bord_cl").isNotNull, "border")
          .otherwise("noise").as("kind"),
        coalesce(col("_core_cl"), col("_bord_cl")).as("cluster_id"))
      .orderBy("vec_id")
  }

  /** DuckDB mirror of [[dbscanClustersAuto]] — hyperplane bands (see
    * [[hubnessAutoSql]] for the baked-width contract). */
  def dbscanClustersAutoSql(tbl: String, idCol: String, vecCol: String,
      eps: Double, minPts: Int,
      nBands: Int, rowsPerBand: Int, dim: Int, seed: Int = 42): String = {
    val bandRows = (0 until nBands).map { bi =>
      s"SELECT $idCol AS id, $bi AS band_idx, " +
        s"${lshSignatureSql(vecCol, rowsPerBand, dim, seed + 1000 * (bi + 1))} AS band_val FROM $tbl"
    }.mkString(" UNION ALL ")
    val cos = (x: String, y: String) =>
      s"""(list_sum(list_transform(list_zip($x, $y), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform($x, z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))))
          * sqrt(list_sum(list_transform($y, z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))))))"""
    s"""WITH RECURSIVE bands AS ($bandRows),
       cand AS (SELECT DISTINCT a.id AS id, b.id AS nbr
                FROM bands a JOIN bands b
                  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                 AND a.id <> b.id),
       edges AS (SELECT c.id, c.nbr FROM cand c
                 JOIN $tbl v1 ON v1.$idCol = c.id
                 JOIN $tbl v2 ON v2.$idCol = c.nbr
                 WHERE round(1.0 - ${cos(s"v1.$vecCol", s"v2.$vecCol")}, 4) <= $eps),
       cores AS (SELECT id AS core FROM edges GROUP BY id
                 HAVING COUNT(*) + 1 >= $minPts),
       ce AS (SELECT e.id AS src, e.nbr AS dst FROM edges e
              JOIN cores c1 ON c1.core = e.id
              JOIN cores c2 ON c2.core = e.nbr),
       reach(id, r) AS (
         SELECT src, src FROM ce
         UNION
         SELECT reach.id, ce.dst FROM reach JOIN ce ON reach.r = ce.src),
       cc AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       corecl AS (SELECT cores.core, COALESCE(cc.cluster_id, cores.core) AS cl
                  FROM cores LEFT JOIN cc ON cc.id = cores.core),
       bordcl AS (SELECT e.id, MIN(k.cl) AS cl
                  FROM edges e JOIN corecl k ON k.core = e.nbr
                  WHERE e.id NOT IN (SELECT core FROM cores)
                  GROUP BY e.id)
       SELECT t.$idCol AS vec_id,
         CASE WHEN corecl.cl IS NOT NULL THEN 'core'
              WHEN bordcl.cl IS NOT NULL THEN 'border'
              ELSE 'noise' END AS kind,
         COALESCE(corecl.cl, bordcl.cl) AS cluster_id
       FROM $tbl t
       LEFT JOIN corecl ON corecl.core = t.$idCol
       LEFT JOIN bordcl ON bordcl.id = t.$idCol
       ORDER BY vec_id"""
  }

  /** DuckDB mirror of [[lofOutliersAuto]] — hyperplane bands (see
    * [[hubnessAutoSql]] for the baked-width contract). */
  def lofOutliersAutoSql(tbl: String, idCol: String, vecCol: String, k: Int,
      nBands: Int, rowsPerBand: Int, dim: Int, seed: Int = 42): String =
    s"WITH ${knnPlaneSqlCtes(tbl, idCol, vecCol, k, nBands, rowsPerBand, dim, seed)},\n$lofSqlTail"

  private val lofSqlTail: String = {
    s"""kdist AS (SELECT id, MAX(d) AS kd, COUNT(*) AS n FROM knn GROUP BY id),
       reach AS (SELECT knn.id, knn.nbr, GREATEST(kd2.kd, knn.d) AS r
                 FROM knn JOIN kdist kd2 ON kd2.id = knn.nbr),
       lrd AS (SELECT id,
                 CASE WHEN SUM(CAST(r AS DECIMAL(18,4))) > 0 THEN
                   round(CAST(COUNT(*) AS DOUBLE) /
                     CAST(SUM(CAST(r AS DECIMAL(18,4))) AS DOUBLE), 6)
                 END AS lrd
               FROM reach GROUP BY id),
       agg AS (SELECT knn.id, COUNT(*) AS n_nbrs,
                 SUM(CAST(l2.lrd AS DECIMAL(18,6))) AS s,
                 SUM(CASE WHEN l2.lrd IS NULL THEN 1 ELSE 0 END) AS degen
               FROM knn JOIN lrd l2 ON l2.id = knn.nbr GROUP BY knn.id)
       SELECT agg.id AS vec_id, n_nbrs, lrd.lrd AS lrd,
         CASE WHEN degen = 0 THEN
           round((CAST(s AS DOUBLE) / n_nbrs) / lrd.lrd, 4)
         END AS lof
       FROM agg JOIN lrd ON lrd.id = agg.id
       ORDER BY vec_id"""
  }

  /** DuckDB mirror of [[hardNegatives]] — naive cross join + single window. */
  def hardNegativesSql(tbl: String, idCol: String, vecCol: String,
      labelCol: String, anchorPredSql: String, k: Int): String = {
    val dot = s"""list_sum(list_transform(list_zip(r.$vecCol, q.av),
         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"""
    val norm = (v: String) =>
      s"sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"""WITH q AS (SELECT $idCol AS aid, $vecCol AS av, $labelCol AS al
              FROM $tbl WHERE $anchorPredSql),
       sims AS (SELECT q.aid, r.$idCol AS nid, r.$labelCol AS nl,
                  round($dot / (${norm(s"r.$vecCol")} * ${norm("q.av")}), 4) AS sim
                FROM $tbl r CROSS JOIN q
                WHERE NOT ($anchorPredSql ) AND r.$labelCol <> q.al),
       ranked AS (SELECT aid, nid, nl, sim,
                    row_number() OVER (PARTITION BY aid ORDER BY sim DESC, nid) AS rank
                  FROM sims)
       SELECT aid AS anchor_id, CAST(rank AS BIGINT) AS rank, nid AS neg_id,
         nl AS neg_label, sim
       FROM ranked WHERE rank <= $k ORDER BY anchor_id, rank"""
  }
}
