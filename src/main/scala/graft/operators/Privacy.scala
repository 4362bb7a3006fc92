package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy auditing and release primitives for dataset publication — the
  * checks a corpus goes through before it leaves the building alongside
  * [[TextAnalysis.scrubPii]] (scrubbing removes direct identifiers;
  * these measure what the REMAINING quasi-identifiers still reveal, and
  * add calibrated noise to released aggregates).
  */
object Privacy {

  /** k-anonymity audit (Sweeney 2002): group rows by their
    * quasi-identifier combination, read the equivalence-class size
    * spectrum, and report the share of rows in classes smaller than each
    * candidate k — the number a release review asks for ("what fraction
    * of rows is re-identifiable at k=5?"). One hash aggregation over the
    * QI columns (map-side combinable), then two bounded rollups over the
    * class-size relation; the fact table never shuffles twice.
    */
  def kAnonymity(df: DataFrame, quasiIds: Seq[String],
      ks: Seq[Int] = Seq(2, 5, 10)): DataFrame = {
    require(quasiIds.nonEmpty && ks.nonEmpty && ks.forall(_ >= 2),
      "kAnonymity: need quasi-identifier columns and ks >= 2")
    val classes = df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("_ka_sz"))
    val spectrum = classes.groupBy(col("_ka_sz")).agg(count(lit(1)).as("_ka_n"))
    val total = sum(col("_ka_sz") * col("_ka_n"))
    val aggs =
      Seq(count(lit(1)).cast("long").as("n_class_sizes"),
        sum(col("_ka_n")).as("n_classes"),
        total.as("n_rows"),
        min(col("_ka_sz")).as("min_class")) ++
      ks.map(k =>
        round(sum(when(col("_ka_sz") < k, col("_ka_sz") * col("_ka_n"))
            .otherwise(0L)).cast("double") / total.cast("double"), 6)
          .as(s"share_below_$k"))
    spectrum.agg(aggs.head, aggs.tail: _*)
  }

  /** DuckDB mirror of [[kAnonymity]]. */
  def kAnonymitySql(tbl: String, quasiIds: Seq[String],
      ks: Seq[Int] = Seq(2, 5, 10)): String = {
    val qi = quasiIds.mkString(", ")
    val shares = ks.map(k =>
      s"""round(CAST(SUM(CASE WHEN sz < $k THEN sz * n ELSE 0 END) AS DOUBLE)
          / CAST(SUM(sz * n) AS DOUBLE), 6) AS share_below_$k""")
      .mkString(",\n         ")
    s"""WITH cls AS (SELECT $qi, COUNT(*) AS sz FROM $tbl GROUP BY $qi),
       spec AS (SELECT sz, COUNT(*) AS n FROM cls GROUP BY sz)
       SELECT COUNT(*) AS n_class_sizes,
         CAST(SUM(n) AS BIGINT) AS n_classes,
         CAST(SUM(sz * n) AS BIGINT) AS n_rows,
         MIN(sz) AS min_class,
         $shares
       FROM spec"""
  }

  /** Laplace-noised count release: per-group counts plus
    * Laplace(1/ε) noise via the inverse-CDF transform
    * `−b·sign(u−½)·ln(1−2|u−½|)` of an md5-derived uniform — the
    * ε-DP release mechanism for counting queries (sensitivity 1), with
    * the caveat stated where it matters: the uniform is SEEDED (a pure
    * function of group and salt) so the release is reproducible and
    * cross-engine testable; a production ε-DP release must draw fresh
    * randomness per release instead (one substitution at this call
    * site). Zero extra shuffles — noise is a scalar expression over the
    * bounded group-count relation.
    */
  def laplaceCounts(df: DataFrame, groupCol: String, epsilon: Double,
      salt: String = "dp"): DataFrame = {
    require(epsilon > 0, "laplaceCounts: epsilon > 0")
    val u = conv(substring(md5(concat(lit(salt + ":"),
        col(groupCol).cast("string"))), 1, 15), 16, 10)
      .cast("double") / lit((1L << 60).toDouble)
    val centered = u - lit(0.5)
    val b = 1.0 / epsilon
    val noise = -lit(b) * signum(centered) *
      log(lit(1.0) - lit(2.0) * abs(centered))
    df.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      .select(col(groupCol), col("n"),
        round(col("n").cast("double") + noise, 4).as("n_released"),
        lit(epsilon).as("epsilon"))
      .orderBy(groupCol)
  }

  /** DuckDB mirror of [[laplaceCounts]]. */
  def laplaceCountsSql(tbl: String, groupCol: String, epsilon: Double,
      salt: String = "dp"): String = {
    val b = (1.0 / epsilon).toString
    s"""WITH g AS (SELECT $groupCol, COUNT(*) AS n FROM $tbl GROUP BY $groupCol),
       u AS (SELECT $groupCol, n,
           CAST('0x'||substr(md5('${OracleSql.esc(salt)}:'||CAST($groupCol AS VARCHAR)),1,15) AS BIGINT)
             / 1152921504606846976.0 - 0.5 AS c
         FROM g)
       SELECT $groupCol, n,
         round(CAST(n AS DOUBLE) + (- CAST($b AS DOUBLE) * sign(c)
           * ln(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) * abs(c))), 4) AS n_released,
         CAST($epsilon AS DOUBLE) AS epsilon
       FROM u ORDER BY $groupCol"""
  }

  /** l-diversity audit (Machanavajjhala et al. 2007) — the gap k-anonymity
    * leaves open: a class of 50 identical rows is 50-anonymous yet leaks
    * its sensitive value outright if all 50 share it. Per QI class, l =
    * COUNT(DISTINCT sensitive); the release row reports the class count,
    * the worst (min) l, and the share of ROWS living in classes below each
    * candidate l — entirely integer arithmetic plus one rounded division,
    * so the audit is engine-exact. Shape: one partial-aggregatable
    * (QI, sens) distinct + one class agg + one bounded rollup.
    */
  def lDiversity(df: DataFrame, quasiIds: Seq[String], sensCol: String,
      ls: Seq[Int] = Seq(2, 3, 5)): DataFrame = {
    require(quasiIds.nonEmpty && ls.nonEmpty && ls.forall(_ >= 2),
      "lDiversity: need quasi-identifiers and ls >= 2")
    val classes = df.groupBy(quasiIds.map(col): _*)
      .agg(countDistinct(col(sensCol)).as("_l"), count(lit(1)).as("_sz"))
    val total = sum(col("_sz"))
    val aggs =
      Seq(count(lit(1)).cast("long").as("n_classes"),
        total.as("n_rows"),
        min(col("_l")).as("min_l"),
        max(col("_l")).as("max_l")) ++
      ls.map(l =>
        round(sum(when(col("_l") < l, col("_sz")).otherwise(0L)).cast("double")
          / total.cast("double"), 6).as(s"share_rows_below_l$l"))
    classes.agg(aggs.head, aggs.tail: _*)
  }

  /** DuckDB mirror of [[lDiversity]]. */
  def lDiversitySql(tbl: String, quasiIds: Seq[String], sensCol: String,
      ls: Seq[Int] = Seq(2, 3, 5)): String = {
    val qi = quasiIds.mkString(", ")
    val shares = ls.map(l =>
      s"""round(CAST(SUM(CASE WHEN l < $l THEN sz ELSE 0 END) AS DOUBLE)
          / CAST(SUM(sz) AS DOUBLE), 6) AS share_rows_below_l$l""")
      .mkString(",\n         ")
    s"""WITH cls AS (SELECT $qi, COUNT(DISTINCT $sensCol) AS l, COUNT(*) AS sz
           FROM $tbl GROUP BY $qi)
       SELECT COUNT(*) AS n_classes, CAST(SUM(sz) AS BIGINT) AS n_rows,
         MIN(l) AS min_l, MAX(l) AS max_l,
         $shares
       FROM cls"""
  }

  /** t-closeness audit (Li et al. 2007) for a NUMERIC sensitive attribute:
    * per QI class, the ordered earth-mover's distance between the class's
    * sensitive distribution and the corpus-wide one, over a shared
    * equi-width bucket grid — t = (1/(m−1))·Σ_b |cumP_class − cumP_global|.
    *
    * Engine-exact by construction: cumulative counts are integers, each
    * per-bucket |p−q| is carried CROSS-MULTIPLIED (|cumC·nG − cumG·nC| as
    * BIGINT — same denominator nC·nG for every bucket of a class, so the
    * bucket SUM is one exact integer), and the single float division
    * happens once per class at the end. Shape: class×bucket grid
    * (bounded), one window cumsum over it; the fact table shuffles once.
    */
  def tCloseness(df: DataFrame, quasiIds: Seq[String], sensCol: String,
      buckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(quasiIds.nonEmpty && buckets >= 2, "tCloseness: need QI cols, buckets >= 2")
    val v = col(sensCol).cast("double")
    val mm = df.agg(min(v).as("lo"), max(v).as("hi")).head()
    val (lo, hi) = (mm.getAs[Double]("lo"), mm.getAs[Double]("hi"))
    val b =
      if (hi == lo) lit(0L)
      else least(lit(buckets - 1L), floor(((v - lit(lo)) / lit(hi - lo)) * buckets))
    val qis = quasiIds.map(col)
    val counts = df.select((qis :+ b.as("b")): _*)
      .groupBy((quasiIds.map(col) :+ col("b")): _*)
      .agg(count(lit(1)).as("nc"))
    val globalCounts = counts.groupBy("b").agg(sum("nc").as("ng"))
    // full class×bucket grid: EMD accumulates |cumdiff| at EVERY step,
    // including buckets the class never hits
    val grid = counts.select(qis: _*).distinct()
      .crossJoin(broadcast(df.sparkSession.range(buckets).select(col("id").as("b"))))
    val cells = grid
      .join(counts, quasiIds :+ "b", "left")
      .join(broadcast(globalCounts), Seq("b"), "left")
      .na.fill(0L, Seq("nc", "ng"))
    val wCls = Window.partitionBy(qis: _*).orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(qis: _*)
    val terms = cells
      .withColumn("cumC", sum(col("nc")).over(wCls))
      .withColumn("cumG", sum(col("ng")).over(wCls))
      .withColumn("nC", sum(col("nc")).over(wTot))
      .withColumn("nG", sum(col("ng")).over(wTot))
      .withColumn("num", abs(col("cumC") * col("nG") - col("cumG") * col("nC")))
    terms.groupBy(qis: _*)
      .agg(max(col("nC")).as("n_class"),
        round(sum(col("num")).cast("double")
          / (max(col("nC")) * max(col("nG")) * lit((buckets - 1).toLong)).cast("double"), 6)
          .as("t"))
      .orderBy(qis: _*)
  }

  /** DuckDB mirror of [[tCloseness]] — same grid, same cross-multiplied
    * integer EMD, lo/hi from the same MIN/MAX selection.
    */
  def tClosenessSql(tbl: String, quasiIds: Seq[String], sensCol: String,
      buckets: Int = 32): String = {
    val qi = quasiIds.mkString(", ")
    val qiG = quasiIds.map(q => s"g.$q").mkString(", ")
    s"""WITH mm AS (SELECT MIN(CAST($sensCol AS DOUBLE)) AS lo,
           MAX(CAST($sensCol AS DOUBLE)) AS hi FROM $tbl),
       base AS (SELECT $qi,
           CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
             ELSE least(CAST(${buckets - 1} AS BIGINT),
               CAST(floor(((CAST($sensCol AS DOUBLE) - lo) / (hi - lo)) * $buckets) AS BIGINT))
           END AS b
         FROM $tbl CROSS JOIN mm),
       counts AS (SELECT $qi, b, COUNT(*) AS nc FROM base GROUP BY $qi, b),
       gl AS (SELECT b, CAST(SUM(nc) AS BIGINT) AS ng FROM counts GROUP BY b),
       grid AS (SELECT DISTINCT $qi FROM counts),
       cells AS (SELECT $qiG, r.b,
           COALESCE(c.nc, 0) AS nc, COALESCE(gl.ng, 0) AS ng
         FROM grid g
         CROSS JOIN (SELECT CAST(range AS BIGINT) AS b FROM range($buckets)) r
         LEFT JOIN counts c ON ${quasiIds.map(q => s"c.$q = g.$q").mkString(" AND ")} AND c.b = r.b
         LEFT JOIN gl ON gl.b = r.b),
       t AS (SELECT $qi, b,
           CAST(SUM(nc) OVER (PARTITION BY $qi ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumC,
           CAST(SUM(ng) OVER (PARTITION BY $qi ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumG,
           CAST(SUM(nc) OVER (PARTITION BY $qi) AS BIGINT) AS nC,
           CAST(SUM(ng) OVER (PARTITION BY $qi) AS BIGINT) AS nG
         FROM cells)
       SELECT $qi, MAX(nC) AS n_class,
         round(CAST(SUM(abs(cumC * nG - cumG * nC)) AS DOUBLE)
           / CAST(MAX(nC) * MAX(nG) * ${(buckets - 1).toLong} AS DOUBLE), 6) AS t
       FROM t GROUP BY $qi ORDER BY $qi"""
  }

  /** Luhn mod-10 validity (ISO/IEC 7812) of a digit-string column: from the
    * RIGHT, double every second digit, subtract 9 when the double exceeds
    * 9, and the total must divide by 10. The checksum pass that separates
    * card-shaped PII from phone numbers, order ids, and timestamps a bare
    * `\\d{13,19}` regex cannot tell apart — regex-only PII audits
    * over-report by exactly this class.
    */
  def luhnValid(c: Column): Column = {
    val terms = transform(sequence(lit(1), length(c)), i => {
      val d = c.substr(i, lit(1)).cast("int")
      val r = (length(c) - i) % 2
      when(r === 1, when(d * 2 > lit(9), d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    aggregate(terms, lit(0), (acc, x) => acc + x) % 10 === 0
  }

  /** SQL mirror of [[luhnValid]] over digit-string expression `c`. */
  def luhnValidSql(c: String): String =
    s"""(list_sum(list_transform(range(1, length($c) + 1), i ->
        CASE WHEN (length($c) - i) % 2 = 1
          THEN CASE WHEN CAST(substr($c, CAST(i AS INT), 1) AS INT) * 2 > 9
            THEN CAST(substr($c, CAST(i AS INT), 1) AS INT) * 2 - 9
            ELSE CAST(substr($c, CAST(i AS INT), 1) AS INT) * 2 END
          ELSE CAST(substr($c, CAST(i AS INT), 1) AS INT) END)) % 10 = 0)"""

  /** The check digit that makes `base || digit` Luhn-valid (positions
    * computed for the appended length) — the fixture-synthesis helper that
    * lets the board query plant known-valid/invalid candidates. */
  def luhnCheckDigit(base: Column): Column = {
    val terms = transform(sequence(lit(1), length(base)), i => {
      val d = base.substr(i, lit(1)).cast("int")
      val r = (length(base) + 1 - i) % 2
      when(r === 1, when(d * 2 > lit(9), d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    (lit(10) - aggregate(terms, lit(0), (acc, x) => acc + x) % 10) % 10
  }

  /** SQL mirror of [[luhnCheckDigit]]. */
  def luhnCheckDigitSql(base: String): String =
    s"""((10 - list_sum(list_transform(range(1, length($base) + 1), i ->
        CASE WHEN (length($base) + 1 - i) % 2 = 1
          THEN CASE WHEN CAST(substr($base, CAST(i AS INT), 1) AS INT) * 2 > 9
            THEN CAST(substr($base, CAST(i AS INT), 1) AS INT) * 2 - 9
            ELSE CAST(substr($base, CAST(i AS INT), 1) AS INT) * 2 END
          ELSE CAST(substr($base, CAST(i AS INT), 1) AS INT) END)) % 10) % 10)"""

  /** Card-number candidate extraction + Luhn validation: every 13-19 digit
    * run in `textCol`, with its checksum verdict — explode-bounded by
    * candidate count, validation is a pure codegen'd expression. */
  def luhnScan(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(expr(s"regexp_extract_all($textCol, '\\\\d{13,19}', 0)")).as("candidate"))
      .select(col(idCol), col("candidate"), luhnValid(col("candidate")).as("luhn_valid"))
}
