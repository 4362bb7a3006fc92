package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[TokenGramStatsExpr]] / [[CharGramStatsExpr]] bit-equal to the
  * relational form they replaced in TextEval (explode grams → per-(doc, n,
  * gram) counts → Σ min(hc, rc) / Σ hc / Σ rt per (doc, n)) — the
  * optimization moved the counting inside the row; this spec is the proof
  * it moved, not changed.
  */
class GramStatsSpec extends AnyFunSuite {

  private lazy val spark = graft.Sessions
    .builder("local[4]", 4)
    .appName("gramstats-spec")
    .getOrCreate()

  /** The former TextEval relational form, per (doc, n): clipped match +
    * both totals, token grams space-joined. */
  private def relationalToken(df: org.apache.spark.sql.DataFrame, maxN: Int) =
    df.select(col("id"),
        explode(array(
          struct(lit(1).as("r"), col("ref").as("a")),
          struct(lit(0).as("r"), col("hyp").as("a")))).as("sd"))
      .select(col("id"), col("sd.r").as("isref"), col("sd.a").as("arr"),
        explode(sequence(lit(1), lit(maxN))).as("n"))
      .select(col("id"), col("isref"), col("n"),
        explode(when(size(col("arr")) >= col("n"),
          transform(sequence(lit(1), size(col("arr")) - col("n") + lit(1)),
            i => array_join(slice(col("arr"), i, col("n")), " ")))
          .otherwise(array().cast("array<string>"))).as("gram"))
      .groupBy("id", "n", "gram")
      .agg(sum(col("isref").cast("long")).as("rc"),
        sum(lit(1L) - col("isref")).as("hc"))
      .groupBy("id", "n")
      .agg(sum(least(col("hc"), col("rc"))).as("m"),
        sum(col("hc")).as("ht"), sum(col("rc")).as("rt"))

  private def relationalChar(df: org.apache.spark.sql.DataFrame, maxN: Int) =
    df.select(col("id"),
        explode(array(
          struct(lit(1).as("r"), col("ref").as("s")),
          struct(lit(0).as("r"), col("hyp").as("s")))).as("sd"))
      .select(col("id"), col("sd.r").as("isref"), col("sd.s").as("s"),
        explode(sequence(lit(1), lit(maxN))).as("n"))
      .select(col("id"), col("isref"), col("n"),
        explode(when(length(col("s")) >= col("n"),
          transform(sequence(lit(1), length(col("s")) - col("n") + lit(1)),
            i => col("s").substr(i, col("n"))))
          .otherwise(array().cast("array<string>"))).as("gram"))
      .groupBy("id", "n", "gram")
      .agg(sum(col("isref").cast("long")).as("rc"),
        sum(lit(1L) - col("isref")).as("hc"))
      .groupBy("id", "n")
      .agg(sum(least(col("hc"), col("rc"))).as("m"),
        sum(col("hc")).as("ht"), sum(col("rc")).as("rt"))

  private def exprPerN(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
    df.select(col("id"), explode(c).as("gs"))
      .select(col("id"), col("gs.n").as("n"), col("gs.m").as("m"),
        col("gs.ht").as("ht"), col("gs.rt").as("rt"))
      // the expression emits zero rows where the relational form emits
      // nothing — drop them for the per-(doc, n) comparison; the totals
      // comparison below covers the sum contract
      .where(col("ht") > 0 || col("rt") > 0 || col("m") > 0)

  test("token gram stats ≡ relational clipped counts on adversarial texts") {
    import spark.implicits._
    val texts = Seq(
      "a b a b a",                      // repeats: clip must bind
      "x",                              // shorter than most n
      "",                               // split("") = [""] — one empty token
      "  leading and   trailing  ",     // whitespace runs
      "a a a a a a a a",                // one type, many tokens
      "the quick brown fox jumps over the lazy dog the quick brown fox",
      "tab\tand\nnewline tokens here",  // \s+ variety
      "unicode héllo wörld héllo",      // multi-byte tokens
      "p q r s t u v w x y z")          // all distinct
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .select(col("id"),
        split(trim(lower(col("text"))), "\\s+").as("ref"),
        (lit(3) + pmod(col("id"), lit(5))).cast("int").as("k"))
      .withColumn("hyp",
        filter(col("ref"), (t, i) => ((i + lit(1)) % col("k")) =!= lit(0)))
    val maxN = 4
    val got = exprPerN(df,
      GramStatsExpr.tokenGramStats(col("ref"), col("hyp"), maxN))
      .orderBy("id", "n").collect().map(_.toSeq).toSeq
    val want = relationalToken(df, maxN)
      .orderBy("id", "n").collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("char gram stats ≡ relational clipped counts incl. multi-byte text") {
    import spark.implicits._
    val pairs = Seq(
      ("abcabc", "abc"),
      ("", ""),
      ("aaaaaaa", "aaa"),
      ("héllo wörld", "héllo"),    // multi-byte: substr is code-point based
      ("ab", "ba"),
      ("xyzxyzxyz", "zyxzyx"),
      ("日本語テキスト", "日本語"))
    val df = pairs.zipWithIndex
      .map { case ((r, h), i) => (i.toLong, r, h) }.toDF("id", "ref", "hyp")
    val maxN = 6
    val got = exprPerN(df,
      GramStatsExpr.charGramStats(col("ref"), col("hyp"), maxN))
      .orderBy("id", "n").collect().map(_.toSeq).toSeq
    val want = relationalChar(df, maxN)
      .orderBy("id", "n").collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("gram stats are codegen'd (no CodegenFallback) and agree on a real scan") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    // round-12: doGenCode replaced the interpreted fallback — pin it so a
    // refactor can't silently reintroduce per-row interpreted eval
    assert(!TokenGramStatsExpr(Literal("a"), Literal("b"), 2)
      .isInstanceOf[CodegenFallback])
    assert(!CharGramStatsExpr(Literal("a"), Literal("b"), 2)
      .isInstanceOf[CodegenFallback])
    // a range-backed (non-local) relation goes through WholeStageCodegen —
    // the generated path must produce the same rows as the relational form
    val df = spark.range(0, 50).select(col("id"),
      split(concat_ws(" ", lit("a b a"), (col("id") % 7).cast("string")), " ").as("ref"),
      split(concat_ws(" ", lit("b a"), (col("id") % 3).cast("string")), " ").as("hyp"))
    val got = exprPerN(df,
      GramStatsExpr.tokenGramStats(col("ref"), col("hyp"), 3))
      .orderBy("id", "n").collect().map(_.toSeq).toSeq
    val want = relationalToken(df, 3)
      .orderBy("id", "n").collect().map(_.toSeq).toSeq
    assert(got == want)
    // the char-gram expression over the same kind of codegen'd scan
    val chars = spark.range(0, 50).select(col("id"),
      concat(lit("abcab"), (col("id") % 7).cast("string")).as("ref"),
      concat(lit("bcä"), (col("id") % 3).cast("string")).as("hyp"))
    val gotChar = exprPerN(chars,
      GramStatsExpr.charGramStats(col("ref"), col("hyp"), 4))
      .orderBy("id", "n").collect().map(_.toSeq).toSeq
    val wantChar = relationalChar(chars, 4)
      .orderBy("id", "n").collect().map(_.toSeq).toSeq
    assert(gotChar == wantChar)
  }

  test("null inputs contribute exactly the zero rows the sums ignore") {
    import spark.implicits._
    val df = Seq((1L, null: String, null: String)).toDF("id", "ref", "hyp")
    val rows = df.select(explode(
        GramStatsExpr.charGramStats(col("ref"), col("hyp"), 3)).as("gs"))
      .select(col("gs.n"), col("gs.m"), col("gs.ht"), col("gs.rt"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq((1, 0L, 0L, 0L), (2, 0L, 0L, 0L), (3, 0L, 0L, 0L)))
  }
}
