package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared core for the one-pass MinHash expressions: tokenize → word n-gram
  * shingles → per-seed min over shingles of hex(md5(seed ++ ":" ++ shingle)).
  *
  * Semantically identical to the Column pipeline
  * (`split`/`transform`/`array_min` with md5, see graft.operators.Dedup) and
  * to the DuckDB oracle's `list_min(list_transform(...))`, but evaluated as a
  * tight JVM loop — interpreted higher-order Columns cost ~5µs/element with
  * no codegen or subexpression sharing, which made signatures the near-dup
  * bottleneck (2M md5 calls at sf0.1).
  */
private[functions] object MinHashCore {
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = hexDigits(b >>> 4)
      out(i * 2 + 1) = hexDigits(b & 0xf)
      i += 1
    }
    new String(out)
  }

  def md5Hex(s: String): String = {
    val digest = md5.get()
    digest.reset()
    digest.update(s.getBytes(StandardCharsets.UTF_8))
    hex(digest.digest())
  }

  /** Spark-exact tokenization shared by every text-hash expression:
    * trim() strips SPACES only (Java String.trim would also strip
    * tabs/newlines), split keeps trailing empty tokens (limit -1) —
    * matches `TextAnalysis.tokens` / `split(trim(text), "\\s+")`. ONE
    * definition: the MinHash/SimHash/Winnow equivalence specs all pin the
    * Column forms against this, so copies must never drift.
    */
  def spaceTrimSplit(raw: String): Array[String] = {
    var a = 0; var b = raw.length
    while (a < b && raw.charAt(a) == ' ') a += 1
    while (b > a && raw.charAt(b - 1) == ' ') b -= 1
    raw.substring(a, b).split("\\s+", -1)
  }

  /** Word n-gram shingles over [[spaceTrimSplit]] tokens; short texts yield
    * the whole token string (matches Dedup.shingles / the oracle CASE).
    */
  def shingles(raw: String, ngram: Int): Array[String] = {
    val words = spaceTrimSplit(raw)
    if (words.length >= ngram)
      Array.tabulate(words.length - ngram + 1) { i =>
        val sb = new StringBuilder(words(i))
        var j = 1
        while (j < ngram) { sb += ' '; sb ++= words(i + j); j += 1 }
        sb.toString
      }
    else Array(words.mkString(" "))
  }

  /** Lexicographic min over hex md5("seed:shingle") — a valid uniform
    * min-hash; min over the multiset equals min over the set, so no distinct
    * pass is needed.
    */
  def minFor(sh: Array[String], seed: Int): String =
    minsFor(sh, seed, seed + 1)(0)

  /** All seed minima in [seedFrom, seedUntil) with each shingle UTF-8-encoded
    * once (not once per seed — the encode was measurable at k=8).
    */
  def minsFor(sh: Array[String], seedFrom: Int, seedUntil: Int): Array[String] = {
    val digest = md5.get()
    val shBytes = new Array[Array[Byte]](sh.length)
    var i = 0
    while (i < sh.length) { shBytes(i) = sh(i).getBytes(StandardCharsets.UTF_8); i += 1 }
    val out = new Array[String](seedUntil - seedFrom)
    var seed = seedFrom
    while (seed < seedUntil) {
      val prefix = (seed.toString + ":").getBytes(StandardCharsets.UTF_8)
      var min: String = null
      i = 0
      while (i < shBytes.length) {
        digest.reset()
        digest.update(prefix)
        digest.update(shBytes(i))
        val h = hex(digest.digest())
        if (min == null || h.compareTo(min) < 0) min = h
        i += 1
      }
      out(seed - seedFrom) = min
      seed += 1
    }
    out
  }
}

/** array<string> of the k signature minima (seeds 0..k-1) in one pass. */
case class MinHashSigsExpr(child: Expression, k: Int, ngram: Int)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val mins = MinHashCore
      .minsFor(MinHashCore.shingles(v.toString, ngram), 0, k)
      .map(UTF8String.fromString)
    new GenericArrayData(mins.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): MinHashSigsExpr =
    copy(child = c)
  override def prettyName: String = "minhash_sigs"
}

/** LSH band hashes in one pass: k signature minima grouped into k/rowsPerBand
  * bands, each band hashed as hex(md5(mh_i || "|" || ... || mh_j)) — exactly
  * `md5(concat_ws("|", mh...))` over [[MinHashSigsExpr]] columns, and exactly
  * the DuckDB oracle's `md5(mh0||'|'||mh1)`. Returns array<string> indexed by
  * band (posexplode pos == band_idx). One evaluation produces every band, so
  * the band table needs no persisted signature intermediate.
  */
case class MinHashBandsExpr(child: Expression, k: Int, rowsPerBand: Int, ngram: Int)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val mins = MinHashCore.minsFor(MinHashCore.shingles(v.toString, ngram), 0, k)
    val nBands = k / rowsPerBand
    val bands = new Array[UTF8String](nBands)
    var b = 0
    while (b < nBands) {
      val sb = new StringBuilder(mins(b * rowsPerBand))
      var r = 1
      while (r < rowsPerBand) { sb += '|'; sb ++= mins(b * rowsPerBand + r); r += 1 }
      bands(b) = UTF8String.fromString(MinHashCore.md5Hex(sb.toString))
      b += 1
    }
    new GenericArrayData(bands.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): MinHashBandsExpr =
    copy(child = c)
  override def prettyName: String = "minhash_bands"
}

/** One-pass shingle ARRAY for a text column. The Column-HOF form
  * (`Dedup.shingles`: transform over a sequence with element_at into the
  * split) re-inlines the token split at every element_at — three re-splits
  * of the raw text per gram, which benched at 11 s for a bare
  * `explode(shingles(text))` over 5000 sf0.1 documents. Here tokenize+ngram
  * run once per row ([[MinHashCore.shingles]], the same core the MinHash
  * signatures pin against the oracle).
  */
case class ShinglesExpr(child: Expression, ngram: Int)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      MinHashCore.shingles(v.toString, ngram)
        .map(UTF8String.fromString).asInstanceOf[Array[Any]])

  override protected def withNewChildInternal(c: Expression): ShinglesExpr =
    copy(child = c)
  override def prettyName: String = "shingles_fast"
}

object MinHashExpr {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** word n-gram shingle array for a text column, one pass per row */
  def shinglesArray(text: Column, ngram: Int = 3): Column =
    ColumnBridge.column(ShinglesExpr(ColumnBridge.expression(text), ngram))

  /** array<string> of k signature hex minima for a text column. */
  def minhashArray(text: Column, k: Int, ngram: Int = 3): Column =
    ColumnBridge.column(MinHashSigsExpr(ColumnBridge.expression(text), k, ngram))

  /** array<string> of k/rowsPerBand LSH band hashes for a text column. */
  def bandArray(text: Column, k: Int, rowsPerBand: Int, ngram: Int = 3): Column =
    ColumnBridge.column(MinHashBandsExpr(ColumnBridge.expression(text), k, rowsPerBand, ngram))
}
