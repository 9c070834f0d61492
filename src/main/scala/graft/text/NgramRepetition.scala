package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{KernelInput, UnaryKernel}

/**
 * Gopher-style n-gram repetition signals per document (Rae et al. 2021,
 * "Scaling Language Models: Methods, Analysis & Insights from Training
 * Gopher", Table A1) — the n-gram half of the repetition filter family;
 * the word-level half lives in [[TextFunctions.repetitionSignals]]:
 *
 *  - top n-gram char fraction (n = 2, 3, 4): occurrences of the most
 *    frequent word n-gram times its character length, over the document's
 *    total token characters (overlapping occurrences each count, per the
 *    published definition — the value may exceed 1 on degenerate text);
 *  - duplicate n-gram char fraction (n = 5..10): characters covered by at
 *    least one occurrence of any n-gram that appears more than once, over
 *    total token characters (each character counted once).
 *
 * Output layout (fixed 11-slot array<double>):
 * [n_tokens, n_token_chars, top2, top3, top4, dup5, dup6, ..., dup10].
 *
 * All nine signals are computed in ONE compiled pass per document — the
 * whole operator is exchange-free (embarrassingly parallel over docs),
 * unlike a 9-way explode+groupBy which would shuffle every n-gram of a
 * 100 TB corpus nine times. Counts and character totals are exact
 * integers; fractions are int/int double divisions (bit-exact vs the
 * DuckDB oracle). Ties for the top n-gram resolve to the one with the
 * most characters (count desc, chars desc) — deterministic without
 * string comparison, and the resulting fraction is unique either way.
 *
 * Tokenization matches [[TextFunctions.tokens]] (split on single space,
 * empties kept); character counts are Unicode codepoints (DuckDB
 * `length`). Documents shorter than n tokens score 0.0 for that n.
 */
case class NgramRepetition(child: Expression) extends UnaryKernel {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "ngram_repetition"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Text)

  override protected def nullSafeEval(input: Any): Any =
    NgramRepetition.compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): NgramRepetition =
    copy(child = newChild)
}

object NgramRepetition {
  val TopNs: Range = 2 to 4
  val DupNs: Range = 5 to 10

  /** Shared by interpreted eval and generated code. */
  def compute(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val m = toks.length
    val lens = new Array[Int](m)
    var totalChars = 0L
    var i = 0
    while (i < m) {
      lens(i) = toks(i).codePointCount(0, toks(i).length)
      totalChars += lens(i)
      i += 1
    }
    val out = new Array[Double](2 + TopNs.size + DupNs.size)
    out(0) = m.toDouble
    out(1) = totalChars.toDouble
    var slot = 2
    TopNs.foreach { n => out(slot) = topFrac(toks, lens, totalChars, n); slot += 1 }
    DupNs.foreach { n => out(slot) = dupFrac(toks, lens, totalChars, n); slot += 1 }
    // unboxed container — GenericArrayData(double[]) boxes per element
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private def gramAt(toks: Array[String], i: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(toks(i + j))
      j += 1
    }
    sb.toString
  }

  /** top_cnt * chars(top gram) / totalChars; ties on count break to the
    * gram with the most characters. */
  private def topFrac(toks: Array[String], lens: Array[Int],
      totalChars: Long, n: Int): Double = {
    val m = toks.length
    if (m < n || totalChars == 0L) return 0.0
    // gram -> [count, charLen]
    val counts = new java.util.HashMap[String, Array[Long]]
    var i = 0
    var winChars = 0L
    var j = 0
    while (j < n - 1) { winChars += lens(j); j += 1 } // chars of toks[0..n-2]
    while (i + n <= m) {
      winChars += lens(i + n - 1)
      val g = gramAt(toks, i, n)
      val e = counts.get(g)
      if (e == null) counts.put(g, Array(1L, winChars))
      else e(0) += 1L
      winChars -= lens(i)
      i += 1
    }
    var topCnt = 0L
    var topChars = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e(0) > topCnt || (e(0) == topCnt && e(1) > topChars)) {
        topCnt = e(0); topChars = e(1)
      }
    }
    (topCnt * topChars).toDouble / totalChars
  }

  /** Chars covered by occurrences of n-grams appearing >1 time, each
    * character once, / totalChars. */
  private def dupFrac(toks: Array[String], lens: Array[Int],
      totalChars: Long, n: Int): Double = {
    val m = toks.length
    if (m < n || totalChars == 0L) return 0.0
    val nGrams = m - n + 1
    val grams = new Array[String](nGrams)
    val counts = new java.util.HashMap[String, Array[Long]]
    var i = 0
    while (i < nGrams) {
      val g = gramAt(toks, i, n)
      grams(i) = g
      val e = counts.get(g)
      if (e == null) counts.put(g, Array(1L)) else e(0) += 1L
      i += 1
    }
    val covered = new Array[Boolean](m)
    i = 0
    while (i < nGrams) {
      if (counts.get(grams(i))(0) >= 2L) {
        var j = i
        val end = i + n
        while (j < end) { covered(j) = true; j += 1 }
      }
      i += 1
    }
    var cov = 0L
    i = 0
    while (i < m) { if (covered(i)) cov += lens(i); i += 1 }
    cov.toDouble / totalChars
  }

  def ofColumn(c: Column): Column =
    GraftSqlBridge.column(NgramRepetition(GraftSqlBridge.expression(c)))
}
