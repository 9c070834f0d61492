package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{BinaryKernel, KernelInput, UnaryKernel}

/**
 * Distinct word k-shingles of a text as a native expression — the dedup
 * verification primitive (exact Jaccard runs on these arrays). The
 * column-function formulation (transform over sequence + slice + array_join
 * + array_distinct) stacks four higher-order/collection expressions, each
 * CodegenFallback or allocation-heavy; this is one pass over the tokens
 * with a single output array. First-occurrence order (like array_distinct).
 * Texts with fewer than k tokens yield an empty array.
 */
case class WordShingles(child: Expression, k: Int) extends UnaryKernel {
  require(k >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Text)
  override protected def constants: Seq[Any] = Seq(k)

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], k)

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  /** Shared by interpreted eval and generated code. */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    while (i + k <= toks.length) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) { out(n) = UTF8String.fromString(it.next()); n += 1 }
    new GenericArrayData(out)
  }

  def ofColumn(c: Column, k: Int): Column =
    GraftSqlBridge.column(WordShingles(GraftSqlBridge.expression(c), k))
}

/**
 * Contiguous word n-grams of a token array as ONE compiled pass:
 * element i = tokens[i..i+n-1] joined by a single space, duplicates KEPT,
 * order preserved — the n-gram stream the frequency operators (top-k
 * bigrams/n-grams, DSIR features) explode. Replaces the
 * `transform(sequence(1, size-(n-1)), i => concat_ws(" ", element_at...))`
 * chain, which is CodegenFallback: an interpreted lambda invocation per
 * n-gram plus a boxed sequence array per row. Joining uses
 * UTF8String.concatWs — exactly concat_ws's semantics (NULL elements
 * skipped), so values are bit-identical; fewer-than-n tokens yield an
 * empty array (the `when(size >= n, ...)` guard the old chain needed,
 * folded in).
 */
case class WordNgrams(child: Expression, n: Int) extends UnaryKernel {
  require(n >= 1, "n must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Strings)
  override protected def constants: Seq[Any] = Seq(n)

  override protected def nullSafeEval(input: Any): Any =
    WordNgrams.compute(input.asInstanceOf[ArrayData], n)

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  private val Sep = UTF8String.fromString(" ")

  /** Shared by interpreted eval and generated code. */
  def compute(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](m - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i + n <= m) {
      var j = 0
      while (j < n) { window(j) = toks.getUTF8String(i + j); j += 1 }
      // concatWs copies into a fresh buffer (never a view into the input
      // row) and skips NULL elements — concat_ws's exact contract
      out(i) = UTF8String.concatWs(Sep, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  def ofColumn(c: Column, n: Int): Column =
    GraftSqlBridge.column(WordNgrams(GraftSqlBridge.expression(c), n))
}

/**
 * Consecutive fixed-width token chunks as ONE compiled pass: chunk i
 * = tokens[i·w .. min((i+1)·w, m)-1] joined by a single space (the final
 * chunk may be short) — the C4-style chunk splitter [[graft.text.Dedup
 * .dedupChunks]] explodes. Replaces the `transform(sequence(0,
 * ceil(m/w)-1), i => array_join(slice(...), " "))` chain (CodegenFallback:
 * interpreted lambda + slice copy per chunk). Join semantics are
 * array_join's (NULL elements skipped — tokens are never null here), so
 * chunk strings and positions are bit-identical. A non-null token array is
 * never empty (split always yields ≥ 1 element), so the m = 0 case is
 * unreachable; it yields an empty array.
 */
case class TokenChunks(child: Expression, chunkTokens: Int) extends UnaryKernel {
  require(chunkTokens >= 1, "chunkTokens must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_chunks"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Strings)
  override protected def constants: Seq[Any] = Seq(chunkTokens)

  override protected def nullSafeEval(input: Any): Any =
    TokenChunks.compute(input.asInstanceOf[ArrayData], chunkTokens)

  override protected def withNewChildInternal(newChild: Expression): TokenChunks =
    copy(child = newChild)
}

object TokenChunks {
  private val Sep = UTF8String.fromString(" ")

  /** Shared by interpreted eval and generated code. */
  def compute(toks: ArrayData, w: Int): ArrayData = {
    val m = toks.numElements()
    val nc = (m + w - 1) / w
    val out = new Array[AnyRef](nc)
    var i = 0
    while (i < nc) {
      val lo = i * w
      val hi = math.min(m, lo + w)
      val window = new Array[UTF8String](hi - lo)
      var j = lo
      while (j < hi) { window(j - lo) = toks.getUTF8String(j); j += 1 }
      out(i) = UTF8String.concatWs(Sep, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  def ofColumn(c: Column, chunkTokens: Int): Column =
    GraftSqlBridge.column(TokenChunks(GraftSqlBridge.expression(c), chunkTokens))
}

/**
 * Sorted distinct 64-bit xxhash64 values of the word k-shingles — the lean
 * verification payload for near-dup pipelines. In a dup-dense corpus the
 * dominant cost of MinHash verification is shuffling two full shingle
 * STRING arrays to every candidate pair (~kB per side); 64-bit hashes cut
 * the payload ~8x and turn set intersection into a linear merge over two
 * sorted long arrays. Jaccard over the hashes equals Jaccard over the
 * shingles unless two distinct shingles of one document collide in 64 bits
 * (P ~ n^2 / 2^65 — negligible at any real document size).
 */
case class HashedWordShingles(child: Expression, k: Int) extends UnaryKernel {
  require(k >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_word_shingles"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Text)
  override protected def constants: Seq[Any] = Seq(k)

  override protected def nullSafeEval(input: Any): Any =
    HashedWordShingles.compute(input.asInstanceOf[UTF8String], k)

  override protected def withNewChildInternal(newChild: Expression): HashedWordShingles =
    copy(child = newChild)
}

object HashedWordShingles {
  private val Seed = 42L

  /** Tokenization/distinctness single-sourced from [[WordShingles.compute]];
    * emits the SORTED distinct hash set (sorted order is what makes the
    * pairwise intersection a linear merge). */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val sh = WordShingles.compute(text, k)
    val n = sh.numElements()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = XXH64.hashUTF8String(sh.getUTF8String(i), Seed)
      i += 1
    }
    java.util.Arrays.sort(hs)
    // distinct strings hash to distinct longs a.s.; drop the astronomically
    // rare collision so |A| matches the string-set cardinality contract
    var m = 0
    i = 0
    while (i < n) {
      if (m == 0 || hs(i) != hs(m - 1)) { hs(m) = hs(i); m += 1 }
      i += 1
    }
    // unboxed container — GenericArrayData(long[]) boxes per element
    UnsafeArrayData.fromPrimitiveArray(if (m == n) hs else java.util.Arrays.copyOf(hs, m))
  }

  def ofColumn(c: Column, k: Int): Column =
    GraftSqlBridge.column(HashedWordShingles(GraftSqlBridge.expression(c), k))
}

/**
 * Exact Jaccard of two SORTED distinct long arrays via a single linear
 * merge — no per-row hash-set allocation (array_intersect builds one per
 * invocation). Null when both sides are empty (try_divide semantics, same
 * as [[graft.text.Dedup.jaccard]]).
 */
case class JaccardSortedLongs(left: Expression, right: Expression) extends BinaryKernel {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted_longs"
  override protected def inputKinds: Seq[KernelInput] =
    Seq(KernelInput.Longs, KernelInput.Longs)
  override protected def mayReturnNull: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaccardSortedLongs.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSortedLongs =
    copy(left = newLeft, right = newRight)
}

object JaccardSortedLongs {
  /** Merge-count intersection of two sorted distinct long arrays. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return null
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    java.lang.Double.valueOf(inter.toDouble / (na + nb - inter))
  }

  def ofColumns(a: Column, b: Column): Column =
    GraftSqlBridge.column(JaccardSortedLongs(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}

/**
 * Tokens NOT covered by any k-span starting at one of `starts` — the
 * rebuild step of [[graft.text.Dedup.removeDuplicatedSpans]]. `starts` must
 * be SORTED ascending (the caller sorts once in the aggregate); the merge is
 * then a single pointer pass, O(tokens + starts) per document, instead of
 * the O(tokens x starts) an `exists(starts, ...)` higher-order filter would
 * pay on boilerplate-heavy documents. Position p is covered iff some start
 * s has s <= p < s + k. Order of surviving tokens is preserved.
 */
case class UncoveredTokens(left: Expression, right: Expression, k: Int)
    extends BinaryKernel {
  require(k > 0, "k must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "uncovered_tokens"
  override protected def inputKinds: Seq[KernelInput] =
    Seq(KernelInput.Strings, KernelInput.Ints)
  override protected def constants: Seq[Any] = Seq(k)

  override protected def nullSafeEval(toks: Any, starts: Any): Any =
    UncoveredTokens.compute(toks.asInstanceOf[ArrayData],
      starts.asInstanceOf[ArrayData], k)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UncoveredTokens =
    copy(left = newLeft, right = newRight)
}

object UncoveredTokens {
  /** Pointer merge over sorted starts; copies surviving token bytes out of
    * the (possibly buffer-backed) input array. */
  def compute(toks: ArrayData, starts: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    val ns = starts.numElements()
    val out = new Array[AnyRef](n)
    var j = 0; var m = 0; var p = 0
    while (p < n) {
      while (j < ns && starts.getInt(j).toLong + k <= p) j += 1
      if (!(j < ns && starts.getInt(j) <= p)) {
        out(m) = toks.getUTF8String(p).copy(); m += 1
      }
      p += 1
    }
    new GenericArrayData(if (m == n) out else java.util.Arrays.copyOf(out, m))
  }

  def ofColumns(toks: Column, starts: Column, k: Int): Column =
    GraftSqlBridge.column(UncoveredTokens(
      GraftSqlBridge.expression(toks), GraftSqlBridge.expression(starts), k))
}
