package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{KernelInput, UnaryKernel}

/**
 * 64-bit polynomial rolling hash of a string column — document
 * fingerprinting as a native Catalyst expression with whole-stage codegen
 * (SURVEY north-star: fingerprinting; the custom-Expression path of the
 * build plan's custom-vs-builtin table, §7.3).
 *
 * hash = Σ byte_i · B^(n-1-i)  (mod 2^64), B = 1000000007.
 */
case class RollingHash(child: Expression) extends UnaryKernel {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Text)

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  val Base = 1000000007L

  def compute(text: UTF8String): Long = {
    val bytes = text.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * Base + (bytes(i) & 0xff)
      i += 1
    }
    h
  }

  def ofColumn(c: Column): Column =
    GraftSqlBridge.column(RollingHash(GraftSqlBridge.expression(c)))
}

/**
 * Winnowing window minima as a native codegen'd expression: polynomial
 * hash of every `k`-byte gram (h = Σ byte·257^j mod 1000000007, iterated
 * mod ≡ polynomial mod), then the minimum hash of each `w`-consecutive-gram
 * window — one compiled O(n·k + n·w) pass per document. Replaces the HOF
 * formulation (aggregate-inside-transform with per-char element_at), whose
 * interpreted lambdas cost ~18 ms/doc — 92 s for tx22 at sf0.1 vs <2 s
 * compiled. k and w are small constants (4-16), so the naive inner loops
 * beat a deque; byte-based, identical to char-based on ASCII corpora.
 * Shorter-than-k+w-1 inputs yield an empty array (no fingerprints).
 */
case class WinnowingMins(child: Expression, k: Int, w: Int) extends UnaryKernel {
  require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got k=$k w=$w")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnowing_mins"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Text)
  override protected def constants: Seq[Any] = Seq(k, w)

  override protected def nullSafeEval(input: Any): Any =
    WinnowingMins.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def withNewChildInternal(newChild: Expression): WinnowingMins =
    copy(child = newChild)
}

object WinnowingMins {
  /** Unsafe primitive container: GenericArrayData's primitive-array
    * constructors box every element. */
  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    val b = text.getBytes
    val n = b.length
    if (n < k + w - 1) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val nh = n - k + 1
    val hs = new Array[Long](nh)
    var i = 0
    while (i < nh) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * 257 + (b(i + j) & 0xff)) % 1000000007L; j += 1 }
      hs(i) = h
      i += 1
    }
    val mins = new Array[Long](nh - w + 1)
    var p = 0
    while (p < mins.length) {
      var m = hs(p)
      var q = 1
      while (q < w) { if (hs(p + q) < m) m = hs(p + q); q += 1 }
      mins(p) = m
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  def ofColumn(c: Column, k: Int, w: Int): Column =
    GraftSqlBridge.column(WinnowingMins(GraftSqlBridge.expression(c), k, w))
}

/**
 * Per-document feature-hash bucket counts as ONE compiled pass: split the
 * UTF-8 bytes on single spaces (exactly `split(text, " ")` with empties
 * dropped), rolling-hash each token (same fold as [[RollingHash]]), count
 * into `dim` buckets via `hash & (dim−1)` (`dim` a power of two, so the
 * masked signed hash equals the unsigned mod — the cross-engine parity
 * argument of featureHashEmbedding). Replaces the explode → pmod →
 * groupBy(doc) reassembly, which shuffled every TOKEN to rebuild what was
 * one row per doc — this is partition-local with no exchange at all.
 */
case class FeatureHashCounts(child: Expression, dim: Int) extends UnaryKernel {
  require(dim > 0 && (dim & (dim - 1)) == 0, "dim must be a power of two")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "feature_hash_counts"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Text)
  override protected def constants: Seq[Any] = Seq(dim)

  override protected def nullSafeEval(input: Any): Any =
    FeatureHashCounts.compute(input.asInstanceOf[UTF8String], dim)

  override protected def withNewChildInternal(newChild: Expression): FeatureHashCounts =
    copy(child = newChild)
}

/**
 * [[FeatureHashCounts]] fused with the L2 normalization: counts, the norm
 * fold and the divide all in ONE compiled kernel, returning NULL for a
 * token-less document (zero vector). Why fusion matters: the unfused chain
 * (`counts` → `sqrt(aggregate(...))` norm → `transform(...)` divide →
 * `filter(norm > 0)`) let Catalyst push the filter below the projection and
 * substitute the alias, so the EXPENSIVE counts kernel was re-evaluated up
 * to 5× per row — inside an interpreted Filter, because the `aggregate` /
 * `transform` higher-order lambdas are CodegenFallback (fh01's measured
 * cost lived there, not in the hashing). Arithmetic is kept bit-identical
 * to the old chain: norm = sqrt of the left fold 0.0 + x·x in bucket
 * order, then per-bucket x / norm.
 */
case class FeatureHashEmbedding(child: Expression, dim: Int) extends UnaryKernel {
  require(dim > 0 && (dim & (dim - 1)) == 0, "dim must be a power of two")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "feature_hash_embedding"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Text)
  override protected def constants: Seq[Any] = Seq(dim)
  override protected def mayReturnNull: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    FeatureHashEmbedding.compute(input.asInstanceOf[UTF8String], dim)

  override protected def withNewChildInternal(newChild: Expression): FeatureHashEmbedding =
    copy(child = newChild)
}

object FeatureHashEmbedding {
  /** [[FeatureHashCounts.counts]] then the EXACT normalization fold the
    * unfused column chain performed — acc = 0.0; acc += x·x in bucket
    * order; norm = sqrt(acc); x / norm — so fused and unfused vectors are
    * bit-identical. Null = zero vector. */
  def compute(text: UTF8String, dim: Int): ArrayData = {
    val cnt = FeatureHashCounts.counts(text.getBytes, dim)
    var acc = 0.0
    var i = 0
    while (i < dim) { acc += cnt(i) * cnt(i); i += 1 }
    val norm = math.sqrt(acc)
    if (!(norm > 0.0)) return null
    i = 0
    while (i < dim) { cnt(i) = cnt(i) / norm; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(cnt)
  }

  def ofColumn(c: Column, dim: Int): Column =
    GraftSqlBridge.column(FeatureHashEmbedding(GraftSqlBridge.expression(c), dim))
}

object FeatureHashCounts {
  def compute(text: UTF8String, dim: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(counts(text.getBytes, dim))

  /** Bucket counts of the space-separated tokens of `b`. */
  def counts(b: Array[Byte], dim: Int): Array[Double] = {
    val mask = dim - 1
    val cnt = new Array[Double](dim)
    var h = 0L
    var inTok = false
    var i = 0
    while (i < b.length) {
      if (b(i) == ' ') {
        if (inTok) { cnt((h & mask).toInt) += 1.0; inTok = false; h = 0L }
      } else {
        h = h * RollingHash.Base + (b(i) & 0xff)
        inTok = true
      }
      i += 1
    }
    if (inTok) cnt((h & mask).toInt) += 1.0
    cnt
  }

  def ofColumn(c: Column, dim: Int): Column =
    GraftSqlBridge.column(FeatureHashCounts(GraftSqlBridge.expression(c), dim))
}
