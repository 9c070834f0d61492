package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import scala.util.hashing.MurmurHash3

import graft.plans.{KernelInput, UnaryKernel}

/**
 * MinHash signature straight from the text as a native codegen'd expression
 * — the dd-block's core per-document kernel (dd03/dd15/dd23, rc04,
 * the minhash index, every streaming near-dup path). Shingle hashes are
 * combined from per-token murmur hashes, so no shingle strings are ever
 * materialized; signature = numHashes multiply-add-mask permutation minima.
 *
 * The scalar-UDF formulation it replaces paid a udf adapter round trip per
 * row and boxed the 64-long signature per document. Arithmetic is
 * IDENTICAL, byte for byte: same `String.split(' ')` tokenization, same
 * `MurmurHash3.stringHash` token hashes, same base-combination fold and
 * same (a·base + b) & Long.MaxValue family drawn from the same seeded
 * java.util.Random stream — signatures are bit-identical (spec-pinned
 * against the UDF body).
 */
case class MinhashSignatureFromText(child: Expression, k: Int, numHashes: Int,
    seed: Int) extends UnaryKernel {
  require(k >= 1 && numHashes >= 1, "need k >= 1 and numHashes >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Text)

  // the (as, bs) coefficient pair is deterministic from (numHashes, seed);
  // generated code gets the materialized arrays once per class
  @transient private lazy val coeffs =
    MinhashSignatureFromText.coeffs(numHashes, seed)
  override protected def constants: Seq[Any] = Seq(coeffs, k, numHashes)

  override protected def nullSafeEval(input: Any): Any =
    MinhashSignatureFromText.compute(
      input.asInstanceOf[UTF8String], coeffs, k, numHashes)

  override protected def withNewChildInternal(
      newChild: Expression): MinhashSignatureFromText = copy(child = newChild)
}

object MinhashSignatureFromText {
  /** Same draw order as the UDF closure it replaced: `as` consumes the first
    * numHashes nextLong()s (forced odd), `bs` the next numHashes. */
  def coeffs(numHashes: Int, seed: Int): Array[Array[Long]] = {
    val rng = new java.util.Random(seed)
    val as = Array.fill(numHashes)(rng.nextLong() | 1L)
    val bs = Array.fill(numHashes)(rng.nextLong())
    Array(as, bs)
  }

  /** Shared by interpreted eval and generated code — the EXACT UDF body. */
  def compute(text: UTF8String, coeffs: Array[Array[Long]], k: Int,
      numHashes: Int): ArrayData = {
    val as = coeffs(0)
    val bs = coeffs(1)
    val toks = text.toString.split(' ')
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (toks.length >= k) {
      val th = new Array[Long](toks.length)
      var t = 0
      while (t < toks.length) {
        th(t) = MurmurHash3.stringHash(toks(t)).toLong & 0xffffffffL
        t += 1
      }
      var i = 0
      while (i + k <= toks.length) {
        var base = th(i)
        var j = 1
        while (j < k) { base = base * 1000003L + th(i + j); j += 1 }
        var m = 0
        while (m < numHashes) {
          val h = (as(m) * base + bs(m)) & Long.MaxValue
          if (h < sig(m)) sig(m) = h
          m += 1
        }
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  def ofColumn(c: Column, k: Int, numHashes: Int, seed: Int): Column =
    GraftSqlBridge.column(MinhashSignatureFromText(
      GraftSqlBridge.expression(c), k, numHashes, seed))
}
