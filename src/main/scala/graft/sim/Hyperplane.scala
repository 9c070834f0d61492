package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import scala.util.hashing.MurmurHash3

import graft.plans.{KernelInput, UnaryKernel}

/**
 * Deterministic pseudo-random hyperplane component matrix, lazily built once
 * per JVM per expression instance: MurmurHash3.productHash((plane, dim,
 * seed)) mapped to [-1, 1), the values of the UDF it replaced. @transient:
 * the matrix is deterministic from (planes, seed), so executors rebuild it
 * locally instead of shipping ~planes x dims doubles in every task closure.
 */
private[graft] class PlaneMatrix(planes: Int, seed: Int) extends Serializable {
  @transient private var mat: Array[Array[Double]] = _
  def get(dims: Int): Array[Array[Double]] = {
    if (mat == null || mat(0).length < dims)
      mat = Array.tabulate(planes, dims)((p, i) => PlaneMatrix.component(p, i, seed))
    mat
  }
}

private[graft] object PlaneMatrix {
  /** Uniform in [-1, 1) from the 32-bit hash — adequate for sign tests. */
  def component(plane: Int, dim: Int, seed: Int): Double = {
    val h = MurmurHash3.productHash((plane, dim, seed))
    h.toDouble / Int.MaxValue.toDouble
  }
}

/**
 * Banded hyperplane signatures (`bands` independent LONG signatures of
 * `planesPerBand` sign bits, disjoint plane families) as ONE native
 * expression — the AND-OR amplified LSH kernel of lshTopK (one band),
 * embeddingNearDuplicates, semanticDecontaminate and the streaming
 * near-dup index. The scalar-UDF formulation boxed the whole vector into a
 * Seq[Double] per corpus row; this is one fused primitive loop over the
 * unboxed input array. Arithmetic replicates the UDF bit-exactly: per
 * plane, s = fold of v(i) * row(i) in index order, bit set iff s > 0.
 * Output is an UNBOXED long array.
 */
case class HyperplaneBandSignatures(child: Expression, bands: Int,
    planesPerBand: Int, seed: Int) extends UnaryKernel {
  require(bands >= 1, s"need bands >= 1, got $bands")
  require(planesPerBand >= 1 && planesPerBand <= 63,
    s"need 1 <= planesPerBand <= 63, got $planesPerBand")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_band_signatures"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Vector)

  @transient private lazy val pm = new PlaneMatrix(bands * planesPerBand, seed)
  override protected def constants: Seq[Any] =
    Seq(pm, bands, planesPerBand, KernelInput.isFloat(child.dataType))

  override protected def nullSafeEval(input: Any): Any =
    HyperplaneBandSignatures.compute(input.asInstanceOf[ArrayData], pm, bands,
      planesPerBand, KernelInput.isFloat(child.dataType))

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneBandSignatures = copy(child = newChild)
}

object HyperplaneBandSignatures {
  /** FLOAT widened per element, like [[DotProduct]]. */
  def compute(v: ArrayData, pm: PlaneMatrix, bands: Int,
      planesPerBand: Int, isFloat: Boolean): ArrayData = {
    val n = v.numElements()
    val mat = pm.get(n)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var p = 0
      while (p < planesPerBand) {
        val row = mat(b * planesPerBand + p)
        var s = 0.0
        var i = 0
        while (i < n) {
          val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
          s += x * row(i); i += 1
        }
        if (s > 0) sig |= (1L << p)
        p += 1
      }
      out(b) = sig
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def ofColumn(c: Column, bands: Int, planesPerBand: Int, seed: Int): Column =
    GraftSqlBridge.column(HyperplaneBandSignatures(
      GraftSqlBridge.expression(c), bands, planesPerBand, seed))
}
