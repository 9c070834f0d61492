package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import graft.plans.{BinaryKernel, KernelInput, UnaryKernel}

/**
 * Native dot product of two numeric arrays with whole-stage codegen —
 * the similarity hot path (brute-force cosine top-k verifies every
 * (query, corpus) pair; LSH/IVF verify every candidate pair). The SQL
 * higher-order-function formulation (`aggregate(zip_with(a, b, *), ...)`)
 * is CodegenFallback in Spark — interpreted lambda evaluation per row plus
 * an intermediate zipped array allocation per pair. This expression is one
 * fused primitive loop in generated code, no allocation.
 *
 * Accepts ARRAY<DOUBLE> or ARRAY<FLOAT> on either side (floats are widened
 * element-wise, so no upstream cast-to-double array copy is needed).
 * Null elements contribute 0. The sum runs over the shorter length if the
 * arrays disagree (same as zip_with's null-padding followed by +0 fold).
 */
case class DotProduct(left: Expression, right: Expression) extends BinaryKernel {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override protected def inputKinds: Seq[KernelInput] =
    Seq(KernelInput.Vector, KernelInput.Vector)
  override protected def constants: Seq[Any] =
    Seq(KernelInput.isFloat(left.dataType), KernelInput.isFloat(right.dataType))

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      KernelInput.isFloat(left.dataType), KernelInput.isFloat(right.dataType))

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(left = newLeft, right = newRight)
}

object DotProduct {
  def compute(x: ArrayData, y: ArrayData, xFloat: Boolean, yFloat: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
        s += xv * yv
      }
      i += 1
    }
    s
  }

  def ofColumns(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProduct(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}

/**
 * Native L2 normalization of a numeric array — the other interpreted
 * hot spot of the embedding family. `Similarity.normalized` was a chain of
 * higher-order functions (`transform` cast → `aggregate` square-sum →
 * conditional `transform` divide), ALL CodegenFallback: interpreted lambda
 * evaluation with a boxed allocation per element, evaluated over the whole
 * corpus once per consumer (PQ evaluates it in the training collect, the
 * encode scan AND the re-rank side — measured 6 s per 20k×64 pass at the
 * 10× fixture, ~18 of sm04's 20 s). One fused compiled loop instead.
 *
 * Semantics replicate the old column chain BIT-EXACTLY:
 *   d_i  = (double) a_i                       (FLOAT widened, DOUBLE as-is)
 *   n    = sqrt(fold-left of 0.0 + d_i·d_i in index order)
 *   out  = d                 when n == 0.0    (all-zero / empty vector)
 *        = d_i / n           otherwise
 *   any NULL element ⇒ the old aggregate went NULL ⇒ every output element
 *   NULL (array of the same length); NULL input ⇒ NULL output.
 */
case class NormalizedVector(child: Expression) extends UnaryKernel {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "normalized_vector"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Vector)
  override protected def constants: Seq[Any] = Seq(KernelInput.isFloat(child.dataType))

  override protected def nullSafeEval(input: Any): Any =
    NormalizedVector.compute(input.asInstanceOf[ArrayData],
      KernelInput.isFloat(child.dataType))

  override protected def withNewChildInternal(newChild: Expression): NormalizedVector =
    copy(child = newChild)
}

object NormalizedVector {
  /** An unsafe primitive array, or — when a NULL element poisoned the old
    * aggregate's fold — a generic all-null array of the input's length. */
  def compute(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    val d = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return new GenericArrayData(new Array[Any](n))
      d(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < n) { acc += d(i) * d(i); i += 1 }
    val nrm = math.sqrt(acc)
    if (nrm != 0.0) {
      i = 0
      while (i < n) { d(i) = d(i) / nrm; i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(d)
  }

  def ofColumn(a: Column): Column =
    GraftSqlBridge.column(NormalizedVector(GraftSqlBridge.expression(a)))
}
