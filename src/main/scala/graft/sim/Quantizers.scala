package graft.sim

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

import graft.plans.{KernelInput, UnaryKernel}

/**
 * Native codegen'd quantizer kernels — the corpus-scan halves of IVF,
 * PQ and SemDeDup as Catalyst expressions instead of scalar UDFs. The UDF
 * formulations boxed every vector into a Seq[Double] (and every code array
 * into a Seq[Int]) per corpus row, and showed up as opaque `UDF` nodes
 * that defeat column pruning reasoning in the plan. Each expression here
 * holds the trained model (centroids / codebooks / LUTs) via the SAME jvm
 * Broadcast the UDF closures captured, so task closures stay small at any
 * model size; the arithmetic replicates the UDFs bit-exactly (fold order,
 * strict-< argmin ties to the lowest index, stable (distance, index)
 * ordering for top-n).
 *
 * Inputs are the engine's normalized ARRAY<DOUBLE> vectors (what every
 * caller passes); NULL input rows yield NULL (the UDF path never saw one —
 * fixtures are non-null — so no declared result can differ). Each kernel's
 * `compute` reads its broadcast model and calls the matching scan here.
 */
object Quantizers {

  /** argmin over centers of squared L2 distance; strict < ⇒ lowest index
    * wins ties (bit-identical to the ivf assignCell fold). */
  def nearestCell(v: ArrayData, cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < cs.length) {
      val ctr = cs(j)
      var d = 0.0
      var i = 0
      val n = v.numElements()
      while (i < n) { val t = v.getDouble(i) - ctr(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** The `nprobe` nearest centers by (distance, index) — exactly the stable
    * `sortBy(_._1).take(nprobe)` of the UDFs it replaces (repeated strict-<
    * extraction under `java.lang.Double.compare` ≡ stable sort on distance
    * with unique ascending indices; NaN distances sort last, after +Inf). */
  def nearestCells(v: ArrayData, cs: Array[Array[Double]], nprobe: Int): ArrayData = {
    val k = cs.length
    val n = v.numElements()
    val ds = new Array[Double](k)
    var j = 0
    while (j < k) {
      val ctr = cs(j)
      var d = 0.0
      var i = 0
      while (i < n) { val t = v.getDouble(i) - ctr(i); d += t * t; i += 1 }
      ds(j) = d
      j += 1
    }
    val m = math.min(nprobe, k)
    val out = new Array[Int](m)
    val used = new Array[Boolean](k)
    var s = 0
    while (s < m) {
      var best = -1
      j = 0
      while (j < k) {
        if (!used(j) && (best < 0 || java.lang.Double.compare(ds(j), ds(best)) < 0))
          best = j
        j += 1
      }
      used(best) = true
      out(s) = best
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** PQ encode: per sub-block, the nearest sub-centroid's code (strict <,
    * lowest code wins ties — bit-identical to the encode UDF). */
  def pqEncode(v: ArrayData, cbs: Array[Array[Array[Double]]], sub: Int): ArrayData = {
    val m = cbs.length
    val out = new Array[Int](m)
    var b = 0
    while (b < m) {
      val cb = cbs(b)
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < cb.length) {
        var d = 0.0
        var i = 0
        while (i < sub) {
          val t = v.getDouble(b * sub + i) - cb(j)(i); d += t * t; i += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      out(b) = best
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Per-query ADC lookup table: sub-dot-products of the query against every
    * sub-centroid, laid out [block * codebookSize + code]. */
  def pqLut(v: ArrayData, cbs: Array[Array[Array[Double]]], sub: Int,
      codebookSize: Int): ArrayData = {
    val m = cbs.length
    val lut = new Array[Double](m * codebookSize)
    var b = 0
    while (b < m) {
      var j = 0
      while (j < codebookSize) {
        var s = 0.0
        var i = 0
        while (i < sub) { s += v.getDouble(b * sub + i) * cbs(b)(j)(i); i += 1 }
        lut(b * codebookSize + j) = s
        j += 1
      }
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(lut)
  }

  /** Per-corpus-row approximate scores against every query LUT: m table
    * lookups + adds per query — no multiplies, no boxing. */
  def pqScores(codes: ArrayData, luts: Array[Array[Double]], m: Int,
      codebookSize: Int): ArrayData = {
    val out = new Array[Double](luts.length)
    var qi = 0
    while (qi < luts.length) {
      val lut = luts(qi)
      var s = 0.0
      var b = 0
      while (b < m) { s += lut(b * codebookSize + codes.getInt(b)); b += 1 }
      out(qi) = s
      qi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Nearest-centroid cell id (INT) — the IVF corpus-assignment scan. */
case class NearestCentroid(child: Expression,
    bc: Broadcast[Array[Array[Double]]]) extends UnaryKernel {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Doubles)
  override protected def constants: Seq[Any] = Seq(bc)

  override protected def nullSafeEval(input: Any): Any =
    NearestCentroid.compute(input.asInstanceOf[ArrayData], bc)

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  def compute(v: ArrayData, bc: Broadcast[Array[Array[Double]]]): Int =
    Quantizers.nearestCell(v, bc.value)

  def ofColumn(c: Column, bc: Broadcast[Array[Array[Double]]]): Column =
    GraftSqlBridge.column(NearestCentroid(GraftSqlBridge.expression(c), bc))
}

/** The nprobe nearest centroid ids (ARRAY<INT>) — multi-probe assignment
  * (SemDeDup) and query-side IVF probes. */
case class NearestCentroids(child: Expression,
    bc: Broadcast[Array[Array[Double]]], nprobe: Int) extends UnaryKernel {
  require(nprobe >= 1, s"need nprobe >= 1, got $nprobe")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Doubles)
  override protected def constants: Seq[Any] = Seq(bc, nprobe)

  override protected def nullSafeEval(input: Any): Any =
    NearestCentroids.compute(input.asInstanceOf[ArrayData], bc, nprobe)

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

object NearestCentroids {
  def compute(v: ArrayData, bc: Broadcast[Array[Array[Double]]], nprobe: Int): ArrayData =
    Quantizers.nearestCells(v, bc.value, nprobe)

  def ofColumn(c: Column, bc: Broadcast[Array[Array[Double]]], nprobe: Int): Column =
    GraftSqlBridge.column(NearestCentroids(GraftSqlBridge.expression(c), bc, nprobe))
}

/** PQ code array (ARRAY<INT>) of a vector — the PQ corpus-encode scan. */
case class PqEncode(child: Expression,
    bc: Broadcast[Array[Array[Array[Double]]]], sub: Int) extends UnaryKernel {
  require(sub >= 1, s"need sub >= 1, got $sub")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Doubles)
  override protected def constants: Seq[Any] = Seq(bc, sub)

  override protected def nullSafeEval(input: Any): Any =
    PqEncode.compute(input.asInstanceOf[ArrayData], bc, sub)

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqEncode {
  def compute(v: ArrayData, bc: Broadcast[Array[Array[Array[Double]]]],
      sub: Int): ArrayData = Quantizers.pqEncode(v, bc.value, sub)

  def ofColumn(c: Column, bc: Broadcast[Array[Array[Array[Double]]]], sub: Int): Column =
    GraftSqlBridge.column(PqEncode(GraftSqlBridge.expression(c), bc, sub))
}

/** Per-query ADC lookup table (ARRAY<DOUBLE>, m×codebookSize). */
case class PqLut(child: Expression,
    bc: Broadcast[Array[Array[Array[Double]]]], sub: Int, codebookSize: Int)
    extends UnaryKernel {
  require(sub >= 1 && codebookSize >= 1, "need sub >= 1 and codebookSize >= 1")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Doubles)
  override protected def constants: Seq[Any] = Seq(bc, sub, codebookSize)

  override protected def nullSafeEval(input: Any): Any =
    PqLut.compute(input.asInstanceOf[ArrayData], bc, sub, codebookSize)

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

object PqLut {
  def compute(v: ArrayData, bc: Broadcast[Array[Array[Array[Double]]]], sub: Int,
      codebookSize: Int): ArrayData = Quantizers.pqLut(v, bc.value, sub, codebookSize)

  def ofColumn(c: Column, bc: Broadcast[Array[Array[Array[Double]]]],
      sub: Int, codebookSize: Int): Column =
    GraftSqlBridge.column(PqLut(GraftSqlBridge.expression(c), bc, sub, codebookSize))
}

/** Per-row approximate scores against every query LUT (ARRAY<DOUBLE>) —
  * the PQ ADC scan (input: the row's ARRAY<INT> code column). */
case class PqScores(child: Expression, bc: Broadcast[Array[Array[Double]]],
    m: Int, codebookSize: Int) extends UnaryKernel {
  require(m >= 1 && codebookSize >= 1, "need m >= 1 and codebookSize >= 1")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_scores"
  override protected def inputKinds: Seq[KernelInput] = Seq(KernelInput.Ints)
  override protected def constants: Seq[Any] = Seq(bc, m, codebookSize)

  override protected def nullSafeEval(input: Any): Any =
    PqScores.compute(input.asInstanceOf[ArrayData], bc, m, codebookSize)

  override protected def withNewChildInternal(newChild: Expression): PqScores =
    copy(child = newChild)
}

object PqScores {
  def compute(codes: ArrayData, bc: Broadcast[Array[Array[Double]]], m: Int,
      codebookSize: Int): ArrayData = Quantizers.pqScores(codes, bc.value, m, codebookSize)

  def ofColumn(c: Column, bc: Broadcast[Array[Array[Double]]],
      m: Int, codebookSize: Int): Column =
    GraftSqlBridge.column(PqScores(GraftSqlBridge.expression(c), bc, m, codebookSize))
}
