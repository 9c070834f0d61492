package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * LSH banding shared by every near-duplicate operator — the batch
 * pipelines in [[Dedup]] and their streaming twins in
 * [[graft.streaming.StreamingDedup]]. It owns the per-band key formats
 * (minhash slice hashes, simhash bit chunks, hyperplane band signatures),
 * the one explode to (band, bucket) rows, the candidate rule and the
 * embedding band/plane budget. A stream, a persisted index and a static
 * corpus meet in a bucket only because they band through these same
 * definitions.
 *
 * A banded table has one row per (input row, band): the caller's columns
 * plus `band` (0-based) and `bucket` (that band's key). Two rows are
 * candidates iff they share a (band, bucket).
 */
private[graft] object Lsh {

  /** Equi-join keys of a banded table. */
  val BandKey: Seq[String] = Seq("band", "bucket")

  /** MinHash band keys: band `b` is `hash` of the signature slice
    * [b·r, b·r + r), r = numHashes / bands. The trailing `numHashes % bands`
    * hashes belong to no band and are unused. Requires
    * 1 <= bands <= numHashes, checked when the operator is built: with more
    * bands than hashes every slice is empty, `hash` of an empty array is a
    * constant, and every document would share every bucket. */
  def minhashBandKeys(sig: Column, numHashes: Int, bands: Int): Column = {
    require(bands >= 1 && bands <= numHashes,
      s"bands must be in [1, numHashes = $numHashes], got bands = $bands")
    val r = numHashes / bands
    array((0 until bands).map(b => hash(slice(sig, b * r + 1, r))): _*)
  }

  /** SimHash band keys: the 64-bit signature as four 16-bit chunks — any
    * pair within Hamming distance 3 agrees on at least one chunk. */
  def simhashBandKeys(sig: Column): Column =
    array((0 until 4).map(b => shiftright(sig, b * 16).bitwiseAND(lit(0xffffL))): _*)

  /** Random-hyperplane band keys: `bands` LONG signatures of
    * `planesPerBand` sign bits over disjoint plane families. */
  def hyperplaneBandKeys(v: Column, bands: Int, planesPerBand: Int,
      seed: Int): Column =
    graft.sim.HyperplaneBandSignatures.ofColumn(v, bands, planesPerBand, seed)

  /** `cols` plus one (band, bucket) row per band key. `keys` should read a
    * signature column `df` already holds, so the signature is computed once
    * per row rather than once per band. */
  def explode(df: DataFrame, keys: Column, cols: Column*): DataFrame =
    df.select(cols :+ posexplode(keys).as(BandKey): _*)

  /** Minhash-banded rows of a signature column (see [[minhashBandKeys]]). */
  def minhashBands(df: DataFrame, sigCol: String, numHashes: Int, bands: Int,
      cols: Column*): DataFrame =
    explode(df, minhashBandKeys(col(sigCol), numHashes, bands), cols: _*)

  /** Every column of `df` plus its hyperplane band rows over `vecCol`. */
  def hyperplaneBands(df: DataFrame, vecCol: String, bands: Int,
      planesPerBand: Int, seed: Int): DataFrame = {
    val keyed = df.withColumn("__sigs",
      hyperplaneBandKeys(col(vecCol), bands, planesPerBand, seed))
    explode(keyed, col("__sigs"), df.columns.map(c => keyed(c)): _*)
  }

  /** The candidate rule: rows of banded tables `a` and `b` (aliased `a`
    * and `b`) that share a (band, bucket) and satisfy `keep`, projected to
    * `out` and made distinct — a pair colliding in several bands is
    * emitted once. */
  def candidates(a: DataFrame, b: DataFrame, keep: Column,
      out: Column*): DataFrame =
    a.as("a").join(b.as("b"), col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && keep)
      .select(out: _*)
      .distinct()

  /** Self-join candidates of a banded table keyed by `id`: (id_a, id_b)
    * with id_a < id_b, plus `x_a` and `x_b` for each carried column `x`. */
  def selfCandidates(banded: DataFrame, carry: String*): DataFrame =
    candidates(banded, banded, col("a.id") < col("b.id"),
      Seq(col("a.id").as("id_a"), col("b.id").as("id_b")) ++ carry.flatMap(c =>
        Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b"))): _*)

  /** Distinct (id_a < id_b) pairs sharing a minhash band bucket. No persist:
    * both join sides are one subplan, so exchange reuse computes the
    * signature stage once. */
  def minhashCandidates(df: DataFrame, idCol: String, sigCol: String,
      numHashes: Int, bands: Int): DataFrame =
    selfCandidates(minhashBands(df, sigCol, numHashes, bands, col(idCol).as("id")))

  /** A resolved banded-hyperplane shape and its per-pair recall at the
    * threshold cosine, next to the 8-plane baseline it is budgeted against. */
  final case class HyperplaneShape(planes: Int, bands: Int, recall: Double,
      baselineRecall: Double)

  /**
   * Resolve the banded-hyperplane LSH shape for a corpus of `n` vectors:
   * planes from bucket occupancy (planesPerBand <= 0 → max(8,
   * ⌈log2(n/8)⌉)), bands from the recall budget (bands <= 0 → smallest b
   * with 1 − (1 − s'^planes)^b ≥ the (8 planes, 8 bands) baseline at
   * `threshold`, capped at 64), s' = 1 − arccos(threshold)/π. The baseline
   * is the 8-plane recall at the pinned band count, or at 8 bands when
   * `bands` is auto. Warns on stderr whenever the resolved shape's
   * per-pair recall falls >1% below the baseline — a pinned `bands` under
   * auto-raised planes, or the 64-band cap binding.
   */
  def embeddingLshConfig(n: Long, threshold: Double, bands: Int,
      planesPerBand: Int, warn: Boolean = false): HyperplaneShape = {
    val planes =
      if (planesPerBand > 0) planesPerBand
      else math.max(8, math.ceil(math.log(n / 8.0) / math.log(2.0)).toInt)
    val sPrime = 1.0 - math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
    def recallAt(p: Int, b: Int): Double = 1.0 - math.pow(1.0 - math.pow(sPrime, p), b)
    val resolvedBands =
      if (bands > 0) bands
      else if (planes <= 8) 8
      else {
        // bands preserving the (8 planes, 8 bands) recall at `threshold`:
        // b = ln(1 − R0) / ln(1 − s'^planes), R0 = 1 − (1 − s'^8)^8
        val needed = 8.0 * math.log1p(-math.pow(sPrime, 8)) /
          math.log1p(-math.pow(sPrime, planes))
        math.min(64, math.max(8, math.ceil(needed).toInt))
      }
    val eff = recallAt(planes, resolvedBands)
    val base = recallAt(8, if (bands > 0) bands else 8)
    if (warn && eff < base - 0.01)
      System.err.println(f"[graft] embeddingNearDuplicates: per-pair recall at " +
        f"cosine=$threshold%.2f is ~$eff%.3f with planes=$planes/bands=$resolvedBands " +
        f"(8-plane baseline ~$base%.3f)" + (if (bands > 0 && planesPerBand <= 0)
        " — bands is pinned while planes auto-scaled with the corpus; pass " +
        "bands=0 to re-budget recall automatically" else
        " — the 64-band cap binds at this threshold/corpus size; raise " +
        "planesPerBand deliberately or accept the reduced recall"))
    HyperplaneShape(planes, resolvedBands, eff, base)
  }
}
