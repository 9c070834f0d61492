package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`ARRAY<FLOAT>`): brute-force
 * cosine top-k as the exact baseline, random-hyperplane LSH buckets as the
 * approximate scale path.
 *
 * Scale design: queries are a small broadcast side crossed against the full
 * table (per-row codegen'd dot products via SQL higher-order functions, no
 * UDF in the hot path); the LSH variant replaces the cross join with a
 * bucket equi-join so candidate count — not corpus size — drives cost.
 */
object Similarity {

  /** Dot product via the native codegen'd [[DotProduct]] expression (the SQL
    * HOF formulation is CodegenFallback — interpreted, with a zipped-array
    * allocation per pair). Same sequential summation order, bit-identical. */
  def dot(a: Column, b: Column): Column = DotProduct.ofColumns(a, b)

  def norm(a: Column): Column = sqrt(DotProduct.ofColumns(a, a))

  /** Cast float array to double and scale to unit norm (cosine ≡ dot).
    * A zero-norm vector stays all-zero (no ANSI divide-by-zero throw).
    * r21: the native codegen'd [[NormalizedVector]] — the previous
    * higher-order-function chain was CodegenFallback (interpreted, boxed
    * per element) and dominated the embedding family's corpus passes at
    * scale; the expression replicates its arithmetic bit-exactly.
    *
    * Input contract (ADVICE r21): ARRAY<DOUBLE> or ARRAY<FLOAT> only —
    * narrower than the pre-r21 HOF chain, which silently accepted any
    * castable element type (ARRAY<INT>, ARRAY<DECIMAL>, ...). External
    * callers with integer arrays must cast explicitly
    * (`col.cast("array<double>")`); they get an AnalysisException, never
    * a silently different value. */
  def normalized(a: Column): Column = NormalizedVector.ofColumn(a)

  /** Cosine similarity; null (not an ANSI throw) when either norm is zero. */
  def cosine(a: Column, b: Column): Column = try_divide(dot(a, b), norm(a) * norm(b))

  /**
   * Exact brute-force top-k: for every query vector (small set — broadcast),
   * the k nearest corpus vectors by cosine. Ties broken by neighbor id.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // cosine = dot/(|a||b|) on double-cast arrays — the exact formula the
    // DuckDB oracle uses on ::DOUBLE[] lists, so results are bit-comparable.
    // r22: a plain array Cast (codegen'd) replaces the transform HOF
    // (CodegenFallback — interpreted lambda per element); float→double
    // widening is exact either way, values bit-identical.
    val toD = (c: Column) => c.cast("array<double>")
    val c = corpus.select(col(idCol).as("neighbor_id"), toD(col(vecCol)).as("nv"))
      .withColumn("nn", norm(col("nv")))
    val q = queries.select(col(idCol).as("query_id"), toD(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", try_divide(dot(col("nv"), col("qv")), col("nn") * col("qn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /**
   * Hard-negative mining — the contrastive-training batch primitive: for
   * every query vector, the k MOST similar corpus vectors whose `label`
   * DIFFERS from the query's (the near-miss impostors a contrastive /
   * metric-learning loss needs; easy random negatives are uninformative).
   * Same shape and determinism contract as [[bruteForceTopK]]
   * (broadcast queries × corpus scan — linear, never corpus²; cosine
   * exact; ties to the smaller neighbor id).
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    // r22: codegen'd Cast, not the interpreted transform HOF (bit-identical)
    val toD = (c: Column) => c.cast("array<double>")
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"), toD(col(vecCol)).as("nv"))
      .withColumn("nn", norm(col("nv")))
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label"), toD(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_label") =!= col("query_label"))
      .withColumn("cosine", try_divide(dot(col("nv"), col("qv")), col("nn") * col("qn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("neighbor_label"), round(col("cosine"), 6).as("cosine"))
  }

  /** Random-hyperplane signature: one sign bit per plane, packed in a LONG.
    * Vectors with equal signatures land in the same LSH bucket. The single
    * band of [[HyperplaneBandSignatures]]: a plane's components depend only
    * on (plane, dim, seed), so the bits equal a one-band signature's. */
  def hyperplaneSignature(vec: Column, planes: Int, seed: Int = 7): Column =
    HyperplaneBandSignatures.ofColumn(vec, 1, planes, seed).getItem(0)

  /**
   * Banded hyperplane signatures: `bands` independent signatures of
   * `planesPerBand` sign bits each (plane families disjoint by construction).
   * The AND-OR amplification mirrors MinHash banding: a pair collides if ANY
   * band matches, so per-band buckets stay small (2^planesPerBand per band)
   * while recall for high-cosine pairs compounds across bands — the
   * all-pairs-within-one-bucket blowup of a single wide bucket never forms.
   * One compiled pass computes every band (r22: native
   * [[HyperplaneBandSignatures]] expression, bit-identical to the UDF).
   */
  def hyperplaneBandSignatures(vec: Column, bands: Int, planesPerBand: Int,
      seed: Int = 7): Column =
    HyperplaneBandSignatures.ofColumn(vec, bands, planesPerBand, seed)

  /**
   * Deterministic Lloyd's k-means on a DRIVER-LOCAL bounded sample —
   * the codebook/quantizer trainer for IVF and PQ. Training on a capped
   * sample is the standard ANN design (the codebook describes the
   * distribution, not the corpus): the sample is bounded (`maxRows` cap
   * upstream), so the fit is O(sample) regardless of corpus size, and
   * running it driver-local replaces ~10 Lloyd rounds of cluster-wide
   * job scheduling (2 barriers per round) with microseconds of math.
   *
   * Deterministic: seeded k-means++ init (java.util.Random's stream is
   * specified), nearest-center ties break to the lowest index, an emptied
   * cluster re-seeds to the point farthest from its center.
   */
  private[sim] def localKMeans(points: Array[Array[Double]], k: Int,
      seed: Long, maxIter: Int = 20): Array[Array[Double]] = {
    require(points.nonEmpty, "k-means needs at least one point")
    val n = points.length
    val dim = points(0).length
    val rnd = new java.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // k-means++ seeding
    val centers = new Array[Array[Double]](k)
    centers(0) = points(rnd.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var tot = 0.0
      var i = 0
      while (i < n) {
        val d = d2(points(i), centers(c - 1))
        if (d < minD(i)) minD(i) = d
        tot += minD(i)
        i += 1
      }
      var pick = rnd.nextDouble() * tot
      var j = 0
      while (j < n - 1 && pick > minD(j)) { pick -= minD(j); j += 1 }
      centers(c) = points(j).clone()
      c += 1
    }
    // Lloyd iterations
    val assign = new Array[Int](n)
    var it = 0
    var moved = true
    while (it < maxIter && moved) {
      moved = false
      var i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < k) {
          val d = d2(points(i), centers(j))
          if (d < bestD) { bestD = d; best = j } // strict < : ties → lowest j
          j += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      i = 0
      while (i < n) {
        val a = assign(i); counts(a) += 1
        var x = 0
        while (x < dim) { sums(a)(x) += points(i)(x); x += 1 }
        i += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) {
          var x = 0
          while (x < dim) { sums(j)(x) /= counts(j); x += 1 }
          centers(j) = sums(j)
        } else {
          // deterministic re-seed: the point farthest from its own center.
          // Reassign the chosen point to this cluster immediately so a
          // SECOND empty cluster in the same pass picks a different point
          // (otherwise both reseed to the same farthest point and all but
          // one stay empty forever).
          var far = 0; var farD = -1.0
          var p = 0
          while (p < n) {
            val d = d2(points(p), centers(assign(p)))
            if (d > farD) { farD = d; far = p }
            p += 1
          }
          centers(j) = points(far).clone()
          assign(far) = j
          moved = true
        }
        j += 1
      }
      it += 1
    }
    centers
  }

  /** Driver-side byte budget for quantizer training samples. The row caps
    * (`quantizerMaxRows`/`trainMaxRows`) bound COUNT, not SIZE: at dim 4096
    * a 100k-row collect is ~3 GB of driver heap. The effective cap is
    * min(rowCap, budget / (dim·8)) so the collected sample is bounded in
    * BYTES at any dimensionality. */
  private[graft] val quantizerByteBudget: Long = 256L << 20

  /** Effective sample-row cap for a training collect at `dim` doubles/row. */
  private[graft] def boundedSampleRows(maxRows: Int, dim: Int): Int =
    math.max(1L, math.min(maxRows.toLong, quantizerByteBudget / (dim.toLong * 8L))).toInt

  /** r22 (VERDICT r21 #3): largest query count whose per-query ADC LUTs
    * (m·codebookSize doubles each) fit the driver byte budget. */
  private[graft] def pqMaxBroadcastQueries(m: Int, codebookSize: Int,
      budget: Long = quantizerByteBudget): Int =
    math.max(1L, budget / (m.toLong * codebookSize.toLong * 8L)).toInt

  /** The loud guard on pqTopK's query-LUT collect (split out so the error
    * path is spec-testable without a multi-GB query fixture). */
  private[graft] def requireBoundedQueries(n: Int, m: Int, codebookSize: Int,
      budget: Long = quantizerByteBudget): Unit = {
    val maxQ = pqMaxBroadcastQueries(m, codebookSize, budget)
    require(n <= maxQ,
      s"pqTopK requires a bounded query set: got more than $maxQ queries " +
        s"(the per-query LUT broadcast budget of $budget bytes at m=$m, " +
        s"codebookSize=$codebookSize); queries are the operator's small " +
        "broadcast side by contract — split the query set or raise the budget")
  }

  /**
   * IVF (inverted-file) approximate top-k: a coarse k-means quantizer
   * ([[localKMeans]] on a bounded uniform sample) assigns every corpus
   * vector to one of `nlist` cells;
   * each query probes its `nprobe` nearest centroids and ranks only those
   * cells' members by exact cosine. The scale path for clustered embedding
   * spaces: cost ~ corpus/nlist * nprobe per query instead of the full scan.
   *
   * `nlist` defaults to 0 = corpus-scaled ([[SemDedup.suggestedK]], ≈ √n):
   * a fixed cell count carried to a bigger corpus makes each probed cell
   * linear in n and the scan advantage evaporates (SCALE.md r17). Pass an
   * explicit nlist only for small pinned corpora.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int = 0,
      nprobe: Int = 4, idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L, quantizerMaxRows: Int = 100000): DataFrame = {
    // r22: codegen'd Cast, not the interpreted transform HOF (bit-identical)
    val toD = (c: Column) => c.cast("array<double>")
    val c = corpus.select(col(idCol).as("neighbor_id"), toD(col(vecCol)).as("nv"))
      .withColumn("nn", norm(col("nv")))
    // the coarse quantizer only needs a bounded input, but a UNIFORM one:
    // limit() reads whichever partitions come first, so at scale the
    // quantizer would train on one shard's distribution. Below the cap the
    // full corpus is used (results unchanged); above it, a seeded uniform
    // sample (oversampled 20%, then capped) keeps the fit cost constant in
    // corpus size without the partition-order bias.
    val feats = c.select("nv")
    val nCorpus = feats.count()
    require(nCorpus > 0, "IVF needs a non-empty corpus")
    // byte-aware cap: one limit-1 job reads the dimensionality so the
    // collected sample is bounded in bytes, not just rows (see
    // quantizerByteBudget) — negligible next to the count() above
    val dim = feats.head.getSeq[Double](0).length
    val cap = boundedSampleRows(quantizerMaxRows, dim)
    val fitInput =
      if (nCorpus <= cap) feats
      else feats.sample(withReplacement = false,
        math.min(1.0, cap * 1.2 / nCorpus), seed).limit(cap)
    // bounded sample → driver-local deterministic Lloyd (see localKMeans)
    val trainPts = fitInput.collect().map(_.getSeq[Double](0).toArray)
    val nlistEff = if (nlist > 0) nlist else SemDedup.suggestedK(nCorpus)
    val centers = localKMeans(trainPts, nlistEff, seed)
    val spark = corpus.sparkSession
    val bcCentroids = spark.sparkContext.broadcast(centers)
    // r22: the corpus cell assignment and the query probes run through the
    // native codegen'd NearestCentroid/NearestCentroids expressions — the
    // scalar UDFs boxed every vector into a Seq[Double] per row (and left
    // opaque UDF nodes in the plan). Same stable (distance, index) order
    // for the argmin and the top-nprobe, bit-identical cells.
    val assigned = c.withColumn("cell",
        NearestCentroid.ofColumn(col("nv"), bcCentroids))
      .select("neighbor_id", "nv", "nn", "cell")
    val q = queries.select(col(idCol).as("query_id"), toD(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("cell",
        explode(NearestCentroids.ofColumn(col("qv"), bcCentroids, nprobe)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    assigned.join(broadcast(q), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", try_divide(dot(col("nv"), col("qv")), col("nn") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /**
   * Product-quantization (PQ) approximate top-k with asymmetric distance
   * computation and exact re-ranking.
   *
   * Train: per-subspace k-means — the vector is split into `m` contiguous
   * sub-blocks; each sub-block gets its own `codebookSize`-centroid codebook,
   * fit on a bounded seeded-uniform sample (same policy as the IVF coarse
   * quantizer). Encode: each corpus vector becomes `m` small codes (nearest
   * sub-centroid) — 64-dim float32 (256 B) compresses to 8 codes, the 32×
   * memory reduction that lets the scan table live in memory at corpus
   * scales where the raw vectors cannot. Search: per query one lookup table
   * of sub-dot-products (m × codebookSize floats, built once); a corpus
   * item's approximate dot is m table lookups + adds — no multiplies in the
   * scan. The top `rerank` candidates per query are re-ranked by EXACT
   * cosine (keyed join back to the raw vectors), so approximation error only
   * affects recall, never the reported scores.
   *
   * Scale shape: the scan joins (id, 8 codes) against broadcast per-query
   * LUTs — a narrow pass over the compressed table; the re-rank join touches
   * `rerank` rows per query. Compose with IVF cells for sub-linear scans.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
      codebookSize: Int = 16, rerank: Int = 50, idCol: String = "vec_id",
      vecCol: String = "embedding", seed: Long = 42L,
      trainMaxRows: Int = 100000): DataFrame = {
    val spark = corpus.sparkSession
    val c = corpus.select(col(idCol).as("neighbor_id"), normalized(col(vecCol)).as("nv"))
    val nCorpus = c.count()
    require(nCorpus > 0, "PQ needs a non-empty corpus")
    // byte-aware cap (see quantizerByteBudget): dimensionality via one
    // limit-1 job, then a bounded uniform sample collected ONCE; the m
    // sub-codebooks train driver-locally (see localKMeans — one pass of
    // cluster work replaces m × 10 Lloyd rounds of job scheduling)
    val dim = c.select(col("nv")).head.getSeq[Double](0).length
    val cap = boundedSampleRows(trainMaxRows, dim)
    val trainPts = (if (nCorpus <= cap) c
      else c.sample(withReplacement = false,
        math.min(1.0, cap * 1.2 / nCorpus), seed).limit(cap))
      .select(col("nv")).collect().map(_.getSeq[Double](0).toArray)
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val sub = dim / m
    val codebooks: Array[Array[Array[Double]]] =
      (0 until m).toArray.map { b =>
        val subPts = trainPts.map(v => java.util.Arrays.copyOfRange(v, b * sub, (b + 1) * sub))
        localKMeans(subPts, codebookSize, seed + b)
      }
    val bc = spark.sparkContext.broadcast(codebooks)
    val mLocal = m; val cbLocal = codebookSize
    // r22: encode / LUT / ADC-score run through the native codegen'd
    // PqEncode / PqLut / PqScores expressions — the scalar UDFs boxed every
    // vector (Seq[Double]) and code array (Seq[Int]) per corpus row. Same
    // lowest-code sub-argmin ties, same fold order: codes, LUTs and scores
    // are bit-identical.
    val coded = c.withColumn("codes", PqEncode.ofColumn(col("nv"), bc, sub))
    val q = queries.select(col(idCol).as("query_id"), normalized(col(vecCol)).as("qv"))
    val qLut = q.withColumn("lut", PqLut.ofColumn(col("qv"), bc, sub, codebookSize))
      .select("query_id", "lut")
    // r21 (guide §8: ship a lightweight proxy, not payloads): the ADC scan
    // used to crossJoin the corpus against broadcast(query, lut) rows — the
    // joined row MATERIALIZED the m×codebookSize-double LUT (~1 KB) per
    // candidate pair, and the UDF re-boxed it per pair (measured ~60 µs/row,
    // the sm04 wall at the 10× fixture). Now the bounded per-query LUT table
    // is collected ONCE (queries are the small broadcast side by the
    // operator's contract; one more bounded eager job, same class as the
    // training collect) and ships as ONE jvm broadcast; each corpus row
    // emits its per-query score array (m unboxed lookups per query) and
    // posexplode yields (qidx, approx) — 24-byte rows into the rank stage,
    // no per-pair LUT copies, no cross join. query ids ride a tiny
    // broadcast-joined (qidx, query_id) frame, so arithmetic, pair
    // universe, self-exclusion, ranking and ties are IDENTICAL.
    // r22 (VERDICT r21 #3): the queries-are-small contract is now ENFORCED,
    // not assumed — the collect is capped at the same driver byte budget as
    // the training collects (one LUT is m·codebookSize doubles), and a
    // caller exceeding it gets a loud error instead of a driver OOM.
    val maxQueries = pqMaxBroadcastQueries(m, codebookSize)
    val qRows = qLut.limit(maxQueries + 1).collect()
    requireBoundedQueries(qRows.length, m, codebookSize)
    val bcLuts = spark.sparkContext.broadcast(
      qRows.map(_.getSeq[Double](1).toArray))
    val skinnySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__qidx",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      qLut.schema("query_id")))
    val skinny = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(qRows.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(i, r.get(0)) }: _*)), skinnySchema)
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id"))
    val cand = coded.select("neighbor_id", "codes")
      .select(col("neighbor_id"),
        posexplode(PqScores.ofColumn(col("codes"), bcLuts, mLocal, cbLocal))
          .as(Seq("__qidx", "approx")))
      .join(broadcast(skinny), Seq("__qidx"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= rerank)
      .select("query_id", "neighbor_id")
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // r21: pin the BOUNDED side (cand: ≤ rerank × queries rows) as the
    // broadcast build of the re-rank join. Unhinted, the planner broadcast
    // the CORPUS side at bench scale (fine at 2k vectors, impossible at
    // 100 TB, where it would fall back to shuffling the corpus by
    // neighbor_id); with the hint the corpus is always the streamed side —
    // scan + broadcast join, no corpus exchange at any scale.
    broadcast(cand).join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", dot(col("nv"), col("qv")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /**
   * Approximate top-k: probe only the query's LSH bucket (plus optionally
   * neighboring buckets via multi-probe on `probeBits` single-bit flips),
   * then rank candidates by exact cosine.
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 12,
      probeBits: Int = 2, idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), normalized(col(vecCol)).as("nv"))
      .withColumn("bucket", hyperplaneSignature(col("nv"), planes))
    val qBase = queries.select(col(idCol).as("query_id"), normalized(col(vecCol)).as("qv"))
      .withColumn("sig", hyperplaneSignature(col("qv"), planes))
    // multi-probe: the exact bucket plus every single-bit flip of the lowest probeBits planes
    val probes = explode(array(
      (col("sig") +: (0 until probeBits).map(b => col("sig").bitwiseXOR(lit(1L << b)))): _*))
    val q = qBase.withColumn("bucket", probes)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("nv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }
}
