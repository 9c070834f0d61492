package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.CheckRows

/**
 * Embedding-column utilities beyond similarity search: per-group centroids
 * (cluster/label summaries, IVF-style codebook seeds) and 8-bit scalar
 * quantization (the standard 4x storage/bandwidth cut before ANN indexing).
 */
object Embeddings {

  /**
   * Greedy k-center (farthest-first traversal, Gonzalez 1985) diversity
   * sample — the coreset / active-learning selection primitive: pick the
   * minimum-id vector, then repeatedly the vector FARTHEST from every
   * center chosen so far. The k centers 2-approximate the optimal
   * k-center cover, and `radius` (the selected point's distance to the
   * previous centers) is non-increasing by construction — certified with
   * planted clusters in rc09.
   *
   * Deterministic: min-id start; distance ties break to the smaller id.
   * Requires a non-empty input; if k exceeds the number of DISTINCT
   * vectors, stops at the distinct count (never emits radius-0 duplicate
   * centers).
   * Scale shape: per-row min distances are carried in the distributed
   * state and updated against only each pass's NEW centers, so total
   * arithmetic is O(n·k·dim); each pass admits up to `batch` centers via
   * a lazy batched argmax (one TakeOrdered pulls the `batch` farthest
   * rows, then centers are admitted driver-side while the best updated
   * candidate still STRICTLY beats the batch floor — distances only
   * shrink, so the floor upper-bounds every non-candidate and the result
   * is bit-identical to one-at-a-time Gonzalez). Pass count: at most
   * k − 1, typically ≈ k/batch on spread-out data. State is
   * localCheckpointed each pass (no lineage growth); only the k centers
   * and the batch ever reach the driver.
   */
  def kCenterSample(df: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", batch: Int = 16): DataFrame = {
    require(k >= 1, "k >= 1")
    require(batch >= 1, "batch >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    // r22: codegen'd array Cast, not the interpreted transform HOF
    // (float→double widening is exact either way)
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Seq[Double])].map(t => (t._1, t._2.toArray))
    base.persist()
    try {
      val firstRow = base.toDF("id", "v").agg(min(col("id"))).head()
      require(!firstRow.isNullAt(0), "kCenterSample: empty input")
      val first = firstRow.getLong(0)
      val firstVec = base.filter(_._1 == first).head()._2
      // the seed center has no previous centers — its radius is undefined
      // (NaN), and the non-increasing-radius theorem starts at rank 2
      val centers = collection.mutable.ArrayBuffer((first, firstVec, Double.NaN))
      // state carries each row's EXACT min distance to all admitted
      // centers, updated once per pass against only that pass's new
      // centers — total arithmetic O(n·k·dim), not the O(n·k²·dim) of
      // recomputing against the full center list every pass
      var state = {
        val bc = spark.sparkContext.broadcast(firstVec)
        base.map { case (id, v) => (id, v, sq(v, bc.value)) }
      }
      state.persist()
      var exhausted = false // farthest remaining distance hit 0: every
      // remaining vector coincides with a center, so further "centers"
      // would be silent radius-0 duplicates — stop instead (k > distinct
      // rows returns fewer than k)
      var pass = 0
      while (centers.length < k && !exhausted) {
        pass += 1
        // one TakeOrdered pass pulls the `batch` farthest rows; their
        // distances are exact, and every non-candidate row is <= floor
        val want = math.min(batch, k - centers.length + 1)
        val cands = state.toDF("id", "v", "d")
          .orderBy(col("d").desc, col("id").asc).limit(want)
          .as[(Long, Seq[Double], Double)].collect()
          .map(t => (t._1, t._2.toArray, t._3))
        if (cands.isEmpty || cands(0)._3 == 0.0) exhausted = true
        else {
          val floor = cands.last._3
          // lazy batched admit, EXACTLY Gonzalez: candidate distances are
          // updated driver-side against centers admitted this pass; admit
          // while the best updated candidate still STRICTLY beats every
          // non-candidate's upper bound (distances only shrink), with the
          // (d, smaller id) tie order preserved. d == floor could hide a
          // smaller-id non-candidate at the same distance -> stop the pass.
          val admitted = collection.mutable.ArrayBuffer.empty[Array[Double]]
          var live = cands.map { case (id, v, d) => (id, v, d) }
          var continue = true
          while (continue && live.nonEmpty && centers.length < k) {
            val best = live.maxBy { case (id, _, d) => (d, -id) }
            val isFirstOfPass = admitted.isEmpty
            // updated candidate distances hitting 0 says nothing about
            // NON-candidates (their floor bound is the pre-update value),
            // so a zero here just ends the pass; only a zero GLOBAL max
            // (checked on cands(0) above) sets exhausted
            if (best._3 == 0.0) continue = false
            else if (isFirstOfPass || best._3 > floor) {
              centers += ((best._1, best._2, math.sqrt(best._3)))
              admitted += best._2
              live = live.filter(_._1 != best._1).map { case (id, v, d) =>
                (id, v, math.min(d, sq(v, best._2)))
              }
            } else continue = false
          }
          if (centers.length < k && !exhausted) {
            // fold this pass's centers into the distributed state once
            val bc = spark.sparkContext.broadcast(admitted.toArray)
            val old = state
            // localCheckpoint: k/batch passes of map lineage would
            // otherwise stack into one deep closure chain
            state = old.map { case (id, v, d) =>
              var m = d
              val cs = bc.value
              var c = 0
              while (c < cs.length) {
                val t = sq(v, cs(c)); if (t < m) m = t; c += 1
              }
              (id, v, m)
            }.localCheckpoint()
            old.unpersist(false)
          }
        }
      }
      centers.zipWithIndex.map { case ((id, _, r), rank) =>
        (rank + 1, id, r)
      }.toSeq.toDF("rank", idCol, "radius")
    } finally base.unpersist(false)
  }

  /**
   * Per-group centroid in long form: (group, pos, centroid). posexplode then
   * ONE keyed aggregation on (group, pos) — partial aggregation means the
   * shuffle carries nGroups x dim partial sums per partition, not vectors,
   * so it scales to any corpus size. Long form keeps the result a first-class
   * relational table (joinable, hash-checkable) instead of an array blob.
   */
  def centroids(df: DataFrame, groupCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(groupCol), col("pos").cast("long").as("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("centroid"))

  /**
   * Per-group inertia: the mean squared Euclidean distance from each vector
   * to its group's centroid — the k-means objective per cluster, the number
   * that says whether a label/cluster is tight or diffuse (and the metric a
   * codebook trainer watches per iteration). Returns
   * `(group, n_vectors, inertia)`.
   *
   * Shape: one posexplode + (group, pos) aggregation for centroids (partial
   * sums map-side, like [[centroids]]), then a join keyed on (group, pos)
   * and one aggregation back to groups. The centroid side is nGroups x dim
   * rows — driver-tiny, AQE broadcasts it.
   */
  def inertia(df: DataFrame, groupCol: String = "label",
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val p = df.select(col(groupCol), col(idCol),
      posexplode(col(vecCol)).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
    val cent = p.groupBy(col(groupCol), col("pos"))
      .agg(avg(col("v")).as("__c"))
    p.join(cent, Seq(groupCol, "pos"))
      .withColumn("__d", (col("v") - col("__c")) * (col("v") - col("__c")))
      .groupBy(col(groupCol))
      .agg(countDistinct(col(idCol)).as("n_vectors"),
        round(sum(col("__d")) / countDistinct(col(idCol)), 6).as("inertia"))
  }

  /**
   * Simplified silhouette per group (Hruschka et al.'s centroid-based
   * form): for each vector, a = Euclidean distance to its OWN group
   * centroid, b = min distance to any OTHER group's centroid,
   * s = (b − a)/max(a, b); averaged per group. Replaces the O(n²)
   * pairwise silhouette with O(n·k) — the only join is point × centroid
   * with the k×dim centroid table on the build side (AQE broadcasts it),
   * never point × point. Groups with no other group emit no row (b is
   * undefined), matching the SQL semantics of the inner join.
   */
  def silhouette(df: DataFrame, groupCol: String = "label",
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val p = df.select(col(groupCol), col(idCol),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
    val cent = p.groupBy(col(groupCol).as("g"), col("pos"))
      .agg(avg(col("v")).as("c"))
    val d2 = p.join(cent, Seq("pos"))
      .withColumn("__d", (col("v") - col("c")) * (col("v") - col("c")))
      .groupBy(col(groupCol), col(idCol), col("g"))
      .agg(sum(col("__d")).as("d2"))
    // a and b from ONE pass over d2 via conditional mins (the own-centroid
    // distance is the single g == group row) — splitting d2 into own/other
    // frames and joining them back would recompute the point × centroid
    // subtree once per consumer (measured: 7 corpus scans -> 2)
    d2.groupBy(col(groupCol), col(idCol))
      .agg(
        sqrt(min(when(col(groupCol) === col("g"), col("d2")))).as("__a"),
        sqrt(min(when(col(groupCol) =!= col("g"), col("d2")))).as("__b"))
      .filter(col("__b").isNotNull)
      .withColumn("__s",
        try_divide(col("__b") - col("__a"), greatest(col("__a"), col("__b"))))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("__s")), 6).as("silhouette"))
  }

  /**
   * Pairwise cosine similarity between group centroids — the cluster
   * separation matrix (which labels are about to merge, which IVF cells
   * overlap). Unrounded centroids are aggregated per (group, pos), then the
   * k x dim long form self-joins on pos and reduces per (group, group)
   * pair; k² x dim join rows are tiny for any sane k, and both sides of
   * the join come from one shared aggregation (ReuseExchange). Output is
   * the upper triangle (g1 < g2) with similarity rounded to 6 decimals.
   */
  def centroidSimilarity(df: DataFrame, groupCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val cent = df.select(col(groupCol).as("g"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("g"), col("pos"))
      .agg(avg(col("v").cast("double")).as("c"))
    val a = cent.select(col("g").as("g1"), col("pos"), col("c").as("c1"))
    val b = cent.select(col("g").as("g2"), col("pos"), col("c").as("c2"))
    a.join(b, Seq("pos")).filter(col("g1") < col("g2"))
      .groupBy(col("g1"), col("g2"))
      .agg(round(try_divide(sum(col("c1") * col("c2")),
        sqrt(sum(col("c1") * col("c1"))) * sqrt(sum(col("c2") * col("c2")))), 6)
        .as("cosine"))
  }

  /**
   * Per-vector 8-bit scalar quantization: code_i = floor((v_i - min) *
   * (255 / (max - min))) with per-vector min/max, plus the round-trip
   * reconstruction MSE. Pure per-row expressions (no shuffle, no UDF). All
   * arithmetic is double (float inputs cast exactly), squares are plain
   * self-multiplication, and the fold over the array is sequential —
   * deterministic and engine-portable bit-for-bit. Degenerate constant
   * vectors (max = min) yield null codes/MSE via try_divide rather than an
   * ANSI divide-by-zero.
   */
  def quantize8bit(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    val mn = array_min(v).cast("double")
    val mx = array_max(v).cast("double")
    val scale = try_divide(lit(255.0), mx - mn)
    val codes = transform(v, x => floor((x.cast("double") - mn) * scale).cast("long"))
    df.withColumn("__codes", codes)
      .withColumn("code_sum", aggregate(col("__codes"), lit(0L), (acc, x) => acc + x))
      .withColumn("recon_mse", round(
        aggregate(
          zip_with(v, col("__codes"), (x, c) => {
            val e = x.cast("double") -
              (mn + c.cast("double") * try_divide(mx - mn, lit(255.0)))
            e * e
          }),
          lit(0.0), (acc, e) => acc + e) / size(v), 6))
      .select(col(idCol), col("code_sum"), col("recon_mse"))
  }

  /**
   * Per-dimension moment diagnostics over the whole collection: mean,
   * variance, min/max per embedding coordinate — the feature-collapse
   * detector (a dimension with ~zero variance carries no information; a
   * wildly off-scale one breaks cosine geometry). One posexplode + one
   * aggregation keyed by position; partial aggregation collapses the
   * shuffle to `dim` rows per task regardless of collection size.
   */
  def dimStats(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("pos").cast("long").as("pos"), col("v").cast("double").as("v"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("v")), 6).as("dim_mean"),
        round(var_samp(col("v")), 6).as("dim_var"),
        min(col("v")).as("dim_min"),
        max(col("v")).as("dim_max"))

  /**
   * PCA basis via mllib's distributed Gramian path: `RowMatrix` aggregates
   * the d×d Gramian with partial aggregation (O(d²) per task and on the
   * driver, CONSTANT in corpus size — the standard design for d up to a
   * few thousand) and eigendecomposes driver-side. Returns the column
   * means and the top-`k` components as plain arrays for broadcasting.
   */
  private[graft] def pcaBasis(df: DataFrame, k: Int,
      vecCol: String = "embedding"): (Array[Double], Array[Array[Double]], Array[Double]) = {
    import org.apache.spark.mllib.linalg.Vectors
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rdd = df.select(col(vecCol).cast("array<double>")).rdd
      .map(r => Vectors.dense(r.getSeq[Double](0).toArray))
    val mat = new RowMatrix(rdd)
    val (pc, explained) = mat.computePrincipalComponentsAndExplainedVariance(k)
    val mean = mat.computeColumnSummaryStatistics().mean.toArray
    val d = pc.numRows
    val comps = Array.tabulate(k)(j => Array.tabulate(d)(i => pc(i, j)))
    (mean, comps, explained.toArray)
  }

  /**
   * Project embeddings onto the top-`k` principal components, properly
   * MEAN-CENTERED first (mllib's own `PCA.transform` multiplies raw rows —
   * a documented quirk that shifts projections by μ·v; centering here makes
   * component means zero, the property [[em06/pcaCertified]] checks). The
   * basis fit is one Gramian aggregation; projection is a narrow map over
   * a broadcast (d×k) matrix.
   */
  def pcaProject(df: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (mean, comps, _) = pcaBasis(df, k, vecCol)
    projectWithBasis(df, mean, comps, idCol, vecCol)
  }

  /** Projection against a precomputed basis — lets callers that already
    * ran [[pcaBasis]] (em06) avoid a second Gramian + column-stats pass. */
  private[graft] def projectWithBasis(df: DataFrame, mean: Array[Double],
      comps: Array[Array[Double]], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    val bMean = spark.sparkContext.broadcast(mean)
    val bComps = spark.sparkContext.broadcast(comps)
    val project = udf { (v: Seq[Double]) =>
      val m = bMean.value
      bComps.value.map { c =>
        var s = 0.0
        var i = 0
        while (i < c.length) { s += (v(i) - m(i)) * c(i); i += 1 }
        s
      }
    }
    df.select(col(idCol), project(col(vecCol).cast("array<double>")).as("proj"))
  }

  /**
   * In-query PCA certification (em06, the rc-/qs- pattern): fit the basis
   * ONCE, project through [[pcaProject]]'s kernel ([[projectWithBasis]] —
   * the same code path, minus a redundant second fit), and check the
   * linear-algebra identities that a correct PCA must satisfy —
   * non-increasing explained variance, orthonormal components, projected
   * means zero (certifies the centering fix), and var(X·v₁) = λ₁ (the
   * defining property of the top eigenvector, checked against the
   * distributed column-variance total). Constant-SELECT oracle.
   */
  def pcaCertified(s: org.apache.spark.sql.SparkSession, dir: String,
      k: Int = 8): DataFrame = {
    val emb = graft.Tables.embeddings(s, dir)
    val (mean, comps, explained) = pcaBasis(emb, k)
    val nonInc = explained.sliding(2).forall(a => a(0) >= a(1) - 1e-12)
    val ortho = (for (i <- comps.indices; j <- i until comps.length) yield {
      val dot = comps(i).zip(comps(j)).map { case (a, b) => a * b }.sum
      math.abs(dot - (if (i == j) 1.0 else 0.0))
    }).max <= 1e-9
    val proj = projectWithBasis(emb, mean, comps).persist()
    try {
      val stats = proj.select(
        (0 until k).flatMap(j => Seq(
          avg(element_at(col("proj"), j + 1)).as(s"m_$j"),
          var_samp(element_at(col("proj"), j + 1)).as(s"v_$j"))): _*).head()
      val meansZero = (0 until k).forall(j => math.abs(stats.getAs[Double](s"m_$j")) <= 1e-9)
      val totalVar = emb.select(posexplode(col("embedding").cast("array<double>"))
          .as(Seq("pos", "v")))
        .groupBy("pos").agg(var_samp(col("v")).as("dv"))
        .agg(sum(col("dv"))).head().getDouble(0)
      val lambda1 = explained(0) * totalVar
      val varMatch = math.abs(stats.getAs[Double]("v_0") - lambda1) <= 1e-6 * lambda1
      CheckRows.frame(s, pcaChecks.zip(Seq(nonInc, ortho, meansZero, varMatch))
        .map { case ((k, c), ok) => (k, c, ok) })
    } finally proj.unpersist(false)
  }

  /** [[pcaCertified]]'s checks, in emit order. */
  private val pcaChecks = Seq("explained_nonincreasing", "components_orthonormal",
    "projected_means_zero", "pc1_variance_is_lambda1").map("em06" -> _)

  /** Constant-SELECT DuckDB oracle for [[pcaCertified]]. */
  private[graft] val pcaOracle: String = CheckRows.oracle(pcaChecks)
}
