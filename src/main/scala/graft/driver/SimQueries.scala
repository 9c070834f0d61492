package graft
package driver

import org.apache.spark.sql.functions._

import Shared.pairDigest

/** Similarity and recall driver queries ([[graft.sim]]): exact and
  * approximate (LSH, IVF, PQ) top-k, their digests, embedding statistics
  * and k-center sampling, SemDeDup (sd01), and the in-query recall
  * certifications (rc*) of every approximate sim and dedup operator. */
object SimQueries {

  val queries: Seq[Query] = Seq(
    Query("em01_centroids", (s, dir) =>
      graft.sim.Embeddings.centroids(Tables.embeddings(s, dir))).oracle(
      """SELECT label, i AS pos, round(avg(embedding[i+1]::DOUBLE), 6) AS centroid
         FROM embeddings, unnest(range(len(embedding))) AS t(i)
         GROUP BY 1, 2"""),
    Query("em02_quantize8", (s, dir) =>
      graft.sim.Embeddings.quantize8bit(Tables.embeddings(s, dir))).oracle(
      // arithmetic mirrors the Spark expressions op-for-op (subtract, then
      // multiply by the precomputed 255/(mx-mn) quotient) so floor() and the
      // sequential MSE fold are bit-identical across engines
      """WITH e AS (SELECT vec_id, embedding,
             list_aggregate(embedding, 'min')::DOUBLE AS mn,
             list_aggregate(embedding, 'max')::DOUBLE AS mx FROM embeddings),
         q AS (SELECT vec_id, mn, mx, embedding,
             list_transform(embedding,
               v -> floor((v::DOUBLE - mn) * (255.0 / (mx - mn)))) AS code FROM e)
         SELECT vec_id, list_sum(code)::BIGINT AS code_sum,
           round(list_sum(list_transform(range(len(embedding)), i ->
             (embedding[i+1]::DOUBLE - (mn + code[i+1] * ((mx - mn) / 255.0)))
             * (embedding[i+1]::DOUBLE - (mn + code[i+1] * ((mx - mn) / 255.0)))))
             / len(embedding), 6) AS recon_mse
         FROM q"""),
    Query("em03_inertia", (s, dir) =>
      // per-label mean squared distance to the label centroid
      graft.sim.Embeddings.inertia(Tables.embeddings(s, dir))).oracle(
      """WITH p AS (SELECT label, vec_id, i AS pos, embedding[i+1]::DOUBLE AS v
             FROM embeddings, unnest(range(len(embedding))) AS t(i)),
         c AS (SELECT label, pos, avg(v) AS cv FROM p GROUP BY 1, 2)
         SELECT label, count(DISTINCT vec_id) AS n_vectors,
           round(sum((v - cv) * (v - cv)) / count(DISTINCT vec_id), 6) AS inertia
         FROM p JOIN c USING (label, pos) GROUP BY label"""),
    Query("em04_centroid_cosine", (s, dir) =>
      // pairwise cosine similarity between label centroids (upper triangle)
      graft.sim.Embeddings.centroidSimilarity(Tables.embeddings(s, dir))
        .select(col("g1"), col("g2"), col("cosine"))).oracle(
      """WITH c AS (SELECT label AS g, i AS pos, avg(embedding[i+1]::DOUBLE) AS c
           FROM embeddings, unnest(range(len(embedding))) AS t(i)
           GROUP BY 1, 2)
         SELECT a.g AS g1, b.g AS g2,
           round(sum(a.c * b.c) / nullif(sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c)), 0), 6)
             AS cosine
         FROM c a JOIN c b ON a.pos = b.pos AND a.g < b.g
         GROUP BY a.g, b.g"""),
    Query("em05_dim_stats", (s, dir) =>
      // per-dimension moments: the feature-collapse detector
      graft.sim.Embeddings.dimStats(Tables.embeddings(s, dir))).oracle(
      """SELECT i AS pos, count(*)::BIGINT AS n,
           round(avg(embedding[i+1]::DOUBLE), 6) AS dim_mean,
           round(var_samp(embedding[i+1]::DOUBLE), 6) AS dim_var,
           min(embedding[i+1]::DOUBLE) AS dim_min,
           max(embedding[i+1]::DOUBLE) AS dim_max
         FROM embeddings, unnest(range(len(embedding))) AS t(i)
         GROUP BY 1"""),
    Query("em06_pca_certified", (s, dir) =>
      // PCA via the distributed Gramian (O(d^2) driver cost, constant in
      // corpus size) certified by its linear-algebra identities
      graft.sim.Embeddings.pcaCertified(s, dir)).oracle(graft.sim.Embeddings.pcaOracle),
    Query("em07_silhouette", (s, dir) =>
      // centroid-based simplified silhouette per label: O(n*k) point x
      // centroid distances, never point x point
      graft.sim.Embeddings.silhouette(Tables.embeddings(s, dir))).oracle(
      """WITH p AS (SELECT label, vec_id, i AS pos, embedding[i+1]::DOUBLE AS v
             FROM embeddings, unnest(range(len(embedding))) AS t(i)),
         c AS (SELECT label AS g, pos, avg(v) AS cv FROM p GROUP BY 1, 2),
         d AS (SELECT p.label, p.vec_id, c.g, sum((p.v - c.cv) * (p.v - c.cv)) AS d2
               FROM p JOIN c USING (pos) GROUP BY 1, 2, 3),
         own AS (SELECT label, vec_id, sqrt(d2) AS a FROM d WHERE label = g),
         oth AS (SELECT label, vec_id, sqrt(min(d2)) AS b FROM d
                 WHERE label <> g GROUP BY 1, 2)
         SELECT label, count(*) AS n_vectors,
           round(avg((b - a) / greatest(a, b)), 6) AS silhouette
         FROM own JOIN oth USING (label, vec_id) GROUP BY label"""),
    // In-query recall certification of the approximate sm/dd surface (the
    // mr* pattern for ANN/near-dup — exact answer computed in the same
    // query, bounds hash-checked).
    Query("rc01_lsh_recall", (s, dir) => graft.sim.Recall.lsh(s, dir))
      .oracle(graft.sim.Recall.oracleFor("lsh")),
    Query("rc02_ivf_recall", (s, dir) => graft.sim.Recall.ivf(s, dir))
      .oracle(graft.sim.Recall.oracleFor("ivf")),
    Query("rc03_pq_recall", (s, dir) => graft.sim.Recall.pq(s, dir))
      .oracle(graft.sim.Recall.oracleFor("pq")),
    Query("rc04_minhash_recall", (s, dir) => graft.sim.Recall.minhash(s, dir))
      .oracle(graft.sim.Recall.oracleFor("minhash")),
    Query("rc05_simhash_recall", (s, dir) => graft.sim.Recall.simhash(s, dir))
      .oracle(graft.sim.Recall.oracleFor("simhash")),
    Query("rc06_embneardup_recall", (s, dir) => graft.sim.Recall.embedding(s, dir))
      .oracle(graft.sim.Recall.oracleFor("embedding")),
    Query("rc07_semdedup_recall", (s, dir) =>
      // sd01 certification: co-cluster recall vs exact all-pairs on the
      // bounded vec_id<300 subset + verify-step precision theorem
      graft.sim.Recall.semdedup(s, dir)).oracle(graft.sim.Recall.oracleFor("semdedup")),
    Query("rc08_semdecon_recall", (s, dir) => graft.sim.Recall.semdecon(s, dir))
      .oracle(graft.sim.Recall.oracleFor("semdecon")),
    Query("rc09_kcenter_certified", (s, dir) => graft.sim.Recall.kcenter(s, dir)).oracle(
      // DSIR replayed whole in SQL: same md5-prefix buckets, same add-1
      // smoothing, same ratio shape (broadcast in Spark, plain joins here);
      // the Gumbel uniform's hex-to-int runs as exact integer arithmetic over
      // the md5 chars (every partial sum < 2^52 -> exactly representable, so
      // summation order cannot change the value)
      graft.sim.Recall.oracleFor("kcenter")),
    Query("sd01_semantic_dedup", (s, dir) =>
      // SemDeDup: k-means cluster the normalized embeddings, exact pairwise
      // cosine within clusters only (meaning-level dups at cluster-bounded
      // cost); threshold 0.2 for the unclustered synthetic space, same
      // reasoning as dd06; rc07 certifies recall + precision in-query
      graft.sim.SemDedup.semanticDuplicates(Tables.embeddings(s, dir),
        k = 8, threshold = 0.2)),
    Query("sm01_knn_bruteforce", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.sim.Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }).oracle(
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
           FROM embeddings c, q WHERE c.vec_id <> q.vec_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
         FROM ranked WHERE rank <= 5"""),
    Query("sm02_knn_lsh", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.sim.Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        planes = 4, probeBits = 2)
    }),
    Query("sm03_knn_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.sim.Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nlist = 8, nprobe = 4)
    }),
    Query("sm04_knn_pq", (s, dir) => {
      // product-quantization ANN: ADC scan over 8-byte codes + exact re-rank
      val emb = Tables.embeddings(s, dir)
      graft.sim.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        m = 8, codebookSize = 16, rerank = 50)
    }),
    Query("sm05_hard_negatives", (s, dir) => {
      // contrastive hard-negative mining: nearest different-label corpus
      // vectors per query — broadcast-queries x corpus scan, exact cosine
      val emb = Tables.embeddings(s, dir)
      graft.sim.Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 5)
    }).oracle(
      """WITH q AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
             list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cos
           FROM embeddings c, q WHERE c.label <> q.label),
         ranked AS (
           SELECT query_id, neighbor_id, neighbor_label, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id, neighbor_label,
           round(cos, 6) AS cosine
         FROM ranked WHERE rank <= 5"""),
    Query("sm06_lsh_digest", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      pairDigest(graft.sim.Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
        k = 5, planes = 4, probeBits = 2),
        format_string("%d,%d,%d,%.6f", col("query_id"), col("rank"),
          col("neighbor_id"), col("cosine")))
    }).oracle(
      """SELECT '6639b04370ca53c5029c672351aaafb1' AS digest, 50::BIGINT AS n_pairs"""),
    Query("sm07_ivf_digest", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      pairDigest(graft.sim.Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        k = 5, nlist = 8, nprobe = 4),
        format_string("%d,%d,%d,%.6f", col("query_id"), col("rank"),
          col("neighbor_id"), col("cosine")))
    }).oracle(
      """SELECT 'e49ce81bb71273d581b796a1fe706d94' AS digest, 50::BIGINT AS n_pairs"""),
    Query("sm08_pq_digest", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      pairDigest(graft.sim.Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10),
        k = 5, m = 8, codebookSize = 16, rerank = 50),
        format_string("%d,%d,%d,%.6f", col("query_id"), col("rank"),
          col("neighbor_id"), col("cosine")))
    }).oracle(
      """SELECT 'ce5a680ad4f08764b3fcc8f6e05a9f20' AS digest, 50::BIGINT AS n_pairs"""),
    Query("smp10_kcenter_sample", (s, dir) =>
      // greedy k-center diversity sample over the embedding corpus: k-1
      // broadcast-center passes, argmax via one aggregate each — the
      // coreset selection primitive; rc09 certifies the greedy on planted
      // clusters, so rows-only here
      graft.sim.Embeddings.kCenterSample(Tables.embeddings(s, dir), 12)
        .select(col("rank").cast("long").as("rank"), col("vec_id"),
          round(col("radius"), 6).as("radius"))),
    Query("smp11_kcenter_digest", (s, dir) =>
      pairDigest(graft.sim.Embeddings.kCenterSample(Tables.embeddings(s, dir), 12)
        .select(col("rank").cast("long").as("rank"), col("vec_id"),
          round(col("radius"), 6).as("radius")),
        format_string("%d,%d,%.6f", col("rank"), col("vec_id"), col("radius")))).oracle(
      """SELECT '19565b66075d14f1844e3d99f094e570' AS digest, 12::BIGINT AS n_pairs""")
  )
}
