package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CheckRows, Tables}
import graft.text.Dedup

/**
 * In-query recall certification for the approximate-similarity surface
 * (rc01–rc06) — the mr* simulate→fit→recover pattern applied to ANN and
 * near-dup: each query computes BOTH the approximate answer (the library
 * defaults the sm/dd queries use) and the exact answer (brute force /
 * all-pairs on a bounded deterministic subset), derives recall / precision
 * / completeness booleans against calibrated bounds, and emits
 * (key, check_name, ok) rows whose DuckDB oracle is a constant SELECT.
 *
 * This replaces "the frozen golden still matches" (which a silent golden
 * regeneration could game) with "the approximation provably finds what it
 * must": a banding bug, a broken verify filter, or a degraded quantizer
 * flips a boolean and the driver sees a red cell.
 *
 * Bounds are calibrated from measured recall at sf0.001/0.01/0.1 (the
 * figures sit next to each bound) with ≥2x margin below the observed
 * minimum, so they certify the LSH/IVF/PQ math holds, not a lucky
 * dataset. Checks that are THEOREMS of the construction (MinHash/SimHash
 * banding completeness at high similarity, verify-step precision) use
 * exact bounds.
 *
 * Scale note: truth sides are bounded by construction — top-k truth reuses
 * the broadcast-queries brute-force scan (10 query rows), pair truth runs
 * all-pairs only on an id-bounded subset (≤300 rows at any sf) — so these
 * queries cost O(subset²), constant in corpus size.
 */
object Recall {

  private def pairs(df: DataFrame): DataFrame = df.select("query_id", "neighbor_id")

  /** Evaluate `body` with `dfs` persisted: every rc query counts its truth
    * and approx sides 2-3 times (recall join, precision join, completeness
    * slice), and without a persist each count re-runs the full LSH/IVF/PQ
    * pipeline. The frames are bounded (pair sets over id-bounded subsets /
    * 10-query top-k), so caching them is O(k) memory at any corpus size. */
  private def cached[T](dfs: DataFrame*)(body: => T): T = {
    dfs.foreach(_.persist())
    try body finally dfs.foreach(_.unpersist(false))
  }

  private def recallOk(hit: Long, total: Long, bound: Double): Boolean =
    total == 0 || hit.toDouble / total >= bound

  /** ranks well-formed: ≤ k rows per query, ranks within 1..k. */
  private def ranksBounded(topk: DataFrame, k: Int): Boolean =
    topk.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"))
      .filter(col("n") > k || col("mx") > k).count() == 0

  // ------------------------------------------------------------------
  // ANN top-k (certify sm02 / sm03 / sm04 against sm01's exact answer)
  // ------------------------------------------------------------------

  /** Count of rows where the flag predicate holds — coalesced to 0 so an
    * EMPTY universe (a vacuous truth slice at small SFs) aggregates to 0,
    * matching the counts the counted-join formulation returned. */
  private def one(c: Column) = coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))

  private def annChecks(s: SparkSession, key: String, emb: DataFrame,
      approx: DataFrame, k: Int, bound: Double): DataFrame = {
    val truth = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k)
    // r21 (the rc07 job-count treatment generalized): recall came from
    // THREE counted jobs over two persisted frames (truth.count, a
    // left-semi count, ranksBounded) — the booleans' cost was job count,
    // not bytes. Tag-union the two pair sets (both emit DISTINCT pairs by
    // construction: row_number top-k) and aggregate once; only `approx`
    // still persists, for the separate rank-shape job.
    approx.persist()
    try {
      val t = pairs(truth).select(col("query_id"), col("neighbor_id"),
        lit(1).as("__t"), lit(0).as("__a"))
      val a = pairs(approx).select(col("query_id"), col("neighbor_id"),
        lit(0).as("__t"), lit(1).as("__a"))
      val p = t.unionByName(a)
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(max(col("__t")).as("__t"), max(col("__a")).as("__a"))
        .agg(one(col("__t") === 1).as("total"),
          one(col("__t") === 1 && col("__a") === 1).as("hit")).head()
      val (total, hit) = (p.getLong(0), p.getLong(1))
      CheckRows.frame(s, Seq(
        (key, "recall_ok", recallOk(hit, total, bound)),
        (key, "ranks_bounded", ranksBounded(approx, k))))
    } finally approx.unpersist(false)
  }

  /** rc01 — hyperplane-LSH top-k (sm02 params) recall vs brute force. */
  def lsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val approx = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
      planes = 4, probeBits = 2)
    // measured recall 0.32-0.42 across sf0.001/0.01/0.1
    annChecks(s, "sm02", emb, approx, k = 5, bound = 0.15)
  }

  /** rc02 — IVF top-k (sm03 params) recall vs brute force. */
  def ivf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val approx = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
      nlist = 8, nprobe = 4)
    // measured recall 0.70-0.84 across sf0.001/0.01/0.1
    annChecks(s, "sm03", emb, approx, k = 5, bound = 0.35)
  }

  /** rc03 — PQ+ADC top-k (sm04 params): recall vs brute force, plus the
    * exact-re-rank property (reported cosines must MATCH the brute-force
    * cosine for the same pair — approximation may cost recall, never score
    * accuracy; Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011, the ADC + re-rank design). */
  def pq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < 10)
    val k = 5
    val truth = Similarity.bruteForceTopK(emb, q, k)
    val approx = Similarity.pqTopK(emb, q, k, m = 8, codebookSize = 16, rerank = 50)
    // r21: recall + score-drift came from FOUR counted jobs over two
    // persisted frames; tag-union the pair sets carrying each side's
    // cosine (pairs are DISTINCT per side: row_number top-k), aggregate
    // once — identical booleans (drift = inner-join pairs whose rounded
    // cosines differ > 1e-5, here `both flags set ∧ |max_ce − max_cp| >
    // 1e-5`, the same pairs since max over one row is the value).
    approx.persist()
    try {
      val t = truth.select(col("query_id"), col("neighbor_id"),
        lit(1).as("__t"), lit(0).as("__a"),
        col("cosine").as("__ce"), lit(null).cast("double").as("__cp"))
      val a = approx.select(col("query_id"), col("neighbor_id"),
        lit(0).as("__t"), lit(1).as("__a"),
        lit(null).cast("double").as("__ce"), col("cosine").as("__cp"))
      val p = t.unionByName(a)
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(max(col("__t")).as("__t"), max(col("__a")).as("__a"),
          max(col("__ce")).as("__ce"), max(col("__cp")).as("__cp"))
        .agg(one(col("__t") === 1).as("total"),
          one(col("__t") === 1 && col("__a") === 1).as("hit"),
          one(col("__t") === 1 && col("__a") === 1 &&
            abs(col("__ce") - col("__cp")) > 1e-5).as("drift")).head()
      val (total, hit, scoreDrift) = (p.getLong(0), p.getLong(1), p.getLong(2))
      // measured recall 0.54-0.82 across sf0.001/0.01/0.1
      CheckRows.frame(s, Seq(
        ("sm04", "recall_ok", recallOk(hit, total, 0.3)),
        ("sm04", "rerank_scores_exact", scoreDrift == 0L),
        ("sm04", "ranks_bounded", ranksBounded(approx, k))))
    } finally approx.unpersist(false)
  }

  // ------------------------------------------------------------------
  // near-dup pairs (certify dd03 / dd04 / dd06 against exact all-pairs
  // on a bounded deterministic subset)
  // ------------------------------------------------------------------

  // NULL-ids note (ADVICE r21): the r21 tag-union groupBy rewrites group
  // null-SAFELY, so a pair with a NULL id in both truth and approx would
  // count as a hit where the old left-semi/anti joins dropped NULL keys.
  // Ids here are the fixtures' non-null vec_id/doc_id by construction
  // (parquet columns, required); if a future operator can emit NULL ids,
  // add .filter(col("query_id").isNotNull && col("neighbor_id").isNotNull)
  // before the unions to preserve the join semantics exactly.
  private def pairKey(df: DataFrame): DataFrame =
    df.select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))

  /** rc04 — MinHash+LSH near-dup (dd03 params): recall vs exact Jaccard
    * all-pairs on doc_id < 200, banding completeness at j ≥ 0.9 (16 bands
    * × 4 rows ⇒ miss probability (1−0.9⁴)¹⁶ ≈ 4e-8), and verify-step
    * precision (every emitted pair really has j ≥ threshold). */
  def minhash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
    val t = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val a = t.select(col("doc_id").as("id_a"), col("sh").as("sa"))
    val b = t.select(col("doc_id").as("id_b"), col("sh").as("sb"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("j", Dedup.jaccard(col("sa"), col("sb")))
      .filter(col("j") >= 0.3)
      .select("id_a", "id_b", "j")
    val approx = Dedup.minhashNearDuplicates(docs, k = 3, numHashes = 64,
      bands = 16, threshold = 0.3)
    // r21 (the rc07 treatment): FIVE counted jobs over two persisted frames
    // (recall count+semi, high-sim count+semi, false-positive anti) become
    // ONE tag-union aggregate — both pair sets are DISTINCT by construction
    // (exact: id_a < id_b join over unique doc ids; approx: banding
    // .distinct() before verify), so flag sums equal the join counts.
    val tt = exact.select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"),
      lit(1).as("__t"), lit(0).as("__a"), col("j").as("__j"))
    val aa = pairKey(approx).select(col("query_id"), col("neighbor_id"),
      lit(0).as("__t"), lit(1).as("__a"), lit(null).cast("double").as("__j"))
    val p = tt.unionByName(aa)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("__t")).as("__t"), max(col("__a")).as("__a"),
        max(col("__j")).as("__j"))
      .agg(one(col("__t") === 1).as("total"),
        one(col("__t") === 1 && col("__a") === 1).as("hit"),
        one(col("__t") === 1 && col("__j") >= 0.9).as("hi_total"),
        one(col("__t") === 1 && col("__j") >= 0.9 && col("__a") === 1).as("hi_hit"),
        one(col("__a") === 1 && col("__t") === 0).as("fp")).head()
    val (total, hit) = (p.getLong(0), p.getLong(1))
    // measured recall 1.0 at every sf (truth pairs sit at high jaccard,
    // where 16x4 banding is effectively complete); 0.1 certifies the
    // pipeline wiring survives a dataset regeneration with weaker pairs
    CheckRows.frame(s, Seq(
      ("dd03", "recall_ok", recallOk(hit, total, 0.1)),
      ("dd03", "high_sim_complete", p.getLong(3) == p.getLong(2)),
      ("dd03", "precision_exact", p.getLong(4) == 0L)))
  }

  /** rc05 — SimHash near-dup (dd04 params): recall vs exact all-pairs
    * Hamming on doc_id < 300, PIGEONHOLE completeness at distance ≤ 3
    * (4 × 16-bit chunks: ≤3 flipped bits leave ≥1 chunk exact — recall
    * is exactly 1 by construction), verify-step precision. */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
    val sigs = docs.select(col("doc_id").as("id"), Dedup.simhash(col("text")).as("sig"))
    val a = sigs.select(col("id").as("id_a"), col("sig").as("siga"))
    val b = sigs.select(col("id").as("id_b"), col("sig").as("sigb"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("h", Dedup.hamming(col("siga"), col("sigb")))
      .filter(col("h") <= 6)
      .select("id_a", "id_b", "h")
    val approx = Dedup.simhashNearDuplicates(docs, maxHamming = 6)
    // r21: same ONE-job tag-union shape as rc04 (five counted jobs folded
    // into one aggregate; both pair sets distinct by construction)
    val tt = exact.select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"),
      lit(1).as("__t"), lit(0).as("__a"), col("h").cast("double").as("__h"))
    val aa = pairKey(approx).select(col("query_id"), col("neighbor_id"),
      lit(0).as("__t"), lit(1).as("__a"), lit(null).cast("double").as("__h"))
    val p = tt.unionByName(aa)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("__t")).as("__t"), max(col("__a")).as("__a"),
        max(col("__h")).as("__h"))
      .agg(one(col("__t") === 1).as("total"),
        one(col("__t") === 1 && col("__a") === 1).as("hit"),
        one(col("__t") === 1 && col("__h") <= 3).as("h3_total"),
        one(col("__t") === 1 && col("__h") <= 3 && col("__a") === 1).as("h3_hit"),
        one(col("__a") === 1 && col("__t") === 0).as("fp")).head()
    val (total, hit) = (p.getLong(0), p.getLong(1))
    // measured recall 0.68-0.76 across sf0.001/0.01/0.1
    CheckRows.frame(s, Seq(
      ("dd04", "recall_ok", recallOk(hit, total, 0.3)),
      ("dd04", "h3_pigeonhole_complete", p.getLong(3) == p.getLong(2)),
      ("dd04", "precision_exact", p.getLong(4) == 0L)))
  }

  /** rc06 — banded hyperplane-LSH embedding near-dup (dd06 params): recall
    * vs exact all-pairs cosine on vec_id < 300, verify-step precision.
    * The synthetic embeddings are unclustered (pairs sit at cosine ≈ 0.2,
    * where 8×8-bit banding gives the honest ~8% the band math predicts —
    * see dd06's doc), so the bound certifies the banding math, not a
    * production near-dup recall. */
  def embedding(s: SparkSession, dir: String): DataFrame = {
    // 300-row bounded slice, eagerly materialized once: the exact side and
    // the operator under test otherwise each re-scan the parquet source
    val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 300)
      .localCheckpoint()
    val v = emb.select(col("vec_id").as("id"),
      Similarity.normalized(col("embedding")).as("nv"))
    val a = v.select(col("id").as("id_a"), col("nv").as("va"))
    val b = v.select(col("id").as("id_b"), col("nv").as("vb"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("c", Similarity.dot(col("va"), col("vb")))
      .filter(col("c") >= 0.2)
      .select("id_a", "id_b", "c")
    val approx = Dedup.embeddingNearDuplicates(emb, threshold = 0.2)
    // r21: THREE counted jobs (count, semi, anti) over two persisted frames
    // become ONE tag-union aggregate (pair sets distinct by construction)
    val tt = pairKey(exact).select(col("query_id"), col("neighbor_id"),
      lit(1).as("__t"), lit(0).as("__a"))
    val aa = pairKey(approx).select(col("query_id"), col("neighbor_id"),
      lit(0).as("__t"), lit(1).as("__a"))
    val p = tt.unionByName(aa)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("__t")).as("__t"), max(col("__a")).as("__a"))
      .agg(one(col("__t") === 1).as("total"),
        one(col("__t") === 1 && col("__a") === 1).as("hit"),
        one(col("__a") === 1 && col("__t") === 0).as("fp")).head()
    val (total, hit) = (p.getLong(0), p.getLong(1))
    // measured recall 0.097-0.110 across sf0.001/0.01/0.1 — the ~8-11%
    // the 8-band x 8-bit collision probability predicts at cosine 0.2
    CheckRows.frame(s, Seq(
      ("dd06", "recall_ok", recallOk(hit, total, 0.03)),
      ("dd06", "precision_exact", p.getLong(2) == 0L)))
  }

  /** rc07 — SemDeDup cluster-then-compare semantic dedup (sd01 params):
    * recall vs exact all-pairs cosine on vec_id < 300, verify-step
    * precision (exact cosine is computed inside every cluster, so a false
    * positive is impossible by construction — the check certifies the
    * wiring). Recall for UNCLUSTERED synthetic vectors is the co-cluster
    * probability ≈ Σ_c p_c² (k=4 balanced ⇒ ~25%); real semantic dups sit
    * near their cluster centroid and co-cluster with probability → 1. */
  def semdedup(s: SparkSession, dir: String): DataFrame = {
    // the suite's most expensive query lives here: FOUR consumers (exact
    // side, probe-1 pairs, probe-2 pairs, the real keeper run) each
    // re-scanned the parquet source — checkpoint the 300-row slice once
    val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 300)
      .localCheckpoint()
    val v = emb.select(col("vec_id").as("id"),
      Similarity.normalized(col("embedding")).as("nv"))
    val a = v.select(col("id").as("id_a"), col("nv").as("va"))
    val b = v.select(col("id").as("id_b"), col("nv").as("vb"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("c", Similarity.dot(col("va"), col("vb")))
      .filter(col("c") >= 0.2)
      .select("id_a", "id_b", "c")
    // r22 (VERDICT r21 #4): the probe-1 and probe-2 runs share ONE
    // normalized scan and ONE codebook fit (deterministically identical
    // anyway: same input, same k, same seed) while each still exercises
    // the REAL assignment + within-cluster-compare operator path —
    // semanticDuplicates IS fitCodebook ∘ pairsWithCodebook by
    // construction. Pairs are bit-identical to two full runs.
    val base = SemDedup.normalizedBase(emb, "vec_id", "embedding").persist()
    val (_, centers) = SemDedup.fitCodebook(base, k = 4, seed = 42L,
      quantizerMaxRows = 100000)
    val approx = SemDedup.pairsWithCodebook(base, centers, threshold = 0.2,
      nprobe = 1)
    val approx2 = SemDedup.pairsWithCodebook(base, centers, threshold = 0.2,
      nprobe = 2)
    base.unpersist(false)
    // keeper path — the election operator applied to the persisted probe-2
    // pair table. semanticKeepers IS keepersOfPairs ∘ semanticDuplicates by
    // construction, so the match_viol check below certifies the ELECTION
    // RULE (kept iff never a larger side), not the composition itself;
    // the composition and the nprobe=2 default are pinned by a dedicated
    // spec (Round14Spec "semanticKeepers defaults"), which is what would
    // catch a regressed default. Running semanticKeepers whole here re-ran
    // the normalize + quantize + join pipeline a third time for identical
    // booleans (r12 adjudication: rc07 was the suite max).
    val keep2 = SemDedup.keepersOfPairs(emb, approx2).select(col("vec_id"))
    cached(exact, approx, approx2, keep2) {
      // rc07 was the suite's most expensive query and its cost was JOB
      // COUNT, not bytes: seven separately-counted joins over <=600-row
      // frames. The seven booleans now come from TWO aggregate jobs over
      // flagged universes — identical values by construction.
      //
      // Job 1 — the pair universe: every (id_a, id_b) seen by the exact
      // side (t), probe-1 (a1), probe-2 (a2), with kept-endpoint flags
      // (ka/kb) from the real keeper run. One outer-joined frame yields
      //   total/hit/hit2  — probe-1 and probe-2 recall vs exact,
      //   falsePos       — approx pairs the exact side lacks (a theorem:
      //                    exact cosine is verified inside every cluster),
      //   probeViol      — probe-1 pairs missing from probe-2 (multi-probe
      //                    can only ADD co-resident pairs — a THEOREM),
      //   notCovered     — exact pairs with BOTH endpoints still kept
      //                    (dropped-dup coverage >= probe-2 pair recall).
      // union + groupBy (one shuffle) instead of chained full-outer joins
      // (each a sort-merge stage — full outer can never broadcast); the
      // kept-endpoint flags broadcast (keep2 is corpus-slice-sized)
      val kq = keep2.select(col("vec_id").as("query_id")).withColumn("__ka", lit(1))
      val kn = keep2.select(col("vec_id").as("neighbor_id")).withColumn("__kb", lit(1))
      val tag = (df: DataFrame, t: Int, a1: Int, a2: Int) =>
        pairKey(df).select(col("query_id"), col("neighbor_id"),
          lit(t).as("__t"), lit(a1).as("__a1"), lit(a2).as("__a2"))
      val pairUni = tag(exact, 1, 0, 0)
        .unionByName(tag(approx, 0, 1, 0))
        .unionByName(tag(approx2, 0, 0, 1))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(max(col("__t")).as("__t"), max(col("__a1")).as("__a1"),
          max(col("__a2")).as("__a2"))
        .join(broadcast(kq), Seq("query_id"), "left")
        .join(broadcast(kn), Seq("neighbor_id"), "left")
      val one = (c: Column) => sum(when(c, 1L).otherwise(0L))
      val p = pairUni.agg(
        one(col("__t") === 1).as("total"),
        one(col("__t") === 1 && col("__a1") === 1).as("hit"),
        one(col("__t") === 1 && col("__a2") === 1).as("hit2"),
        one(col("__a1") === 1 && col("__t") === 0).as("fp"),
        one(col("__a1") === 1 && col("__a2") === 0).as("probe_viol"),
        one(col("__t") === 1 && col("__ka").isNotNull &&
          col("__kb").isNotNull).as("not_covered")).head()
      val (total, hit, hit2) = (p.getLong(0), p.getLong(1), p.getLong(2))
      // Job 2 — the id universe: dropped-by-probe-1 (d1), dropped-by-
      // probe-2 (d2), kept-by-the-real-operator (kp). Yields
      //   matchViol  — keeper set != election over the certified probe-2
      //                pairs (kept iff NOT a probe-2 larger side — an
      //                EXACT equality; a changed election rule flips it;
      //                the nprobe default itself is spec-pinned, see the
      //                keeper-path comment above),
      //   subsetViol — a probe-2 keeper the probe-1 election would have
      //                dropped (more probes never KEEP more ids).
      val drop = (pr: DataFrame, nm: String) => pr
        .select(col("neighbor_id").as("vec_id")).distinct().withColumn(nm, lit(1))
      val idUni = emb.select(col("vec_id"))
        .join(broadcast(drop(pairKey(approx), "__d1")), Seq("vec_id"), "left")
        .join(broadcast(drop(pairKey(approx2), "__d2")), Seq("vec_id"), "left")
        .join(broadcast(keep2.withColumn("__kp", lit(1))), Seq("vec_id"), "left")
      val q = idUni.agg(
        one(col("__kp").isNotNull =!= col("__d2").isNull).as("match_viol"),
        one(col("__kp").isNotNull && col("__d1").isNotNull).as("subset_viol"))
        .head()
      if (sys.env.contains("GRAFT_RECALL_DEBUG"))
        System.err.println(f"[recall] rc07 hit=$hit%4d hit2=$hit2%4d total=$total%4d")
      val coverageOk = total == 0 ||
        (total - p.getLong(5)).toDouble / total >= RC07_P2_BOUND
      CheckRows.frame(s, Seq(
        ("sd01", "recall_ok", recallOk(hit, total, RC07_BOUND)),
        ("sd01", "recall_probe2_ok", recallOk(hit2, total, RC07_P2_BOUND)),
        ("sd01", "probe2_superset", p.getLong(4) == 0L),
        ("sd01", "keeper_matches_pairs", q.getLong(0) == 0L),
        ("sd01", "keeper_probe2_subset", q.getLong(1) == 0L),
        ("sd01", "keeper_coverage_ok", coverageOk),
        ("sd01", "precision_exact", p.getLong(3) == 0L)))
    }
  }

  /** rc08 — semantic decontamination (dd13 params): exact contaminated set
    * by brute-force cosine on a bounded corpus×holdout slice vs the REAL
    * operator's dropped set. Precision is a THEOREM (the operator verifies
    * exact cosine before dropping); the partition check (survivors +
    * dropped = corpus, disjoint) certifies the anti-join wiring; recall
    * is the banded-LSH bound calibrated like rc06's. */
  def semdecon(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // bounded slices materialized once across exact side + operator run
    val corpus = emb.filter(col("vec_id") >= 300 && col("vec_id") < 600)
      .localCheckpoint()
    val holdout = emb.filter(col("vec_id") < 50).localCheckpoint()
    val cv = corpus.select(col("vec_id").as("cid"),
      Similarity.normalized(col("embedding")).as("nv"))
    val hv = holdout.select(col("vec_id").as("hid"),
      Similarity.normalized(col("embedding")).as("hw"))
    val exact = cv.crossJoin(hv)
      .withColumn("c", Similarity.dot(col("nv"), col("hw")))
      .filter(col("c") >= 0.2)
      .select(col("cid")).distinct()
    val survivors = Dedup.semanticDecontaminate(corpus, holdout,
      threshold = 0.2).select(col("vec_id"))
    val dropped = corpus.select(col("vec_id"))
      .join(survivors, Seq("vec_id"), "left_anti")
    // r21 (the rc07 treatment): SEVEN counted jobs over three persisted
    // frames become a priming count (materializes the cached operator
    // output, which the id-universe reads twice: as survivor rows and
    // inside dropped's anti-join) plus ONE tag-union aggregate over the
    // id universe. Per-row sums preserve the original counts exactly —
    // including duplicate-row counting, so the partition check certifies
    // the same anti-join wiring it did as separate counts.
    survivors.persist()
    try {
      val nSurv = survivors.count()
      val tagged = corpus.select(col("vec_id"),
          lit(1L).as("__c"), lit(0L).as("__s"), lit(0L).as("__d"), lit(0).as("__e"))
        .unionByName(survivors.select(col("vec_id"),
          lit(0L).as("__c"), lit(1L).as("__s"), lit(0L).as("__d"), lit(0).as("__e")))
        .unionByName(dropped.select(col("vec_id"),
          lit(0L).as("__c"), lit(0L).as("__s"), lit(1L).as("__d"), lit(0).as("__e")))
        .unionByName(exact.select(col("cid").as("vec_id"),
          lit(0L).as("__c"), lit(0L).as("__s"), lit(0L).as("__d"), lit(1).as("__e")))
      val p = tagged.groupBy(col("vec_id"))
        .agg(sum(col("__c")).as("__c"), sum(col("__s")).as("__s"),
          sum(col("__d")).as("__d"), max(col("__e")).as("__e"))
        .agg(coalesce(sum(col("__c")), lit(0L)).as("n_corpus"),
          coalesce(sum(col("__d")), lit(0L)).as("n_drop"),
          one(col("__s") > 0 && col("__d") > 0).as("overlap"),
          coalesce(sum(when(col("__e") === 0, col("__d")).otherwise(0L)), lit(0L))
            .as("false_drops"),
          one(col("__e") === 1).as("total"),
          one(col("__e") === 1 && col("__d") > 0).as("hit")).head()
      val nCorpus = p.getLong(0)
      val partitionOk = nSurv + p.getLong(1) == nCorpus && p.getLong(2) == 0L
      val (total, hit) = (p.getLong(4), p.getLong(5))
      if (sys.env.contains("GRAFT_RECALL_DEBUG"))
        System.err.println(f"[recall] rc08 hit=$hit%4d total=$total%4d  r=${
          if (total == 0) 1.0 else hit.toDouble / total}%.3f")
      CheckRows.frame(s, Seq(
        ("dd13", "recall_ok", recallOk(hit, total, RC08_BOUND)),
        ("dd13", "precision_exact", p.getLong(3) == 0L),
        ("dd13", "partition_exact", partitionOk)))
    } finally survivors.unpersist(false)
  }

  // CONTAMINATED-ID recall (any one witness bucket-collides -> the id
  // drops) sits above rc06's pair recall at the same banding because one
  // id has many witnesses; measured 0.186/0.206/0.262 at
  // sf0.01/0.001/0.1 on the UNCLUSTERED synthetic vectors (cosine ~0.2,
  // where the band math predicts ~10-25%; a real leaked benchmark sits
  // near cosine 1 where banding recall -> 1). Bound with >2x margin.
  private val RC08_BOUND = 0.08

  // measured co-cluster recall 0.393/0.436/0.424 at sf0.001/0.01/0.1
  // (k=4 balanced predicts ~0.25+); bound set with ~5x
  // margin below the observed minimum
  private val RC07_BOUND = 0.08
  // nprobe=2 measured 0.928/0.926/0.941 at sf0.001/0.01/0.1 — boundary
  // pairs become co-resident once each vector sits in its 2 nearest of 4
  // cells; bound with >2x margin below the observed minimum
  private val RC07_P2_BOUND = 0.4

  /** rc09 — greedy k-center certification on PLANTED clusters (the smp10
    * operator): three tight clusters at mutually-distant centers; k = 3
    * must pick one exemplar per cluster (greedy cannot pick two points
    * of the same tight cluster while another cluster is uncovered),
    * radii are non-increasing (a THEOREM of farthest-first), the first
    * pick is the minimum id (the determinism contract), and the realized
    * coverage radius (max over the corpus of min distance to a center)
    * is below the planted intra-cluster diameter bound. */
  def kcenter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val cs = Seq(Array(4.0, 0.0, 0.0), Array(0.0, 4.0, 0.0), Array(0.0, 0.0, 4.0))
    val pts = (0 until 120).map { i =>
      val c = cs(i % 3)
      (i.toLong, c.map(x => (x + rnd.nextDouble() * 0.2 - 0.1).toFloat))
    }
    val df = pts.toDF("vec_id", "embedding")
    val sel = Embeddings.kCenterSample(df, 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val clustersHit = sel.map(_._2 % 3).distinct.length == 3
    // rank-1's radius is undefined (NaN — no previous centers); the
    // farthest-first theorem bounds ranks 2..k
    val radiiMono = sel.drop(1).sliding(2).filter(_.length == 2)
      .forall(w => w(1)._3 <= w(0)._3 + 1e-12)
    val firstMinId = sel.head._2 == 0L
    // coverage: every point within the intra-cluster diameter of a center
    val centers = sel.map(t => pts(t._2.toInt)._2.map(_.toDouble))
    val coverage = math.sqrt(pts.map { case (_, v) =>
      centers.map(c => c.zip(v.map(_.toDouble)).map { case (a, b) =>
        (a - b) * (a - b) }.sum).min
    }.max)
    // planted cluster diameter <= sqrt(3 * 0.2^2) ~ 0.35
    val coverageOk = coverage < 0.4
    CheckRows.frame(s, Seq(
      ("smp10", "one_center_per_cluster", clustersHit),
      ("smp10", "radii_nonincreasing", radiiMono),
      ("smp10", "first_pick_is_min_id", firstMinId),
      ("smp10", "coverage_below_cluster_diameter", coverageOk)))
  }

  /** Canonical check names per query — oracle VALUES lists come from these. */
  private[graft] val checkNames: Map[String, Seq[(String, String)]] = Map(
    "lsh" -> Seq("sm02" -> "recall_ok", "sm02" -> "ranks_bounded"),
    "ivf" -> Seq("sm03" -> "recall_ok", "sm03" -> "ranks_bounded"),
    "pq" -> Seq("sm04" -> "recall_ok", "sm04" -> "rerank_scores_exact",
      "sm04" -> "ranks_bounded"),
    "minhash" -> Seq("dd03" -> "recall_ok", "dd03" -> "high_sim_complete",
      "dd03" -> "precision_exact"),
    "simhash" -> Seq("dd04" -> "recall_ok", "dd04" -> "h3_pigeonhole_complete",
      "dd04" -> "precision_exact"),
    "embedding" -> Seq("dd06" -> "recall_ok", "dd06" -> "precision_exact"),
    "semdedup" -> Seq("sd01" -> "recall_ok", "sd01" -> "recall_probe2_ok",
      "sd01" -> "probe2_superset", "sd01" -> "keeper_matches_pairs",
      "sd01" -> "keeper_probe2_subset", "sd01" -> "keeper_coverage_ok",
      "sd01" -> "precision_exact"),
    "semdecon" -> Seq("dd13" -> "recall_ok", "dd13" -> "precision_exact",
      "dd13" -> "partition_exact"),
    "kcenter" -> Seq("smp10" -> "one_center_per_cluster",
      "smp10" -> "radii_nonincreasing", "smp10" -> "first_pick_is_min_id",
      "smp10" -> "coverage_below_cluster_diameter"))

  /** Constant-SELECT DuckDB oracle: every (key, check) pair expected true. */
  private[graft] def oracleFor(group: String): String = CheckRows.oracle(checkNames(group))
}
