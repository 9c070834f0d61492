package graft
package driver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared.pairDigest

/** Dedup driver queries ([[graft.text.Dedup]], [[graft.graph]]): exact,
  * n-gram, minhash, simhash and embedding near-duplicates, their pair-set
  * digests, decontamination, duplicate spans and chunks, incremental dedup,
  * and the connected-component cluster decisions (cc01, dd20, smp12). */
object DedupQueries {

  /** The pair source of cc01, dd20 and smp12: (id_a < id_b) with
    * distinct-token Jaccard >= 0.5 over the first 200 documents, which the
    * DuckDB oracles replay in SQL. Returns the token table and the pairs.
    * The cheap id order is tested before the Jaccard, and the streamed side
    * of the nested-loop join is spread over the cores (the slice arrives in
    * one scan partition). */
  private def jaccardSlicePairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val toks = Tables.documents(s, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val a = toks.select(col("doc_id").as("id_a"), col("toks").as("ta"))
      .repartition(s.sparkContext.defaultParallelism)
    val b = toks.select(col("doc_id").as("id_b"), col("toks").as("tb"))
    val pairs = a.join(b, col("id_a") < col("id_b") &&
        try_divide(size(array_intersect(col("ta"), col("tb"))).cast("double"),
          size(array_union(col("ta"), col("tb"))).cast("double")) >= 0.5)
      .select("id_a", "id_b")
    (toks, pairs)
  }

  val queries: Seq[Query] = Seq(
    Query("cc01_dup_clusters", (s, dir) => {
      // pairs → connected components → canonical election: the step that
      // turns LSH pair output into an actual dedup decision. The pair
      // generator here is the SQL-expressible jaccard slice so the whole
      // chain (including the iterative CC) is hash-checked vs a recursive
      // CTE; production input would be minhashNearDuplicates pairs.
      val (toks, pairs) = jaccardSlicePairs(s, dir)
      graft.text.Dedup.dupClusters(toks.select("doc_id"), pairs)
    }).oracle(
      // the iterative Spark connected-components is checked against a
      // recursive-CTE reachability closure: r = min id reachable from each doc
      """WITH RECURSIVE t AS (
           SELECT doc_id, list_distinct(string_split(text,' ')) AS toks
           FROM documents WHERE doc_id < 200),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM t a, t b WHERE a.doc_id < b.doc_id
             AND len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE
                 / len(list_distinct(a.toks || b.toks)) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM t
           UNION
           SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src)
         SELECT id AS doc_id, min(r) AS cluster_id,
           (id = min(r)) AS is_canonical
         FROM reach GROUP BY id"""),
    Query("dd01_dedup_exact", (s, dir) => {
      Tables.documents(s, dir)
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
        .select(md5(col("text").cast("binary")).as("text_hash"), col("keep_id"), col("dup_count"))
    }).oracle(
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY text"""),
    Query("dd02_dedup_canonical", (s, dir) =>
      graft.text.Dedup.exact(Tables.documents(s, dir), canonical = true)).oracle(
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),'[^a-z0-9 ]',' ','g'),' +',' ','g'))) AS fingerprint,
         min(doc_id) AS keep_id, count(*) AS dup_count
         FROM documents GROUP BY 1"""),
    Query("dd03_minhash_neardup", (s, dir) =>
      graft.text.Dedup.minhashNearDuplicates(Tables.documents(s, dir),
        k = 3, numHashes = 64, bands = 16, threshold = 0.3)),
    Query("dd04_simhash_neardup", (s, dir) =>
      graft.text.Dedup.simhashNearDuplicates(Tables.documents(s, dir), maxHamming = 6)),
    Query("dd05_ngram_jaccard", (s, dir) => {
      val t = Tables.documents(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      val a = t.select(col("doc_id").as("id_a"), col("toks").as("ta"))
      val b = t.select(col("doc_id").as("id_b"), col("toks").as("tb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("jaccard",
          try_divide(size(array_intersect(col("ta"), col("tb"))).cast("double"),
            size(array_union(col("ta"), col("tb"))).cast("double")))
        .filter(col("jaccard") >= 0.65)
        // unrounded: int/int division is bit-exact in both engines, and
        // round-half ties on dyadic ratios differ (HALF_UP vs half-even)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }).oracle(
      """WITH t AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS toks
                    FROM documents WHERE doc_id < 60),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE
               / len(list_distinct(a.toks || b.toks)) AS j
           FROM t a, t b WHERE a.doc_id < b.doc_id)
         SELECT id_a, id_b, j AS jaccard FROM pairs WHERE j >= 0.65"""),
    Query("dd06_embedding_neardup", (s, dir) =>
      // synthetic embeddings are unclustered (max cosine ~0.3), so the
      // "near-dup" threshold is set low to exercise the banded-LSH pipeline
      // end-to-end with the library defaults; 8-bit bands bound candidates
      // at n²/(b·2^r) per band, and recall at this low threshold is the
      // honest ~8% the band math gives (real near-dups at 0.95+ recall ~99%)
      graft.text.Dedup.embeddingNearDuplicates(Tables.embeddings(s, dir),
        threshold = 0.2)),
    Query("dd07_dup_stats", (s, dir) =>
      // corpus-level dedup metrics per source: integer-sum ratios are
      // bit-exact vs the oracle, so compared unrounded
      Tables.documents(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_distinct"),
          try_divide(sum(col("n_chars")).cast("double"),
            count(lit(1)).cast("double")).as("avg_chars"))
        .withColumn("dup_rate", lit(1.0) -
          try_divide(col("n_distinct").cast("double"), col("n_docs").cast("double")))).oracle(
      """SELECT source, count(*) AS n_docs,
         count(DISTINCT text) AS n_distinct,
         sum(n_chars)::DOUBLE / count(*) AS avg_chars,
         1.0 - count(DISTINCT text)::DOUBLE / count(*) AS dup_rate
         FROM documents GROUP BY source"""),
    Query("dd08_decontaminate", (s, dir) => {
      // test-set decontamination: train docs sharing any 3-shingle with the
      // deterministic holdout slice (doc_id % 50 == 0)
      val docs = Tables.documents(s, dir)
      graft.text.Dedup.decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), k = 3)
    }).oracle(
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(greatest(len(t)-2,0)),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS sh FROM toks),
         hold AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
         tr AS (SELECT * FROM sh WHERE doc_id % 50 <> 0)
         SELECT tr.doc_id, count(DISTINCT tr.sh) AS n_contaminated_shingles
         FROM tr JOIN hold USING (sh) GROUP BY tr.doc_id"""),
    Query("dd09_dup_spans", (s, dir) =>
      // C4-style cross-document repeated spans: ratio of a doc's 5-gram
      // spans that appear in at least one other document
      graft.text.Dedup.duplicateSpans(Tables.documents(s, dir), k = 5)).oracle(
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(greatest(len(t)-4,0)),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
                       t[i+4] || ' ' || t[i+5]))) AS sh FROM toks),
         dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
         SELECT s.doc_id, count(*) AS n_spans,
           count(*) FILTER (WHERE d.df > 1) AS n_dup_spans,
           count(*) FILTER (WHERE d.df > 1)::DOUBLE / count(*) AS dup_span_ratio
         FROM sh s JOIN dfreq d USING (sh)
         GROUP BY s.doc_id"""),
    Query("dd10_shingle_commonality", (s, dir) =>
      // per-doc fraction of distinct 3-shingles shared with any other doc:
      // a continuous near-duplication risk score; int-ratio, unrounded
      graft.text.TextFunctions.shingleCommonality(Tables.documents(s, dir), k = 3)).oracle(
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(greatest(len(t)-2,0)),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS sh FROM toks),
         df AS (SELECT sh, count(*) AS ndocs FROM sh GROUP BY sh)
         SELECT doc_id, count(*) AS n_shingles,
           sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
           sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) AS shared_ratio
         FROM sh JOIN df USING (sh) GROUP BY doc_id"""),
    Query("dd11_chunk_dedup", (s, dir) =>
      // C4-style corpus chunk dedup: 20-token chunks, keep first occurrence
      graft.text.Dedup.dedupChunks(Tables.documents(s, dir), 20)
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          md5(col("kept_text").cast("binary")).as("kept_md5"))).oracle(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         ch AS (SELECT doc_id, i AS chunk_pos,
             array_to_string(list_slice(toks, i*20 + 1, i*20 + 20), ' ') AS chunk
           FROM t, UNNEST(range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT)))
             AS u(i)),
         k AS (SELECT doc_id, chunk_pos, chunk,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, chunk_pos) AS rn
           FROM ch)
         SELECT doc_id, count(*) AS n_chunks,
           sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
             ORDER BY chunk_pos), '')) AS kept_md5
         FROM k GROUP BY doc_id"""),
    Query("dd12_winnow_duplication", (s, dir) =>
      // substring-level dup signal: per-doc share of winnowing fingerprints
      // seen in other docs; fingerprint-keyed doc-freq join, never doc x doc
      // (single-byte gate: see tx22)
      graft.text.TextFunctions.winnowingDuplication(
        Tables.documents(s, dir).filter(col("text").isNotNull &&
          octet_length(col("text")) === length(col("text"))),
        k = 5, w = 4)).oracle(
      // same cap-free, byte-gated winnowing formulation as tx22 (see the
      // comment there), followed by the fingerprint doc-frequency rollup
      """WITH pos AS (
           SELECT d.doc_id, d.text,
             unnest(range(0, greatest(length(d.text) - 4, 0))) AS i
           FROM documents d
           WHERE d.text IS NOT NULL AND strlen(d.text) = length(d.text)
         ), hs AS (
           SELECT doc_id, i,
             (ord(text[i+1:i+1]) * 4362470401
              + ord(text[i+2:i+2]) * 16974593
              + ord(text[i+3:i+3]) * 66049
              + ord(text[i+4:i+4]) * 257
              + ord(text[i+5:i+5])) % 1000000007 AS h
           FROM pos
         ), wins AS (
           SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint,
             count(*) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
           FROM hs
         ), fps AS (
           SELECT DISTINCT doc_id, fingerprint FROM wins WHERE cnt = 4
         ), dfreq AS (
           SELECT fingerprint, count(*) AS df FROM fps GROUP BY fingerprint
         )
         SELECT f.doc_id,
           count(*)::BIGINT AS n_fingerprints,
           sum(CASE WHEN q.df > 1 THEN 1 ELSE 0 END)::BIGINT
             AS n_dup_fingerprints,
           sum(CASE WHEN q.df > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)
             AS dup_fp_ratio
         FROM fps f JOIN dfreq q USING (fingerprint)
         GROUP BY f.doc_id"""),
    Query("dd13_semantic_decontaminate", (s, dir) =>
      // semantic decontamination: corpus survivors after dropping rows
      // whose exact cosine to any holdout (vec_id < 50) vector >= 0.2;
      // banded hyperplane LSH corpus x holdout candidates, exact verify.
      // rc08 certifies precision (theorem), recall, and the partition
      graft.text.Dedup.semanticDecontaminate(
        Tables.embeddings(s, dir).filter(col("vec_id") >= 50),
        Tables.embeddings(s, dir).filter(col("vec_id") < 50),
        threshold = 0.2)
        .select(col("vec_id"), col("label"))),
    Query("dd14_contamination_score", (s, dir) => {
      // scored contamination report: per train doc, distinct 3-shingles,
      // holdout hits, overlap fraction (dd08's boolean as a triage score;
      // 0-overlap docs included — one left-join corpus pass)
      val docs = Tables.documents(s, dir)
      graft.text.Dedup.contaminationScore(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), k = 3)
    }).oracle(
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(greatest(len(t)-2,0)),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS sh FROM toks),
         hold AS (SELECT DISTINCT sh, 1 AS hit FROM sh WHERE doc_id % 50 = 0),
         tr AS (SELECT * FROM sh WHERE doc_id % 50 <> 0)
         SELECT tr.doc_id, count(*)::BIGINT AS n_shingles,
           CAST(sum(coalesce(hold.hit, 0)) AS BIGINT) AS n_contaminated,
           round(sum(coalesce(hold.hit, 0))::DOUBLE / count(*), 6)
             AS contamination_frac
         FROM tr LEFT JOIN hold USING (sh) GROUP BY tr.doc_id"""),
    // dd15-dd17: pair-set digests of the seeded-LSH dedup queries.
    // dd03/dd04/dd06 are deterministic but not SQL-expressible, so the
    // driver could only count their rows; these twins reduce each pair set
    // to (md5-of-sorted-lines, n_pairs) against a constant-SELECT oracle
    // frozen from the same sf0.01 goldens GoldenSpec pins — one drifted
    // pair flips the hash, making the dd surfaces driver-hash-checked.
    // Line format matches GoldenSpec ("%d,%d,%.6f" / "%d,%d,%d"): Java
    // HALF_UP at 6 dp, lexicographic sort (pure-ASCII lines, so UTF-8
    // byte order and Java string order agree).
    Query("dd15_minhash_digest", (s, dir) =>
      pairDigest(graft.text.Dedup.minhashNearDuplicates(Tables.documents(s, dir),
        k = 3, numHashes = 64, bands = 16, threshold = 0.3),
        format_string("%d,%d,%.6f", col("id_a"), col("id_b"), col("jaccard")))).oracle(
      // frozen sf0.01 pair-set digests — same source of truth as the
      // GoldenSpec CSVs (one drifted pair flips the md5)
      """SELECT '061391de941a2b856605ede9e519ee3b' AS digest, 25::BIGINT AS n_pairs"""),
    Query("dd16_simhash_digest", (s, dir) =>
      pairDigest(graft.text.Dedup.simhashNearDuplicates(Tables.documents(s, dir),
        maxHamming = 6),
        format_string("%d,%d,%d", col("id_a"), col("id_b"), col("hamming")))).oracle(
      """SELECT 'd644f69edef1f1bcc102ec0c25d9f725' AS digest, 143::BIGINT AS n_pairs"""),
    Query("dd17_embedding_digest", (s, dir) =>
      pairDigest(graft.text.Dedup.embeddingNearDuplicates(Tables.embeddings(s, dir),
        threshold = 0.2),
        format_string("%d,%d,%.6f", col("id_a"), col("id_b"), col("cosine")))).oracle(
      """SELECT '93e6d9fd1e207ec096ab58a7a9010c0f' AS digest, 695::BIGINT AS n_pairs"""),
    // digest twins for the remaining deterministic rows-only surfaces
    // (same contract as dd15-dd17: frozen sf0.01 constants, one drifted
    // row flips the md5)
    Query("dd18_semdedup_digest", (s, dir) =>
      pairDigest(graft.sim.SemDedup.semanticDuplicates(Tables.embeddings(s, dir),
        k = 8, threshold = 0.2),
        format_string("%d,%d,%d,%.6f", col("cluster"), col("id_a"),
          col("id_b"), col("cosine")))).oracle(
      // sm06-sm08 independently cross-validated against the GoldenSpec CSVs
      // (identical md5 over the same sorted line format)
      """SELECT '07c3a75f8d1738b0b8c5bec5eb3f8a16' AS digest, 1917::BIGINT AS n_pairs"""),
    Query("dd19_semdecon_digest", (s, dir) =>
      pairDigest(graft.text.Dedup.semanticDecontaminate(
        Tables.embeddings(s, dir).filter(col("vec_id") >= 50),
        Tables.embeddings(s, dir).filter(col("vec_id") < 50),
        threshold = 0.2).select(col("vec_id"), col("label")),
        format_string("%d,%d", col("vec_id"), col("label")))).oracle(
      """SELECT '9b134665e15d0235a1baecb6bf188656' AS digest, 352::BIGINT AS n_pairs"""),
    // Cluster-level dedup decisions (the two steps a production pipeline
    // runs AFTER cc01's clustering): quality-aware canonical election
    // (dd20) and leakage-free split assignment (smp12). Pair source is the
    // same SQL-expressible jaccard slice as cc01 so the full chain —
    // iterative CC plus the election/split — is hash-checked against a
    // recursive-CTE oracle; production input would be LSH pairs.
    Query("dd20_cluster_prune", (s, dir) => {
      val (toks, pairs) = jaccardSlicePairs(s, dir)
      // quality = distinct-token count: an integer signal, so the argmax
      // is trivially cross-engine-exact; swap in qualityScore in production
      graft.text.Dedup.clusterRepresentatives(
        toks.select(col("doc_id"), col("toks")), pairs,
        size(col("toks")).cast("long"))
    }).oracle(
      """WITH RECURSIVE t AS (
           SELECT doc_id, list_distinct(string_split(text,' ')) AS toks
           FROM documents WHERE doc_id < 200),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM t a, t b WHERE a.doc_id < b.doc_id
             AND len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE
                 / len(list_distinct(a.toks || b.toks)) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM t
           UNION
           SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src),
         cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         q AS (SELECT doc_id, len(toks)::BIGINT AS quality FROM t)
         SELECT c.doc_id, c.cluster_id, q.quality,
           (row_number() OVER (PARTITION BY c.cluster_id
              ORDER BY q.quality DESC, c.doc_id ASC) = 1) AS keep
         FROM cc c JOIN q USING (doc_id)"""),
    Query("dd21_remove_dup_spans", (s, dir) =>
      // Dolma/RefinedWeb boilerplate removal: drop every word covered by a
      // 5-gram that appears in >= 2 distinct docs, emit the cleaned text.
      // text coalesced to '' on both sides (tx26 precedent): a null text
      // would emit n_words=-1 here vs NULL in the oracle's left join
      graft.text.Dedup.removeDuplicatedSpans(Tables.documents(s, dir)
        .withColumn("text", coalesce(col("text"), lit(""))), k = 5)).oracle(
      // positional 5-gram coverage removal; the O(tokens x starts) lambda scan
      // here is oracle-only — the Spark side merges sorted starts in one pass
      """WITH toks AS (SELECT doc_id, string_split(coalesce(text,''),' ') AS t
                       FROM documents),
         sp AS (SELECT doc_id, i AS s,
                  t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]||' '||t[i+5] AS sh
                FROM toks, unnest(range(greatest(len(t)-4,0))) AS u(i)),
         dup AS (SELECT sh FROM sp GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
         cov AS (SELECT doc_id, list(DISTINCT s) AS starts
                 FROM sp JOIN dup USING (sh) GROUP BY doc_id),
         j AS (SELECT toks.doc_id, t, coalesce(starts, []) AS starts
               FROM toks LEFT JOIN cov USING (doc_id)),
         k AS (SELECT doc_id, t, list_filter(t, (x, i) ->
                 len(list_filter(starts, s -> s+1 <= i AND i <= s+5)) = 0) AS kept
               FROM j)
         SELECT doc_id,
           coalesce(array_to_string(kept, ' '), '') AS clean_text,
           len(t)::BIGINT AS n_words, len(kept)::BIGINT AS n_kept
         FROM k"""),
    Query("dd22_incremental_exact", (s, dir) => {
      // daily-ingest exact dedup: docs < 250 are the persisted index, the
      // rest arrive as a batch flagged against index + earlier-in-batch
      val docs = Tables.documents(s, dir)
      val index = graft.text.Dedup.exactIndex(docs.filter(col("doc_id") < 250))
      graft.text.Dedup.exactIncremental(docs.filter(col("doc_id") >= 250), index)
    }).oracle(
      """WITH idx AS (SELECT md5(coalesce(text,'')) AS fp, min(doc_id) AS keep_id
                      FROM documents WHERE doc_id < 250 GROUP BY 1),
         b AS (SELECT doc_id, md5(coalesce(text,'')) AS fp
               FROM documents WHERE doc_id >= 250),
         bm AS (SELECT fp, min(doc_id) AS batch_min FROM b GROUP BY 1)
         SELECT b.doc_id, b.fp,
           (i.keep_id IS NOT NULL OR bm.batch_min < b.doc_id) AS is_dup,
           CASE WHEN i.keep_id IS NOT NULL THEN i.keep_id
                WHEN bm.batch_min < b.doc_id THEN bm.batch_min END AS dup_of
         FROM b LEFT JOIN idx i USING (fp) JOIN bm USING (fp)"""),
    // incremental-minhash digest twin: the pair set of the incremental
    // pipeline on the 250-split MUST equal the committed dd03 golden
    // restricted to pairs touching the batch (equivalence is structural —
    // same seeded signatures/banding/verify; IncrementalDedupSpec asserts
    // it on a synthetic corpus). The frozen constant below is therefore
    // DERIVED from src/test/resources/goldens/dd03_minhash_neardup.csv
    // (21 of 25 pairs touch id >= 250), not self-frozen from a run.
    Query("dd23_incremental_minhash_digest", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val index = graft.text.Dedup.minhashIndex(docs.filter(col("doc_id") < 250))
      pairDigest(graft.text.Dedup.incrementalMinhashNearDuplicates(
        docs.filter(col("doc_id") >= 250), index,
        k = 3, numHashes = 64, bands = 16, threshold = 0.3),
        // normalize (min,max) so lines byte-match the dd03 golden's
        format_string("%d,%d,%.6f", least(col("id_a"), col("id_b")),
          greatest(col("id_a"), col("id_b")), col("jaccard")))
    }).oracle(
      // derived from the committed dd03 golden CSV (pairs touching id >= 250),
      // not frozen from a run — see the queries-side comment and the manifest
      """SELECT '3746a3a73b0c7f551a5c15eac7a3ab5c' AS digest, 21::BIGINT AS n_pairs"""),
    Query("smp12_leakage_free_split", (s, dir) => {
      val (toks, pairs) = jaccardSlicePairs(s, dir)
      // modulo splitter so DuckDB can replay the assignment; the certified
      // property (cluster-atomic splits) holds for any splitter
      graft.text.Dedup.leakageFreeSplit(toks.select("doc_id"), pairs, nSplits = 10,
        splitOf = Some(c => pmod(c, lit(10))))
    }).oracle(
      """WITH RECURSIVE t AS (
           SELECT doc_id, list_distinct(string_split(text,' ')) AS toks
           FROM documents WHERE doc_id < 200),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM t a, t b WHERE a.doc_id < b.doc_id
             AND len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE
                 / len(list_distinct(a.toks || b.toks)) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION ALL SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM t
           UNION
           SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.id = e.src)
         SELECT id AS doc_id, min(r) AS cluster_id,
           (min(r) % 10)::INT AS split
         FROM reach GROUP BY id""")
  )
}
