package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

/**
 * Deduplication operators for training-data pipelines: exact, MinHash+LSH,
 * SimHash, n-gram Jaccard verification, embedding-cosine near-dup.
 *
 * Scale design: signatures are computed as a narrow map (one pass over the
 * scan, per-doc local work); candidate generation shuffles once on
 * (band, bucket-hash); verification joins only candidate pairs — never the
 * full n² cross product. Bucket-join + verify is the standard MinHash-LSH
 * layout and survives a 1000-executor scale-up because every stage is keyed.
 */
object Dedup {

  /** Spread a small input across the cores WITHOUT shuffling a big one: a
    * single local file arrives as one scan partition, which would serialize
    * the per-doc signature hashing onto one core — but an unconditional
    * `repartition(parallelism)` is a full shuffle of the corpus at 100 TB.
    * Only repartition when the scan has fewer partitions than cores. */
  private def spread(df: DataFrame): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < parallelism) df.repartition(parallelism) else df
  }

  // ---------------------------------------------------------------- exact

  /** Exact dedup on a canonical form: keep the smallest id per group. */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      canonical: Boolean = false): DataFrame = {
    val keyExpr = if (canonical) TextFunctions.canonicalFingerprint(col(textCol))
    else md5(col(textCol).cast("binary"))
    df.withColumn("__fp", keyExpr)
      .groupBy("__fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .withColumnRenamed("__fp", "fingerprint")
  }

  // ---------------------------------------------------------------- shingles & minhash

  /** Word k-shingles of a text (distinct, first-occurrence order) — native
    * [[WordShingles]] expression: one pass, no HOF interpretation. */
  def shingles(text: Column, k: Int): Column = WordShingles.ofColumn(text, k)

  /** MinHash signature of a shingle array: numHashes permutation minima.
    * Deterministic multiply-add-mask family (odd multipliers over a murmur
    * base hash — modulo-free: the signature stage only needs a uniform hash
    * family, exactness comes from the Jaccard verification stage), computed
    * per-row in a UDF (per-doc local work, no shuffle). */
  def minhashSignature(shingleCol: Column, numHashes: Int, seed: Int = 42): Column = {
    val rng = new java.util.Random(seed)
    val as = Array.fill(numHashes)(rng.nextLong() | 1L) // odd multipliers
    val bs = Array.fill(numHashes)(rng.nextLong())
    val f = udf { (sh: Seq[String]) =>
      val sig = Array.fill(numHashes)(Long.MaxValue)
      sh.foreach { s =>
        val base = (MurmurHash3.stringHash(s).toLong & 0xffffffffL)
        var i = 0
        while (i < numHashes) {
          val h = (as(i) * base + bs(i)) & Long.MaxValue
          if (h < sig(i)) sig(i) = h
          i += 1
        }
      }
      sig
    }
    f(shingleCol)
  }

  /**
   * MinHash signature straight from the text: shingle hashes are combined
   * from per-token murmur hashes, so no shingle strings are ever
   * materialized (profiled: shingle-string construction dominated the whole
   * pipeline). Duplicate shingles re-minimize harmlessly — minhash over a
   * multiset equals minhash over the set.
   */
  def minhashSignatureFromText(textCol: Column, k: Int, numHashes: Int,
      seed: Int = 42): Column =
    // r22: native codegen'd expression — the scalar UDF boxed the 64-long
    // signature per document and paid the udf adapter per row; same
    // tokenization, murmur token hashes, shingle fold and hash family from
    // the same seeded stream, so signatures are bit-identical (spec-pinned)
    MinhashSignatureFromText.ofColumn(textCol, k, numHashes, seed)

  /** Exact Jaccard similarity of two distinct-element arrays; null (not an
    * ANSI throw) when both are empty. */
  def jaccard(a: Column, b: Column): Column =
    try_divide(size(array_intersect(a, b)).cast("double"),
      size(array_union(a, b)).cast("double"))

  /**
   * Full MinHash near-dup pipeline: shingle → sign → band → candidates →
   * verify with exact Jaccard ≥ threshold. `bands` must lie in
   * [1, numHashes]; each band hashes numHashes / bands signature values and
   * the trailing numHashes % bands are unused.
   */
  def minhashNearDuplicates(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    // signatures come straight from token hashes (no shingle strings) over
    // the whole corpus; real shingle arrays are only materialized for the
    // candidate docs during exact-Jaccard verification.
    val base = spread(df).select(col(idCol).as("id"), col(textCol).as("__text"))
    val withSig = base.withColumn("sig",
      minhashSignatureFromText(col("__text"), k, numHashes))
    val cands = Lsh.minhashCandidates(withSig, "id", "sig", numHashes, bands)
    val candIds = cands.select(col("id_a").as("id"))
      .union(cands.select(col("id_b").as("id"))).distinct()
    // no broadcast hint: the candidate-id set is bounded only by the corpus'
    // near-dup rate (30-50% on web crawls), so forcing a broadcast is a
    // driver-OOM at 100 TB. Left-semi on id — AQE picks broadcast iff it fits.
    // Verification runs on SORTED 64-bit shingle hashes, not shingle
    // strings: in a dup-dense corpus the verify join's shuffle payload
    // (two full shingle arrays per candidate pair) dominates, and hashes
    // cut it ~8x while the Jaccard becomes a linear merge (r17; measured
    // 100x numbers in SCALE.md). Values are identical modulo 64-bit
    // collisions (~1e-14 per doc).
    val candSh = base.join(candIds, Seq("id"), "left_semi")
      .select(col("id"), HashedWordShingles.ofColumn(col("__text"), k).as("sh"))
    cands
      .join(candSh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(candSh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", JaccardSortedLongs.ofColumns(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold && size(col("sh_a")) > 0 && size(col("sh_b")) > 0)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ------------------------------------------------- incremental dedup

  /**
   * Persisted near-dup index for a corpus: one row per document carrying its
   * minhash signature (banding-ready) and its SORTED 64-bit shingle hashes
   * (exact-verify-ready). Write this as parquet once; every later crawl
   * batch then dedups against it via [[incrementalMinhashNearDuplicates]]
   * WITHOUT re-reading or re-signing any corpus text — the daily-ingest
   * pattern at 100 TB, where re-running the full pipeline on corpus+batch
   * would re-pay the whole corpus-side shuffle per batch. Storage cost is
   * ~8 bytes per shingle plus 8 per hash; the payback is that verification
   * never touches corpus text again.
   */
  def minhashIndex(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 3, numHashes: Int = 64): DataFrame =
    spread(df).select(col(idCol).as("id"),
      minhashSignatureFromText(col(textCol), k, numHashes).as("sig"),
      HashedWordShingles.ofColumn(col(textCol), k).as("sh"))

  /**
   * Incremental MinHash near-dup: verify a NEW batch against an existing
   * [[minhashIndex]] and against itself, emitting exactly the pairs the
   * full pipeline would emit on (corpus ∪ batch) that touch the batch —
   * equality is structural, not approximate (same seeded signatures, same
   * banding hash, same exact-Jaccard verify; a spec asserts it). Output:
   * (id_a = batch doc, id_b = index or batch doc, jaccard, from_index).
   * Batch ids must be disjoint from index ids (the caller's id scheme), and
   * `numHashes` must be the one the index was built with; `bands` follows
   * [[minhashNearDuplicates]]'s rule.
   *
   * Scale shape: the corpus appears ONLY as one scan of the index (banded
   * bucket rows + a semi-joined shingle fetch for candidate ids) — there is
   * NO index×index self-join, which is what the full pipeline pays and the
   * entire point of keeping the index. A daily-sized batch's bucket table
   * is small, so AQE broadcasts it against the index buckets; candidates,
   * not the corpus, ship shingles to the verify join.
   */
  def incrementalMinhashNearDuplicates(batch: DataFrame, index: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", k: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    val batchIdx = minhashIndex(batch, textCol, idCol, k, numHashes)
    def banded(idx: DataFrame) = Lsh.minhashBands(idx, "sig", numHashes, bands, col("id"))
    val newB = banded(batchIdx)
    val oldB = banded(index).withColumn("is_new", lit(false))
    // batch buckets probe (index ∪ batch) buckets; within-batch pairs are
    // oriented a < b so each is emitted once, like the full pipeline
    val both = oldB.union(newB.withColumn("is_new", lit(true)))
    val cands = Lsh.candidates(newB, both, !col("b.is_new") || col("a.id") < col("b.id"),
      col("a.id").as("id_a"), col("b.id").as("id_b"), (!col("b.is_new")).as("from_index"))
    // ship shingles for candidate ids only (cf. minhashNearDuplicates: no
    // broadcast hint — candidate count is corpus-dup-rate-bound)
    val shA = batchIdx.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .join(cands.select("id_a").distinct(), Seq("id_a"), "left_semi")
    val shB = index.select(col("id"), col("sh"))
      .union(batchIdx.select(col("id"), col("sh")))
      .select(col("id").as("id_b"), col("sh").as("sh_b"))
      .join(cands.select("id_b").distinct(), Seq("id_b"), "left_semi")
    cands.join(shA, "id_a").join(shB, "id_b")
      .withColumn("jaccard", JaccardSortedLongs.ofColumns(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold && size(col("sh_a")) > 0 && size(col("sh_b")) > 0)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"),
        col("from_index"))
  }

  /** Persisted EXACT-dedup index: one (fingerprint, keep_id) row per
    * distinct content; the md5/canonical twin of [[minhashIndex]]. NULL
    * text fingerprints as the empty string — a NULL fp would silently
    * drop its batch rows from [[exactIncremental]]'s null-unsafe joins. */
  def exactIndex(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", canonical: Boolean = false): DataFrame =
    spread(df).select(exactFp(col(textCol), canonical).as("fp"), col(idCol))
      .groupBy("fp").agg(min(col(idCol)).as("keep_id"))

  /** The exact-dedup fingerprint contract: NULL text ≡ '' (one shared
    * fingerprint), md5 raw or canonicalized. Shared by the batch index
    * builders and the streaming twin — the two ingest modes must agree
    * byte-for-byte or a null-text doc silently survives stream dedup. */
  private[graft] def exactFp(text: Column, canonical: Boolean): Column = {
    val t = coalesce(text, lit(""))
    if (canonical) TextFunctions.canonicalFingerprint(t)
    else md5(t.cast("binary"))
  }

  /**
   * Incremental exact dedup: flag each batch document whose fingerprint
   * already exists in an [[exactIndex]] (dup_of = the index keeper) or
   * earlier in the batch itself (dup_of = the batch's min id for that
   * fingerprint). Non-dup rows are the index delta: `exactIndex` of the
   * batch filtered to them appends to the persisted index. One fingerprint
   * shuffle of the BATCH plus one keyed join against the index — the
   * corpus is never re-fingerprinted.
   */
  def exactIncremental(batch: DataFrame, index: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      canonical: Boolean = false): DataFrame = {
    val bfp = spread(batch).select(col(idCol),
      exactFp(col(textCol), canonical).as("fp"))
    val batchMin = bfp.groupBy(col("fp")).agg(min(col(idCol)).as("__batch_min"))
    bfp.join(index.withColumnRenamed("keep_id", "__index_keep"), Seq("fp"), "left")
      .join(batchMin, "fp")
      .withColumn("dup_of", when(col("__index_keep").isNotNull, col("__index_keep"))
        .otherwise(when(col("__batch_min") < col(idCol), col("__batch_min"))))
      .select(col(idCol), col("fp"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"))
  }

  /**
   * Test-set decontamination: for every training document, the number of
   * distinct word k-shingles it shares with ANY holdout document. Training
   * examples that overlap the evaluation set inflate benchmark scores, so
   * pipelines drop (or at least flag) every row this returns.
   *
   * Scale shape: shingle explode on both sides, one equi-join keyed on the
   * shingle, aggregate per train doc. The holdout shingle set is NOT
   * broadcast-hinted — holdouts are usually small but unbounded in
   * principle; AQE broadcasts iff it fits.
   */
  def decontaminate(train: DataFrame, holdout: DataFrame, k: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // 64-bit shingle hashes as the join keys (r17, see duplicateSpans):
    // the train-side explode is the big exchange and 8-byte keys cut it ~5x
    val trainSh = spread(train).select(col(idCol),
      explode(HashedWordShingles.ofColumn(col(textCol), k)).as("__sh"))
    val holdSh = spread(holdout)
      .select(explode(HashedWordShingles.ofColumn(col(textCol), k)).as("__sh"))
      .distinct()
    trainSh.join(holdSh, "__sh")
      .groupBy(col(idCol))
      .agg(countDistinct(col("__sh")).as("n_contaminated_shingles"))
  }

  /**
   * Scored contamination report — [[decontaminate]]'s boolean turned into
   * the fraction a reviewer actually triages on: per train document, its
   * distinct k-shingle count, how many of those appear in the holdout,
   * and the overlap fraction (the "dirty at ≥ x%" threshold is then a
   * downstream filter, not baked in). Every train doc with ≥ 1 shingle
   * emits a row (0-overlap docs included — a report, not a join filter).
   *
   * Same scale shape as [[decontaminate]]: distinct holdout shingles
   * (benchmark-sized) joined against the train shingle table on the
   * shingle key; the per-doc distinct counts are one keyed agg. The
   * contaminated count comes from a LEFT join + conditional count so the
   * corpus is scanned once.
   */
  def contaminationScore(train: DataFrame, holdout: DataFrame, k: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val trainSh = spread(train).select(col(idCol),
      explode(HashedWordShingles.ofColumn(col(textCol), k)).as("__sh")).distinct()
    val holdSh = spread(holdout)
      .select(explode(HashedWordShingles.ofColumn(col(textCol), k)).as("__sh"))
      .distinct()
      .withColumn("__hit", lit(1))
    trainSh.join(holdSh, Seq("__sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).as("n_contaminated"))
      .withColumn("contamination_frac",
        round(col("n_contaminated") / col("n_shingles"), 6))
  }

  /**
   * Duplicate clusters from a near-dup pair list: connected components over
   * the pairs (see [[graft.graph.ConnectedComponents]]), with the smallest
   * doc id in each cluster elected canonical. This is the step that turns
   * pairwise LSH output into an actual dedup decision — keep `is_canonical`,
   * drop the rest. Pair ids must come from `corpus`'s id column.
   */
  def dupClusters(corpus: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val labels = graft.graph.ConnectedComponents.run(
      corpus.select(col(idCol)),
      pairs.select(col(pairs.columns(0)).as("src"), col(pairs.columns(1)).as("dst")))
    labels.select(col(idCol), col("component").as("cluster_id"),
      (col(idCol) === col("component")).as("is_canonical"))
  }

  /**
   * Quality-aware canonical election over near-dup clusters (r18): where
   * [[dupClusters]] elects the MIN-ID document, production dedup keeps the
   * BEST document of each cluster by a quality signal (Gopher/C4 pipelines
   * prune to the highest-quality member, not the lowest id). `quality` is
   * any per-document Column over `docs` (composite score, distinct-token
   * count, length); ties break to the smaller id so the election is total
   * and deterministic. Emits every document with its cluster, its quality,
   * and `keep` — exactly one true per cluster, singletons always kept.
   *
   * Shape: one CC run over the pairs (see [[graft.graph.ConnectedComponents]]
   * — O(log diameter) rounds of keyed shuffles) plus ONE extra shuffle on
   * cluster_id for the per-cluster argmax window. Nothing widens with
   * cluster size except the window partition, which is the same per-key
   * work a groupBy(cluster) would do.
   */
  def clusterRepresentatives(docs: DataFrame, pairs: DataFrame,
      quality: Column, idCol: String = "doc_id"): DataFrame = {
    val labels = graft.graph.ConnectedComponents.run(
      docs.select(col(idCol)),
      pairs.select(col(pairs.columns(0)).as("src"), col(pairs.columns(1)).as("dst")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col(idCol).asc)
    docs.select(col(idCol), quality.as("quality"))
      .join(labels, idCol)
      .withColumnRenamed("component", "cluster_id")
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("cluster_id"), col("quality"), col("keep"))
  }

  /**
   * Leakage-free train/validation split (r18): assign near-dup CLUSTERS —
   * not documents — to splits, so two near-duplicates can never land on
   * opposite sides of a train/eval boundary (the classic contamination
   * path: a paraphrase of a training doc in the validation set inflates
   * eval). `splitOf` maps the cluster id to a split in [0, nSplits); the
   * default is a seeded xxhash64 — pass a custom Column function when the
   * split must be replayable outside Spark (the smp12 driver row uses
   * plain modulo so DuckDB can replay it; the CERTIFIED property is
   * cluster-atomicity, which holds for any splitOf by construction).
   * Same shape as [[dupClusters]]: the CC labels plus one narrow map.
   */
  def leakageFreeSplit(docs: DataFrame, pairs: DataFrame, nSplits: Int,
      idCol: String = "doc_id",
      splitOf: Option[Column => Column] = None): DataFrame = {
    require(nSplits >= 2, "nSplits >= 2")
    val f = splitOf.getOrElse((c: Column) => pmod(xxhash64(c, lit(2027)), lit(nSplits)))
    val labels = graft.graph.ConnectedComponents.run(
      docs.select(col(idCol)),
      pairs.select(col(pairs.columns(0)).as("src"), col(pairs.columns(1)).as("dst")))
    labels.select(col(idCol), col("component").as("cluster_id"),
      f(col("component")).cast("int").as("split"))
  }

  /**
   * Cross-document duplicated spans: for every document, how many of its
   * distinct word k-shingles also appear in at least one OTHER document
   * (C4-style repeated-span detection — high ratios mean boilerplate).
   *
   * Shape: per-doc distinct shingles (narrow), one shuffle keyed on the
   * shingle to get document frequency, one keyed aggregation back to docs.
   * Documents shorter than k words have no spans and drop out (same in the
   * oracle). `dup_span_ratio` is an int/int double division — bit-exact.
   */
  def duplicateSpans(df: DataFrame, k: Int = 5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // spans travel as 64-bit shingle hashes, not strings (r17): the explode
    // feeds TWO exchanges (doc-frequency groupBy + join back), and 8-byte
    // keys cut those shuffles ~5x vs ~40-byte span strings. Counts are over
    // the hash set — two distinct spans colliding corpus-wide (P ~ n²/2^65)
    // would perturb a doc frequency by 1, the standard production trade.
    val sh = spread(df).select(col(idCol),
      explode(HashedWordShingles.ofColumn(col(textCol), k)).as("__sh"))
    // hashed shingles are distinct-per-doc, so count(*) per shingle = doc frequency
    val dfreq = sh.groupBy("__sh").agg(count(lit(1)).as("__df"))
    sh.join(dfreq, "__sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__df") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col(idCol), col("n_spans"), col("n_dup_spans"),
        try_divide(col("n_dup_spans").cast("double"), col("n_spans").cast("double"))
          .as("dup_span_ratio"))
  }

  /**
   * Boilerplate span REMOVAL (r18): where [[duplicateSpans]] only reports the
   * per-doc duplicated-span ratio, this emits each document's CLEANED text
   * with every word dropped that is covered by any k-shingle appearing in at
   * least `minDocFreq` distinct documents (the Dolma/RefinedWeb sub-document
   * cleaning pass; header/footer boilerplate shared across a crawl domain
   * vanishes from ALL its carriers, unlike [[dedupChunks]]'s keep-first
   * election on fixed windows). Documents shorter than k words have no spans
   * and pass through unchanged.
   *
   * Shape: positional span hashes are a narrow map (builtin xxhash64 over
   * the spans — positions matter here, so NOT the distinct-set
   * [[HashedWordShingles]]); doc-frequency is one aggregate keyed by the
   * 8-byte hash (count_distinct handles within-doc repeats); only spans
   * above the threshold survive the filter, so the join back ships the
   * boilerplate subset, not the corpus; covered starts aggregate per doc
   * (sorted once); the rebuild is the codegen'd [[UncoveredTokens]] pointer
   * merge — O(words + covered spans) per doc, not the O(words x spans) an
   * `exists` higher-order filter would pay on boilerplate-heavy docs.
   */
  def removeDuplicatedSpans(df: DataFrame, k: Int = 5, minDocFreq: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "k must be positive")
    require(minDocFreq >= 2, "minDocFreq >= 2 (a span always appears in its own doc)")
    val t = spread(df).select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
    // r22: the span strings come from the native WordNgrams kernel (one
    // compiled pass, positions = array index) and xxhash64 applies to the
    // exploded column — the old transform(sequence...) ran an interpreted
    // lambda per span (slice copy + concat + hash inside it). Same
    // "w1 .. wk" strings, same xxhash64, same (start, hash) rows.
    val spans = t.select(col(idCol),
        posexplode(WordNgrams.ofColumn(col("__toks"), k)).as(Seq("__start", "__g")))
      .select(col(idCol), col("__start"), xxhash64(col("__g")).as("__h"))
    val dup = spans.groupBy(col("__h"))
      .agg(count_distinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select("__h")
    val covered = spans.join(dup, "__h")
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__start"))).as("__starts"))
    val kept = UncoveredTokens.ofColumns(col("__toks"),
      coalesce(col("__starts"), expr("array()").cast("array<int>")), k)
    t.join(covered, Seq(idCol), "left")
      .select(col(idCol), concat_ws(" ", kept).as("clean_text"),
        size(col("__toks")).cast("long").as("n_words"),
        size(kept).cast("long").as("n_kept"))
  }

  /**
   * C4-style chunk-level dedup: split each document into consecutive
   * `chunkTokens`-token chunks, keep only the globally FIRST occurrence of
   * every distinct chunk text (first = smallest (doc_id, chunk position)),
   * and reassemble each document from its surviving chunks in order. This is
   * the "drop any line that appears elsewhere in the corpus" cleaning pass
   * of C4/RefinedWeb, with fixed token windows standing in for lines.
   *
   * Shape: chunking is a narrow map (sequence + slice expressions, no
   * explode-then-regroup); the keeper election is ONE min-aggregate keyed by
   * chunk text; the verdict join is keyed by the same chunk text, so both
   * sides arrive co-partitioned; the rebuild groupBy reuses the doc-id
   * shuffle. Nothing is driver-side and no stage holds more than a
   * document's chunks per row — scales like exact dedup.
   */
  def dedupChunks(df: DataFrame, chunkTokens: Int = 20,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    // r22: native TokenChunks kernel — the transform(sequence...) chunker
    // ran an interpreted lambda per chunk (slice copy + join inside it);
    // same "tok.. tok" chunk strings, same positions, one compiled pass
    val ck = spread(df)
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        posexplode(TokenChunks.ofColumn(col("__toks"), chunkTokens))
          .as(Seq("chunk_pos", "chunk")))
    val keeper = ck.groupBy(col("chunk"))
      .agg(min(struct(col(idCol), col("chunk_pos"))).as("__keep"))
    ck.join(keeper, Seq("chunk"))
      .withColumn("__kept",
        col("__keep")(idCol) === col(idCol) && col("__keep")("chunk_pos") === col("chunk_pos"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(when(col("__kept"),
          struct(col("chunk_pos"), col("chunk"))))), s => s("chunk")), " ")
          .as("kept_text"))
  }

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens (per-doc local UDF). */
  def simhash(text: Column): Column = {
    val f = udf { (s: String) =>
      val counts = new java.util.HashMap[String, Int]()
      s.split(" ").foreach(t => counts.merge(t, 1, Integer.sum))
      val acc = new Array[Int](64)
      counts.forEach { (tok, cnt) =>
        val h1 = MurmurHash3.stringHash(tok, 0x9747b28c).toLong & 0xffffffffL
        val h2 = MurmurHash3.stringHash(tok, 0x85ebca6b).toLong & 0xffffffffL
        val h = (h1 << 32) | h2
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) acc(bit) += cnt else acc(bit) -= cnt
          bit += 1
        }
      }
      var out = 0L
      var bit = 0
      while (bit < 64) { if (acc(bit) > 0) out |= (1L << bit); bit += 1 }
      out
    }
    f(text)
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dup pairs: band the 64 bits into 4 x 16-bit chunks (any pair
   * within Hamming distance 3 shares at least one exact chunk), bucket-join,
   * verify with the exact Hamming distance.
   */
  def simhashNearDuplicates(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3): DataFrame = {
    val sigs = spread(df)
      .select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
    val banded = Lsh.explode(sigs, Lsh.simhashBandKeys(col("sig")), col("id"), col("sig"))
    Lsh.selfCandidates(banded, "sig")
      .withColumn("hamming", hamming(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ---------------------------------------------------------------- embedding near-dup

  /**
   * Inspectable resolution of [[embeddingNearDuplicates]]'s LSH shape
   * (r20, VERDICT r19 #10): the same [[Lsh.embeddingLshConfig]] the operator
   * calls, surfaced as a one-row DataFrame a Python or SQL caller can
   * read BEFORE paying for the join — (n_vectors, planes_per_band,
   * bands, buckets_per_band, effective_recall, baseline_recall).
   * `effective_recall` is the probability that a true pair at exactly
   * `threshold` cosine collides in ≥ 1 band under the resolved shape;
   * `baseline_recall` is the 8-plane baseline at the RESOLVED band count
   * (8 bands when `bands` is auto — ADVICE r20: for pinned-bands callers
   * the column holds the 8-plane recall at the pinned count, mirroring
   * the operator's warn logic, not the fixed 8×8 reference). A pinned
   * `bands` under auto-raised planes shows its recall loss here as a
   * number instead of only a stderr warning at operator run time.
   * Note (same convention as the Packing operators' eager-quantile note):
   * CALLING this helper runs one small Spark job eagerly — the corpus
   * count() that feeds the occupancy-scaled plane budget.
   */
  def explainEmbeddingLshConfig(df: DataFrame, idCol: String = "vec_id",
      threshold: Double = 0.95, bands: Int = 0,
      planesPerBand: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = math.max(1L, spread(df).count())
    val c = Lsh.embeddingLshConfig(n, threshold, bands, planesPerBand)
    Seq((n, c.planes, c.bands, 1L << c.planes, c.recall, c.baselineRecall))
      .toDF("n_vectors", "planes_per_band", "bands", "buckets_per_band",
        "effective_recall", "baseline_recall")
  }

  /** (id, v = normalized vector, __sigs = hyperplane band keys), checkpointed:
    * the embedding operators read it for banding AND for exact verification. */
  private[graft] def embeddingSigTable(df: DataFrame, idCol: String, vecCol: String,
      bands: Int, planesPerBand: Int, seed: Int): DataFrame = spread(df)
    .select(col(idCol).as("id"), graft.sim.Similarity.normalized(col(vecCol)).as("v"))
    .withColumn("__sigs", Lsh.hyperplaneBandKeys(col("v"), bands, planesPerBand, seed))
    .localCheckpoint()

  /**
   * Embedding-cosine near-duplicate pairs above a similarity threshold.
   * Candidate generation via BANDED random-hyperplane LSH (see
   * [[graft.sim.Similarity.hyperplaneBandSignatures]]): `bands` independent
   * bucket tables of `planesPerBand` sign bits, joined per band exactly like
   * MinHash banding — within-bucket pair counts stay ~n²/(bands·2^r) per band
   * instead of one wide bucket's n²/2^r, and recall for pairs at cosine c
   * compounds to 1-(1-(1-θ(c)/π)^r)^b. Verification is exact cosine on the
   * distinct candidate pairs only.
   */
  def embeddingNearDuplicates(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", threshold: Double = 0.95,
      bands: Int = 0, planesPerBand: Int = 0, seed: Int = 7): DataFrame = {
    // planesPerBand <= 0 (the default) scales the band bucket space with
    // the corpus: max(8, ceil(log2(n/8))) keeps expected bucket occupancy
    // ~8, so RANDOM-collision candidates stay ~n per band instead of
    // n²/2^planes. A FIXED 8 planes (256 buckets) at 200k vectors puts
    // ~780 vectors in every bucket — ~600M junk candidate pairs through
    // the distinct() and both vector joins; measured >600 s at the 100×
    // fixture where the auto setting finishes (SCALE.md r17). Recall
    // trade (ADVICE r17): each added plane multiplies the per-band
    // true-pair collision probability by s' = 1 − arccos(threshold)/π, so
    // bands <= 0 (the default) RE-BUDGETS bands from the recall target
    // 1 − (1 − s'^planes)^bands ≥ the 8-plane/8-band baseline at
    // `threshold` (capped at 64 bands); a caller who PINS bands while
    // planes auto-raise gets a loud stderr warning with the effective
    // recall instead of a silent loss. Both autos resolve to exactly
    // (8, 8) for n ≤ 2048 — every certification artifact (dd17 digest,
    // rc06, GoldenSpec CSVs) is unchanged by the defaults.
    val n = if (planesPerBand > 0) 1L else math.max(1L, spread(df).count())
    val shape = Lsh.embeddingLshConfig(n, threshold, bands, planesPerBand, warn = true)
    // the signature table fans out FOUR ways below (both sides of the
    // band self-join + both vector re-joins); materialize it once —
    // n×(bands+dim) values, executor-resident — instead of re-running the
    // normalize + bands×planes hyperplane dots four times per execution
    val sigs = embeddingSigTable(df, idCol, vecCol, shape.bands, shape.planes, seed)
    val cands = Lsh.selfCandidates(Lsh.explode(sigs, col("__sigs"), col("id")))
    val vecs = sigs.select(col("id"), col("v"))
    cands
      .join(vecs.withColumnRenamed("id", "id_a").withColumnRenamed("v", "v_a"), "id_a")
      .join(vecs.withColumnRenamed("id", "id_b").withColumnRenamed("v", "v_b"), "id_b")
      .withColumn("cosine", graft.sim.Similarity.dot(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /**
   * Semantic decontamination: drop every corpus row whose embedding's
   * exact cosine to ANY holdout vector reaches `threshold` — the
   * meaning-level sibling of the lexical [[decontaminate]] (paraphrased
   * benchmark leakage shares few shingles but sits close in embedding
   * space). Candidates come from the same banded random-hyperplane LSH as
   * [[embeddingNearDuplicates]] but as a corpus × holdout TWO-TABLE band
   * equi-join (never corpus × corpus, never corpus × holdout cross);
   * verification is exact cosine on candidates only, so a dropped row is
   * PROVABLY contaminated (precision is a theorem — rc08 certifies it
   * plus the LSH recall bound). Returns the surviving corpus rows.
   *
   * 100 TB shape: the holdout (an eval set) is orders of magnitude
   * smaller than the corpus; its banded signature table is broadcast by
   * AQE, so the corpus is touched in ONE scan + one bucket-keyed probe.
   */
  def semanticDecontaminate(corpus: DataFrame, holdout: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.9, bands: Int = 8, planesPerBand: Int = 8,
      seed: Int = 7): DataFrame = {
    val cs = embeddingSigTable(corpus, idCol, vecCol, bands, planesPerBand, seed)
    val hs = embeddingSigTable(holdout, idCol, vecCol, bands, planesPerBand, seed)
    val cands = Lsh.candidates(Lsh.explode(cs, col("__sigs"), col("id")),
      Lsh.explode(hs, col("__sigs"), col("id").as("hid")), lit(true),
      col("a.id"), col("b.hid"))
    val contaminated = cands
      .join(cs.select(col("id"), col("v")), "id")
      .join(hs.select(col("id").as("hid"), col("v").as("hv")), "hid")
      .withColumn("__c", graft.sim.Similarity.dot(col("v"), col("hv")))
      .filter(col("__c") >= threshold)
      .select(col("id").as("__cid")).distinct()
    corpus.join(contaminated, col(idCol) === col("__cid"), "left_anti")
  }
}
