package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.{Dedup, Lsh, TextFunctions}

/**
 * Streaming deduplication for document ingest pipelines — the streaming
 * twin of [[graft.text.Dedup]]:
 *
 *  - exact dedup within a watermark window (dropDuplicatesWithinWatermark
 *    over the canonical fingerprint — state bounded by the watermark, the
 *    production shape for "don't ingest the same doc twice this hour");
 *  - near-dup detection of a STREAM against a STATIC reference corpus
 *    (stream-static join: each incoming doc's minhash band buckets probe the
 *    corpus bucket table, candidates verify by exact Jaccard — no
 *    stream-stream state, scales with candidates per micro-batch).
 */
object StreamingDedup {

  /**
   * Exact streaming dedup on the canonical fingerprint: the first document
   * with a given fingerprint inside the watermark window passes, later
   * copies are dropped. State is bounded by the watermark.
   */
  def streamingExactDedup(stream: DataFrame, textCol: String = "text",
      tsCol: String = "event_time", watermark: String = "10 minutes"): DataFrame =
    stream
      .withColumn("fingerprint", TextFunctions.canonicalFingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /**
   * Streaming twin of [[graft.text.Dedup.exactIncremental]]: drop every
   * stream document whose fingerprint already exists in a persisted
   * [[graft.text.Dedup.exactIndex]], then dedup the survivors within the
   * watermark window (so two copies arriving in the same window also
   * collapse). `canonical` must match how the index was built. The
   * left_anti probe is a stream-static join: the index is never held as
   * stream state, so state stays bounded by the watermark regardless of
   * corpus size.
   */
  def streamingExactDedupAgainstIndex(stream: DataFrame, index: DataFrame,
      textCol: String = "text", tsCol: String = "event_time",
      watermark: String = "10 minutes", canonical: Boolean = false): DataFrame = {
    // the batch index's exact fingerprint rule, including its NULL→''
    // coalesce — a NULL-text stream doc must match the index's '' row
    // (r19 verdict item #3: the old md5(text) gave NULL a NULL
    // fingerprint, which never equi-joins, so it survived the left_anti)
    val fp = Dedup.exactFp(col(textCol), canonical)
    stream.withColumn("fingerprint", fp)
      .join(index.withColumnRenamed("fp", "fingerprint"), Seq("fingerprint"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fingerprint")
  }

  /**
   * Pre-compute the reference corpus's hyperplane band buckets — the
   * static side of [[streamingEmbeddingNearDup]]. At scale this is written
   * once (ideally bucketed by (band, bucket)) and reused by every stream.
   *
   * Size `planesPerBand` from the CORPUS count — max(8, ⌈log2(n/8)⌉),
   * the same occupancy rule [[graft.text.Dedup.embeddingNearDuplicates]]
   * applies automatically — and pass the SAME value (and seed) to both
   * this builder and the stream side: the two sides meet in a bucket only
   * when their signatures are computed identically, so the parameter is
   * deliberately explicit here rather than auto-derived (a stream cannot
   * count the corpus). A fixed 8 at a 200k-vector corpus costs ~n/256
   * corpus candidates per stream row per band (SCALE.md r17).
   */
  def corpusEmbeddingBuckets(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", bands: Int = 8, planesPerBand: Int = 8,
      seed: Int = 7): DataFrame =
    Lsh.hyperplaneBands(corpus.select(col(idCol).as("corpus_id"),
        graft.sim.Similarity.normalized(col(vecCol)).as("corpus_vec")),
      "corpus_vec", bands, planesPerBand, seed)

  /** Stream rows joined to every [[corpusEmbeddingBuckets]] row that shares
    * a band bucket and reaches `threshold` exact cosine (columns stream_id,
    * tsCol, corpus_id, cosine among others) — the body the embedding
    * near-dup and decontamination streams share up to their watermark. */
  private def embeddingMatches(stream: DataFrame, corpusBk: DataFrame,
      idCol: String, vecCol: String, tsCol: String, threshold: Double,
      bands: Int, planesPerBand: Int, seed: Int): DataFrame =
    Lsh.hyperplaneBands(stream.select(col(idCol).as("stream_id"),
        graft.sim.Similarity.normalized(col(vecCol)).as("stream_vec"), col(tsCol)),
      "stream_vec", bands, planesPerBand, seed)
      .join(corpusBk, Lsh.BandKey)
      .withColumn("cosine",
        graft.sim.Similarity.dot(col("stream_vec"), col("corpus_vec")))
      .filter(col("cosine") >= threshold)

  /**
   * Near-duplicate pairs between an embedding STREAM and a static corpus —
   * the embedding twin of [[streamingNearDupAgainstCorpus]]: incoming
   * vectors are banded with the SAME hyperplanes as the corpus (same seed
   * — determinism is what makes stream and static sides meet in a
   * bucket), candidates come from the (band, bucket) equi-join, and
   * survive on exact cosine ≥ threshold. Per micro-batch state is zero
   * (stream-static join); duplicate candidate pairs from multi-band
   * collisions collapse with dropDuplicatesWithinWatermark.
   */
  def streamingEmbeddingNearDup(stream: DataFrame, corpusBk: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tsCol: String = "event_time", watermark: String = "10 minutes",
      threshold: Double = 0.95, bands: Int = 8, planesPerBand: Int = 8,
      seed: Int = 7): DataFrame =
    embeddingMatches(stream, corpusBk, idCol, vecCol, tsCol, threshold, bands,
        planesPerBand, seed)
      .select(col("stream_id"), col("corpus_id"), col(tsCol),
        round(col("cosine"), 6).as("cosine"))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("stream_id", "corpus_id")

  /**
   * Streaming semantic decontamination: flag every incoming vector whose
   * exact cosine to ANY holdout vector reaches `threshold` — the streaming
   * face of [[graft.text.Dedup.semanticDecontaminate]], built on
   * [[streamingEmbeddingNearDup]] with the holdout as the static side
   * (`corpusEmbeddingBuckets(holdout)`). Emits one row per contaminated
   * stream id (first witness wins within the watermark); a pipeline
   * anti-joins the stream against this to pass only clean rows. Zero
   * per-batch state beyond the dedup-within-watermark on stream_id.
   */
  def streamingSemanticDecontaminate(stream: DataFrame, holdoutBk: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tsCol: String = "event_time", watermark: String = "10 minutes",
      threshold: Double = 0.9, bands: Int = 8, planesPerBand: Int = 8,
      seed: Int = 7): DataFrame =
    // not layered on streamingEmbeddingNearDup: the id-only collapse needs
    // its own dropDuplicatesWithinWatermark key, and a second withWatermark
    // on the same column is disallowed mid-plan
    embeddingMatches(stream, holdoutBk, idCol, vecCol, tsCol, threshold, bands,
        planesPerBand, seed)
      .select(col("stream_id").as("contaminated_id"), col(tsCol))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("contaminated_id")

  /**
   * Pre-compute the reference corpus's minhash band buckets — the static
   * side of [[streamingNearDupAgainstCorpus]]. At scale this is written
   * once (ideally bucketed by (band, bucket)) and reused by every stream.
   * `bands` must lie in [1, numHashes]; the trailing numHashes % bands
   * signature values are unused.
   */
  def corpusBuckets(corpus: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 3, numHashes: Int = 64,
      bands: Int = 16): DataFrame =
    Lsh.minhashBands(corpus.select(col(idCol).as("corpus_id"),
        col(textCol).as("corpus_text"),
        Dedup.minhashSignatureFromText(col(textCol), k, numHashes).as("__sig")),
      "__sig", numHashes, bands, col("corpus_id"), col("corpus_text"))

  /**
   * Near-duplicate pairs between a document stream and a static corpus:
   * incoming docs are banded exactly like the corpus, candidates come from
   * the (band, bucket) equi-join, and survive on exact word-shingle Jaccard
   * ≥ threshold. Emits one row per (stream doc, matching corpus doc).
   */
  def streamingNearDupAgainstCorpus(stream: DataFrame, corpusBk: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      tsCol: String = "event_time", watermark: String = "10 minutes",
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val sig = Dedup.minhashSignatureFromText(col(textCol), k, numHashes)
    val banded = Lsh.minhashBands(stream.select(col(idCol).as("stream_id"),
        col(textCol).as("stream_text"), col(tsCol), sig.as("__sig")),
      "__sig", numHashes, bands, col("stream_id"), col("stream_text"), col(tsCol))
    banded.join(corpusBk, Lsh.BandKey)
      .withColumn("jaccard", Dedup.jaccard(
        Dedup.shingles(col("stream_text"), k),
        Dedup.shingles(col("corpus_text"), k)))
      .filter(col("jaccard") >= threshold)
      // a pair colliding in several bands emits once: pair-keyed dedup with
      // state bounded by the stream's watermark
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("stream_id", "corpus_id")
      .select(col("stream_id"), col("corpus_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /**
   * Streaming twin of [[graft.text.Dedup.incrementalMinhashNearDuplicates]]:
   * near-dup pairs between a document stream and a persisted
   * [[graft.text.Dedup.minhashIndex]] — the SAME on-disk artifact the batch
   * ingest path uses, so one index serves both ingest modes. Unlike
   * [[streamingNearDupAgainstCorpus]] (which replicates corpus TEXT into
   * every band row and re-shingles both sides per candidate), the static
   * side here stays narrow: (id, band, bucket) rows derived from the stored
   * signatures join the banded stream, then candidates fetch the stored
   * sorted shingle hashes by id for the codegen'd linear-merge Jaccard —
   * the batch operator's two-join shape, so per-pair verify values are
   * identical to the batch path (spec-asserted parity).
   */
  def streamingNearDupAgainstIndex(stream: DataFrame, index: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      tsCol: String = "event_time", watermark: String = "10 minutes",
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val idxBk = Lsh.minhashBands(index, "sig", numHashes, bands, col("id").as("corpus_id"))
    val sig = Dedup.minhashSignatureFromText(col(textCol), k, numHashes)
    val banded = Lsh.minhashBands(stream.select(col(idCol).as("stream_id"),
        graft.text.HashedWordShingles.ofColumn(col(textCol), k).as("__stream_sh"),
        col(tsCol), sig.as("__sig")),
      "__sig", numHashes, bands, col("stream_id"), col("__stream_sh"), col(tsCol))
    banded.join(idxBk, Lsh.BandKey)
      .join(index.select(col("id").as("corpus_id"), col("sh").as("__corpus_sh")),
        Seq("corpus_id"))
      .withColumn("jaccard", graft.text.JaccardSortedLongs.ofColumns(
        col("__stream_sh"), col("__corpus_sh")))
      .filter(col("jaccard") >= threshold &&
        size(col("__stream_sh")) > 0 && size(col("__corpus_sh")) > 0)
      // a pair colliding in several bands emits once: pair-keyed dedup with
      // state bounded by the stream's watermark
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("stream_id", "corpus_id")
      .select(col("stream_id"), col("corpus_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /**
   * Pre-compute the holdout's distinct k-shingle set — the static side of
   * [[streamingDecontaminate]]. Written once, reused by every ingest stream.
   */
  def holdoutShingles(holdout: DataFrame, textCol: String = "text",
      k: Int = 3): DataFrame =
    holdout.select(explode(Dedup.shingles(col(textCol), k)).as("__sh")).distinct()

  /**
   * Streaming test-set decontamination: flag incoming documents that share
   * any k-shingle with the (static) evaluation holdout — the on-ingest twin
   * of [[graft.text.Dedup.decontaminate]]. Stream-static equi-join on the
   * shingle, then a watermarked per-doc distinct count; no stream-stream
   * state, so state size is bounded by the watermark.
   */
  def streamingDecontaminate(stream: DataFrame, holdoutSh: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      tsCol: String = "event_time", watermark: String = "10 minutes",
      k: Int = 3): DataFrame =
    stream
      .select(col(idCol), col(tsCol),
        explode(Dedup.shingles(col(textCol), k)).as("__sh"))
      .join(holdoutSh, "__sh")
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), watermark), col(idCol))
      // countDistinct is unsupported in streaming aggs; collect_set is, and
      // its state is bounded by the doc's own shingle count
      .agg(size(collect_set(col("__sh"))).cast("long").as("n_contaminated_shingles"))
      .select(col(idCol), col("n_contaminated_shingles"))
}
