package graft
package driver

import org.apache.spark.sql.functions._

/** Text and training-data driver queries ([[graft.text]],
  * [[graft.multimodal]]): per-document signals and filters, language id,
  * n-gram statistics, sampling and mixtures (smp*), packing, drift (qa*),
  * feature hashing (fh01) and the media assets carried in documents
  * (mm*). */
object TextQueries {

  /** DuckDB string literal composed to be byte-pure ASCII: any char outside
    * printable ASCII becomes `chr(<codepoint>)`. tx03 failed the driver's
    * hash compare for two rounds with semantically-identical SQL — the
    * residual suspect was the driver's DuckDB evaluation of non-ASCII
    * literals, so the oracle now never emits one at the source. */
  private def asciiSqlLit(s: String): String = {
    def plain(c: Char) = c >= ' ' && c <= '~' && c != '\''
    if (s.forall(plain)) "'" + s + "'"
    else {
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      val sb = new StringBuilder
      def flush(): Unit = if (sb.nonEmpty) { parts += ("'" + sb + "'"); sb.clear() }
      s.foreach { c =>
        if (plain(c)) sb.append(c)
        else { flush(); parts += s"chr(${c.toInt})" }
      }
      flush()
      if (parts.length == 1) parts.head else parts.mkString("(", " || ", ")")
    }
  }
  private def asciiInList(words: Seq[String]): String =
    words.map(asciiSqlLit).mkString(", ")

  /** The langid CTE of tx03, tx06 and tx25: stopword lists interpolated from
    * [[graft.text.StopWords]] (single source of truth with the Spark side),
    * every non-ASCII char chr()-composed. */
  private def langIdCte: String = {
    val p = graft.text.StopWords.profiles.toMap
    s"""WITH h AS (
         SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents),
       c AS (
         SELECT doc_id, lang,
           len(list_filter(toks, x -> x IN (${asciiInList(p("de"))}))) AS h_de,
           len(list_filter(toks, x -> x IN (${asciiInList(p("en"))}))) AS h_en,
           len(list_filter(toks, x -> x IN (${asciiInList(p("es"))}))) AS h_es,
           len(list_filter(toks, x -> x IN (${asciiInList(p("fr"))}))) AS h_fr,
           len(list_filter(toks, x -> x IN (${asciiInList(p("zh"))}))) AS h_zh
         FROM h),
       p AS (
         SELECT doc_id, lang, h_de, h_en, h_es, h_fr, h_zh,
           CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
                WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
                WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
                WHEN h_fr >= h_zh THEN 'fr'
                ELSE 'zh' END AS lang_pred
         FROM c)"""
  }

  /** Generated DuckDB replay of [[graft.text.NgramRepetition]] (tx26):
    * per n, n-grams via list_transform over the zipped token/position
    * unnest; top fraction = row_number-max (count desc, chars desc)
    * product; duplicate fraction = interval-union of covered token
    * positions (DISTINCT on (doc, pos)) joined back to per-token lengths.
    * Same int/int double divisions as the Spark expression. */
  private def ngramRepOracle: String = {
    def gramExpr(n: Int): String =
      (1 to n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    val topCtes = graft.text.NgramRepetition.TopNs.map { n =>
      s"""g$n AS (SELECT doc_id,
             unnest(list_transform(range(len(toks) - ${n - 1}),
               i -> ${gramExpr(n)})) AS gram
           FROM w),
         t$n AS (SELECT doc_id, cnt * chars AS prod FROM (
             SELECT doc_id, cnt, chars,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY cnt DESC, chars DESC) AS rn
             FROM (SELECT doc_id, gram, count(*) AS cnt,
                     length(gram) - ${n - 1} AS chars
                   FROM g$n GROUP BY doc_id, gram)) WHERE rn = 1)"""
    }
    val dupCtes = graft.text.NgramRepetition.DupNs.map { n =>
      s"""g$n AS (SELECT doc_id,
             unnest(list_transform(range(len(toks) - ${n - 1}),
               i -> ${gramExpr(n)})) AS gram,
             unnest(range(len(toks) - ${n - 1})) AS i
           FROM w),
         c$n AS (SELECT doc_id, gram, count(*) AS cnt
                 FROM g$n GROUP BY doc_id, gram),
         d$n AS (SELECT DISTINCT doc_id, p FROM (
             SELECT g.doc_id, unnest(range(g.i, g.i + $n)) AS p
             FROM g$n g JOIN c$n c
               ON g.doc_id = c.doc_id AND g.gram = c.gram
             WHERE c.cnt >= 2)),
         v$n AS (SELECT d.doc_id, sum(length(t.tok)) AS cov
             FROM d$n d JOIN tok t ON d.doc_id = t.doc_id AND d.p = t.p
             GROUP BY d.doc_id)"""
    }
    def frac(expr: String, name: String): String =
      s"CASE WHEN b.total_chars = 0 THEN 0.0 ELSE coalesce($expr, 0)::DOUBLE / b.total_chars END AS $name"
    val topSel = graft.text.NgramRepetition.TopNs.map(n =>
      frac(s"t$n.prod", s"top_${n}gram_char_frac"))
    val dupSel = graft.text.NgramRepetition.DupNs.map(n =>
      frac(s"v$n.cov", s"dup_${n}gram_char_frac"))
    val joins = graft.text.NgramRepetition.TopNs.map(n => s"LEFT JOIN t$n USING (doc_id)") ++
      graft.text.NgramRepetition.DupNs.map(n => s"LEFT JOIN v$n USING (doc_id)")
    s"""WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks FROM documents),
       tok AS (SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS p FROM w),
       base AS (SELECT doc_id, count(*) AS m, sum(length(tok))::BIGINT AS total_chars
                FROM tok GROUP BY doc_id),
       ${(topCtes ++ dupCtes).mkString(",\n")}
       SELECT b.doc_id, b.m AS n_tokens, b.total_chars AS n_token_chars,
         ${(topSel ++ dupSel).mkString(",\n         ")}
       FROM base b ${joins.mkString(" ")}"""
  }

  val queries: Seq[Query] = Seq(
    Query("fh01_feature_hash", (s, dir) =>
      // hashing-trick doc embeddings (64 power-of-two buckets, rolling-hash
      // tokens, L2-normalized), exploded to long form for the exact compare.
      // r21: posexplode the FUSED feature_hash_embedding expression directly —
      // the generator (outer = false) emits nothing for a NULL vector, which
      // IS the old `__norm > 0` drop, so the expensive kernel runs exactly
      // ONCE per row instead of the ~5 evaluations the pushed-down filter
      // chain paid (plans/r21/fh01_feature_hash_{before,after}.txt); rows
      // and values are identical by construction (bit-identical norm fold)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(graft.text.FeatureHashEmbedding.ofColumn(col("text"), 64))
            .as(Seq("bucket", "weight")))
        .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
          round(col("weight"), 6).as("weight"))).oracle(
      // per-token HUGEINT rolling-hash fold (the tx05 oracle design) mod a
      // power-of-two bucket count, so unsigned-mod here equals Spark's
      // signed pmod exactly
      """WITH tok AS (
           SELECT doc_id, t AS tok
           FROM documents, unnest(string_split(text, ' ')) AS u(t)
           WHERE t <> ''),
         h AS (
           SELECT doc_id,
             (list_reduce(
                list_prepend(0::HUGEINT,
                  list_transform(string_split(tok, ''), c -> ascii(c)::HUGEINT)),
                (h, b) -> (h * 1000000007 + b)
                  % 18446744073709551616::HUGEINT) % 64)::BIGINT AS bucket
           FROM tok),
         c AS (
           SELECT doc_id, bucket, count(*)::DOUBLE AS cnt
           FROM h GROUP BY 1, 2),
         n AS (SELECT doc_id, sqrt(sum(cnt * cnt)) AS nrm FROM c GROUP BY 1),
         grid AS (
           SELECT d.doc_id, g.b AS bucket
           FROM (SELECT DISTINCT doc_id FROM documents) d,
                unnest(range(0, 64)) AS g(b))
         SELECT grid.doc_id, grid.bucket::BIGINT AS bucket,
           round(coalesce(c.cnt, 0) / n.nrm, 6) AS weight
         FROM grid JOIN n USING (doc_id)
           LEFT JOIN c USING (doc_id, bucket)"""),
    Query("mm01_multimodal_meta", (s, dir) =>
      graft.multimodal.Multimodal.assetsFromDocuments(Tables.documents(s, dir))
        .select(col("asset_id"), col("modality"),
          length(col("payload")).cast("long").as("n_bytes"), col("meta_duration_ms"))).oracle(
      """SELECT doc_id AS asset_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
         octet_length(encode(text)) AS n_bytes,
         n_chars * 10 AS meta_duration_ms
         FROM documents"""),
    Query("mm02_multimodal_features", (s, dir) =>
      // byte_mean is an integer-sum / count ratio — bit-exact vs the oracle
      // unrounded (rounding would reintroduce round-half-tie mismatches);
      // entropy sums in a different order, so it IS rounded
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.assetsFromDocuments(Tables.documents(s, dir)))
        .select(col("asset_id"), col("modality"), col("n_bytes"),
          col("byte_mean"),
          round(col("byte_entropy"), 6).as("byte_entropy"), col("frames_sampled"))).oracle(
      """WITH chars AS (
           SELECT doc_id, ascii(c) AS b
           FROM documents, unnest(string_split(text, '')) AS u(c)
         ), cnt AS (
           SELECT doc_id, b, count(*)::DOUBLE AS c FROM chars GROUP BY doc_id, b
         ), tot AS (
           SELECT doc_id, sum(c) AS n, sum(b * c) AS s FROM cnt GROUP BY doc_id
         ), ent AS (
           SELECT cnt.doc_id, any_value(tot.s / tot.n) AS byte_mean,
             -sum((cnt.c / tot.n) * log2(cnt.c / tot.n)) AS byte_entropy
           FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
           GROUP BY cnt.doc_id
         )
         SELECT d.doc_id AS asset_id,
           CASE WHEN d.doc_id % 3 = 0 THEN 'image'
                WHEN d.doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
           length(d.text)::BIGINT AS n_bytes,
           e.byte_mean,
           round(e.byte_entropy, 6) AS byte_entropy,
           (CASE WHEN d.doc_id % 3 = 2 THEN greatest(1, (d.n_chars * 10) // 1000)
                 WHEN d.doc_id % 3 = 1 THEN greatest(1, (d.n_chars * 10) // 5000)
                 ELSE 1 END)::INT AS frames_sampled
         FROM documents d JOIN ent e ON d.doc_id = e.doc_id"""),
    Query("mm03_png_decode", (s, dir) =>
      // REAL javax.imageio decode certification: deterministic PNGs are
      // encoded from a closed-form pixel formula, round-tripped through
      // ImageIO, and the decoded dims + exact integer pixel sums are
      // compared against the oracle's direct evaluation of the formula
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.pngAssetsFromDocuments(Tables.documents(s, dir)))
        .select(col("asset_id"), col("decoded_width"), col("decoded_height"),
          col("px_sum"), col("n_px"))).oracle(
      """SELECT d.doc_id AS asset_id,
           ((d.doc_id % 7) + 1)::INT AS decoded_width,
           ((d.doc_id % 5) + 1)::INT AS decoded_height,
           sum((d.doc_id * 31 + x.x * 7 + y.y * 13) % 256)::BIGINT AS px_sum,
           (((d.doc_id % 7) + 1) * ((d.doc_id % 5) + 1))::BIGINT AS n_px
         FROM documents d
         JOIN generate_series(0, 6) AS x(x) ON x.x <= d.doc_id % 7
         JOIN generate_series(0, 4) AS y(y) ON y.y <= d.doc_id % 5
         WHERE d.doc_id % 3 = 0
         GROUP BY d.doc_id"""),
    Query("mm04_wav_decode", (s, dir) =>
      // REAL javax.sound.sampled decode certification (mm03's pattern for
      // audio): deterministic 16-bit PCM WAVs from a closed-form sample
      // formula, decoded through the JDK audio stack; frame count / rate /
      // channels / exact sample sums vs the oracle's formula evaluation
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.wavAssetsFromDocuments(Tables.documents(s, dir)))
        .select(col("asset_id"), col("decoded_samples"), col("sample_rate"),
          col("channels"), col("sample_sum"))).oracle(
      """SELECT d.doc_id AS asset_id,
           (d.doc_id % 50 + 10)::BIGINT AS decoded_samples,
           8000::INT AS sample_rate,
           1::INT AS channels,
           sum((d.doc_id * 37 + i.i * 17) % 2003 - 1001)::BIGINT AS sample_sum
         FROM documents d
         JOIN generate_series(0, 58) AS i(i) ON i.i < d.doc_id % 50 + 10
         WHERE d.doc_id % 3 = 1
         GROUP BY d.doc_id"""),
    Query("mm05_avi_decode", (s, dir) =>
      // REAL RIFF/AVI container decode certification (mm03's pattern for
      // video): deterministic uncompressed BI_RGB DIB frames in a
      // hand-rolled standard AVI, parsed back by the RIFF chunk walker with
      // every-2nd-frame sampling; frame count / dims / exact sampled pixel
      // sums vs the oracle's direct evaluation of the pixel formula
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.aviAssetsFromDocuments(Tables.documents(s, dir)))
        .select(col("asset_id"), col("video_frames"), col("video_width"),
          col("video_height"), col("video_sampled"), col("video_px_sum"))).oracle(
      """SELECT d.doc_id AS asset_id,
           ((d.doc_id % 6) + 2)::INT AS video_frames,
           ((d.doc_id % 5) + 2)::INT AS video_width,
           ((d.doc_id % 4) + 2)::INT AS video_height,
           (((d.doc_id % 6) + 3) // 2)::INT AS video_sampled,
           sum((d.doc_id * 29 + f.f * 11 + x.x * 7 + y.y * 13) % 256)::BIGINT
             AS video_px_sum
         FROM documents d
         JOIN generate_series(0, 7) AS f(f)
           ON f.f < d.doc_id % 6 + 2 AND f.f % 2 = 0
         JOIN generate_series(0, 6) AS x(x) ON x.x < d.doc_id % 5 + 2
         JOIN generate_series(0, 5) AS y(y) ON y.y < d.doc_id % 4 + 2
         WHERE d.doc_id % 3 = 2
         GROUP BY d.doc_id"""),
    Query("mm06_image_resize", (s, dir) =>
      // REAL resize over REALLY-decoded pixels: ImageIO-decoded PNGs,
      // nearest-neighbor to 4x4 with the pinned floor index map, exact
      // resized pixel sums vs the oracle's evaluation of formula + map
      graft.multimodal.Multimodal.resizeGray(
        graft.multimodal.Multimodal.pngAssetsFromDocuments(Tables.documents(s, dir)),
        tw = 4, th = 4)).oracle(
      """SELECT d.doc_id AS asset_id,
           ((d.doc_id % 7) + 1)::INT AS src_width,
           ((d.doc_id % 5) + 1)::INT AS src_height,
           sum((d.doc_id * 31
                + ((x.x * ((d.doc_id % 7) + 1)) // 4) * 7
                + ((y.y * ((d.doc_id % 5) + 1)) // 4) * 13) % 256)::BIGINT
             AS resized_px_sum
         FROM documents d
         JOIN generate_series(0, 3) AS x(x) ON true
         JOIN generate_series(0, 3) AS y(y) ON true
         WHERE d.doc_id % 3 = 0
         GROUP BY d.doc_id"""),
    Query("mm07_audio_energy", (s, dir) =>
      // REAL windowed feature over REALLY-decoded samples: 16-sample
      // frames of squared-sample sums (integer-exact energy profile)
      graft.multimodal.Multimodal.audioWindowEnergy(
        graft.multimodal.Multimodal.wavAssetsFromDocuments(Tables.documents(s, dir)),
        window = 16)).oracle(
      """SELECT d.doc_id AS asset_id,
           (i.i // 16)::INT AS window_idx,
           sum(((d.doc_id * 37 + i.i * 17) % 2003 - 1001)
             * ((d.doc_id * 37 + i.i * 17) % 2003 - 1001))::BIGINT AS energy,
           count(*)::INT AS n_samples
         FROM documents d
         JOIN generate_series(0, 58) AS i(i) ON i.i < d.doc_id % 50 + 10
         WHERE d.doc_id % 3 = 1
         GROUP BY d.doc_id, i.i // 16"""),
    Query("mm08_mjpeg_decode", (s, dir) =>
      // COMPRESSED video decode certification: MJPEG frames really decoded
      // through javax.imageio; metadata is closed-form (hash-exact) and a
      // decode failure drops the row, turning the oracle red. Pixel sums
      // are lossy-decoder-valued -> certified in the spec, not hashed.
      graft.multimodal.Multimodal.mjpegDecodeTable(Tables.documents(s, dir))
        .select(col("asset_id"), col("frames_total"), col("width"),
          col("height"), col("frames_sampled"))).oracle(
      """SELECT doc_id AS asset_id,
           ((doc_id % 6) + 2)::INT AS frames_total,
           ((doc_id % 5) + 8)::INT AS width,
           ((doc_id % 4) + 8)::INT AS height,
           (((doc_id % 6) + 3) // 2)::INT AS frames_sampled
         FROM documents WHERE doc_id % 3 = 2"""),
    Query("mm09_spectral_tilt", (s, dir) =>
      // integer-exact DC / Nyquist / total energy per 16-sample frame of
      // REALLY-decoded PCM (the +-1-coefficient DFT bins — no trig parity
      // risk); the oracle replays the closed-form sample formula
      graft.multimodal.Multimodal.audioSpectralTilt(
        graft.multimodal.Multimodal.wavAssetsFromDocuments(Tables.documents(s, dir)),
        window = 16)).oracle(
      """WITH s AS (
           SELECT d.doc_id AS asset_id, i.i AS i, i.i // 16 AS frame_idx,
             (d.doc_id * 37 + i.i * 17) % 2003 - 1001 AS v
           FROM documents d
           JOIN generate_series(0, 58) AS i(i) ON i.i < d.doc_id % 50 + 10
           WHERE d.doc_id % 3 = 1)
         SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(sum(v) * sum(v) AS BIGINT) AS dc_energy,
           CAST(sum(CASE WHEN i % 2 = 0 THEN v ELSE -v END) *
                sum(CASE WHEN i % 2 = 0 THEN v ELSE -v END) AS BIGINT)
             AS nyquist_energy,
           CAST(sum(v * v) AS BIGINT) AS frame_energy,
           CAST(count(*) AS INT) AS n_samples
         FROM s GROUP BY asset_id, frame_idx"""),
    Query("qa01_psi_drift", (s, dir) =>
      // corpus drift monitor: PSI of the source mix between deterministic
      // even/odd doc cohorts standing in for two snapshots
      graft.text.TextFunctions.distributionDrift(Tables.documents(s, dir),
        refFilter = pmod(col("doc_id"), lit(2)) === 0,
        curFilter = pmod(col("doc_id"), lit(2)) === 1)).oracle(
      """WITH a AS (
           SELECT source,
             sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ref,
             sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_cur
           FROM documents GROUP BY source)
         SELECT source, n_ref, n_cur,
           round(n_ref::DOUBLE / sum(n_ref) OVER (), 6) AS p,
           round(n_cur::DOUBLE / sum(n_cur) OVER (), 6) AS q,
           round(CASE WHEN n_ref > 0 AND n_cur > 0 THEN
             (n_cur::DOUBLE / sum(n_cur) OVER ()
              - n_ref::DOUBLE / sum(n_ref) OVER ())
             * ln((n_cur::DOUBLE / sum(n_cur) OVER ())
                  / (n_ref::DOUBLE / sum(n_ref) OVER ()))
           END, 6) AS psi_contrib
         FROM a"""),
    Query("qa02_snapshot_diff", (s, dir) => {
      // recrawl diff monitor: deterministic old/new cohorts of the corpus
      // (drop id%3==1 / add id%3==0, edit id%5==0) classified per source
      val docs = Tables.documents(s, dir)
      val oldSnap = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val newSnap = docs.filter(pmod(col("doc_id"), lit(3)) =!= 1)
        .withColumn("text", when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.text.TextFunctions.snapshotDiff(oldSnap, newSnap)
    }).oracle(
      """WITH oldv AS (
           SELECT doc_id, source,
             md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]',' ','g'),' +',' ','g'))) AS fp
           FROM documents WHERE doc_id % 3 <> 0),
         newv AS (
           SELECT doc_id, source,
             md5(trim(regexp_replace(regexp_replace(lower(
               CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END),
               '[^a-z0-9 ]',' ','g'),' +',' ','g'))) AS fp
           FROM documents WHERE doc_id % 3 <> 1),
         j AS (
           SELECT coalesce(n.source, o.source) AS source,
             CASE WHEN o.fp IS NULL THEN 'added'
                  WHEN n.fp IS NULL THEN 'removed'
                  WHEN o.fp = n.fp THEN 'unchanged'
                  ELSE 'edited' END AS status
           FROM oldv o FULL OUTER JOIN newv n USING (doc_id))
         SELECT source, status, count(*) AS n_docs
         FROM j GROUP BY 1, 2"""),
    Query("smp01_stratified_sample", (s, dir) =>
      // mixture weighting: content-hash sample at per-source target rates
      graft.text.TextFunctions.stratifiedSample(Tables.documents(s, dir),
        rates = Map("src0" -> 0.75, "src1" -> 0.75, "src2" -> 0.5,
          "src3" -> 0.5, "src4" -> 1.0), defaultRate = 0.25)
        .select(col("doc_id"), col("lang"), col("source"))).oracle(
      """SELECT doc_id, lang, source FROM documents
         WHERE md5(text) < CASE
           WHEN source = 'src4' THEN 'g'
           WHEN source IN ('src0', 'src1') THEN 'c0000000'
           WHEN source IN ('src2', 'src3') THEN '80000000'
           ELSE '40000000' END"""),
    Query("smp02_quality_tiers", (s, dir) =>
      // quality-tiered deterministic sampling: high keeps all, mid 1/4,
      // low 1/16, via the same content-hash bound as smp01
      graft.text.TextFunctions.qualityTierSample(Tables.documents(s, dir))).oracle(
      """WITH s AS (
           SELECT doc_id, text,
             len(string_split(text,' '))::DOUBLE AS n_tokens,
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE / length(text) AS punct_ratio,
             len(list_filter(string_split(text,' '), x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','that','it','on','for','with','as','this')))::DOUBLE
               / len(string_split(text,' ')) AS stopword_ratio
           FROM documents),
         q AS (SELECT doc_id, text,
             round(greatest(0.0, least(1.0,
               0.25 * least(n_tokens / 20.0, 1.0) +
               0.25 * least(stopword_ratio * 5.0, 1.0) +
               0.25 * (1.0 - least(punct_ratio * 4.0, 1.0)) +
               0.25)), 6) AS quality_score
           FROM s),
         t AS (SELECT doc_id, text, quality_score,
             CASE WHEN quality_score >= 0.85 THEN 'high'
                  WHEN quality_score >= 0.78 THEN 'mid'
                  ELSE 'low' END AS tier
           FROM q)
         SELECT doc_id, tier, quality_score FROM t
         WHERE md5(text) < CASE tier WHEN 'high' THEN 'g'
           WHEN 'mid' THEN '40000000' ELSE '10000000' END"""),
    Query("smp03_mix_weights", (s, dir) =>
      // domain-mix planning: per-source keep rates that hit target corpus
      // shares under a 30k-token budget (rate = min(1, share*budget/tokens))
      graft.text.TextFunctions.mixWeights(Tables.documents(s, dir),
        targetShares = Map("src0" -> 0.3, "src1" -> 0.25, "src2" -> 0.2,
          "src3" -> 0.15, "src4" -> 0.1), budgetTokens = 30000L)).oracle(
      """SELECT source, n_tokens, ts AS target_share,
           floor(ts * 30000)::BIGINT AS allocated_tokens,
           least(1.0, (ts * 30000) / n_tokens::DOUBLE) AS rate,
           floor(least(1.0, (ts * 30000) / n_tokens::DOUBLE) * n_tokens)::BIGINT
             AS expected_tokens
         FROM (
           SELECT source,
             sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
             (CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.25
                WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.15
                WHEN 'src4' THEN 0.1 ELSE 0.0 END)::DOUBLE AS ts
           FROM documents GROUP BY source)"""),
    Query("smp04_bottomk_sample", (s, dir) =>
      // mergeable reservoir-equivalent: 50 smallest content hashes
      // (TakeOrderedAndProject - per-partition top-k, no global sort)
      graft.text.TextFunctions.bottomKSample(Tables.documents(s, dir), k = 50)
        .select(col("doc_id"), col("source"), col("sample_key"))).oracle(
      // text IS NOT NULL mirrors bottomKSample's explicit null filter —
      // without it Spark (NULLS FIRST) and DuckDB (NULLS LAST) would rank
      // a null-text row at opposite ends of the sample
      """SELECT doc_id, source, md5(text) AS sample_key
         FROM documents WHERE text IS NOT NULL
         ORDER BY md5(text), doc_id LIMIT 50"""),
    Query("smp05_temperature_mix", (s, dir) =>
      // temperature-scaled source mixture (alpha=0.7): the multilingual-LM
      // upweighting recipe; emits natural/temperature shares + resample factor
      graft.text.TextFunctions.temperatureMix(Tables.documents(s, dir))).oracle(
      """WITH a AS (
           SELECT source, count(*) AS n_docs,
             sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
           FROM documents GROUP BY source),
         b AS (SELECT *, n_tokens::DOUBLE / sum(n_tokens) OVER () AS p FROM a),
         c AS (SELECT *, power(p, 0.7) / sum(power(p, 0.7)) OVER () AS q FROM b)
         SELECT source, n_docs, n_tokens, round(p, 6) AS p_natural,
           round(q, 6) AS p_temperature, round(q / p, 6) AS sampling_factor
         FROM c"""),
    Query("smp06_stratum_cap", (s, dir) =>
      // domain-cap curation: at most 20 docs per source, smallest content
      // hashes win — bounded two-phase top-K per stratum, never a
      // stratum-wide sort (the tx23 plan shape applied to sampling)
      graft.text.TextFunctions.stratumCapSample(Tables.documents(s, dir),
        cap = 20)
        .select(col("source"), col("doc_id"), col("sample_key"))).oracle(
      """SELECT source, doc_id, sample_key FROM (
           SELECT source, doc_id, md5(text) AS sample_key,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(text), doc_id) AS rk
           FROM documents WHERE text IS NOT NULL)
         WHERE rk <= 20"""),
    Query("smp07_dsir_weights", (s, dir) => {
      // DSIR importance weights (Xie et al. 2023): hashed-ngram likelihood
      // ratio of the src0-src2 "target" slice vs the whole corpus. Bucket
      // tables broadcast (<= 4096 rows); one corpus pass per side; per-doc
      // scoring pre-aggregates (doc, bucket) before the broadcast join
      val docs = Tables.documents(s, dir)
      graft.text.Dsir.dsirLogWeights(docs,
          docs.filter(col("source").isin("src0", "src1", "src2")))
        .select(col("doc_id"), col("n_ngrams"),
          round(col("log_weight"), 6).as("log_weight"))
    }).oracle(
      """WITH toks AS (
           SELECT doc_id, source,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
           FROM documents),
         ng AS (
           SELECT doc_id, source, unnest(tk || list_transform(
             range(greatest(len(tk) - 1, 0)), i -> tk[i+1] || ' ' || tk[i+2])) AS g
           FROM toks),
         b AS (SELECT doc_id, source, substr(md5(g), 1, 3) AS bucket FROM ng),
         rcnt AS (SELECT bucket, count(*) AS c FROM b GROUP BY bucket),
         tcnt AS (SELECT bucket, count(*) AS ct FROM b
                  WHERE source IN ('src0','src1','src2') GROUP BY bucket),
         tot AS (SELECT (SELECT sum(c) FROM rcnt) AS rt,
                        (SELECT sum(ct) FROM tcnt) AS tt),
         ratio AS (
           SELECT r.bucket,
             ln((coalesce(t.ct, 0) + 1.0) / (tot.tt + 4096.0)) -
             ln((r.c + 1.0) / (tot.rt + 4096.0)) AS logratio
           FROM rcnt r LEFT JOIN tcnt t USING (bucket), tot),
         db AS (SELECT doc_id, bucket, count(*) AS n FROM b GROUP BY 1, 2),
         sc AS (SELECT doc_id, sum(n) AS n_ngrams, sum(n * logratio) AS lw
                FROM db JOIN ratio USING (bucket) GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(sc.n_ngrams, 0) AS BIGINT) AS n_ngrams,
           round(coalesce(sc.lw, 0), 6) AS log_weight
         FROM documents d LEFT JOIN sc USING (doc_id)"""),
    Query("smp08_dsir_sample", (s, dir) => {
      // Gumbel-top-k resampling over the DSIR weights: without-replacement
      // sample proportional to softmax(log_weight), deterministic via
      // md5-derived Gumbel noise (engine-reproducible, never RAND());
      // orderBy+limit = TakeOrdered, no full sort at scale
      val docs = Tables.documents(s, dir)
      graft.text.Dsir.dsirSample(docs,
          docs.filter(col("source").isin("src0", "src1", "src2")), k = 50)
        .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight"),
          round(col("gumbel_key"), 6).as("gumbel_key"))
    }).oracle(
      """WITH toks AS (
           SELECT doc_id, source,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
           FROM documents),
         ng AS (
           SELECT doc_id, source, unnest(tk || list_transform(
             range(greatest(len(tk) - 1, 0)), i -> tk[i+1] || ' ' || tk[i+2])) AS g
           FROM toks),
         b AS (SELECT doc_id, source, substr(md5(g), 1, 3) AS bucket FROM ng),
         rcnt AS (SELECT bucket, count(*) AS c FROM b GROUP BY bucket),
         tcnt AS (SELECT bucket, count(*) AS ct FROM b
                  WHERE source IN ('src0','src1','src2') GROUP BY bucket),
         tot AS (SELECT (SELECT sum(c) FROM rcnt) AS rt,
                        (SELECT sum(ct) FROM tcnt) AS tt),
         ratio AS (
           SELECT r.bucket,
             ln((coalesce(t.ct, 0) + 1.0) / (tot.tt + 4096.0)) -
             ln((r.c + 1.0) / (tot.rt + 4096.0)) AS logratio
           FROM rcnt r LEFT JOIN tcnt t USING (bucket), tot),
         db AS (SELECT doc_id, bucket, count(*) AS n FROM b GROUP BY 1, 2),
         sc AS (SELECT doc_id, sum(n * logratio) AS lw
                FROM db JOIN ratio USING (bucket) GROUP BY doc_id),
         w AS (SELECT d.doc_id, coalesce(sc.lw, 0) AS lw
               FROM documents d LEFT JOIN sc USING (doc_id)),
         gk AS (
           SELECT doc_id, lw,
             lw - ln(-ln((list_sum(list_transform(range(13),
               i -> (strpos('0123456789abcdef',
                 substr(md5(doc_id || ':42'), i + 1, 1)) - 1) * 16.0^(12 - i)))
               + 0.5) / 16.0^13)) AS gumbel_key
           FROM w)
         SELECT doc_id, round(lw, 6) AS log_weight,
           round(gumbel_key, 6) AS gumbel_key
         FROM gk ORDER BY gk.gumbel_key DESC, doc_id LIMIT 50"""),
    Query("smp09_ccnet_buckets", (s, dir) =>
      // CCNet head/middle/tail perplexity tiers per source: per-doc bigram
      // LM perplexity, per-stratum exact quantile thresholds broadcast
      // back, one comparison map — no stratum-wide sort
      graft.text.TextFunctions.ccnetBuckets(Tables.documents(s, dir))).oracle(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
           FROM t, UNNEST(range(1, len(toks))) AS u(i)),
         c AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
         v AS (SELECT bigram, sum(cnt) AS cb FROM c GROUP BY bigram),
         pv AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(cb) AS cu
           FROM v GROUP BY 1),
         d AS (SELECT doc_id,
             round(exp(round(-sum(cnt * ln(cb::DOUBLE / cu)) / sum(cnt), 6)), 6)
               AS perplexity
           FROM c JOIN v USING (bigram)
             JOIN pv ON string_split(bigram, ' ')[1] = pv.w1
           GROUP BY doc_id),
         sc AS (SELECT s.source, d.doc_id, d.perplexity
           FROM d JOIN documents s USING (doc_id)),
         th AS (SELECT source,
             quantile_cont(perplexity, 1.0/3) AS lo,
             quantile_cont(perplexity, 2.0/3) AS hi
           FROM sc GROUP BY source)
         SELECT sc.source, sc.doc_id, sc.perplexity,
           CASE WHEN sc.perplexity <= th.lo THEN 'head'
                WHEN sc.perplexity <= th.hi THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM sc JOIN th USING (source)"""),
    Query("smp13_sequence_packing", (s, dir) =>
      // GPT-style pack-then-chunk layout: global token offsets + first/last
      // packed sequence per doc; distributed two-phase cumsum (literal
      // quantile ranges, per-range window, broadcast base offsets)
      graft.text.Packing.sequencePacking(Tables.documents(s, dir),
        capacity = 256)).oracle(
      """WITH t AS (SELECT doc_id,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens
           FROM documents),
         o AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start_offset
           FROM t)
         SELECT doc_id, n_tokens, start_offset,
           (start_offset // 256)::BIGINT AS seq_start,
           (CASE WHEN n_tokens = 0 THEN start_offset // 256
                 ELSE (start_offset + n_tokens - 1) // 256 END)::BIGINT AS seq_end
         FROM o"""),
    Query("smp14_packing_summary", (s, dir) =>
      graft.text.Packing.packingSummary(Tables.documents(s, dir),
        capacity = 256)).oracle(
      """WITH t AS (SELECT doc_id,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens
           FROM documents),
         o AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start_offset
           FROM t),
         p AS (SELECT n_tokens,
             (start_offset // 256)::BIGINT AS seq_start,
             (CASE WHEN n_tokens = 0 THEN start_offset // 256
                   ELSE (start_offset + n_tokens - 1) // 256 END)::BIGINT AS seq_end
           FROM o)
         SELECT sum(n_tokens)::BIGINT AS total_tokens,
           count(*)::BIGINT AS n_docs,
           (max(seq_end) + 1)::BIGINT AS n_sequences,
           coalesce(sum(CASE WHEN seq_end > seq_start THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_boundary_docs,
           ((max(seq_end) + 1) * 256 - sum(n_tokens))::BIGINT AS tail_waste_tokens
         FROM p"""),
    Query("smp15_bin_packing", (s, dir) =>
      // no-split next-fit bins, 100-doc id domains as the packing shards;
      // the oracle replays the same greedy rule as a recursive CTE
      graft.text.Packing.binPacking(Tables.documents(s, dir),
        capacity = 256, domainSize = 100)).oracle(
      // next-fit replayed row-by-row: the recursion advances one rn per
      // domain per step, so depth = docs-per-domain (100 here), and the five
      // domains progress in parallel through the same CTE
      """WITH RECURSIVE t AS (SELECT doc_id,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens,
             (doc_id // 100)::BIGINT AS domain,
             row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
           FROM documents),
         p AS (
           SELECT domain, rn, doc_id, n_tokens, 0::BIGINT AS bin,
             n_tokens AS fill
           FROM t WHERE rn = 1
           UNION ALL
           SELECT t.domain, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN p.fill + t.n_tokens > 256 THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.fill + t.n_tokens > 256 THEN t.n_tokens
                  ELSE p.fill + t.n_tokens END
           FROM p JOIN t ON t.domain = p.domain AND t.rn = p.rn + 1)
         SELECT doc_id, n_tokens, domain, bin FROM p"""),
    Query("smp16_mixture_plan", (s, dir) =>
      // per-source token allocation under a budget with an epoch cap;
      // src4 is deliberately unweighted (weight 0 -> alloc 0)
      graft.text.TextFunctions.mixturePlan(Tables.documents(s, dir),
        Map("src0" -> 0.4, "src1" -> 0.35, "src2" -> 0.15, "src3" -> 0.1),
        tokenBudget = 100000L, maxEpochs = 4.0)).oracle(
      // double arithmetic mirrored op-for-op (budget*w, tokens*cap, least,
      // divide) so the unrounded epochs column is bit-identical cross-engine
      """WITH t AS (SELECT source,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens,
             CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.35
                         WHEN 'src2' THEN 0.15 WHEN 'src3' THEN 0.1
                         ELSE 0.0 END AS w
           FROM documents)
         SELECT source, count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS n_tokens, max(w) AS target_weight,
           least(100000.0 * max(w), sum(n_tokens)::DOUBLE * 4.0) AS alloc_tokens,
           CASE WHEN sum(n_tokens) = 0 THEN 0.0 ELSE
             least(100000.0 * max(w), sum(n_tokens)::DOUBLE * 4.0)
               / sum(n_tokens) END AS epochs
         FROM t GROUP BY source"""),
    Query("smp17_mixture_upsample", (s, dir) =>
      // deterministic materialization of the same plan: floor(epochs)
      // copies per doc + an md5-selected fractional copy, no RNG
      graft.text.TextFunctions.mixtureUpsample(Tables.documents(s, dir),
        Map("src0" -> 0.4, "src1" -> 0.35, "src2" -> 0.15, "src3" -> 0.1),
        tokenBudget = 100000L, maxEpochs = 4.0)).oracle(
      """WITH t AS (SELECT doc_id, source,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens,
             CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.35
                         WHEN 'src2' THEN 0.15 WHEN 'src3' THEN 0.1
                         ELSE 0.0 END AS w
           FROM documents),
         e AS (SELECT source,
             CASE WHEN sum(n_tokens) = 0 THEN 0.0 ELSE
               least(100000.0 * max(w), sum(n_tokens)::DOUBLE * 4.0)
                 / sum(n_tokens) END AS epochs
           FROM t GROUP BY source),
         j AS (SELECT t.doc_id, t.source, t.n_tokens,
             (floor(e.epochs)::BIGINT + CASE
               WHEN list_sum(list_transform(range(8),
                   i -> (strpos('0123456789abcdef',
                     substr(md5(t.doc_id::VARCHAR), i + 1, 1)) - 1)
                     * 16.0^(7 - i))) / 16.0^8
                    < e.epochs - floor(e.epochs) THEN 1 ELSE 0 END) AS n
           FROM t JOIN e USING (source))
         SELECT doc_id, source, i AS copy, n_tokens
         FROM j, unnest(range(1, n + 1)) AS u(i)
         WHERE n >= 1"""),
    Query("smp18_corpus_shuffle", (s, dir) => {
      // r20: deterministic global training order over the upsampled stream
      // — every (doc, copy) gets a reproducible md5-ordered position; the
      // oracle replays it as row_number() over the same md5 ordering
      val up = graft.text.TextFunctions.mixtureUpsample(Tables.documents(s, dir),
        Map("src0" -> 0.4, "src1" -> 0.35, "src2" -> 0.15, "src3" -> 0.1),
        tokenBudget = 100000L, maxEpochs = 4.0)
      graft.text.Packing.corpusShuffle(up, Seq("doc_id", "copy"))
        .select(col("doc_id"), col("copy"), col("shuffle_key"), col("position"))
    }).oracle(
      // smp18: the same upsampled stream, given its deterministic global
      // training order — row_number over the md5(id:copy) ordering
      """WITH t AS (SELECT doc_id, source,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens,
             CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.35
                         WHEN 'src2' THEN 0.15 WHEN 'src3' THEN 0.1
                         ELSE 0.0 END AS w
           FROM documents),
         e AS (SELECT source,
             CASE WHEN sum(n_tokens) = 0 THEN 0.0 ELSE
               least(100000.0 * max(w), sum(n_tokens)::DOUBLE * 4.0)
                 / sum(n_tokens) END AS epochs
           FROM t GROUP BY source),
         j AS (SELECT t.doc_id, t.source, t.n_tokens,
             (floor(e.epochs)::BIGINT + CASE
               WHEN list_sum(list_transform(range(8),
                   i -> (strpos('0123456789abcdef',
                     substr(md5(t.doc_id::VARCHAR), i + 1, 1)) - 1)
                     * 16.0^(7 - i))) / 16.0^8
                    < e.epochs - floor(e.epochs) THEN 1 ELSE 0 END) AS n
           FROM t JOIN e USING (source)),
         up AS (SELECT doc_id, i AS copy
           FROM j, unnest(range(1, n + 1)) AS u(i)
           WHERE n >= 1)
         SELECT doc_id, copy, md5(doc_id || ':' || copy) AS shuffle_key,
           (row_number() OVER (ORDER BY md5(doc_id || ':' || copy),
             doc_id, copy) - 1)::BIGINT AS position
         FROM up"""),
    Query("smp19_token_budget_sample", (s, dir) =>
      // r20: reproducible ~20k-token prefix of the md5 shuffle order;
      // the boundary-straddling doc is included (offset-before < budget)
      graft.text.Packing.tokenBudgetSample(Tables.documents(s, dir),
        budget = 20000L)).oracle(
      // smp19: running token total in md5 order, kept while the tokens
      // BEFORE the doc are under the budget (sum OVER is HUGEINT -> BIGINT)
      """WITH t AS (SELECT doc_id,
             len(string_split(coalesce(text,''),' '))::BIGINT AS n_tokens,
             md5(doc_id::VARCHAR) AS k
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS sample_offset
           FROM t)
         SELECT doc_id, n_tokens, sample_offset
         FROM c WHERE sample_offset < 20000"""),
    Query("tx01_text_stats", (s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_c"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct_tokens"))
    }).oracle(
      """SELECT doc_id, length(text) AS n_chars_c,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens
         FROM documents"""),
    Query("tx02_quality", (s, dir) =>
      // ratios unrounded: int/int divisions are bit-exact vs the oracle
      graft.text.TextFunctions.qualityScore(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_tokens"),
          col("punct_ratio"), col("stopword_ratio"), col("quality_score"))).oracle(
      """WITH s AS (
           SELECT doc_id,
             length(text)::DOUBLE AS n_chars,
             len(string_split(text,' '))::DOUBLE AS n_tokens,
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::DOUBLE / length(text) AS punct_ratio,
             (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text) AS digit_ratio,
             len(list_filter(string_split(text,' '), x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','that','it','on','for','with','as','this')))::DOUBLE
               / len(string_split(text,' ')) AS stopword_ratio
           FROM documents)
         SELECT doc_id, n_tokens::BIGINT AS n_tokens,
           punct_ratio,
           stopword_ratio,
           round(greatest(0.0, least(1.0,
             0.25 * least(n_tokens / 20.0, 1.0) +
             0.25 * least(stopword_ratio * 5.0, 1.0) +
             0.25 * (1.0 - least(punct_ratio * 4.0, 1.0)) +
             0.25 * (1.0 - least(digit_ratio * 4.0, 1.0)))), 6) AS quality_score
         FROM s"""),
    Query("tx03_langid", (s, dir) =>
      graft.text.TextFunctions.langId(Tables.documents(s, dir))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === col("lang_pred"), 1L).otherwise(0L)).as("n_correct"))).oracle(
      s"""$langIdCte
         SELECT lang, count(*) AS n_docs,
           count(*) FILTER (WHERE lang = lang_pred) AS n_correct
         FROM p GROUP BY lang"""),
    Query("tx04_bpeish_tokens", (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.text.TextFunctions.bpeishTokenCount(col("text")).as("n_subtokens"))).oracle(
      """SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subtokens
         FROM documents"""),
    Query("tx05_rolling_fingerprint", (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        graft.text.TextFunctions.rollingHash(col("text")).as("fingerprint"))).oracle(
      """SELECT doc_id,
         (CASE WHEN h >= 9223372036854775808::HUGEINT
               THEN h - 18446744073709551616::HUGEINT ELSE h END)::BIGINT AS fingerprint
         FROM (
           SELECT doc_id, list_reduce(
             list_prepend(0::HUGEINT,
               list_transform(string_split(text,''), c -> ascii(c)::HUGEINT)),
             (h, b) -> (h * 1000000007 + b) % 18446744073709551616::HUGEINT) AS h
           FROM documents) t"""),
    Query("tx06_langid_perdoc", (s, dir) =>
      // per-doc diagnostic: each document's per-language stopword scores and
      // prediction, so a tx03 aggregate mismatch pinpoints the flipped doc
      graft.text.TextFunctions.langScores(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"), col("lang_pred"),
          col("h_de"), col("h_en"), col("h_es"), col("h_fr"), col("h_zh"))).oracle(
      s"""$langIdCte
         SELECT doc_id, lang, lang_pred, h_de, h_en, h_es, h_fr, h_zh FROM p"""),
    Query("tx07_redact", (s, dir) =>
      // PII-style scrubbing: digit runs -> <NUM>, denylist tokens -> <PII>;
      // the redacted text is hash-compared so the full rewrite is checked
      graft.text.TextFunctions.redact(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_redactions"),
          md5(col("redacted").cast("binary")).as("redacted_fp"))).oracle(
      """SELECT doc_id,
         (len(regexp_extract_all(text, '[0-9]+'))
          + len(regexp_extract_all(text, '\b(key|hash|token)\b')))::BIGINT AS n_redactions,
         md5(regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
           '\b(key|hash|token)\b', '<PII>', 'g')) AS redacted_fp
         FROM documents"""),
    Query("tx08_sample_hash", (s, dir) =>
      // deterministic ~1/16 corpus sample by content-hash prefix —
      // reproducible under any partitioning, unlike seeded random sampling
      graft.text.TextFunctions.hashSample(Tables.documents(s, dir), "1")
        .select(col("doc_id"), col("lang"), col("source"))).oracle(
      """SELECT doc_id, lang, source FROM documents WHERE md5(text) < '1'"""),
    Query("tx09_vocab_topk", (s, dir) =>
      // top-50 corpus vocabulary — TakeOrderedAndProject, no global sort
      graft.text.TextFunctions.topKTokens(Tables.documents(s, dir), 50)).oracle(
      """SELECT token, count(*) AS n
         FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 50"""),
    Query("tx10_repetition", (s, dir) =>
      // Gopher-style word-repetition signals; int/int ratios, unrounded
      graft.text.TextFunctions.repetitionSignals(Tables.documents(s, dir))).oracle(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
                      FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2)
         SELECT doc_id,
           sum(cnt)::BIGINT AS n_words,
           sum(cnt*length(tok))::DOUBLE / sum(cnt) AS mean_word_len,
           (sum(cnt) - count(*))::DOUBLE / sum(cnt) AS dup_word_ratio,
           max(cnt)::DOUBLE / sum(cnt) AS top_word_ratio,
           coalesce(sum(cnt) FILTER (WHERE regexp_matches(tok, '[A-Za-z]')), 0)::DOUBLE
             / sum(cnt) AS alpha_word_ratio
         FROM c GROUP BY doc_id"""),
    Query("tx11_gopher_filter", (s, dir) =>
      // Gopher-style hard quality gate: signals + per-rule 0/1 flags + keep
      graft.text.TextFunctions.gopherFilter(Tables.documents(s, dir))).oracle(
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
                       FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
         sig AS (SELECT doc_id,
             sum(cnt)::BIGINT AS n_words,
             coalesce(sum(cnt) FILTER (WHERE regexp_matches(tok, '[A-Za-z]')), 0)::BIGINT
               AS n_alpha,
             coalesce(sum(cnt) FILTER (WHERE lower(tok) IN (${asciiInList(graft.text.StopWords.en)})), 0)::BIGINT
               AS n_stop,
             sum(cnt * length(tok))::DOUBLE / sum(cnt) AS mean_word_len,
             coalesce(sum(cnt) FILTER (WHERE regexp_matches(tok, '[A-Za-z]')), 0)::DOUBLE
               / sum(cnt) AS alpha_word_ratio,
             (sum(cnt) - count(*))::DOUBLE / sum(cnt) AS dup_word_ratio
           FROM c GROUP BY doc_id),
         fl AS (SELECT *,
             CASE WHEN n_words >= 10 AND n_words <= 100000 THEN 1 ELSE 0 END AS f_word_count,
             CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 12.0 THEN 1 ELSE 0 END AS f_mean_len,
             CASE WHEN alpha_word_ratio >= 0.8 THEN 1 ELSE 0 END AS f_alpha,
             CASE WHEN dup_word_ratio <= 0.4 THEN 1 ELSE 0 END AS f_dup,
             CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS f_stop
           FROM sig)
         SELECT doc_id, n_words, n_alpha, n_stop, mean_word_len,
           alpha_word_ratio, dup_word_ratio,
           f_word_count, f_mean_len, f_alpha, f_dup, f_stop,
           f_word_count * f_mean_len * f_alpha * f_dup * f_stop AS keep
         FROM fl"""),
    Query("tx12_bigram_topk", (s, dir) =>
      // top-30 word bigrams (BPE merge-candidate table)
      graft.text.TextFunctions.topKBigrams(Tables.documents(s, dir), 30)).oracle(
      """WITH w AS (SELECT string_split(text, ' ') AS toks FROM documents),
         b AS (SELECT unnest(list_transform(range(len(toks) - 1),
                 i -> toks[i+1] || ' ' || toks[i+2])) AS bigram FROM w)
         SELECT bigram, count(*) AS n FROM b GROUP BY bigram
         ORDER BY n DESC, bigram LIMIT 30"""),
    Query("tx13_unigram_logprob", (s, dir) =>
      // corpus unigram-LM perplexity proxy per document (CCNet-style)
      graft.text.TextFunctions.unigramLogProb(Tables.documents(s, dir))).oracle(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
         v AS (SELECT tok, sum(cnt) AS tf FROM c GROUP BY tok),
         t AS (SELECT sum(tf)::DOUBLE AS total FROM v)
         SELECT doc_id, sum(cnt)::BIGINT AS n_tokens,
           round(-sum(cnt * ln(tf::DOUBLE / total)) / sum(cnt), 6)
             AS avg_neg_logprob
         FROM c JOIN v USING (tok), t GROUP BY doc_id"""),
    Query("tx14_tfidf_top", (s, dir) =>
      // top-3 TF-IDF keywords per document, ranked on the rounded score
      graft.text.TextFunctions.tfidfTopTerms(Tables.documents(s, dir), 3)).oracle(
      // ranked on the 6-decimal-rounded score with the token as tie-break:
      // a last-ULP ln() difference between engines cannot flip the order
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
         d AS (SELECT tok, count(*) AS df FROM c GROUP BY tok),
         n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
         s AS (SELECT doc_id, tok, round(cnt * ln(n_docs / df), 6) AS tfidf
           FROM c JOIN d USING (tok), n),
         r AS (SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, tok) AS rnk FROM s)
         SELECT doc_id, rnk, tok, tfidf FROM r WHERE rnk <= 3"""),
    Query("tx15_zipf", (s, dir) =>
      // corpus-health check: Zipf slope of the vocabulary rank-frequency law
      graft.text.TextFunctions.zipfFit(Tables.documents(s, dir))
        .select(col("n_vocab"), round(col("zipf_slope"), 6).as("zipf_slope"),
          round(col("zipf_intercept"), 6).as("zipf_intercept"))).oracle(
      """WITH v AS (SELECT tok, count(*) AS n FROM (
             SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
           GROUP BY tok),
         r AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM v)
         SELECT count(*) AS n_vocab,
           round(regr_slope(ln(n::DOUBLE), ln(rnk::DOUBLE)), 6) AS zipf_slope,
           round(regr_intercept(ln(n::DOUBLE), ln(rnk::DOUBLE)), 6) AS zipf_intercept
         FROM r"""),
    Query("tx16_top_ngrams", (s, dir) =>
      // top-20 5-grams with doc frequency — boilerplate phrase detector
      graft.text.TextFunctions.topKNgrams(Tables.documents(s, dir), n = 5, k = 20)).oracle(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 4),
                 i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                      || ' ' || toks[i+4] || ' ' || toks[i+5])) AS ngram FROM w)
         SELECT ngram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
         FROM g GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20"""),
    Query("tx17_bigram_logprob", (s, dir) =>
      // corpus bigram-LM conditional perplexity proxy per document
      graft.text.TextFunctions.bigramLogProb(Tables.documents(s, dir))).oracle(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
           FROM t, UNNEST(range(1, len(toks))) AS u(i)),
         c AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
         v AS (SELECT bigram, sum(cnt) AS cb FROM c GROUP BY bigram),
         pv AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(cb) AS cu
           FROM v GROUP BY 1)
         SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams,
           round(-sum(cnt * ln(cb::DOUBLE / cu)) / sum(cnt), 6)
             AS avg_neg_logprob
         FROM c JOIN v USING (bigram)
           JOIN pv ON string_split(bigram, ' ')[1] = pv.w1
         GROUP BY doc_id"""),
    Query("tx18_top_ngrams_sketched", (s, dir) =>
      // frequent-candidate pre-filtered variant: identical result to tx16
      // whenever the true k-th count >= minCount (here the oracle applies
      // the same support floor), with a bounded-width sketch shuffle
      graft.text.TextFunctions.topKNgramsSketched(Tables.documents(s, dir),
        n = 5, k = 20, minCount = 3)).oracle(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 4),
                 i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                      || ' ' || toks[i+4] || ' ' || toks[i+5])) AS ngram FROM w)
         SELECT ngram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
         FROM g GROUP BY ngram HAVING count(*) >= 3
         ORDER BY n DESC, ngram LIMIT 20"""),
    Query("tx19_perplexity_gate", (s, dir) =>
      // CCNet-style LM quality gate: keep docs whose bigram perplexity is
      // at most 30 (corpus median ≈ 29.5 at sf0.01 — a non-trivial split);
      // the flag compares the ROUNDED perplexity, engine-stable
      graft.text.TextFunctions.lmPerplexityGate(Tables.documents(s, dir),
        maxPerplexity = 30.0)).oracle(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
           FROM t, UNNEST(range(1, len(toks))) AS u(i)),
         c AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
         v AS (SELECT bigram, sum(cnt) AS cb FROM c GROUP BY bigram),
         pv AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(cb) AS cu
           FROM v GROUP BY 1),
         d AS (SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams,
             round(-sum(cnt * ln(cb::DOUBLE / cu)) / sum(cnt), 6)
               AS avg_neg_logprob
           FROM c JOIN v USING (bigram)
             JOIN pv ON string_split(bigram, ' ')[1] = pv.w1
           GROUP BY doc_id)
         SELECT doc_id, n_bigrams, avg_neg_logprob,
           round(exp(avg_neg_logprob), 6) AS perplexity,
           round(exp(avg_neg_logprob), 6) <= 30.0 AS keep
         FROM d"""),
    Query("tx20_chunking", (s, dir) =>
      // context-window chunking: 32-token windows advancing by 24 (8-token
      // overlap); every token position covered, narrow map+explode
      graft.text.TextFunctions.chunkDocs(Tables.documents(s, dir),
        window = 32, overlap = 8)).oracle(
      // chunk indices enumerated per-row via unnest(range(...)) — bound
      // derived from each doc's own token count, no structural cap to
      // outgrow at a future SF
      """WITH ch AS (
           SELECT d.doc_id, string_split(d.text, ' ') AS toks,
             unnest(range(0,
               greatest(len(string_split(d.text, ' ')) - 1, 0) // 24 + 1))
               AS ci
           FROM documents d
         )
         SELECT doc_id, ci::INT AS chunk_idx, (ci * 24)::INT AS start_tok,
           least(len(toks) - ci * 24, 32)::INT AS n_chunk_tokens,
           array_to_string(list_slice(toks, ci * 24 + 1, ci * 24 + 32), ' ')
             AS chunk_text
         FROM ch"""),
    Query("tx21_packing_plan", (s, dir) =>
      // sequence packing: per-source token streams cut into 32-token bins;
      // one running-sum window per source, integral div for bin ids
      graft.text.TextFunctions.packingPlan(Tables.documents(s, dir),
        window = 32)).oracle(
      """SELECT source, doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           coalesce(sum(len(string_split(text, ' ')))
             OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             AS start_offset,
           (start_offset // 32)::BIGINT AS bin_id,
           (start_offset % 32)::BIGINT AS offset_in_bin,
           offset_in_bin + n_tokens > 32 AS straddles
         FROM documents"""),
    Query("tx22_winnowing", (s, dir) =>
      // MOSS winnowing: min polynomial 5-gram hash per 4-gram window,
      // distinct per doc; local fingerprints for substring-level dedup.
      // Certified on single-byte text only: the expression hashes UTF-8
      // bytes while DuckDB's ord() yields codepoints — they agree exactly
      // when octet_length = char length (the oracle gates identically)
      graft.text.TextFunctions.winnowingFingerprints(
        Tables.documents(s, dir).filter(col("text").isNotNull &&
          octet_length(col("text")) === length(col("text"))),
        k = 5, w = 4)).oracle(
      // position enumeration is per-row unnest(range(...)) (no structural
      // cap), window minima are a sliding window frame (O(n), not O(n·w)),
      // and the single-byte gate (strlen = length) keeps DuckDB's
      // codepoint-valued ord() aligned with Spark's UTF-8 byte hashing —
      // the two only coincide on single-byte text
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
         )
         SELECT DISTINCT doc_id, fingerprint FROM wins WHERE cnt = 4"""),
    Query("tx23_log_odds", (s, dir) =>
      // Fightin'-Words weighted log-odds with informative Dirichlet prior:
      // top-5 tokens that distinguish each source from the rest
      graft.text.TextFunctions.logOddsKeywords(Tables.documents(s, dir))).oracle(
      """WITH tok AS (
           SELECT source, unnest(string_split(text, ' ')) AS token
           FROM documents),
         c AS (
           SELECT source, token, count(*) AS y_wi
           FROM tok WHERE token <> '' GROUP BY 1, 2),
         tt AS (SELECT token, sum(y_wi) AS y_w FROM c GROUP BY 1),
         st AS (SELECT source, sum(y_wi) AS n_i FROM c GROUP BY 1),
         n AS (SELECT sum(n_i) AS n_total FROM st),
         sc AS (
           SELECT c.source, c.token, c.y_wi, tt.y_w, st.n_i, n.n_total,
             500.0 * tt.y_w / n.n_total AS aw
           FROM c JOIN tt USING (token) JOIN st USING (source) CROSS JOIN n),
         z AS (
           SELECT source, token, y_wi,
             (ln((y_wi + aw) / (n_i + 500.0 - y_wi - aw))
              - ln(((y_w - y_wi) + aw)
                   / ((n_total - n_i) + 500.0 - (y_w - y_wi) - aw)))
             / sqrt(1.0 / (y_wi + aw) + 1.0 / ((y_w - y_wi) + aw)) AS z
           FROM sc),
         r AS (
           SELECT source, token, y_wi, z,
             row_number() OVER (PARTITION BY source
               ORDER BY z DESC, token ASC) AS rank
           FROM z)
         SELECT source, rank::BIGINT AS rank, token, y_wi AS n_token,
           round(z, 6) AS log_odds_z
         FROM r WHERE rank <= 5"""),
    Query("tx24_code_detect", (s, dir) =>
      // code-vs-prose gate: regex-free symbol-ratio + polyglot keyword
      // signals, one codegen'd narrow projection
      graft.text.TextFunctions.codeDetect(Tables.documents(s, dir))).oracle(
      """WITH s AS (
           SELECT doc_id, length(text)::BIGINT AS n_chars,
             (length(text) - length(replace(text, '{', ''))
              + length(text) - length(replace(text, '}', ''))
              + length(text) - length(replace(text, '(', ''))
              + length(text) - length(replace(text, ')', ''))
              + length(text) - length(replace(text, ';', ''))
              + length(text) - length(replace(text, '=', ''))
              + length(text) - length(replace(text, '<', ''))
              + length(text) - length(replace(text, '>', ''))
              + length(text) - length(replace(text, '[', ''))
              + length(text) - length(replace(text, ']', ''))
              + length(text) - length(replace(text, '#', '')))::BIGINT
               AS n_code_symbols,
             ((CASE WHEN position('def ' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('void ' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('return ' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('import ' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('function ' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('class ' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('#include' IN text) > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN position('const ' IN text) > 0 THEN 1 ELSE 0 END)
             )::BIGINT AS keyword_hits
           FROM documents)
         SELECT doc_id, n_chars, n_code_symbols, keyword_hits,
           round(n_code_symbols::DOUBLE / n_chars, 6) AS code_symbol_ratio,
           (round(n_code_symbols::DOUBLE / n_chars, 6) > 0.05
            OR keyword_hits >= 2) AS is_code
         FROM s"""),
    Query("tx25_fertility", (s, dir) =>
      // tokenizer fertility per detected language: subword tokens per
      // whitespace word (the multilingual tokenizer-efficiency metric) —
      // composes two certified primitives (langId, bpeishTokenCount)
      graft.text.TextFunctions.langId(Tables.documents(s, dir))
        .withColumn("__words", size(split(col("text"), " ")))
        .withColumn("__sub", graft.text.TextFunctions.bpeishTokenCount(col("text")))
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__words")).cast("long").as("n_words"),
          sum(col("__sub")).cast("long").as("n_subtokens"))
        .withColumn("fertility", round(try_divide(
          col("n_subtokens").cast("double"), col("n_words").cast("double")), 6))).oracle(
      s"""$langIdCte
         SELECT p.lang_pred, count(*) AS n_docs,
           sum(len(string_split(d.text, ' ')))::BIGINT AS n_words,
           sum(len(regexp_extract_all(d.text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))::BIGINT AS n_subtokens,
           round(sum(len(regexp_extract_all(d.text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))::DOUBLE
             / sum(len(string_split(d.text, ' '))), 6) AS fertility
         FROM p JOIN documents d USING (doc_id)
         GROUP BY p.lang_pred"""),
    // tx26/tx27 coalesce NULL text to '' on BOTH sides (ADVICE r17): the
    // oracle's unnest-of-NULL-list would drop a null-text doc entirely
    // while the expression emits a null-signal row — a corpus containing
    // one null text would hash-mismatch despite both sides being "right"
    Query("tx26_ngram_repetition", (s, dir) =>
      // Gopher Table-A1 n-gram repetition filter signals: top n-gram char
      // fraction (n=2..4) + duplicate n-gram char fraction (n=5..10), all
      // nine from ONE codegen'd pass per doc — exchange-free
      graft.text.TextFunctions.ngramRepetitionSignals(Tables.documents(s, dir)
        .withColumn("text", coalesce(col("text"), lit(""))))).oracle(ngramRepOracle),
    Query("tx27_gopher_repetition_filter", (s, dir) =>
      // the published Table-A1 threshold gate over tx26's signals: 0/1 flag
      // per cap + keep; composes with tx11's word-shape gopherFilter
      graft.text.TextFunctions.gopherRepetitionFilter(Tables.documents(s, dir)
        .withColumn("text", coalesce(col("text"), lit(""))))).oracle(
      {
      val caps = Seq(
        "top_2gram_char_frac" -> 0.20, "top_3gram_char_frac" -> 0.18,
        "top_4gram_char_frac" -> 0.16, "dup_5gram_char_frac" -> 0.15,
        "dup_6gram_char_frac" -> 0.14, "dup_7gram_char_frac" -> 0.13,
        "dup_8gram_char_frac" -> 0.12, "dup_9gram_char_frac" -> 0.11,
        "dup_10gram_char_frac" -> 0.10)
      val flags = caps.map { case (c, cap) =>
        s"CASE WHEN $c <= $cap THEN 1 ELSE 0 END AS f_$c" }
      val keep = caps.map { case (c, cap) =>
        s"(CASE WHEN $c <= $cap THEN 1 ELSE 0 END)" }.mkString(" * ")
      s"""SELECT q.*, ${flags.mkString(",\n         ")},
         $keep AS keep
         FROM ($ngramRepOracle) q"""
    })
  )
}
