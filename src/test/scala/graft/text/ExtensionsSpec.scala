package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.sim.Similarity

/** Specs for the LLM-pipeline extensions: dedup, similarity, text, multimodal, io. */
class ExtensionsSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private lazy val docs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (2L, "completely different content about spark engines and data"),
      (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (4L, "el zorro marron salta sobre el perro perezoso en la casa")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs).collect()
    out.length shouldBe 4 // 0 and 3 merge
    val dup = out.find(_.getAs[Long]("dup_count") == 2L).get
    dup.getAs[Long]("keep_id") shouldBe 0L
  }

  test("minhash near-duplicates finds the near pair and skips unrelated docs") {
    val pairs = Dedup.minhashNearDuplicates(docs, k = 2, numHashes = 64,
      bands = 32, threshold = 0.5).collect()
    val ids = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    ids should contain(0L -> 3L) // exact dup always survives
    ids should contain(0L -> 1L) // near dup
    ids.exists { case (a, b) => a == 2L || b == 2L } shouldBe false
    ids.exists { case (a, b) => a == 4L || b == 4L } shouldBe false
  }

  test("simhash: identical docs have distance 0, near docs small, unrelated large") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigs(0L) shouldBe sigs(3L)
    java.lang.Long.bitCount(sigs(0L) ^ sigs(1L)) should be < 16
    java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) should be > 10
  }

  test("native WordShingles matches the HOF formulation and handles short texts") {
    val s = spark
    import s.implicits._
    val df = Seq("the quick brown fox jumps the quick brown fox again",
      "one two", "single").toDF("t")
    val F = org.apache.spark.sql.functions
    val toks = split(col("t"), " ")
    val viaHof = array_distinct(filter(
      transform(sequence(lit(0), F.size(toks) - 3),
        i => array_join(slice(toks, i + 1, lit(3)), " ")),
      x => x.isNotNull))
    val rows = df.filter(F.size(toks) >= 3)
      .select(Dedup.shingles(col("t"), 3).as("native"), viaHof.as("hof"))
      .collect()
    rows.foreach { r =>
      r.getSeq[String](0) shouldBe r.getSeq[String](1)
    }
    // short texts: sane empty array (the HOF form degenerates there)
    val short = df.filter(F.size(toks) < 3)
      .select(Dedup.shingles(col("t"), 3).as("native")).collect()
    short.foreach(r => r.getSeq[String](0) shouldBe empty)
  }

  test("jaccard column matches hand computation") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    df.select(Dedup.jaccard(col("x"), col("y"))).collect()(0).getDouble(0) shouldBe 0.5
  }

  test("brute-force knn returns correct neighbors on a hand-built corpus") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 2)
      .orderBy("rank").collect()
    out(0).getAs[Long]("neighbor_id") shouldBe 1L
    out(1).getAs[Long]("neighbor_id") shouldBe 2L
    out(0).getAs[Double]("cosine") should be > 0.99
  }

  test("IVF top-k recalls the true nearest neighbors on clustered vectors") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    // two tight clusters far apart: IVF must find same-cluster neighbors
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(10.0f, 0.0f, 0.0f, 0.0f) else Array(0.0f, 10.0f, 0.0f, 0.0f)
      (i.toLong, base.map(v => v + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), 5)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    val ivf = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 0), 5,
      nlist = 2, nprobe = 1)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    ivf shouldBe exact // same cluster -> full recall with 1 probe
    ivf.foreach(n => n % 2 shouldBe 0) // all neighbors from the even cluster
  }

  test("PQ top-k with full re-rank equals brute force exactly") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(vecs, q, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSet
    // rerank >= corpus: every item reaches the exact re-rank stage, so the
    // ADC approximation cannot change the result — must match brute force
    val pq = Similarity.pqTopK(vecs, q, 5, m = 4, codebookSize = 8, rerank = 40)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toSet
    pq shouldBe exact
  }

  test("PQ ADC scan keeps clustered neighbors with a small re-rank budget") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(29)
    // two tight clusters far apart, like the IVF spec: the compressed scan
    // must rank same-cluster items into the re-rank set
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(10.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
        else Array(0f, 10.0f, 0f, 0f, 0f, 0f, 0f, 0f)
      (i.toLong, base.map(v => v + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0)
    val exact = Similarity.bruteForceTopK(vecs, q, 5).collect()
      .map(_.getAs[Long]("neighbor_id")).toSet
    val pq = Similarity.pqTopK(vecs, q, 5, m = 4, codebookSize = 8, rerank = 10)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    pq shouldBe exact
    pq.foreach(n => n % 2 shouldBe 0)
  }

  test("native DotProduct matches the HOF formulation bit-exactly") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(21)
    val rows = (0 until 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1),
        Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }.toDF("id", "a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val both = rows.select(Similarity.dot(col("a"), col("b")).as("native"),
      hof.as("viaHof")).collect()
    both.foreach(r => r.getDouble(0) shouldBe r.getDouble(1)) // bit-exact
  }

  test("DotProduct widens float arrays and handles nulls/length mismatch") {
    val s = spark
    import s.implicits._
    // float side against double side, with a null element and short array
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Seq[Option[Double]](Some(10.0), None)))
      .toDF("f", "d")
    val out = df.select(Similarity.dot(col("f"), col("d")).as("dp")).collect()(0)
    out.getDouble(0) shouldBe 10.0 // only index 0 contributes
    // SQL registration of the native expression
    df.createOrReplaceTempView("dpv")
    spark.sql("SELECT dot_product(f, f) AS n2 FROM dpv").collect()(0)
      .getDouble(0) shouldBe (1.0 + 4.0 + 9.0)
  }

  test("hyperplane LSH buckets identical vectors together") {
    val s = spark
    import s.implicits._
    val vecs = Seq((0L, Seq(1.0, 2.0, 3.0)), (1L, Seq(1.0, 2.0, 3.0)),
      (2L, Seq(-1.0, -2.0, -3.0))).toDF("id", "v")
    val sigs = vecs.select(col("id"),
      Similarity.hyperplaneSignature(col("v"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigs(0L) shouldBe sigs(1L)
    sigs(0L) should not be sigs(2L) // antipodal: all bits flip
  }

  test("banded embedding LSH recalls clustered near-dups, skips far pairs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // 30 tight near-dup variants of one base vector (pairwise cosine ~1) and
    // 30 scattered vectors: banded LSH must recover the clustered pairs and
    // emit none of the scattered ones above the threshold
    val dim = 16
    val base = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    val clustered = (0 until 30).map { i =>
      (i.toLong, base.map(v => v + rnd.nextFloat() * 0.01f))
    }
    val scattered = (30 until 60).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }
    val vecs = (clustered ++ scattered).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDuplicates(vecs, threshold = 0.99,
      bands = 8, planesPerBand = 8).collect()
    val ids = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // every emitted pair is within the cluster, and recall is near-total:
    // P(band match) ~ (1-theta/pi)^8 with theta ~ 0 => ~1 per band
    ids.foreach { case (a, b) => a should be < 30L; b should be < 30L }
    ids.size should be >= 400 // of the 435 clustered pairs
  }

  test("clusterRepresentatives elects the best-quality doc per cluster (ties to min id)") {
    val s = spark
    import s.implicits._
    // planted graph: chain {1-2, 2-3} => cluster 1; {10-11} => cluster 10;
    // 20 is a singleton. Qualities make 2 and 3 tie (id breaks it to 2).
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 1L), (11L, 4L), (20L, 7L))
      .toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.clusterRepresentatives(docs, pairs, col("q"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    out(1L) shouldBe ((1L, 5L, false))
    out(2L) shouldBe ((1L, 9L, true))  // beats 3's equal quality on id
    out(3L) shouldBe ((1L, 9L, false))
    out(10L) shouldBe ((10L, 1L, false))
    out(11L) shouldBe ((10L, 4L, true))
    out(20L) shouldBe ((20L, 7L, true)) // singleton always kept
    out.count(_._2._3) shouldBe 3       // exactly one keep per cluster
  }

  test("leakageFreeSplit keeps every near-dup cluster on one side") {
    val s = spark
    import s.implicits._
    val docs = (1L to 40L).toDF("doc_id")
    // pair i with i+1 within blocks of 4: ten 4-doc clusters
    val pairs = (1L to 40L).filter(i => i % 4 != 0)
      .map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.leakageFreeSplit(docs, pairs, nSplits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    out.length shouldBe 40
    // cluster-atomicity: one distinct split per cluster, splits in range
    out.groupBy(_._2).values.foreach(g => g.map(_._3).distinct.length shouldBe 1)
    out.foreach(t => t._3 should (be >= 0 and be < 3))
    // the explicit modulo splitter replays exactly (the smp12 oracle path)
    val mod = Dedup.leakageFreeSplit(docs, pairs, nSplits = 10,
      splitOf = Some(c => pmod(c, lit(10))))
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    mod.foreach { case (cid, sp) => sp shouldBe (cid % 10).toInt }
  }

  test("embeddingLshConfig re-budgets bands when planes auto-scale (ADVICE r17)") {
    val sP = 1.0 - math.acos(0.95) / math.Pi
    def recall(pl: Int, bd: Int) = 1 - math.pow(1 - math.pow(sP, pl), bd)
    def config(n: Long, bands: Int, planes: Int) = {
      val c = Lsh.embeddingLshConfig(n, 0.95, bands, planes)
      c.recall shouldBe recall(c.planes, c.bands)
      (c.planes, c.bands)
    }
    // cert scales resolve to exactly (8, 8) — frozen artifacts unchanged
    config(2000, 0, 0) shouldBe ((8, 8))
    // 200k corpus: planes rise with occupancy; bands must rise too so the
    // per-pair recall at the threshold holds the (8, 8) baseline instead
    // of silently dropping (~0.99 -> ~0.84 at fixed 8 bands)
    val (p, b) = config(200000, 0, 0)
    p shouldBe 15
    b should be > 8
    recall(p, b) should be >= recall(8, 8) - 1e-9
    // pinned bands under auto planes: shape honored (stderr warning path)
    config(200000, 8, 0) shouldBe ((15, 8))
    // pinned planes + auto bands: budget honored without a corpus count
    val (p2, b2) = config(1, 0, 12)
    p2 shouldBe 12
    recall(p2, b2) should be >= recall(8, 8) - 1e-9
  }

  test("explainEmbeddingLshConfig surfaces the resolved shape and recall budget") {
    val s = spark
    import s.implicits._
    val emb = (0 until 20).map(i => (i.toLong, Array(i.toDouble, 1.0)))
      .toDF("vec_id", "embedding")
    val r = Dedup.explainEmbeddingLshConfig(emb).head()
    r.getLong(0) shouldBe 20L                        // n_vectors
    (r.getInt(1), r.getInt(2)) shouldBe ((8, 8))     // cert-scale shape
    r.getLong(3) shouldBe 256L                       // buckets_per_band
    r.getDouble(4) shouldBe r.getDouble(5) +- 1e-12  // recall == baseline
    // pinned bands under auto planes: the recall LOSS is visible as data
    val sP = 1.0 - math.acos(0.95) / math.Pi
    def recall(pl: Int, bd: Int) = 1 - math.pow(1 - math.pow(sP, pl), bd)
    val pinned = Dedup.explainEmbeddingLshConfig(emb, bands = 8,
      planesPerBand = 15).head()
    pinned.getDouble(4) shouldBe recall(15, 8) +- 1e-12
    pinned.getDouble(4) should be < pinned.getDouble(5)
  }

  test("language id picks the right stopword profile") {
    val out = TextFunctions.langId(docs).select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(0L) shouldBe "en"
    out(4L) shouldBe "es"
  }

  test("quality score is higher for normal prose than for garbage") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, "this is a perfectly normal sentence with some of the usual words in it and a few more tokens to reach length"),
      (1L, "!!! ### $$$ 123 456 789 @@@ %%%")
    ).toDF("doc_id", "text")
    val scores = TextFunctions.qualityScore(df).select("doc_id", "quality_score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    scores(0L) should be > scores(1L) + 0.3
  }

  test("rolling hash expression: deterministic, string-typed only, codegen-safe") {
    val out = docs.select(col("doc_id"), TextFunctions.rollingHash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out(0L) shouldBe out(3L) // same text, same hash
    out(0L) should not be out(1L)
    // matches the reference scalar implementation
    val expected = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
      .foldLeft(0L)((h, b) => h * RollingHash.Base + (b & 0xff))
    out(0L) shouldBe expected
  }

  test("multimodal feature extraction produces deterministic stub features") {
    import graft.multimodal.Multimodal
    val assets = Multimodal.assetsFromDocuments(docs.withColumn("n_chars",
      org.apache.spark.sql.functions.length(col("text")).cast("long")))
    val feats = Multimodal.extractFeatures(assets).collect()
    feats.length shouldBe 5
    val f0 = feats.find(_.getAs[Long]("asset_id") == 0L).get
    f0.getAs[Long]("n_bytes") shouldBe 43L
    f0.getAs[Double]("byte_entropy") should be > 0.0
    f0.getAs[scala.collection.Seq[Double]]("feature").length shouldBe 8
  }

  test("WAV assets decode through javax.sound.sampled to the generator formula") {
    import graft.multimodal.Multimodal
    val assets = Multimodal.wavAssetsFromDocuments(docs)
    val feats = Multimodal.extractFeatures(assets).collect()
    feats.length shouldBe 2 // doc_id % 3 == 1 -> ids 1 and 4
    for (f <- feats) {
      val id = f.getAs[Long]("asset_id")
      val n = (id % 50).toInt + 10
      val expectSum = (0 until n).map(i => ((id * 37 + i * 17) % 2003) - 1001).sum
      f.getAs[Long]("decoded_samples") shouldBe n.toLong
      f.getAs[Int]("sample_rate") shouldBe 8000
      f.getAs[Int]("channels") shouldBe 1
      f.getAs[Long]("sample_sum") shouldBe expectSum
    }
    // corrupt payload -> None fields, not a task kill
    val corrupt = assets.withColumn("payload",
      org.apache.spark.sql.functions.lit(Array[Byte](1, 2, 3)))
    val cf = Multimodal.extractFeatures(corrupt).collect()
    cf should not be empty
    cf.foreach { r => r.isNullAt(r.fieldIndex("sample_sum")) shouldBe true }
  }

  test("AVI assets decode through the RIFF walker to the generator formula") {
    import graft.multimodal.Multimodal
    val assets = Multimodal.aviAssetsFromDocuments(docs)
    val feats = Multimodal.extractFeatures(assets).collect()
    feats.length shouldBe 1 // doc_id % 3 == 2 -> id 2
    for (f <- feats) {
      val id = f.getAs[Long]("asset_id")
      val nFrames = (id % 6).toInt + 2
      val w = (id % 5).toInt + 2
      val h = (id % 4).toInt + 2
      val sampledFrames = 0 until nFrames by 2
      val expectSum = (for (fr <- sampledFrames; x <- 0 until w; y <- 0 until h)
        yield (id * 29 + fr * 11 + x * 7 + y * 13) % 256).sum
      f.getAs[Int]("video_frames") shouldBe nFrames
      f.getAs[Int]("video_width") shouldBe w
      f.getAs[Int]("video_height") shouldBe h
      f.getAs[Int]("video_sampled") shouldBe sampledFrames.size
      f.getAs[Long]("video_px_sum") shouldBe expectSum
    }
    // corrupt payload -> None fields, not a task kill
    val corrupt = assets.withColumn("payload",
      org.apache.spark.sql.functions.lit(Array[Byte](82, 73, 70, 70, 9)))
    Multimodal.extractFeatures(corrupt).collect().foreach { r =>
      r.isNullAt(r.fieldIndex("video_px_sum")) shouldBe true
    }
  }

  test("MJPEG frames really decode through javax.imageio") {
    import graft.multimodal.Multimodal
    val rows = Multimodal.mjpegDecodeTable(docs).collect()
    rows.length shouldBe 1 // doc_id % 3 == 2 -> id 2
    for (r <- rows) {
      val id = r.getAs[Long]("asset_id")
      val nFrames = (id % 6).toInt + 2
      val w = (id % 5).toInt + 8
      val h = (id % 4).toInt + 8
      r.getAs[Int]("frames_total") shouldBe nFrames
      r.getAs[Int]("width") shouldBe w
      r.getAs[Int]("height") shouldBe h
      r.getAs[Int]("frames_sampled") shouldBe (nFrames + 1) / 2
      // lossy codec: the decoded gray must track the source ramp within a
      // per-pixel error budget (mod-256 wrap edges ring the hardest)
      val sampled = 0 until nFrames by 2
      val truth = (for (f <- sampled; x <- 0 until w; y <- 0 until h)
        yield (id * 29 + f * 11 + x * 7 + y * 13) % 256).sum
      val nPx = sampled.size.toLong * w * h
      val got = r.getAs[Long]("px_sum")
      got should be > 0L
      math.abs(got - truth) should be <= 64L * nPx
    }
  }

  test("native-codec video (H.264 fourcc) is declined to null rows, never an error") {
    import graft.multimodal.Multimodal
    // take a VALID generated AVI and overwrite its strf biCompression
    // with the 'H264' fourcc — a well-formed container whose codec needs
    // native libraries the JVM lacks; the decode must decline (null
    // fields), exactly the documented codec-matrix boundary
    val toH264 = org.apache.spark.sql.functions.udf { (p: Array[Byte]) =>
      val q = p.clone()
      val i = q.indices.dropRight(3).find(i =>
        q(i) == 's' && q(i + 1) == 't' && q(i + 2) == 'r' && q(i + 3) == 'f').get
      // chunk data starts at i+8; biCompression sits 16 bytes in
      val o = i + 8 + 16
      q(o) = 'H'; q(o + 1) = '2'; q(o + 2) = '6'; q(o + 3) = '4'
      q
    }
    val assets = Multimodal.aviAssetsFromDocuments(docs)
      .withColumn("payload", toH264(org.apache.spark.sql.functions.col("payload")))
    val feats = Multimodal.extractFeatures(assets).collect()
    feats should not be empty
    feats.foreach { r =>
      r.isNullAt(r.fieldIndex("video_px_sum")) shouldBe true
      r.isNullAt(r.fieldIndex("video_frames")) shouldBe true
    }
  }

  test("decoder fuzz: random payload mutations never kill a task") {
    import graft.multimodal.Multimodal
    // seeded mutations of VALID containers (bit flips, truncations, size
    // corruption) driven through the public decode paths — every row must
    // come back decoded-or-null, never a thrown task
    val rnd = new scala.util.Random(42)
    def mutate(p: Array[Byte]): Array[Byte] = rnd.nextInt(3) match {
      case 0 => // flip up to 8 random bytes
        val c = p.clone()
        (0 until 1 + rnd.nextInt(8)).foreach { _ =>
          c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte }
        c
      case 1 => p.take(rnd.nextInt(p.length)) // truncate anywhere
      case _ => // corrupt a declared chunk size field
        val c = p.clone()
        if (c.length > 8) c(4 + rnd.nextInt(4)) = 0xff.toByte
        c
    }
    val spark2 = spark
    import spark2.implicits._
    val families = Seq(
      (Multimodal.aviAssetsFromDocuments(docs), "video", "video/x-msvideo"),
      (Multimodal.mjpegAssetsFromDocuments(docs), "video", "video/x-msvideo"),
      (Multimodal.pngAssetsFromDocuments(docs), "image", "image/png"),
      (Multimodal.wavAssetsFromDocuments(docs), "audio", "audio/wav"))
    for ((assets, modality, mime) <- families) {
      val base = assets.select("payload").head().getAs[Array[Byte]]("payload")
      val variants = (0 until 60).map(i => (i.toLong, mutate(base)))
      val df = variants.toDF("asset_id", "payload")
        .withColumn("modality", org.apache.spark.sql.functions.lit(modality))
        .withColumn("mime", org.apache.spark.sql.functions.lit(mime))
        .withColumn("meta_duration_ms", org.apache.spark.sql.functions.lit(0L))
      // must complete without a task failure; decode either succeeds or nulls
      Multimodal.extractFeatures(df).collect().length shouldBe 60
    }
  }

  test("resize maps really-decoded pixels through the pinned floor index map") {
    import graft.multimodal.Multimodal
    val assets = Multimodal.pngAssetsFromDocuments(docs)
    val rows = Multimodal.resizeGray(assets, 4, 4).collect()
    rows.length shouldBe 2 // doc_id % 3 == 0 -> ids 0 and 3
    for (r <- rows) {
      val id = r.getAs[Long]("asset_id")
      val w = (id % 7).toInt + 1
      val h = (id % 5).toInt + 1
      val expect = (for (x <- 0 until 4; y <- 0 until 4)
        yield (id * 31 + (x * w / 4) * 7 + (y * h / 4) * 13) % 256).sum
      r.getAs[Int]("src_width") shouldBe w
      r.getAs[Int]("src_height") shouldBe h
      r.getAs[Long]("resized_px_sum") shouldBe expect
    }
    // corrupt payload -> null features, the row survives
    val corrupt = assets.withColumn("payload",
      org.apache.spark.sql.functions.lit(Array[Byte](3, 1, 4)))
    Multimodal.resizeGray(corrupt, 4, 4).collect().foreach { r =>
      r.isNullAt(r.fieldIndex("resized_px_sum")) shouldBe true
    }
  }

  test("audio window energy sums squared decoded samples per ragged frame") {
    import graft.multimodal.Multimodal
    val assets = Multimodal.wavAssetsFromDocuments(docs)
    val rows = Multimodal.audioWindowEnergy(assets, 16).collect()
    rows should not be empty
    for (r <- rows) {
      val id = r.getAs[Long]("asset_id")
      val w = r.getAs[Int]("window_idx")
      val n = (id % 50).toInt + 10
      val idx = (16 * w) until math.min(n, 16 * w + 16)
      val expect = idx.map { i =>
        val s = ((id * 37 + i * 17) % 2003) - 1001; s * s
      }.sum
      r.getAs[Long]("energy") shouldBe expect
      r.getAs[Int]("n_samples") shouldBe idx.size
    }
    // corrupt payload -> zero rows, not a task kill
    val corrupt = assets.withColumn("payload",
      org.apache.spark.sql.functions.lit(Array[Byte](1)))
    Multimodal.audioWindowEnergy(corrupt, 16).count() shouldBe 0L
  }

  test("chunking covers every token with exact overlap; mix weights hit shares") {
    import graft.text.TextFunctions
    val chunks = TextFunctions.chunkDocs(docs, window = 4, overlap = 1)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"),
        r.getAs[Int]("start_tok"), r.getAs[Int]("n_chunk_tokens"),
        r.getAs[String]("chunk_text")))
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, text) <- texts) {
      val toks = text.split(" ")
      val cs = chunks.filter(_._1 == id).sortBy(_._2)
      // starts advance by step, first covers 0, last reaches the final token
      cs.map(_._3) shouldBe (0 until toks.length by 3).toArray
      (cs.last._3 + cs.last._4) shouldBe toks.length
      // chunk text is the exact token slice; consecutive chunks share 1 token
      for ((_, _, start, n, ct) <- cs)
        ct shouldBe toks.slice(start, start + n).mkString(" ")
      for (Array(a, b) <- cs.sliding(2) if a._4 == 4)
        b._3 shouldBe a._3 + 3
    }
    val mw = TextFunctions.mixWeights(docs.withColumn("source",
        concat(lit("s"), pmod(col("doc_id"), lit(2)))),
        Map("s0" -> 0.8, "s1" -> 0.2), budgetTokens = 10L)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("rate")))).toMap
    // tiny budget: rate = share*budget/tokens, capped at 1
    mw("s0")._2 shouldBe math.min(1.0, 0.8 * 10 / mw("s0")._1) +- 1e-12
    mw("s1")._2 shouldBe math.min(1.0, 0.2 * 10 / mw("s1")._1) +- 1e-12
    // packing: offsets are the exclusive running sum, bins index the stream
    val pk = TextFunctions.packingPlan(docs.withColumn("source", lit("s")),
        window = 5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("start_offset"), r.getAs[Long]("bin_id"),
        r.getAs[Long]("offset_in_bin"), r.getAs[Boolean]("straddles")))
      .sortBy(_._1)
    pk.head._3 shouldBe 0L
    for (Array(a, b) <- pk.sliding(2)) b._3 shouldBe a._3 + a._2
    for ((_, n, off, bin, inBin, straddles) <- pk) {
      bin shouldBe off / 5
      inBin shouldBe off % 5
      straddles shouldBe (inBin + n > 5)
    }
  }

  test("winnowing: shared substrings >= k+w-1 share a fingerprint, edits stay local") {
    import graft.text.TextFunctions
    val s = spark
    import s.implicits._
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "a completely different preamble yet the quick brown fox appears"),
      (2L, "zz unrelated content with no overlap at all qqqq ww"),
      (3L, "the quick brown fox jumps over the lazy dog tonight") // exact dup
    ).toDF("doc_id", "text")
    val fps = TextFunctions.winnowingFingerprints(d, k = 5, w = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // guarantee: docs 0 and 1 share "the quick brown fox" (19 >= 8 chars)
    (byDoc(0L) & byDoc(1L)) should not be empty
    // unrelated docs share nothing
    (byDoc(0L) & byDoc(2L)) shouldBe empty
    // identical docs -> identical fingerprint sets (position-independent)
    byDoc(3L) shouldBe byDoc(0L)
    // locality: an edit at the END leaves the head fingerprints intact
    val edited = Seq((9L, "the quick brown fox jumps over the lazy cat headline"))
      .toDF("doc_id", "text")
    val editedFps = TextFunctions.winnowingFingerprints(edited, 5, 4)
      .collect().map(_.getLong(1)).toSet
    (byDoc(0L) & editedFps).size should be >= (byDoc(0L).size / 2)
    // native expression: SQL-registered, matches the scalar reference math,
    // and empty below the k+w-1 minimum length
    val sqlMins = spark.sql(
      "SELECT winnowing_mins('abcdefgh', 5, 4) AS m, winnowing_mins('abcdefg', 5, 4) AS e")
      .head()
    val hs = (0 to 3).map { i =>
      "abcdefgh".getBytes("UTF-8").slice(i, i + 5)
        .foldLeft(0L)((h, b) => (h * 257 + (b & 0xff)) % 1000000007L)
    }
    sqlMins.getAs[scala.collection.Seq[Long]]("m") shouldBe Seq(hs.min)
    sqlMins.getAs[scala.collection.Seq[Long]]("e") shouldBe empty
  }

  test("SQL kernel functions reject a non-literal integer argument by name") {
    val s = spark
    import s.implicits._
    Seq(("a b c d", 2)).toDF("t", "n").createOrReplaceTempView("nonlit")
    for (call <- Seq("hashed_word_shingles(t, n)", "winnowing_mins(t, n, 2)",
        "uncovered_tokens(split(t, ' '), array(0), n)")) {
      val fn = call.takeWhile(_ != '(')
      val e = intercept[IllegalArgumentException] {
        spark.sql(s"SELECT $call FROM nonlit").collect()
      }
      e.getMessage should include(fn)
    }
  }

  test("pca projection recovers a hand-built dominant axis, centered") {
    val s = spark
    import s.implicits._
    // points on the line (t, 2t) in 4-d: ALL variance lies on one axis
    val pts = Seq.tabulate(20)(i =>
      (i.toLong, Seq(i.toDouble, 2.0 * i, 0.0, 0.0))).toDF("vec_id", "embedding")
    val proj = graft.sim.Embeddings.pcaProject(pts, 2).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Double]]("proj"))
      .toMap
    // PC2 carries nothing; PC1 projections are centered t*sqrt(5) offsets
    for ((id, p) <- proj) {
      math.abs(p(1)) should be < 1e-9
      math.abs(math.abs(p(0)) - math.abs((id - 9.5) * math.sqrt(5.0))) should be < 1e-9
    }
    proj.values.map(_.head).sum should be (0.0 +- 1e-9)
  }

  test("quantizer training sample cap is byte-aware, not just row-counted") {
    import graft.sim.Similarity
    // dim 64: the 256 MB budget allows 512k rows, so the row cap binds
    Similarity.boundedSampleRows(100000, 64) shouldBe 100000
    // dim 4096: 256 MB / (4096*8 B) = 8192 rows — the BYTE budget binds
    // (a row-only cap would collect ~3 GB onto the driver here)
    Similarity.boundedSampleRows(100000, 4096) shouldBe 8192
    // degenerate giant dim still yields a usable (>=1 row) sample
    Similarity.boundedSampleRows(100000, Int.MaxValue) shouldBe 1
  }

  test("series parquet + index sidecar round trip") {
    import graft.core.IrregularDateTimeIndex
    import graft.io.TimeSeriesIO
    val s = spark
    import s.implicits._
    val idx = IrregularDateTimeIndex(Array(10L, 20L, 30L))
    val df = Seq(("a", Seq(1.0, 2.0, 3.0)), ("b", Seq(4.0, 5.0, 6.0)))
      .toDF("key", "series")
    val path = java.nio.file.Files.createTempDirectory("graft-io").toString + "/series"
    TimeSeriesIO.writeSeriesParquet(df, idx, path)
    val (back, idx2) = TimeSeriesIO.readSeriesParquet(spark, path)
    idx2 shouldBe idx
    back.count() shouldBe 2
  }

  test("streaming EWMA matches the batch kernel on the same data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingResample
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(String, Double)]
    val smoothed = StreamingResample.streamingEwma(
      input.toDF().toDF("key", "value"), alpha = 0.3)
    val query = smoothed.writeStream.format("memory").queryName("ewma_out")
      .outputMode("update").start()
    try {
      input.addData(("a", 1.0), ("a", 2.0), ("a", 3.0))
      query.processAllAvailable()
      val got = s.sql("SELECT smoothed FROM ewma_out ORDER BY smoothed DESC LIMIT 1")
        .collect()(0).getDouble(0)
      val expect = graft.models.EWMAModel(0.3)
        .addTimeDependentEffects(Array(1.0, 2.0, 3.0)).last
      got shouldBe expect +- 1e-9
    } finally query.stop()
  }
}
