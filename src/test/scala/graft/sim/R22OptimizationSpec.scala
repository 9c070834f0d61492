package graft.sim

import graft.Tables
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.hashing.MurmurHash3

/** r22 optimization round: focused pins for the kernels whose INTERNALS
  * changed for performance (scalar UDF → native codegen'd expression;
  * boxed GenericArrayData → UnsafeArrayData). Each test asserts the
  * optimized path is bit-identical to the formulation it replaced — the
  * round's contract: never change what a query computes.
  */
class R22OptimizationSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    Tables.configure(SparkSession.builder().master("local[4]")
      .appName("r22-opt-spec"), "4").getOrCreate()

  private def planeComponent(plane: Int, dim: Int, seed: Int): Double = {
    val h = MurmurHash3.productHash((plane, dim, seed))
    h.toDouble / Int.MaxValue.toDouble
  }

  /** The exact scalar-UDF signature logic Similarity used before r22. */
  private def udfSignature(v: Seq[Double], planes: Int, seed: Int): Long = {
    val mat = Array.tabulate(planes, v.length)((p, i) => planeComponent(p, i, seed))
    var sig = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i) * mat(p)(i); i += 1 }
      if (s > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  private def udfBandSignatures(v: Seq[Double], bands: Int, ppb: Int,
      seed: Int): Seq[Long] = {
    val mat = Array.tabulate(bands * ppb, v.length)(
      (p, i) => planeComponent(p, i, seed))
    (0 until bands).map { b =>
      var sig = 0L
      var p = 0
      while (p < ppb) {
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i) * mat(b * ppb + p)(i); i += 1 }
        if (s > 0) sig |= (1L << p)
        p += 1
      }
      sig
    }
  }

  private def vecDf(rows: Seq[(Long, Array[Double])]) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  private val testVecs: Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(11)
    (1L to 40L).map(i => i -> Array.fill(16)(rnd.nextGaussian())) ++
      Seq(41L -> Array.fill(16)(0.0),            // all-zero: every s == 0
        42L -> Array.fill(16)(-1e-300),          // sign-boundary tiny values
        43L -> Array.empty[Double])              // empty vector
  }

  // --- hyperplane signatures: native expression vs the old scalar UDF -----

  test("HyperplaneSignature matches the scalar-UDF formulation bit-exactly") {
    // hyperplaneSignature is the one-band HyperplaneBandSignatures kernel
    for (planes <- Seq(1, 12, 63); seed <- Seq(7, 13)) {
      val got = vecDf(testVecs)
        .select(col("id"), Similarity.hyperplaneSignature(col("v"), planes, seed))
        .orderBy("id").collect().map(r => r.getLong(0) -> r.getLong(1))
      got.zip(testVecs.sortBy(_._1)).foreach { case ((id, sig), (eid, v)) =>
        assert(id == eid)
        assert(sig == udfSignature(v.toSeq, planes, seed),
          s"id=$id planes=$planes seed=$seed")
      }
    }
  }

  test("HyperplaneBandSignatures matches the scalar-UDF formulation bit-exactly") {
    for ((bands, ppb) <- Seq((8, 8), (16, 4), (1, 63))) {
      val got = vecDf(testVecs)
        .select(col("id"),
          Similarity.hyperplaneBandSignatures(col("v"), bands, ppb))
        .orderBy("id").collect()
      got.zip(testVecs.sortBy(_._1)).foreach { case (r, (eid, v)) =>
        assert(r.getLong(0) == eid)
        assert(r.getSeq[Long](1) == udfBandSignatures(v.toSeq, bands, ppb, 7),
          s"id=$eid bands=$bands ppb=$ppb")
      }
    }
  }

  test("hyperplane signature widens FLOAT input exactly like the UDF's implicit cast") {
    val rows = Seq(Row(1L, Array(0.25f, -1.5f, 3.75f, 0.125f)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val sig = df.select(Similarity.hyperplaneSignature(col("v"), 12, 7))
      .head().getLong(0)
    assert(sig == udfSignature(
      Seq(0.25f, -1.5f, 3.75f, 0.125f).map(_.toDouble), 12, 7))
  }

  // --- nearest-centroid assignment: native expression vs UDF semantics ----

  private val centers: Array[Array[Double]] = Array(
    Array(1.0, 0.0), Array(0.0, 1.0),
    Array(1.0, 0.0), // duplicate of center 0: distance TIES on every input
    Array(-1.0, -1.0))

  /** The old UDF logic: full distance vector, stable sortBy on distance. */
  private def udfNearest(v: Seq[Double], cs: Array[Array[Double]],
      nprobe: Int): Seq[Int] = {
    val ds = cs.map { c =>
      var d = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - c(i); d += t * t; i += 1 }
      d
    }
    ds.zipWithIndex.sortBy(_._1).take(nprobe).map(_._2).toSeq
  }

  /** Center 0 holds +Inf: (+Inf, 0) is NaN from it and +Inf from the rest. */
  private val infFirst: Array[Array[Double]] = Array(
    Array(Double.PositiveInfinity, 0.0), Array(0.0, 1.0), Array(1.0, 0.0))

  test("NearestCentroid / NearestCentroids match the UDF's stable tie order") {
    val vecs = Seq(1L -> Array(0.9, 0.1), 2L -> Array(0.0, 0.0),
      3L -> Array(-0.5, -0.5), 4L -> Array(0.5, 0.5),
      5L -> Array(Double.NaN, 0.0), // every distance NaN
      6L -> Array(1e200, 1e200),    // every distance overflows to +Inf
      7L -> Array(Double.PositiveInfinity, 0.0)) // NaN before +Inf on infFirst
    val df = vecDf(vecs)
    for (cs <- Seq(centers, infFirst); bc = spark.sparkContext.broadcast(cs); np <- 1 to 4) {
      val got = df.select(col("id"),
          NearestCentroids.ofColumn(col("v"), bc, np),
          NearestCentroid.ofColumn(col("v"), bc))
        .orderBy("id").collect()
      got.zip(vecs.sortBy(_._1)).foreach { case (r, (eid, v)) =>
        val exp = udfNearest(v.toSeq, cs, np)
        assert(r.getSeq[Int](1) == exp, s"id=$eid nprobe=$np")
        assert(r.getInt(2) == exp.head, s"id=$eid scalar")
      }
    }
  }

  // --- PQ encode / LUT / scores: native expressions vs UDF replicas -------

  test("PqEncode, PqLut and PqScores match the scalar-UDF formulations") {
    val m = 4; val sub = 4; val cb = 3
    val rnd = new scala.util.Random(5)
    val codebooks: Array[Array[Array[Double]]] =
      Array.fill(m, cb, sub)(rnd.nextGaussian())
    // plant an exact tie: codebook 0's code 2 duplicates code 0
    codebooks(0)(2) = codebooks(0)(0).clone()
    val vecs = (1L to 20L).map(i => i -> Array.fill(m * sub)(rnd.nextGaussian())) ++
      Seq(21L -> codebooks.flatMap(_(0)).toArray) // exact centroid hit -> tie
    def udfEncode(v: Seq[Double]): Seq[Int] =
      (0 until m).map { b =>
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < cb) {
          var d = 0.0; var i = 0
          while (i < sub) { val t = v(b * sub + i) - codebooks(b)(j)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        best
      }
    def udfLut(v: Seq[Double]): Seq[Double] =
      (0 until m).flatMap(b => (0 until cb).map { j =>
        var s = 0.0; var i = 0
        while (i < sub) { s += v(b * sub + i) * codebooks(b)(j)(i); i += 1 }
        s
      })
    val bc = spark.sparkContext.broadcast(codebooks)
    val df = vecDf(vecs)
    val got = df.select(col("id"),
        PqEncode.ofColumn(col("v"), bc, sub),
        PqLut.ofColumn(col("v"), bc, sub, cb))
      .orderBy("id").collect()
    got.zip(vecs.sortBy(_._1)).foreach { case (r, (eid, v)) =>
      assert(r.getSeq[Int](1) == udfEncode(v.toSeq), s"id=$eid encode")
      r.getSeq[Double](2).zip(udfLut(v.toSeq)).foreach { case (a, b) =>
        assert(java.lang.Double.compare(a, b) == 0, s"id=$eid lut") }
    }
    // scores: every (codes row) x (lut) pair, exact fold order
    val luts = vecs.take(3).map(t => udfLut(t._2.toSeq).toArray).toArray
    val bcL = spark.sparkContext.broadcast(luts)
    import spark.implicits._
    val codesDf = got.map(r => (r.getLong(0), r.getSeq[Int](1)))
      .toSeq.toDF("id", "codes")
    val scores = codesDf.select(col("id"),
        PqScores.ofColumn(col("codes"), bcL, m, cb))
      .orderBy("id").collect()
    scores.foreach { r =>
      val codes = got.find(_.getLong(0) == r.getLong(0)).get.getSeq[Int](1)
      val exp = luts.map { lut =>
        var s = 0.0; var b = 0
        while (b < m) { s += lut(b * cb + codes(b)); b += 1 }
        s
      }
      r.getSeq[Double](1).zip(exp).foreach { case (a, b) =>
        assert(java.lang.Double.compare(a, b) == 0, s"id=${r.getLong(0)} scores") }
    }
  }

  // --- pqTopK driver-collect guard (VERDICT r21 #3) ------------------------

  test("pqTopK's bounded-queries guard computes the byte-budget cap and throws loudly") {
    // 1 KB budget at m=8, cb=16 -> 1024 / (8*16*8) = 1 query max
    assert(Similarity.pqMaxBroadcastQueries(8, 16, budget = 1024L) == 1)
    // default budget comfortably above any bench fixture
    assert(Similarity.pqMaxBroadcastQueries(8, 16) >= 100000)
    Similarity.requireBoundedQueries(1, 8, 16, budget = 1024L) // fits
    val e = intercept[IllegalArgumentException] {
      Similarity.requireBoundedQueries(2, 8, 16, budget = 1024L)
    }
    assert(e.getMessage.contains("bounded query set"))
  }

  // --- featureHashEmbedding small-dim path: kernel evaluated ONCE ---------

  test("featureHashEmbedding small-dim plan evaluates the kernel once (ADVICE r21)") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "  "), (3L, "x y")).toDF("doc_id", "text")
    val out = graft.text.TextFunctions.featureHashEmbedding(df, dim = 16)
    val plan = out.queryExecution.executedPlan.toString
    val hits = "feature_hash_embedding".r.findAllIn(plan).length
    assert(hits == 1, s"kernel appears $hits times in the executed plan:\n$plan")
    // rows + values unchanged: token-less doc dropped, vectors normalized
    val rows = out.orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-12)
    }
  }

  // --- WordNgrams: native kernel vs the transform(sequence...) chain ------

  test("WordNgrams matches the transform/concat_ws chain bit-exactly") {
    import spark.implicits._
    val docs = Seq(
      "alpha beta gamma delta",
      "one",
      "",
      "a  b",          // doubled space -> empty token kept by tokens()
      "x y")
      .toDF("text")
      .select(split(col("text"), " ").as("__toks"))
    for (n <- Seq(1, 2, 3)) {
      val w = col("__toks")
      val old = when(size(w) >= n,
          transform(sequence(lit(1), size(w) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*)))
        .otherwise(array().cast("array<string>"))
      val got = docs.select(old.as("o"),
        graft.text.WordNgrams.ofColumn(w, n).as("g")).collect()
      got.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n row=$r")
      }
    }
  }

  // --- minhash banding: static array unroll vs the transform lambda -------

  test("static banding unroll matches transform(sequence(0, bands-1)) bit-exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val df = (1 to 30).map(_ => Array.fill(64)(rnd.nextLong() & Long.MaxValue))
      .toDF("sig")
    val bands = 16
    val rowsPerBand = expr(s"size(sig) div $bands")
    val old = transform(sequence(lit(0), lit(bands - 1)),
      b => hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))
    val neu = graft.text.Lsh.minhashBandKeys(col("sig"), 64, bands)
    df.select(old.as("o"), neu.as("n")).collect().foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1))
    }
  }

  // --- MinhashSignatureFromText: native kernel vs the old UDF body --------

  test("MinhashSignatureFromText matches the scalar-UDF formulation bit-exactly") {
    import spark.implicits._
    val docs = Seq("a b c d e f", "one", "", "x y z x y z",
      "tok1 tok2  tok3", "trailing space ").toDF("text")
    for ((k, nh, seed) <- Seq((3, 64, 42), (2, 16, 7))) {
      // the exact r01-r21 UDF closure
      val rng = new java.util.Random(seed)
      val as = Array.fill(nh)(rng.nextLong() | 1L)
      val bs = Array.fill(nh)(rng.nextLong())
      val f = udf { (text: String) =>
        val toks = text.split(' ')
        val sig = Array.fill(nh)(Long.MaxValue)
        if (toks.length >= k) {
          val th = toks.map(t =>
            scala.util.hashing.MurmurHash3.stringHash(t).toLong & 0xffffffffL)
          var i = 0
          while (i + k <= toks.length) {
            var base = th(i)
            var j = 1
            while (j < k) { base = base * 1000003L + th(i + j); j += 1 }
            var m = 0
            while (m < nh) {
              val h = (as(m) * base + bs(m)) & Long.MaxValue
              if (h < sig(m)) sig(m) = h
              m += 1
            }
            i += 1
          }
        }
        sig
      }
      val got = docs.select(f(col("text")).as("o"),
        graft.text.MinhashSignatureFromText.ofColumn(col("text"), k, nh, seed)
          .as("g")).collect()
      got.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"k=$k nh=$nh seed=$seed"))
    }
  }

  // --- TokenChunks: native kernel vs the transform chunker ----------------

  test("TokenChunks matches the transform/array_join chunker bit-exactly") {
    import spark.implicits._
    val docs = Seq("a b c d e f g", "one", "exactly four tokens here",
      "a  b", "1 2 3 4 5 6 7 8 9 10").toDF("text")
      .select(split(col("text"), " ").as("__toks"))
    for (w <- Seq(1, 3, 20)) {
      val old = transform(
        sequence(lit(0), ceil(size(col("__toks")).cast("double") / w)
          .cast("int") - 1),
        i => array_join(slice(col("__toks"), i * w + 1, lit(w)), " "))
      val got = docs.select(old.as("o"),
        graft.text.TokenChunks.ofColumn(col("__toks"), w).as("g")).collect()
      got.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"w=$w"))
    }
  }

  // --- rc07 codebook sharing: pairsWithCodebook == semanticDuplicates -----

  test("fitCodebook + pairsWithCodebook reproduce semanticDuplicates exactly") {
    val rnd = new scala.util.Random(3)
    import spark.implicits._
    val emb = (0L until 120L).map { i =>
      val c = (i % 3).toInt
      i -> Array.tabulate(8)(d => (if (d % 3 == c) 1.0 else 0.0) +
        rnd.nextGaussian() * 0.2)
    }.toDF("vec_id", "embedding")
    for (np <- Seq(1, 2)) {
      val full = SemDedup.semanticDuplicates(emb, k = 4, threshold = 0.2,
          nprobe = np)
        .orderBy("id_a", "id_b").collect().map(_.toSeq)
      val base = SemDedup.normalizedBase(emb, "vec_id", "embedding")
      val (_, centers) = SemDedup.fitCodebook(base, 4, 42L, 100000)
      val shared = SemDedup.pairsWithCodebook(base, centers, 0.2, np)
        .orderBy("id_a", "id_b").collect().map(_.toSeq)
      assert(full.toSeq == shared.toSeq, s"nprobe=$np")
    }
  }
}
