package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sim._
import graft.text._

/**
 * The equivalence harness for the native Catalyst kernels: every kernel runs
 * under interpreted eval (`NO_CODEGEN`, whole-stage codegen off) and under
 * generated code (`CODEGEN_ONLY`, no fallback), over one seeded input table,
 * and the two must agree value for value (doubles by
 * `java.lang.Double.compare`, so NaN and -0.0 count). The inputs carry NaN,
 * ±Inf, null elements, a null row, empty arrays and strings, non-ASCII text
 * and planted distance ties (duplicate centroids and sub-centroids, vectors
 * equal to a centroid).
 *
 * Each mode runs in its own `newSession()`, so no other suite sees its conf.
 */
class NativeKernelSpec extends AnyFunSuite with SparkTestSession {

  private def session(wholeStage: Boolean, factoryMode: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    s.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }
  private lazy val interpreted = session(wholeStage = false, "NO_CODEGEN")
  private lazy val compiled = session(wholeStage = true, "CODEGEN_ONLY")

  private val Dims = 8
  private val PqM = 4
  private val PqSub = 2
  private val PqK = 4

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("toks", ArrayType(StringType, containsNull = false)),
    StructField("vd", ArrayType(DoubleType, containsNull = true)),
    StructField("vd2", ArrayType(DoubleType, containsNull = true)),
    StructField("vf", ArrayType(FloatType, containsNull = true)),
    StructField("v8", ArrayType(DoubleType, containsNull = true)),
    StructField("la", ArrayType(LongType, containsNull = false)),
    StructField("lb", ArrayType(LongType, containsNull = false)),
    StructField("starts", ArrayType(IntegerType, containsNull = false)),
    StructField("codes", ArrayType(IntegerType, containsNull = true))))

  private val rnd = new scala.util.Random(20261017)

  /** Duplicate rows 0/2 plant exact ties for every vector. */
  private val centers: Array[Array[Double]] = {
    val cs = Array.fill(5, Dims)(rnd.nextGaussian())
    cs(2) = cs(0).clone()
    cs
  }
  private val codebooks: Array[Array[Array[Double]]] = {
    val cbs = Array.fill(PqM, PqK, PqSub)(rnd.nextGaussian())
    cbs.foreach(cb => cb(3) = cb(1).clone())
    cbs
  }
  private val luts: Array[Array[Double]] = Array.fill(3, PqM * PqK)(rnd.nextGaussian())

  private val vocab = Seq("the", "fox", "dog", "a", "naïve", "日本語", "😀", "über")

  private def text(i: Int): String = i % 7 match {
    case 1 => ""
    case 2 => "naïve café 日本語 😀 über naïve café"
    case 3 => "the  dog" // double space: an empty token
    case 4 => "a a a a a a a a a a a a"
    case _ => Seq.fill(1 + rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
  }

  private def special(v: Array[Double], i: Int): Seq[Any] = i % 6 match {
    case _ if v.length < 2 => v.toSeq
    case 1 => v.toSeq.updated(0, Double.NaN)
    case 2 => v.toSeq.updated(0, Double.PositiveInfinity).updated(1, Double.NegativeInfinity)
    case 3 => v.toSeq.updated(v.length / 2, null)
    case 4 => v.toSeq.updated(0, -0.0)
    case _ => v.toSeq
  }

  private def vector(i: Int, n: Int): Seq[Any] =
    if (i % 9 == 5) Seq.empty
    else if (i % 9 == 7) centers(i % centers.length).toSeq.take(n)
    else special(Array.fill(n)(rnd.nextGaussian()), i)

  /** Both sides empty on every fifth row: Jaccard's null result. */
  private def sortedLongs(i: Int): Seq[Long] =
    if (i % 5 == 0) Seq.empty
    else Seq.fill(rnd.nextInt(10))(rnd.nextInt(20).toLong).distinct.sorted

  private val rows: Seq[Row] = Row.fromSeq(0L +: Seq.fill(schema.length - 1)(null)) +:
    (1 until 48).map { i =>
      val t = text(i)
      val toks = t.split(" ", -1).toSeq
      val vd = vector(i, 1 + rnd.nextInt(Dims))
      Row(i.toLong, t, toks, vd,
        vector(i + 1, rnd.nextInt(Dims + 3)),
        vd.map(x => if (x == null) null else x.asInstanceOf[Double].toFloat),
        special(Array.fill(Dims)(rnd.nextGaussian()), i),
        sortedLongs(i), sortedLongs(i),
        Seq.fill(rnd.nextInt(4))(rnd.nextInt(toks.length)).distinct.sorted,
        Seq.tabulate(PqM)(b => if (i % 8 == 3 && b == 1) null else rnd.nextInt(PqK)))
    }

  private def frame(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x, y) => x == y
  }

  private def run(s: SparkSession, kernel: Column, codegen: Boolean): Seq[Row] = {
    val df = frame(s).select(col("id"), kernel.as("out"))
    val plan = df.queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) == codegen, plan.toString)
    df.collect().toSeq.sortBy(_.getLong(0))
  }

  private lazy val centersBc = spark.sparkContext.broadcast(centers)
  private lazy val codebooksBc = spark.sparkContext.broadcast(codebooks)
  private lazy val lutsBc = spark.sparkContext.broadcast(luts)

  private val kernels = scala.collection.mutable.ArrayBuffer.empty[() => Column]

  /** Registers one harness case: `build` under both modes, value for value. */
  private def kernel(name: String)(build: => Column): Unit = {
    kernels += (() => build)
    test(s"$name: interpreted eval and generated code agree") {
      val evalRows = run(interpreted, build, codegen = false)
      val genRows = run(compiled, build, codegen = true)
      assert(evalRows.length == rows.length && genRows.length == rows.length)
      assert(evalRows.head.isNullAt(1) && genRows.head.isNullAt(1), "null row")
      assert(evalRows.count(!_.isNullAt(1)) > rows.length / 2, "mostly non-null")
      evalRows.zip(genRows).foreach { case (e, g) =>
        assert(same(e.get(1), g.get(1)),
          s"id=${e.getLong(0)}: eval ${e.get(1)} vs codegen ${g.get(1)}")
      }
    }
  }

  kernel("rolling_hash")(RollingHash.ofColumn(col("text")))
  kernel("winnowing_mins")(WinnowingMins.ofColumn(col("text"), 4, 3))
  kernel("feature_hash_counts")(FeatureHashCounts.ofColumn(col("text"), 16))
  kernel("feature_hash_embedding")(FeatureHashEmbedding.ofColumn(col("text"), 16))
  kernel("word_shingles")(WordShingles.ofColumn(col("text"), 2))
  kernel("word_ngrams")(WordNgrams.ofColumn(col("toks"), 3))
  kernel("token_chunks")(TokenChunks.ofColumn(col("toks"), 3))
  kernel("hashed_word_shingles")(HashedWordShingles.ofColumn(col("text"), 2))
  kernel("jaccard_sorted_longs")(JaccardSortedLongs.ofColumns(col("la"), col("lb")))
  kernel("uncovered_tokens")(UncoveredTokens.ofColumns(col("toks"), col("starts"), 2))
  kernel("minhash_signature")(MinhashSignatureFromText.ofColumn(col("text"), 2, 16, 7))
  kernel("ngram_repetition")(NgramRepetition.ofColumn(col("text")))
  kernel("dot_product(double, double)")(DotProduct.ofColumns(col("vd"), col("vd2")))
  kernel("dot_product(float, double)")(DotProduct.ofColumns(col("vf"), col("vd2")))
  kernel("normalized_vector(double)")(NormalizedVector.ofColumn(col("vd")))
  kernel("normalized_vector(float)")(NormalizedVector.ofColumn(col("vf")))
  kernel("hyperplane_band_signatures(double)")(
    HyperplaneBandSignatures.ofColumn(col("vd"), 4, 8, 7))
  kernel("hyperplane_band_signatures(float)")(
    HyperplaneBandSignatures.ofColumn(col("vf"), 4, 8, 7))
  kernel("nearest_centroid")(NearestCentroid.ofColumn(col("vd"), centersBc))
  kernel("nearest_centroids")(NearestCentroids.ofColumn(col("vd"), centersBc, 3))
  kernel("pq_encode")(PqEncode.ofColumn(col("v8"), codebooksBc, PqSub))
  kernel("pq_lut")(PqLut.ofColumn(col("v8"), codebooksBc, PqSub, PqK))
  kernel("pq_scores")(PqScores.ofColumn(col("codes"), lutsBc, PqM, PqK))

  test("quantizer and hyperplane kernels read a null element as 0.0") {
    val v = Seq.tabulate(Dims)(i => (i + 1) * 0.25)
    val vecSchema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    val vecRows = Seq(Row(0L, v.updated(3, null)), Row(1L, v.updated(3, 0.0)))
    for (s <- Seq(interpreted, compiled); k <- Seq(
        HyperplaneBandSignatures.ofColumn(col("v"), 4, 8, 7),
        NearestCentroid.ofColumn(col("v"), centersBc),
        NearestCentroids.ofColumn(col("v"), centersBc, 3),
        PqEncode.ofColumn(col("v"), codebooksBc, PqSub),
        PqLut.ofColumn(col("v"), codebooksBc, PqSub, PqK))) {
      val out = s.createDataFrame(s.sparkContext.parallelize(vecRows, 1), vecSchema)
        .select(col("id"), k).collect().sortBy(_.getLong(0)).map(_.get(1))
      assert(same(out(0), out(1)), s"$k: ${out.toSeq}")
    }
  }

  test("the harness covers every native kernel") {
    val classes = kernels.map(k => GraftSqlBridge.expression(k()).getClass).toSet
    assert(classes.forall(classOf[NativeKernel].isAssignableFrom))
    assert(classes.size == 20)
  }
}
