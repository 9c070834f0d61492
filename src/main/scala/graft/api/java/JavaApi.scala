package graft.api.java

import java.{lang => jl, util => ju}

import org.apache.spark.sql.{Column, DataFrame}

import graft.core.DateTimeIndex
import graft.models.ModelOps
import graft.ts.{RollAlign, TimeSeriesOps => TS}

/**
 * Java-friendly facade over the engine (reference parity surface:
 * api/java/JavaTimeSeriesRDD.scala:1-303 wraps the RDD API for Java
 * callers). graft is DataFrame-first, so most of the library is already
 * Java-usable; this facade removes the remaining Scala-isms — default
 * arguments, `Option`, `Map[..,(..,..)]` tuples, `Enumeration` values and
 * `Column => Column` lambdas — behind explicit-argument methods taking
 * plain strings and `java.util` collections. Compiled-from-Java usage is
 * proven by [[graft.api.java.JavaApiExample]] (a .java source).
 */
object JavaTimeSeriesOps {

  private[java] def alignOf(name: String): RollAlign.Value = name.toLowerCase match {
    case "left" => RollAlign.Left
    case "center" => RollAlign.Center
    case "right" => RollAlign.Right
    case other => throw new IllegalArgumentException(s"no such alignment: $other")
  }

  def lags(df: DataFrame, maxLag: Int, trim: Boolean,
      key: String, ts: String, value: String): DataFrame =
    TS.lags(df, maxLag, trim, key, ts, value)

  /** Per-key lag spec; each key maps to [keepOriginal, maxLag]. */
  def lagsPerKey(df: DataFrame, spec: ju.Map[String, Array[AnyRef]],
      key: String, ts: String, value: String): DataFrame = {
    val sSpec = scala.collection.immutable.Map.newBuilder[String, (Boolean, Int)]
    spec.forEach { (k, v) =>
      sSpec += k -> (v(0).asInstanceOf[jl.Boolean].booleanValue(),
        v(1).asInstanceOf[jl.Number].intValue())
    }
    TS.lags(df, sSpec.result(), key, ts, value)
  }

  def differences(df: DataFrame, n: Int, key: String, ts: String, value: String): DataFrame =
    TS.differences(df, n, key, ts, value)

  def quotients(df: DataFrame, n: Int, key: String, ts: String, value: String): DataFrame =
    TS.quotients(df, n, key, ts, value)

  def returnRates(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    TS.returnRates(df, key, ts, value)

  /** alignment: "left" | "center" | "right". */
  def rollSum(df: DataFrame, n: Int, alignment: String,
      key: String, ts: String, value: String): DataFrame =
    TS.rollSum(df, n, alignOf(alignment), key, ts, value)

  def rollMean(df: DataFrame, n: Int, alignment: String,
      key: String, ts: String, value: String): DataFrame =
    TS.rollMean(df, n, alignOf(alignment), key, ts, value)

  /** method: previous|next|nearest|linear|value|zero|linearTime. */
  def fill(df: DataFrame, method: String, fillValue: Double,
      key: String, ts: String, value: String): DataFrame =
    TS.fill(df, method, fillValue, key, ts, value)

  def slice(df: DataFrame, startNanos: Long, endNanos: Long, ts: String): DataFrame =
    TS.slice(df, startNanos, endNanos, ts)

  def downsample(df: DataFrame, n: Int, phase: Int,
      key: String, ts: String, value: String): DataFrame =
    TS.downsample(df, n, phase, key, ts, value)

  def trimLeading(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    TS.trimLeading(df, key, ts, value)

  def trimTrailing(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    TS.trimTrailing(df, key, ts, value)

  def filterStartingBefore(df: DataFrame, tTicks: Long,
      key: String, ts: String, value: String): DataFrame =
    TS.filterStartingBefore(df, tTicks, key, ts, value)

  def filterEndingAfter(df: DataFrame, tTicks: Long,
      key: String, ts: String, value: String): DataFrame =
    TS.filterEndingAfter(df, tTicks, key, ts, value)

  def removeInstantsWithNaNs(df: DataFrame,
      key: String, ts: String, value: String): DataFrame =
    TS.removeInstantsWithNaNs(df, key, ts, value)

  def seriesStats(df: DataFrame, key: String, value: String): DataFrame =
    TS.seriesStats(df, key, value)

  def autocorr(df: DataFrame, lagsWanted: ju.List[jl.Integer],
      key: String, ts: String, value: String): DataFrame = {
    val s = scala.collection.mutable.ArrayBuffer.empty[Int]
    lagsWanted.forEach(i => s += i.intValue())
    TS.autocorr(df, s.toSeq, key, ts, value)
  }

  /** aggregate: sum|mean|min|max|count|first|last, picked exactly as the
    * Scala and Python by-name overloads pick it. */
  def resample(df: DataFrame, widthNanos: Long, aggregate: String,
      closedRight: Boolean, stampRight: Boolean, originNanos: Long,
      key: String, ts: String, value: String): DataFrame =
    TS.resample(df, widthNanos, aggregate, closedRight, stampRight,
      originNanos, key, ts, value)

  /** fillMethod may be null for no fill. */
  def align(df: DataFrame, index: DateTimeIndex, fillMethod: String,
      key: String, ts: String, value: String): DataFrame =
    TS.align(df, index, Option(fillMethod), key, ts, value)

  def asofJoin(left: DataFrame, right: DataFrame, valueOut: String,
      toleranceNanos: Long, key: String, ts: String, rightValue: String): DataFrame =
    TS.asofJoin(left, right, valueOut, toleranceNanos, key, ts, rightValue)

  def toInstants(df: DataFrame, keys: ju.List[String],
      key: String, ts: String, value: String): DataFrame = {
    val s = scala.collection.mutable.ArrayBuffer.empty[String]
    keys.forEach(k => s += k)
    TS.toInstants(df, s.toSeq, key, ts, value)
  }

  def toSeries(df: DataFrame, index: DateTimeIndex,
      key: String, ts: String, value: String): DataFrame =
    TS.toSeries(df, index, key, ts, value)

  def fromSeries(df: DataFrame, index: DateTimeIndex,
      key: String, seriesCol: String): DataFrame =
    TS.fromSeries(df, index, key, seriesCol)

  /** Explicit-argument index factory (Scala's default zone arg is not
    * callable from Java). */
  def irregularIndex(instantsNanos: Array[Long]): DateTimeIndex =
    graft.core.DateTimeIndex.irregular(instantsNanos)

  /** Whole-series kernel per key (reference JavaTimeSeriesRDD.mapSeries). */
  def mapSeries(df: DataFrame, f: ju.function.Function[Array[Double], Array[Double]],
      key: String, seriesCol: String): DataFrame =
    TS.mapSeries(df, v => f.apply(v), key, seriesCol)

  /** [[mapSeries]] with the key visible to the kernel (reference
    * mapSeriesWithKey: TimeSeriesRDD.scala:255-260). */
  def mapSeriesWithKey(df: DataFrame,
      f: ju.function.BiFunction[String, Array[Double], Array[Double]],
      key: String, seriesCol: String): DataFrame =
    TS.mapSeriesWithKey(df, (k, v) => f.apply(k, v), key, seriesCol)
}

/** Java facade over the per-key model fits (all results as DataFrames). */
object JavaModelOps {

  def fitArima(df: DataFrame, p: Int, d: Int, q: Int,
      key: String, ts: String, value: String): DataFrame =
    ModelOps.fitArima(df, p, d, q, key, ts, value).toDF()

  def autoFitArima(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    ModelOps.autoFitArima(df, key, ts, value).toDF()

  def forecastArima(df: DataFrame, p: Int, d: Int, q: Int, h: Int,
      key: String, ts: String, value: String): DataFrame =
    ModelOps.forecastArima(df, p, d, q, h, key, ts, value).toDF()

  def fitEwma(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    ModelOps.fitEwma(df, key, ts, value).toDF()

  def fitAr(df: DataFrame, p: Int, key: String, ts: String, value: String): DataFrame =
    ModelOps.fitAr(df, p, key, ts, value).toDF()

  def fitGarch(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    ModelOps.fitGarch(df, key, ts, value).toDF()

  def fitEgarch(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    ModelOps.fitEgarch(df, key, ts, value).toDF()

  def fitHoltWinters(df: DataFrame, period: Int,
      key: String, ts: String, value: String): DataFrame =
    ModelOps.fitHoltWinters(df, period, key, ts, value).toDF()

  def adf(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    ModelOps.adfAll(df, key, ts, value).toDF()

  def kpss(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    ModelOps.kpssAll(df, key, ts, value).toDF()

  def ljungBox(df: DataFrame, lags: Int,
      key: String, ts: String, value: String): DataFrame =
    ModelOps.ljungBoxAll(df, lags, key, ts, value).toDF()

  def holtSmoothed(df: DataFrame, alpha: Double, beta: Double,
      key: String, ts: String, value: String): DataFrame =
    ModelOps.holtSmoothed(df, alpha, beta, key, ts, value).toDF()

  /** ARX(p, xMaxLag) fit on co-sampled (key, ts, y, x) rows (reference
    * models/AutoregressionX.scala:48-130). */
  def fitArx(df: DataFrame, p: Int, xMaxLag: Int, includeCurrentX: Boolean,
      key: String, ts: String, y: String, x: String): DataFrame =
    ModelOps.fitArx(df, p, xMaxLag, includeCurrentX, key, ts, y, x).toDF()

  /** Per-key AR(p) fit + TimeSeriesFilter residuals (reference
    * Autoregression removeTimeDependentEffects). */
  def arFilterResiduals(df: DataFrame, p: Int,
      key: String, ts: String, value: String): DataFrame =
    ModelOps.arFilterResiduals(df, p, key, ts, value).toDF()
}

/** Java facade over dedup / similarity / text analysis. */
object JavaPipelineOps {

  def dedupExact(df: DataFrame, textCol: String, idCol: String,
      canonical: Boolean): DataFrame =
    graft.text.Dedup.exact(df, textCol, idCol, canonical)

  def minhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      k: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame =
    graft.text.Dedup.minhashNearDuplicates(df, textCol, idCol, k, numHashes,
      bands, threshold)

  def simhashNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int): DataFrame =
    graft.text.Dedup.simhashNearDuplicates(df, textCol, idCol, maxHamming)

  def embeddingNearDuplicates(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int, planesPerBand: Int): DataFrame =
    graft.text.Dedup.embeddingNearDuplicates(df, idCol, vecCol, threshold,
      bands, planesPerBand)

  /** One-row explain of the embedding LSH auto shape + recall budget
    * (r20): what embeddingNearDuplicates will resolve for this corpus. */
  def explainEmbeddingLshConfig(df: DataFrame, idCol: String,
      threshold: Double, bands: Int, planesPerBand: Int): DataFrame =
    graft.text.Dedup.explainEmbeddingLshConfig(df, idCol, threshold,
      bands, planesPerBand)

  def semanticDecontaminate(corpus: DataFrame, holdout: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame =
    graft.text.Dedup.semanticDecontaminate(corpus, holdout, idCol, vecCol,
      threshold)

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String, vecCol: String): DataFrame =
    graft.sim.Similarity.bruteForceTopK(corpus, queries, k, idCol, vecCol)

  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int,
      probeBits: Int, idCol: String, vecCol: String): DataFrame =
    graft.sim.Similarity.lshTopK(corpus, queries, k, planes, probeBits, idCol, vecCol)

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int,
      nprobe: Int, idCol: String, vecCol: String): DataFrame =
    graft.sim.Similarity.ivfTopK(corpus, queries, k, nlist, nprobe, idCol, vecCol)

  def qualityScore(df: DataFrame, textCol: String): DataFrame =
    graft.text.TextFunctions.qualityScore(df, textCol)

  def langId(df: DataFrame, textCol: String, outCol: String): DataFrame =
    graft.text.TextFunctions.langId(df, textCol, outCol)

  def redact(df: DataFrame, textCol: String,
      denylist: ju.List[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.text.TextFunctions.redact(df, textCol, denylist.asScala.toSeq)
  }

  def hashSample(df: DataFrame, bound: String, textCol: String): DataFrame =
    graft.text.TextFunctions.hashSample(df, bound, textCol)

  def decontaminate(train: DataFrame, holdout: DataFrame, k: Int,
      textCol: String, idCol: String): DataFrame =
    graft.text.Dedup.decontaminate(train, holdout, k, textCol, idCol)

  def contaminationScore(train: DataFrame, holdout: DataFrame, k: Int,
      textCol: String, idCol: String): DataFrame =
    graft.text.Dedup.contaminationScore(train, holdout, k, textCol, idCol)

  def seriesPercentiles(df: DataFrame, percentiles: ju.List[jl.Double],
      key: String, value: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.ts.TimeSeriesOps.seriesPercentiles(df,
      percentiles.asScala.toSeq.map(_.doubleValue()), key, value)
  }

  // ---------------- round-4 additions ----------------

  def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame =
    graft.graph.ConnectedComponents.run(vertices, edges)

  def dupClusters(corpus: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    graft.text.Dedup.dupClusters(corpus, pairs, idCol)

  /** Quality-aware canonical election: `qualityCol` names a column of
    * `docs`; exactly one keep=true per near-dup cluster (r18). */
  def clusterRepresentatives(docs: DataFrame, pairs: DataFrame,
      qualityCol: String, idCol: String): DataFrame =
    graft.text.Dedup.clusterRepresentatives(docs, pairs,
      org.apache.spark.sql.functions.col(qualityCol), idCol)

  /** Cluster-atomic split assignment with the default seeded-hash
    * splitter (r18). */
  def leakageFreeSplit(docs: DataFrame, pairs: DataFrame, nSplits: Int,
      idCol: String): DataFrame =
    graft.text.Dedup.leakageFreeSplit(docs, pairs, nSplits, idCol)

  def duplicateSpans(df: DataFrame, k: Int, textCol: String, idCol: String): DataFrame =
    graft.text.Dedup.duplicateSpans(df, k, textCol, idCol)

  /** Boilerplate-span removal: cleaned text with every word covered by a
    * k-gram shared across >= minDocFreq docs dropped (r18). */
  def removeDuplicatedSpans(df: DataFrame, k: Int, minDocFreq: Int,
      textCol: String, idCol: String): DataFrame =
    graft.text.Dedup.removeDuplicatedSpans(df, k, minDocFreq, textCol, idCol)

  /** GPT-style sequence packing (r18): global token offsets + first/last
    * packed sequence per doc at the given capacity. */
  def sequencePacking(df: DataFrame, capacity: Long, textCol: String,
      idCol: String): DataFrame =
    graft.text.Packing.sequencePacking(df, capacity, textCol, idCol)

  /** Packing planner summary (r18): totals, sequence count, tail waste. */
  def packingSummary(df: DataFrame, capacity: Long, textCol: String,
      idCol: String): DataFrame =
    graft.text.Packing.packingSummary(df, capacity, textCol, idCol)

  /** Per-source mixture plan under a token budget with an epoch cap (r18). */
  def mixturePlan(df: DataFrame, weights: java.util.Map[String, java.lang.Double],
      tokenBudget: Long, maxEpochs: Double, strata: String, text: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.text.TextFunctions.mixturePlan(df,
      weights.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
      tokenBudget, maxEpochs, strata, text)
  }

  /** Deterministic epoch-upsampled mixture materialization (r18). */
  def mixtureUpsample(df: DataFrame, weights: java.util.Map[String, java.lang.Double],
      tokenBudget: Long, maxEpochs: Double, strata: String, text: String,
      idCol: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.text.TextFunctions.mixtureUpsample(df,
      weights.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
      tokenBudget, maxEpochs, strata, text, idCol)
  }

  /** No-split next-fit bin packing per id-domain (r18; domainSize 0 =
    * auto quantile-range domains since r20). */
  def binPacking(df: DataFrame, capacity: Long, textCol: String,
      idCol: String, domainSize: Long): DataFrame =
    graft.text.Packing.binPacking(df, capacity, textCol, idCol, domainSize)

  /** Deterministic md5-ordered corpus shuffle (r20): reproducible global
    * training position per key tuple. */
  def corpusShuffle(df: DataFrame, keyCols: java.util.List[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.text.Packing.corpusShuffle(df, keyCols.asScala.toSeq)
  }

  /** Reproducible token-budget prefix sample of the md5 shuffle order
    * (r20): same documents every run, total >= budget. */
  def tokenBudgetSample(df: DataFrame, budget: Long, textCol: String,
      idCol: String): DataFrame =
    graft.text.Packing.tokenBudgetSample(df, budget, textCol, idCol)

  /** Persisted near-dup index builder (r18): (id, sig, sh) rows to write
    * as parquet and dedup later batches against. */
  def minhashIndex(df: DataFrame, textCol: String, idCol: String,
      k: Int, numHashes: Int): DataFrame =
    graft.text.Dedup.minhashIndex(df, textCol, idCol, k, numHashes)

  /** Incremental near-dup of a new batch against a [[minhashIndex]] and
    * itself — equals the full pipeline restricted to pairs touching the
    * batch (r18). */
  def incrementalMinhashNearDuplicates(batch: DataFrame, index: DataFrame,
      textCol: String, idCol: String, k: Int, numHashes: Int, bands: Int,
      threshold: Double): DataFrame =
    graft.text.Dedup.incrementalMinhashNearDuplicates(batch, index, textCol,
      idCol, k, numHashes, bands, threshold)

  /** Persisted exact-dedup fingerprint index (r18). */
  def exactIndex(df: DataFrame, textCol: String, idCol: String,
      canonical: Boolean): DataFrame =
    graft.text.Dedup.exactIndex(df, textCol, idCol, canonical)

  /** Incremental exact dedup of a batch against an [[exactIndex]] (r18). */
  def exactIncremental(batch: DataFrame, index: DataFrame, textCol: String,
      idCol: String, canonical: Boolean): DataFrame =
    graft.text.Dedup.exactIncremental(batch, index, textCol, idCol, canonical)

  def repetitionSignals(df: DataFrame, textCol: String, idCol: String): DataFrame =
    graft.text.TextFunctions.repetitionSignals(df, textCol, idCol)

  def stratifiedSample(df: DataFrame, rates: ju.Map[String, jl.Double],
      strata: String, textCol: String, defaultRate: Double): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.text.TextFunctions.stratifiedSample(df,
      rates.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap,
      strata, textCol, defaultRate)
  }

  def mixWeights(df: DataFrame, targetShares: ju.Map[String, jl.Double],
      budgetTokens: Long, strata: String, textCol: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.text.TextFunctions.mixWeights(df,
      targetShares.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap,
      budgetTokens, strata, textCol)
  }

  def chunkDocs(df: DataFrame, window: Int, overlap: Int, idCol: String,
      textCol: String): DataFrame =
    graft.text.TextFunctions.chunkDocs(df, window, overlap, idCol, textCol)

  def packingPlan(df: DataFrame, window: Int, strata: String, idCol: String,
      textCol: String): DataFrame =
    graft.text.TextFunctions.packingPlan(df, window, strata, idCol, textCol)

  def winnowingFingerprints(df: DataFrame, k: Int, w: Int, idCol: String,
      textCol: String): DataFrame =
    graft.text.TextFunctions.winnowingFingerprints(df, k, w, idCol, textCol)

  def winnowingDuplication(df: DataFrame, k: Int, w: Int, idCol: String,
      textCol: String): DataFrame =
    graft.text.TextFunctions.winnowingDuplication(df, k, w, idCol, textCol)

  def distributionDrift(df: DataFrame, refFilter: Column, curFilter: Column,
      strata: String): DataFrame =
    graft.text.TextFunctions.distributionDrift(df, refFilter, curFilter, strata)

  def stratumCapSample(df: DataFrame, cap: Int, strata: String,
      idCol: String, textCol: String): DataFrame =
    graft.text.TextFunctions.stratumCapSample(df, cap, strata, idCol, textCol)

  def bottomKSample(df: DataFrame, k: Int, idCol: String,
      textCol: String): DataFrame =
    graft.text.TextFunctions.bottomKSample(df, k, idCol, textCol)

  def centroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    graft.sim.Embeddings.centroids(df, groupCol, vecCol)

  def quantize8bit(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    graft.sim.Embeddings.quantize8bit(df, idCol, vecCol)

  def zScores(df: DataFrame, key: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.zScores(df, key, value)

  def outliers(df: DataFrame, threshold: Double, key: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.outliers(df, threshold, key, value)

  def rollStd(df: DataFrame, n: Int, alignment: String,
      key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.rollStd(df, n, JavaTimeSeriesOps.alignOf(alignment),
      key, ts, value)

  def seriesBeta(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.seriesBeta(df, key, ts, value)

  def rollMedian(df: DataFrame, n: Int, alignment: String,
      key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.rollMedian(df, n, JavaTimeSeriesOps.alignOf(alignment),
      key, ts, value)

  def rollQuantile(df: DataFrame, n: Int, q: Double, alignment: String,
      key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.rollQuantile(df, n, q,
      JavaTimeSeriesOps.alignOf(alignment), key, ts, value)

  def seasonalDecompose(df: DataFrame, period: Int,
      key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.seasonalDecompose(df, period, key, ts, value)

  def cusum(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.cusum(df, key, ts, value)

  def cusumChangepoint(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.cusumChangepoint(df, key, ts, value)

  def crossCorrelation(df: DataFrame, maxLag: Int,
      key: String, ts: String, x: String, y: String): DataFrame =
    graft.ts.TimeSeriesOps.crossCorrelation(df, maxLag, key, ts, x, y)

  def theilSen(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    graft.stats.RobustRegression.theilSen(df, key, ts, value)

  def sessionize(df: DataFrame, gapUs: Long, key: String, ts: String): DataFrame =
    graft.events.EventOps.sessionize(df, gapUs, key, ts)

  def sessions(df: DataFrame, gapUs: Long,
      key: String, ts: String, value: String): DataFrame =
    graft.events.EventOps.sessions(df, gapUs, key, ts, value)

  def funnel(df: DataFrame, steps: ju.List[String],
      key: String, ts: String, eventType: String): DataFrame =
    graft.events.EventOps.funnel(df,
      scala.jdk.CollectionConverters.ListHasAsScala(steps).asScala.toSeq,
      key, ts, eventType)

  def conversionLatency(df: DataFrame, from: String, to: String,
      key: String, ts: String, eventType: String): DataFrame =
    graft.events.EventOps.conversionLatency(df, from, to, key, ts, eventType)

  def retention(df: DataFrame, key: String, ts: String): DataFrame =
    graft.events.EventOps.retention(df, key, ts)

  /** bucketUs = 0 sizes the bucket from the data (longest interval
    * length) — the safe default; see EventOps.intervalJoin's contract. */
  def intervalJoin(points: DataFrame, intervals: DataFrame, bucketUs: Long,
      key: String, ts: String, start: String, end: String): DataFrame =
    graft.events.EventOps.intervalJoin(points, intervals, bucketUs, key, ts, start, end)

  def gopherFilter(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.text.TextFunctions.gopherFilter(df, idCol, textCol)

  def ngramRepetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.text.TextFunctions.ngramRepetitionSignals(df, idCol, textCol)

  def gopherRepetitionFilter(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.text.TextFunctions.gopherRepetitionFilter(df, idCol, textCol)

  def topKBigrams(df: DataFrame, k: Int, textCol: String): DataFrame =
    graft.text.TextFunctions.topKBigrams(df, k, textCol)

  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int,
      codebookSize: Int, rerank: Int, idCol: String, vecCol: String): DataFrame =
    graft.sim.Similarity.pqTopK(corpus, queries, k, m, codebookSize, rerank,
      idCol, vecCol)

  def winsorize(df: DataFrame, lo: Double, hi: Double,
      key: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.winsorize(df, lo, hi, key, value)

  def linearTrend(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.linearTrend(df, key, ts, value)

  def rollRange(df: DataFrame, n: Int, alignment: String,
      key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.rollRange(df, n, JavaTimeSeriesOps.alignOf(alignment),
      key, ts, value)

  def transitions(df: DataFrame, gapUs: Long,
      key: String, ts: String, eventType: String): DataFrame =
    graft.events.EventOps.transitions(df, gapUs, key, ts, eventType)

  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.text.TextFunctions.unigramLogProb(df, idCol, textCol)

  def tfidfTopTerms(df: DataFrame, k: Int, idCol: String, textCol: String): DataFrame =
    graft.text.TextFunctions.tfidfTopTerms(df, k, idCol, textCol)

  def inertia(df: DataFrame, groupCol: String, vecCol: String, idCol: String): DataFrame =
    graft.sim.Embeddings.inertia(df, groupCol, vecCol, idCol)

  def seasonalStrength(df: DataFrame, period: Int,
      key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.seasonalStrength(df, period, key, ts, value)

  def maxDrawdown(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.maxDrawdown(df, key, ts, value)

  def gapStats(df: DataFrame, key: String, ts: String): DataFrame =
    graft.ts.TimeSeriesOps.gapStats(df, key, ts)

  def valueEntropy(df: DataFrame, bins: Int, key: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.valueEntropy(df, bins, key, value)

  def meanCrossings(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.meanCrossings(df, key, ts, value)

  def pacf(df: DataFrame, maxLag: Int, key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.pacf(df, maxLag, key, ts, value)

  def cointegrationEG(df: DataFrame, key: String, ts: String,
      y: String, x: String): DataFrame =
    graft.ts.TimeSeriesOps.cointegrationEG(df, key, ts, y, x)

  def grangerF(df: DataFrame, key: String, ts: String,
      y: String, x: String): DataFrame =
    graft.ts.TimeSeriesOps.grangerF(df, key, ts, y, x)

  def rollCorr(df: DataFrame, n: Int, alignment: String,
      key: String, ts: String, x: String, y: String): DataFrame =
    graft.ts.TimeSeriesOps.rollCorr(df, n, JavaTimeSeriesOps.alignOf(alignment),
      key, ts, x, y)

  def shingleCommonality(df: DataFrame, k: Int, idCol: String, textCol: String): DataFrame =
    graft.text.TextFunctions.shingleCommonality(df, k, idCol, textCol)

  def topKNgrams(df: DataFrame, n: Int, k: Int, idCol: String, textCol: String): DataFrame =
    graft.text.TextFunctions.topKNgrams(df, n, k, idCol, textCol)

  def qualityTierSample(df: DataFrame, hiThreshold: Double, midThreshold: Double,
      hiRate: Double, midRate: Double, lowRate: Double,
      idCol: String, textCol: String): DataFrame =
    graft.text.TextFunctions.qualityTierSample(df, hiThreshold, midThreshold,
      hiRate, midRate, lowRate, idCol, textCol)

  def centroidSimilarity(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    graft.sim.Embeddings.centroidSimilarity(df, groupCol, vecCol)

  def interEventStats(df: DataFrame, key: String, ts: String,
      eventType: String): DataFrame =
    graft.events.EventOps.interEventStats(df, key, ts, eventType)

  def madStats(df: DataFrame, key: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.madStats(df, key, value)

  def bursts(df: DataFrame, windowUs: Long, key: String, ts: String): DataFrame =
    graft.events.EventOps.bursts(df, windowUs, key, ts)

  def halfLife(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.halfLife(df, key, ts, value)

  def spearmanCorr(df: DataFrame, key: String, x: String, y: String): DataFrame =
    graft.ts.TimeSeriesOps.spearmanCorr(df, key, x, y)

  def mannKendallAll(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    graft.models.ModelOps.mannKendallAll(df, key, ts, value).toDF()

  def stickiness(df: DataFrame, key: String, ts: String): DataFrame =
    graft.events.EventOps.stickiness(df, key, ts)

  def topPaths(df: DataFrame, gapUs: Long, n: Int, k: Int, key: String,
      ts: String, eventType: String, eventId: String): DataFrame =
    graft.events.EventOps.topPaths(df, gapUs, n, k, key, ts, eventType, eventId)

  def decayScore(df: DataFrame, halfLifeUs: Long, key: String, ts: String,
      value: String): DataFrame =
    graft.events.EventOps.decayScore(df, halfLifeUs, key, ts, value)

  def dedupChunks(df: DataFrame, chunkTokens: Int, textCol: String,
      idCol: String): DataFrame =
    graft.text.Dedup.dedupChunks(df, chunkTokens, textCol, idCol)

  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.text.TextFunctions.bigramLogProb(df, idCol, textCol)

  def ksDrift(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.ksDrift(df, key, ts, value)

  def hurst(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.hurst(df, Seq(1, 2, 4, 8, 16), key, ts, value)

  def ouFit(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.ouFit(df, key, ts, value)

  def benfordDeviation(df: DataFrame, key: String, value: String): DataFrame =
    graft.ts.TimeSeriesOps.benfordDeviation(df, key, value)

  def dimStats(df: DataFrame, vecCol: String): DataFrame =
    graft.sim.Embeddings.dimStats(df, vecCol)

  // ---------------- round-9 additions ----------------

  def semanticDuplicates(df: DataFrame, k: Int, threshold: Double,
      idCol: String, vecCol: String): DataFrame =
    graft.sim.SemDedup.semanticDuplicates(df, k, threshold, idCol, vecCol)

  def semanticDuplicates(df: DataFrame, k: Int, threshold: Double,
      idCol: String, vecCol: String, nprobe: Int): DataFrame =
    graft.sim.SemDedup.semanticDuplicates(df, k, threshold, idCol, vecCol,
      nprobe = nprobe)

  def semanticKeepers(df: DataFrame, k: Int, threshold: Double,
      idCol: String, vecCol: String): DataFrame =
    graft.sim.SemDedup.semanticKeepers(df, k, threshold, idCol, vecCol)

  def semanticKeepers(df: DataFrame, k: Int, threshold: Double,
      idCol: String, vecCol: String, nprobe: Int): DataFrame =
    graft.sim.SemDedup.semanticKeepers(df, k, threshold, idCol, vecCol,
      nprobe = nprobe)

  def semdedupSuggestedK(n: Long): Int = graft.sim.SemDedup.suggestedK(n)

  def logOddsKeywords(df: DataFrame, strata: String, text: String,
      alpha0: Double, topK: Int): DataFrame =
    graft.text.TextFunctions.logOddsKeywords(df, strata, text, alpha0, topK)

  def temperatureMix(df: DataFrame, alpha: Double, strata: String,
      text: String): DataFrame =
    graft.text.TextFunctions.temperatureMix(df, alpha, strata, text)

  def codeDetect(df: DataFrame, symbolThreshold: Double, idCol: String,
      text: String): DataFrame =
    graft.text.TextFunctions.codeDetect(df, symbolThreshold, idCol, text)

  def featureHashEmbedding(df: DataFrame, dim: Int, idCol: String,
      text: String): DataFrame =
    graft.text.TextFunctions.featureHashEmbedding(df, dim, idCol, text)

  def forecastAccuracy(df: DataFrame, key: String, ts: String,
      actual: String, predicted: String): DataFrame =
    graft.ts.TimeSeriesOps.forecastAccuracy(df, key, ts, actual, predicted)

  def periodogram(df: DataFrame, maxK: Int, key: String, ts: String,
      value: String): DataFrame =
    graft.ts.TimeSeriesOps.periodogram(df, maxK, key, ts, value)

  def dominantPeriod(df: DataFrame, maxK: Int, key: String, ts: String,
      value: String): DataFrame =
    graft.ts.TimeSeriesOps.dominantPeriod(df, maxK, key, ts, value)

  def varFit(df: DataFrame, key: String, ts: String, x: String,
      y: String): DataFrame =
    graft.ts.TimeSeriesOps.varFit(df, key, ts, x, y)

  def varpFit(df: DataFrame, p: Int, valueCols: java.util.List[String],
      key: String, ts: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.models.VectorAR.varpFit(df, p, valueCols.asScala.toSeq, key, ts)
  }

  def varpForecast(df: DataFrame, p: Int, h: Int,
      valueCols: java.util.List[String], key: String, ts: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.models.VectorAR.varpForecast(df, p, h, valueCols.asScala.toSeq, key, ts)
  }

  def grangerLagP(df: DataFrame, p: Int, key: String, ts: String,
      y: String, x: String): DataFrame =
    graft.models.VectorAR.grangerLagP(df, p, key, ts, y, x)

  def varpOrderSelect(df: DataFrame, pmax: Int,
      valueCols: java.util.List[String], key: String, ts: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.models.VectorAR.varpOrderSelect(df, pmax, valueCols.asScala.toSeq, key, ts)
  }

  def varpBestOrder(df: DataFrame, pmax: Int,
      valueCols: java.util.List[String], key: String, ts: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.models.VectorAR.varpBestOrder(df, pmax, valueCols.asScala.toSeq, key, ts)
  }

  def varpIrf(df: DataFrame, p: Int, h: Int,
      valueCols: java.util.List[String], key: String, ts: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.models.VectorAR.varpIrf(df, p, h, valueCols.asScala.toSeq, key, ts)
  }

  def varpFevd(df: DataFrame, p: Int, h: Int,
      valueCols: java.util.List[String], key: String, ts: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.models.VectorAR.varpFevd(df, p, h, valueCols.asScala.toSeq, key, ts)
  }

  def varpForecastIntervals(df: DataFrame, p: Int, h: Int,
      valueCols: java.util.List[String], level: Double, key: String,
      ts: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.models.VectorAR.varpForecastIntervals(df, p, h,
      valueCols.asScala.toSeq, level, key, ts)
  }

  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      text: String, strata: String): DataFrame =
    graft.text.TextFunctions.snapshotDiff(oldDf, newDf, idCol, text, strata)

  def dsirLogWeights(raw: DataFrame, target: DataFrame, hexChars: Int,
      alpha: Double, idCol: String, text: String): DataFrame =
    graft.text.Dsir.dsirLogWeights(raw, target, hexChars, alpha, idCol, text)

  def dsirSample(raw: DataFrame, target: DataFrame, k: Int, hexChars: Int,
      alpha: Double, seed: Long, idCol: String, text: String): DataFrame =
    graft.text.Dsir.dsirSample(raw, target, k, hexChars, alpha, seed, idCol, text)

  def ccnetBuckets(df: DataFrame, lo: Double, hi: Double, strata: String,
      idCol: String, text: String): DataFrame =
    graft.text.TextFunctions.ccnetBuckets(df, lo, hi, strata, idCol, text)

  def kCenterSample(df: DataFrame, k: Int, idCol: String,
      vecCol: String): DataFrame =
    graft.sim.Embeddings.kCenterSample(df, k, idCol, vecCol)

  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String, vecCol: String, labelCol: String): DataFrame =
    graft.sim.Similarity.hardNegatives(corpus, queries, k, idCol, vecCol, labelCol)

  def logisticFit(df: DataFrame, labelCol: String,
      featureCols: java.util.List[String], maxIter: Int,
      tol: Double, l2: Double): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.models.Logistic.logisticFit(df, labelCol, featureCols.asScala.toSeq,
      maxIter, tol, l2)
  }

  def logisticScore(df: DataFrame, coefs: DataFrame,
      featureCols: java.util.List[String], scoreCol: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    graft.models.Logistic.logisticScore(df, coefs, featureCols.asScala.toSeq,
      scoreCol)
  }
}
