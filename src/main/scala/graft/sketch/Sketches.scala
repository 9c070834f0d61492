package graft.sketch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CheckRows, Tables}
import graft.text.TextFunctions

/**
 * Certified approximate aggregates (qs01–qs04) — the sketch toolbox a
 * 100 TB pipeline leans on where exact answers are unaffordable, each
 * certified in-query against the exact answer on the bounded SF set (the
 * rc- / mr- pattern): every query computes BOTH the sketch estimate and the
 * exact value, derives error-bound booleans from the sketch's published
 * guarantee (with ≥2x margin), and emits (key, check_name, ok) rows whose
 * DuckDB oracle is a constant SELECT.
 *
 * Scale design: all four sketches are O(1/ε) memory regardless of corpus
 * size and merge associatively, so Spark computes them with partial
 * aggregation (HLL/quantile-digest as codegen'd agg functions;
 * CMS/Bloom via `df.stat`'s treeAggregate) — one pass, no extra shuffle
 * of raw data. The EXACT sides exist only to certify and stay affordable
 * at any driver SF (countDistinct is one shuffle; heavy-hitter truth is
 * a TakeOrderedAndProject; Bloom probes use a bounded key sample).
 *
 * - HLL++: Heule/Nunkesser/Hall, "HyperLogLog in Practice" (EDBT 2013) —
 *   Spark's `approx_count_distinct`, relative error ~1.04/√m ≈ the rsd
 *   parameter.
 * - Quantile sketch: Greenwald–Khanna (SIGMOD 2001) — Spark's
 *   `percentile_approx`, RANK error ≤ 1/accuracy (the value-domain error
 *   is data-dependent, so the certification checks rank, not value).
 * - Count–min: Cormode/Muthukrishnan (J.Alg 2005) — never underestimates;
 *   overestimate ≤ ε·N with prob ≥ 1−δ.
 * - Bloom: no false negatives ever; false-positive prob ≈ configured fpp.
 */
object Sketches {

  /** qs01 — HLL distinct counts vs exact, global and per-group.
    * rsd 0.05 ⇒ |est−exact|/exact within 0.15 (3σ) certifies the sketch;
    * the grouped variant additionally certifies partial-agg merge. */
  def hll(s: SparkSession, dir: String): DataFrame = {
    // ONE scan for both the global and the per-group certification:
    // rollup(l_returnflag) emits the per-flag rows plus the grand-total
    // row (null flag) from a single pass — the separate global aggregate
    // used to re-scan the corpus (r8→r9 creep, adjudicated r9)
    // grouping() distinguishes the rollup grand-total row from a genuine
    // NULL l_returnflag group (isNullAt would conflate the two)
    val rows = Tables.lineitem(s, dir)
      .rollup(col("l_returnflag")).agg(
        grouping(col("l_returnflag")).as("is_total"),
        countDistinct(col("l_orderkey")).as("exact"),
        approx_count_distinct(col("l_orderkey"), 0.05).as("est"))
      .withColumn("ok",
        abs(col("est") - col("exact")) <= col("exact") * 0.15)
      .collect()
    val isTotal = (r: org.apache.spark.sql.Row) => r.getAs[Number]("is_total").intValue == 1
    val globalOk = rows.filter(isTotal).forall(_.getAs[Boolean]("ok")) &&
      rows.exists(isTotal)
    val groupedOk = rows.filterNot(isTotal).forall(_.getAs[Boolean]("ok"))
    CheckRows.frame(s, Seq(
      ("qs01", "hll_global_within_3rsd", globalOk),
      ("qs01", "hll_grouped_within_3rsd", groupedOk)))
  }

  /** qs02 — Greenwald–Khanna quantiles vs exact RANK positions.
    * accuracy 1000 ⇒ rank error ≤ n/1000; certified at 2/1000 margin via
    * the two-sided rank test (strictly-below ≤ q+ε, at-or-below ≥ q−ε),
    * which is tie-robust where a value-domain comparison is not. */
  def quantiles(s: SparkSession, dir: String): DataFrame = {
    val price = Tables.lineitem(s, dir).select(col("l_extendedprice").as("v"))
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    val est = price.agg(percentile_approx(col("v"),
      array(qs.map(lit): _*), lit(1000)).as("p")).head()
      .getAs[scala.collection.Seq[Double]]("p")
    // all 8 rank counts + n in ONE scan (conditional sums), not 9 jobs
    val rankAggs = count(lit(1)).as("n") +: qs.zip(est).flatMap { case (q, v) =>
      Seq(sum(when(col("v") < v, 1L).otherwise(0L)).as(s"below_${(q * 100).toInt}"),
        sum(when(col("v") <= v, 1L).otherwise(0L)).as(s"at_${(q * 100).toInt}"))
    }
    val r = price.agg(rankAggs.head, rankAggs.tail: _*).head()
    val n = r.getAs[Long]("n").toDouble
    val eps = 2.0 / 1000
    val rows = qs.map { q =>
      val pct = (q * 100).toInt
      val below = r.getAs[Long](s"below_$pct") / n
      val atOrBelow = r.getAs[Long](s"at_$pct") / n
      ("qs02", s"gk_rank_q$pct", below <= q + eps && atOrBelow >= q - eps)
    }
    CheckRows.frame(s, rows)
  }

  /** qs03 — count–min token frequencies vs exact heavy-hitter counts.
    * ε=1e-4, δ=0.01: estimates never underestimate (structural theorem)
    * and overestimate by ≤ 2·ε·N (2x the published bound) on the top-20
    * tokens. The sketch is built by treeAggregate over the exploded token
    * stream — O(1/ε) memory at any corpus size; the exact side is one
    * keyed count + TakeOrderedAndProject. */
  def cms(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(TextFunctions.tokens(lower(col("text")))).as("token"))
      .filter(length(col("token")) > 0)
    val sketch = toks.stat.countMinSketch(col("token"),
      eps = 1e-4, confidence = 0.99, seed = 42)
    val total = sketch.totalCount()
    val top = toks.groupBy("token").count()
      .orderBy(col("count").desc, col("token")).limit(20).collect()
    val slack = (2 * 1e-4 * total).toLong
    val noUnder = top.forall { r =>
      sketch.estimateCount(r.getString(0)) >= r.getLong(1) }
    val overBounded = top.forall { r =>
      sketch.estimateCount(r.getString(0)) <= r.getLong(1) + slack }
    CheckRows.frame(s, Seq(
      ("qs03", "cms_no_underestimate", noUnder),
      ("qs03", "cms_overestimate_bounded", overBounded)))
  }

  /** qs04 — Bloom filter over order keys: zero false negatives on a
    * 1000-key present sample (structural theorem) and measured
    * false-positive rate ≤ 5×fpp on 10000 keys guaranteed absent
    * (probed above max(l_orderkey)). The filter is the build side of a
    * 100 TB semi-join prune: broadcast it and skip non-matching rows at
    * the scan. */
  def bloom(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.lineitem(s, dir).select(col("l_orderkey"))
    val nDistinct = keys.distinct().count()
    val filter = keys.stat.bloomFilter(col("l_orderkey"), nDistinct, 0.01)
    val present = keys.limit(1000).collect().map(_.getLong(0))
    val maxKey = keys.agg(max(col("l_orderkey"))).head().getLong(0)
    val absent = (1L to 10000L).map(maxKey + _)
    val noFalseNeg = present.forall(filter.mightContainLong)
    val fpRate = absent.count(filter.mightContainLong).toDouble / absent.size
    CheckRows.frame(s, Seq(
      ("qs04", "bloom_no_false_negatives", noFalseNeg),
      ("qs04", "bloom_fpp_bounded", fpRate <= 0.05)))
  }

  /** Canonical check names per query — oracle VALUES lists come from these. */
  private[graft] val checkNames: Map[String, Seq[(String, String)]] = Map(
    "hll" -> Seq("qs01" -> "hll_global_within_3rsd",
      "qs01" -> "hll_grouped_within_3rsd"),
    "quantiles" -> Seq("qs02" -> "gk_rank_q25", "qs02" -> "gk_rank_q50",
      "qs02" -> "gk_rank_q75", "qs02" -> "gk_rank_q95"),
    "cms" -> Seq("qs03" -> "cms_no_underestimate",
      "qs03" -> "cms_overestimate_bounded"),
    "bloom" -> Seq("qs04" -> "bloom_no_false_negatives",
      "qs04" -> "bloom_fpp_bounded"))

  /** Constant-SELECT DuckDB oracle: every (key, check) pair expected true. */
  private[graft] def oracleFor(group: String): String = CheckRows.oracle(checkNames(group))
}
