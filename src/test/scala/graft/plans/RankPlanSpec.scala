package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/**
 * Plan-shape pins for the two-phase distributed rank machinery (r20):
 * `sequencePacking` and `corpusShuffle` are global-order operators, and
 * the classic way to get them WRONG at scale is a `Window.orderBy`
 * without partitions — one task sorting the corpus. These specs walk the
 * executed plan and assert the shape that makes the operators parallel:
 * every data-sized Window is partitioned (by the literal range id), and
 * any single-partition exchange sits strictly above an aggregation, so
 * the serial section is bounded by the RANGE COUNT, never the data.
 */
class RankPlanSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private def collectAll[T](plan: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    // recurse through AQE wrappers the same way graft.SkewProbe (test tree) does
    val here = if (pf.isDefinedAt(plan)) Seq(pf(plan)) else Seq.empty
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children
    }
    here ++ kids.flatMap(collectAll(_)(pf))
  }

  private def assertTwoPhaseRank(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    val windows = collectAll(plan) { case w: WindowExec => w }
    windows should not be empty
    // the data-sized window (row_number / running sum over rows) must be
    // partitioned; an unpartitioned window is legal ONLY above an
    // aggregate (the #ranges-row base-offset pass)
    windows.foreach { w =>
      if (w.partitionSpec.isEmpty) {
        val aggsBelow = collectAll(w.child) { case a: HashAggregateExec => a }
        withClue(s"unpartitioned Window must sit above an aggregate:\n$w\n") {
          aggsBelow should not be empty
        }
      }
    }
    // every single-partition shuffle feeds off an aggregate too — the
    // serial section is bounded by the range count, not the data
    val singles = collectAll(plan) {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 => e
    }
    singles.foreach { e =>
      val aggsBelow = collectAll(e.child) { case a: HashAggregateExec => a }
      withClue(s"SinglePartition exchange over raw rows:\n$e\n") {
        aggsBelow should not be empty
      }
    }
  }

  test("corpusShuffle ranks per range; the serial pass is bounded by the range count") {
    val s = spark
    import s.implicits._
    val df = (0 until 500).map(i => (i.toLong, s"doc $i body")).toDF("doc_id", "text")
    val out = graft.text.Packing.corpusShuffle(df, Seq("doc_id"))
    out.collect() // materialize so AQE finalizes the stages we walk
    assertTwoPhaseRank(out)
  }

  test("sequencePacking cumsums per range; the serial pass is bounded by the range count") {
    val s = spark
    import s.implicits._
    val df = (0 until 500).map(i => (i.toLong, ("tok " * (1 + i % 9)).trim))
      .toDF("doc_id", "text")
    val out = graft.text.Packing.sequencePacking(df, capacity = 64)
    out.collect()
    assertTwoPhaseRank(out)
  }

  test("tokenBudgetSample cumsums per range; the serial pass is bounded by the range count") {
    val s = spark
    import s.implicits._
    val df = (0 until 500).map(i => (i.toLong, ("tok " * (1 + i % 9)).trim))
      .toDF("doc_id", "text")
    val out = graft.text.Packing.tokenBudgetSample(df, budget = 300L)
    out.collect()
    assertTwoPhaseRank(out)
  }
}
