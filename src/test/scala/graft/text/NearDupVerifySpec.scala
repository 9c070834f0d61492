package graft.text

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashJoin}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/**
 * The verify stage of [[Dedup.minhashNearDuplicates]]: exact Jaccard over
 * the candidate pairs. Shingle hashes are per-document work. When AQE
 * broadcasts the (small) candidate table, the documents are the streamed
 * side of the verify join, and a shingle projection that whole-stage
 * codegen fuses into that join is re-evaluated once per matching candidate
 * pair instead of once per document. The spec pins the plan shape on such
 * a fixture and checks the pair set against a driver-side verify of the
 * same candidates.
 */
class NearDupVerifySpec extends AnyFunSuite with Matchers with SparkTestSession {

  private val Threshold = 0.3

  // 30 clusters of 8 near-duplicates (one or two substituted words of a
  // 40-word base), so every document matches several candidate pairs; read
  // back from one parquet file, like a table scan
  private lazy val corpus = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val vocab = Vector.tabulate(600)(i => s"w$i")
    val docs = for {
      c <- 0 until 30
      base = Vector.fill(40)(vocab(rng.nextInt(vocab.size)))
      m <- 0 until 8
    } yield {
      val words = (0 to m % 2).foldLeft(base) { (w, _) =>
        w.updated(rng.nextInt(w.size), vocab(rng.nextInt(vocab.size)))
      }
      (c * 8L + m, words.mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup").resolve("docs").toString
    docs.toDF("doc_id", "text").coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def stagePlans(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => stagePlans(a.executedPlan)
    case q: QueryStageExec => stagePlans(q.plan)
    case p => p +: p.children.flatMap(stagePlans)
  }

  /** The nodes fused into one codegen stage: stop at its input adapters. */
  private def fused(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case _: InputAdapter => Seq.empty
    case p => p +: p.children.flatMap(fused)
  }

  /** An inner equi-join on one of the pair ids: the verify join. */
  private def isVerifyJoin(p: SparkPlan): Boolean = {
    val keys = p match {
      case j: HashJoin if j.joinType == Inner => j.leftKeys ++ j.rightKeys
      case j: SortMergeJoinExec if j.joinType == Inner => j.leftKeys ++ j.rightKeys
      case _ => Seq.empty
    }
    keys.flatMap(_.references).exists(a => a.name == "id_a" || a.name == "id_b")
  }

  private def evaluatesShingles(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists(_.isInstanceOf[HashedWordShingles]))

  test("verify join never re-evaluates shingle hashes per candidate pair") {
    val docs = corpus
    val out = Dedup.minhashNearDuplicates(docs, threshold = Threshold)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plan = out.queryExecution.executedPlan
    val nodes = stagePlans(plan)

    // fixture precondition: AQE broadcast the candidate side of a verify
    // join, so the documents are its streamed side
    val candidateBroadcast = nodes.exists {
      case j: BroadcastHashJoinExec if isVerifyJoin(j) =>
        val build = if (j.buildSide == BuildLeft) j.left else j.right
        Set("id_a", "id_b").subsetOf(build.output.map(_.name).toSet)
      case _ => false
    }
    withClue(s"fixture must broadcast the candidate side:\n$plan\n") {
      candidateBroadcast shouldBe true
    }

    val offending = nodes.collect { case w: WholeStageCodegenExec => fused(w.child) }
      .filter(stage => stage.exists(isVerifyJoin) && stage.exists(evaluatesShingles))
    withClue(s"hashed_word_shingles fused into a verify-join stage:\n$plan\n") {
      offending shouldBe empty
    }

    // same pairs as verifying the same LSH candidates on the driver
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sig = docs.select(col("doc_id"),
      Dedup.minhashSignatureFromText(col("text"), 3, 64).as("sig"))
    val cands = Lsh.minhashCandidates(sig, "doc_id", "sig", 64, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def sh(id: Long) = HashedWordShingles.compute(UTF8String.fromString(texts(id)), 3)
      .toLongArray().toSet
    val expected = cands.flatMap { case (a, b) =>
      val (x, y) = (sh(a), sh(b))
      val j = (x & y).size.toDouble / (x | y).size
      if (x.nonEmpty && y.nonEmpty && j >= Threshold)
        Some((a, b, BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      else None
    }.toSet
    expected.size should be > 500
    got shouldBe expected
  }
}
