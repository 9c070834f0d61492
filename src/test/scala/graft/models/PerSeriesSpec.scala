package graft.models

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.time.SpanSugar._

import graft.SparkTestSession

/**
 * The fan-out of the [[PerSeries]] lift. 60 short series gather into a
 * shuffle far under AQE's minimum partition size, which byte-sized
 * coalescing would merge into one partition: one task for every fit. The
 * lift's one shuffle must keep `spark.sql.shuffle.partitions` partitions,
 * unread by a coalescing `AQEShuffleRead`, so the per-key stage runs that
 * many tasks.
 */
class PerSeriesSpec extends AnyFunSuite with Matchers with SparkTestSession with Eventually {

  private val Keys = 60

  /** (key, ts_nanos, value, y, x): 48 observations per key, `value` = y. */
  private lazy val obs: Seq[(String, Long, Double, Double, Double)] =
    (0 until Keys).flatMap { k =>
      val r = new scala.util.Random(k)
      var x = 0.0
      var y = 0.0
      (0 until 48).map { t =>
        x = 0.4 * x + r.nextGaussian()
        y = 0.5 * y + 0.8 * x + r.nextGaussian()
        (f"k$k%02d", 10L * t, 10.0 + y, 10.0 + y, x)
      }
    }

  private def frame: DataFrame = {
    val s = spark
    import s.implicits._
    obs.toDF("key", "ts_nanos", "value", "y", "x")
  }

  private def shufflePartitions: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case p => p +: p.children.flatMap(nodes)
  }

  /** Collects `ds` and returns it with the task count of every stage that
    * read a shuffle (the per-key stage) in the jobs it ran. */
  private def collectCountingTasks[T](ds: Dataset[T]): (Array[T], Seq[Int]) = {
    val group = s"perseries-${System.nanoTime()}"
    val jobs = mutable.Set.empty[Int]
    val ended = mutable.Set.empty[Int]
    val stageJob = mutable.Map.empty[Int, Int]
    val shuffleReads = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs += j.jobId
          j.stageIds.foreach(stageJob(_) = j.jobId)
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
        if (s.stageInfo.parentIds.nonEmpty)
          shuffleReads(s.stageInfo.stageId) = s.stageInfo.numTasks
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized { ended += j.jobId }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "PerSeriesSpec fan-out")
    try {
      val out = ds.collect()
      eventually(timeout(30.seconds)) {
        listener.synchronized(assert(jobs.nonEmpty && jobs.subsetOf(ended)))
      }
      val tasks = listener.synchronized {
        shuffleReads.collect { case (stage, n) if stageJob.get(stage).exists(jobs) => n }.toSeq
      }
      (out, tasks)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def assertFanOut[T](ds: Dataset[T]): Array[T] = {
    val (out, tasks) = collectCountingTasks(ds)
    val plan = nodes(ds.queryExecution.executedPlan)
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    exchanges should have size 1
    exchanges.head.numPartitions shouldBe shufflePartitions
    plan.collect { case r: AQEShuffleReadExec if r.hasCoalescedPartition => r } shouldBe empty
    tasks shouldBe Seq(shufflePartitions)
    out
  }

  test("fitArima runs one task per shuffle partition: AQE does not coalesce the lift") {
    val fits = assertFanOut(ModelOps.fitArima(frame, 1, 0, 1))
    fits.map(_.key).toSet shouldBe obs.map(_._1).toSet
  }

  test("a PerSeries.rows lift binds (key, ts, values) by ordinal and fans out the same way") {
    val coefs = assertFanOut(VectorAR.varpFit(frame, 1, Seq("y", "x"))).map(_.toString).sorted
    val expect = obs.groupBy(_._1).toSeq.flatMap { case (k, rows) =>
      val beta = VectorAR.fitLocal(rows.sortBy(_._2).map(r => Array(r._4, r._5)).toArray, 1).get
      val names = Array("y", "x")
      for (j <- names.indices; r <- beta.indices) yield
        if (r == 0) s"[$k,${names(j)},c,0,${beta(0)(j)}]"
        else s"[$k,${names(j)},${names((r - 1) % 2)},${(r - 1) / 2 + 1},${beta(r)(j)}]"
    }.sorted
    coefs.toSeq shouldBe expect
  }
}
