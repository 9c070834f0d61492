package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.{SparkEntry, Tables}

/** Drives graft from outside, one operation at a time, and records what
  * each one cost. `perfbench/run.py` builds the inputs, starts this program
  * and turns its record into the benchmark's metrics.
  *
  * {{{
  * Main run   --input DIR --tables t,.. --ops id:layer,.. --warmup N --warm N --trace 0|1 --out FILE
  * Main dump  --input DIR --tables t,.. --ops id:layer,.. --out DIR
  * }}}
  *
  * An operation is the `SparkEntry.queries` entry of that id: a closure over
  * one module's public function. Its layer is that module. Timing covers the
  * call (`build`, including any job the call runs eagerly) and one action
  * that materialises the whole result while digesting it (`exec`).
  */
object Main {
  final case class Op(name: String, layer: String)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val opts = args.drop(1).grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]").appName("graft-perfbench"), cpus.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = opts("input")
    // input registration: list each table's files and read its footers
    opts("tables").split(",").foreach(t => Tables.table(spark, dir, t).schema)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ops = opts("ops").split(",").toSeq.map { s =>
      val Array(n, l) = s.split(":"); Op(n, l)
    }
    mode match {
      case "run" =>
        val result = new Runner(spark, dir, ops, opts("trace") == "1")
          .run(opts.getOrElse("warmup", "0").toInt, opts("warm").toInt) ++
          Map("setup_s" -> setupS, "context" -> context(spark, cpus))
        Files.writeString(Paths.get(opts("out")), json.writeValueAsString(result))
      case "dump" => dump(spark, dir, ops, opts("out"))
    }
    spark.stop()
  }

  /** Run context, recorded beside every result and never used to gate or
    * normalise it. `calibration_s` is one run of graft.Bench's calibration
    * job, taken after the timed passes. */
  private def context(spark: SparkSession, cpus: Int): Map[String, Any] = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, cpus)
      .selectExpr("xxhash64(id) AS h", "pmod(xxhash64(id), 1000000) AS m")
      .groupBy(pmod(col("h"), lit(64))).agg(sum("m")).collect()
    Map("nproc" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "calibration_s" -> (System.nanoTime() - t0) / 1e9)
  }

  /** VmHWM of this process, in MiB. */
  def vmHwmMb: Double = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Row count plus an order-independent digest of the rows, in one
    * aggregate that materialises every column. Each row hashes to 64 bits
    * (xxhash64 over its values and their null flags, top-level doubles
    * rounded to 6 decimals as graft's rowDigest rounds them) and the row
    * hashes are summed. The sum replaces rowDigest's md5 of the sorted
    * rendered rows: that sort and rendering run in one task and would cost
    * more than many of the operations they check. */
  def digest(df: DataFrame): DataFrame = {
    val parts = df.schema.fields.toIndexedSeq.flatMap { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      val v = f.dataType match {
        case DoubleType | FloatType => rint(c.cast("double") * 1e6)
        case _ => c
      }
      Seq(c.isNull, v)
    }
    df.select(xxhash64(parts: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(0)).cast("string").as("s"))
  }

  /** Write each operation's result (and the DuckDB oracle SQL of the ids
    * that have one) for the cross-check in freeze.py. */
  private def dump(spark: SparkSession, dir: String, ops: Seq[Op], out: String): Unit = {
    ops.foreach(op => SparkEntry.queries(op.name)(spark, dir)
      .write.mode("overwrite").parquet(s"$out/${op.name}"))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_.name == k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), json.writeValueAsString(oracle))
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def codeCacheMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
      .map(_.getUsage.getUsed).sum / 1048576.0

  /** The pass loop: one cold pass, `warmup` untraced warm-up passes, then
    * `warm` warm passes. A traced run traces its cold pass and, of its warm
    * passes (at least four), those in the order untraced, traced, traced,
    * untraced, repeated: the same run then states the tracing overhead, and
    * the order cancels a steady warm-up trend. */
  final class Runner(spark: SparkSession, dir: String, ops: Seq[Op], trace: Boolean) {
    private val sc = spark.sparkContext
    private val recorder = new Recorder
    private var nextSpan = 0
    private val spans = ArrayBuffer.empty[Map[String, Any]]

    def run(warmup: Int, warm: Int): Map[String, Any] = {
      val passes = pass(0, "cold", trace) +:
        ((1 to warmup).map(i => pass(i, "warmup", traced = false)) ++
          (1 to (if (trace) math.max(4, warm) else warm))
            .map(i => pass(warmup + i, "warm", trace && (i % 4 == 2 || i % 4 == 3))))
      Map("passes" -> passes.toList, "spans" -> spans.toList, "peak_rss_mb" -> vmHwmMb)
    }

    private def span(parent: Int, kind: String, name: String, start: Long, end: Long,
        attrs: Map[String, Any] = Map.empty): Int = {
      nextSpan += 1
      spans += Map("id" -> nextSpan, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> start, "end_ms" -> end) ++ attrs
      nextSpan
    }

    private def pass(index: Int, kind: String, traced: Boolean): Map[String, Any] = {
      if (traced) {
        sc.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
        BenchBus.drain(sc)
        recorder.take()
      }
      val gc0 = gcMs
      val cg0 = CodeGenerator.compileTime
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val passSpan = if (traced) span(0, "pass", s"$kind-$index", w0, w0) else 0
      val recs = ops.map(runOp(_, traced, passSpan))
      val seconds = (System.nanoTime() - t0) / 1e9
      if (traced) {
        spark.listenerManager.unregister(recorder)
        sc.removeSparkListener(recorder)
        val i = spans.indexWhere(_("id") == passSpan)
        spans(i) = spans(i) + ("end_ms" -> System.currentTimeMillis())
      }
      Map("index" -> index, "kind" -> kind, "traced" -> traced, "seconds" -> seconds,
        "gc_s" -> (gcMs - gc0) / 1e3,
        "codegen_compile_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
        "code_cache_mb" -> codeCacheMb, "ops" -> recs)
    }

    private def runOp(op: Op, traced: Boolean, passSpan: Int): Map[String, Any] = {
      val w0 = System.currentTimeMillis()
      val cg0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      var tBuilt = 0L
      var wBuilt = 0L
      var agg: DataFrame = null
      val outcome: Either[String, (Long, String)] =
        try {
          val df = SparkEntry.queries(op.name)(spark, dir)
          tBuilt = System.nanoTime()
          wBuilt = System.currentTimeMillis()
          agg = digest(df)
          val row = agg.collect()(0)
          Right((row.getLong(0), s"${row.getLong(0)}:${row.getString(1)}"))
        } catch {
          case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}".take(500))
        }
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      if (tBuilt == 0L) { tBuilt = t1; wBuilt = w1 }
      val base = Map("name" -> op.name, "layer" -> op.layer,
        "build_s" -> (tBuilt - t0) / 1e9, "exec_s" -> (t1 - tBuilt) / 1e9,
        "codegen_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
        "ok" -> outcome.isRight) ++ (outcome match {
          case Right((n, d)) => Map("rows" -> n, "digest" -> d)
          case Left(err) => Map("error" -> err)
        })
      if (!traced) base
      else {
        BenchBus.drain(sc)
        val candidates = if (outcome.isRight) candidateRows(agg.queryExecution.executedPlan) else 0L
        base ++ Map("candidate_rows" -> candidates,
          "counters" -> counters(recorder.take(), op, passSpan, w0, wBuilt, w1))
      }
    }

    /** Rows out of the largest join of the executed plan: the candidate
      * pairs of a near-duplicate or top-k operator. */
    private def candidateRows(plan: SparkPlan): Long = {
      def joins(p: SparkPlan): Seq[Long] = p match {
        case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
        case q: QueryStageExec => joins(q.plan)
        case j: BaseJoinExec =>
          j.metrics.get("numOutputRows").map(_.value).toSeq ++ j.children.flatMap(joins)
        case other => other.children.flatMap(joins) ++ other.subqueries.flatMap(joins)
      }
      (0L +: joins(plan)).max
    }

    private def counters(snap: Recorder.Snapshot, op: Op, passSpan: Int,
        w0: Long, wBuilt: Long, w1: Long): Map[String, Any] = {
      val opSpan = span(passSpan, "op", op.name, w0, w1, Map("layer" -> op.layer))
      val buildSpan = span(opSpan, "build", "build", w0, wBuilt)
      val execSpan = span(opSpan, "exec", "exec", wBuilt, w1)
      def under(t: Long) = if (t >= wBuilt) execSpan else buildSpan
      var planMs = 0L
      for (qe <- snap.queries; (phase, p) <- qe.tracker.phases) {
        planMs += p.durationMs
        span(under(p.startTimeMs), phase, phase, p.startTimeMs, p.endTimeMs)
      }
      val jobOf = scala.collection.mutable.Map.empty[Int, Int]
      for (j <- snap.jobs) {
        val id = span(under(j.start), "job", s"job ${j.id}", j.start, j.end)
        j.stageIds.foreach(jobOf(_) = id)
      }
      for (s <- snap.stages)
        span(jobOf.getOrElse(s.id, opSpan), "stage", s"stage ${s.id}.${s.attempt}",
          s.submitted, s.completed, Map("tasks" -> s.tasks.size))
      val tasks = snap.stages.flatMap(s => s.tasks.map(s -> _))
      val skew = if (snap.stages.isEmpty) 1.0 else {
        val longest = snap.stages.maxBy(s => s.completed - s.submitted)
        val d = longest.tasks.map(t => (t.finish - t.launch).toDouble).sorted
        if (d.size < 2 || d(d.size / 2) <= 0) 1.0 else d.last / d(d.size / 2)
      }
      Map("plan_s" -> planMs / 1e3, "jobs" -> snap.jobs.size,
        "stages" -> snap.stages.size, "tasks" -> tasks.size,
        "task_cpu_s" -> tasks.map(_._2.cpuNs).sum / 1e9,
        "task_gc_s" -> tasks.map(_._2.gcMs).sum / 1e3,
        "task_wait_s" -> tasks.map { case (s, t) => math.max(0L, t.launch - s.submitted) }.sum / 1e3,
        "shuffle_write_mb" -> tasks.map(_._2.shuffleWriteBytes).sum / 1048576.0,
        "spill_mb" -> tasks.map(_._2.spillBytes).sum / 1048576.0,
        "skew" -> skew, "failed_tasks" -> tasks.count(!_._2.ok))
    }
  }
}
