package graft.streaming

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/**
 * The one lifecycle of a bounded replay: every streaming batch-parity
 * certification (st01–st06) and every file round trip (ts51, ts52) runs
 * through it. Contract:
 *
 *  - scratch dir: one per call under `java.io.tmpdir`, removed in a
 *    `finally` — also when the body throws, and the exception still
 *    reaches the caller.
 *  - fixture phases: phase 1 is written to the source dir, each later
 *    phase is appended, and the stream replays after every phase from the
 *    same checkpoint (a restart recovers state and watermark).
 *  - stream: `readStream.schema(fixture schema).parquet(source)`, the
 *    caller's operator, the caller's output mode, `Trigger.AvailableNow`.
 *  - state parallelism: derived from the fixture's bytes and applied on a
 *    child session that carries every modifiable SQL conf of the caller's
 *    session; the caller's session conf is never written. The streaming
 *    listener buses that the child, and the clone each query runs on,
 *    register on the SparkContext are removed in a `finally`: Spark never
 *    removes one, and each would stay a listener of every later event.
 *  - sink: one `foreachBatch` that collects each batch on the driver
 *    (replace in complete mode, append otherwise). The result is a local
 *    frame of the caller's session: it outlives the scratch dir and
 *    registers no view.
 */
private[graft] object Replay {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Run `body` on a fresh scratch directory named `prefix<random>`. */
  private def withScratchDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString) finally deleteTree(dir)
  }

  /** A file round trip: `body` writes to and reads back from the scratch
    * dir; its frame is materialized before the dir is removed. */
  def roundTrip(prefix: String)(body: String => DataFrame): DataFrame =
    withScratchDir(prefix)(dir => body(dir).localCheckpoint())

  /** Replay `phases` (same schema) through `op` with `outputMode`; returns
    * every emitted row. `op` gets the stream on the child session, so it
    * builds any side input from `stream.sparkSession`. */
  def run(s: SparkSession, prefix: String, outputMode: String,
      phases: DataFrame*)(op: DataFrame => DataFrame): DataFrame =
    withScratchDir(prefix) { dir =>
      val src = s"$dir/src"
      val emitted = ArrayBuffer.empty[Row]
      val sessions = ArrayBuffer.empty[SparkSession]
      try {
        val schemas = phases.zipWithIndex.map { case (phase, i) =>
          phase.write.mode(if (i == 0) "overwrite" else "append").parquet(src)
          val child = stateSession(s, src)
          sessions += child
          val out = op(child.readStream.schema(phases.head.schema).parquet(src))
          val q = out.writeStream.outputMode(outputMode)
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val rows = batch.collect()
              emitted.synchronized {
                if (outputMode == "complete") emitted.clear()
                emitted ++= rows
              }: Unit
            }
            .option("checkpointLocation", s"$dir/checkpoint")
            .trigger(Trigger.AvailableNow()).start()
          sessions += GraftSqlBridge.streamSession(q)
          try q.awaitTermination() finally q.stop()
          out.schema
        }
        emitted.synchronized(s.createDataFrame(emitted.toSeq.asJava, schemas.last))
      } finally sessions.foreach(GraftSqlBridge.removeStreamingListenerBus)
    }

  /** A child of `s` with every modifiable SQL conf of `s` and one state
    * partition per 32 MiB of fixture, at least 1 and at most the parent's
    * `spark.sql.shuffle.partitions` (AQE cannot coalesce stateful
    * exchanges: the count is fixed into the checkpoint at first start, and
    * a restart recovers it whatever the live conf says). Partitioning
    * never changes what a keyed stateful operator computes, only where its
    * rows sit; at a bounded replay it spares every micro-batch the state
    * store file I/O of partitions holding a few KB each. Spark accepts only
    * a positive int for the key, so the parse cannot fail; a failure to
    * read the fixture size fails the replay. */
  private def stateSession(s: SparkSession, fixture: String): SparkSession = {
    val cap = s.conf.get(ShufflePartitions).toInt
    val path = new org.apache.hadoop.fs.Path(fixture)
    val bytes = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(path).getLength
    val derived = math.max(1L, math.min(cap.toLong, bytes / (32L << 20) + 1L)).toInt
    if (derived != cap) System.err.println(
      s"[replay] state parallelism $cap -> $derived ($bytes fixture bytes)")
    val child = s.newSession()
    val childConf = child.conf
    s.conf.getAll.foreach { case (k, v) => if (s.conf.isModifiable(k)) childConf.set(k, v) }
    childConf.set(ShufflePartitions, derived.toString)
    child
  }

  /** Best-effort, but loud: a failed removal never masks the body's own
    * exception. */
  private def deleteTree(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      val all = try walk.iterator().asScala.toList finally walk.close()
      all.reverse.foreach(Files.deleteIfExists)
    } catch { case NonFatal(e) =>
      System.err.println(s"[replay] could not remove $root: $e")
    }
}
