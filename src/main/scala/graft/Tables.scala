package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Test-table loaders (driver-generated parquet, see TESTDATA.md). */
object Tables {

  /** `dir/name.parquet` (a file or a directory of files). Its first read
    * infers the schema and remembers it; a later read passes it to
    * `spark.read.schema`, so it runs no footer-reading job. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val byPath = schemas.synchronized(
      schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap))
    val now = fingerprint(spark, path)
    byPath.get(path) match {
      case (`now`, known) => spark.read.schema(known).parquet(path)
      case _ => // absent (null) or rewritten
        val inferred = spark.read.parquet(path)
        byPath.put(path, (now, inferred.schema))
        inferred
    }
  }

  /** What a parquet schema inference depends on besides the session: each
    * file's name, length and modification time, and the session's parquet
    * confs (`nanosAsLong` picks between the two `ts` branches of
    * [[withTsUs]]). */
  private final case class Fingerprint(files: Seq[(String, Long, Long)],
      conf: Seq[(String, String)])

  /** Inferred schemas by session (weakly: entries die with their session),
    * then by path. A path holds one entry, replaced when its fingerprint
    * changes. The schema is kept, not the frame: two reads in one query
    * must not share attribute ids. */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (Fingerprint, StructType)]]

  /** The files are listed with `getFileStatus` and `listStatus`, not
    * `listFiles`: a `LocatedFileStatus` loads each file's permission, which
    * Hadoop's local filesystem reads by forking `ls -ld` per file. */
  private def fingerprint(s: SparkSession, path: String): Fingerprint = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def files(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files) else Seq(st)
    val listed = files(fs.getFileStatus(p))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toList.sorted
    val conf = s.conf.getAll.toList.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    Fingerprint(listed, conf)
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /**
   * events plus a derived `ts_us` column (microseconds since epoch, LONG).
   * The driver has shipped `ts` as either TIMESTAMP(NANOS) parquet (read as
   * LONG nanos via spark.sql.legacy.parquet.nanosAsLong=true) or
   * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ); both normalize to the same
   * `ts_us`. Oracle comparisons use `ts_us` = DuckDB `epoch_us(ts)`; the
   * session timezone is pinned to UTC so the NTZ→epoch cast is deterministic.
   */
  def events(s: SparkSession, d: String): DataFrame =
    withTsUs(table(s, d, "events"))

  private def withTsUs(raw: DataFrame): DataFrame = {
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    raw.withColumn("ts_us", tsUs)
  }

  /**
   * events restricted to loUs <= ts_us <= hiUs (micros, inclusive), with the
   * range predicate applied to the RAW `ts` column so it reaches the parquet
   * scan as a PushedFilter and prunes row groups via min/max stats. Filtering
   * the derived `ts_us` (a cast/div expression) instead would evaluate
   * post-scan — at 100 TB that is a full scan vs a pruned one. Each schema
   * branch compares against a literal of the column's own type (NTZ columns
   * against a LocalDateTime literal: a cast on the column side would defeat
   * pushdown).
   */
  def eventsSliceUs(s: SparkSession, d: String, loUs: Long, hiUs: Long): DataFrame = {
    val raw = table(s, d, "events")
    def ntzLit(us: Long) = lit(java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC))
    val pred = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>          // nanos-as-long branch
        col("ts") >= loUs * 1000L && col("ts") <= hiUs * 1000L
      case org.apache.spark.sql.types.TimestampNTZType =>  // micros NTZ branch
        col("ts") >= ntzLit(loUs) && col("ts") <= ntzLit(hiUs)
      case _ =>                                            // TIMESTAMP (UTC session)
        col("ts") >= timestamp_micros(lit(loUs)) && col("ts") <= timestamp_micros(lit(hiUs))
    }
    withTsUs(raw.filter(pred))
  }

  /** Session config every entry point needs (nanos parquet + stable shuffles). */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder = {
    // artifact isolation gives every cloned session (each streaming query
    // runs on one) its own class loader in executor tasks; the codegen
    // cache is keyed by class loader, so each replay would recompile the
    // same generated classes. graft adds no artifacts. Read only when a
    // session is created.
    val base = b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(graft.io.LocalFiles.Confs) // a `file:` filesystem that forks no process
    // dev-probe override (unset in driver runs): scan-split sizing for the
    // scale-up fixtures — exchange-free plans parallelize by input split,
    // so a small-file local fixture needs split sizes scaled down the same
    // way a real 100 TB table's thousands of row groups scale them up
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES").fold(base) { v =>
      base.config("spark.sql.files.maxPartitionBytes", v)
        .config("spark.sql.files.openCostInBytes", "65536")
    }
  }

  /** The dev-probe scan-split override, if leaked into this process's env.
    * Bench/Verify call this to warn loudly and stamp the artifact — a
    * silently inherited probe setting would otherwise contaminate recorded
    * plans and timings (ADVICE r16). */
  def scanSplitOverride: Option[String] =
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
}
