package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.time.{Seconds, Span}

/** The schema cache behind [[Tables.table]]: a table's schema is inferred
  * once per session, path, file listing and parquet conf, each on a small
  * parquet table written here. */
class TablesSpec extends AnyFunSuite with Matchers with Eventually with SparkTestSession {

  private def tmpDir(): String = Files.createTempDirectory("graft_tablesspec_").toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The Spark jobs `body` starts on this thread, seen by a listener: the
    * jobs run under one job group, and a marker job in a second group
    * shows that the listener has caught up with them. */
  private def jobsDuring[T](s: SparkSession)(body: => T): (T, Int) = {
    val sc = s.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val (group, marker) = (s"tablesspec-$id", s"tablesspec-marker-$id")
    val seen = new AtomicInteger
    @volatile var caughtUp = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => seen.incrementAndGet(): Unit
          case Some(`marker`) => caughtUp = true
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try s.range(1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds)))(caughtUp shouldBe true)
      (out, seen.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a second read of an unchanged table runs no job and equals spark.read.parquet") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("id", "k", "v")
      .write.parquet(s"$dir/t.parquet")
    val (_, first) = jobsDuring(s)(Tables.table(s, dir, "t").schema)
    first should be > 0 // the inference, paid once
    val (df, second) = jobsDuring(s)(Tables.table(s, dir, "t"))
    second shouldBe 0
    val plain = s.read.parquet(s"$dir/t.parquet")
    df.schema shouldBe plain.schema
    rows(df) shouldBe rows(plain)
  }

  test("a table rewritten at the same path is read with its new schema, as a file or a directory") {
    val s = spark
    import s.implicits._
    val dir = tmpDir()
    // the directory table, as Spark writes it
    Seq((1L, 2.0)).toDF("id", "v").write.parquet(s"$dir/d.parquet")
    Tables.table(s, dir, "d").schema.fieldNames shouldBe Array("id", "v")
    Seq((1L, "x", 3.0)).toDF("id", "k", "w").write.mode("overwrite").parquet(s"$dir/d.parquet")
    Tables.table(s, dir, "d").schema shouldBe s.read.parquet(s"$dir/d.parquet").schema
    rows(Tables.table(s, dir, "d")) shouldBe Seq("[1,x,3.0]")

    // the single-file table, as the driver ships it
    val single = new java.io.File(s"$dir/f.parquet")
    def writeSingle(df: DataFrame): Unit = {
      val staged = s"$dir/staged"
      df.coalesce(1).write.mode("overwrite").parquet(staged)
      val part = new java.io.File(staged).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, single.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeSingle(Seq((7L, "q")).toDF("id", "k"))
    rows(Tables.table(s, dir, "f")) shouldBe Seq("[7,q]")
    writeSingle(Seq((7L, 8L, 9L)).toDF("a", "b", "c"))
    Tables.table(s, dir, "f").schema shouldBe s.read.parquet(single.getPath).schema
    rows(Tables.table(s, dir, "f")) shouldBe Seq("[7,8,9]")
  }

  test("a session, or a conf change, with another nanosAsLong never reuses a cached schema") {
    // a TIMESTAMP(NANOS) column: Spark cannot write one, parquet-mr can
    val dir = tmpDir()
    val path = s"$dir/n.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new HPath(path))
      .withConf(new Configuration).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1704067201000000000L))
    finally w.close()

    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.get(nanosAsLong) shouldBe "true"
    val cached = Tables.table(spark, dir, "n").schema
    cached("ts").dataType shouldBe LongType
    // whatever a plain read with nanosAsLong off gives (a schema or an
    // error), the cached read gives the same
    val other = spark.newSession()
    other.conf.set(nanosAsLong, "false")
    val plain = Try(other.read.parquet(path).schema).toOption
    plain should not be Some(cached)
    Try(Tables.table(other, dir, "n").schema).toOption shouldBe plain
    spark.conf.set(nanosAsLong, "false")
    try Try(Tables.table(spark, dir, "n").schema).toOption shouldBe plain
    finally spark.conf.set(nanosAsLong, "true")
  }
}
