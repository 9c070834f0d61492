package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev tool: refresh the frozen sf0.01 golden CSVs (GoldenSpec format —
  * %.6f doubles, sorted lines) after an intentional change to a seeded
  * ANN/LSH kernel. Usage: Test/runMain graft.RegenGoldens sm03_knn_ivf ...
  * Each name must have a column list registered below. */
object RegenGoldens {
  private val cols: Map[String, Seq[String]] = Map(
    "dd03_minhash_neardup" -> Seq("id_a", "id_b", "jaccard"),
    "dd04_simhash_neardup" -> Seq("id_a", "id_b", "hamming"),
    "dd06_embedding_neardup" -> Seq("id_a", "id_b", "cosine"),
    "sm02_knn_lsh" -> Seq("query_id", "rank", "neighbor_id", "cosine"),
    "sm03_knn_ivf" -> Seq("query_id", "rank", "neighbor_id", "cosine"),
    "sm04_knn_pq" -> Seq("query_id", "rank", "neighbor_id", "cosine"),
    "sp01_spline_series" -> Seq("key", "day_us", "value"))

  private def fmt(v: Any): String = v match {
    case d: Double => f"$d%.6f"
    case f: Float  => f"${f.toDouble}%.6f"
    case x         => x.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass golden names to regenerate")
    val spark = Tables.configure(SparkSession.builder().master("local[8]"), "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- args) {
      val cs = cols(name)
      val lines = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
        .select(cs.map(org.apache.spark.sql.functions.col): _*)
        .collect()
        .map(r => cs.indices.map(i => fmt(r.get(i))).mkString(","))
        .sorted
      val path = Paths.get(s"src/test/resources/goldens/$name.csv")
      Files.writeString(path, lines.mkString("", "\n", "\n"))
      println(s"[regen] $name: ${lines.length} lines -> $path")
    }
    spark.stop()
  }
}
