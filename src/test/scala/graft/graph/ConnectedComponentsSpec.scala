package graft.graph

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/**
 * [[ConnectedComponents.run]] against a driver-side union-find on seeded
 * graphs: chains with permuted ids (many rounds), a star, a clique,
 * isolated vertices, self-loops and duplicate and reversed edges. The round
 * count of the chain is pinned through `maxIter` (it converges at the count
 * and throws one round short), and repeated runs must leave nothing
 * registered on the session.
 */
class ConnectedComponentsSpec extends AnyFunSuite with Matchers with SparkTestSession {

  /** Min vertex id of each vertex's component, by union-find. */
  private def reference(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(vertices.map(v => v -> v): _*)
    def find(v: Long): Long = {
      val p = parent(v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra max rb) = ra min rb }
    }
    vertices.map(v => v -> find(v)).toMap
  }

  private def components(vertices: Seq[Long], edges: Seq[(Long, Long)],
      maxIter: Int = 25): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val out = ConnectedComponents.run(vertices.toDF("id"), edges.toDF("src", "dst"), maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    out.length shouldBe vertices.size
    out.toMap
  }

  private def check(vertices: Seq[Long], edges: Seq[(Long, Long)]): Unit =
    components(vertices, edges) shouldBe reference(vertices, edges)

  /** An n-vertex path whose ids are a seeded permutation, edges shuffled:
    * min-label propagation needs many rounds on it, unlike a sorted chain. */
  private def chain(n: Int): (Seq[Long], Seq[(Long, Long)]) = {
    val rng = new scala.util.Random(11)
    val ids = rng.shuffle((0L until n.toLong).map(_ * 7 + 3).toVector)
    (ids, rng.shuffle(ids.sliding(2).map { case Seq(a, b) => (a, b) }.toVector))
  }

  test("a chain with permuted ids matches union-find") {
    val (vertices, edges) = chain(32)
    check(vertices, edges)
  }

  test("a star, a clique and isolated vertices match union-find") {
    val star = (1L to 30L).map(v => (100L, 100L + v))
    val clique = for (a <- 200L until 212L; b <- 200L until 212L if a < b) yield (b, a)
    val isolated = Seq(5L, 999L, 0L)
    val vertices = (100L to 130L) ++ (200L until 212L) ++ isolated
    check(vertices, star ++ clique)
  }

  test("self-loops, duplicate and reversed edges match union-find") {
    val rng = new scala.util.Random(23)
    val vertices = (0L until 60L).toVector
    val base = Vector.fill(45)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
    val edges = rng.shuffle(base ++ base.take(15) ++ base.take(20).map(_.swap) ++
      Seq((7L, 7L), (59L, 59L), (3L, 3L)))
    check(vertices, edges)
  }

  test("the chain takes 11 rounds, and exhausting maxIter throws") {
    // 11 is the round count of the two-join round shape this one replaced:
    // the jump semantics are unchanged, so the count must be too
    val (vertices, edges) = chain(32)
    components(vertices, edges, maxIter = 11) shouldBe reference(vertices, edges)
    val e = intercept[IllegalStateException](components(vertices, edges, maxIter = 10))
    e.getMessage should include("maxIter=10")
  }

  test("a long chain plans each round from the true label count") {
    // the labels are re-planned from a checkpoint every round; an estimate
    // inherited from the cut plan compounds (join sizes multiply) until
    // planning a round takes minutes
    val s = spark
    import s.implicits._
    val (vertices, edges) = chain(64)
    val out = ConnectedComponents.run(vertices.toDF("id"), edges.toDF("src", "dst"), maxIter = 64)
    out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe reference(vertices, edges)
    out.queryExecution.optimizedPlan.stats.sizeInBytes should be <= BigInt(64 * 64)
  }

  test("repeated runs leave nothing registered on the session") {
    val s = spark
    import s.implicits._
    val (vertices, edges) = chain(32)
    def runOnce(): DataFrame =
      ConnectedComponents.run(vertices.toDF("id"), edges.toDF("src", "dst"))
    runOnce().collect()
    // query-execution listeners and observations still waiting for a result
    def registered(): (Int, Int) = {
      val listeners = s.listenerManager.getClass.getMethod("listListeners")
        .invoke(s.listenerManager).asInstanceOf[Array[_]].length
      val manager = s.getClass.getMethod("observationManager").invoke(s)
      val field = manager.getClass.getDeclaredField("observations")
      field.setAccessible(true)
      (listeners, field.get(manager).asInstanceOf[java.util.Map[_, _]].size)
    }
    def tables() = s.catalog.listTables().collect().map(_.name).toSeq
    val before = (registered(), s.conf.getAll, tables())
    (1 to 3).foreach(_ => runOnce().collect())
    val after = (registered(), s.conf.getAll, tables())
    after shouldBe before
    before._1._2 shouldBe 0
  }
}
