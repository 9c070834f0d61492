package graft.graph

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Observation}
import org.apache.spark.sql.functions._

/**
 * Connected components over an undirected edge list — the clustering step a
 * dedup pipeline runs after LSH pair generation (pairs only say "a ~ b";
 * training-data dedup needs whole duplicate CLUSTERS so it can keep one
 * canonical document per cluster and drop the rest). The reference ships pair
 * generation but leaves grouping to the caller; at 100 TB the grouping is the
 * hard part, so it is a first-class operator here.
 *
 * Algorithm: iterative min-label propagation with pointer jumping.
 * Every vertex starts labeled with its own id; each round sets
 *   label(v) <- min(label(v), min over neighbors u of label(u))
 *   label(v) <- min(label(v), old label(label(v)))               (pointer jump)
 * The neighbor step alone needs O(diameter) rounds; the pointer jump contracts
 * label chains, which brings a path with ordered ids down to O(log diameter)
 * rounds (7 for 40 vertices). It is not full pointer doubling: a path whose
 * ids are shuffled still takes rounds close to its diameter (11 for 32
 * vertices). Near-dup clusters are shallow (a hub crawl dup cluster has
 * diameter ~2-4), so 3-6 rounds in practice.
 *
 * Round shape: the edges are joined to the labels on the neighbour id, and
 * ONE aggregate keyed by vertex takes the min over the vertex's own label
 * and its neighbours' labels, carrying the old label through a self flag (no
 * labels ⋈ neighbour-min join). The pointer jump joins the result to the
 * same label relation, so the labels' exchange is shared by both joins. The
 * round ends in one `localCheckpoint`, which cuts the lineage so the plan
 * does not grow with the iteration count (the classic iterative-DataFrame
 * OOM); the count of changed labels is observed inside that same job
 * (`Dataset.observe`), so convergence costs no job of its own.
 *
 * Scale notes: labels are one row per vertex — orders of magnitude smaller
 * than the corpus — and the edge list is shuffled on the neighbour id once
 * per round. No step ever materializes a component in one task, so a
 * degenerate giant component (everything near-dups everything) degrades to
 * more rounds, not to an executor OOM. On a real cluster prefer
 * `sc.setCheckpointDir` + reliable checkpoints over localCheckpoint for
 * fault tolerance.
 */
object ConnectedComponents {

  /**
   * @param vertices one column: the vertex id (LongType); ids are distinct
   * @param edges    two columns (src, dst); treated as undirected, self-loops
   *                 and duplicates are fine
   * @param maxIter  iteration cap; 25 rounds covers near-dup clusters and
   *                 ordered-id paths far longer than any of them, but not a
   *                 long path with shuffled ids. Exhausting it means labels are
   *                 only PARTIALLY propagated — that is an error, not a
   *                 result, so `run` throws rather than silently returning
   *                 wrong components (downstream canonical election would
   *                 split clusters).
   * @return (id, component) where component = min vertex id in the component;
   *         isolated vertices keep their own id
   */
  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val idCol = vertices.columns.head
    val Seq(srcCol, dstCol) = edges.columns.take(2).toSeq
    val (s, d) = (col(srcCol).cast("long"), col(dstCol).cast("long"))
    // both orientations from one pass over the edge source
    val und = edges
      .select(explode(array(struct(s.as("src"), d.as("dst")), struct(d.as("src"), s.as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint() // edges are reused every round: evaluate once

    var labels = vertices.select(col(idCol).cast("long").as("id"))
      .withColumn("comp", col("id")).localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // one projection of the labels for both joins, so their exchange is shared
      val lab = labels.select(col("id").as("l_id"), col("comp").as("l_comp"))
      val nbr = und.join(lab, col("dst") === col("l_id"))
        .select(col("src").as("id"), col("l_comp").as("comp"), lit(false).as("self"))
      val stepped = labels.select(col("id"), col("comp"), lit(true).as("self"))
        .union(nbr)
        .groupBy("id")
        .agg(min("comp").as("comp"), max(when(col("self"), col("comp"))).as("old"),
          max("self").as("self"))
        .filter(col("self")) // an edge to an id outside `vertices` adds no vertex
      // pointer jump: follow comp one hop (comp <- old label(comp)); the label
      // of comp always exists because comp only ever takes existing vertex ids
      val changed = Observation()
      val jumped = stepped.join(lab, col("comp") === col("l_id"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("l_comp"), col("comp"))).as("comp"),
          col("old"))
        .observe(changed, count(when(col("comp") =!= col("old"), 1)).as("n"),
          count(lit(1)).as("rows"))
        .localCheckpoint()
      val seen = changed.get
      converged = seen("n") == 0L
      labels = GraftSqlBridge.withRowCount(jumped, seen("rows").asInstanceOf[Long])
        .select("id", "comp")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents did not converge within maxIter=$maxIter rounds; " +
          "labels are partially propagated. Raise maxIter (each round is one " +
          "aggregate and one pointer-jump join ending in one checkpoint job; " +
          "a long path with unordered ids needs about as many rounds as its length).")
    labels.withColumnRenamed("id", idCol).withColumnRenamed("comp", "component")
  }
}
