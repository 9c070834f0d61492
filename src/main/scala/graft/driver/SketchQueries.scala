package graft
package driver

/** Certified approximate aggregates ([[graft.sketch]]): the sketch toolbox
  * (HLL / GK quantiles / count-min / Bloom) a 100 TB pipeline uses where
  * exact answers are unaffordable, each certified in-query against the
  * exact answer with error-bound booleans. */
object SketchQueries {

  val queries: Seq[Query] = Seq(
    Query("qs01_hll_certified", (s, dir) => graft.sketch.Sketches.hll(s, dir))
      .oracle(graft.sketch.Sketches.oracleFor("hll")),
    Query("qs02_quantile_certified", (s, dir) => graft.sketch.Sketches.quantiles(s, dir))
      .oracle(graft.sketch.Sketches.oracleFor("quantiles")),
    Query("qs03_cms_certified", (s, dir) => graft.sketch.Sketches.cms(s, dir))
      .oracle(graft.sketch.Sketches.oracleFor("cms")),
    Query("qs04_bloom_certified", (s, dir) => graft.sketch.Sketches.bloom(s, dir))
      .oracle(graft.sketch.Sketches.oracleFor("bloom"))
  )
}
