package graft.models

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.{array, col}

/**
 * The per-series lift behind every per-key fit, test and forecast: each
 * series fits in memory on one executor while the collection of series is
 * distributed (SURVEY §2.8's "per-series iterative estimation"). Contract:
 *
 *  - gather: rows with a null in any value column are dropped (a missing
 *    point cannot enter a fit); the key is cast to string, ts to long and
 *    every value to double; one hash shuffle on the key, nothing else.
 *  - fan-out: that shuffle has a fixed `spark.sql.shuffle.partitions`
 *    partitions (`Tables.configure` sets it to the core count), each one
 *    task. A fit costs CPU per key, not per byte, and a few hundred series
 *    gather into well under AQE's minimum partition size, so byte-sized
 *    coalescing would merge them into one task and run every fit on one
 *    core. A `repartition(n, key)` shuffle is one AQE never coalesces, and
 *    it already clusters the grouping on `key`, so no second exchange.
 *  - order: each key's rows ascend by ts; rows with equal ts are ordered by
 *    their values (first value column first, `java.lang.Double.compare`),
 *    so a key's result does not depend on shuffle arrival order.
 *  - hand-over: the kernel gets `(key, ts, values)` with `values` an
 *    `Array[Double]` for one value column ([[apply]]) or one
 *    `Array[Double]` row per observation for several ([[rows]]).
 *  - failure: a throwing kernel fails the job, unless its body is wrapped
 *    in [[skipOnFailure]], which drops that key on a non-fatal error.
 */
private[graft] object PerSeries {

  /** Lift a one-column kernel: `values(i)` is observed at `ts(i)`. */
  def apply[U <: Product : TypeTag](df: DataFrame, key: String, ts: String,
      value: String)(kernel: (String, Array[Long], Array[Double]) => IterableOnce[U])
      : Dataset[U] =
    lift(gather(df, key, ts, Seq(value), col(value).cast("double").as("value")),
      Encoders.product[KeyedPoint], pointOrder) { (k, pts) =>
      kernel(k, pts.map(_.ts), pts.map(_.value))
    }

  /** Lift a kernel over several value columns: `values(i)` is the row of
    * `valueCols` (in that order) observed at `ts(i)`. */
  def rows[U <: Product : TypeTag](df: DataFrame, key: String, ts: String,
      valueCols: Seq[String])
      (kernel: (String, Array[Long], Array[Array[Double]]) => IterableOnce[U])
      : Dataset[U] =
    lift(gather(df, key, ts, valueCols,
      array(valueCols.map(c => col(c).cast("double")): _*).as("values")),
      Encoders.product[(String, Long, Array[Double])], rowOrder) { (k, pts) =>
      kernel(k, pts.map(_._2), pts.map(_._3))
    }

  /** The kernel's rows, or none when it throws a non-fatal exception: the
    * opt-in policy of fits where one degenerate series must not kill the
    * job. Fatal errors (VM errors, interrupts, linkage errors) propagate.
    * Rows are materialized inside the guard, so a lazily built row cannot
    * escape it. */
  def skipOnFailure[U](rows: => IterableOnce[U]): List[U] =
    try rows.iterator.toList catch { case NonFatal(_) => Nil }

  /** Median inter-observation gap (forecast timestamp extrapolation);
    * 1 for a one-point series. */
  def medianStep(tss: Array[Long]): Long =
    if (tss.length > 1) {
      val steps = Array.tabulate(tss.length - 1)(i => tss(i + 1) - tss(i)).sorted
      steps(steps.length / 2)
    } else 1L

  private def gather(df: DataFrame, key: String, ts: String, valueCols: Seq[String],
      values: Column): DataFrame =
    df.filter(valueCols.map(c => col(c).isNotNull).reduce(_ && _))
      .select(col(key).cast("string").as("key"), col(ts).cast("long").as("ts"), values)

  /** The one shuffle: hash the gathered rows on `key` into the session's
    * shuffle partition count, group on the key, sort each key's rows, hand
    * over. `enc` binds `(key, ts, value[s])` (a tuple by ordinal). */
  private def lift[T <: AnyRef : ClassTag, U <: Product : TypeTag](rows: DataFrame,
      enc: Encoder[T], order: Ordering[T])(handOver: (String, Array[T]) => IterableOnce[U])
      : Dataset[U] = {
    val n = rows.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    rows.repartition(n, col("key")).groupBy(col("key")).as[String, T](Encoders.STRING, enc)
      .flatMapGroups { (k, it) =>
        val pts = it.toArray
        java.util.Arrays.sort(pts, order)
        handOver(k, pts)
      }(Encoders.product[U])
  }

  private val pointOrder: Ordering[KeyedPoint] = (a, b) => {
    val c = java.lang.Long.compare(a.ts, b.ts)
    if (c != 0) c else java.lang.Double.compare(a.value, b.value)
  }

  private val rowOrder: Ordering[(String, Long, Array[Double])] = (a, b) => {
    var c = java.lang.Long.compare(a._2, b._2)
    var j = 0
    while (c == 0 && j < a._3.length) {
      c = java.lang.Double.compare(a._3(j), b._3(j)); j += 1
    }
    c
  }
}
