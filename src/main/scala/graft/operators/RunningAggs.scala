package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.model.Semantics

/** Batch twins of the reference's running/keyed aggregates
  * (SURVEY §2.5 A1–A6, §2.6): rolling per-key aggregates are
  * `Window.partitionBy(key).orderBy(time).rowsBetween(unboundedPreceding,
  * currentRow)`; the order-sensitive EMA recurrence is a typed
  * `Aggregator` (Catalyst cannot fold a recurrence).
  */
object RunningAggs {

  /** Ordered per-key frame from start to current row — the batch form
    * of Flink's `keyBy(...).sum(...)` rolling aggregate
    * (SharePriceDataflow.java:121-122). `tieBreak` makes the order
    * total so results are deterministic. */
  def runningFrame(partition: Column, order: Column, tieBreak: Column): WindowSpec =
    Window.partitionBy(partition).orderBy(order, tieBreak)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** A2/A3 — running sum per key (MarketDataflow.java:319-339). */
  def runningSum(value: Column, partition: Column, order: Column, tieBreak: Column): Column =
    sum(value).over(runningFrame(partition, order, tieBreak))

  /** A5 — group-total product via exp∘sum∘ln (positive factors only),
    * the batch analog of the mult accumulator
    * (SharePriceDataflow.java:72-96). */
  def groupProduct(factor: Column): Column = exp(sum(log(factor)))

  /** A4 — final EMA per key over time-ordered values: repartition on
    * the key, external-sort within partitions by (key, ts, value),
    * stream the fold, emit once per key at the group boundary. Scales
    * as a single hash-partitioned pass with NO per-key buffer (the
    * earlier mapGroups form held each key's history in a heap Vector).
    * An Aggregator form is deliberately NOT provided: EMA partials
    * cannot merge, so Spark's partial-aggregation contract cannot be
    * honored — the sort-fold here is the correct shape. */
  def emaPerKey[K: Encoder](ds: Dataset[(K, Long, Double)], alpha: Double = 0.1)(
      implicit tupleEnc: Encoder[(K, Double)]): Dataset[(K, Double)] = {
    // normalize column names: a typed Dataset built from named columns
    // keeps those names, so sort columns are pinned via toDF
    val sorted = ds.toDF("_1", "_2", "_3").as[(K, Long, Double)](ds.encoder)
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_2"), col("_3"))
    SecondarySort.keyedFoldFlush(sorted)(_._1, () => Option.empty[Double],
      (s: Option[Double], row: (K, Long, Double)) =>
        (Some(Semantics.emaStep(s, row._3, alpha)): Option[Double], Seq.empty[(K, Double)]),
      (k: K, s: Option[Double]) => Seq(k -> s.getOrElse(Double.NaN)))
  }
}
