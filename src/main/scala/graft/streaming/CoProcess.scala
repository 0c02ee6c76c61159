package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder}

import graft.operators.SecondarySort

/** Two-input keyed stateful processing — Spark's Structured Streaming
  * has no CoProcessFunction (SURVEY §4.1), so the reference's
  * `connect + RichCoFlatMapFunction` operators (J1 MarketDataflow.java
  * :99-112,190-268; J2 SharePriceDataflow.java:125-132,227-266; J3
  * MonkeyStockTrader.java:141-156,208-236) are re-expressed as a
  * tagged union folded by ONE keyed fold ([[SecondarySort]]).
  *
  * Micro-batch caveat (SURVEY §7.3): rows of both sides arrive
  * unordered within a batch, so each invocation sorts its group's rows
  * by (event time, side) — right/"state" side first at equal
  * timestamps, matching the reference's "state written before the
  * other side reads it" semantics — and replays them through the pure
  * per-event transition. Scales per-key (hash shuffle on the key);
  * a constant key is the reference's own global-state semantics and is
  * documented as the single-key hotspot.
  */
final case class Tagged[L, R](key: String, time: Timestamp,
                              left: Option[L], right: Option[R])

object CoProcess {

  /** Union two keyed streams into one tagged stream. */
  def tagged[L, R](lefts: Dataset[(String, Timestamp, L)],
                   rights: Dataset[(String, Timestamp, R)])(
      implicit e: Encoder[Tagged[L, R]]): Dataset[Tagged[L, R]] = {
    val l = lefts.map { case (k, t, v) => Tagged[L, R](k, t, Some(v), None) }
    val r = rights.map { case (k, t, v) => Tagged[L, R](k, t, None, Some(v)) }
    l.union(r)
  }

  /** Replay order: event time, the right/"state" side first at equal
    * timestamps. */
  private def order[L, R]: Tagged[L, R] => (Long, Boolean) =
    t => (t.time.getTime, t.left.isDefined)

  /** The per-event transition over the tagged union: the one step that
    * the streaming, replay and batch forms all fold. */
  private def step[L, R, S, O](onLeft: (S, Timestamp, L) => (S, Seq[O]),
                               onRight: (S, Timestamp, R) => (S, Seq[O])): (S, Tagged[L, R]) => (S, Seq[O]) =
    (s, row) => row match {
      case Tagged(_, t, Some(l), _) => onLeft(s, t, l)
      case Tagged(_, t, _, Some(r)) => onRight(s, t, r)
      case _                        => (s, Seq.empty)
    }

  /** The coFlatMap core: replay a time-sorted group through per-event
    * transitions. Pure — the per-group fold of the streaming operator,
    * and unit-testable standalone. */
  def replay[L, R, S, O](rows: Seq[Tagged[L, R]], init: S,
                         onLeft: (S, Timestamp, L) => (S, Seq[O]),
                         onRight: (S, Timestamp, R) => (S, Seq[O])): (S, Seq[O]) =
    SecondarySort.foldSorted(rows, order[L, R], init, step(onLeft, onRight))

  /** Streaming coFlatMap over a tagged union: keyed state carried
    * across micro-batches by [[SecondarySort.keyedFoldStream]].
    *
    * State-API choice (deliberate): T2's maturation timers use Spark
    * 4's `transformWithState` (MarketDataflow.RoiProcessor) because
    * real registered timers map 1:1 to the reference's onTimer. Plain
    * keyed replay here stays on flatMapGroupsWithState because it is
    * state-store-provider-agnostic — transformWithState hard-requires
    * RocksDB, which would force that provider on every CoProcess user
    * for zero capability gain (no timers, no multi-state). */
  def coFlatMap[L, R, S, O](tagged: Dataset[Tagged[L, R]], init: S,
                            onLeft: (S, Timestamp, L) => (S, Seq[O]),
                            onRight: (S, Timestamp, R) => (S, Seq[O]))(
      implicit se: Encoder[S], oe: Encoder[O], ke: Encoder[String]): Dataset[O] =
    SecondarySort.keyedFoldStream(tagged)(_.key, order[L, R], () => init,
      step(onLeft, onRight))

  /** Batch twin: the same per-event transitions, but as a secondary
    * sort — repartition on the key, sort within partitions by
    * (key, time, side) with the right/"state" side first at equal
    * timestamps (matching replay()'s order), then ONE streaming fold.
    * No per-key buffer: a hot key's history rides Spark's external
    * sort instead of a heap Vector (see graft.operators.SecondarySort). */
  def coFlatMapBatch[L, R, S, O](tagged: Dataset[Tagged[L, R]], init: S,
                                 onLeft: (S, Timestamp, L) => (S, Seq[O]),
                                 onRight: (S, Timestamp, R) => (S, Seq[O]))(
      implicit oe: Encoder[O], ke: Encoder[String]): Dataset[O] = {
    import org.apache.spark.sql.functions.col
    val sorted = tagged
      .repartition(col("key"))
      .sortWithinPartitions(col("key"), col("time"), col("left").isNotNull)
    SecondarySort.keyedFold(sorted)(_.key, () => init, step(onLeft, onRight))
  }
}
