package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Keyed folds, batch and streaming, over one step contract: every key
  * starts from `init`, and `step: (S, T) => (S, Seq[O])` fires once per
  * row in the key's order, returning the next state and that row's
  * emissions. A batch/stream twin pair passes one step to both forms.
  *
  * Batch, [[keyedFold]] (the secondary-sort pattern): hash-partition on
  * the key, sort within partitions by (key, event order), then stream
  * ONE sequential fold over the partition's rows. The
  * `groupByKey.flatMapGroups` replay twin materializes each key's
  * entire history in a heap Vector before folding — at 100× a hot key
  * (or the reference's deliberate constant-key dataflows, e.g. the
  * keyBy("FOO") market stage) that buffer is the OOM. Here heap usage
  * is one state + one row's emissions regardless of group size, and
  * the ordering work rides Spark's external sort (disk-spilling), so a
  * degenerate key is disk-bounded, not heap-bounded. Callers
  * repartition + sortWithinPartitions FIRST (explicitly, so the
  * ordering contract is visible in the plan) and then fold.
  *
  * Streaming, [[keyedFoldStream]]: the reference's per-key `ValueState`
  * cell (MarketDataflow.java:192-207). Rows apply in micro-batch order,
  * then in `orderOf` order inside a batch, so input in order per key
  * across batches emits what the batch fold emits. Its buffer is one
  * key's rows of one micro-batch.
  */
object SecondarySort {

  /** Batch keyed fold: one pass over key-clustered, key-sorted rows.
    *  - `step` fires per row and may emit;
    *  - `flush` fires at each key boundary (and at the end) for
    *    emit-once-per-group shapes; boundary emissions precede the
    *    first emissions of the next key.
    */
  def keyedFold[T, K, S, O](sorted: Dataset[T])(
      keyOf: T => K, init: () => S,
      step: (S, T) => (S, Seq[O]))(
      implicit oe: Encoder[O]): Dataset[O] =
    keyedFoldFlush(sorted)(keyOf, init, step, (_: K, _: S) => Seq.empty[O])

  /** keyedFold plus a boundary `flush` for emit-once-per-group shapes. */
  def keyedFoldFlush[T, K, S, O](sorted: Dataset[T])(
      keyOf: T => K, init: () => S,
      step: (S, T) => (S, Seq[O]),
      flush: (K, S) => Seq[O])(
      implicit oe: Encoder[O]): Dataset[O] =
    sorted.mapPartitions(rows => new KeyedFoldIterator(rows, keyOf, init, step, flush))

  /** Streaming keyed fold: per key and micro-batch, [[foldSorted]] from
    * the stored state (else `init()`), store the final state, emit the
    * outputs in fold order. The caller's `Encoder[S]` is the state
    * schema. No timeout: a key's state lives as long as the query. */
  def keyedFoldStream[T, K, A, S, O](ds: Dataset[T])(
      keyOf: T => K, orderOf: T => A, init: () => S,
      step: (S, T) => (S, Seq[O]))(
      implicit ord: Ordering[A], ke: Encoder[K], se: Encoder[S],
      oe: Encoder[O]): Dataset[O] =
    ds.groupByKey(keyOf)
      .flatMapGroupsWithState[S, O](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: K, rows: Iterator[T], gs: GroupState[S]) =>
          val (fin, out) = foldSorted(rows, orderOf, gs.getOption.getOrElse(init()), step)
          gs.update(fin)
          out.iterator
      }

  /** The pure per-group core of [[keyedFoldStream]]: stable-sort `rows`
    * by `orderOf` (rows with equal order keep their arrival order), fold
    * them through `step` from `init`, and return the final state with
    * every emission in order. */
  def foldSorted[T, A, S, O](rows: IterableOnce[T], orderOf: T => A, init: S,
                             step: (S, T) => (S, Seq[O]))(
      implicit ord: Ordering[A]): (S, Vector[O]) = {
    var s = init
    val out = Vector.newBuilder[O]
    Vector.from(rows).sortBy(orderOf).foreach { row =>
      val (s2, o) = step(s, row); s = s2; out ++= o
    }
    (s, out.result())
  }

  /** Dedicated iterator class (not Iterator.flatMap chains — shared
    * combinator call sites go megamorphic in a long-lived JVM and
    * deoptimize; see Dedup.PairIterator). */
  private final class KeyedFoldIterator[T, K, S, O](
      rows: Iterator[T], keyOf: T => K, init: () => S,
      step: (S, T) => (S, Seq[O]), flush: (K, S) => Seq[O])
      extends scala.collection.AbstractIterator[O] {
    private var curKey: Option[K] = None
    private var state: S = _
    private var outs: Seq[O] = Vector.empty
    private var oi = 0
    private var done = false
    advance()
    private def advance(): Unit = {
      while (oi >= outs.length && !done) {
        if (rows.hasNext) {
          val row = rows.next()
          val k = keyOf(row)
          val boundary =
            if (curKey.contains(k)) Seq.empty
            else {
              val b = curKey.map(pk => flush(pk, state)).getOrElse(Seq.empty)
              curKey = Some(k)
              state = init()
              b
            }
          val (s2, out) = step(state, row)
          state = s2
          outs = if (boundary.isEmpty) out else boundary ++ out
          oi = 0
        } else {
          done = true
          outs = curKey.map(pk => flush(pk, state)).getOrElse(Seq.empty)
          oi = 0
        }
      }
    }
    override def hasNext: Boolean = oi < outs.length
    override def next(): O = {
      val o = outs(oi)
      oi += 1
      if (oi >= outs.length) advance()
      o
    }
  }
}
