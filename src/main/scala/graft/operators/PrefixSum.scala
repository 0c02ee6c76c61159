package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed GLOBAL prefix sum — the primitive behind sequence
  * packing (concatenate a corpus into fixed-token training sequences),
  * global row numbering, stream-offset assignment, and compaction
  * planning.
  *
  * The naive form, `sum(v) over (order by k)` with no partition
  * clause, funnels the entire table through ONE reducer — the classic
  * non-scalable window. This is the classic two-pass alternative:
  *
  *  1. range-partition by the order key and sort within partitions —
  *     ONE shuffle, shared: both passes run over the same RDD object,
  *     so the second job's map stage is skipped (shuffle files AND
  *     the sampled range boundaries are reused);
  *  2. per-partition totals to the driver — numPartitions longs, the
  *     only driver-side data;
  *  3. broadcast the exclusive cumulative offsets; each task streams
  *     its rows adding offset + local running sum.
  *
  * Results are independent of the sampled boundaries: moving a row
  * between partitions moves its contribution between the local sum
  * and the broadcast offset, never its global prefix. `orderCol` must
  * be UNIQUE — with duplicate keys the per-row prefix would depend on
  * intra-key order, which no engine defines (pass
  * `requireUniqueKeys = true` to enforce this loudly: equal keys
  * co-locate under the range partitioner, so the check is a free
  * adjacent comparison inside the existing pass-1 scan).
  *
  * Input-determinism contract (review r13): the two passes read the
  * shared shuffle's files, and under executor loss Spark re-runs the
  * upstream map stage to regenerate lost blocks. If `df` is
  * NONDETERMINISTIC (e.g. rand(), an unstable limit, a changed-
  * between-jobs source), a regenerated partition can disagree with
  * the already-collected broadcast offsets — silent misalignment
  * where the retired eager-checkpoint design failed loudly. Callers
  * feeding nondeterministic frames must stabilize them first
  * (`df.localCheckpoint()`); every in-repo caller reads deterministic
  * scans or deterministic derivations thereof.
  */
object PrefixSum {

  // public: Catalyst's generated deserializer must reach the ctors
  final case class KV(k: Long, v: Long)
  final case class KVRun(k: Long, v: Long, running: Long)

  /** (k, v, running) with running = inclusive prefix sum of v in
    * ascending k order.
    *
    * Both passes act on the SAME range-sorted RDD object, so the
    * second job skips the exchange's map stage and reuses its shuffle
    * files — and therefore its sampled range boundaries (stage reuse
    * keys on the shared ShuffleDependency). Nothing is cached or
    * checkpointed: the earlier design froze the sampled layout as a
    * 64-bit-row DESERIALIZED localCheckpoint, whose object blocks were
    * a measured GC storm at inventory scale (compaction ladder, r13:
    * the stamp/store stages ran 3-6× their CPU time at 64M rows; this
    * form's wall is the shuffle + two in-partition sorts). Partition
    * ids come from `mapPartitionsWithIndex`'s SPLIT index, which stays
    * correct under any downstream coalesce (each fused parent
    * partition still computes with its own index) — the property the
    * old design bought by carrying the stamp as data.
    *
    * `materialize = true`: eagerly checkpoint the RESULT (callers
    * that hold the rows across later mutations of the session). */
  def globalRunningSum(df: DataFrame, orderCol: String, valueCol: String,
                       numPartitions: Int = 0,
                       materialize: Boolean = false,
                       requireUniqueKeys: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    val sorted: org.apache.spark.rdd.RDD[KV] = df
      .select(col(orderCol).cast("long").as("k"),
        col(valueCol).cast("long").as("v"))
      .repartitionByRange(n, col("k"))
      .sortWithinPartitions(col("k"))
      .as[KV]
      .rdd
    // pass 1: per-partition totals — numPartitions longs to the
    // driver. Duplicate order keys co-locate under the range
    // partitioner and sit adjacent after the in-partition sort, so
    // uniqueness is a free comparison against the previous key here.
    val dupCheck = requireUniqueKeys
    val totals = sorted
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L; var prev = Long.MinValue; var first = true
        it.foreach { r =>
          if (dupCheck && !first && r.k == prev)
            throw new IllegalArgumentException(
              s"PrefixSum.globalRunningSum: duplicate order key ${r.k} " +
                "— the prefix order (and any plan built on it) would be " +
                "engine-defined")
          prev = r.k; first = false; s += r.v
        }
        Iterator((pid, s))
      }
      .collect().toMap
    val actualN = sorted.getNumPartitions
    val offsets = (0 until actualN).scanLeft(0L)(_ + totals.getOrElse(_, 0L))
    val bc = spark.sparkContext.broadcast(offsets.toArray)
    // pass 2: same RDD — map stage skipped, sort recomputed from the
    // reused shuffle files, each row adds its partition's exclusive
    // offset to the local running sum
    val out = spark.createDataset(
      sorted.mapPartitionsWithIndex { (pid, it) =>
        var acc = bc.value(pid)
        it.map { r => acc += r.v; KVRun(r.k, r.v, acc) }
      }).toDF("k", "v", "running")
    if (materialize) out.localCheckpoint() else out
  }

  /** Streaming twin — the A2 constant-key pattern: ONE global state
    * cell carries the running offset across micro-batches; within a
    * micro-batch rows are ordered by `orderCol`, so a stream whose
    * batches arrive in ascending-key order reproduces the batch twin
    * exactly (the spec pins this equality).
    *
    * Contract, stated rather than hidden: a GLOBAL sequential counter
    * is inherently a serial point — every row routes through the one
    * state task, and offsets follow ARRIVAL order across batches (a
    * stream cannot order against keys it has not seen). That is the
    * honest streaming form of sequence packing: at scale you keep the
    * serialized path thin by routing only the (key, count) pair
    * through it — exactly this operator's input — while payloads stay
    * on their partitions and re-join by key downstream. The per-batch
    * sort buffer is bounded by the micro-batch, not the stream. */
  def runningSumStream(df: DataFrame, orderCol: String, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    SecondarySort.keyedFoldStream(
        df.select(col(orderCol).cast("long").as("k"), col(valueCol).cast("long").as("v"))
          .as[KV])(_ => 0, _.k, () => 0L,
        (acc: Long, kv: KV) => (acc + kv.v, Seq(KVRun(kv.k, kv.v, acc + kv.v))))
      .toDF("k", "v", "running")
  }
}
