package graft.operators

import org.apache.spark.sql.Dataset

/** THE checkpoint-release helper (one definition, four former copies):
  * free a superseded localCheckpoint's storage blocks now instead of
  * waiting for the ContextCleaner to notice the dropped reference
  * (ADVICE r4). The checkpointed plan is a LogicalRDD over the
  * persisted internal-row RDD — unpersisting it releases executor
  * storage immediately; the released frame becomes unusable, which is
  * the point for single-slot memo replacement.
  *
  * Best-effort by contract: the frame may belong to an already-STOPPED
  * SparkSession (JVM-global memos, per-session keys) — its blocks died
  * with that context, and a failed unpersist must never fail the
  * caller. */
object Checkpoints {
  def unpersist(df: Dataset[_]): Unit =
    try df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    } catch { case _: Throwable => () }
}

/** THE single-slot session memo (one definition, eleven former
  * hand-rolled slots in [[graft.queries.ExtensionCatalog]]): holds at
  * most one (key, value) pair — train once, serve many. Keys carry the
  * session identity, source dir and data fingerprint, so a new session
  * or data changing under the same path misses and rebuilds.
  *
  * On replacement a `DataFrame` value that is not the incoming
  * instance goes through [[Checkpoints.unpersist]] (a no-op unless its
  * plan is a checkpoint's LogicalRDD); any other value (driver-held
  * centroids, codebooks) is simply dropped. The replaced frame becomes
  * unusable, which is the point: readers always fetch the current
  * slot.
  *
  * SERIAL-EXECUTION ASSUMPTION (ADVICE r5): immediate release is safe
  * only because catalog queries run one at a time from one driver
  * thread (the Verify/Bench/driver harness contract). A concurrent
  * holder of the REPLACED frame would lose its blocks with no
  * recompute path (truncated lineage). A multi-tenant driver would
  * defer the release to the replacing query's completion instead. */
final class SessionMemo[V <: AnyRef] {
  private val slot = new java.util.concurrent.atomic.AtomicReference[(String, V)]()

  /** The held value on a key hit; otherwise builds, stores and returns
    * it. */
  def apply(key: String)(build: => V): V = slot.get() match {
    case (k, v) if k == key => v
    case _ => put(key, build)
  }

  /** Stores `v` under `key` unconditionally (owners that always
    * recompute) and returns it. */
  def put(key: String, v: V): V = {
    val prev = slot.getAndSet((key, v))
    if (prev != null) prev._2 match {
      case df: Dataset[_] if !(df eq v) => Checkpoints.unpersist(df)
      case _ => ()
    }
    v
  }
}

/** The memory half of every adaptive driver-finish gate (review r11):
  * the edge-count gates were calibrated on a 32 GB driver, but the
  * library runs under whatever heap the caller configured — on
  * Spark's default 1g driver an 8M-row collect OOMs where the old
  * 1M gates stayed distributed. A driver finish is taken only when
  * the collect ALSO fits in a conservative heap fraction; the
  * distributed path is always correct (the two paths are spec-pinned
  * bit-identical), so heap-dependent path choice never changes a
  * result, only where it is computed. */
object DriverFinish {

  /** ~96 B/row covers a boxed two/three-long tuple in the collected
    * array PLUS the twin's auxiliary structures (adjacency buffers,
    * union-find arrays, label maps). */
  val BytesPerRow = 96L

  /** True when collecting `rows` driver-side fits in ≤ 1/5 of max
    * heap at [[BytesPerRow]] — headroom for the session's own state
    * and the result frame. */
  def fits(rows: Long): Boolean =
    rows <= Runtime.getRuntime.maxMemory / 5L / BytesPerRow

  /** THE driver-finish gate, one call for every kernel that has a
    * twin: true when the gate is live (> 0), `count` (the kernel's own
    * unit: directed rows, symmetric rows, canonical edges) and
    * `extraRows` (bfs/sssp's seeds) are both within it, and the
    * collect of `count + extraRows` rows passes the heap guard.
    * `count` is by-name, so gate 0 (the ladders' forced-distributed
    * path) and an over-gate `extraRows` never pay it.
    *
    * `gate == Long.MaxValue` is an EXPLICIT force-driver request
    * (GateCalib's "driver" arm, BenchScale's twin-equality replays)
    * and bypasses the heap guard — otherwise a small-heap harness
    * would silently measure the distributed path while labeling it
    * "driver". A declined in-gate finish notes itself once to stderr
    * so the path choice is never invisible. */
  def chooses(gate: Long, count: => Long, extraRows: Long = 0L): Boolean =
    gate > 0 && extraRows <= gate && {
      val n = count
      n <= gate && take(gate, n + extraRows)
    }

  private def take(gate: Long, rows: Long): Boolean =
    if (gate == Long.MaxValue) true
    else if (fits(rows)) true
    else {
      System.err.println(s"[graft] driver finish declined: $rows rows <= " +
        s"gate $gate but ~${rows * BytesPerRow >> 20} MB exceeds the heap " +
        s"guard (max ${Runtime.getRuntime.maxMemory >> 20} MB / 5); " +
        "taking the distributed path")
      false
    }
}
