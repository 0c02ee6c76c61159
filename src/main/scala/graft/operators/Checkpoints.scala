package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** THE release rule for every frame a call materializes for itself.
  *
  * A kernel opens one [[Checkpoints.scoped]] block and makes each
  * intermediate through its [[Checkpoints.Scope]]: `s.checkpoint(df)`
  * (a localCheckpoint), `s.cache(df)` (a persist), or `s.own(df)` for
  * a frame a callee materialized. A round loop frees the frame a round
  * supersedes at once with `s.release(prev)`; when the block exits, by
  * return or by throw, the scope frees every frame it still owns
  * except the Dataset the block returns. A result that is a view over
  * an owned frame is built outside the block, from the owned frame the
  * block returns. Frames that outlive a call belong to a
  * [[SessionMemo]], never to a scope.
  *
  * Freeing is immediate, not left to the ContextCleaner (ADVICE r4):
  * a checkpoint's plan is a LogicalRDD over a persisted internal-row
  * RDD, and a cached frame is a CacheManager entry; [[unpersist]]
  * drops either, and the released frame becomes unusable.
  *
  * Best-effort by contract: the frame may belong to an already-STOPPED
  * SparkSession (JVM-global memos, per-session keys), whose blocks
  * died with that context, so a non-fatal release failure never fails
  * the caller. Fatal errors and interrupts propagate. */
object Checkpoints {

  /** Frees `df`'s storage now: a checkpoint's RDD blocks, or its cache
    * entry. A no-op for a frame that is neither. */
  def unpersist(df: Dataset[_]): Unit =
    try df.queryExecution.logical match {
      case l: LogicalRDD => l.rdd.unpersist(false)
      case _ => if (df.storageLevel != StorageLevel.NONE) df.unpersist(false)
    } catch { case NonFatal(_) => () }

  /** Runs `body` with a fresh [[Scope]] and frees what it owns on exit,
    * except the returned Dataset. */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    var kept: Any = null
    try { val out = body(s); kept = out; out }
    finally s.owned.foreach(df => if (!(df eq kept.asInstanceOf[AnyRef])) unpersist(df))
  }

  /** The frames one [[scoped]] block owns, by identity. */
  final class Scope private[Checkpoints] {
    private[Checkpoints] val owned = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

    /** Takes ownership of a frame a callee materialized. */
    def own[T](df: Dataset[T]): Dataset[T] = { owned += df; df }

    def checkpoint[T](df: Dataset[T], eager: Boolean = true): Dataset[T] =
      own(df.localCheckpoint(eager))

    def cache[T](df: Dataset[T]): Dataset[T] = own(df.persist())

    /** Frees an owned frame now (a superseded round); a frame the scope
      * does not own, such as a caller's, is left alone. */
    def release(df: Dataset[_]): Unit = {
      val i = owned.indexWhere(_ eq df)
      if (i >= 0) unpersist(owned.remove(i))
    }
  }
}

/** THE single-slot session memo (one definition, eleven former
  * hand-rolled slots in [[graft.queries.ExtensionCatalog]]): holds at
  * most one (key, value) pair — train once, serve many. Keys carry the
  * session identity, source dir and data fingerprint, so a new session
  * or data changing under the same path misses and rebuilds.
  *
  * On replacement a `DataFrame` value that is not the incoming
  * instance goes through [[Checkpoints.unpersist]] (a no-op unless it
  * is a checkpoint or a cached frame); any other value (driver-held
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
