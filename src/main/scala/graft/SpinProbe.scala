package graft

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicLong

/** The contention probes of [[Bench]] and `tools.ProbeCalib`. Both
  * time a FIXED xorshift64 spin (40M rounds, ~40 ms nominal, no memory
  * traffic): under CPU steal the same instruction count takes
  * proportionally longer. [[narrow]] spins on the calling thread;
  * [[wide]] spins once on each of `wideN` pooled threads at once and
  * times the slowest, so it also sees PARTIAL multi-core steal, which
  * leaves the single thread a free core. The pool is created once, so
  * thread creation is not part of any measurement past the first. */
final class SpinProbe(val wideN: Int) {
  private var sink = 0L // defeats dead-code elimination of the spin
  private val wideSink = new AtomicLong()
  private val pool = Executors.newFixedThreadPool(wideN,
    r => { val t = new Thread(r, "graft-wide-probe"); t.setDaemon(true); t })

  def narrow(): Double = {
    val t0 = System.nanoTime()
    sink += SpinProbe.spin()
    (System.nanoTime() - t0) / 1e9
  }

  def wide(): Double = {
    val latch = new CountDownLatch(wideN)
    val t0 = System.nanoTime()
    (1 to wideN).foreach { _ =>
      pool.execute { () =>
        wideSink.addAndGet(SpinProbe.spin())
        latch.countDown()
      }
    }
    latch.await()
    (System.nanoTime() - t0) / 1e9
  }
}

object SpinProbe {

  /** Width = the bench's own core count (SPARK_GRAFT_CPUS, capped at the
    * box's), not the box's: an 8-core bench on a 32-core box is only
    * harmed when IT cannot get 8 cores. MINUS TWO (calibrated): a
    * fully-saturating probe times the Spark JVM's own post-query
    * daemon/GC tail as if it were steal (measured 1.15-1.46x on an idle
    * box); two spare cores absorb that self-noise, and any external
    * burst wider than the headroom still forces probe threads to
    * time-share (~2x). */
  def fromEnv(): SpinProbe = new SpinProbe(math.max(2, math.min(
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
    Runtime.getRuntime.availableProcessors()) - 2))

  private def spin(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }
}
