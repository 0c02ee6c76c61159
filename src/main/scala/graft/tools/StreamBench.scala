package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import java.time.Instant

import scala.collection.mutable
import scala.concurrent.{ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQuery, StreamingQueryProgress}

import graft.streaming.MarketLoop

/** Streaming throughput/latency receipt for the FULL market loop
  * (VERDICT r13 Next #2), the standing-pipeline half of what the batch
  * BenchScale ladders grade.
  *
  * Each rate rung starts a fresh [[MarketLoop]] and feeds it from a
  * generator thread: orders at `rate` rec/s plus 5 % INVEST updaters
  * and 20 prices/s for a sustained window. Per query it reports
  * sustained rec/s, the p50/p95/max of triggerExecution and the state
  * cost (RocksDB commit time summed over the store tasks, state rows,
  * memory), all from the query's own progress. A rung that cannot
  * drain its backlog within the drain allowance is stamped
  * `drained:false`: that rung IS the saturation point. J1 is keyed on
  * the constant "FOO" (one market = one key, the reference's
  * semantics), so its state task is serial at any cluster size; the
  * rungs make that ceiling a measured number. The reference's
  * envelope is ~70 rec/s (Chapter03_Windowing.java:157-173; BASELINE.md).
  *
  * `runMain graft.tools.StreamBench [rate,rate,...]` (default
  * 1000,10000,50000); env SPARK_GRAFT_STREAM_WINDOW (gen seconds,
  * default 40), SPARK_GRAFT_STREAM_OUT (sidecar path).
  */
object StreamBench {

  // ------------------------------------------------------------ generator

  /** Writes JSON-lines topic files at a steady rate from the driver.
    * Files are staged outside the topic dir and moved in atomically so
    * the file source never lists a half-written file. */
  private final class Generator(root: Path, rate: Int, windowSec: Int) {
    @volatile var orders = 0L
    @volatile var invests = 0L
    @volatile var prices = 0L
    @volatile var genWallMs = 0L

    private def publish(topic: String, tick: Int, lines: Iterator[String]): Unit = {
      val tmp = root.resolve(f"${topic}_$tick%06d.json")
      Files.write(tmp, lines.mkString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, MarketLoop.topic(root, topic).resolve(tmp.getFileName),
        StandardCopyOption.ATOMIC_MOVE)
    }

    def run(): Unit = {
      val tickMs = 500L
      val t0 = System.currentTimeMillis()
      val ordersPerTick = math.max(1, (rate * tickMs / 1000L).toInt)
      val investsPerTick = math.max(1, ordersPerTick / 20) // 5 % INVEST
      val pricesPerTick = 10 // 20 prices/s at 500 ms ticks
      var tick = 0
      while (System.currentTimeMillis() < t0 + windowSec * 1000L) {
        val tickStart = System.currentTimeMillis()
        val ts = Instant.ofEpochMilli(tickStart).toString
        // 256 traders; BUY and SELL alternate
        publish("orders", tick, (orders until orders + ordersPerTick).iterator.map { o =>
          val side = if (o % 2 == 0) "BUY" else "SELL"
          s"""{"key":"T${o % 256}","value":{"time":"$ts","txnId":"o$o","orderType":"$side","shares":1}}\n"""
        })
        // invested 0.01 keeps maturation delays (totalInvestments ms)
        // inside the window and traders mostly solvent
        publish("invests", tick, (invests until invests + investsPerTick).iterator.map { i =>
          s"""{"key":"T${i % 256}","value":{"txnId":"i$i","updaterType":"INVEST","time":"$ts",""" +
            s""""coinsDiff":-0.01,"sharesDiff":0,"addBailout":false,"fedMonkeys":0,"investDiff":1}}\n"""
        })
        publish("prices", tick, Iterator.fill(pricesPerTick)(
          s"""{"key":"FOO","value":{"time":"$ts","coins":2.0,"forecast":2.1}}\n"""))
        orders += ordersPerTick; invests += investsPerTick; prices += pricesPerTick
        tick += 1
        val spent = System.currentTimeMillis() - tickStart
        if (spent < tickMs) Thread.sleep(tickMs - spent)
      }
      genWallMs = System.currentTimeMillis() - t0
    }
  }

  // ------------------------------------------------------- progress polling

  private def triggerMs(p: StreamingQueryProgress): Long = p.durationMs.get("triggerExecution")
  /** A batch's (start ms, trigger ms): `timestamp` is when its trigger began. */
  private def timing(p: StreamingQueryProgress): (Long, Long) =
    (Instant.parse(p.timestamp).toEpochMilli, triggerMs(p))

  /** The time the batches that read input, given as (start ms,
    * trigger ms) in batch order, cover: from the first one's start to
    * the last one's end. 0 when there are none. */
  private[tools] def spanMs(active: Seq[(Long, Long)]): Long =
    if (active.isEmpty) 0L else active.last._1 + active.last._2 - active.head._1

  /** Input rows per second over [[spanMs]]. */
  private[tools] def rps(rows: Long, active: Seq[(Long, Long)]): Double = {
    val span = spanMs(active)
    if (span > 0) rows * 1000.0 / span else 0.0
  }

  /** A query is quiet once more than 5 s have passed since its last
    * batch that read input, (start ms, trigger ms), ended. */
  private[tools] def quiet(lastActive: Option[(Long, Long)], nowMs: Long): Boolean =
    lastActive.exists { case (start, trigger) => nowMs - (start + trigger) > 5000 }

  /** Executed micro-batches per query, keyed by batch id, polled from
    * each query's own `recentProgress`. That buffer keeps the last 100
    * progresses, so a poll every 500 ms cannot miss a batch. */
  private final class Batches(qs: Map[String, StreamingQuery]) {
    private val byQuery = qs.keys.map(_ -> mutable.TreeMap.empty[Long, StreamingQueryProgress]).toMap
    def poll(): Unit = for ((n, q) <- qs; p <- q.recentProgress if p.durationMs.containsKey("addBatch"))
      byQuery(n).getOrElseUpdate(p.batchId, p)
    def apply(q: String): Seq[StreamingQueryProgress] = byQuery(q).values.toSeq
  }

  private def pct(xs: Seq[Long], p: Double): Long =
    if (xs.isEmpty) 0L
    else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))

  // ---------------------------------------------------------------- a rung

  /** One rate rung over a fresh [[MarketLoop]]: its JSON line. */
  private[graft] def runRung(spark: SparkSession, rate: Int, windowSec: Int): String = {
    val root = Files.createTempDirectory(s"graft_streambench_$rate")
    val qs = MarketLoop.start(spark, root, _ => 0.05)
    val batches = new Batches(qs)

    // sustained generation window on its own thread, polled from this one
    val gen = new Generator(root, rate, windowSec)
    val generated = Future(gen.run())(ExecutionContext.global)
    while (!generated.isCompleted) { Thread.sleep(500); batches.poll() }
    generated.value.get.get // a generator failure fails the rung
    val genEnd = System.currentTimeMillis()

    // drain: J1 and the ledger have consumed everything when J1 has
    // processed at least the generated row count and neither has read
    // input for 5 s. Timer-driven T2 keeps triggering on its own, so
    // the wait is a bounded allowance instead of processAllAvailable
    // (which never settles under registered timers).
    val genRows = gen.orders + gen.prices
    val drainDeadline = genEnd + math.max(40, windowSec) * 1000L
    def quietNow(q: String): Boolean =
      quiet(batches(q).filter(_.numInputRows > 0).lastOption.map(timing), System.currentTimeMillis())
    var drained = false
    while (!drained && System.currentTimeMillis() < drainDeadline) {
      Thread.sleep(500)
      batches.poll()
      drained = batches("j1").map(_.numInputRows).sum >= genRows && quietNow("j1") && quietNow("t1")
    }
    qs.values.foreach(_.stop())
    batches.poll()

    def stats(q: String): String = {
      val all = batches(q)
      val active = all.filter(_.numInputRows > 0)
      val trig = active.map(triggerMs)
      val input = all.map(_.numInputRows).sum
      val rate = rps(input, active.map(timing))
      def stateSum(p: StreamingQueryProgress, f: StateOperatorProgress => Long): Long =
        p.stateOperators.map(f).sum
      val lastState = all.lastOption.map(stateSum(_, _.numRowsTotal)).getOrElse(0L)
      // commitTimeMs summed over the state store tasks, not wall time
      val commitMean =
        if (active.isEmpty) 0L else active.map(stateSum(_, _.commitTimeMs)).sum / active.size
      val mem = all.lastOption.map(stateSum(_, _.memoryUsedBytes)).getOrElse(0L)
      f"""{"rows":$input,"batches":${all.size},"active_batches":${active.size},""" +
        f""""rps":$rate%.0f,"trigger_p50_ms":${pct(trig, 0.50)},"trigger_p95_ms":${pct(trig, 0.95)},""" +
        f""""trigger_max_ms":${trig.maxOption.getOrElse(0L)},"state_rows":$lastState,""" +
        f""""commit_task_sum_ms_mean":$commitMean,"state_mem_bytes":$mem}"""
    }
    val line =
      f"""{"rate":$rate,"window_sec":$windowSec,"generated":{"orders":${gen.orders},""" +
        f""""prices":${gen.prices},"invests":${gen.invests},"gen_wall_ms":${gen.genWallMs}},""" +
        f""""drained":$drained,"j1_pricing":${stats("j1")},""" +
        f""""t1_ledger":${stats("t1")},"t2_roi":${stats("t2")}}"""
    // best-effort cleanup of the rung's topic+checkpoint tree
    try {
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(p =>
        try Files.deleteIfExists(p) catch { case _: Throwable => () })
    } catch { case _: Throwable => () }
    line
  }

  def main(args: Array[String]): Unit = {
    val rates = args.headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1000, 10000, 50000))
    val windowSec = sys.env.get("SPARK_GRAFT_STREAM_WINDOW").map(_.toInt).getOrElse(40)
    val spark = graft.GraftSession.builderFromEnv("32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rungs = rates.map { r =>
      System.err.println(s"[streambench] rung rate=$r window=${windowSec}s")
      val line = runRung(spark, r, windowSec)
      println(line)
      line
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT", {
      val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
        .format(Instant.now.atZone(java.time.ZoneOffset.UTC))
      s"dev/stream_throughput_$ts.json"
    })
    val doc = rungs.mkString("{\"metric\":\"stream_throughput\",\"rungs\":[\n", ",\n", "\n]}\n")
    try Files.writeString(Paths.get(out), doc)
    catch { case e: Throwable => System.err.println(s"[streambench] sidecar write failed: $e") }
    System.err.println(s"[streambench] artifact: $out")
    spark.stop()
  }
}
