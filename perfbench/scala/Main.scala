package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraftSession
import graft.model._
import graft.streaming.MarketDataflow

/** Benchmark JVM entry. `perfbench/run.py` builds this and calls it as
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --out DIR --sf SF_DIR --cpus N
  * and reads DIR/report.json (plus, when traced, spans.jsonl,
  * stages.jsonl and loop/progress.jsonl). Workload `selftest` runs the
  * loop checkers on planted faults instead. */
object Main {

  private implicit val formats: Formats = DefaultFormats

  /** JSON of the report, spans and stage rows, a NaN or infinite number
    * written as null. */
  def json(v: Any): String =
    JsonMethods.compact(JsonMethods.render(Extraction.decompose(v).transform {
      case JDouble(d) if d.isNaN || d.isInfinite => JNull
    }))

  /** The loop workloads: the workload rate after a 1,000 orders/s
    * warm-up. `loop_heavy` offers about a sixth of the 27-32k orders/s J1
    * sustains inside the loop on a 4-core box; the nearer the rate is to
    * that, the more a slower host lengthens every latency, and above it the
    * backlog grows with the run (see perfbench/README.md). */
  def loopCfg(workload: String, seconds: Int): Loop.Cfg = workload match {
    case "loop_steady" => Loop.Cfg(rate = 1000, warmRate = 1000, seconds = seconds)
    case "loop_heavy"  => Loop.Cfg(rate = 5000, warmRate = 1000, seconds = seconds)
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val out = Files.createDirectories(Paths.get(a("out")))
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(a("cpus"))
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val report =
        if (workload == "selftest") SelfTest.run(spark)
        else measure(spark, workload, a("seed").toLong, a("seconds").toInt, a("trace") == "1",
          out, a("sf"))
      Files.writeString(out.resolve("report.json"), json(report ++ Map(
        "session_s" -> sessionS,
        "peak_rss_kb" -> peakRssKb(),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "cpus" -> a("cpus").toInt)))
    } finally spark.stop()
  }

  def measure(spark: SparkSession, workload: String, seed: Long, seconds: Int, traced: Boolean,
              out: Path, sfDir: String): Map[String, Any] = {
    val cfg = loopCfg(workload, seconds)
    val trace = if (traced) Some(new Trace(s"$workload-$seed-${System.currentTimeMillis()}")) else None
    trace.foreach(t => spark.sparkContext.addSparkListener(t.listener))
    val root = trace.map(_.reserve()).getOrElse(0L)
    val start = System.currentTimeMillis()
    val catalog = Catalog.run(spark, Catalog.Slices(workload), sfDir, seed, out, trace, root)
    val loop = Loop.run(spark, cfg, seed, out.resolve("loop"), trace, root)
    trace.foreach { t =>
      t.span("workload", start, System.currentTimeMillis(), 0L, Map("workload" -> workload), id = root)
      spark.sparkContext.removeSparkListener(t.listener)
      t.write(out)
    }
    Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "run_id" -> trace.map(_.runId).getOrElse(""), "loop" -> loop, "catalog" -> catalog)
  }

  /** Peak resident set of this JVM (VmHWM), in KiB; 0 where /proc is absent. */
  def peakRssKb(): Long =
    try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }
}

/** The loop checkers on a hand-built run with planted faults: a clean
  * run, a missing TxnEvent, a duplicated TxnEvent and a J1 updater at a
  * price that was never emitted. */
object SelfTest {
  def run(spark: SparkSession): Map[String, Any] = {
    import spark.implicits._
    val t = new Timestamp(1000000L)
    val prices = Seq(2.0, 2.25)
    val orders = Seq("T1" -> MarketOrder(t, "o0", "BUY", 1), "T2" -> MarketOrder(t, "o1", "SELL", 1),
      "T1" -> MarketOrder(new Timestamp(1000100L), "o2", "SELL", 1))
    val updaters = orders.map { case (k, o) => k -> Semantics.marketDelta(o, 2.0) }
    val invests = Seq("T2" -> Semantics.investDelta(Investment(t, "i0", 0.01)))

    // the streaming ledger's events, in processing order: J1 output and
    // the INVEST first, then the RETURN the ROI timer sends back
    def fold(us: Seq[(String, TraderStateUpdater)],
             init: Map[String, MarketDataflow.LedgerState]) =
      us.sortBy { case (_, u) => (u.time.getTime, u.txnId) }
        .foldLeft((init, Vector.empty[(String, TxnEvent)])) { case ((st, acc), (k, u)) =>
          val (s2, ev) = MarketDataflow.ledgerStep(st.getOrElse(k, MarketDataflow.LedgerState(None, 0.0)), u)
          (st.updated(k, s2), acc :+ (k -> ev))
        }
    val (state1, first) = fold(updaters ++ invests, Map.empty)
    val returns = first.filter(_._2.investedCoins > 0).map { case (k, ev) =>
      MarketDataflow.roiReturn(k, ev, Loop.sampler(ev.totalInvestments), new Timestamp(1000500L))
    }
    val (_, second) = fold(returns, state1)
    val clean = (first ++ second).zipWithIndex.map { case ((k, ev), i) => (k, ev, i.toLong) }

    def check(events: Seq[(String, TxnEvent, Long)],
              j1: Seq[(String, TraderStateUpdater)] = updaters): Map[String, Long] =
      LoopCheck.run(spark, orders.size, invests.size, prices, j1.toDS(), invests.toDS(),
        returns.toDS(), events.toDF("trader", "ev", "ord"))

    val o1 = clean.indexWhere(_._2.txnResult.txnId == "o1")
    Map("selftest" -> Map(
      "clean" -> check(clean),
      "missing" -> check(clean.patch(o1, Nil, 1)),
      "duplicate" -> check(clean :+ clean(o1).copy(_3 = clean.size.toLong)),
      "wrong_price" -> check(clean, updaters.updated(0, updaters(0)._1 ->
        updaters(0)._2.copy(coinsDiff = -2.5)))))
  }
}
