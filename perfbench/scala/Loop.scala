package perfbench

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.model._
import graft.sources.JsonTopics
import graft.streaming.{CoProcess, MarketDataflow, Tagged}

/** The closed market loop over dir topics, driven only through the
  * public dataflow functions:
  *
  *   generator → orders, prices → j1 `priceOrders` → updaters
  *   updaters ∪ invests ∪ returns → t1 `ledger` → events
  *   events → t2 `roiReturns` (processing-time timers) → returns → t1
  *
  * Phases: warm-up at `warmRate` until every query has committed a batch
  * that read input, J1 two; `seconds` of generation at `rate`; drain
  * until every expected TxnEvent (RETURNs included) is visible; stop;
  * check the topics the run wrote; time the single-threaded baseline.
  */
object Loop {

  final case class Cfg(rate: Int, warmRate: Int, seconds: Int,
                       tickMs: Int = 200, traders: Int = 256)

  val Queries: Seq[String] = Seq("j1", "t1", "t2")
  private val WarmupLimitMs = 90000L
  private val DrainLimitMs = 60000L

  /** Deterministic ROI sample: T2 takes its sampler as an argument. */
  val sampler: Double => Double = t => 1.0 + 0.5 * math.abs(math.sin(t))

  /** Progress of every executed micro-batch, per query, read from each
    * query's own `recentProgress` buffer (no listener involved). */
  final class Batches(qs: Map[String, StreamingQuery]) {
    val byQuery: Map[String, mutable.TreeMap[Long, StreamingQueryProgress]] =
      qs.keys.map(_ -> mutable.TreeMap.empty[Long, StreamingQueryProgress]).toMap
    def poll(): Unit = qs.foreach { case (n, q) =>
      q.recentProgress.foreach { p =>
        if (p.durationMs.containsKey("addBatch")) byQuery(n).getOrElseUpdate(p.batchId, p)
      }
    }
    def inputRows(n: String): Long = byQuery(n).values.map(_.numInputRows).sum
    def inputBatches(n: String): Int = byQuery(n).values.count(_.numInputRows > 0)
  }

  /** Records made visible in a file-sink topic: the lines of every file
    * its `_spark_metadata` log has committed, counted once per file. */
  final class Visible(topic: Path) {
    private val log = topic.resolve("_spark_metadata")
    private val PathField = "\"path\":\"([^\"]+)\"".r
    private val seenLogs = mutable.Set.empty[String]
    private val seenFiles = mutable.Set.empty[String]
    private var records = 0L
    def poll(): Long = {
      Option(log.toFile.list()).getOrElse(Array.empty[String])
        .filter(n => n.matches("[0-9]+(\\.compact)?") && seenLogs.add(n)).sorted
        .foreach { n =>
          Files.readAllLines(log.resolve(n)).asScala.drop(1)
            .flatMap(l => PathField.findFirstMatchIn(l).map(m => new URI(m.group(1)).getPath))
            .filter(seenFiles.add)
            .foreach { f =>
              val lines = Files.lines(Paths.get(f))
              try records += lines.count() finally lines.close()
            }
        }
      records
    }
  }

  def run(spark: SparkSession, cfg: Cfg, seed: Long, root: Path,
          trace: Option[Trace], parent: Long): Map[String, Any] = {
    import spark.implicits._
    def mk(n: String): Path = Files.createDirectories(root.resolve(n))
    val dirs = Seq("orders", "prices", "invests", "updaters", "events", "returns")
      .map(n => n -> mk("topics/" + n)).toMap
    val stage = mk("stage")
    def topic(n: String): String = dirs(n).toString
    def cp(n: String): String = root.resolve("cp/" + n).toString

    val orderSchema = Encoders.product[MarketOrder].schema
    val priceSchema = Encoders.product[SharePriceInfo].schema
    val updaterSchema = Encoders.product[TraderStateUpdater].schema
    val eventSchema = Encoders.product[TxnEvent].schema
    def envelope(ds: Dataset[_]): DataFrame = ds.toDF("key", "value")
    def start(name: String, ds: Dataset[_], out: String): StreamingQuery =
      JsonTopics.writeStream(envelope(ds), topic(out), cp(name))

    val loopStart = System.currentTimeMillis()
    val ordersIn = JsonTopics.readStream(spark, topic("orders"), "string", orderSchema)
      .select(col("key").as("_1"), col("value").as("_2")).as[(String, MarketOrder)]
    val pricesIn = JsonTopics.readStream(spark, topic("prices"), "string", priceSchema)
      .select("value.*").as[SharePriceInfo]
    val j1 = start("j1", MarketDataflow.priceOrders(spark, ordersIn, pricesIn), "updaters")
    def updaterStream(n: String): DataFrame =
      JsonTopics.readStream(spark, topic(n), "string", updaterSchema)
    val ledgerIn = updaterStream("updaters").union(updaterStream("invests"))
      .union(updaterStream("returns"))
      .select(col("key").as("_1"), col("value").as("_2")).as[(String, TraderStateUpdater)]
    val t1 = start("t1", MarketDataflow.ledger(spark, ledgerIn), "events")
    val eventsIn = JsonTopics.readStream(spark, topic("events"), "string", eventSchema)
      .select(col("key").as("_1"), col("value").as("_2")).as[(String, TxnEvent)]
    val t2 = start("t2", MarketDataflow.roiReturns(spark, eventsIn, sampler), "returns")
    val qs = Map("j1" -> j1, "t1" -> t1, "t2" -> t2)
    val batches = new Batches(qs)

    val measureTicks = cfg.seconds * 1000 / cfg.tickMs
    val gen = new Generator(stage, dirs("orders"), dirs("prices"), dirs("invests"), seed,
      cfg.traders, cfg.tickMs, cfg.warmRate, cfg.rate, measureTicks)
    val genThread = new Thread(gen, "perfbench-generator")
    genThread.setDaemon(true)
    genThread.start()

    def failIfDead(): Unit = qs.values.foreach(q => q.exception.foreach(e => throw e))
    // warm-up: until J1 has committed two batches that read input and t1
    // and t2 one each. The first J1 batch is cold and the second works off
    // the backlog the first left; a window opened before that reads the
    // catch-up.
    var warmed = false
    while (!warmed && System.currentTimeMillis() - loopStart < WarmupLimitMs) {
      Thread.sleep(50); batches.poll(); failIfDead()
      warmed = Queries.forall(batches.inputBatches(_) >= 1) && batches.inputBatches("j1") >= 2
    }
    val warmEnd = System.currentTimeMillis()
    gen.startMeasure()
    while (genThread.isAlive) { genThread.join(200); batches.poll(); failIfDead() }
    if (gen.failure != null) throw gen.failure

    // drain: every order and INVEST has its TxnEvent, every accepted
    // INVEST has its RETURN, and every RETURN has its TxnEvent
    val expectJ1 = gen.orders + gen.allTicks.size.toLong * gen.pricesPerTick
    val events = new Visible(dirs("events"))
    val returned = new Visible(dirs("returns"))
    def drained: Boolean = {
      val returns = returned.poll()
      batches.inputRows("j1") >= expectJ1 && returns >= gen.invests &&
        events.poll() >= gen.orders + gen.invests + returns
    }
    var done = false
    while (!done && System.currentTimeMillis() - gen.endMs < DrainLimitMs) {
      Thread.sleep(50); batches.poll(); failIfDead()
      done = drained
    }
    val drainEnd = System.currentTimeMillis()
    qs.values.foreach(_.stop())
    batches.poll()
    val stopS = (System.currentTimeMillis() - drainEnd) / 1000.0

    trace.foreach { tr =>
      val loopSpan = tr.span("loop", loopStart, drainEnd, parent)
      batches.byQuery.foreach { case (n, ps) => ps.values.foreach(p => tr.batchSpans(n, p, loopSpan)) }
      val w = Files.newBufferedWriter(root.resolve("progress.jsonl"))
      try batches.byQuery.foreach { case (n, ps) =>
        ps.values.foreach(p => { w.write(Main.json(Map("query" -> n, "progress" -> p.json))); w.newLine() })
      } finally w.close()
    }

    val c0 = System.nanoTime()
    val checks = check(spark, gen, dirs)
    val checkS = (System.nanoTime() - c0) / 1e9
    val model = if (trace.isDefined) Model.time(gen, cfg.tickMs) else Map.empty[String, Any]

    Map(
      "warm_s" -> (warmEnd - loopStart) / 1000.0,
      "warmed" -> warmed,
      "drained" -> done,
      "drain_wait_s" -> (drainEnd - gen.endMs) / 1000.0,
      "stop_s" -> stopS,
      "gen_end_ms" -> gen.endMs,
      "measure_start_ms" -> gen.measureStartMs,
      "root" -> root.toString,
      "orders" -> gen.orders,
      "invests" -> gen.invests,
      "ticks" -> gen.allTicks.map(t => Map(
        "tick" -> t.index, "measured" -> t.measured, "due_ms" -> t.dueMs,
        "publish_ms" -> t.publishMs, "orders" -> t.orders, "invests" -> t.invests)),
      "checks" -> checks,
      "check_s" -> checkS,
      "model" -> model)
  }

  /** Read back every topic the run wrote and check the loop's outputs. */
  def check(spark: SparkSession, gen: Generator, dirs: Map[String, Path]): Map[String, Long] = {
    import spark.implicits._
    val updaterSchema = Encoders.product[TraderStateUpdater].schema
    def updaters(n: String): Dataset[(String, TraderStateUpdater)] =
      JsonTopics.read(spark, dirs(n).toString, "string", updaterSchema)
        .select(col("key").as("_1"), col("value").as("_2")).as[(String, TraderStateUpdater)]
    // one file of the events topic is one micro-batch partition, written
    // in fold order: read each file whole so row ids follow that order
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (1L << 40).toString)
    try {
      val events = JsonTopics.read(spark, dirs("events").toString, "string",
          Encoders.product[TxnEvent].schema)
        .select(col("key").as("trader"), col("value").as("ev"),
          struct(col("_metadata.file_modification_time"), col("_metadata.file_path"),
            monotonically_increasing_id()).as("ord"))
      LoopCheck.run(spark, gen.orders, gen.invests, gen.allPrices,
        updaters("updaters"), updaters("invests"), updaters("returns"), events)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }
}

/** The loop's correctness checks over the topics one run wrote.
  *  - exactly one MARKET TxnEvent per order (`o0`…) and one INVEST
  *    TxnEvent per INVEST (`i0`…), and no TxnEvent of another type;
  *  - exactly one RETURN TxnEvent per accepted INVEST;
  *  - every J1 updater priced at a price the generator emitted;
  *  - t1's final per-trader ledger (the state of each trader's last
  *    event in processing order, `ord`) equals the final state of
  *    `MarketDataflow.ledgerBatch` over the updaters, invests and
  *    returns topics. Balances are compared; the state's `time` is
  *    reported apart (`ledger_time_differs`) because the streaming
  *    ledger applies updaters in arrival order across micro-batches
  *    while the batch twin sorts by event time.
  * `failed` sums the fault counts (`FaultKeys`); `rejected` and
  * `ledger_time_differs` are reported, not counted. */
object LoopCheck {
  val FaultKeys: Seq[String] = Seq(
    "orders_missing", "orders_duplicate", "orders_unknown",
    "invests_missing", "invests_duplicate", "invests_unknown",
    "returns_missing", "returns_duplicate", "returns_unknown",
    "other_unknown", "wrong_price", "ledger_mismatch")

  def run(spark: SparkSession, nOrders: Long, nInvests: Long, prices: Seq[Double],
          updaters: Dataset[(String, TraderStateUpdater)],
          invests: Dataset[(String, TraderStateUpdater)],
          returns: Dataset[(String, TraderStateUpdater)],
          events: DataFrame): Map[String, Long] = {
    import spark.implicits._
    val ev = events.select(col("trader"), col("ev.txnResult.txnId").as("txnId"),
      col("ev.txnResult.opType").as("op"), col("ev.txnResult.status").as("status"),
      col("ev.txnResult.state").as("state"), col("ord")).cache()
    val inputs = updaters.union(invests).union(returns).cache()
    // per type and id: how many TxnEvents. Orders must be o0…o(n-1) and
    // INVESTs i0…i(n-1), each once; RETURNs one per accepted INVEST
    val perId = ev.groupBy("op", "txnId").agg(count(lit(1)).as("n")).cache()
    try {
      def inRange(op: String, prefix: String, n: Long): Column =
        col("op") === op && regexp_extract(col("txnId"), s"^$prefix([0-9]+)$$", 1).try_cast("long") < n
      val known = inRange(UpdaterType.MARKET, "o", nOrders) || inRange(UpdaterType.INVEST, "i", nInvests)
      val expected = Map(UpdaterType.MARKET -> ("orders", nOrders), UpdaterType.INVEST -> ("invests", nInvests))
      val idCounts = perId.filter(col("op") =!= UpdaterType.RETURN).groupBy("op")
        .agg(sum(col("n") - 1), count(when(known, 1)), count(when(!coalesce(known, lit(false)), 1))).collect().toSeq
        .flatMap { r =>
          expected.get(r.getString(0)) match {
            case Some((name, n)) => Seq(s"${name}_duplicate" -> r.getLong(1),
              s"${name}_missing" -> (n - r.getLong(2)), s"${name}_unknown" -> r.getLong(3))
            case None => Seq("other_unknown" -> r.getLong(3))
          }
        }.groupMapReduce(_._1)(_._2)(_ + _)
      val accepted = ev.filter(col("op") === UpdaterType.INVEST && col("status") === TxnResultType.ACCEPTED)
        .select(col("txnId"), lit(true).as("accepted"))
      val returned = accepted.join(perId.filter(col("op") === UpdaterType.RETURN), Seq("txnId"), "full_outer")
        .agg(count(when(col("accepted").isNotNull && col("n").isNull, 1)),
          coalesce(sum(col("n") - 1), lit(0L)), count(when(col("accepted").isNull, 1)))
        .head()
      val missing = expected.values.map { case (name, n) => s"${name}_missing" -> n }.toMap
      val totals = ev.agg(count(lit(1)), count(when(col("status") =!= TxnResultType.ACCEPTED, 1)),
        count(when(col("op") === UpdaterType.INVEST && col("status") === TxnResultType.ACCEPTED, 1)))
        .head()

      val priced = inputs.toDF("trader", "u")
        .filter(col("u.updaterType") === UpdaterType.MARKET)
        .select((abs(col("u.coinsDiff")) / abs(col("u.sharesDiff"))).as("price"))
      val wrongPrice = priced.join(prices.toDF("price").distinct(), Seq("price"), "left_anti").count()

      // the batch twin's fold emits each trader's events in fold order, so
      // the state of its last event is the trader's final ledger
      val batchFinal = MarketDataflow.ledgerBatch(spark, inputs).toDF("trader", "ev")
        .select(col("trader"), col("ev.txnResult.state").as("state"),
          monotonically_increasing_id().as("pos"))
        .groupBy("trader").agg(max_by(col("state"), col("pos")).as("b"))
      val streamFinal = ev.groupBy("trader").agg(max_by(col("state"), col("ord")).as("s"))
      def same(f: String): Column = col(s"b.$f") === col(s"s.$f")
      val ledger = batchFinal.join(streamFinal, Seq("trader"), "full_outer")
        .agg(
          sum(when(col("b").isNull || col("s").isNull ||
            abs(col("b.coins") - col("s.coins")) > greatest(lit(1.0), abs(col("b.coins"))) * 1e-9 ||
            !(same("shares") && same("bailouts") && same("fedMonkeys") &&
              same("inFlightInvestments")), 1L).otherwise(0L)),
          sum(when(col("b").isNotNull && col("s").isNotNull && !same("time"), 1L).otherwise(0L)),
          count(lit(1)))
        .head()
      def at(i: Int): Long = if (ledger.isNullAt(i)) 0L else ledger.getLong(i)

      val found = FaultKeys.map(_ -> 0L).toMap ++ missing ++ idCounts ++ Map(
        "returns_missing" -> returned.getLong(0),
        "returns_duplicate" -> returned.getLong(1),
        "returns_unknown" -> returned.getLong(2),
        "wrong_price" -> wrongPrice,
        "ledger_mismatch" -> at(0),
        "ledger_time_differs" -> at(1),
        "traders" -> at(2),
        "accepted_invests" -> totals.getLong(2),
        "events" -> totals.getLong(0),
        "rejected" -> totals.getLong(1))
      found + ("failed" -> FaultKeys.map(found).sum)
    } finally Seq(ev, inputs, perId).foreach(_.unpersist())
  }
}

/** The single-threaded baseline of the same job on the run's own
  * generated input: J1 as `CoProcess.replay` with the pure
  * `onOrder`/`onPrice` transitions, T1 as a per-trader fold of
  * `MarketDataflow.ledgerStep`. Each is timed three times; the median
  * is reported. */
object Model {
  def time(gen: Generator, tickMs: Int): Map[String, Any] = {
    type Row = Tagged[(String, MarketOrder), Double]
    val rows = Vector.newBuilder[Row]
    val invests = Vector.newBuilder[(String, TraderStateUpdater)]
    gen.allTicks.foreach { t =>
      t.prices.indices.foreach { k =>
        val ts = new Timestamp(t.dueMs + k.toLong * tickMs / t.prices.length)
        rows += Tagged("FOO", ts, None, Some(t.prices(k)))
      }
      val ts = new Timestamp(t.dueMs)
      (0 until t.orders).foreach { k =>
        val seq = t.firstOrder + k
        val i = seq.toInt
        val o = MarketOrder(ts, s"o$seq", if (gen.orderBuy(i) == 1) "BUY" else "SELL", 1)
        rows += Tagged("FOO", ts, Some(s"T${gen.orderTrader(i)}" -> o), None)
      }
      (0 until t.invests).foreach { k =>
        val seq = t.firstInvest + k
        invests += s"T${gen.investTrader(seq.toInt)}" ->
          TraderStateUpdater(s"i$seq", UpdaterType.INVEST, ts, -0.01, 0, false, 0, 1)
      }
    }
    val input = rows.result()
    val investUpdaters = invests.result()

    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
    def timed[T](f: => T): (Long, T) = { val t0 = System.nanoTime(); val r = f; (System.nanoTime() - t0, r) }

    var priced: Seq[(String, TraderStateUpdater)] = Seq.empty
    val replayNs = median((1 to 3).map { _ =>
      val (ns, (_, out)) = timed(CoProcess.replay(input, MarketDataflow.PricingState.init,
        MarketDataflow.onOrder, MarketDataflow.onPrice))
      priced = out
      ns
    })
    val updates = priced ++ investUpdaters
    val ledgerNs = median((1 to 3).map { _ =>
      timed {
        updates.groupBy(_._1).foreach { case (_, us) =>
          us.map(_._2).sortBy(u => (u.time.getTime, u.txnId))
            .foldLeft(MarketDataflow.LedgerState(None, 0.0))((s, u) => MarketDataflow.ledgerStep(s, u)._1)
        }
      }._1
    })
    Map(
      "j1_events" -> input.size,
      "j1_replay_ns" -> replayNs,
      "j1_replay_ns_per_event" -> replayNs.toDouble / math.max(1, input.size),
      "ledger_updates" -> updates.size,
      "ledger_ns" -> ledgerNs,
      "ledger_ns_per_update" -> ledgerNs.toDouble / math.max(1, updates.size))
  }
}
