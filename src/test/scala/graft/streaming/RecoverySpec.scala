package graft.streaming

import java.net.URI
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model._
import graft.sources.JsonTopics

/** Checkpoint-recovery restart proof (VERDICT r12 Next #1) — the last
  * reference runtime property (§2.12 fault tolerance) previously
  * asserted by configuration only: the reference checkpoints every
  * 1000 ms and its kata harness restarts jobs from Kafka offsets
  * (reference MarketDataflow.java:73,
  * EmbeddedClustersBoilerplate.java:128). Every prior streaming spec
  * ran inside ONE uninterrupted query lifetime; these tests STOP a
  * checkpointed query mid-stream and START A NEW ONE from the same
  * checkpoint, pinning the three recovery contracts a standing
  * 100 TB pipeline restarts through:
  *
  *  1. keyed state survives — the ledger's per-trader fold resumes
  *     from its RocksDB snapshot, and the restarted run's sink equals
  *     the uninterrupted twin's exactly (no lost or duplicated rows:
  *     the file sink's _spark_metadata commit log is the
  *     exactly-once half, `JsonTopics.scala` sink contract);
  *  2. a processing-time TIMER registered before the stop (T2 ROI
  *     maturation, `MarketDataflow.RoiProcessor`) fires after the
  *     restart — timers live in the state store, not the JVM;
  *  3. an event-time WINDOW open across the restart closes with the
  *     pre-stop partial aggregate merged in (watermark + window state
  *     recovery, kata03's tumbling sum);
  *  4. the whole closed loop (J1 → T1 → T2 → returns → T1, started
  *     through [[MarketLoop]]) restarted at once loses and repeats no
  *     TxnEvent, and its ledger ends where the batch twin does.
  */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1700000000000L

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-recovery-$tag").toString

  test("ledger: keyed state + exactly-once file sink survive a checkpoint restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("ledger-ckpt")
    val sink = tmp("ledger-sink")

    val in = MemoryStream[(String, TraderStateUpdater)]
    def start() = MarketDataflow.ledger(spark, in.toDS())
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // lifetime 1: BUY 2 @ 1.0 -> coins 8, shares 7, then STOP
    val q1 = start()
    in.addData(("ALOUATE_a",
      Semantics.marketDelta(MarketOrder(ts(t0 + 1), "t1", "BUY", 2), 1.0)))
    q1.processAllAvailable()
    q1.stop()

    // lifetime 2 (fresh plan, same checkpoint): the oversell is only
    // INSUFFICIENT_SHARES if the 7-share state RECOVERED — a fresh
    // ledger would reject nothing about a 100-share sell differently,
    // so assert on the recovered coins/shares below, not just status
    val q2 = start()
    in.addData(("ALOUATE_a",
      Semantics.marketDelta(MarketOrder(ts(t0 + 2), "t2", "SELL", 100), 1.0)))
    q2.processAllAvailable()
    q2.stop()

    // lifetime 3: restart with NO new data — a no-op restart must not
    // re-emit committed batches into the sink (the replay-dedup half)
    val q3 = start()
    q3.processAllAvailable()
    q3.stop()

    val got = spark.read.parquet(sink).as[(String, TxnEvent)].collect()
      .sortBy(_._2.txnResult.txnId)
    assert(got.length == 2, s"expected exactly 2 sink rows, got ${got.length}")
    assert(got.map(_._2.txnResult.txnId).toSeq == Seq("t1", "t2"))
    assert(got(0)._2.txnResult.status == TxnResultType.ACCEPTED)
    assert(got(0)._2.txnResult.state.coins == 8.0)
    assert(got(1)._2.txnResult.status == TxnResultType.INSUFFICIENT_SHARES)
    // prior state kept across the restart: coins/shares unchanged
    assert(got(1)._2.txnResult.state.coins == 8.0)
    assert(got(1)._2.txnResult.state.shares == 7)

    // uninterrupted twin: same two inputs, one query lifetime — the
    // restarted run must be indistinguishable in the sink
    val ckptT = tmp("ledger-ckpt-twin")
    val sinkT = tmp("ledger-sink-twin")
    val inT = MemoryStream[(String, TraderStateUpdater)]
    val qT = MarketDataflow.ledger(spark, inT.toDS())
      .writeStream.format("parquet")
      .option("path", sinkT).option("checkpointLocation", ckptT)
      .outputMode("append").start()
    inT.addData(("ALOUATE_a",
      Semantics.marketDelta(MarketOrder(ts(t0 + 1), "t1", "BUY", 2), 1.0)))
    qT.processAllAvailable()
    inT.addData(("ALOUATE_a",
      Semantics.marketDelta(MarketOrder(ts(t0 + 2), "t2", "SELL", 100), 1.0)))
    qT.processAllAvailable()
    qT.stop()
    val twin = spark.read.parquet(sinkT).as[(String, TxnEvent)].collect()
      .sortBy(_._2.txnResult.txnId)
    assert(got.toSeq == twin.toSeq,
      "restarted run's sink differs from the uninterrupted twin")
  }

  test("T2 ROI: a timer registered before the stop fires after the restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("roi-ckpt")
    val sink = tmp("roi-sink")

    val in = MemoryStream[(String, TxnEvent)]
    def start() = MarketDataflow.roiReturns(spark, in.toDS(), _ => 0.1)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // lifetime 1: accepted INVEST registers a maturation timer at
    // now + totalInvestments ms (3 s — comfortably after the stop)
    val state = TraderState(ts(t0 + 1), 8.0, 5, 0, 0, 1)
    val q1 = start()
    in.addData(("B_b", TxnEvent(TxnResult("t1", "INVEST", state,
      TxnResultType.ACCEPTED), 2.0, 3000.0)))
    // processAllAvailable() never settles once a timer is registered
    // (see MarketSpec) — wait for batch 0's COMMIT instead, then stop
    // well before the 3 s maturation
    eventually(30000, "batch 0 committed") {
      new java.io.File(ckpt, "commits/0").isFile
    }
    q1.stop()

    // let the timer EXPIRE while no query is running — recovery must
    // fire it from the checkpointed state, not from JVM memory
    Thread.sleep(3500)

    val q2 = start()
    // nudge: one unrelated invest whose own timer matures far outside
    // the test window, guaranteeing the restarted query runs batches
    in.addData(("C_c", TxnEvent(TxnResult("t2", "INVEST", state,
      TxnResultType.ACCEPTED), 1.0, 1e9)))
    eventually(60000, "matured RETURN for t1 in the sink") {
      spark.read.parquet(sink).as[(String, TraderStateUpdater)]
        .collect().exists(_._2.txnId == "t1")
    }
    q2.stop()

    val returns = spark.read.parquet(sink).as[(String, TraderStateUpdater)]
      .collect().filter(_._2.txnId == "t1")
    assert(returns.length == 1, s"expected exactly one RETURN, got ${returns.length}")
    val (trader, u) = returns.head
    assert(trader == "B_b" && u.updaterType == UpdaterType.RETURN)
    assert(math.abs(u.coinsDiff - 0.2) < 1e-12 && u.investDiff == -1)
  }

  /** Lines of a file-sink topic in commit order: batch by batch from
    * its `_spark_metadata` log, each file's lines as written. */
  private def committedLines(topic: Path): Seq[String] = {
    val log = topic.resolve("_spark_metadata")
    val PathField = "\"path\":\"([^\"]+)\"".r
    Option(log.toFile.list()).getOrElse(Array.empty[String]).toSeq
      .filter(_.matches("[0-9]+(\\.compact)?")).sortBy(_.takeWhile(_.isDigit).toLong)
      .flatMap(n => Files.readAllLines(log.resolve(n)).asScala.drop(1))
      .flatMap(l => PathField.findFirstMatchIn(l).map(m => new URI(m.group(1)).getPath))
      .distinct
      .flatMap(f => Files.readAllLines(Paths.get(f)).asScala)
  }

  test("closed loop: J1, T1 and T2 restarted through MarketLoop lose and repeat nothing") {
    val root = Files.createTempDirectory("graft-recovery-loop")
    def topic(n: String): String = MarketLoop.topic(root, n).toString
    def publish[T: Encoder](n: String, rows: Seq[T]): Unit =
      JsonTopics.write(rows.toDS().toDF("key", "value"), topic(n))
    // 8 traders, each with 4 orders and 2 INVESTs, half in each lifetime.
    // A trader only buys (4 shares at 2.0 out of 10 coins) or only sells
    // (4 of its 5 shares), and an INVEST costs 0.01, so every operation
    // is accepted in any order: the contract under which the streaming
    // ledger and the event-time-sorted batch twin end on equal balances
    // (MarketDataflow.ledger).
    val traders = 8
    def orders(half: Int): Seq[(String, MarketOrder)] = (0 until 16).map { i =>
      val k = half * 16 + i
      val side = if (k % 2 == 0) "BUY" else "SELL"
      s"T${k % traders}" -> MarketOrder(ts(t0 + 1000 * half + k), s"o$k", side, 1)
    }
    def invests(half: Int): Seq[(String, TraderStateUpdater)] = (0 until traders).map { i =>
      val k = half * traders + i
      s"T$i" -> Semantics.investDelta(Investment(ts(t0 + 1000 * half + k), s"i$k", 0.01))
    }
    def inputRows(q: StreamingQuery): Long =
      q.recentProgress.filter(_.durationMs.containsKey("addBatch")).map(_.numInputRows).sum

    // lifetime 1: the one price and the first half; stop all three
    // queries once t1 has committed a batch that read input
    val first = MarketLoop.start(spark, root, _ => 1.5)
    try {
      publish("prices", Seq("FOO" -> SharePriceInfo(ts(t0), 2.0, 2.1)))
      publish("orders", orders(0))
      publish("invests", invests(0))
      eventually(120000, "t1 batch that read input") { inputRows(first("t1")) > 0 }
    } finally first.values.foreach(_.stop())

    // lifetime 2, same root: no new price, so the second half's orders
    // are priced only if J1's price cell was recovered
    val second = MarketLoop.start(spark, root, _ => 1.5)
    val mapper = new ObjectMapper()
    def events: Seq[JsonNode] = committedLines(MarketLoop.topic(root, "events"))
      .map(l => mapper.readTree(l))
    def op(e: JsonNode): String = e.get("value").get("txnResult").get("opType").asText
    try {
      publish("orders", orders(1))
      publish("invests", invests(1))
      // every order and INVEST has its TxnEvent, and every INVEST its RETURN's
      eventually(120000, "32 order, 16 INVEST and 16 RETURN TxnEvents") {
        events.map(op).groupBy(identity).view.mapValues(_.size).toMap ==
          Map(UpdaterType.MARKET -> 32, UpdaterType.INVEST -> 16, UpdaterType.RETURN -> 16)
      }
    } finally second.values.foreach(_.stop())

    val evs = events
    def result(e: JsonNode): JsonNode = e.get("value").get("txnResult")
    val ids = evs.map(e => (op(e), result(e).get("txnId").asText))
    assert(ids.distinct.size === ids.size, "a TxnEvent was repeated")
    def idsOf(t: String): Set[String] = ids.filter(_._1 == t).map(_._2).toSet
    assert(idsOf(UpdaterType.MARKET) === (0 until 32).map(k => s"o$k").toSet)
    assert(idsOf(UpdaterType.INVEST) === (0 until 16).map(k => s"i$k").toSet)
    assert(evs.forall(e => result(e).get("status").asText == TxnResultType.ACCEPTED))
    // one RETURN per accepted INVEST (all of them, as asserted above)
    assert(idsOf(UpdaterType.RETURN) === idsOf(UpdaterType.INVEST))

    // each trader's last TxnEvent in commit order carries its final
    // ledger; the batch twin folds the same three input topics
    val streamFinal = evs.groupBy(_.get("key").asText).map { case (t, es) =>
      t -> result(es.last).get("state")
    }
    def updaters(n: String): Dataset[(String, TraderStateUpdater)] =
      JsonTopics.read(spark, topic(n), "string", Encoders.product[TraderStateUpdater].schema)
        .select(col("key").as("_1"), col("value").as("_2")).as[(String, TraderStateUpdater)]
    val batchFinal = MarketDataflow.ledgerBatch(spark,
        updaters("updaters").union(updaters("invests")).union(updaters("returns")))
      .collect().groupBy(_._1).map { case (t, es) => t -> es.last._2.txnResult.state }
    assert(streamFinal.keySet === batchFinal.keySet)
    assert(streamFinal.size === traders)
    batchFinal.foreach { case (t, b) =>
      val s = streamFinal(t)
      assert(math.abs(s.get("coins").asDouble - b.coins) < 1e-9, t)
      assert((s.get("shares").asInt, s.get("bailouts").asInt, s.get("fedMonkeys").asInt,
        s.get("inFlightInvestments").asInt) === ((b.shares, b.bailouts, b.fedMonkeys,
        b.inFlightInvestments)), t)
    }
  }

  test("kata03: a window open across the restart closes with pre-stop state merged") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("kata03-ckpt")
    val sink = tmp("kata03-sink")

    val in = MemoryStream[(String, Investment)]
    def start() = Katas.kata03(spark, in.toDS())
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // lifetime 1: one event in window [t0, t0+100) — window stays OPEN
    val q1 = start()
    in.addData(("p1", Investment(ts(t0 + 10), "a", 2.0)))
    q1.processAllAvailable()
    q1.stop()

    // lifetime 2: a second event lands in the SAME window (its 3.0
    // must merge into the RECOVERED partial sum), then a late-window
    // event advances the watermark past t0+100 and closes it
    val q2 = start()
    in.addData(("p1", Investment(ts(t0 + 20), "b", 3.0)))
    q2.processAllAvailable()
    in.addData(("p1", Investment(ts(t0 + 250), "c", 1.0)))
    q2.processAllAvailable()
    q2.stop()

    val rows = spark.read.parquet(sink)
      .selectExpr("player", "invested", "txnId")
      .as[(String, Double, String)].collect().sorted
    // only the closed window emits (the t0+250 window is still open);
    // sum 5.0 = pre-stop 2.0 + post-restart 3.0, earliest txnId kept
    assert(rows.toSeq == Seq(("p1", 5.0, "a")),
      s"closed-window rows: ${rows.mkString(", ")}")
  }
}
