package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model._
import graft.streaming.{CoProcess, MarketDataflow, SparkSpec}

/** End-to-end exchange slice over the Kafka-shaped topic boundary:
  * orders topic (JSON k/v) → J1 pricing with deterministic S2 ticks →
  * T1 ledger → txn-results topic round-trip (SURVEY §3.3 / §7.2 #6).
  */
class ExchangeSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1700000000000L

  test("deterministic price ticks: same seed, same mults, slight drift") {
    val a = PriceTickSource.batch(spark, 100, t0).as[SharePriceMult].collect()
    val b = PriceTickSource.batch(spark, 100, t0).as[SharePriceMult].collect()
    assert(a.map(_.mult).toSeq == b.map(_.mult).toSeq)
    val mean = a.map(_.mult).sum / a.length
    assert(math.abs(mean - 1.0) < 0.01) // LogNormal(0.0001, 0.01) ≈ 1
    assert(a.map(_.mult).distinct.length > 90) // actually random-ish
  }

  test("K3 console sink starts and drains a micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, Int)]
    val q = JsonTopics.consoleSink(in.toDF().toDF("k", "v"))
    try {
      in.addData(("a", 1))
      q.processAllAvailable()
      assert(q.isActive)
    } finally q.stop()
  }

  test("K2 foreachBatchSink pushes micro-batches into two store indices " +
    "(Dashboard trader-state + share-price shape)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // injected in-memory stand-in for the external document store
    val store = new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()
    def indexDoc(index: String, id: String, doc: Map[String, String]): Unit =
      store.put(s"$index/$id", doc)

    val cp = Files.createTempDirectory("graft_k2_cp").toString
    val traders = MemoryStream[(String, Double, Int)]
    val prices = MemoryStream[(Long, Double, Double)]
    // two indexers, field-mapped per index (Dashboard.java:81-132)
    val q1 = JsonTopics.foreachBatchSink(
      traders.toDF().toDF("team", "coins", "shares"), s"$cp/trader") { (batch, _) =>
      batch.collect().foreach { r =>
        indexDoc("trader-state", r.getAs[String]("team"), Map(
          "coins" -> r.getAs[Double]("coins").toString,
          "shares" -> r.getAs[Int]("shares").toString))
      }
    }
    val q2 = JsonTopics.foreachBatchSink(
      prices.toDF().toDF("time", "coins", "forecast"), s"$cp/price") { (batch, _) =>
      batch.collect().foreach { r =>
        indexDoc("share-price", r.getAs[Long]("time").toString, Map(
          "coins" -> r.getAs[Double]("coins").toString,
          "forecast" -> r.getAs[Double]("forecast").toString))
      }
    }
    try {
      traders.addData(("ALOUATE_a", 8.5, 3), ("BONOBO_b", 12.0, 0))
      prices.addData((t0 + 1, 2.5, 1.1))
      q1.processAllAvailable() // no timers involved — safe to await
      q2.processAllAvailable()
      // second micro-batch upserts an existing doc id
      traders.addData(("ALOUATE_a", 6.5, 4))
      q1.processAllAvailable()
      assert(store.size == 3)
      assert(store.get("trader-state/ALOUATE_a") ==
        Map("coins" -> "6.5", "shares" -> "4"))
      assert(store.get("trader-state/BONOBO_b") ==
        Map("coins" -> "12.0", "shares" -> "0"))
      assert(store.get(s"share-price/${t0 + 1}") ==
        Map("coins" -> "2.5", "forecast" -> "1.1"))
    } finally { q1.stop(); q2.stop() }
  }

  test("orders topic round-trip -> J1 -> ledger -> txn-results topic") {
    val dir = Files.createTempDirectory("graft_topics").toString

    // K1: produce market orders to a topic dir as {"key", "value"} JSON
    val orders = Seq(
      ("ALOUATE_a", MarketOrder(ts(t0 + 10), "t1", "BUY", 2)),
      ("BONOBO_b", MarketOrder(ts(t0 + 11), "t2", "SELL", 100))).toDS()
    JsonTopics.write(orders.select(col("_1").as("key"),
      struct(col("_2.time").as("time"), col("_2.txnId").as("txnId"),
        col("_2.orderType").as("orderType"), col("_2.shares").as("shares"))
        .as("value")), s"$dir/market-orders")

    // S1: consume the topic back with the declared schema
    val orderSchema = new StructType()
      .add("time", TimestampType).add("txnId", StringType)
      .add("orderType", StringType).add("shares", IntegerType)
    val consumed = JsonTopics.read(spark, s"$dir/market-orders", "string", orderSchema)
      .select(col("key"), col("value.*")).as[(String, java.sql.Timestamp, String, String, Int)]
      .map { case (k, time, txnId, orderType, shares) =>
        (k, MarketOrder(time, txnId, orderType, shares)) }
    assert(consumed.count() == 2)

    // S2 ticks -> prices (first tick at t0+5, before both orders... the
    // orders at t0+10/11 price at the latest tick <= replay order)
    // base price ~2.0: BUY 2 costs ~4 of the initial 10 coins
    val prices = PriceTickSource.batch(spark, 3, t0).as[SharePriceMult]
      .map(m => SharePriceInfo(m.time, 2.0 * m.mult, 1.0))

    // J1 + T1 (batch twins)
    val priced = CoProcess.coFlatMapBatch[(String, MarketOrder), Double,
      MarketDataflow.PricingState, (String, TraderStateUpdater)](
      CoProcess.tagged(
        consumed.map { case (k, o) => ("FOO", o.time, (k, o)) },
        prices.map(p => ("FOO", p.time, p.coins))),
      MarketDataflow.PricingState.init,
      MarketDataflow.onOrder, MarketDataflow.onPrice)
    val events = MarketDataflow.ledgerBatch(spark, priced)

    // K1 again: txn-results topic; S1: read back and assert
    JsonTopics.write(events.select(col("_1").as("key"),
      struct(col("_2.txnResult.txnId").as("txnId"),
        col("_2.txnResult.status").as("status")).as("value")),
      s"$dir/txn-results")
    val results = JsonTopics.read(spark, s"$dir/txn-results", "string",
      new StructType().add("txnId", StringType).add("status", StringType))
      .select(col("key"), col("value.txnId"), col("value.status"))
      .as[(String, String, String)].collect().sortBy(_._2)
    assert(results.length == 2)
    assert(results(0) == ("ALOUATE_a", "t1", "ACCEPTED"))
    assert(results(1)._3 == "INSUFFICIENT_SHARES") // oversell rejected
  }
}
