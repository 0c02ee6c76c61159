package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model._

/** Two-input operator semantics: J1 order buffering/pricing and the
  * fused price dataflow (J2+A2+A5+T3), per MarketDataflow.java:190-268
  * and SharePriceDataflow.java semantics.
  */
class CoProcessSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1700000000000L

  test("J1 streaming: orders buffer until first price, then price immediately") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[(String, MarketOrder)]
    val prices = MemoryStream[SharePriceInfo]
    val out = MarketDataflow.priceOrders(spark, orders.toDS(), prices.toDS())
    val q = out.writeStream.format("memory").queryName("j1").outputMode("append").start()
    try {
      // two orders arrive before any price -> buffered, nothing out
      orders.addData(("ALOUATE_a", MarketOrder(ts(t0 + 1), "t1", "BUY", 2)),
        ("BONOBO_b", MarketOrder(ts(t0 + 2), "t2", "SELL", 1)))
      q.processAllAvailable()
      assert(spark.table("j1").count() == 0)
      // first price drains both, priced at it (time-ordered)
      prices.addData(SharePriceInfo(ts(t0 + 3), 2.0, 1.0))
      q.processAllAvailable()
      val drained = spark.table("j1").as[(String, TraderStateUpdater)].collect()
      assert(drained.map(_._1).toSeq == Seq("ALOUATE_a", "BONOBO_b"))
      assert(drained.map(_._2.coinsDiff).toSeq == Seq(-4.0, 2.0))
      // subsequent order prices immediately at the latest price
      orders.addData(("ALOUATE_a", MarketOrder(ts(t0 + 4), "t3", "BUY", 3)))
      q.processAllAvailable()
      val all = spark.table("j1").as[(String, TraderStateUpdater)].collect()
      assert(all.length == 3 && all.last._2.coinsDiff == -6.0)
      // price update re-prices later orders
      prices.addData(SharePriceInfo(ts(t0 + 5), 10.0, 1.0))
      orders.addData(("BONOBO_b", MarketOrder(ts(t0 + 6), "t4", "SELL", 1)))
      q.processAllAvailable()
      val last = spark.table("j1").as[(String, TraderStateUpdater)].collect().last
      assert(last._2.coinsDiff == 10.0)
    } finally q.stop()
  }

  test("J1 streaming: thousands of orders buffered before the first price " +
    "drain in time order at that price") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[(String, MarketOrder)]
    val prices = MemoryStream[SharePriceInfo]
    val out = MarketDataflow.priceOrders(spark, orders.toDS(), prices.toDS())
    val q = out.writeStream.format("memory").queryName("j1_backlog").outputMode("append").start()
    try {
      // 4,000 orders in two batches, out of time order within each: the
      // Vector buffer round-trips through the state encoder in between
      val n = 4000
      val backlog = new scala.util.Random(7).shuffle((0 until n).toVector).map { i =>
        (s"T${i % 13}", MarketOrder(ts(t0 + i), s"o$i", "BUY", 1))
      }
      orders.addData(backlog.take(n / 2): _*)
      q.processAllAvailable()
      orders.addData(backlog.drop(n / 2): _*)
      q.processAllAvailable()
      assert(spark.table("j1_backlog").count() == 0)
      prices.addData(SharePriceInfo(ts(t0 + n), 2.0, 1.0))
      q.processAllAvailable()
      val drained = spark.table("j1_backlog").as[(String, TraderStateUpdater)].collect()
      assert(drained.map(_._2.txnId).toSeq == (0 until n).map(i => s"o$i"))
      assert(drained.forall(_._2.coinsDiff == -2.0))
    } finally q.stop()
  }

  test("J1 within-batch replay sorts by event time, price before order at same tick") {
    // all in ONE batch: order(t+2) before price(t+1) in arrival order,
    // but replay is time-sorted so the price lands first
    val rows = Seq(
      Tagged[(String, MarketOrder), Double]("FOO", ts(t0 + 2),
        Some(("ALOUATE_a", MarketOrder(ts(t0 + 2), "t1", "BUY", 1))), None),
      Tagged[(String, MarketOrder), Double]("FOO", ts(t0 + 1), None, Some(3.0)))
    val (st, out) = CoProcess.replay(rows, MarketDataflow.PricingState.init,
      MarketDataflow.onOrder, MarketDataflow.onPrice)
    assert(out.map(_._2.coinsDiff) == Seq(-3.0))
    assert(st.lastPrice.contains(3.0) && st.buffered.isEmpty)
  }

  test("price dataflow: hype + mults compose price with EMA forecast") {
    // rng never arms a burst -> damping inactive
    val gibbs = Seq(
      Gibb("g1", ts(t0 + 1), "good solid buy"),   // +3 hype pieces
      Gibb("g2", ts(t0 + 2), "bad risk"))         // -2
    val mults = Seq(
      SharePriceMult(ts(t0 + 10), 10.0),          // product 10
      SharePriceMult(ts(t0 + 20), 1.5))           // product 15
    val out = PriceDataflow.runBatch(spark, mults.toDS(), gibbs.toDS(), () => 1.0)
      .collect().sortBy(_.time.getTime)
    // hype sum = 3*0.01 - 2*0.01 = 0.01; burst never armed (diff>0 but rng=1.0)
    val p1 = out(0)
    assert(math.abs(p1.coins - (10.0 + 0.01)) < 1e-12)
    assert(p1.forecast == 1.0) // EMA seeded with first value
    val p2 = out(1)
    assert(math.abs(p2.coins - (15.0 + 0.01)) < 1e-12)
    val emaWant = 0.1 * p2.coins + 0.9 * p1.coins
    assert(math.abs(p2.forecast - emaWant / p2.coins) < 1e-12)
  }

  test("price dataflow streaming matches batch on the same input") {
    implicit val sqlCtx = spark.sqlContext
    val gibbsIn = MemoryStream[Gibb]
    val multsIn = MemoryStream[SharePriceMult]
    val q = PriceDataflow.run(spark, multsIn.toDS(), gibbsIn.toDS(), () => 1.0)
      .writeStream.format("memory").queryName("pdf").outputMode("append").start()
    try {
      gibbsIn.addData(Gibb("g1", ts(t0 + 1), "good solid buy"),
        Gibb("g2", ts(t0 + 2), "bad risk"))
      q.processAllAvailable()
      multsIn.addData(SharePriceMult(ts(t0 + 10), 10.0))
      q.processAllAvailable()
      multsIn.addData(SharePriceMult(ts(t0 + 20), 1.5))
      q.processAllAvailable()
      val got = spark.table("pdf").as[SharePriceInfo].collect().sortBy(_.time.getTime)
      assert(got.length == 2)
      assert(math.abs(got(0).coins - 10.01) < 1e-12)
      assert(math.abs(got(1).coins - 15.01) < 1e-12)
    } finally q.stop()
  }
}
