package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import java.util.SplittableRandom

/** One generator tick: every record in it is due at `dueMs`. */
final case class Tick(index: Int, measured: Boolean, dueMs: Long, publishMs: Long,
                      firstOrder: Long, orders: Int, firstInvest: Long, invests: Int,
                      prices: Array[Double])

/** Open-loop market generator: one thread, a fixed schedule of ticks,
  * each tick published as three topic files (prices first, then orders,
  * then INVEST updaters). The schedule never slows when the system
  * slows; how late each tick was published is recorded instead.
  *
  * Files are written under `stage` and moved into the topic directory
  * atomically, so a file source never lists a half-written file.
  *
  * Trader keys are drawn from the seed over `traders` keys. Each trader
  * alternates BUY and SELL of one share, and INVESTs move 0.01 coins, so
  * every operation is accepted by the ledger whatever order it is
  * applied in. Prices are a seeded random walk in [1.5, 2.5].
  */
final class Generator(stage: Path, ordersDir: Path, pricesDir: Path, investsDir: Path,
                      seed: Long, traders: Int, val tickMs: Int,
                      warmRate: Int, rate: Int, measureTicks: Int) extends Runnable {

  val pricesPerTick: Int = math.max(1, 20 * tickMs / 1000)
  private val rnd = new SplittableRandom(seed)
  private val sideCount = new Array[Int](traders)
  private var price = 2.0

  // per-order record kept for the single-threaded baseline
  val orderTrader = new IntBuf
  val orderBuy = new IntBuf
  val investTrader = new IntBuf
  val ticks = scala.collection.mutable.ArrayBuffer.empty[Tick]

  @volatile private var measureRequested = false
  @volatile var measureStartMs: Long = -1L
  @volatile var endMs: Long = -1L
  @volatile var failure: Throwable = _

  /** Switch to the workload rate at the next tick and stop after
    * `measureTicks` ticks at that rate. */
  def startMeasure(): Unit = measureRequested = true

  private def publish(dir: Path, name: String, content: java.lang.StringBuilder): Unit = {
    val tmp = stage.resolve(name)
    Files.write(tmp, content.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  override def run(): Unit =
    try loop() catch { case t: Throwable => failure = t; endMs = System.currentTimeMillis() }

  private def loop(): Unit = {
    val t0 = System.currentTimeMillis()
    var tick = 0
    var measured = 0
    var oSeq = 0L
    var iSeq = 0L
    var carryOrders = 0.0
    val ob = new java.lang.StringBuilder
    val ib = new java.lang.StringBuilder
    val pb = new java.lang.StringBuilder
    while (measured < measureTicks) {
      val due = t0 + tick.toLong * tickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val inMeasure = measureRequested
      if (inMeasure && measureStartMs < 0) measureStartMs = due
      carryOrders += (if (inMeasure) rate else warmRate) * tickMs / 1000.0
      val nOrders = carryOrders.toInt
      carryOrders -= nOrders
      val nInvests = nOrders / 20
      ob.setLength(0); ib.setLength(0); pb.setLength(0)

      val prices = new Array[Double](pricesPerTick)
      var k = 0
      while (k < pricesPerTick) {
        price = math.min(2.5, math.max(1.5, price * math.exp(0.01 * rnd.nextDouble(-1.0, 1.0))))
        prices(k) = price
        pb.append("{\"key\":\"FOO\",\"value\":{\"time\":\"")
          .append(Instant.ofEpochMilli(due + k.toLong * tickMs / pricesPerTick))
          .append("\",\"coins\":").append(price).append(",\"forecast\":1.0}}\n")
        k += 1
      }
      val ts = Instant.ofEpochMilli(due).toString
      val firstOrder = oSeq
      k = 0
      while (k < nOrders) {
        val t = rnd.nextInt(traders)
        val buy = (sideCount(t) & 1) == 0
        sideCount(t) += 1
        orderTrader += t
        orderBuy += (if (buy) 1 else 0)
        ob.append("{\"key\":\"T").append(t).append("\",\"value\":{\"time\":\"").append(ts)
          .append("\",\"txnId\":\"o").append(oSeq).append("\",\"orderType\":\"")
          .append(if (buy) "BUY" else "SELL").append("\",\"shares\":1}}\n")
        oSeq += 1; k += 1
      }
      val firstInvest = iSeq
      k = 0
      while (k < nInvests) {
        val t = rnd.nextInt(traders)
        investTrader += t
        ib.append("{\"key\":\"T").append(t).append("\",\"value\":{\"txnId\":\"i").append(iSeq)
          .append("\",\"updaterType\":\"INVEST\",\"time\":\"").append(ts)
          .append("\",\"coinsDiff\":-0.01,\"sharesDiff\":0,\"addBailout\":false,")
          .append("\"fedMonkeys\":0,\"investDiff\":1}}\n")
        iSeq += 1; k += 1
      }
      val name = f"$tick%06d.json"
      publish(pricesDir, "prices_" + name, pb)
      if (nOrders > 0) publish(ordersDir, "orders_" + name, ob)
      if (nInvests > 0) publish(investsDir, "invests_" + name, ib)
      ticks.synchronized {
        ticks += Tick(tick, inMeasure, due, System.currentTimeMillis(), firstOrder, nOrders,
          firstInvest, nInvests, prices)
      }
      if (inMeasure) measured += 1
      tick += 1
    }
    endMs = System.currentTimeMillis()
  }

  def orders: Long = orderTrader.size.toLong
  def invests: Long = investTrader.size.toLong
  def allTicks: Seq[Tick] = ticks.synchronized(ticks.toVector)
  def allPrices: Seq[Double] = allTicks.flatMap(_.prices.toSeq)
}

/** Growable primitive int buffer (no boxing for ~10^6 records). */
final class IntBuf {
  private var a = new Array[Int](1024)
  private var n = 0
  def +=(x: Int): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = x; n += 1
  }
  def apply(i: Int): Int = a(i)
  def size: Int = n
}
