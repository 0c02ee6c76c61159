package graft.model

import java.sql.Timestamp

/**
 * Typed data model of the engine — Spark-first case classes with
 * `Encoders.product` derivation via `spark.implicits._`.
 *
 * Semantics derived from the reference's POJO model
 * (monkey-stock-model/src/main/java/mktd6/model — e.g. Gibb.java:11-29,
 * SharePriceInfo.java:9-27, TraderState.java:10-34,
 * trader/ops/MarketOrder.java:8-28) re-expressed as immutable Scala
 * case classes with java.sql.Timestamp for event time (UTC,
 * millisecond precision).
 */

/** A "tweet" (reference: model/gibber/Gibb.java:11-29). */
final case class Gibb(id: String, time: Timestamp, text: String)

/** One price-multiplier tick of the random walk
  * (reference: model/market/SharePriceMult.java:14-24). */
final case class SharePriceMult(time: Timestamp, mult: Double)

/** Published share price + naive forecast; the forecast is a bare
  * Double on the wire (reference: model/market/SharePriceInfo.java:9-27,
  * SharePriceSimpleForecast.java:25-37). */
final case class SharePriceInfo(time: Timestamp, coins: Double, forecast: Double)

object Team {
  val values: Seq[String] = Seq("ALOUATE", "BONOBO", "CAPUCIN", "DRILL", "SAGOUIN")
}

/** A trading team member (reference: model/trader/Trader.java:9-18,
  * model/Team.java:3-10 — 5-value enum kept as a String). */
final case class Trader(team: String, name: String) {
  /** Stable grouping key (reference: monkey-flink-helper TraderKeySelector.java:7-12). */
  def key: String = s"${team}_$name"
}

/** Per-trader ledger state (reference: model/trader/TraderState.java:10-34). */
final case class TraderState(
    time: Timestamp,
    coins: Double,
    shares: Int,
    bailouts: Int,
    fedMonkeys: Int,
    inFlightInvestments: Int)

object TraderState {
  /** Initial grant: 10 coins, 5 shares (reference: TraderState.java:76-83). */
  def init(time: Timestamp): TraderState = TraderState(time, 10.0, 5, 0, 0, 0)
}

object MarketOrderType {
  val BUY = "BUY"
  val SELL = "SELL"
  /** BUY gains shares (+1) and costs coins (-1); SELL mirrors
    * (reference: model/trader/ops/MarketOrderType.java:3-21). */
  def shareSign(t: String): Int = if (t == BUY) 1 else -1
  def coinSign(t: String): Int = -shareSign(t)
}

/** Trader operations (reference: model/trader/ops/TraderOp.java:6-14 and
  * subclasses). Modelled as a sealed trait for in-flight union routing. */
sealed trait TraderOp {
  def time: Timestamp
  def txnId: String
}
/** shares >= 1 (reference: MarketOrder.java:19-21). */
final case class MarketOrder(time: Timestamp, txnId: String, orderType: String, shares: Int)
    extends TraderOp
/** invested > 0 (reference: Investment.java:17-19). */
final case class Investment(time: Timestamp, txnId: String, invested: Double) extends TraderOp
/** monkeys >= 1 (reference: FeedMonkeys.java:17-19). */
final case class FeedMonkeys(time: Timestamp, txnId: String, monkeys: Int) extends TraderOp

object TxnResultType {
  val ACCEPTED = "ACCEPTED"
  val INSUFFICIENT_COINS = "INSUFFICIENT_COINS"
  val INSUFFICIENT_SHARES = "INSUFFICIENT_SHARES"
}

/** Outcome of applying an op to a trader's ledger
  * (reference: model/market/ops/TxnResult.java:7-25). */
final case class TxnResult(txnId: String, opType: String, state: TraderState, status: String)

object UpdaterType {
  val MARKET = "MARKET"
  val INVEST = "INVEST"
  val FEED = "FEED"
  val BAILOUT = "BAILOUT"
  val RETURN = "RETURN"
}

/** The engine's write-ahead delta record
  * (reference: exchange/model/TraderStateUpdater.java:15-57). */
final case class TraderStateUpdater(
    txnId: String,
    updaterType: String,
    time: Timestamp,
    coinsDiff: Double,
    sharesDiff: Int,
    addBailout: Boolean,
    fedMonkeys: Int,
    investDiff: Int)

/** Txn event enriched with investment totals; totalInvestments = -1 is the
  * "not an accepted investment" sentinel (reference: exchange/model/TxnEvent.java:8-30). */
final case class TxnEvent(txnResult: TxnResult, investedCoins: Double, totalInvestments: Double)

/** One positive/negative lexicon hit inside a Gibb
  * (reference: exchange/model/ShareHypePiece.java:33-63). */
final case class ShareHypePiece(time: Timestamp, gibbId: String, positive: Boolean, word: String) {
  def influence: Int = if (positive) 1 else -1
}

/** Hype-bubble damping state machine: 10 steps with fixed multipliers
  * (reference: exchange/model/BurstStep.java:9-29). */
object BurstStep {
  /** Multipliers in firing order STEP1 -> STEP10. */
  val mults: Vector[Double] =
    Vector(0.95, 0.9, 0.8, 0.7, 0.7, 0.8, 0.9, 0.95, 1.2, 1.1)
  val numSteps: Int = mults.length
}
