package graft.trader

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model._
import graft.operators.SecondarySort
import graft.streaming.{CoProcess, Tagged}

/** The trading-bot jobs (reference monkey-flink-trader; SURVEY notes
  * MonkeyStockTrader.java:42 is marked unfinished — these are
  * capability demos, not spec): T4 follow-forecast with monotonic txn
  * ids, J3 invest-budget matcher, J4 champion cogroup.
  */
object TraderJobs {

  // ------------------------------------------------------- T4 follow-forecast

  /** T4 — forecast>1 ⇒ BUY 1 else SELL 1, txn ids numbered
    * monotonically per key from ValueState (MonkeyStockTrader.java
    * :107-117,167-206). Pure step shared batch/streaming. */
  def followStep(counter: Int, trader: String,
                 p: SharePriceInfo): (Int, (String, MarketOrder)) = {
    val orderType = if (p.forecast > 1) "BUY" else "SELL"
    val txnId = s"${trader}_txn_$counter"
    (counter + 1, trader -> MarketOrder(p.time, txnId, orderType, 1))
  }

  /** [[followStep]] over a keyed price: the one step both
    * followForecast forms fold. */
  private def followRow(counter: Int,
                        row: (String, SharePriceInfo)): (Int, Seq[(String, MarketOrder)]) = {
    val (c2, order) = followStep(counter, row._1, row._2)
    (c2, Seq(order))
  }

  def followForecast(spark: SparkSession,
                     prices: Dataset[(String, SharePriceInfo)]): Dataset[(String, MarketOrder)] = {
    import spark.implicits._
    if (prices.isStreaming)
      SecondarySort.keyedFoldStream(prices)(_._1, _._2.time.getTime, () => 0, followRow)
    else {
      // batch twin as a secondary sort — no per-key heap buffer
      import org.apache.spark.sql.functions.col
      val sorted = prices.toDF("_1", "_2").as[(String, SharePriceInfo)]
        .repartition(col("_1"))
        .sortWithinPartitions(col("_1"), col("_2.time"))
      SecondarySort.keyedFold(sorted)(_._1, () => 0, followRow)
    }
  }

  // --------------------------------------------------------- J3 invest budget

  /** J3 — keep the latest own share price in state; each coins event
    * emits `coins − lastPrice` as the invest budget
    * (MonkeyStockTrader.java:208-236). */
  final case class BudgetState(lastPrice: Option[Double])

  def onCoins(s: BudgetState, t: Timestamp, coins: Double): (BudgetState, Seq[Double]) =
    s.lastPrice match {
      case Some(p) => (s, Seq(coins - p))
      case None    => (s, Seq.empty)
    }

  def onOwnPrice(s: BudgetState, t: Timestamp, price: Double): (BudgetState, Seq[Double]) =
    (BudgetState(Some(price)), Seq.empty)

  def investBudget(spark: SparkSession,
                   coins: Dataset[(String, Timestamp, Double)],
                   ownPrices: Dataset[(String, Timestamp, Double)]): Dataset[Double] = {
    import spark.implicits._
    CoProcess.coFlatMap[Double, Double, BudgetState, Double](
      CoProcess.tagged(coins, ownPrices), BudgetState(None), onCoins, onOwnPrice)
  }

  // ------------------------------------------------------------- J4 champion

  /** J4 state — O(1) per key. The reference accumulates the FULL
    * history of both sides (GlobalWindows + fire-per-element rescans,
    * MonkeyStockChampion.java:143-232), but its decision rules only
    * ever read `results.last`, `prices.last` and the two monotone
    * all-forecast predicates — so the state folds to the last element
    * of each side plus two running booleans, semantics-identical,
    * with constant size instead of O(events) growth per key. */
  final case class ChampionState(lastResult: Option[TxnResult],
                                 lastPrice: Option[SharePriceInfo],
                                 allGt1: Boolean, allLt1: Boolean,
                                 txnCounter: Int)

  /** Mixed champion op with an R2 routing tag — the concrete record
    * form of the TraderOp union (sealed traits have no product
    * encoder), routed downstream by filtering `kind` (MARKET/INVEST/
    * FEED, MonkeyStockChampion.java:233-287). */
  final case class ChampOp(kind: String, time: Timestamp, txnId: String,
                           orderType: String, shares: Int, invested: Double,
                           monkeys: Int)

  /** The per-fire decision rules (MonkeyStockChampion.java:172-232):
    * needs both sides non-empty; last state + last price;
    * rich rule first (coins > 10·price ⇒ BUY 3 + INVEST + FEED;
    * coins<5 ∧ shares≥2 ⇒ SELL 2), else all forecasts>1 ⇒ BUY 1 /
    * all <1 ⇒ SELL 1. */
  def championFire(s: ChampionState, time: Timestamp): (ChampionState, Seq[ChampOp]) = {
    (s.lastResult, s.lastPrice) match {
      case (Some(lastResult), Some(lastPrice)) =>
        val lastState = lastResult.state
        val c = s.txnCounter
        def id(i: Int) = s"champ_txn_${c + i}"
        val ops: Seq[ChampOp] =
          if (lastState.coins > 10 * lastPrice.coins)
            Seq(ChampOp("MARKET", time, id(0), "BUY", 3, 0.0, 0),
              ChampOp("INVEST", time, id(1), "", 0, lastState.coins / 2, 0),
              ChampOp("FEED", time, id(2), "", 0, 0.0, 1))
          else if (lastState.coins < 5 && lastState.shares >= 2)
            Seq(ChampOp("MARKET", time, id(0), "SELL", 2, 0.0, 0))
          else if (s.allGt1)
            Seq(ChampOp("MARKET", time, id(0), "BUY", 1, 0.0, 0))
          else if (s.allLt1)
            Seq(ChampOp("MARKET", time, id(0), "SELL", 1, 0.0, 0))
          else Seq.empty
        (s.copy(txnCounter = c + ops.length), ops)
      case _ => (s, Seq.empty)
    }
  }

  def onResult(s: ChampionState, t: Timestamp, r: TxnResult): (ChampionState, Seq[ChampOp]) =
    championFire(s.copy(lastResult = Some(r)), t)

  def onChampPrice(s: ChampionState, t: Timestamp,
                   p: SharePriceInfo): (ChampionState, Seq[ChampOp]) =
    championFire(s.copy(lastPrice = Some(p),
      allGt1 = s.allGt1 && p.forecast > 1,
      allLt1 = s.allLt1 && p.forecast < 1), t)

  /** Streaming champion: cogroup-with-per-element-fire as a tagged
    * union + keyed full-history state; route downstream by `kind`. */
  def champion(spark: SparkSession,
               results: Dataset[(String, Timestamp, TxnResult)],
               prices: Dataset[(String, Timestamp, SharePriceInfo)]): Dataset[ChampOp] = {
    import spark.implicits._
    // allGt1/allLt1 start vacuously true (no prices seen yet; the fire
    // guard requires a price before any rule can emit)
    val init = ChampionState(None, None, allGt1 = true, allLt1 = true, 0)
    CoProcess.coFlatMap[TxnResult, SharePriceInfo, ChampionState, ChampOp](
      CoProcess.tagged(results, prices), init, onResult, onChampPrice)
  }
}
