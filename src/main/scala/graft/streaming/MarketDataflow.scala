package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.model._

/** The transaction engine (reference MarketDataflow.java:57-183,
  * SURVEY §3.3):
  *
  *  stage 1 — J1 order pricing: orders buffered per trader until the
  *    first price arrives, then priced at the latest price
  *    (MarketDataflow.java:190-268);
  *  stage 2 — T1 ledger: per-trader state fold with validation +
  *    bailout (MarketDataflow.java:284-310) emitting TxnResults, plus
  *    A3 running investment totals (:319-339) enriching TxnEvents.
  *
  * The reference loops T2's matured returns back through a Kafka
  * topic; the loop stays broker/dir-mediated here too (Structured
  * Streaming DAGs are acyclic) — `roiReturns` produces the RETURN
  * updaters to feed back into `ledger`'s input on the next cycle.
  */
object MarketDataflow {

  // ------------------------------------------------------- J1 order pricing

  /** J1 state: latest price + per-trader time-ordered order buffer
    * (MarketDataflow.java:192-207; the PriorityQueue becomes a sorted
    * replay inside the micro-batch, SURVEY §7.3). A Vector, so that
    * buffering n orders before the first price appends in O(n), not
    * O(n²). */
  final case class PricingState(lastPrice: Option[Double],
                                buffered: Vector[(String, MarketOrder)])

  object PricingState { val init: PricingState = PricingState(None, Vector.empty) }

  /** An order arrives: price immediately at the latest price, or
    * buffer until the first price (MarketDataflow.java:211-240). */
  def onOrder(s: PricingState, t: Timestamp,
              traderOrder: (String, MarketOrder)): (PricingState, Seq[(String, TraderStateUpdater)]) =
    s.lastPrice match {
      case Some(p) =>
        (s, Seq(traderOrder._1 -> Semantics.marketDelta(traderOrder._2, p)))
      case None =>
        (s.copy(buffered = s.buffered :+ traderOrder), Seq.empty)
    }

  /** A price arrives: drain ALL buffered queues at this price, then
    * update the price cell (MarketDataflow.java:243-267). */
  def onPrice(s: PricingState, t: Timestamp,
              price: Double): (PricingState, Seq[(String, TraderStateUpdater)]) = {
    val drained = s.buffered
      .sortBy { case (_, o) => o.time.getTime }
      .map { case (trader, o) => trader -> Semantics.marketDelta(o, price) }
    (PricingState(Some(price), Vector.empty), drained)
  }

  /** Streaming J1: globally-keyed connect of orders and prices
    * (keyBy const "FOO", MarketDataflow.java:99-112). */
  def priceOrders(spark: SparkSession,
                  orders: Dataset[(String, MarketOrder)],
                  prices: Dataset[SharePriceInfo]): Dataset[(String, TraderStateUpdater)] = {
    import spark.implicits._
    val l = orders.map { case (trader, o) => ("FOO", o.time, (trader, o)) }
    val r = prices.map(p => ("FOO", p.time, p.coins))
    CoProcess.coFlatMap[(String, MarketOrder), Double, PricingState, (String, TraderStateUpdater)](
      CoProcess.tagged(l, r), PricingState.init, onOrder, onPrice)
  }

  // ---------------------------------------------------------- T1 + A3 ledger

  /** Ledger state: trader ledger + running accepted-investment total
    * (T1 MarketDataflow.java:284-310 fused with A3 :319-339 — one
    * state cell, one shuffle on the trader key). */
  final case class LedgerState(state: Option[TraderState], totalInvested: Double)

  /** Apply one updater: returns the enriched TxnEvent. Pure core
    * shared by batch and streaming forms. */
  def ledgerStep(s: LedgerState, u: TraderStateUpdater): (LedgerState, TxnEvent) = {
    val (ns, result) = Semantics.updateTrader(s.state, u)
    val ev = Semantics.toTxnEvent(u, result)
    val newTotal = s.totalInvested + ev.investedCoins
    val enriched =
      if (ev.investedCoins > 0) ev.copy(totalInvestments = newTotal) else ev
    (LedgerState(Some(ns), newTotal), enriched)
  }

  /** Streaming T1+A3 keyed by trader key (team_name). */
  def ledger(spark: SparkSession,
             updates: Dataset[(String, TraderStateUpdater)]): Dataset[(String, TxnEvent)] = {
    import spark.implicits._
    updates.groupByKey(_._1)
      .flatMapGroupsWithState[LedgerState, (String, TxnEvent)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (trader: String, it: Iterator[(String, TraderStateUpdater)],
         gs: GroupState[LedgerState]) =>
          val sorted = it.toVector.sortBy { case (_, u) => (u.time.getTime, u.txnId) }
          val init = gs.getOption.getOrElse(LedgerState(None, 0.0))
          val (fin, out) = sorted.foldLeft((init, Vector.empty[(String, TxnEvent)])) {
            case ((s, acc), (_, u)) =>
              val (s2, ev) = ledgerStep(s, u)
              (s2, acc :+ (trader -> ev))
          }
          gs.update(fin)
          out.iterator
      }
  }

  /** Batch twin of the ledger fold — secondary sort on
    * (trader, time, txnId), streaming fold, no per-key buffer
    * (see graft.operators.SecondarySort). */
  def ledgerBatch(spark: SparkSession,
                  updates: Dataset[(String, TraderStateUpdater)]): Dataset[(String, TxnEvent)] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val sorted = updates.toDF("_1", "_2").as[(String, TraderStateUpdater)]
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_2.time"), col("_2.txnId"))
    graft.operators.SecondarySort.keyedFold(sorted)(_._1, () => LedgerState(None, 0.0),
      (s: LedgerState, row: (String, TraderStateUpdater)) => {
        val (s2, ev) = ledgerStep(s, row._2)
        (s2, Seq(row._1 -> ev))
      })
  }

  // ------------------------------------------------------------ T2 ROI loop

  /** T2 deterministic core (MarketDataflow.java:348-392 with the
    * log-normal sample injected): return = sample × investedCoins;
    * maturation delay = totalInvestments ms. Emits the RETURN updater
    * that loops back into the ledger input. */
  def roiReturn(trader: String, ev: TxnEvent, sample: Double,
                now: Timestamp): (String, TraderStateUpdater) = {
    val returned = sample * ev.investedCoins
    trader -> Semantics.returnDelta(ev.txnResult.txnId, now, returned)
  }

  /** Streaming T2: accepted INVEST TxnEvents keyed by txnId; the
    * maturation delay is a REAL registered timer on Spark 4's
    * `transformWithState` — `handleExpiredTimer` maps 1:1 to the
    * reference's `ProcessFunction.onTimer` (MarketDataflow.java
    * :361-391), replacing the coarser flatMapGroupsWithState
    * `setTimeoutDuration` (one timeout per key, reset on update) used
    * in round 1. `sampler` is seed-injected for deterministic tests.
    *
    * transformWithState requires the RocksDB state store
    * (`spark.sql.streaming.stateStore.providerClass =
    * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`)
    * — its timer/column-family contract is RocksDB-only. */
  final case class RoiState(trader: String, txnId: String, returned: Double)

  final class RoiProcessor(sampler: Double => Double)
      extends StatefulProcessor[String, (String, TxnEvent), (String, TraderStateUpdater)] {
    @transient private var state: ValueState[RoiState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[RoiState]("roi",
        Encoders.product[RoiState], TTLConfig.NONE)

    override def handleInputRows(txnId: String, rows: Iterator[(String, TxnEvent)],
        tv: TimerValues): Iterator[(String, TraderStateUpdater)] = {
      rows.nextOption() match {
        case Some((trader, ev)) =>
          val sample = sampler(ev.totalInvestments)
          state.update(RoiState(trader, txnId, sample * ev.investedCoins))
          // maturation delay = totalInvestments ms (MarketDataflow.java:368,375)
          getHandle.registerTimer(tv.getCurrentProcessingTimeInMs() +
            math.max(1L, ev.totalInvestments.toLong))
        case None =>
      }
      Iterator.empty
    }

    override def handleExpiredTimer(txnId: String, tv: TimerValues,
        timer: ExpiredTimerInfo): Iterator[(String, TraderStateUpdater)] =
      if (!state.exists()) Iterator.empty
      else {
        val s = state.get()
        state.clear()
        Iterator(s.trader -> Semantics.returnDelta(s.txnId,
          new Timestamp(timer.getExpiryTimeInMs), s.returned))
      }
  }

  def roiReturns(spark: SparkSession,
                 acceptedInvests: Dataset[(String, TxnEvent)],
                 sampler: Double => Double): Dataset[(String, TraderStateUpdater)] = {
    import spark.implicits._
    acceptedInvests
      .filter(e => e._2.txnResult.status == TxnResultType.ACCEPTED &&
        e._2.investedCoins > 0)
      .groupByKey(_._2.txnResult.txnId)
      .transformWithState(new RoiProcessor(sampler),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }
}
