package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model._

/** The five kata dataflows (reference monkey-flink-katas, SURVEY §5) —
  * each works unchanged on a static Dataset or a streaming one, since
  * only Dataset-API constructs are used.
  */
object Katas {

  /** K00 — BUY/SELL decision map (Chapter00:119-125): forecast > 1 ⇒ BUY. */
  def kata00(spark: SparkSession, prices: Dataset[SharePriceInfo]): Dataset[String] = {
    import spark.implicits._
    prices.map(p => if (p.forecast > 1) "BUY" else "SELL")
  }

  /** K01 — sentiment/influence pipeline (Chapter01:121-192): keep gibbs
    * with both hashtags, classify sentiment, drop NEUTRAL, emit one
    * UP/DOWN per '!'. */
  def kata01(spark: SparkSession, gibbs: Dataset[Gibb]): Dataset[String] = {
    import spark.implicits._
    gibbs
      .filter(g => g.text.contains("#mktd6") && g.text.contains("#bananacoins"))
      .map(g => (g.text, Semantics.sentiment(g.text)))
      .filter(_._2 != "NEUTRAL")
      .flatMap { case (text, sent) => Semantics.influences(text, sent) }
  }

  /** K02 — parse/split/route (Chapter02:174-270): route = invalid |
    * filtered (shares > 1000) | valid; valid rows carry the parsed
    * order, invalid rows the raw text. */
  def kata02(spark: SparkSession, raw: Dataset[String]): DataFrame = {
    import spark.implicits._
    raw.map { line =>
      Semantics.parseOrder(line) match {
        case Left(bad) => ("invalid", bad, null.asInstanceOf[String], 0L, "", 0)
        case Right((player, o)) =>
          val route = if (o.shares > 1000) "filtered" else "valid"
          (route, null.asInstanceOf[String], player, o.time.getTime, o.orderType, o.shares)
      }
    }.toDF("route", "raw", "player", "time_ms", "order_type", "shares")
  }

  /** K03 — per-player tumbling event-time window sum of invested
    * coins, first txnId (Chapter03:125-139; 100 ms windows). */
  def kata03(spark: SparkSession, invs: Dataset[(String, Investment)],
             watermarkDelay: String = "10 milliseconds"): DataFrame = {
    import spark.implicits._
    val df = invs.map { case (player, inv) =>
      (player, inv.time, inv.txnId, inv.invested)
    }.toDF("player", "time", "txnId", "invested")
    val wm = if (df.isStreaming) df.withWatermark("time", watermarkDelay) else df
    // min_by, not first(): first() is arrival-order-nondeterministic
    // across partitions; the reference keeps the EARLIEST txnId.
    wm.groupBy(window(col("time"), "100 milliseconds"), col("player"))
      .agg(sum(col("invested")).as("invested"),
        min_by(col("txnId"), col("time")).as("txnId"))
      .select(col("player"), col("invested"), col("txnId"))
  }

  /** K04 — per-key EMA emitted per event (Chapter04:86-178, α=0.1,
    * seeded with the first observation; exact double fold order). The
    * streaming state is a bare `Double`, absent until the first price: a
    * keyed fold's `Option[Double]` would be a new state schema. */
  def kata04(spark: SparkSession,
             prices: Dataset[(String, SharePriceInfo)]): Dataset[(String, Double)] = {
    import spark.implicits._
    if (prices.isStreaming)
      prices.groupByKey(_._1)
        .flatMapGroupsWithState[Double, (String, Double)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (key: String, it: Iterator[(String, SharePriceInfo)], gs: GroupState[Double]) =>
            var ema = gs.getOption
            val out = it.toVector.sortBy(_._2.time.getTime).map { case (_, p) =>
              ema = Some(Semantics.emaStep(ema, p.coins))
              key -> ema.get
            }
            ema.foreach(gs.update)
            out.iterator
        }
    else {
      // batch twin as a secondary sort — no per-key heap buffer
      import org.apache.spark.sql.functions.col
      val sorted = prices.toDF("_1", "_2").as[(String, SharePriceInfo)]
        .repartition(col("_1"))
        .sortWithinPartitions(col("_1"), col("_2.time"))
      graft.operators.SecondarySort.keyedFold(sorted)(_._1, () => Option.empty[Double],
        (s: Option[Double], row: (String, SharePriceInfo)) => {
          val e = Semantics.emaStep(s, row._2.coins)
          (Some(e): Option[Double], Seq(row._1 -> e))
        })
    }
  }
}
