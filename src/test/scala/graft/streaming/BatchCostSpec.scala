package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model._
import graft.sources.JsonTopics

/** The fixed work of one micro-batch of a topic query. At the loop's
  * batch sizes that work, not the row count, sets order latency, so
  * these tests pin the two costs a topic query has shed:
  *
  *  1. a hash exchange into the one state store: each query started
  *     through `MarketLoop.start` runs a batch as one stage, its input
  *     coalesced to one partition below the stateful operator;
  *  2. a Janino compile of J1's state deserializer in every batch:
  *     after its second batch J1 generates no new class.
  */
class BatchCostSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1700000000000L

  private def publish[T: Encoder](dir: Path, rows: Seq[T]): Unit =
    JsonTopics.write(rows.toDS().toDF("key", "value"), dir.toString)

  private def inputProgress(q: StreamingQuery) = q.recentProgress.filter(_.numInputRows > 0)

  private def orders(from: Long, n: Int): Seq[(String, MarketOrder)] = (0 until n).map { i =>
    s"T${i % 4}" -> MarketOrder(ts(from + i), s"o$from-$i",
      if (i % 2 == 0) "BUY" else "SELL", 1)
  }

  test("each topic query of the loop runs a batch without an exchange, " +
    "its input coalesced to one partition below its one state store") {
    val root = Files.createTempDirectory("graft-batchcost-loop")
    val qs = MarketLoop.start(spark, root, _ => 1.5)
    try {
      publish(MarketLoop.topic(root, "prices"), Seq("FOO" -> SharePriceInfo(ts(t0), 2.0, 2.1)))
      publish(MarketLoop.topic(root, "orders"), orders(t0 + 1, 8))
      publish(MarketLoop.topic(root, "invests"), (0 until 4).map { i =>
        s"T$i" -> Semantics.investDelta(Investment(ts(t0 + 20 + i), s"i$i", 0.01))
      })
      eventually(120000, "a batch that read input in j1, t1 and t2") {
        qs.values.forall(inputProgress(_).nonEmpty)
      }
      for ((name, q) <- qs.toSeq.sortBy(_._1)) {
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
        assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, s"$name:\n$plan")
        val stateful = plan.collect { case s: StatefulOperator => s }
        assert(stateful.size === 1, s"$name:\n$plan")
        assert(stateful.head.collect { case c: CoalesceExec => c.numPartitions } === Seq(1),
          s"$name:\n$plan")
        assert(inputProgress(q).last.stateOperators.map(_.numShufflePartitions).toSeq === Seq(1L),
          name)
      }
    } finally qs.values.foreach(_.stop())
  }

  test("J1 over dir topics compiles no code after its second batch") {
    val root = Files.createTempDirectory("graft-batchcost-j1")
    val (ordersDir, pricesDir) = (root.resolve("orders"), root.resolve("prices"))
    Seq(ordersDir, pricesDir).foreach(Files.createDirectories(_))
    val orderIn: Dataset[(String, MarketOrder)] =
      JsonTopics.readStream(spark, ordersDir.toString, "string", Encoders.product[MarketOrder].schema)
        .select(col("key").as("_1"), col("value").as("_2")).as[(String, MarketOrder)]
    val priceIn: Dataset[SharePriceInfo] =
      JsonTopics.readStream(spark, pricesDir.toString, "string", Encoders.product[SharePriceInfo].schema)
        .select("value.*").as[SharePriceInfo]
    val q = JsonTopics.writeStream(
      MarketDataflow.priceOrders(spark, orderIn, priceIn).toDF("key", "value"),
      root.resolve("updaters").toString, root.resolve("cp").toString)
    try {
      // round 0 buffers orders before any price; every later round
      // prices them, so the state cell exists from the second batch on
      val compiles = (0 until 5).map { round =>
        val at = t0 + 1000L * round
        if (round > 0) publish(pricesDir, Seq("FOO" -> SharePriceInfo(ts(at), 2.0 + round, 2.1)))
        publish(ordersDir, orders(at + 1, 6))
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        q.processAllAvailable()
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      }
      assert(inputProgress(q).length >= 4)
      assert(compiles.drop(2).forall(_ == 0), s"compiles per round: $compiles")
    } finally q.stop()
  }
}
