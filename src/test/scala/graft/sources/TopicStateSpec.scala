package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model._
import graft.streaming.{MarketDataflow, SparkSpec}

/** State sizing of the topic sink: a query started through
  * `JsonTopics.writeStream` runs its stateful operator on one state
  * store, leaves the caller's `spark.sql.shuffle.partitions` as it was,
  * and keeps the store count its checkpoint was created with across a
  * restart — the T1 ledger over a dir topic, checked end to end against
  * its batch twin. */
class TopicStateSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = 1700000000000L
  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-topicstate-$tag").toString

  /** `n` orders over 7 traders, timed from `from`, priced at 1.0. */
  private def updaters(from: Long, n: Int): Seq[(String, TraderStateUpdater)] =
    (0 until n).map { i =>
      val side = if (i % 2 == 0) "BUY" else "SELL"
      s"T${i % 7}" -> Semantics.marketDelta(MarketOrder(ts(from + i), s"o${from + i}", side, 1), 1.0)
    }

  private def publish(dir: String, rows: Seq[(String, TraderStateUpdater)]): Unit =
    JsonTopics.write(rows.toDS().toDF("key", "value"), dir)

  private def ledgerIn(dir: String): Dataset[(String, TraderStateUpdater)] =
    JsonTopics.readStream(spark, dir, "string", Encoders.product[TraderStateUpdater].schema)
      .select(col("key").as("_1"), col("value").as("_2")).as[(String, TraderStateUpdater)]

  /** Runs `q` over everything published, then returns the store count
    * of each stateful operator in its last batch that read input. */
  private def stores(q: StreamingQuery): Seq[Long] = {
    q.processAllAvailable()
    q.recentProgress.filter(_.numInputRows > 0).last.stateOperators.map(_.numShufflePartitions).toSeq
  }

  private def events(dir: String): Seq[(String, TxnEvent)] =
    JsonTopics.read(spark, dir, "string", Encoders.product[TxnEvent].schema)
      .select(col("key").as("_1"), col("value").as("_2")).as[(String, TxnEvent)]
      .collect().toSeq.sortBy(_._2.txnResult.txnId)

  test("writeStream runs the ledger on one state store, across a restart, " +
    "without losing or duplicating a row") {
    val in = tmp("in"); val out = tmp("out"); val ckpt = tmp("ckpt")
    def start(): StreamingQuery =
      JsonTopics.writeStream(MarketDataflow.ledger(spark, ledgerIn(in)).toDF("key", "value"),
        out, ckpt)
    val first = updaters(t0, 300)
    val second = updaters(t0 + 10000, 300)

    publish(in, first)
    val q1 = start()
    try {
      assert(spark.conf.get(ShufflePartitions) === "4")
      assert(stores(q1) === Seq(1L))
    } finally q1.stop()

    // restart from the same checkpoint with more input
    publish(in, second)
    val q2 = start()
    try assert(stores(q2) === Seq(1L)) finally q2.stop()
    assert(spark.conf.get(ShufflePartitions) === "4")

    val want = MarketDataflow.ledgerBatch(spark, (first ++ second).toDS())
      .collect().toSeq.sortBy(_._2.txnResult.txnId)
    val got = events(out)
    assert(got.size === 600)
    assert(got === want)
  }

  test("a checkpoint created with the session's store count keeps it " +
    "when restarted through writeStream") {
    val in = tmp("in4"); val out = tmp("out4"); val ckpt = tmp("ckpt4")
    publish(in, updaters(t0, 50))
    val plain = MarketDataflow.ledger(spark, ledgerIn(in))
      .select(to_json(struct(col("_1").as("key"), col("_2").as("value"))).as("line"))
      .writeStream.format("text").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try assert(stores(plain) === Seq(4L)) finally plain.stop()

    publish(in, updaters(t0 + 10000, 50))
    val q = JsonTopics.writeStream(MarketDataflow.ledger(spark, ledgerIn(in)).toDF("key", "value"),
      out, ckpt)
    try assert(stores(q) === Seq(4L)) finally q.stop()
    assert(events(out).size === 100)
  }
}
