package graft.streaming

import java.nio.file.{Files, Path}

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model._
import graft.sources.JsonTopics

/** The closed market loop over dir topics, wired in this one place (the
  * reference wires it in one job, MarketDataflow.java:85-137):
  *
  *   orders, prices → `j1` [[MarketDataflow.priceOrders]] → updaters
  *   updaters ∪ invests ∪ returns → `t1` [[MarketDataflow.ledger]] → events
  *   events → `t2` [[MarketDataflow.roiReturns]] → returns, read by `t1`
  *
  * Topic `n` is the directory `root/topics/n` and query `q` checkpoints
  * to `root/cp/q`; starting again on the same `root` resumes all three.
  * Callers publish orders, prices and INVEST updaters. INVESTs have their
  * own topic because a file source reading a file-sink directory trusts
  * its `_spark_metadata` log only, and would never see files published
  * beside the sink's.
  */
object MarketLoop {

  private val Topics: Seq[String] = Seq("orders", "prices", "invests", "updaters", "events", "returns")

  def topic(root: Path, name: String): Path = root.resolve("topics").resolve(name)

  /** Creates the topic directories and starts `j1`, `t1` and `t2`, by
    * name. `sampler` is T2's ROI sample. */
  def start(spark: SparkSession, root: Path,
            sampler: Double => Double): Map[String, StreamingQuery] = {
    import spark.implicits._
    Topics.foreach(n => Files.createDirectories(topic(root, n)))
    def keyed[V <: Product : TypeTag](name: String): Dataset[(String, V)] =
      JsonTopics.readStream(spark, topic(root, name).toString, "string", Encoders.product[V].schema)
        .select(col("key").as("_1"), col("value").as("_2")).as[(String, V)]
    def run(query: String, ds: Dataset[_], out: String): StreamingQuery =
      JsonTopics.writeStream(ds.toDF("key", "value"), topic(root, out).toString,
        root.resolve("cp").resolve(query).toString)

    val prices = JsonTopics.readStream(spark, topic(root, "prices").toString, "string",
      Encoders.product[SharePriceInfo].schema).select("value.*").as[SharePriceInfo]
    val updaters = keyed[TraderStateUpdater]("updaters")
      .union(keyed[TraderStateUpdater]("invests")).union(keyed[TraderStateUpdater]("returns"))
    Map(
      "j1" -> run("j1", MarketDataflow.priceOrders(spark, keyed[MarketOrder]("orders"), prices), "updaters"),
      "t1" -> run("t1", MarketDataflow.ledger(spark, updaters), "events"),
      "t2" -> run("t2", MarketDataflow.roiReturns(spark, keyed[TxnEvent]("events"), sampler), "returns"))
  }
}
