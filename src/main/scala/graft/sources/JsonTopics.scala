package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Kafka-shaped topic boundary on files (S1/K1 analogs — the reference
  * moves every stream over Kafka as JSON key/value records,
  * JsonSchema.java:12-30, BaseJsonSerde.java:15-54; this container has
  * no broker, so a topic is a directory of JSON-lines with the same
  * record shape: {"key": ..., "value": {...}}).
  *
  * The wire semantics carried over: tolerant parsing (unknown fields
  * ignored — from_json drops them; malformed rows become null values,
  * not failures), ISO-8601 UTC timestamps, key+value envelope. The
  * same API shape would bind to `format("kafka")` on a real cluster —
  * only `load`/`save` options change.
  *
  * The broker-mediated feedback loop (T2's RETURN updaters looping
  * back into trader-state-updates, MarketDataflow.java:130-165) is
  * reproduced by writing one query's output topic dir and reading it
  * as another query's source dir.
  */
object JsonTopics {

  /** Transport selection: a topic is either a directory of JSON-lines
    * (the in-container stand-in) or a real Kafka topic — the record
    * shape ({"key", "value"} envelope, tolerant JSON value) is
    * identical, so dataflows are written once against this API. */
  sealed trait TopicTransport
  final case class DirTopic(dir: String) extends TopicTransport
  final case class KafkaTopic(bootstrapServers: String, topic: String,
                              startingOffsets: String = "earliest") extends TopicTransport

  /** Consumer options for the Kafka branch — the reference's consumer
    * wiring (bootstrap servers + subscribe + offset reset,
    * MarketDataflow.java:85-97). Pure, unit-testable without a broker. */
  def kafkaReadOptions(k: KafkaTopic): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> k.bootstrapServers,
    "subscribe" -> k.topic,
    "startingOffsets" -> k.startingOffsets,
    // the reference's consumers resume past compacted/expired segments
    "failOnDataLoss" -> "false")

  /** Producer options for the Kafka branch (MarketDataflow.java:133-137). */
  def kafkaWriteOptions(k: KafkaTopic): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> k.bootstrapServers,
    "topic" -> k.topic)

  /** Streaming read over either transport. The Kafka branch decodes
    * the binary key/value into the same (key, value struct) columns
    * the dir branch produces, so downstream operators are
    * transport-agnostic. Untested against a live broker in this
    * container (none available) — the option construction is
    * unit-tested instead. */
  def readStreamFrom(spark: SparkSession, topic: TopicTransport, keyType: String,
                     valueSchema: StructType): DataFrame = topic match {
    case DirTopic(dir) => readStream(spark, dir, keyType, valueSchema)
    case k: KafkaTopic =>
      kafkaReadOptions(k).foldLeft(spark.readStream.format("kafka")) {
        case (r, (opt, v)) => r.option(opt, v)
      }.load()
        .select(col("key").cast("string").cast(keyType).as("key"),
          from_json(col("value").cast("string"), valueSchema).as("value"))
  }

  /** Streaming write over either transport. Expects the topic envelope
    * (a `key` column and a `value` struct column); the Kafka branch
    * serializes value to JSON — the reference's producer record shape
    * (BaseJsonSerde.java:15-54). */
  def writeStreamTo(df: DataFrame, topic: TopicTransport,
                    checkpoint: String): StreamingQuery = topic match {
    case DirTopic(dir) => writeStream(df, dir, checkpoint)
    case k: KafkaTopic =>
      startOneStore(df, kafkaWriteOptions(k).foldLeft(
        df.select(col("key").cast("string").as("key"),
          to_json(col("value")).as("value"))
          .writeStream.format("kafka")
          .option("checkpointLocation", checkpoint)) {
        case (w, (opt, v)) => w.option(opt, v)
      })
  }

  /** Streaming read of a topic dir: JSON lines → (key, value struct). */
  def readStream(spark: SparkSession, dir: String, keyType: String,
                 valueSchema: StructType): DataFrame =
    spark.readStream
      .schema(new StructType()
        .add("key", keyType)
        .add("value", valueSchema))
      .json(dir)

  /** Batch read of a topic dir. */
  def read(spark: SparkSession, dir: String, keyType: String,
           valueSchema: StructType): DataFrame =
    spark.read
      .schema(new StructType().add("key", keyType).add("value", valueSchema))
      .json(dir)

  /** Streaming write to a topic dir (checkpointed, exactly-once file
    * sink — the K1 analog; Dashboard's ES push K2 maps to the same
    * foreachBatch/file pattern).
    *
    * The query's stateful operator (J1's pricing cell, T1's ledger,
    * T2's ROI timers) runs on ONE state store, not one per
    * `spark.sql.shuffle.partitions`. Every store pays a RocksDB commit
    * each micro-batch whether or not it holds a key, and at the loop's
    * batch sizes that fixed cost, not data volume, sets latency. The
    * commit's changelog upload takes about 4 ms a store on a local
    * disk (4-core Linux box) through [[graft.GraftLocalFileSystem]];
    * with Hadoop's own local file system it took 60–90 ms, nearly all
    * of it `chmod` and `readlink` child processes. One store is what
    * the data allows: J1 is keyed on the constant "FOO", so only one
    * store could ever hold state, and T1/T2 see at most J1's output
    * plus a few percent INVEST/RETURN traffic, which one task folds
    * faster than four stores commit. Revisit the count if J1 ever
    * prices key-parallel.
    *
    * The count is fixed when the checkpoint is first created: Spark
    * records `spark.sql.shuffle.partitions` in the offset log at the
    * first batch and every restart reads it back from there. A
    * checkpoint created with another count keeps that count, and
    * changing it needs a fresh checkpoint. */
  def writeStream(df: DataFrame, dir: String, checkpoint: String): StreamingQuery =
    startOneStore(df, df.select(to_json(struct(df.columns.map(col): _*)).as("line"))
      .writeStream.format("text")
      .option("path", dir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append"))

  /** Starts `writer` (built over `df`) with `spark.sql.shuffle.partitions`
    * at 1, then restores the caller's value. The query copies the
    * session conf while it starts, so it keeps one state store after
    * the restore. Starts are serialized so that two concurrent ones
    * cannot restore each other's value. Batch queries running on the
    * same session in other threads would see the 1 while a start is in
    * flight. */
  private def startOneStore(df: DataFrame, writer: DataStreamWriter[Row]): StreamingQuery =
    synchronized {
      val conf = df.sparkSession.conf
      val key = "spark.sql.shuffle.partitions"
      val callers = conf.get(key)
      conf.set(key, "1")
      try writer.start() finally conf.set(key, callers)
    }

  /** Batch write. */
  def write(df: DataFrame, dir: String): Unit =
    df.select(to_json(struct(df.columns.map(col): _*)).as("line"))
      .write.mode("append").text(dir)

  /** K3 analog — the reference's `print()` debug sink
    * (Chapter01 katas): console output per micro-batch. */
  def consoleSink(df: DataFrame): StreamingQuery =
    df.writeStream.format("console").option("truncate", "false").start()

  /** K2 analog — push each micro-batch to an external store through an
    * arbitrary batch writer (the reference indexes TraderState /
    * SharePriceInfo into Elasticsearch for Kibana,
    * Dashboard.java:54-132; the capability is "stream → external
    * store", with the store-specific client injected). */
  def foreachBatchSink(df: DataFrame, checkpoint: String)(
      push: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        push(batch, id)
      }
      .start()
}
