package graft

import java.net.URI

import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.functions._
import graft.streaming.SparkSpec

/** Pins the shared-session contract (VERDICT r10 #2): every graft
  * session — mains AND this test harness — is built through
  * [[GraftSession]], so the ObjectHashAggregate sort-fallback lift
  * (and the parity confs) hold wherever TypedImperativeAggregates
  * execute. A regression that drops the conf from the shared builder
  * fails here, in the same JVM the sketch suites run in. */
class GraftSessionSpec extends SparkSpec {

  test("harness session carries the engine confs from GraftSession") {
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
      === GraftSession.ObjectHashFallbackThreshold.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") === "true")
  }

  test("AQE's coalescing floor is the core count without a minPartitionNum conf") {
    assert(spark.conf.getOption("spark.sql.adaptive.coalescePartitions.minPartitionNum").isEmpty)
    // unset, CoalesceShufflePartitions floors at defaultParallelism: the
    // local[4] harness session's thread count
    assert(spark.sparkContext.defaultParallelism === 4)
  }

  test("both Hadoop file APIs resolve the file scheme to the graft classes") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.getFileSystemClass("file", conf) === classOf[GraftLocalFileSystem])
    assert(conf.getClass("fs.AbstractFileSystem.file.impl", null) === classOf[GraftLocalFs])
    // FileContext builds its AbstractFileSystem per use, from this conf
    assert(FileContext.getFileContext(new URI("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[GraftLocalFs])
  }

  test("TypedImperativeAggregate stays hash-based past 128 distinct keys") {
    import spark.implicits._
    // 1000 distinct group keys in one partition — 8x past Spark's
    // default 128-key fallback; under the lifted threshold the plan's
    // ObjectHashAggregate must aggregate without a sort child
    val df = (0 until 4000).map(i => (i % 1000, i.toDouble, i.toLong))
      .toDF("g", "s", "id").repartition(1)
    val topk = df.groupBy(col("g"))
      .agg(graft.functions.TopKPairs.topKPairs(col("s"), col("id"), 2).as("tk"))
    val plan = topk.queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregate in:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"unexpected SortAggregate in:\n$plan")
    // and the result is right: top-2 ids per key are the two largest i
    // with i % 1000 == g, scores descending
    val row = topk.filter(col("g") === 7).select(col("tk")).head()
    val got = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(got === Seq((3007.0, 3007L), (2007.0, 2007L)))
  }
}
