package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.SparkSpec

/** The one scan spread: a narrow frame widens to `defaultParallelism`,
  * a wide or streaming one passes through untouched, and the width does
  * not follow `spark.sql.shuffle.partitions`. */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  private def frame(partitions: Int): DataFrame = spark.range(0, 100, 1, partitions).toDF("id")

  private def roundRobins(df: DataFrame): Int =
    "RoundRobinPartitioning".r.findAllIn(
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))).size

  test("a 1-partition frame comes back with width partitions") {
    val width = Spread.width(spark)
    assert(width == spark.sparkContext.defaultParallelism && width > 1)
    val spread = Spread.narrow(frame(1))
    assert(spread.rdd.getNumPartitions == width)
    assert(roundRobins(spread) == 1)
    assert(spread.as[Long].collect().sorted.toSeq == (0L until 100L))
  }

  test("a frame with at least width partitions comes back with no Exchange added") {
    Seq(Spread.width(spark), Spread.width(spark) + 3).foreach { n =>
      val wide = frame(n)
      val spread = Spread.narrow(wide)
      assert(spread eq wide)
      assert(!spread.queryExecution.explainString(ExplainMode.fromString("formatted"))
        .contains("Exchange"))
    }
  }

  test("a streaming frame passes through unchanged") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Int].toDF()
    assert(Spread.narrow(in) eq in)
  }

  test("the width is defaultParallelism even with spark.sql.shuffle.partitions at 1") {
    val key = "spark.sql.shuffle.partitions"
    val callers = spark.conf.get(key)
    spark.conf.set(key, "1")
    try {
      assert(Spread.width(spark) == spark.sparkContext.defaultParallelism)
      assert(Spread.narrow(frame(1)).rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    } finally spark.conf.set(key, callers)
  }
}
