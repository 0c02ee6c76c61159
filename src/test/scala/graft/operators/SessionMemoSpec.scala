package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.streaming.SparkSpec

/** The single-slot session memo: a key hit serves the held instance
  * without building, a new key rebuilds and frees the replaced
  * checkpoint, re-putting the held frame keeps it, and non-frame
  * values are never released. Plus the guard that keeps every
  * hand-rolled slot and per-context accumulator map out of
  * `src/main`. */
class SessionMemoSpec extends SparkSpec {

  private def checkpointed(n: Int): DataFrame = spark.range(n).toDF("id").localCheckpoint()

  private def rddId(df: DataFrame): Int = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.id
    case other => fail(s"not a checkpoint: ${other.getClass.getSimpleName}")
  }

  private def persisted(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddId(df))

  test("a key hit returns the held instance and does not build") {
    val memo = new SessionMemo[DataFrame]
    var builds = 0
    val first = memo("k") { builds += 1; checkpointed(5) }
    val again = memo("k") { builds += 1; checkpointed(5) }
    assert(again eq first)
    assert(builds == 1)
  }

  test("a new key rebuilds and releases the replaced checkpoint") {
    val memo = new SessionMemo[DataFrame]
    val old = memo("k1")(checkpointed(5))
    assert(persisted(old))
    val fresh = memo("k2")(checkpointed(7))
    assert(!(fresh eq old))
    assert(fresh.count() == 7)
    assert(!persisted(old), "the replaced checkpoint's RDD is still persistent")
    assert(persisted(fresh))
  }

  test("put of the held instance does not release it") {
    val memo = new SessionMemo[DataFrame]
    val df = memo.put("k", checkpointed(5))
    assert(memo.put("k", df) eq df)
    assert(memo.put("k2", df) eq df)
    assert(persisted(df))
    assert(df.count() == 5)
  }

  test("a Seq value is memoized and never released") {
    val memo = new SessionMemo[Seq[DataFrame]]
    val held = Seq(checkpointed(5))
    var builds = 0
    assert(memo("k") { builds += 1; held } eq held)
    assert(memo("k") { builds += 1; Seq.empty } eq held)
    assert(builds == 1)
    assert(memo("k2") { builds += 1; Seq.empty }.isEmpty)
    assert(builds == 2)
    assert(persisted(held.head), "a frame inside a replaced Seq was released")
  }

  test("AtomicReference and per-context accumulators in src/main: only " +
    "SessionMemo and ContextCounter") {
    def sites(pattern: String) = SourceSites(pattern).distinct.sorted
    assert(sites("AtomicReference") == Vector("Checkpoints.scala" -> "SessionMemo"))
    assert(sites("""longAccumulator\(""") ==
      Vector("AccumulateNote.scala" -> "ContextCounter"))
    assert(sites("""ConcurrentHashMap\[\s*(?:org\.apache\.spark\.)?SparkContext""") ==
      Vector("AccumulateNote.scala" -> "ContextCounter"))
  }
}
