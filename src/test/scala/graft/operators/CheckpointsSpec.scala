package graft.operators

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.streaming.SparkSpec

/** The one release scope: what a block makes through its scope is
  * freed when the block returns or throws, except the returned frame;
  * a superseded frame can go early; a caller's frame is never touched;
  * and a release failure is swallowed only when it is non-fatal. Plus
  * the guard that keeps every release in `Checkpoints.scala`. */
class CheckpointsSpec extends SparkSpec {

  private def rddId(df: DataFrame): Int = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.id
    case other => fail(s"not a checkpoint: ${other.getClass.getSimpleName}")
  }

  private def persisted(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddId(df))

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  private def frame(n: Int): DataFrame = spark.range(n).toDF("id")

  test("on return the scope frees what it owns except the returned frame") {
    var (kept, ck, ca) = (null: DataFrame, null: DataFrame, null: DataFrame)
    val out = Checkpoints.scoped { s =>
      ck = s.checkpoint(frame(3))
      ca = s.cache(frame(4).filter("id > 0"))
      assert(ca.count() == 3 && cached(ca))
      kept = s.checkpoint(ck.union(ca))
      kept
    }
    assert(out eq kept)
    assert(persisted(kept) && out.count() == 6)
    assert(!persisted(ck), "an owned checkpoint outlived its scope")
    assert(!cached(ca), "an owned cache outlived its scope")
    Checkpoints.unpersist(kept)
    assert(!persisted(kept))
  }

  test("release frees an owned frame at once and never a caller's") {
    val held = frame(5).localCheckpoint()
    Checkpoints.scoped { s =>
      val prev = s.checkpoint(frame(2))
      s.release(prev)
      assert(!persisted(prev))
      s.release(held)
      s.release(null)
      assert(persisted(held))
    }
    assert(persisted(held) && held.count() == 5)
    Checkpoints.unpersist(held)
  }

  test("a throw frees every owned frame and propagates") {
    var (ck, ca) = (null: DataFrame, null: DataFrame)
    val e = intercept[IllegalArgumentException](Checkpoints.scoped { s =>
      ck = s.checkpoint(frame(3))
      ca = s.cache(frame(3))
      ca.count()
      require(false, "round budget")
    })
    assert(e.getMessage.contains("round budget"))
    assert(!persisted(ck) && !cached(ca))
  }

  /** A checkpoint-shaped frame whose RDD's unpersist throws `err` — the
    * stand-in for a frame of an already-stopped session, whose release
    * fails with the RPC layer's IllegalStateException. */
  private def failingCheckpoint(err: Throwable): DataFrame = {
    val model = frame(1).localCheckpoint()
    val output = model.queryExecution.logical.output
    Checkpoints.unpersist(model)
    val rdd = new RDD[InternalRow](spark.sparkContext, Nil) {
      override def compute(p: Partition, c: TaskContext): Iterator[InternalRow] = Iterator.empty
      override protected def getPartitions: Array[Partition] = Array.empty
      override def unpersist(blocking: Boolean): this.type = throw err
    }
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    new org.apache.spark.sql.classic.Dataset[Row](session,
      LogicalRDD(output, rdd)(session), Encoders.row(model.schema))
  }

  test("release is best-effort for non-fatal failures only") {
    Checkpoints.unpersist(failingCheckpoint(new IllegalStateException("stopped")))
    Checkpoints.scoped { s => s.own(failingCheckpoint(new IllegalStateException("stopped"))); () }
    intercept[InterruptedException](
      Checkpoints.unpersist(failingCheckpoint(new InterruptedException())))
  }

  test("every unpersist, persist and release in src/main is in Checkpoints.scala") {
    for (pattern <- Seq("""\.unpersist\b""", """\.(?:persist\(|cache\(\))""", """def release\b""")) {
      val sites = SourceSites(pattern)
      assert(sites.nonEmpty && sites.forall(_._1 == "Checkpoints.scala"),
        s"$pattern outside Checkpoints.scala: ${sites.filter(_._1 != "Checkpoints.scala")}")
    }
    assert(SourceSites("""def release\b""") == Vector("Checkpoints.scala" -> "Scope"))
  }
}
