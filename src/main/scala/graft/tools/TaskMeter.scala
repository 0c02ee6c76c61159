package graft.tools

import java.io.PrintStream
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/** What [[TaskMeter.measure]] saw of one block: its wall seconds, its
  * result, its longest task and the input records its tasks read. */
final case class Measured[A](sec: Double, value: A, maxTaskSec: Double, records: Long)

/** The tools' one task listener: the longest task and the input records
  * read since the last [[measure]], and, when `stageLines` is set, one
  * `[stage]` line per completed stage (which stage owns the max task,
  * how much it shuffled and spilled). */
final class TaskMeter private (sc: SparkContext, stageLines: Option[PrintStream])
    extends SparkListener {
  private val maxTaskMs = new AtomicLong(0)
  private val recordsRead = new AtomicLong(0)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    if (te.taskInfo != null) {
      val d = te.taskInfo.duration
      var cur = maxTaskMs.get()
      while (d > cur && !maxTaskMs.compareAndSet(cur, d)) cur = maxTaskMs.get()
    }
    if (te.taskMetrics != null)
      recordsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead): Unit
  }

  override def onStageCompleted(done: SparkListenerStageCompleted): Unit =
    stageLines.foreach(_.println(TaskMeter.stageLine(done.stageInfo)))

  /** Times `block` and reports the counters for its tasks alone. Task
    * ends reach the listener on Spark's asynchronous bus, so a late one
    * from the previous action could land after the reset, and one from
    * this block after the read: the bus is drained before the reset and
    * again before the read, both outside the timed region. */
  def measure[A](block: => A): Measured[A] = {
    GraftSqlBridge.drainListenerBus(sc)
    maxTaskMs.set(0)
    recordsRead.set(0)
    val t0 = System.nanoTime()
    val value = block
    val sec = (System.nanoTime() - t0) / 1e9
    GraftSqlBridge.drainListenerBus(sc)
    Measured(sec, value, maxTaskMs.get() / 1e3, recordsRead.get())
  }
}

object TaskMeter {

  /** A meter registered on `spark`'s context. */
  def attach(spark: SparkSession, stageLines: Option[PrintStream] = None): TaskMeter = {
    val m = new TaskMeter(spark.sparkContext, stageLines)
    spark.sparkContext.addSparkListener(m)
    m
  }

  private def stageLine(si: StageInfo): String = {
    val m = si.taskMetrics
    f"[stage] id=${si.stageId} tasks=${si.numTasks} " +
      f"run=${m.executorRunTime / 1e3}%.1fs cpu=${m.executorCpuTime / 1e9}%.1fs " +
      f"gc=${m.jvmGCTime / 1e3}%.1fs deser=${m.executorDeserializeTime / 1e3}%.1fs " +
      f"shufR=${m.shuffleReadMetrics.totalBytesRead} shufW=${m.shuffleWriteMetrics.bytesWritten} " +
      f"spill=${m.diskBytesSpilled} " +
      si.name.takeWhile(_ != '\n').take(70)
  }
}
