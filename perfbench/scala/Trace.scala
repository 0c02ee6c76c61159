package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The traced run's recorder. Spans (name, start, end, parent, run id)
  * are kept in memory and written when the run ends:
  *   workload → loop → micro-batch per query → its `durationMs` parts
  *   workload → catalog → query → construct / execute → Spark job → stage
  * Micro-batch parts carry durations only, so they are laid end to end
  * from the batch start in execution order. The listener also keeps one
  * record per catalog stage (tasks, CPU, GC, shuffle, spill, longest
  * task) for the `engine.*` metrics. */
final class Trace(val runId: String) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[String]()
  private val stageRows = new ConcurrentLinkedQueue[String]()

  def reserve(): Long = ids.incrementAndGet()

  def span(name: String, startMs: Long, endMs: Long, parent: Long,
           attrs: Map[String, Any] = Map.empty, id: Long = -1L): Long = {
    val sid = if (id > 0) id else reserve()
    spans.add(Main.json(Map("run" -> runId, "id" -> sid, "parent" -> parent, "name" -> name,
      "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs))
    sid
  }

  def batchSpans(query: String, p: StreamingQueryProgress, parent: Long): Unit = {
    val d = p.durationMs
    val start = Instant.parse(p.timestamp).toEpochMilli
    val id = span(s"$query.batch", start, start + d.get("triggerExecution").longValue, parent,
      Map("batch" -> p.batchId, "rows" -> p.numInputRows))
    var t = start
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .filter(d.containsKey).foreach { part =>
        val ms = d.get(part).longValue
        span(s"$query.$part", t, t + ms, id)
        t += ms
      }
  }

  private val jobs = TrieMap.empty[Int, Trace.Job]
  private val stageJob = TrieMap.empty[Int, Int]
  private val maxTaskMs = TrieMap.empty[(Int, Int), Long]

  /** Catalog jobs carry these local properties (set around execute). */
  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey))).foreach { parent =>
        jobs.put(e.jobId, Trace.Job(reserve(), parent.toLong, e.properties.getProperty(Trace.QueryKey), e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.contains(e.stageId) && e.taskInfo != null) {
        val k = (e.stageId, e.stageAttemptId)
        maxTaskMs.put(k, math.max(maxTaskMs.getOrElse(k, 0L), e.taskInfo.duration))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      for (jobId <- stageJob.get(s.stageId); job <- jobs.get(jobId)) {
        val m = s.taskMetrics
        val start = s.submissionTime.getOrElse(job.startMs)
        val end = s.completionTime.getOrElse(start)
        val row = Map(
          "query" -> job.query, "stage" -> s.stageId, "tasks" -> s.numTasks,
          "wall_ms" -> (end - start),
          "max_task_ms" -> maxTaskMs.getOrElse((s.stageId, s.attemptNumber()), 0L),
          "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
          "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
          "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
          "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
        stageRows.add(Main.json(row))
        span("stage", start, end, job.id, Map("stage" -> s.stageId, "tasks" -> s.numTasks))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(j => span("job", j.startMs, e.time, j.parent,
        Map("job" -> e.jobId, "query" -> j.query), id = j.id))
  }

  def write(dir: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.write(dir.resolve("spans.jsonl"), spans.asScala.toSeq.asJava)
    Files.write(dir.resolve("stages.jsonl"), stageRows.asScala.toSeq.asJava)
  }
}

object Trace {
  final case class Job(id: Long, parent: Long, query: String, startMs: Long)
  val SpanKey = "perfbench.span"
  val QueryKey = "perfbench.query"
}
