package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.streaming.SparkSpec

/** BenchScale's harness: the mode table, the exponent fit, the task
  * meter's per-block attribution, and one cheap ladder run end to end
  * through the table. */
class BenchScaleSpec extends SparkSpec {

  test("every mode dispatches to its table row; sizes and extra args parse") {
    BenchScale.ladders.foreach { case (mode, ladder) =>
      val (chosen, sizes, extra) = BenchScale.select(Seq(mode))
      assert(chosen eq ladder, mode)
      assert(sizes == ladder.sizes && extra.isEmpty, mode)
    }
    val (ann, annSizes, annExtra) = BenchScale.select(Seq("ann", "100, 200", "7"))
    assert((ann eq BenchScale.ladders("ann")) && annSizes == Seq(100L, 200L) &&
      annExtra == Seq("7"))
    val (noArgs, defaultSizes, _) = BenchScale.select(Nil)
    assert((noArgs eq BenchScale.dedupChain) && defaultSizes == BenchScale.dedupChain.sizes)
    val (sizesOnly, sizes, _) = BenchScale.select(Seq("400,800"))
    assert((sizesOnly eq BenchScale.dedupChain) && sizes == Seq(400L, 800L))
  }

  test("an unknown mode fails naming every known mode") {
    val e = intercept[IllegalArgumentException](BenchScale.select(Seq("grpah", "1000")))
    assert(e.getMessage.contains("'grpah'"))
    BenchScale.ladders.keys.foreach(mode => assert(e.getMessage.contains(mode), mode))
  }

  test("default sizes per mode are the published receipts' rungs") {
    val m = 1000000L
    val want = Map(
      "ann" -> Seq(20000L, 100000L, 500000L),
      "mm" -> Seq(10000L, 50000L),
      "ivfpq" -> Seq(2000000L, 5000000L),
      "pq" -> Seq(100000L, 500000L, 2000000L),
      "semdedup" -> Seq(500000L, m, 2000000L),
      "graph" -> Seq(m, 4 * m, 16 * m),
      "lpa" -> Seq(m, 4 * m, 16 * m),
      "tpch" -> Seq(600000L, 6000000L, 24000000L),
      "bpe" -> Seq(100000L, 400000L, 1600000L),
      "shingle" -> Seq(100000L, 400000L, 1600000L),
      "sigstore" -> Seq(100000L, 400000L, 1600000L),
      "zorder" -> Seq(m, 4 * m, 16 * m),
      "zorder3" -> Seq(4 * m, 16 * m, 64 * m),
      "compaction" -> Seq(4 * m, 16 * m, 64 * m),
      "modularity" -> Seq(m, 4 * m, 16 * m),
      "tri" -> Seq(m, 4 * m, 16 * m),
      "kcore" -> Seq(m, 4 * m, 16 * m),
      "ts" -> Seq(1048576L, 4194304L, 16777216L),
      "events" -> Seq(1048576L, 4194304L, 16777216L),
      "linkpred" -> Seq(m, 4 * m),
      "linkpredskew" -> Seq(m, 4 * m),
      "backoff" -> Seq(100000L, 400000L, 1600000L))
    assert(BenchScale.ladders.map { case (k, l) => k -> l.sizes } == want)
    assert(BenchScale.dedupChain.sizes == Seq(5000L, 10000L, 20000L, 50000L))
  }

  test("fitExponent recovers the power of a synthetic power law") {
    val xs = Seq(1000L, 4000L, 16000L, 64000L)
    Seq(1.0, 1.5).foreach { p =>
      val fit = BenchScale.fitExponent(xs.map(x => x -> 0.003 * math.pow(x.toDouble, p)))
      assert(math.abs(fit - p) < 1e-9, s"want $p, got $fit")
    }
  }

  test("measure reports the max task of its own block, not the previous one's") {
    val sc = spark.sparkContext
    // holds the bus on the slow task's end event, so the meter (behind
    // it on the same queue) sees that event only after the slow block
    // has returned
    val stall = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null && te.taskInfo.duration >= 1000) Thread.sleep(1500)
    }
    sc.addSparkListener(stall)
    val meter = TaskMeter.attach(spark)
    try {
      val slow = meter.measure(sc.parallelize(1 to 4, 4)
        .map { i => if (i == 1) Thread.sleep(1200); i }.count())
      val fast = meter.measure(sc.parallelize(1 to 4, 4).count())
      assert(slow.value == 4 && fast.value == 4)
      assert(slow.maxTaskSec >= 1.2, s"slow block read max task ${slow.maxTaskSec}")
      assert(fast.maxTaskSec < 1.0, s"fast block read max task ${fast.maxTaskSec}")
    } finally {
      sc.removeSparkListener(meter)
      sc.removeSparkListener(stall)
    }
  }

  test("the mm ladder runs through the table and prints its mm_scale line") {
    val meter = TaskMeter.attach(spark)
    val out = new java.io.ByteArrayOutputStream()
    try Console.withOut(out) {
      BenchScale.ladders("mm").run(spark, meter, Seq(20L, 40L), Nil)
    } finally spark.sparkContext.removeSparkListener(meter)
    val lines = out.toString("UTF-8").linesIterator.filter(_.contains("\"metric\"")).toSeq
    assert(lines.size == 1 && lines.head.startsWith("""{"metric":"mm_scale","rungs":["""),
      lines.mkString("\n"))
    val line = lines.head
    Seq("png_sec", "png_docs_per_sec", "gif_sec", "phash_sec", "phash_docs_per_sec",
        "png_max_task_sec", "gif_max_task_sec", "phash_max_task_sec")
      .foreach(f => assert(line.contains(s""""$f":"""), f))
    // three animated frames per generated doc
    assert(line.contains(""""n_docs":20,""") && line.contains(""""frames":60,"""))
    assert(line.contains(""""n_docs":40,""") && line.contains(""""frames":120,"""))
  }
}
