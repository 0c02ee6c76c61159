package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.streaming.SparkSpec

/** The keyed folds: the batch secondary-sort fold matches the
  * sequential reference under heavy key skew with a sort-based plan (no
  * per-group materialization operator at all), and the streaming fold
  * over in-order micro-batches equals both that sequential fold and the
  * batch one.
  */
class SecondarySortSpec extends SparkSpec {
  import spark.implicits._
  import SecondarySortSpec._

  test("keyedFold matches a sequential fold under one-key-dominates skew") {
    // one hot key with 100k rows, two cold keys — the shape that OOMs
    // a groupByKey.flatMapGroups Vector buffer at scale
    val n = 100000
    val hot = (0 until n).map(i => ("hot", i.toLong, (i % 97).toDouble))
    val cold = Seq(("a", 1L, 2.0), ("a", 2L, 4.0), ("b", 5L, 9.0))
    val ds = spark.createDataset(scala.util.Random.shuffle(hot ++ cold))
    val out = RunningAggs.emaPerKey(ds).collect().toMap
    def seqEma(xs: Seq[Double]): Double =
      xs.tail.foldLeft(xs.head)((e, x) => 0.1 * x + 0.9 * e)
    assert(out.keySet == Set("hot", "a", "b"))
    assert(out("hot") == seqEma(hot.sortBy(r => (r._2, r._3)).map(_._3)))
    assert(out("a") == seqEma(Seq(2.0, 4.0)) && out("b") == 9.0)
  }

  test("emaPerKey plan is sort-based: no group-materializing operator") {
    val ds = Seq(("k", 1L, 1.0), ("k", 2L, 2.0)).toDS()
    val plan = RunningAggs.emaPerKey(ds).queryExecution.executedPlan.toString
    assert(plan.contains("Sort") && plan.contains("MapPartitions"),
      s"expected secondary-sort shape, got:\n$plan")
    assert(!plan.contains("FlatMapGroups") && !plan.contains("MapGroups"),
      s"per-group materialization operator found in:\n$plan")
  }

  test("boundary flush emissions precede the next key's rows") {
    val ds = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 1L, 5.0)).toDS()
    val sorted = ds.repartition(1).sortWithinPartitions(col("_1"), col("_2"))
    val out = SecondarySort.keyedFoldFlush(sorted)(
      _._1, () => 0.0,
      (s: Double, r: (String, Long, Double)) => (s + r._3, Seq(s"${r._1}:row")),
      (k: String, s: Double) => Seq(s"$k:flush=$s")).collect().toSeq
    assert(out == Seq("a:row", "a:row", "a:flush=3.0", "b:row", "b:flush=5.0"))
  }

  test("foldSorted keeps arrival order among rows with equal order keys") {
    val rows = Seq(("b", 1L), ("a", 0L), ("c", 1L), ("d", 0L))
    val (n, out) = SecondarySort.foldSorted(rows, (r: (String, Long)) => r._2, 0,
      (s: Int, r: (String, Long)) => (s + 1, Seq(r._1)))
    assert(n == 4 && out == Seq("a", "d", "b", "c"))
  }

  test("keyedFoldStream over 1-4 in-order micro-batches equals a sequential " +
    "fold and keyedFold, emissions and final state, ties included") {
    // order keys 0..5 over up to 40 rows make ties; batches cut on the
    // order key, so every key is in order across batches and tied rows
    // share a batch
    val genCase = for {
      n <- Gen.choose(1, 40)
      raw <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b", "c"); o <- Gen.choose(0L, 5L); v <- Gen.choose(-9L, 9L)
      } yield (k, o, v))
      cuts <- Gen.choose(0, 3).flatMap(c => Gen.listOfN(c, Gen.choose(1L, 5L)))
    } yield {
      val rows = raw.zipWithIndex.map { case ((k, o, v), i) => (k, o, i.toLong, v) }
      val bounds = (Long.MinValue +: cuts.distinct.sorted) :+ Long.MaxValue
      bounds.sliding(2).map { case Seq(lo, hi) => rows.filter(r => r._2 >= lo && r._2 < hi) }
        .filter(_.nonEmpty).toList
    }
    var run = 0
    val prop = Prop.forAll(genCase) { batches =>
      run += 1
      val arrival = batches.flatten
      val perKey = arrival.groupBy(_._1).map { case (k, rs) => k -> rs.sortBy(_._2) }
      val want = perKey.map { case (k, rs) =>
        k -> rs.foldLeft((Init, Vector.empty[Out])) { case ((s, acc), r) =>
          val (s2, o) = mix(s, r); (s2, acc ++ o)
        }
      }

      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[Row]
      val ckpt = Files.createTempDirectory("keyed-fold-stream")
      val name = s"keyed_fold_stream_$run"
      val q = SecondarySort.keyedFoldStream(in.toDS())(_._1, _._2, () => Init, mix)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ckpt.toString).start()
      try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      val streamed = spark.table(name).as[Out].collect().toVector.groupBy(_._1)
      val stored = spark.read.format("statestore").load(ckpt.toString)
        .selectExpr("key.value", "value.groupState._1", "value.groupState._2")
        .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

      // one input partition, so rows with equal keys reach the sort in
      // arrival order and the stable sort keeps it
      val sorted = spark.createDataset(spark.sparkContext.parallelize(arrival, 1))
        .repartition(col("_1")).sortWithinPartitions(col("_1"), col("_2"))
      val batch = SecondarySort.keyedFold(sorted)(_._1, () => Init, mix)
        .collect().toVector.groupBy(_._1)

      (streamed == want.map { case (k, (_, out)) => k -> out }) :| s"stream $streamed" &&
        (stored == want.map { case (k, (s, _)) => k -> s }) :| s"state $stored" &&
        (batch == streamed) :| s"batch $batch"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("flatMapGroupsWithState in src/main: only keyedFoldStream and the " +
    "five bodies that are not sorted per-row folds") {
    // each hand-rolled body gives its reason in its scaladoc
    val allowed = Vector(
      "Dedup.scala" -> "minHashLshStream",
      "Dedup.scala" -> "minHashLshStreamDeduped",
      "Katas.scala" -> "kata04",
      "SecondarySort.scala" -> "keyedFoldStream",
      "Snapshot.scala" -> "applyLogStream",
      "TimeSeries.scala" -> "resampleStream")
    val defName = """^\s*(?:(?:private|override|final)(?:\[\w+\])?\s+)*def\s+(\w+)""".r.unanchored
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toVector
    val found = files.flatMap { (f: Path) =>
      val lines = Files.readAllLines(f).asScala.toVector
      lines.indices.filter(i => lines(i).contains(".flatMapGroupsWithState")).map { i =>
        f.getFileName.toString ->
          (i to 0 by -1).map(lines).collectFirst { case defName(n) => n }.getOrElse("?")
      }
    }.sorted
    assert(found == allowed, s"call sites: $found")
  }
}

object SecondarySortSpec {
  type Row = (String, Long, Long, Long) // (key, order, id, value)
  type Out = (String, Long, Long, Long) // (key, id, rows seen, hash)
  val Init: (Long, Long) = (0L, 0L)

  /** An order-revealing step: state (rows seen, running hash), and one
    * emission per row with the row's id and the state after it. */
  def mix(s: (Long, Long), r: Row): ((Long, Long), Seq[Out]) = {
    val s2 = (s._1 + 1, s._2 * 31 + r._4)
    (s2, Seq((r._1, r._3, s2._1, s2._2)))
  }
}
