package graft.tools

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.SparkSpec

/** The z-order layout's data-skipping receipt, both halves:
  * (1) deterministic — per-file min/max envelopes of the NON-LEADING
  * column intersect a box predicate in far fewer z-layout files than
  * linear-layout files; (2) executed — the same filtered scan
  * materializes far fewer records from the z layout (parquet
  * row-group stats pruning via the pushed predicate). Plus write-path
  * contracts: rows preserved exactly, rangeBucket domain violations
  * raise.
  */
class ZOrderLayoutSpec extends SparkSpec {
  import spark.implicits._

  // 64k rows, coordinates deterministic md5-derived uniforms in
  // [0, 256) — the 2-D corpus a (leading-column-only) linear sort
  // cannot cluster on y
  private lazy val corpus: DataFrame =
    spark.range(65536).select(col("id"),
      (conv(substring(md5(concat(lit("zx_"), col("id"))), 1, 6), 16, 10)
        .cast("long") % 256).as("x"),
      (conv(substring(md5(concat(lit("zy_"), col("id"))), 1, 6), 16, 10)
        .cast("long") % 256).as("y"))

  private def writeLinear(df: DataFrame, path: String, files: Int): Unit =
    df.repartitionByRange(files, col("x"))
      .sortWithinPartitions("x")
      .write.mode("overwrite").parquet(path)

  /** Files whose [min, max] envelope of `c` intersects [lo, hi]. */
  private def intersectingFiles(path: String, c: String, lo: Long, hi: Long): (Long, Long) = {
    val stats = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
      .agg(count(lit(1)).as("total"),
        sum(when(col("mx") >= lo && col("mn") <= hi, 1L).otherwise(0L)).as("hit"))
      .as[(Long, Long)].head()
    stats
  }

  private def recordsReadOf(action: => Unit): Long = {
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          records.addAndGet(t.taskMetrics.inputMetrics.recordsRead): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      // drain the async listener bus before reading the counter
      var tries = 0
      var last = -1L
      while (tries < 50 && records.get() != last) {
        last = records.get(); Thread.sleep(100); tries += 1
      }
      records.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("box scan on the non-leading column prunes z-layout files, not linear ones") {
    val base = Files.createTempDirectory("graft-zorder").toFile.getAbsolutePath
    val zPath = s"$base/z"
    val linPath = s"$base/linear"
    ZOrderLayout.write(corpus, zPath, Seq(col("x"), col("y")), bits = 8, numFiles = 16)
    writeLinear(corpus, linPath, files = 16)

    // rows survive the layout exactly (same multiset)
    assert(spark.read.parquet(zPath).count() == 65536L)
    assert(spark.read.parquet(zPath).agg(sum("id"), sum("x"), sum("y"))
      .as[(Long, Long, Long)].head() ==
      corpus.agg(sum("id"), sum("x"), sum("y")).as[(Long, Long, Long)].head())

    // deterministic footer-envelope half: y in [8, 15] (a 1/32 band).
    // 16 z-files cover the 2-level curve so a y-band intersects only
    // the files whose cells touch it; every linear file spans all of y.
    val (zTotal, zHit) = intersectingFiles(zPath, "y", 8, 15)
    val (lTotal, lHit) = intersectingFiles(linPath, "y", 8, 15)
    assert(lTotal >= 12, s"unexpected linear file count $lTotal")
    assert(lHit == lTotal, s"linear layout should be unprunable on y, hit=$lHit/$lTotal")
    // the z layout's cut points are exact counts of the corpus: the
    // same 16 files, and the same 6 of them intersecting the band, in
    // any suite order
    assert((zHit, zTotal) == (6L, 16L),
      s"z layout should prune most files on y, hit=$zHit/$zTotal")

    // executed half: the same pushed box predicate materializes far
    // fewer records from the z layout (row-group stats pruning)
    val want = corpus.filter(col("y") >= 8 && col("y") <= 15).count()
    var zCount = 0L
    var lCount = 0L
    val zRead = recordsReadOf {
      zCount = spark.read.parquet(zPath).filter(col("y") >= 8 && col("y") <= 15).count()
    }
    val lRead = recordsReadOf {
      lCount = spark.read.parquet(linPath).filter(col("y") >= 8 && col("y") <= 15).count()
    }
    assert(zCount == want && lCount == want)
    assert(lRead >= 65536L * 9 / 10,
      s"linear layout should read ~everything for a y-band, read=$lRead")
    assert(zRead <= lRead / 2,
      s"z layout should read at most half the linear scan, z=$zRead linear=$lRead")
  }

  test("hilbert curve layout prunes the same band scan at least as well") {
    val base = Files.createTempDirectory("graft-hilbert").toFile.getAbsolutePath
    ZOrderLayout.write(corpus, s"$base/h", Seq(col("x"), col("y")),
      bits = 8, numFiles = 16, curve = "hilbert")
    assert(spark.read.parquet(s"$base/h").count() == 65536L)
    val (hTotal, hHit) = intersectingFiles(s"$base/h", "y", 8, 15)
    assert((hHit, hTotal) == (4L, 16L),
      s"hilbert layout should prune most files on y, hit=$hHit/$hTotal")
    // k >= 3 hilbert routes to the Skilling expression since r12
    // (HilbertIndexKSpec carries its bijection/continuity receipts);
    // unknown curves still refused loudly
    import spark.implicits._
    val k3 = Seq((1L, 2L, 3L)).toDF("x", "y", "id")
      .select(ZOrderLayout.curveKey(Seq(col("x"), col("y"), col("id")), 8, "hilbert").as("d"))
      .as[Long].head()
    assert(k3 >= 0L && k3 < (1L << 24))
    val ex2 = intercept[IllegalArgumentException] {
      ZOrderLayout.curveKey(Seq(col("x"), col("y")), 8, "peano")
    }
    assert(ex2.getMessage.contains("unknown curve"))
  }

  test("written layouts carry a curve-family tag; mismatched readers refuse") {
    // the SignatureStore.Family pattern applied to layouts (VERDICT
    // r12 #4): the k=2 classical Hilbert loop and the Skilling kernel
    // are both valid curves but not bit-equal — a curve-key reader
    // pruning ranges against the wrong family reads the WRONG files
    // with no error, so the tag turns that into a loud raise (and an
    // UNTAGGED layout refuses too: it is indistinguishable from a
    // foreign one)
    val base = Files.createTempDirectory("graft-curvetag").toFile.getAbsolutePath
    val small = corpus.limit(1000)
    ZOrderLayout.write(small, s"$base/m", Seq(col("x"), col("y")),
      bits = 8, numFiles = 2)
    ZOrderLayout.write(small, s"$base/h", Seq(col("x"), col("y")),
      bits = 8, numFiles = 2, curve = "hilbert")
    assert(ZOrderLayout.readFamily(s"$base/m").contains("morton-v1-k2-b8"))
    assert(ZOrderLayout.readFamily(s"$base/h").contains("hilbert-classic-v1-k2-b8"))
    // matching reader passes
    ZOrderLayout.requireFamily(s"$base/m", 2, 8, "morton")
    ZOrderLayout.requireFamily(s"$base/h", 2, 8, "hilbert")
    // cross-curve, cross-bits and cross-k readers refuse
    for ((k, b, c) <- Seq((2, 8, "hilbert"), (2, 4, "morton"), (3, 8, "morton"))) {
      val ex = intercept[IllegalArgumentException] {
        ZOrderLayout.requireFamily(s"$base/m", k, b, c)
      }
      assert(ex.getMessage.contains("curve family"), ex.getMessage)
    }
    // k >= 3 hilbert tags the Skilling family, distinct from k = 2
    ZOrderLayout.write(small.withColumn("id2", col("x")), s"$base/h3",
      Seq(col("x"), col("y"), col("id2")), bits = 8, numFiles = 2,
      curve = "hilbert")
    assert(ZOrderLayout.readFamily(s"$base/h3").contains("hilbert-skilling-v1-k3-b8"))
    // an untagged (pre-tag / foreign) layout refuses
    small.write.parquet(s"$base/untagged")
    val exNone = intercept[IllegalArgumentException] {
      ZOrderLayout.requireFamily(s"$base/untagged", 2, 8, "morton")
    }
    assert(exNone.getMessage.contains("no curve-family tag"))
  }

  test("rangeBucket: linear cells, max lands in top cell, out-of-domain raises") {
    val got = Seq(0.0, 0.49, 0.5, 0.99, 1.0).toDF("v")
      .select(ZOrderLayout.rangeBucket(col("v"), 0.0, 1.0, bits = 1).as("b"))
      .as[Long].collect().toSeq
    assert(got == Seq(0L, 0L, 1L, 1L, 1L))
    val ex = intercept[Exception] {
      Seq(1.5).toDF("v")
        .select(ZOrderLayout.rangeBucket(col("v"), 0.0, 1.0, bits = 4)).collect()
    }
    assert(ex.getMessage.contains("rangeBucket") ||
      Option(ex.getCause).exists(_.getMessage.contains("rangeBucket")))
    // null passes through as null (no curve position)
    val n = Seq(Option.empty[java.lang.Double]).toDF("v")
      .select(ZOrderLayout.rangeBucket(col("v"), 0.0, 1.0, 4)).collect()
    assert(n.head.isNullAt(0))
    // NaN raises instead of silently landing in the top cell (it
    // slides past both range comparisons and least() sorts it greatest)
    val exNan = intercept[Exception] {
      Seq(Double.NaN).toDF("v")
        .select(ZOrderLayout.rangeBucket(col("v"), 0.0, 1.0, bits = 4)).collect()
    }
    assert(exNan.getMessage.contains("rangeBucket") ||
      Option(exNan.getCause).exists(_.getMessage.contains("rangeBucket")))
  }
}
