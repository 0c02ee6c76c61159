package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Dedup
import graft.streaming.SparkSpec

/** Written LSH signature index round trip ([[SignatureStore]]): a
  * probe against the PUBLISHED store must collide exactly where the
  * in-session banded join does; a query stream served through
  * probeStream must equal the batch probe at any micro-batch slicing;
  * the hot-bucket cap retains the deterministic id-smallest members
  * with dup-FLAG recall intact and the dropped count reported.
  */
class SigPersistSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def newStoreDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_sig_$tag").toString + "/sig"

  test("probe against the written store == in-session banded join (sf0.001 split)") {
    val docs = graft.Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val queries = docs.filter(col("doc_id") % 2 === 1)

    val p = newStoreDir("rt")
    SignatureStore.write(spark, corpus, p)
    assert(SignatureStore.ready(p))
    assert(SignatureStore.meta(spark, p) == ((4, 8, 2048)))

    val got = SignatureStore.probe(spark, p, queries)
      .as[(Long, Long)].collect().toSet
    val want = Dedup.bandedBuckets(
        Dedup.minHashSignatures(queries, "text", "doc_id", 32), 4, 8)
      .join(Dedup.bandedBuckets(
          Dedup.minHashSignatures(corpus, "text", "doc_id", 32), 4, 8)
        .select(col("band"), col("bucket"), col("doc_id").as("corpus_id")),
        Seq("band", "bucket"))
      .select(col("doc_id"), col("corpus_id"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(got == want, s"store probe ${got.size} pairs, in-session ${want.size}")

    // flags: every query row present, is_dup consistent with pairs,
    // dup_of the id-smallest match
    val flags = SignatureStore.probeFlags(spark, p, queries)
      .as[(Long, Option[Long], Long, Boolean)].collect()
    assert(flags.length == queries.count())
    val byQuery = want.groupBy(_._1)
    flags.foreach { case (q, dupOf, n, isDup) =>
      byQuery.get(q) match {
        case Some(ms) =>
          assert(isDup && n == ms.size && dupOf.contains(ms.map(_._2).min),
            s"query $q flags ($dupOf, $n, $isDup) vs matches $ms")
        case None => assert(!isDup && n == 0 && dupOf.isEmpty, s"query $q not clean")
      }
    }
  }

  test("probeStream == batch probe across uneven micro-batches") {
    val docs = graft.Tables.documents(spark, sfDir)
    val p = newStoreDir("stream")
    SignatureStore.write(spark, docs.filter(col("doc_id") % 2 === 0), p)

    val queries = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    assert(queries.size > 20, "fixture too small for a slicing test")
    val want = SignatureStore.probe(spark, p,
      queries.toDF("doc_id", "text")).as[(Long, Long)].collect().toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = SignatureStore.probeStream(spark, p,
        in.toDF().toDF("doc_id", "text")) { res =>
      got ++= res.as[(Long, Long)].collect()
    }
    try {
      in.addData(queries.take(5))
      q.processAllAvailable()
      in.addData(queries.slice(5, 21))
      q.processAllAvailable()
      in.addData(queries.drop(21))
      q.processAllAvailable()
    } finally q.stop()
    assert(got.size == got.toSet.size, "per-batch probes must not duplicate pairs")
    assert(got.toSet == want, s"stream ${got.size} pairs, batch ${want.size}")
  }

  test("hot-bucket cap: id-smallest retained, dup-flag recall exact, dropped counted") {
    // 5 identical template docs (one saturated bucket per band) + one
    // distinct doc; cap 2 keeps ids 10,11 per bucket
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta"),
      (12L, "alpha beta gamma delta epsilon zeta eta theta"),
      (13L, "alpha beta gamma delta epsilon zeta eta theta"),
      (14L, "alpha beta gamma delta epsilon zeta eta theta"),
      (20L, "totally different words nothing shared here at all"))
      .toDF("doc_id", "text")
    val p = newStoreDir("cap")
    SignatureStore.write(spark, corpus, p, maxBucket = 2)

    // 4 bands × (5 - 2) template members dropped
    assert(SignatureStore.droppedMembers(spark, p) == 12L)
    val retained = SignatureStore.buckets(spark, p)
      .filter(col("n") === 5).select("corpus_id")
      .distinct().as[Long].collect().toSet
    assert(retained == Set(10L, 11L), s"cap must keep id-smallest, got $retained")

    // a probing template twin still flags as dup (recall exact), with
    // pairs truncated to the retained members
    val probe = SignatureStore.probe(spark, p,
      Seq((99L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text")).as[(Long, Long)].collect().toSet
    assert(probe == Set((99L, 10L), (99L, 11L)))
    val flags = SignatureStore.probeFlags(spark, p,
      Seq((99L, "alpha beta gamma delta epsilon zeta eta theta"),
        (100L, "unrelated fresh clean content entirely new"))
        .toDF("doc_id", "text"))
      .as[(Long, Option[Long], Long, Boolean)].collect().toMap2
    assert(flags(99L) == ((Some(10L), 2L, true)))
    assert(flags(100L) == ((None, 0L, false)))
  }

  test("ddLshProbe builds + publishes the written store on first use, then probes it") {
    // the benched shape IS the production shape (VERDICT r12 #1): the
    // catalog's first probe per data fingerprint writes the store;
    // every later probe — including every bench run past the first —
    // reads the PUBLISHED bucket table, and the result equals the
    // uncapped in-session banded join (the oracle twin) exactly
    val tmp = java.nio.file.Files.createTempDirectory("graft_sig_catalog")
    sys.props("graft.index.dir") = tmp.resolve("root").toString
    try {
      // corpus copy under a fresh dir → fresh fingerprint, no
      // pre-existing store (the IndexPersistSpec discipline)
      val dataDir = tmp.resolve("data").toString
      spark.read.parquet(s"$sfDir/documents.parquet").coalesce(1)
        .write.parquet(s"$dataDir/documents.parquet")
      val p = SignatureStore.path(dataDir,
        ArtifactStore.dataFingerprint(dataDir, "documents"))
      assert(!SignatureStore.ready(p))
      val first = graft.queries.ExtensionCatalog.ddLshProbe(spark, dataDir)
        .as[(Long, Long)].collect().toSet
      assert(SignatureStore.ready(p),
        "first catalog probe must build and publish the store")
      // the fixture corpus stays under the hot-bucket cap — the
      // condition under which the capped store equals the twin
      assert(SignatureStore.droppedMembers(spark, p) == 0L)
      val second = graft.queries.ExtensionCatalog.ddLshProbe(spark, dataDir)
        .as[(Long, Long)].collect().toSet
      assert(second == first,
        s"store-backed re-probe diverged: ${second.size} vs ${first.size} pairs")
      val docs = graft.Tables.documents(spark, dataDir)
      val want = Dedup.bandedBuckets(
          Dedup.minHashSignatures(docs.filter(col("doc_id") % 2 === 1),
            "text", "doc_id", 32), 4, 8)
        .join(Dedup.bandedBuckets(
            Dedup.minHashSignatures(docs.filter(col("doc_id") % 2 === 0),
              "text", "doc_id", 32), 4, 8)
          .select(col("band"), col("bucket"), col("doc_id").as("corpus_id")),
          Seq("band", "bucket"))
        .select(col("doc_id"), col("corpus_id"))
        .distinct().as[(Long, Long)].collect().toSet
      assert(first == want,
        s"store-backed probe ${first.size} pairs, in-session twin ${want.size}")
    } finally {
      sys.props.remove("graft.index.dir"): Unit
    }
  }

  test("probeStream against a foreign-family store refuses before starting") {
    // the stream twin of the batch family pin (VERDICT r12 Next #7):
    // a stream wired to a store WRITTEN pre-hash-migration must fail
    // loudly at probeStream itself — never start, never silently
    // collide nowhere
    val p = newStoreDir("family_stream")
    SignatureStore.write(spark,
      Seq((1L, "some corpus text here")).toDF("doc_id", "text"), p)
    Seq((4, 8, 2048, "mh31-legacy"))
      .toDF("bands", "rows_per_band", "max_bucket", "family")
      .coalesce(1).write.mode("overwrite").parquet(s"$p/sig_meta.parquet")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val ex = intercept[IllegalArgumentException] {
      SignatureStore.probeStream(spark, p,
        in.toDF().toDF("doc_id", "text")) { _ => () }
    }
    assert(ex.getMessage.contains("family"))
  }

  test("merge(base, delta) == full rebuild, including across a capped bucket") {
    // base: 5-copy template (over cap 2) + a distinct doc; delta: one
    // more template copy (id ABOVE the kept pair — must not displace),
    // one template copy with a SMALLER id (must displace a kept
    // member under the id-smallest rule), one fresh doc
    val tpl = "alpha beta gamma delta epsilon zeta eta theta"
    val baseDocs = Seq(
      (10L, tpl), (11L, tpl), (12L, tpl), (13L, tpl), (14L, tpl),
      (20L, "totally different words nothing shared here at all"))
      .toDF("doc_id", "text")
    val deltaDocs = Seq(
      (99L, tpl), (5L, tpl),
      (30L, "brand new crawl content with its own tokens"))
      .toDF("doc_id", "text")

    val pBase = newStoreDir("mrg_base")
    val pMerged = newStoreDir("mrg_out")
    val pFull = newStoreDir("mrg_full")
    SignatureStore.write(spark, baseDocs, pBase, maxBucket = 2)
    SignatureStore.merge(spark, pBase, deltaDocs, pMerged)
    SignatureStore.write(spark, baseDocs.unionAll(deltaDocs), pFull, maxBucket = 2)

    assert(SignatureStore.meta(spark, pMerged) == SignatureStore.meta(spark, pFull))
    def rows(p: String) = SignatureStore.buckets(spark, p)
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(rows(pMerged) == rows(pFull),
      s"merged table diverged from rebuild:\n merged=${rows(pMerged)}\n full=${rows(pFull)}")
    // the displaced cap slot: template bucket keeps {5, 10} now
    val kept = SignatureStore.buckets(spark, pMerged)
      .filter(col("n") === 7).select("corpus_id").distinct()
      .as[Long].collect().toSet
    assert(kept == Set(5L, 10L), s"cap must keep id-smallest after merge, got $kept")
    // probes through both stores agree
    val q = Seq((1000L, tpl)).toDF("doc_id", "text")
    assert(SignatureStore.probe(spark, pMerged, q).as[(Long, Long)].collect().toSet ==
      SignatureStore.probe(spark, pFull, q).as[(Long, Long)].collect().toSet)
    // merging onto the base path itself is refused (publish-last)
    val ex = intercept[IllegalArgumentException] {
      SignatureStore.merge(spark, pBase, deltaDocs, pBase)
    }
    assert(ex.getMessage.contains("new version"))
    // r11 ADVICE: a delta that re-ingests a RETAINED base id is refused
    // before anything is written (partial guard — disjointness is the
    // CDC contract; this catches the retained-set violations cheaply)
    val exDup = intercept[IllegalArgumentException] {
      SignatureStore.merge(spark, pBase,
        Seq((20L, "totally different words nothing shared here at all"))
          .toDF("doc_id", "text"),
        newStoreDir("mrg_dup"))
    }
    assert(exDup.getMessage.contains("intersect the base's retained corpus"))
  }

  test("a store written under a foreign algorithm family refuses to serve probes") {
    // bucket values are a function of tokenizer + hash family +
    // banding: a cross-family probe collides NOWHERE and would
    // silently flag nothing — the meta check turns that into a raise
    // (the path already embeds Family, so catalog callers simply
    // never SEE a stale store; this guards explicitly-pathed reads)
    val p = newStoreDir("family")
    SignatureStore.write(spark,
      Seq((1L, "some corpus text here")).toDF("doc_id", "text"), p)
    Seq((4, 8, 2048, "mh31-legacy"))
      .toDF("bands", "rows_per_band", "max_bucket", "family")
      .coalesce(1).write.mode("overwrite").parquet(s"$p/sig_meta.parquet")
    val ex = intercept[IllegalArgumentException] {
      SignatureStore.probe(spark, p,
        Seq((2L, "anything")).toDF("doc_id", "text")).collect()
    }
    assert(ex.getMessage.contains("family"))
  }

  test("probe without a published store fails loudly") {
    val ex = intercept[IllegalArgumentException] {
      SignatureStore.probe(spark, newStoreDir("missing"),
        Seq((1L, "x")).toDF("doc_id", "text"))
    }
    assert(ex.getMessage.contains("no ready signature index"))
  }

  private implicit class RowsOps(rows: Array[(Long, Option[Long], Long, Boolean)]) {
    def toMap2: Map[Long, (Option[Long], Long, Boolean)] =
      rows.map { case (q, d, n, f) => (q, (d, n, f)) }.toMap
  }
}
