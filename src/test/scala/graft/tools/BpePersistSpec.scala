package graft.tools

import java.nio.file.Files

import graft.Tables
import graft.operators.Bpe
import graft.queries.ExtensionCatalog
import graft.streaming.SparkSpec

/** Written BPE merge table (the IndexStore discipline applied to the
  * tokenizer): BpeStore's table is a bit-faithful round-trip of the
  * in-session induction, and the catalog's ta_bpe reads the WRITTEN
  * table when one exists (input-file witness) with identical rows.
  * A fresh data dir guarantees the memo misses, so the written-table
  * branch is the one under test. */
class BpePersistSpec extends SparkSpec {

  test("ta_bpe reads the written merge table and matches in-session induction") {
    val tmp = Files.createTempDirectory("graft-bpe-spec")
    sys.props("graft.index.dir") = tmp.resolve("idxroot").toString
    try {
      val dataDir = tmp.resolve("data").toString
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").coalesce(1)
        .write.parquet(s"$dataDir/documents.parquet")
      val docs = Tables.documents(spark, dataDir)
      val p = BpeStore.path(dataDir, ArtifactStore.dataFingerprint(dataDir, "documents"))
      assert(!BpeStore.ready(p), "merge table must not pre-exist")
      BpeStore.write(spark, docs, p)
      assert(BpeStore.ready(p), "ready marker missing after write")

      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("rank").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

      // round-trip exactness vs fresh induction
      val fresh = rowsOf(Bpe.learnMerges(docs, "text", numMerges = 50))
      assert(rowsOf(BpeStore.read(spark, p)) == fresh,
        "written merge table diverged from in-session induction")

      // the catalog probe reads the WRITTEN table (file witness) with
      // identical rows, and the segment path replays the same table
      val viaCatalog = ExtensionCatalog.taBpe(spark, dataDir)
      assert(viaCatalog.inputFiles.mkString("\n").contains("bpe_merges.parquet"),
        "ta_bpe did not read the written merge table")
      assert(rowsOf(viaCatalog) == fresh)
      val seg = ExtensionCatalog.taBpeSegment(spark, dataDir)
      assert(seg.count() > 0)
    } finally {
      sys.props.remove("graft.index.dir")
    }
  }
}
