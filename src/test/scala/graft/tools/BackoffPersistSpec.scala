package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.Tables
import graft.operators.TextAnalysis
import graft.queries.ExtensionCatalog
import graft.streaming.SparkSpec

/** Written backoff n-gram model (the IndexStore discipline applied to
  * the LM gate): BackoffStore's tables are an exact-integer
  * round-trip of in-session training, and the catalog's ta_backoff
  * scores against the WRITTEN model when one exists (input-file
  * witness) with identical rows. A fresh data dir guarantees no
  * pre-existing model, so the written branch is the one under test. */
class BackoffPersistSpec extends SparkSpec {

  test("ta_backoff scores against the written model, equal to in-session") {
    val tmp = Files.createTempDirectory("graft-lm-spec")
    sys.props("graft.index.dir") = tmp.resolve("idxroot").toString
    try {
      val dataDir = tmp.resolve("data").toString
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").coalesce(1)
        .write.parquet(s"$dataDir/documents.parquet")
      val docs = Tables.documents(spark, dataDir)

      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet

      // in-session reference BEFORE any model exists
      val fresh = rowsOf(ExtensionCatalog.taBackoff(spark, dataDir))
      assert(fresh.nonEmpty)

      val p = BackoffStore.path(dataDir,
        ArtifactStore.dataFingerprint(dataDir, "documents"))
      assert(!BackoffStore.ready(p), "model must not pre-exist")
      BackoffStore.write(spark,
        docs.filter(col("doc_id") % 2 === 0), p)
      assert(BackoffStore.ready(p), "ready marker missing after write")

      // model tables round-trip as exact integers
      val m = BackoffStore.read(spark, p)
      val live = TextAnalysis.trainBackoff(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
      assert(rowsOf(m.u1) == rowsOf(live.u1))
      assert(rowsOf(m.total) == rowsOf(live.total))

      // the catalog probe reads the WRITTEN tables (file witness)
      // and scores identically
      val viaStore = ExtensionCatalog.taBackoff(spark, dataDir)
      assert(viaStore.inputFiles.mkString("\n").contains("lm_trigrams.parquet"),
        "ta_backoff did not read the written model")
      assert(rowsOf(viaStore) == fresh,
        "written-model scores diverged from in-session scores")
    } finally {
      sys.props.remove("graft.index.dir")
    }
  }
}
