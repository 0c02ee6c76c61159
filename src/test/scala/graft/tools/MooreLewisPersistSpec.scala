package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.Tables
import graft.queries.ExtensionCatalog
import graft.streaming.SparkSpec

/** Moore-Lewis on written models: the selector's two LMs persist
  * through the SAME BackoffStore under split-suffixed fingerprints —
  * the ArtifactStore extraction's claim that the next learned-artifact
  * operator needs zero new store code. A fresh data dir guarantees no
  * pre-existing models; the written branch must score identically to
  * in-session training. */
class MooreLewisPersistSpec extends SparkSpec {

  test("ta_moorelewis scores against two written models, equal to in-session") {
    val tmp = Files.createTempDirectory("graft-ml-spec")
    sys.props("graft.index.dir") = tmp.resolve("idxroot").toString
    try {
      val dataDir = tmp.resolve("data").toString
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").coalesce(1)
        .write.parquet(s"$dataDir/documents.parquet")
      val docs = Tables.documents(spark, dataDir)

      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet

      // in-session reference BEFORE any model exists
      val fresh = rowsOf(ExtensionCatalog.taMooreLewis(spark, dataDir))
      assert(fresh.nonEmpty)
      // the flag must discriminate, not rubber-stamp: both outcomes occur
      val flags = fresh.map(_.last.asInstanceOf[Long])
      assert(flags == Set(0L, 1L), s"selected flag degenerate: $flags")

      val fp = ArtifactStore.dataFingerprint(dataDir, "documents")
      val pIn = BackoffStore.path(dataDir, fp + "|ml_in")
      val pGen = BackoffStore.path(dataDir, fp + "|ml_gen")
      assert(!BackoffStore.ready(pIn) && !BackoffStore.ready(pGen))
      BackoffStore.write(spark, docs.filter(col("doc_id") % 4 === 0), pIn)
      BackoffStore.write(spark, docs.filter(col("doc_id") % 4 === 2), pGen)
      assert(BackoffStore.ready(pIn) && BackoffStore.ready(pGen))

      // the catalog probe reads BOTH written models (file witness)
      // and selects identically
      val viaStore = ExtensionCatalog.taMooreLewis(spark, dataDir)
      val files = viaStore.inputFiles.mkString("\n")
      assert(files.contains(pIn) && files.contains(pGen),
        "ta_moorelewis did not read both written models")
      assert(rowsOf(viaStore) == fresh,
        "written-model selection diverged from in-session")
    } finally {
      sys.props.remove("graft.index.dir")
    }
  }
}
