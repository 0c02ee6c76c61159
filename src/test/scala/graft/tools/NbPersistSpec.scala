package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.Tables
import graft.operators.TextAnalysis
import graft.queries.ExtensionCatalog
import graft.streaming.SparkSpec

/** Written NB classifier model (the IndexStore discipline applied to
  * the classifier gate): NbStore's tables are an exact-integer
  * round-trip of in-session training, and the catalog's ta_nbayes
  * classifies against the WRITTEN model when one exists (input-file
  * witness) with identical rows. A fresh data dir guarantees no
  * pre-existing model, so the written branch is the one under test. */
class NbPersistSpec extends SparkSpec {

  test("ta_nbayes classifies against the written model, equal to in-session") {
    val tmp = Files.createTempDirectory("graft-nb-spec")
    sys.props("graft.index.dir") = tmp.resolve("idxroot").toString
    try {
      val dataDir = tmp.resolve("data").toString
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").coalesce(1)
        .write.parquet(s"$dataDir/documents.parquet")
      val docs = Tables.documents(spark, dataDir)

      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet

      // in-session reference BEFORE any model exists
      val fresh = rowsOf(ExtensionCatalog.taNbayes(spark, dataDir))
      assert(fresh.nonEmpty)

      val p = NbStore.path(dataDir,
        ArtifactStore.dataFingerprint(dataDir, "documents"))
      assert(!NbStore.ready(p), "model must not pre-exist")
      NbStore.write(spark, docs.filter(col("doc_id") % 2 === 0), p)
      assert(NbStore.ready(p), "ready marker missing after write")

      // the bounded model constants and the vocab table round-trip
      // exactly
      val m = NbStore.read(spark, p)
      val live = TextAnalysis.trainNaiveBayes(
        docs.filter(col("doc_id") % 2 === 0), "text", "lang", "doc_id")
      assert(m.labels == live.labels)
      assert(m.priorMicro == live.priorMicro)
      assert(m.defaultMicro == live.defaultMicro)
      assert(rowsOf(m.condWide) == rowsOf(live.condWide))

      // the catalog probe reads the WRITTEN tables (file witness)
      // and classifies identically
      val viaStore = ExtensionCatalog.taNbayes(spark, dataDir)
      assert(viaStore.inputFiles.mkString("\n").contains("nb_cond.parquet"),
        "ta_nbayes did not read the written model")
      assert(rowsOf(viaStore) == fresh,
        "written-model predictions diverged from in-session")
    } finally {
      sys.props.remove("graft.index.dir")
    }
  }
}
