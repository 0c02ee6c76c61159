package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TextAnalysis

/** Written Naive Bayes classifier store — the [[IndexStore]] /
  * [[BackoffStore]] discipline applied to the classifier gate: a
  * production corpus filter is trained ONCE on a labeled reference
  * corpus and then classifies every incoming corpus/stream, so the
  * model must outlive the driver, keyed by a fingerprint of the
  * source data. [[TextAnalysis.scoreNaiveBayes]] joins the written
  * table directly — batch or stream-static.
  *
  * Layout under `path(dir, fingerprint)`:
  *   nb_cond.parquet    (w, sArr) — per-token per-class micro-nat
  *                      surprisals, vocabulary-sized
  *   nb_labels.parquet  (lab, prior_micro, default_micro) — |C| rows
  *   _GRAFT_NB_READY    — atomic publish marker, written LAST
  *
  * The surprisals are the EXACT integers the engine-side round(1e6·
  * log(..)) produced at training time, so a written model scores
  * bit-identically to an in-session one and the DuckDB oracle
  * contract is unchanged (NbPersistSpec pins the round trip). */
object NbStore {

  def path(dir: String, fingerprint: String): String =
    ArtifactStore.path("nb_", dir, fingerprint)

  private val ReadyMarker = "_GRAFT_NB_READY"

  def ready(p: String): Boolean = ArtifactStore.ready(p, ReadyMarker)

  /** Train on `trainDocs` (the caller picks the split / reference
    * corpus and the label column) and publish the model tables. */
  def write(spark: SparkSession, trainDocs: DataFrame, p: String,
            textCol: String = "text", labelCol: String = "lang",
            idCol: String = "doc_id"): Unit = {
    val m = TextAnalysis.trainNaiveBayes(trainDocs, textCol, labelCol, idCol)
    m.condWide.write.mode("overwrite").parquet(s"$p/nb_cond.parquet")
    import spark.implicits._
    m.labels.indices.map(i => (m.labels(i), m.priorMicro(i), m.defaultMicro(i)))
      .toDF("lab", "prior_micro", "default_micro")
      .coalesce(1).write.mode("overwrite").parquet(s"$p/nb_labels.parquet")
    ArtifactStore.publish(p, ReadyMarker)
  }

  /** The written model with schemas DECLARED; the bounded label table
    * is collected (|C| rows) and re-sorted ascending — the same order
    * training produced, so sArr indices line up. */
  def read(spark: SparkSession, p: String): TextAnalysis.NbModel = {
    import org.apache.spark.sql.types._
    val labRows = ArtifactStore.readTable(spark, p, "nb_labels",
        "lab" -> StringType, "prior_micro" -> LongType,
        "default_micro" -> LongType)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val cond = ArtifactStore.readTable(spark, p, "nb_cond",
      "w" -> StringType, "sArr" -> ArrayType(LongType))
    TextAnalysis.NbModel(labRows.map(_._1).toSeq, labRows.map(_._2).toSeq,
      labRows.map(_._3).toSeq, cond)
  }
}
