package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TextAnalysis

/** Written stupid-backoff n-gram model store — the [[IndexStore]]
  * discipline applied to the LM quality gate: a production n-gram
  * model is trained ONCE over a reference corpus (hours of n-gram
  * aggregation at 100 TB) and then scores every incoming
  * corpus/stream for months, so its tables must outlive the driver,
  * keyed by a fingerprint of the source data. The scoring half
  * ([[TextAnalysis.scoreBackoff]]) joins against these frames
  * directly — batch or stream-static.
  *
  * Layout under `path(dir, fingerprint)`:
  *   lm_unigrams.parquet   (w, c1)
  *   lm_bigrams.parquet    (p, q, c2)
  *   lm_trigrams.parquet   (w1, w2, w3, c3)
  *   lm_total.parquet      (n_total) — 1 row
  *   _GRAFT_LM_READY       — atomic publish marker, written LAST
  *
  * The tables are EXACT integer counts from the same deterministic
  * aggregation the catalog runs, so a written model scores
  * bit-identically to an in-session one and the DuckDB oracle
  * contract is unchanged (BackoffPersistSpec pins the round trip). */
object BackoffStore {

  /** One directory per (source dir, data fingerprint) — data changing
    * under the same path gets a NEW model, never stale counts. */
  def path(dir: String, fingerprint: String): String =
    ArtifactStore.path("lm_", dir, fingerprint)

  private val ReadyMarker = "_GRAFT_LM_READY"

  def ready(p: String): Boolean = ArtifactStore.ready(p, ReadyMarker)

  /** Train on `trainDocs` (the CALLER chooses the split/reference
    * corpus) and publish the four model tables. The n-gram tables are
    * written at scan parallelism (they scale with the training
    * vocabulary, unlike BPE's 50-row merge table). */
  def write(spark: SparkSession, trainDocs: DataFrame, p: String): Unit = {
    val m = TextAnalysis.trainBackoff(trainDocs, "text", "doc_id")
    m.u1.write.mode("overwrite").parquet(s"$p/lm_unigrams.parquet")
    m.b2.write.mode("overwrite").parquet(s"$p/lm_bigrams.parquet")
    m.t3.write.mode("overwrite").parquet(s"$p/lm_trigrams.parquet")
    m.total.coalesce(1).write.mode("overwrite").parquet(s"$p/lm_total.parquet")
    ArtifactStore.publish(p, ReadyMarker)
  }

  /** The written model with its schemas DECLARED (the ArtifactStore
    * discipline: no inference surprises on empty or reordered files). */
  def read(spark: SparkSession, p: String): TextAnalysis.BackoffModel = {
    import org.apache.spark.sql.types._
    def tbl(name: String, fields: (String, DataType)*): DataFrame =
      ArtifactStore.readTable(spark, p, name, fields: _*)
    TextAnalysis.BackoffModel(
      tbl("lm_unigrams", "w" -> StringType, "c1" -> LongType),
      tbl("lm_bigrams", "p" -> StringType, "q" -> StringType, "c2" -> LongType),
      tbl("lm_trigrams", "w1" -> StringType, "w2" -> StringType,
        "w3" -> StringType, "c3" -> LongType),
      tbl("lm_total", "n_total" -> LongType))
  }
}
