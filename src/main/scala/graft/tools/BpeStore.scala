package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Written BPE merge-table store — the [[IndexStore]] discipline
  * applied to the tokenizer: at corpus scale a learned merge table is
  * trained ONCE (hours over the histogram for a production-sized
  * vocabulary) and then applied by every ingest/encode job for months,
  * so it must outlive the driver as a TABLE keyed by a fingerprint of
  * the source data, not session memory. The session memo in
  * [[graft.queries.ExtensionCatalog]] stays as the cache in front:
  * probe order is memo → written table → in-session induction.
  *
  * Layout under `path(dir, fingerprint)`:
  *   bpe_merges.parquet  (rank, lhs, rhs, pair_count) — numMerges rows
  *   _GRAFT_BPE_READY    — atomic publish marker, written LAST
  *
  * Training is the same deterministic [[graft.operators.Bpe]]
  * induction the catalog runs, so a written table is bit-identical to
  * an in-session one and the DuckDB oracle contract is unchanged
  * (BpePersistSpec pins the round trip). */
object BpeStore {

  /** One directory per (source dir, data fingerprint) — data changing
    * under the same path gets a NEW table, never stale merges. */
  def path(dir: String, fingerprint: String): String =
    ArtifactStore.path("bpe_", dir, fingerprint)

  private val ReadyMarker = "_GRAFT_BPE_READY"

  def ready(p: String): Boolean = ArtifactStore.ready(p, ReadyMarker)

  /** Learn and publish the merge table for a document corpus. */
  def write(spark: SparkSession, docs: DataFrame, p: String,
            numMerges: Int = 50): Unit = {
    graft.operators.Bpe.learnMerges(docs, "text", numMerges)
      .coalesce(1).write.mode("overwrite").parquet(s"$p/bpe_merges.parquet")
    ArtifactStore.publish(p, ReadyMarker)
  }

  /** The written table with its schema DECLARED (the ArtifactStore
    * discipline: no inference surprises on an empty or reordered
    * file). numMerges rows — tiny; consumers that replay it
    * ([[graft.operators.Bpe.segment]]) collect it by contract. */
  def read(spark: SparkSession, p: String): DataFrame = {
    import org.apache.spark.sql.types._
    ArtifactStore.readTable(spark, p, "bpe_merges",
      "rank" -> LongType, "lhs" -> StringType, "rhs" -> StringType,
      "pair_count" -> LongType)
  }
}
