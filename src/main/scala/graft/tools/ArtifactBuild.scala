package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Artifact-build entry point (VERDICT r5 #4): train one learned
  * artifact once and write its fingerprint-keyed tables, so every later
  * session's catalog queries read them instead of re-training — the
  * artifact outlives the driver, which is the 100 TB serving shape.
  *
  * usage: runMain graft.tools.ArtifactBuild <index|bpe|nb|backoff> <sfDir> [outDir]
  * (outDir defaults to the store's fingerprint-derived path)
  *
  *  - `index`: the ANN index set ([[IndexStore]]) over `embeddings`;
  *    probe queries ann_ivf / ann_pq / ann_ivfpq read it.
  *  - `bpe`: the BPE merge table ([[BpeStore]]) over `documents`;
  *    ta_bpe and the segment / token-count queries read it.
  *  - `nb`: the Naive Bayes language classifier ([[NbStore]]) over the
  *    even-doc_id `documents` split; ta_nbayes reads it.
  *  - `backoff`: the stupid-backoff trigram model ([[BackoffStore]])
  *    over the even-doc_id `documents` split; ta_backoff reads it.
  *
  * The even-doc_id split is the catalog's held-out contract (a
  * production build would pass a reference corpus instead).
  */
object ArtifactBuild {

  /** One buildable artifact: the source table it fingerprints, where
    * its tables go, whether they are published, and how to write them
    * from a session and the sf dir. */
  final case class Kind(table: String, path: (String, String) => String,
                        ready: String => Boolean,
                        write: (SparkSession, String, String) => Unit)

  private def evenDocs(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 0)

  val kinds: Map[String, Kind] = Map(
    "index" -> Kind("embeddings", IndexStore.path, IndexStore.ready,
      (spark, sfDir, p) => IndexStore.writeAll(spark, graft.Tables.embeddings(spark, sfDir), p)),
    "bpe" -> Kind("documents", BpeStore.path, BpeStore.ready,
      (spark, sfDir, p) => BpeStore.write(spark, graft.Tables.documents(spark, sfDir), p)),
    "nb" -> Kind("documents", NbStore.path, NbStore.ready,
      (spark, sfDir, p) => NbStore.write(spark, evenDocs(spark, sfDir), p)),
    "backoff" -> Kind("documents", BackoffStore.path, BackoffStore.ready,
      (spark, sfDir, p) => BackoffStore.write(spark, evenDocs(spark, sfDir), p)))

  /** The named kind; an unknown name fails and lists the known ones. */
  def select(name: String): Kind = kinds.getOrElse(name, throw new IllegalArgumentException(
    s"unknown ArtifactBuild kind '$name'; known kinds: ${kinds.keys.toSeq.sorted.mkString(", ")}"))

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.tools.ArtifactBuild " +
        s"<${kinds.keys.toSeq.sorted.mkString("|")}> <sfDir> [outDir]")
      sys.exit(2)
    }
    val kind = select(args(0))
    val sfDir = args(1)
    val spark = graft.GraftSession.builderFromEnv("8").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val p = args.lift(2).getOrElse(
      kind.path(sfDir, ArtifactStore.dataFingerprint(sfDir, kind.table)))
    try {
      if (kind.ready(p)) println(s"${args(0)} already ready: $p")
      else {
        kind.write(spark, sfDir, p)
        println(s"${args(0)} written: $p")
      }
    } finally spark.stop()
  }
}
