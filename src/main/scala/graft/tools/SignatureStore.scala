package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.KMinByHash
import graft.operators.Dedup

/** Written MinHash-LSH signature index — the [[IndexStore]] /
  * [[NbStore]] discipline applied to near-dup gating: the training
  * corpus's banded bucket table is built ONCE and published, and
  * every incoming corpus/stream then probes it to answer "is this
  * document a near-duplicate of anything we already train on?"
  * WITHOUT touching the corpus text again (the frozen-artifact-
  * serves-a-stream story of BackoffStore/MooreLewis/IndexStore,
  * extended to the dedup family — dedup of a fresh crawl against the
  * existing corpus is the standing production shape; within-stream
  * self-dedup is [[Dedup.minHashLshStream]]'s keyed state, and the
  * two compose).
  *
  * Layout under `path(dir, fingerprint)`:
  *   sig_buckets.parquet (band, bucket, n, corpus_id) — retained
  *                       bucket members, `n` the bucket's TRUE size
  *   sig_meta.parquet    (bands, rows_per_band, max_bucket, family)
  *                       — 1 row; probes derive banding from HERE so
  *                       a store and its probes can never disagree,
  *                       and a cross-[[Family]] store refuses loudly
  *   _GRAFT_SIG_READY    — atomic publish marker, written LAST
  *
  * Hot-bucket contract (the write-side form of [[Dedup.minHashLsh]]'s
  * salt): at most `maxBucket` members are retained per (band, bucket),
  * the DETERMINISTIC id-smallest ones (a bounded hash-aggregate
  * buffer — no sort, map-side combinable). DUP-FLAG recall is exact
  * under any cap — a query collides with a capped bucket iff it
  * collides with the uncapped one (retained set is non-empty exactly
  * when the bucket is). Only the PAIR LIST against a pathological
  * template bucket is truncated to its retained members — the same
  * documented degradation class as the batch salt, and
  * [[droppedMembers]] reports the store-wide count loudly.
  *
  * Scale shape: the bucket table is corpus_rows × bands small rows;
  * at 100 TB it is written bucketed/sorted by (band, bucket) (the
  * [[BucketedLayout]] discipline) so every probe join reads
  * co-located buckets — here a plain parquet path keeps the tests'
  * store portable and the join shape identical.
  */
object SignatureStore {

  /** Algorithm-family version baked into both the store PATH and the
    * written meta (r12): the bucket values are a function of the
    * tokenizer + hash family + banding, and a store written under an
    * older family probed by newer code would collide NOWHERE —
    * silent total recall loss, no error. Path inclusion makes
    * version-mismatched stores invisible (catalog callers just
    * rebuild); the meta check makes an explicitly-pathed probe of a
    * foreign store refuse loudly instead. Bump on any change to
    * tokenization, the hash family, or the bucket-key encoding. */
  val Family = "mh61x60v1"

  def path(dir: String, fingerprint: String): String =
    ArtifactStore.path("sig_", dir, s"$fingerprint|$Family")

  private val ReadyMarker = "_GRAFT_SIG_READY"

  def ready(p: String): Boolean = ArtifactStore.ready(p, ReadyMarker)

  /** Build and publish the banded bucket index of `corpus`. */
  def write(spark: SparkSession, corpus: DataFrame, p: String,
            textCol: String = "text", idCol: String = "doc_id",
            bands: Int = 4, rowsPerBand: Int = 8,
            maxBucket: Int = 2048): Unit = {
    require(bands >= 1 && rowsPerBand >= 1 && maxBucket >= 1,
      s"SignatureStore.write: bad params bands=$bands rows=$rowsPerBand cap=$maxBucket")
    val sigs = Dedup.minHashSignatures(corpus, textCol, idCol, bands * rowsPerBand)
    // one bounded-buffer hash aggregate: the id-smallest maxBucket
    // members + the true bucket size, no per-bucket sort anywhere
    Dedup.bandedBuckets(sigs, bands, rowsPerBand)
      .groupBy(col("band"), col("bucket"))
      .agg(KMinByHash.kMinByHash(col("doc_id"), lit(0.0), maxBucket).as("keep"),
        count(lit(1)).as("n"))
      .select(col("band"), col("bucket"), col("n"),
        explode(col("keep.h")).as("corpus_id"))
      .write.mode("overwrite").parquet(s"$p/sig_buckets.parquet")
    import spark.implicits._
    Seq((bands, rowsPerBand, maxBucket, Family))
      .toDF("bands", "rows_per_band", "max_bucket", "family")
      .coalesce(1).write.mode("overwrite").parquet(s"$p/sig_meta.parquet")
    ArtifactStore.publish(p, ReadyMarker)
    val dropped = droppedMembers(spark, p)
    if (dropped > 0)
      System.err.println(s"[signature_store] $p: $dropped member(s) over the " +
        s"$maxBucket-cap dropped from hot buckets - dup-FLAG recall is exact; " +
        "pair lists against those buckets are truncated to retained members")
  }

  /** Fold a DELTA corpus into a published index without touching the
    * base corpus — the index-maintenance half of the incremental
    * story (pipe_incremental names the fresh docs; this publishes
    * their signatures): only the delta tokenizes and bands, the
    * base contributes its already-written bucket rows. EXACTLY
    * equal to a full rebuild over base ∪ delta (SigPersistSpec pins
    * table-level equality): the cap keeps the id-SMALLEST members,
    * and every member of cap-smallest(A ∪ B) ∩ A is necessarily in
    * cap-smallest(A) — so re-capping (kept_A ∪ B) loses nothing a
    * rebuild would keep, and the true size adds (n_A + |B ∩ bucket|).
    * Banding parameters come from the BASE's meta — a delta can
    * never silently band differently from its index. Writes a NEW
    * versioned path (publish-last, same atomicity contract); the
    * base stays readable throughout. Delta doc ids must be DISJOINT
    * from the base corpus's (the CDC contract: a changed doc is a
    * new version, keyed upstream — re-ingesting an existing id
    * would double-count it in `n` and duplicate its bucket row).
    * The contract is spot-checked, not just documented (r11 ADVICE):
    * delta ids intersecting the base's RETAINED corpus_id set raise
    * before anything is written. The check is PARTIAL by
    * construction — a base member dropped over the bucket cap is
    * invisible to it — and costs one semi-join of the (small) delta
    * id set against the store, no corpus rescan. */
  def merge(spark: SparkSession, basePath: String, deltaDocs: DataFrame,
            outPath: String, textCol: String = "text",
            idCol: String = "doc_id"): Unit = {
    require(ready(basePath), s"SignatureStore.merge: no ready base index at $basePath")
    require(new java.io.File(outPath).getCanonicalPath !=
      new java.io.File(basePath).getCanonicalPath,
      "SignatureStore.merge: outPath must be a new version, not the base (publish-last)")
    val (bands, rowsPerBand, maxBucket) = meta(spark, basePath)
    val overlap = deltaDocs.select(col(idCol).cast("long").as("did")).distinct()
      .join(buckets(spark, basePath).select(col("corpus_id").as("did")).distinct(),
        Seq("did"), "left_semi")
      .limit(5).collect().map(_.getLong(0))
    require(overlap.isEmpty,
      s"SignatureStore.merge: delta doc ids intersect the base's retained corpus " +
        s"(e.g. ${overlap.mkString(", ")}) - re-ingesting an existing id corrupts " +
        "bucket sizes; key changed docs as new versions upstream (check is partial " +
        "under the bucket cap)")
    val base = buckets(spark, basePath)
      .select(col("band"), col("bucket"), col("corpus_id").as("m"),
        col("n").as("base_n"), lit(0L).as("is_delta"))
    val delta = Dedup.bandedBuckets(
        Dedup.minHashSignatures(deltaDocs, textCol, idCol, bands * rowsPerBand),
        bands, rowsPerBand)
      .select(col("band"), col("bucket"), col("doc_id").as("m"),
        lit(0L).as("base_n"), lit(1L).as("is_delta"))
    base.unionAll(delta)
      .groupBy(col("band"), col("bucket"))
      .agg(KMinByHash.kMinByHash(col("m"), lit(0.0), maxBucket).as("keep"),
        (max(col("base_n")) + sum(col("is_delta"))).as("n"))
      .select(col("band"), col("bucket"), col("n"),
        explode(col("keep.h")).as("corpus_id"))
      .write.mode("overwrite").parquet(s"$outPath/sig_buckets.parquet")
    import spark.implicits._
    Seq((bands, rowsPerBand, maxBucket, Family))
      .toDF("bands", "rows_per_band", "max_bucket", "family")
      .coalesce(1).write.mode("overwrite").parquet(s"$outPath/sig_meta.parquet")
    ArtifactStore.publish(outPath, ReadyMarker)
  }

  /** (bands, rowsPerBand, maxBucket) as written; refuses a store
    * written under a different algorithm family (see [[Family]]). */
  def meta(spark: SparkSession, p: String): (Int, Int, Int) = {
    import org.apache.spark.sql.types._
    val r = ArtifactStore.readTable(spark, p, "sig_meta",
      "bands" -> IntegerType, "rows_per_band" -> IntegerType,
      "max_bucket" -> IntegerType, "family" -> StringType).collect()
    require(r.length == 1, s"SignatureStore: malformed meta at $p (${r.length} rows)")
    require(r(0).getString(3) == Family,
      s"SignatureStore: store at $p was written under family '${r(0).getString(3)}', " +
        s"this build probes '$Family' - rebuild the index (a cross-family probe " +
        "collides nowhere and would silently flag nothing)")
    (r(0).getInt(0), r(0).getInt(1), r(0).getInt(2))
  }

  /** The written bucket table (band, bucket, n, corpus_id) — a lazy
    * scan; probes join it per batch. */
  def buckets(spark: SparkSession, p: String): DataFrame = {
    import org.apache.spark.sql.types._
    ArtifactStore.readTable(spark, p, "sig_buckets",
      "band" -> IntegerType, "bucket" -> LongType,
      "n" -> LongType, "corpus_id" -> LongType)
  }

  /** Store-wide count of cap-dropped bucket members (Σ n − retained
    * over hot buckets) — the write path prints it; ladders/specs
    * assert on it. Reads only the store, never the corpus. */
  def droppedMembers(spark: SparkSession, p: String): Long =
    buckets(spark, p).groupBy(col("band"), col("bucket"))
      .agg(first(col("n")).as("n"), count(lit(1)).as("kept"))
      .agg(coalesce(sum(col("n") - col("kept")), lit(0L)))
      .collect()(0).getLong(0)

  /** Distinct (query_id, corpus_id) near-dup candidate pairs of
    * `queries` against the written corpus: same tokenizer, same
    * permutations, same banding — read from meta, so a probe can
    * never silently band differently from its store. */
  def probe(spark: SparkSession, p: String, queries: DataFrame,
            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(ready(p), s"SignatureStore.probe: no ready signature index at $p")
    val (bands, rows, _) = meta(spark, p)
    probeAgainst(buckets(spark, p), bands, rows, queries, textCol, idCol)
  }

  /** The ONE probe kernel — the written store's batch probe, every
    * foreachBatch micro-batch, AND the catalog's in-session forms
    * (dd_lsh_probe, pipe_incremental) all run exactly this against
    * their bucket frame (band, bucket, corpus_id), so stream ≡
    * batch ≡ in-session by construction (probing is per-document
    * stateless; one kernel means a banding change can never diverge
    * the forms). */
  def probeAgainst(store: DataFrame, bands: Int, rowsPerBand: Int,
                   queries: DataFrame, textCol: String,
                   idCol: String): DataFrame =
    Dedup.bandedBuckets(
        Dedup.minHashSignatures(queries, textCol, idCol, bands * rowsPerBand),
        bands, rowsPerBand)
      .join(store.select(col("band"), col("bucket"), col("corpus_id")),
        Seq("band", "bucket"))
      .select(col("doc_id").as("query_id"), col("corpus_id"))
      .distinct()

  /** Per-query dup verdicts: every query row, `is_dup`, the
    * id-smallest corpus match as `dup_of` (null when clean), and the
    * distinct matched-corpus-doc count. The gate form a curation
    * pipeline filters on. */
  def probeFlags(spark: SparkSession, p: String, queries: DataFrame,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val matches = probe(spark, p, queries, textCol, idCol)
      .groupBy(col("query_id"))
      .agg(min(col("corpus_id")).as("dup_of"),
        count(lit(1)).as("n_matches"))
    queries.select(col(idCol).cast("long").as("query_id"))
      .join(matches, Seq("query_id"), "left")
      .select(col("query_id"), col("dup_of"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** Serve a query STREAM against the written index — foreachBatch
    * over the shared batch kernel (the [[IndexStore.probeStream]]
    * argument verbatim: probing is per-document stateless, so
    * stream ≡ batch at any micro-batch slicing, and a stream-static
    * join form would drag the corpus-scale static side into every
    * micro-batch's planning). The frozen half is read once and
    * reused; each batch's pair frame goes to `sink`. */
  def probeStream(spark: SparkSession, p: String, docs: DataFrame,
                  textCol: String = "text", idCol: String = "doc_id")
                 (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(docs.isStreaming, "probeStream serves a streaming document frame")
    require(ready(p), s"SignatureStore.probeStream: no ready signature index at $p")
    val (bands, rows, _) = meta(spark, p)
    val store = buckets(spark, p)
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(probeAgainst(store, bands, rows, batch, textCol, idCol))
      }
      .start()
  }
}
