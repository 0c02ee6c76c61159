package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Bucketed warehouse layout — the co-located-join primitive the
  * 100 TB design leans on: writing both fact tables bucketed (and
  * bucket-sorted) by their join key lets every subsequent
  * lineitem⋈orders join read bucket i against bucket i directly, with
  * ZERO Exchange on either side — at warehouse scale this converts the
  * recurring dominant shuffle of every order-grain query into a
  * one-time layout cost, amortized across all downstream runs (the
  * ArtifactBuild/IndexStore pattern, applied to relational layout).
  *
  * Buckets are assigned by `hash(key) % numBuckets` at WRITE time, so
  * the join-time co-location contract is: same key column type, same
  * bucket count (or a multiple, with bucket coalescing) on both sides.
  * Bucket count is the scale knob: at 100 TB pick
  * numBuckets ≈ tableBytes / targetBucketFileBytes (e.g. 512 MB) —
  * buckets too coarse re-introduce per-task skew, too fine produce
  * small files; either way the join stays Exchange-free.
  *
  * Tables are registered in the session catalog (`saveAsTable` — the
  * bucketing metadata lives there; a plain parquet path write silently
  * drops it, which is why this is a tool and not a naked write).
  */
object BucketedLayout {

  /** Layouts already written by THIS JVM, keyed by (session identity,
    * prefix, sfDir, DATA FINGERPRINT, numBuckets) — session identity
    * because table registration lives in a per-session catalog (a new
    * session after stop() must re-register), the fingerprint because
    * data changing under the same path must not serve a stale layout
    * (the memoKey discipline of ExtensionCatalog). */
  private val written = scala.collection.mutable.Set.empty[(Int, String, String, String, Int)]

  private def writtenKey(spark: SparkSession, sfDir: String,
                         numBuckets: Int, prefix: String) =
    (System.identityHashCode(spark), prefix, sfDir,
      ArtifactStore.dataFingerprint(sfDir, "lineitem") + "|" +
        ArtifactStore.dataFingerprint(sfDir, "orders"), numBuckets)

  /** 8-hex-char key of an sfDir — shared by the on-disk location AND
    * the catalog's sf-scoped table-name prefix
    * (ExtensionCatalog.bucketedPrefix), so the two can never
    * desynchronize. */
  def sfKey(sfDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** STABLE location keyed by (prefix, sfDir, numBuckets) — a fresh
    * createTempDirectory per call leaked a full bucketed copy of both
    * tables on every invocation (DROP TABLE on an EXTERNAL table never
    * deletes files); the keyed path is deleted and rewritten in place.
    * SINGLE-WRITER CONTRACT (the ExtensionCatalog serial-execution
    * assumption): the stable path means a SECOND JVM rewriting the
    * same (prefix, sfDir, numBuckets) deletes files a first JVM's
    * registered tables may still be reading — the harness runs one
    * driver at a time (the repo-wide no-concurrent-sbt discipline); a
    * multi-driver deployment would key the path by writer identity or
    * use a real warehouse with atomic publish. */
  private def stableBase(sfDir: String, numBuckets: Int, prefix: String): java.io.File =
    new java.io.File(new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-bucketed"),
      s"$prefix-${sfKey(sfDir)}-b$numBuckets")

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Write lineitem + orders bucketed by their join key into the
    * session catalog as `<prefix>_lineitem` / `<prefix>_orders`.
    * Registered as EXTERNAL tables (a managed CREATE collides with any
    * leftover warehouse directory from a previous JVM whose table the
    * fresh in-memory catalog no longer knows — LOCATION_ALREADY_EXISTS)
    * under the stable per-(prefix, sfDir, numBuckets) location, prior
    * contents deleted first so repeated writes reuse one footprint. */
  def writeTradeTables(spark: SparkSession, sfDir: String,
                       numBuckets: Int = 8, prefix: String = "graft_bkt"): Unit =
    synchronized {
      val baseDir = stableBase(sfDir, numBuckets, prefix)
      deleteRecursively(baseDir)
      val base = baseDir.toString
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_lineitem")
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_orders")
      Tables.lineitem(spark, sfDir).write.format("parquet").mode("overwrite")
        .option("path", s"$base/lineitem")
        .bucketBy(numBuckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"${prefix}_lineitem")
      Tables.orders(spark, sfDir).write.format("parquet").mode("overwrite")
        .option("path", s"$base/orders")
        .bucketBy(numBuckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(s"${prefix}_orders")
      written += writtenKey(spark, sfDir, numBuckets, prefix)
    }

  /** Demand-the-layout entry point for catalog queries: writes once
    * per (session, prefix, sfDir, data-fingerprint, numBuckets),
    * no-ops after. */
  def ensureTradeTables(spark: SparkSession, sfDir: String,
                        numBuckets: Int = 8, prefix: String = "graft_bkt"): Unit =
    synchronized {
      if (!written(writtenKey(spark, sfDir, numBuckets, prefix)))
        writeTradeTables(spark, sfDir, numBuckets, prefix)
    }

  /** The co-located join over the bucketed layout: both scans report
    * their bucket partitioning, so the sort-merge join plans with NO
    * Exchange (gated in BucketedJoinSpec). */
  def colocatedJoin(spark: SparkSession, prefix: String = "graft_bkt"): DataFrame = {
    val li = spark.table(s"${prefix}_lineitem")
    val o = spark.table(s"${prefix}_orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
  }
}
