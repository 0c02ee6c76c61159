package graft

import org.apache.spark.sql.SparkSession

/** THE session builder — every entry point (Verify, Bench, BenchScale,
  * PlanSweep, Explain, the store builds, the test harness) constructs
  * its session through here, so the engine confs below hold wherever
  * graft code executes. They were previously copy-pasted across the
  * mains and ABSENT from the test harness and PlanSweep (VERDICT r10
  * #2): any session missing `objectHashAggregate.sortBased.
  * fallbackThreshold` silently reverts every TypedImperativeAggregate
  * (TopKPairs, the sketches) to the 128-distinct-key sort-based
  * fallback r10 diagnosed as a scale-killer. One definition, asserted
  * by GraftSessionSpec in the suite that exercises those aggregates.
  */
object GraftSession {

  /** ObjectHashAggregate (every TypedImperativeAggregate: TopKPairs,
    * sketches) falls back to SORT-BASED aggregation past this many
    * DISTINCT KEYS per partition — Spark's default is 128, which
    * silently sorted the ANN ladders' 200-query candidate streams to
    * disk (5M ivfpq probe 27.9 s → 1.19 s with the fallback lifted).
    * 8192 keys × the ~200 B TopKPairs buffer is ~1.6 MB a partition. */
  val ObjectHashFallbackThreshold = 8192

  /** A builder carrying the engine confs, parameterized only by the
    * thread/partition count. Callers append run-specific confs (log
    * level and extra experiment confs stay caller-side) and
    * `getOrCreate()`. */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries INT64 TIMESTAMP(NANOS) — see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // floor AQE coalescing at the core count: it sizes partitions by
      // shuffle INPUT bytes and otherwise serializes explosive joins.
      // minPartitionNum is inert in Spark 4 (parallelismFirst honors
      // only minPartitionSize): a ~1 MB shuffle feeding a CPU-heavy
      // stage still coalesced to ONE task. Small size floor = real floor.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", cpus)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        ObjectHashFallbackThreshold.toString)
      // transformWithState (T2 timers) is RocksDB-only; the other
      // stateful streaming ops run fine on it too
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // a batch commit writes each store's changelog instead of a full
      // snapshot (snapshots move to the background maintenance task):
      // commit is the fixed per-batch cost of every stateful query
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // the `file` scheme on both Hadoop APIs: Hadoop's local file
      // system without a child process per created file or rename
      // (GraftLocalFileSystem); checksums and modes are unchanged
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
      .config("spark.ui.enabled", "false")

  /** [[builder]] with the thread count from SPARK_GRAFT_CPUS. */
  def builderFromEnv(defaultCpus: String): SparkSession.Builder =
    builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus))
}
