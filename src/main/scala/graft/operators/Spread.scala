package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one scan spread: how wide CPU-heavy narrow work runs.
  *
  * A small corpus in a single parquet row group scans as ONE task, so
  * a tokenize, shingle, encode or n×k cosine pass over it runs on one
  * core while the rest idle (measured r15: dd_containment's shingle
  * stage ran 1.0-1.8 s single-task at sf0.1). [[narrow]] round-robins
  * such a frame to [[width]] before that work; at scan scale (many
  * files or row groups) it is a no-op.
  *
  * Callers decide WHETHER to spread; that choice is semantic. It is
  * safe when the downstream keys are doc- or shingle-grained:
  * collect_list partials and (doc, hash) distincts neither grow nor
  * collapse under it. VOCAB-keyed aggregate pipelines must NOT spread
  * (the r14 ta_* revert: `width` copies of vocab partials cross the
  * shuffle), which is also why the spread is not built into the table
  * reads. */
object Spread {

  /** The executor width: `defaultParallelism`, the job's configured
    * parallelism. Not `spark.sql.shuffle.partitions`, which a
    * streaming start briefly sets to 1 on the shared session
    * (JsonTopics.startOneStore). */
  def width(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** `df` repartitioned to [[width]] when it has fewer partitions, else
    * `df` itself. A streaming frame passes through unchanged: it cannot
    * be partition-counted, and micro-batch parallelism is the source's
    * concern. */
  def narrow(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val n = width(df.sparkSession)
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df
  }
}
