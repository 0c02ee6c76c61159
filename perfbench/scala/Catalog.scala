package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** The batch catalog phase: one warm-up query, then one pass over the
  * workload's slice of `SparkEntry.queries` in an order shuffled by the
  * seed.
  * Each query is constructed (the catalog function call) and then
  * executed by writing its result as parquet, beside its
  * `SparkEntry.oracleSql`, for the DuckDB oracle compare that follows
  * outside the timed region. (A `noop` sink would need a second,
  * untimed execution for the compare, which doubles the phase; the
  * results of the slice are at most 100,000 rows.)
  */
object Catalog {

  /** The query families of the slices: name prefixes. */
  val Families: Seq[String] = Seq("ta", "dd", "ds", "agg", "j", "ann", "emb", "ts", "q")

  /** One cheap query from each of nine families, split between the two
    * workloads. One pass over all 198 queries takes about 290 s on 4
    * cores, and a whole run, catalog and loop, must fit in about a
    * minute. The graph queries do their work on the driver at construct
    * time; the cheapest costs about 10 s in a fresh JVM. */
  val Slices: Map[String, Seq[String]] = Map(
    "loop_steady" -> Seq("ta_tokens", "agg_count_distinct", "ann_brute_force", "q_top_orders",
      "ds_sample_hash"),
    "loop_heavy" -> Seq("dd_exact", "j_asof", "emb_project", "ts_weekly", "ds_sample_stratified"))

  val Warmup = "q1_pricing_summary"

  def family(name: String): String = {
    val p = name.takeWhile(_ != '_')
    if (Families.contains(p)) p else "rest"
  }

  def run(spark: SparkSession, slice: Seq[String], sfDir: String, seed: Long, out: Path,
          trace: Option[Trace], parent: Long): Map[String, Any] = {
    val fns = SparkEntry.queries
    val sc = spark.sparkContext
    val oracleDir = Files.createDirectories(out.resolve("oracle"))
    val catalogStart = System.currentTimeMillis()
    val w0 = System.nanoTime()
    fns(Warmup)(spark, sfDir).write.format("noop").mode("overwrite").save()
    val warmS = (System.nanoTime() - w0) / 1e9

    val order = new scala.util.Random(seed).shuffle(slice)
    val results = order.map { name =>
      val qSpan = trace.map(_.reserve())
      val execSpan = trace.map(_.reserve())
      val start = System.currentTimeMillis()
      val c0 = System.nanoTime()
      var c1 = c0
      val error =
        try {
          val df = fns(name)(spark, sfDir)
          c1 = System.nanoTime()
          execSpan.foreach { id =>
            sc.setLocalProperty(Trace.SpanKey, id.toString)
            sc.setLocalProperty(Trace.QueryKey, name)
          }
          df.write.mode("overwrite").parquet(oracleDir.resolve(name).toString)
          None
        } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
        finally {
          sc.setLocalProperty(Trace.SpanKey, null)
          sc.setLocalProperty(Trace.QueryKey, null)
        }
      val c2 = System.nanoTime()
      val constructMs = (c1 - c0) / 1e6
      val executeMs = (c2 - c1) / 1e6
      for (tr <- trace; q <- qSpan; x <- execSpan) {
        val split = start + constructMs.toLong
        tr.span("query", start, start + ((c2 - c0) / 1e6).toLong, parent,
          Map("query" -> name), id = q)
        tr.span("construct", start, split, q)
        tr.span("execute", split, start + ((c2 - c0) / 1e6).toLong, q, id = x)
      }
      Map("name" -> name, "family" -> family(name), "construct_ms" -> constructMs,
        "execute_ms" -> executeMs, "error" -> error)
    }
    val catalogEnd = System.currentTimeMillis()
    trace.foreach(_.span("catalog", catalogStart, catalogEnd, parent))

    val partitions =
      if (trace.isEmpty) Map.empty[String, Int]
      else Map(
        "lineitem" -> Tables.lineitem(spark, sfDir).rdd.getNumPartitions,
        "events" -> Tables.events(spark, sfDir).rdd.getNumPartitions,
        "documents" -> Tables.documents(spark, sfDir).rdd.getNumPartitions)

    Files.writeString(oracleDir.resolve("oracle_sql.json"),
      Main.json(slice.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap))

    Map("warm_s" -> warmS, "queries" -> results,
      "table_partitions" -> partitions, "oracle_dir" -> oracleDir.toString)
  }
}
