package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-finish gate calibration (VERDICT r10 #3): each linear
  * iterative graph kernel short-circuits to a bounded driver twin
  * under `driverFinishEdges`. The r4 default of 1M was a guess; the
  * sf0.1 trade graph (1.17M edges) sits just above it, so five
  * kernels pay full-cluster round barriers at toy scale (~24.6 s of
  * the r10 bench wall). This main MEASURES both paths per kernel on
  * deterministic synthetic graphs at 1M/2M/4M/8M edges and prints the
  * crossover table COVERAGE cites — gates are then set to measured
  * crossovers, not guesses. (Triangles' 200k gate is quadratic-kernel
  * territory and calibrated separately; it stays.)
  *
  * `runMain graft.tools.GateCalib [sizes-csv]` — one JSON line per
  * (kernel, size, path) plus a summary table to stderr.
  */
object GateCalib {

  /** Deterministic pseudo-random undirected pair list: ~m pairs over
    * n = m/8 nodes (avg degree ~16 after symmetrization); every 10th
    * pair's b-endpoint is directed into one of √n hub nodes (10 % of
    * pairs, 5 % of endpoints) — EXACTLY the graphLadder substrate
    * (BenchScale's `id % 10 = 0` rule), so crossovers are measured
    * under the same degree skew the ladders exercise (review r11: a
    * uniform substrate flatters the driver twin of the
    * quadratic-family kernels). Dense enough that every kernel does
    * real per-round work. */
  private def pairs(spark: SparkSession, m: Long): DataFrame = {
    val n = math.max(m / 8L, 64L)
    val hubs = math.max(math.sqrt(n.toDouble).toLong, 1L)
    spark.range(m).select(
        pmod(xxhash64(col("id"), lit(11)), lit(n)).as("a"),
        when(col("id") % 10 === 0, pmod(xxhash64(col("id"), lit(31)), lit(hubs)))
          .otherwise(pmod(xxhash64(col("id"), lit(23)), lit(n))).as("b"))
      .filter(col("a") =!= col("b"))
  }

  /** Directed, no dangling sinks (symmetrized), for pageRank/HITS. */
  private def directed(spark: SparkSession, m: Long): DataFrame = {
    val p = pairs(spark, m / 2L)
    p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
  }

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption
      .map(_.split(",").toSeq.map(_.trim.toLong))
      .getOrElse(Seq(1000000L, 2000000L, 4000000L, 8000000L))
    val spark = graft.GraftSession.builderFromEnv("32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.Graph

    // (kernel, edge frame is rebuilt per run, gate) -> result frame;
    // gate=MaxValue forces the driver twin, gate=0 the distributed path
    def kernels(m: Long): Seq[(String, Long => DataFrame)] = {
      lazy val seeds = spark.range(1).select(lit(0L).as("node"))
      Seq(
        "pagerank" -> ((g: Long) => Graph.pageRankMicro(
          directed(spark, m), "src", "dst", validateUniverse = false,
          driverFinishEdges = g)),
        "bfs" -> ((g: Long) => Graph.shortestHops(
          directed(spark, m), "src", "dst", seeds, maxHops = 4,
          driverFinishEdges = g)),
        "sssp" -> ((g: Long) => Graph.ssspMicro(
          directed(spark, m).withColumn("w",
            pmod(xxhash64(col("src"), col("dst")), lit(1000L)) + 1L),
          "src", "dst", "w", seeds, maxRounds = 30, driverFinishEdges = g)),
        "labelprop" -> ((g: Long) => Graph.labelPropagation(
          Graph.Undirected(pairs(spark, m), "a", "b"), rounds = 4,
          driverFinishEdges = g)),
        "kcore" -> ((g: Long) => Graph.kCore(
          Graph.Undirected(pairs(spark, m), "a", "b"), maxRounds = 40,
          driverFinishEdges = g)),
        "hits" -> ((g: Long) => Graph.hitsMicro(
          directed(spark, m), "src", "dst", driverFinishEdges = g)),
        "components" -> ((g: Long) => graft.operators.Components
          .connectedComponents(pairs(spark, m), "a", "b",
            driverFinishEdges = g)),
        // the one QUADRATIC-worst-case kernel: its driver twin is
        // O(m^1.5) single-threaded, so the crossover needs its own
        // (hub-bearing substrate) measurement, not the linear kernels'
        "triangles" -> ((g: Long) => Graph.triangleCounts(
          Graph.Undirected(pairs(spark, m), "a", "b"), driverFinishEdges = g)))
    }

    // optional 2nd arg: comma-separated kernel-name filter
    val only = args.lift(1).map(_.split(",").toSet)
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, String, Double)]
    for (m <- sizes; (name, run) <- kernels(m)
           if only.forall(_.contains(name));
         (path, gate) <- Seq("driver" -> Long.MaxValue, "dist" -> 0L)) {
      val t0 = System.nanoTime()
      val res = try { val df = run(gate); val c = df.count(); s"rows=$c" }
                catch { case e: Throwable => s"ERR ${e.getMessage.take(60)}" }
      val sec = (System.nanoTime() - t0) / 1e9
      rows += ((name, m, path, sec))
      println(f"""{"kernel":"$name","edges":$m,"path":"$path","sec":$sec%.2f,"note":"$res"}""")
      spark.sharedState.cacheManager.clearCache()
    }
    System.err.println(f"${"kernel"}%-10s ${"edges"}%10s ${"driver_s"}%9s ${"dist_s"}%9s  winner")
    for (m <- sizes; name <- rows.map(_._1).distinct) {
      val d = rows.find(r => r._1 == name && r._2 == m && r._3 == "driver").map(_._4)
      val x = rows.find(r => r._1 == name && r._2 == m && r._3 == "dist").map(_._4)
      (d, x) match {
        case (Some(dv), Some(xv)) =>
          System.err.println(f"$name%-10s $m%10d $dv%9.2f $xv%9.2f  ${if (dv < xv) "driver" else "dist"}")
        case _ =>
      }
    }
    spark.stop()
  }
}
