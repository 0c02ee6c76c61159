package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Plan inspector: `runMain graft.tools.Explain <query> [sfDir] [N]`
  * prints the formatted physical plan and N timed runs of one catalog
  * query — the iterate-on-the-plan loop the 100 TB goal demands.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val runs = if (args.length > 2) args(2).toInt else 2
    val builder = graft.GraftSession.builderFromEnv("8")
    // ad-hoc conf experiments: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    TaskMeter.attach(spark, Some(System.out))
    // comma-separated names run as a sequence (JVM cross-query effects:
    // a megamorphic kernel in one query can deoptimize the next)
    val names = name.split(",").toSeq
    names.foreach { nm =>
      // construction timed separately: eager operators (the iterative
      // graph kernels, stores) do their real work HERE, not in the
      // final frame's save — without this line their cost is invisible
      val tc = System.nanoTime()
      val df = SparkEntry.queries(nm)(spark, sfDir)
      println(f"[explain] $nm construct: ${(System.nanoTime() - tc) / 1e9}%.3f s")
      if (names.length == 1) df.explain("formatted")
      (1 to runs).foreach { i =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"[explain] $nm run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
