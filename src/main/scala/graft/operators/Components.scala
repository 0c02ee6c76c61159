package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list, by alternating
  * large-star / small-star rounds (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC 2014).
  *
  * This is the missing last step of every dedup pipeline: the pair
  * generators ([[Dedup.minHashLsh]], [[Dedup.simHashPairs]],
  * [[Dedup.ngramJaccard]]) emit near-duplicate PAIRS, but survivor
  * selection needs CLUSTERS — duplicate chains (A~B, B~C, A!~C) make
  * per-pair keep/drop decisions inconsistent without the transitive
  * closure. The canonical representative is the minimum doc id of the
  * component, so "keep iff id == component" is a total, deterministic
  * survivor rule.
  *
  * Scale design: no driver-side graph state — each round is two
  * key-partitioned aggregate+join passes over the edge list, and the
  * only data reaching the driver is one (count, checksum) pair per
  * round for the convergence test. Large-star/small-star needs
  * O(log² n) rounds in the worst case (a long duplicate chain —
  * exactly where naive min-label propagation needs diameter rounds and
  * dies at scale); near-dup clusters are dense in practice and
  * converge in ~3-4. Every intermediate edge set is bounded by the
  * input edge count (stars only shrink it after the first round), and
  * lineage is truncated per round so the iterated plan stays
  * constant-size.
  */
object Components {

  /** (node, component) for every node appearing in `edges`, where
    * `component` is the minimum node id of its connected component.
    * Callers left-join their full id universe to pick up singletons —
    * including nodes that only appear in self-loops, which are dropped
    * with the loop itself. Edge direction and duplicates don't matter.
    *
    * ADAPTIVE DRIVER FINISH (the AQE-broadcast-threshold pattern): the
    * canonical edge count is already on the driver before any round
    * (the convergence checksum reads it), and the dedup pipelines feed
    * this closure a SPANNING-FOREST edge set orders of magnitude
    * smaller than the corpus (198× sparser at sf0.1). When that count
    * is ≤ `driverFinishEdges` (and ids are longs), the closure
    * finishes as one bounded collect + union-find instead of paying
    * 3-5 full-cluster star rounds for a graph that fits in a broadcast
    * — the collect is bounded BY THE GATE (≤ threshold rows no matter
    * the corpus; a bigger edge set takes the distributed rounds, which
    * is the 100 TB path). Labeling is identical: union by min root =
    * the star fixpoint's min-id component (IterativeKernelPropertySpec
    * pins both paths to one union-find reference). Pass 0 to force the
    * distributed rounds (the scale ladder does, so the published
    * closure receipts stay distributed-path). */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxRounds: Int = 64, numPartitions: Int = 0,
                          // gate MEASURED r11 (GateCalib): the linear
                          // union-find twin beats the star rounds ~10x
                          // at every rung through 8M canonical edges
                          // (2M: 2.4 vs 12.1 s; 8M: 4.9 vs 53.4 s) -
                          // 8M is the largest measured point, ~400 MB
                          // of collected tuples on a 32 GB driver
                          driverFinishEdges: Long = 8000000L): DataFrame = {
    // checkpoints are EAGER on purpose: a round's plan reads its input
    // through several union/join branches, and with a lazy checkpoint
    // the first job would recompute the full upstream lineage once PER
    // BRANCH (measured 7 s → 66 s on the dd_components edge set: the
    // whole Jaccard pipeline re-ran 4× per round) — materialize once,
    // then every branch reads the cached blocks
    val t0 = System.nanoTime()
    Checkpoints.scoped { s =>
      val e0 = s.checkpoint(canon(edges.select(col(aCol).as("u"), col(bCol).as("v"))))
      val init = checksum(e0)
      val longIds = e0.schema.fields.forall(
        _.dataType == org.apache.spark.sql.types.LongType)
      // driverFinishEdges > 0: passing 0 forces the distributed rounds
      // even on an empty edge set (the force-distributed contract)
      if (longIds && DriverFinish.chooses(driverFinishEdges, init._1)) {
        val out = driverFinish(edges.sparkSession, e0)
        System.err.println(
          s"[components] driver finish: ${init._1} edges <= $driverFinishEdges, " +
            f"${(System.nanoTime() - t0) / 1e9}%.2f s")
        out
      } else {
        // the rounds' own scope returns the last round's edge
        // checkpoint; the labeling below is a view over it
        val forest = Checkpoints.scoped { r =>
          var e = e0
          var prev = init
          var rounds = 0
          var converged = false
          while (!converged && rounds < maxRounds) {
            // Size each round's exchanges to the CURRENT edge count, not
            // the session default: the corpus-wide shuffle width (and its
            // AQE coalescing floor, pinned high to keep explosive joins
            // parallel) makes tiny round shuffles pay full task-scheduling
            // width — and the first star round typically collapses a
            // clique-heavy near-dup pair set by orders of magnitude
            // (measured 2.7M pairs → 4.1k star edges at sf0.1), so later
            // rounds want a far narrower width than round 1.
            val n = if (numPartitions > 0) numPartitions
              else math.max(8, math.min(4096, (prev._1 / 50000L).toInt + 1))
            val superseded = e
            e = r.checkpoint(smallStar(largeStar(e, n), n))
            if (superseded eq e0) s.release(e0) else r.release(superseded)
            val cur = checksum(e)
            converged = cur == prev
            prev = cur
            rounds += 1
          }
          require(converged, s"connectedComponents: no fixpoint after $maxRounds rounds")
          System.err.println(
            s"[components] converged in $rounds rounds " +
              s"(edges ${init._1} -> ${prev._1}, " +
              f"${(System.nanoTime() - t0) / 1e9}%.2f s)")
          e
        }
        // the fixpoint is a star forest: every edge is (child > root);
        // the roots themselves appear only on the v side
        forest.select(col("u").as("node"), col("v").as("component"))
          .union(forest.select(col("v").as("node"), col("v").as("component")).distinct())
      }
    }
  }

  /** Bounded-collect union-find finish: path-compressed find, union
    * by MIN root (the smaller root adopts the larger), so every
    * tree's root is its component's minimum id — exactly the star
    * fixpoint's labeling. The checkpointed edge frame (not the raw
    * input) is collected: canon already dropped self-loops and
    * duplicates, so the collect is ≤ the gated edge count. */
  private def driverFinish(spark: org.apache.spark.sql.SparkSession,
                           e: DataFrame): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      if (!parent.contains(x0)) { parent(x0) = x0; return x0 }
      var x = x0
      while (parent(x) != x) {
        val gp = parent(parent(x)) // path halving
        parent(x) = gp
        x = gp
      }
      x
    }
    e.as[(Long, Long)].collect().foreach { case (u, v) =>
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    val labeled = parent.keys.toArray.map(n => (n, find(n))).toSeq
    // parallelize, NOT createDataset: a LocalRelation of up to ~2·gate
    // node labels would be re-serialized into EVERY consuming plan;
    // an RDD-backed frame holds them once
    spark.createDataset(spark.sparkContext.parallelize(labeled))
      .toDF("node", "component")
  }

  /** Edges as (u > v), no self-loops, no duplicates. */
  private def canon(e: DataFrame): DataFrame =
    e.where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()

  /** large-star: every node's strictly-larger neighbors reconnect to
    * the minimum of its closed neighborhood. ONE exchange: the
    * explicit hash(u) repartition (AQE leaves user repartitions
    * alone), which both the aggregate and the join reuse. */
  private def largeStar(e: DataFrame, n: Int): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .repartition(n, col("u"))
    val mins = sym.groupBy(col("u"))
      .agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    // emitted edges are (v, m) with v > u >= m, so already canonical.
    // NOT distinct'ed: duplicates (one per co-neighbor) are absorbed
    // by smallStar's map-side-combined min and its final dedup —
    // dropping the dedup shuffle here is a round-latency win
    sym.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** small-star: every node's smaller neighbors (and the node itself)
    * reconnect to the smallest of them. Operates on the canonical
    * (u > v) orientation directly; one hash(u) exchange shared by the
    * aggregate and join, one hash(u, v) exchange for the dedup. */
  private def smallStar(e: DataFrame, n: Int): DataFrame = {
    val eP = e.repartition(n, col("u"))
    val mins = eP.groupBy(col("u")).agg(min(col("v")).as("m"))
    val nbrs = eP.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v")) // v >= m; drop the v == m loop
    val self = mins.select(col("u"), col("m").as("v")) // u > m always
    nbrs.union(self)
      .where(col("u") =!= col("v"))
      .repartition(n, col("u"), col("v"))
      .dropDuplicates("u", "v")
  }

  /** Order-insensitive edge-set signature: the loop's only driver-side
    * data. xor (not sum — ANSI mode faults on Long overflow) of the
    * per-edge 64-bit hashes: edges are distinct, so a changed set
    * matching both count and xor is a 2⁻⁶⁴-per-round collision. */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
