package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge lists — the PageRank companion
  * to [[Components]]' connected-components closure (Page et al., "The
  * PageRank Citation Ranking", Stanford InfoLab 1999).
  *
  * All rank arithmetic is EXACT INTEGER micro-units (1.0 ≡ 1 000 000):
  * each contribution is one floor division `(d·r) div (100·outdeg)` of
  * positive longs and each new rank an exact integer sum, so every
  * iteration is bit-identical across engines, partition layouts and
  * run orders — a float PageRank's Σ-order drift compounds per
  * iteration and can flip rank ORDERINGS by iteration 5. (The price is
  * that floor-truncated mass leaks, so ranks are not a normalized
  * distribution — rankings and relative magnitudes, the things the
  * operator is used for, are unaffected.)
  *
  * Scale design: no driver-side graph state — each iteration is one
  * key-partitioned join of the (edge, outdeg) list with the current
  * rank vector plus one map-side-combinable aggregate, the same
  * per-round shape as [[Components]]. The edge list and node set are
  * computed once and lineage-truncated (`localCheckpoint`), and each
  * iteration's rank frame is truncated too, so the iterated plan stays
  * constant-size. Rank magnitudes are bounded by 0.85 × total mass ≈
  * 0.85·n·10⁶ — a long overflows only past ~10¹² nodes.
  *
  * BATCH-ONLY by contract: both kernels are multi-pass fixpoints over
  * a static edge set, which Structured Streaming's single-pass
  * incremental model cannot express — the streaming analog is a
  * periodic re-run over an edge-table snapshot (foreachBatch), not an
  * operator twin.
  *
  * DRIVER-FINISH GATES are MEASURED, not guessed (r11,
  * [[graft.tools.GateCalib]] — crossover of driver-twin vs distributed
  * wall on synthetic graphs at 1M–8M edges, `local[32]`): pagerank /
  * bfs / sssp / kcore / labelprop 4M, hits 2M, triangles 2M (the one
  * quadratic-worst-case twin — see its scaladoc). labelprop's twin was
  * re-measured after replacing its (node, label)-tuple-keyed global
  * counting with per-node primitive-keyed scratch maps; crossover
  * ≈ 4–5M symmetric rows. Units are whatever count the kernel
  * compares — directed rows (pagerank/bfs/sssp/hits) or symmetric rows
  * (labelprop/kcore). The collect at the 4M gate is ≤ ~100 MB of
  * driver tuples; ladders force the distributed path with 0.
  */
object Graph {

  /** Integer-exact PageRank. `edges` is DIRECTED (callers wanting the
    * undirected semantics union both directions); every node must
    * appear as a source at least once (the node universe is the
    * distinct source set — dangling sinks would need a mass-return
    * term that floor arithmetic can't make exact, so they are out of
    * contract). Returns (node, r) with r in micro-units after
    * `iterations` rounds from a uniform 1 000 000 start.
    */
  /** Pins `canChangeCachedPlanOutputPartitioning=false` around `body`:
    * a cached frame's partitioning is usable by the outer planner only
    * when AQE is barred from re-shaping the cached plan's output
    * (Spark 4 default allows it), AND the cache is materialized before
    * the consuming join is planned — both halves handled by callers
    * building their edge cache through this. */
  private def withStableCachePartitioning[T](spark: org.apache.spark.sql.SparkSession)
                                            (body: => T): T = {
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** Hub cap for the wedge link predictors (VERDICT r9 #3): the wedge
    * self-join is Θ(Σ deg(center)²) — exact and linear on a
    * bounded-degree substrate (k-NN graphs), quadratic at a power-law
    * hub. With `maxDegree > 0`, nodes whose degree exceeds the cap are
    * excluded as wedge CENTERS (an exact top-degree trim — their
    * endpoint roles, degree values and AA weights stay untouched), so
    * the wedge stream is bounded by n·maxDegree². Every wedge the trim
    * drops is COUNTED — deg·(deg−1)/2 per hub, an exact figure because
    * trimming is all-or-nothing per center — into a loud per-context
    * accumulator (the Dedup oversized-bucket pattern) readable via
    * [[droppedWedges]], plus a stderr line, so a capped run can never
    * silently read as exact. Capping a graph with no node above the
    * cap is a no-op with a zero count. Hubs contribute the LEAST
    * signal per wedge in this family (Adamic-Adar's 1/ln(deg) exists
    * precisely to discount them), so the trim removes the most
    * expensive, least informative wedges first. */
  private def capCenters(sym: DataFrame, deg: DataFrame, maxDegree: Int,
                         kernel: String): DataFrame = {
    if (maxDegree <= 0) sym
    else {
      noteDroppedWedges(deg, maxDegree, kernel)
      sym.join(deg.filter(col("deg") <= maxDegree).select(col("s")), Seq("s"))
    }
  }

  /** The loud half of [[capCenters]]: counts the wedges an exact
    * top-degree trim at `maxDegree` drops (deg·(deg−1)/2 per hub) into
    * the [[droppedWedges]] accumulator + a stderr line. One cheap
    * aggregate over the (checkpointed) degree frame, eager by design —
    * the count must surface even when the capped run's output is
    * consumed lazily or partially. */
  private def noteDroppedWedges(deg: DataFrame, maxDegree: Int,
                                kernel: String): Unit = {
    val row = deg.filter(col("deg") > maxDegree)
      .agg(count(lit(1)).as("hubs"),
        coalesce(sum(expr("(deg * (deg - 1)) div 2")), lit(0L)).as("wedges"))
      .head()
    val (hubs, dropped) = (row.getLong(0), row.getLong(1))
    if (dropped > 0) {
      droppedWedgeCounter(deg.sparkSession).add(dropped)
      System.err.println(s"[graft.graph] $kernel: hub cap maxDegree=" +
        s"$maxDegree trimmed $hubs hub centers, dropping $dropped wedges " +
        "(recall degradation - see Graph.droppedWedges)")
    }
  }

  /** Wedge-cap DEFAULT, decided r11 (VERDICT r10 #7): `maxDegree = 0`
    * (exact, uncapped) STAYS the default — a library operator must
    * not silently trade exactness for speed; a capped run can
    * undercount n_common on pairs whose shared neighbor was a hub,
    * and only the caller knows whether that recall loss is
    * acceptable. The quadratic risk is handled LOUDLY instead: every
    * uncapped run prechecks degree skew with one cheap aggregate over
    * the degree frame, and when the projected wedge stream has the
    * power-law signature (see [[wedgeSkewed]]) it warns to stderr
    * with the measured wedge count, the hub degree, and the
    * `maxDegree` remedy, and bumps a session accumulator
    * ([[skewWarnings]]) so harnesses can assert the path. GraphSpec
    * proves both halves on a planted power-law substrate: the default
    * stays exact, and the warning fires. */
  private def warnWedgeSkew(sym: DataFrame, kernel: String): Unit = {
    val (wedges, symRows, maxDeg) = wedgeStats(sym)
    if (wedgeSkewed(wedges, symRows))
      noteSkew(sym.sparkSession, kernel, wedges, symRows, maxDeg)
  }

  /** The measurement half of [[warnWedgeSkew]], separable so the spec
    * can pin the aggregate extraction exactly (review r11): (projected
    * wedges Σ deg(deg−1)/2, symmetric row count Σ deg, max degree)
    * over a (s, d) symmetric edge frame. */
  private[operators] def wedgeStats(sym: DataFrame): (Long, Long, Long) = {
    val row = sym.groupBy(col("s")).agg(count(lit(1)).as("deg"))
      .agg(coalesce(sum(expr("(deg * (deg - 1)) div 2")), lit(0L)).as("wedges"),
        coalesce(sum(col("deg")), lit(0L)).as("symRows"),
        coalesce(max(col("deg")), lit(0L)).as("maxDeg"))
      .head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** The loud half, separable for the same reason: bumps the session
    * accumulator read by [[skewWarnings]] and prints the remedy. */
  private[operators] def noteSkew(spark: org.apache.spark.sql.SparkSession,
                                  kernel: String, wedges: Long,
                                  symRows: Long, maxDeg: Long): Unit = {
    skewWarnCounter(spark).add(1)
    System.err.println(s"[graft.graph] $kernel: degree-skewed substrate - " +
      s"$wedges wedges from $symRows symmetric edge rows (max degree " +
      s"$maxDeg); the exact uncapped kernel is quadratic at hubs. " +
      "Consider maxDegree (hub centers are trimmed with an exact " +
      "dropped-wedge count - see Graph.droppedWedges).")
  }

  /** The warning decision, pure and spec-pinned: a wedge stream is
    * "skewed" when it is BOTH large in absolute terms (> 10⁸ wedges —
    * below that the exact pass is seconds of work and a warning is
    * noise) AND super-linear in the edge count (> 32 wedges per
    * symmetric edge row: on a bounded-degree substrate wedges/edges ≈
    * avg degree ≈ k; a power-law hub pushes the ratio orders of
    * magnitude past it). */
  def wedgeSkewed(wedges: Long, symRows: Long): Boolean =
    wedges > 100000000L && wedges > 32L * symRows

  private val skewWarnCounter =
    new graft.functions.ContextCounter("graft.graph.skewWarnings")

  /** Number of uncapped link-prediction runs on this session's
    * SparkContext whose substrate tripped the degree-skew precheck —
    * the observable half of the exact-by-default decision. */
  def skewWarnings(spark: org.apache.spark.sql.SparkSession): Long =
    skewWarnCounter.value(spark)

  private val droppedWedgeCounter =
    new graft.functions.ContextCounter("graft.graph.droppedWedges")

  /** Wedges dropped by the `maxDegree` hub cap across every capped
    * link-prediction run on this session's SparkContext — the
    * observable counterpart of the documented recall degradation.
    * 0 means every capped run was exact. */
  def droppedWedges(spark: org.apache.spark.sql.SparkSession): Long =
    droppedWedgeCounter.value(spark)

  def pageRankMicro(edges: DataFrame, srcCol: String, dstCol: String,
                    iterations: Int = 5, dampingPct: Int = 85,
                    validateUniverse: Boolean = true,
                    driverFinishEdges: Long = 4000000L): DataFrame = {
    require(iterations >= 1 && dampingPct > 0 && dampingPct < 100)
    withStableCachePartitioning(edges.sparkSession) {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // ADAPTIVE DRIVER FINISH (the Components / Bpe pattern): when the
    // edge count is ≤ the gate, the `iterations` rounds run on the
    // driver over the collected (src, dst) rows — outdegrees are one
    // O(m) in-memory pass there, so the driver path never pays the
    // degree aggregate, the degree join, or the src repartition that
    // only the distributed rounds need (r14: those were built and
    // persisted BEFORE the gate, costing the driver path two shuffles
    // and a cache it never used). The gate count is one pass over the
    // caller's frame — catalog callers hand a memoized checkpoint or a
    // narrow projection of one (the commonNeighbors discipline), so
    // the count and the collect are narrow block reads, not upstream
    // replays. The collect is bounded BY THE GATE regardless of corpus
    // size; a corpus-scale edge list exceeds it and takes the
    // distributed rounds (the graph ladder forces them with 0, so its
    // published per-round exchange receipts stay distributed-path).
    // Integer micro-unit arithmetic makes the two paths BIT-identical
    // — same floor divisions, same exact sums (GraphSpec pins the
    // equality; IterativeKernelPropertySpec pins both against the
    // reference).
    if (driverFinishEdges > 0 && {
          val n = e.count()
          n <= driverFinishEdges && DriverFinish.take(driverFinishEdges, n)
        }) {
      pageRankDriver(edges.sparkSession, e, iterations,
        dampingPct, validateUniverse)
    } else {
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // (src, dst, outdeg) computed once, HASH-PARTITIONED ON src once,
    // cached and MATERIALIZED before any round is planned: the rounds'
    // edges⋈ranks joins then see the cache's HashPartitioning(src) and
    // exchange ONLY the rank vector (|V| rows) — never the edge list
    // (|E| rows). localCheckpoint would NOT work here: under AQE it
    // snapshots UnknownPartitioning before the plan finalizes, and
    // every round re-shuffles the static edges (plan-gated in
    // GraphSpec; this count doubles as the materializing action).
    val ed = e.join(deg, "src").repartition(col("src")).persist()
    ed.count()
    val nodes = ed.select(col("src").as("node")).distinct().localCheckpoint()
    // Node-universe contract, ENFORCED (was doc-only): a dst that
    // never appears as a src is a dangling sink whose rank mass would
    // silently leak every round. One anti-join over the already-cached
    // edge frame, bounded by limit 1; callers whose edge list is
    // symmetrized by construction may opt out to skip the pass.
    if (validateUniverse) {
      // unpersist on the throw path too: a caller catching the require
      // (validation is FOR callers that might fail it) must not leak
      // the |E|-row cached frame — NOR the nodes checkpoint's blocks
      // (a LogicalRDD whose storage outlives the frame) — for the
      // session's lifetime
      def release(): Unit = {
        ed.unpersist()
        Checkpoints.unpersist(nodes)
      }
      val dangling =
        try ed.select(col("dst").as("node")).distinct()
          .join(nodes, Seq("node"), "left_anti").limit(1).collect()
        catch { case t: Throwable => release(); throw t }
      if (dangling.nonEmpty) {
        release()
        throw new IllegalArgumentException(
          s"pageRankMicro: node ${dangling.head.getLong(0)} appears as a " +
            "destination but never as a source (dangling sink, out of " +
            "contract - its rank mass would silently leak). Symmetrize " +
            "the edge list or pass validateUniverse=false deliberately.")
      }
    }
    val teleportMicro = (100L - dampingPct) * 10000L
    var ranks = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to iterations) {
      // shuffle-hash, build = the |V|-row rank vector (the lpa r13
      // lesson applied family-wide): a sort-merge join re-SORTS the
      // cached edge side every round; hashing the vector probes the
      // edges in storage order instead
      val contribs = ed.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst"),
          expr(s"($dampingPct * r) div (100 * outdeg)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("cs"))
      // eager per-round checkpoint: truncates lineage so the iterated
      // plan stays constant-size. (A lazy-checkpoint variant deferring
      // all rounds into one action was measured NOT faster — the wall
      // is the computation, not the per-round job barrier.)
      ranks = nodes.join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(teleportMicro) + coalesce(col("cs"), lit(0L))).as("r"))
        .localCheckpoint()
    }
    // the returned ranks are checkpoint-materialized — the cached
    // edge frame is no longer referenced
    ed.unpersist()
    ranks
    }
    }
  }

  /** Bounded-collect driver rounds: the same integer recurrence over
    * the collected (src, dst) rows, outdegrees one O(m) in-memory pass
    * (r14 — the distributed degree join is distributed-path-only now)
    * — floor divisions and exact sums make it BIT-identical to the
    * distributed form. The dangling-sink contract is enforced
    * in-memory with the same exception. */
  private def pageRankDriver(spark: org.apache.spark.sql.SparkSession,
                             e: DataFrame, iterations: Int,
                             dampingPct: Int,
                             validateUniverse: Boolean): DataFrame = {
    import spark.implicits._
    val rows = e.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val outdeg = scala.collection.mutable.LongMap.empty[Long]
    rows.foreach { case (s, _) => outdeg(s) = outdeg.getOrElse(s, 0L) + 1L }
    if (validateUniverse) {
      rows.find { case (_, d) => !outdeg.contains(d) }.foreach { case (_, d) =>
        throw new IllegalArgumentException(
          s"pageRankMicro: node $d appears as a " +
            "destination but never as a source (dangling sink, out of " +
            "contract - its rank mass would silently leak). Symmetrize " +
            "the edge list or pass validateUniverse=false deliberately.")
      }
    }
    val teleportMicro = (100L - dampingPct) * 10000L
    val nodes = outdeg.keys.toArray
    var ranks = scala.collection.mutable.LongMap.empty[Long]
    nodes.foreach(n => ranks(n) = 1000000L)
    for (_ <- 1 to iterations) {
      val contribs = scala.collection.mutable.LongMap.empty[Long]
      rows.foreach { case (s, d) =>
        contribs(d) = contribs.getOrElse(d, 0L) +
          (dampingPct * ranks(s)) / (100L * outdeg(s))
      }
      val next = scala.collection.mutable.LongMap.empty[Long]
      nodes.foreach(n => next(n) = teleportMicro + contribs.getOrElse(n, 0L))
      ranks = next
    }
    spark.createDataset(
        spark.sparkContext.parallelize(nodes.toSeq.map(n => (n, ranks(n)))))
      .toDF("node", "r")
  }

  /** Bounded multi-source BFS: minimum hop distance from `seeds`
    * (a one-column node frame) along directed `edges`, up to
    * `maxHops` rounds. Frontier-based — each round expands ONLY the
    * nodes first discovered in the previous round (an anti join
    * against the settled set), so per-round cost tracks the frontier,
    * not the reached set: the naive re-propagate-everything form does
    * Θ(reached · degree) work per round and loses by the hop count at
    * scale. First discovery IS the minimum hop distance (BFS
    * invariant), so the settled set never needs revisiting. Nodes
    * unreached within `maxHops` are absent from the result (callers
    * left-join their universe for ∞ semantics). */
  def shortestHops(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, maxHops: Int = 4,
                   driverFinishEdges: Long = 4000000L): DataFrame = {
    require(maxHops >= 1)
    withStableCachePartitioning(edges.sparkSession) {
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val sd = seeds.toDF("node").select(col("node").cast("long"))
      .distinct().localCheckpoint()
    val nSeeds = sd.count()
    // ADAPTIVE DRIVER FINISH (the pageRankMicro pattern): under the
    // gate the hop rounds run driver-side over the collected edges —
    // identical first-discovery semantics (every round-h discovery
    // has d = h, so the distributed min(d) and the driver's
    // first-visit check agree), GraphSpec pins the equality. The src
    // repartition + cache exist only for the distributed rounds, so
    // the driver path no longer builds them (r14); the gate count is
    // one pass over the caller's frame (catalog callers hand memoized
    // checkpoints or narrow projections of one).
    if (driverFinishEdges > 0 && nSeeds <= driverFinishEdges && {
          val nEdges = e0.count()
          nEdges <= driverFinishEdges &&
            DriverFinish.take(driverFinishEdges, nEdges + nSeeds)
        }) {
      val out = bfsDriver(edges.sparkSession, e0, sd, maxHops)
      Checkpoints.unpersist(sd)
      out
    } else {
    // partitioned on src once, cached and materialized before round 1
    // is planned (see pageRankMicro), so each round's frontier
    // expansion exchanges only the frontier
    val e = e0.repartition(col("src")).persist()
    e.count()
    var dist = sd.withColumn("d", lit(0L)).localCheckpoint()
    var frontier = dist
    var hop = 1
    while (hop <= maxHops && !frontier.isEmpty) {
      // shuffle-hash on the ≤|V|-row frontier — never sort the edges
      frontier = e.join(frontier.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst").as("node"), (col("d") + 1).as("d"))
        .groupBy(col("node")).agg(min(col("d")).as("d"))
        .join(dist.select(col("node").as("seen")),
          col("node") === col("seen"), "left_anti")
        .localCheckpoint()
      dist = dist.union(frontier).localCheckpoint()
      hop += 1
    }
    e.unpersist()
    Checkpoints.unpersist(sd)
    dist
    }
    }
  }

  /** Weighted single-source shortest paths by synchronous
    * Bellman-Ford relaxation over a DIRECTED weighted edge list
    * (symmetrize upstream for undirected graphs) — the weighted
    * extension of [[shortestHops]]. Integer (micro-unit) weights make
    * every distance an exact integer, so the DuckDB twin replays the
    * rounds bit-for-bit. Relaxation is MONOTONE (per-node distances
    * only decrease, the reached set only grows) and IDEMPOTENT at its
    * fixpoint, so — exactly like [[kCore]] — the twin replays a FIXED
    * `maxRounds` chain and both kernel paths REQUIRE convergence
    * within that budget: a graph whose weighted-hop diameter exceeds
    * it fails loudly instead of diverging. Negative weights are
    * rejected (monotonicity is the convergence argument).
    *
    * Scale shape: the weighted edge list is hash-partitioned on src
    * ONCE, cached and materialized before round 1 is planned; each
    * round exchanges only the reached-node distance vector (join +
    * map-side-combinable min), per-round localCheckpoints keep the
    * iterated plan constant-size, and the convergence probe is one
    * narrow (count, sum) aggregate over the checkpointed vector —
    * monotonicity makes (count, Σd) equality ⟺ fixpoint. ADAPTIVE
    * DRIVER FINISH under the linear-kernel gate; integer relaxation
    * makes the paths bit-identical (GraphSpec pins it).
    *
    * Returns (node, dist_micro) for every node reachable from the
    * seeds (seeds at 0). */
  def ssspMicro(edges: DataFrame, srcCol: String, dstCol: String,
                wCol: String, seeds: DataFrame, maxRounds: Int = 10,
                driverFinishEdges: Long = 4000000L): DataFrame = {
    require(maxRounds >= 1)
    withStableCachePartitioning(edges.sparkSession) {
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(wCol).cast("long").as("w"))
      .withColumn("w", when(col("w") >= 0L, col("w"))
        .otherwise(raise_error(concat(lit(
          "ssspMicro: negative weight "), col("w").cast("string")))))
    val sd = seeds.toDF("node").select(col("node").cast("long"))
      .distinct().localCheckpoint()
    val nSeeds = sd.count()
    // driver path skips the src repartition + cache (distributed-only
    // machinery — the pageRankMicro r14 slimming); the negative-weight
    // guard still fires on every path that reads w (the driver collect
    // and the distributed materialization both do).
    if (driverFinishEdges > 0 && nSeeds <= driverFinishEdges && {
          val nEdges = e0.count()
          nEdges <= driverFinishEdges &&
            DriverFinish.take(driverFinishEdges, nEdges + nSeeds)
        }) {
      val out =
        try ssspDriver(edges.sparkSession, e0, sd, maxRounds)
        finally Checkpoints.unpersist(sd)
      out
    } else {
    val e = e0.repartition(col("src")).persist()
    e.count()
      var dist = sd.withColumn("d", lit(0L)).localCheckpoint()
      // (count, Σd) — exact decimal sum; monotone relaxation means
      // equality of both ⟺ no distance changed and no node appeared
      def probe(df: DataFrame): (Long, java.math.BigDecimal) = {
        val r = df.agg(count(lit(1)),
          sum(col("d").cast("decimal(38,0)"))).head()
        (r.getLong(0), r.getDecimal(1))
      }
      var sig = probe(dist)
      var rounds = 0
      var converged = false
      while (!converged) {
        rounds += 1
        require(rounds <= maxRounds,
          s"ssspMicro: no fixpoint within maxRounds=$maxRounds - " +
            "raise maxRounds AND the oracle's replay depth together")
        val next = e.join(dist.hint("shuffle_hash"), col("src") === col("node"))
          .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
          .union(dist)
          .groupBy(col("node")).agg(min(col("d")).as("d"))
          .localCheckpoint()
        val nSig = probe(next)
        if (nSig == sig) {
          Checkpoints.unpersist(next)
          converged = true
        } else {
          Checkpoints.unpersist(dist)
          dist = next
          sig = nSig
        }
      }
      e.unpersist()
      Checkpoints.unpersist(sd)
      dist.select(col("node"), col("d").as("dist_micro"))
    }
    }
  }

  /** Bounded-collect driver rounds for [[ssspMicro]]: the same
    * synchronous relaxation over the collected weighted edges —
    * integer arithmetic makes it bit-identical to the distributed
    * form, under the same round budget. */
  private def ssspDriver(spark: org.apache.spark.sql.SparkSession,
                         e: DataFrame, sd: DataFrame,
                         maxRounds: Int): DataFrame = {
    import spark.implicits._
    val rows = e.select(col("src"), col("dst"), col("w"))
      .as[(Long, Long, Long)].collect()
    var dist = sd.select(col("node")).as[Long].collect()
      .map(_ -> 0L).to(scala.collection.mutable.LongMap)
    var changed = true
    var rounds = 0
    while (changed) {
      rounds += 1
      require(rounds <= maxRounds,
        s"ssspMicro: no fixpoint within maxRounds=$maxRounds - " +
          "raise maxRounds AND the oracle's replay depth together")
      val next = dist.clone()
      rows.foreach { case (s, d, w) =>
        dist.get(s).foreach { ds =>
          val cand = ds + w
          if (next.get(d).forall(cand < _)) next(d) = cand
        }
      }
      changed = next.size != dist.size || next.exists { case (n, v) => dist(n) != v }
      dist = next
    }
    spark.createDataset(spark.sparkContext.parallelize(
        dist.toSeq.map { case (n, v) => (n, v) }))
      .toDF("node", "dist_micro")
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * UNDIRECTED edge list — the community-detection primitive next to
    * [[triangleCounts]]' cohesion metric. Every node starts labeled
    * with its own id; each round, every node simultaneously adopts the
    * most frequent label among its NEIGHBORS (ties → smallest label).
    * A FIXED round count is the contract: production LPA iterates to
    * stability, but synchronous LPA need not converge (bipartite
    * structure oscillates), so the caller picks the horizon and the
    * kernel is deterministic and oracle-replayable round-by-round (the
    * pageRankMicro discipline). Returns (node, community) for every
    * non-isolated node; self-loops and duplicate/reversed pairs are
    * canonicalized away.
    *
    * Scale shape: the symmetrized edge list is hash-partitioned on src
    * ONCE, cached and materialized before round 1 is planned, so each
    * round exchanges only the |V|-row label vector and an edge-keyed
    * (dst, lbl) count that combines map-side — never the edge list
    * (the pageRankMicro topology; per-round localCheckpoints keep the
    * iterated plan constant-size). ADAPTIVE DRIVER FINISH under the
    * linear-kernel gate (each driver round is O(m) hash updates):
    * exact integer counts and the same (count desc, label asc) argmax
    * make the two paths bit-identical — GraphSpec pins the equality
    * and a randomized property pins both against a plain reference. */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       rounds: Int = 4,
                       driverFinishEdges: Long = 4000000L,
                       assumeCanonical: Boolean = false): DataFrame = {
    require(rounds >= 1)
    withStableCachePartitioning(edges.sparkSession) {
    // assumeCanonical + driver-path slimming: see kCore — the gate
    // count and the driver collect read the canonical HALF-edge
    // blocks; the 2m-row symmetrize/repartition/cache is built only
    // when the distributed rounds actually run (r14).
    // checkpoint only when the driver gate is LIVE; a forced-
    // distributed caller (gate 0 — the scale ladders) keeps the r13
    // shape exactly (see kCore)
    val gateLive = driverFinishEdges > 0
    val (ec, ownEc) =
      if (assumeCanonical)
        (edges.select(col(aCol).cast("long").as("a"),
          col(bCol).cast("long").as("b")), false)
      else {
        val canon = edges.select(
            least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
            greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
          .filter(col("a") < col("b"))
          .distinct()
        if (gateLive) (canon.localCheckpoint(), true) else (canon, false)
      }
    if (gateLive && {
          val m = 2L * ec.count()
          m <= driverFinishEdges && DriverFinish.take(driverFinishEdges, m)
        }) {
      import edges.sparkSession.implicits._
      val half = ec.select(col("a"), col("b")).as[(Long, Long)].collect()
      if (ownEc) Checkpoints.unpersist(ec)
      val symRows = new Array[(Long, Long)](half.length * 2)
      var i = 0
      while (i < half.length) {
        symRows(2 * i) = half(i)
        symRows(2 * i + 1) = (half(i)._2, half(i)._1)
        i += 1
      }
      labelPropDriver(edges.sparkSession, symRows, rounds)
    } else {
    val ed = ec.select(col("a").as("src"), col("b").as("dst"))
      .union(ec.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src")).persist()
    val m = ed.count()
    // symmetry ⇒ every node appears as src, so the label vector and
    // each round's update cover the whole universe — no dangling case
    //
    // DENSE LABEL REMAP (VERDICT r10 #1): the per-round argmax used to
    // be a struct-ordering min_by — a non-fixed-width aggregation
    // buffer that barred the hash aggregate and planned the catalog's
    // one remaining corpus-scale SortAggregate (per round, over the
    // (dst, lbl, c) count frame — ≤|E| rows, real money at 10¹⁰
    // edges). Labels START as node ids, so ONE monotone dense rank
    // over the distinct node set (PrefixSum's two-pass layout — no
    // single-reducer window) bounds every label < |V| < 2³², making
    // (count, label) packable into EncodedArgmax's primitive long:
    // each round's argmax is now a codegen'd HashAggregate with
    // map-side combine. Monotonicity keeps the (count desc, label asc)
    // tie-break IDENTICAL under dense ids, and the exit join maps the
    // winning labels back to original ids — output bit-identical to
    // the struct form (GraphSpec pins driver ≡ distributed; the
    // DuckDB twin replays original ids). Domain guards raise loudly:
    // |V| ≥ 2³² or a per-label neighbor count ≥ 2³¹ fails in-plan
    // instead of wrapping.
    // materialize=true: the shared-shuffle two-pass rank keeps no
    // internal checkpoint (r13 — both passes reuse ONE shuffle's
    // files); remapRaw IS the one eager checkpoint (unpersisted at
    // exit), the rename is a narrow view over its blocks
    val remapRaw = PrefixSum.globalRunningSum(
        ed.select(col("src").as("node")).distinct()
          .withColumn("one", lit(1L)),
        "node", "one", materialize = true)
    val remap = remapRaw
      .select(col("k").as("node"), (col("running") - 1L).as("dlbl"))
    var labels = remap.select(col("node"), col("dlbl").as("lbl"))
      .localCheckpoint()
    // ONE exchange per round, sized to the data (r13 — the 128M-rung
    // finding): the old shape exchanged the per-round votes TWICE
    // (partial (dst, lbl) counts — whose map-side combine achieves
    // ~nothing, the pairs are nearly unique within a src partition —
    // then the count frame again for the per-dst argmax), and at a
    // fixed 32 shuffle partitions the 128M-half-edge rung put ~8M
    // (dst, lbl) entries in every task's aggregate hash map, past
    // execution memory → spill → the measured superlinear wall
    // (64M→128M exponent 1.84). Repartitioning the raw votes by dst
    // ONCE makes both aggregations partition-local (hash(dst)
    // satisfies the clustered distribution of (dst, lbl) AND of dst,
    // so neither groupBy plans another exchange), and the partition
    // count scales with the edge count (~2M rows per task) so the
    // in-task map stays in memory at any rung — the same sizing a
    // real cluster applies via spark.sql.shuffle.partitions.
    val aggParts = math.max(
      edges.sparkSession.sessionState.conf.numShufflePartitions,
      (m / 2000000L).toInt + 1)
    for (_ <- 1 to rounds) {
      val prev = labels
      // shuffle-hash, build = the |V|-row label vector: a sort-merge
      // join would re-SORT the cached 2m-row edge side every round
      // (the sort can't persist across rounds — measured 1.3 GB of
      // per-round sort spill at the 128M rung); hashing the small
      // side probes the edges in storage order instead
      labels = ed.join(labels.hint("shuffle_hash"), col("src") === col("node"))
        .select(col("dst"), col("lbl"))
        .repartition(aggParts, col("dst"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max(EncodedArgmax.maxScoreMinId(col("c"), col("lbl"))).as("e"))
        .select(col("dst").as("node"),
          EncodedArgmax.decodeMaxId(col("e")).as("lbl"))
        .localCheckpoint()
      Checkpoints.unpersist(prev)
    }
    val out = labels
      .join(remap.select(col("dlbl").as("lbl"), col("node").as("community")),
        Seq("lbl"))
      .select(col("node"), col("community"))
      .localCheckpoint()
    Checkpoints.unpersist(labels)
    Checkpoints.unpersist(remapRaw)
    ed.unpersist()
    if (ownEc) Checkpoints.unpersist(ec)
    out
    }
    }
  }

  /** Bounded-collect driver rounds for [[labelPropagation]]: the same
    * synchronous most-frequent-neighbor-label update with the same
    * (count desc, label asc) tie-break over the collected symmetric
    * edge rows — exact integer counting makes it bit-identical to the
    * distributed form. */
  private def labelPropDriver(spark: org.apache.spark.sql.SparkSession,
                              rows: Array[(Long, Long)], rounds: Int): DataFrame = {
    import spark.implicits._
    // adjacency once (symmetric rows ⇒ dst's row list IS its neighbor
    // set); per-node scratch counting replaces the old global
    // (node, label)-tuple-keyed HashMap — the boxing/tuple-hash cost
    // made the twin the slowest of the six (r11 GateCalib: 13.6 s vs
    // the distributed 9.3 s already at 4M symmetric rows). Counting
    // per node over primitive-keyed maps is O(Σdeg) with no tuple
    // allocation; the argmax comparison is order-independent
    // ((count desc, label asc) exact), so the result is unchanged —
    // GraphSpec pins equality with the distributed rounds.
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    rows.foreach { case (s, d) =>
      adj.getOrElseUpdate(d,
        scala.collection.mutable.ArrayBuffer.empty[Long]) += s
    }
    var lbl = scala.collection.mutable.LongMap.empty[Long]
    adj.foreachKey(n => lbl(n) = n)
    for (_ <- 1 to rounds) {
      val next = scala.collection.mutable.LongMap.empty[Long]
      val cnt = scala.collection.mutable.LongMap.empty[Long]
      adj.foreach { case (node, nbs) =>
        cnt.clear()
        var i = 0
        while (i < nbs.length) {
          cnt(lbl(nbs(i))) = cnt.getOrElse(lbl(nbs(i)), 0L) + 1L
          i += 1
        }
        var bestL = Long.MaxValue
        var bestC = 0L
        cnt.foreach { case (l, c) =>
          if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
        }
        next(node) = bestL
      }
      lbl = next
    }
    spark.createDataset(spark.sparkContext.parallelize(
        lbl.toSeq.map { case (n, l) => (n, l) }))
      .toDF("node", "community")
  }

  /** k-core of an UNDIRECTED edge list (Seidman 1983): the maximal
    * subgraph in which every node keeps degree ≥ k, found by the
    * classic peel — repeatedly drop sub-k nodes (and their edges)
    * until nothing changes. The density gate of community mining and
    * the standard "is this node in the dense part of the web graph"
    * filter. `k = None` derives k from the data as ⌊0.7 · avg degree⌋
    * in EXACT integer arithmetic ((7·2|E|) div (10·|V|)) so both
    * engines compute the identical threshold at any SF.
    *
    * Peeling is MONOTONE (each round only removes) and IDEMPOTENT at
    * its fixpoint (a round over the k-core keeps every node), so a
    * replay with MORE rounds than the peel needed lands on the same
    * answer — the DuckDB twin replays a fixed `maxRounds`-round chain
    * and this kernel REQUIREs convergence within that budget: an
    * input needing more rounds fails loudly on the Spark side instead
    * of silently diverging from the oracle.
    *
    * Scale shape: per round, one map-side-combinable degree aggregate
    * over the live edges plus two semi joins keyed on the endpoints —
    * shuffles sized to LIVE edges (the peel shrinks them), eager
    * per-round localCheckpoints keep the iterated plan constant-size,
    * and the driver holds one scalar (the live node count). ADAPTIVE
    * DRIVER FINISH under the linear-kernel gate (each driver round is
    * O(m) hash updates); exact integer degrees make the two paths
    * bit-identical (GraphSpec pins it).
    *
    * Returns (node, core_deg) — every surviving node with its degree
    * INSIDE the core (≥ k by construction); empty when the graph has
    * no k-core. */
  def kCore(edges: DataFrame, aCol: String, bCol: String,
            k: Option[Long] = None,
            maxRounds: Int = 12,
            driverFinishEdges: Long = 4000000L,
            assumeCanonical: Boolean = false): DataFrame = {
    require(maxRounds >= 1)
    withStableCachePartitioning(edges.sparkSession) {
    // `assumeCanonical`: the input is ALREADY (a < b, distinct) AND
    // eagerly materialized (a memoized checkpoint) — skip the
    // canonicalization shuffle and read its blocks directly (the
    // triangleCounts flag, generalized r14). Otherwise canonicalize
    // and checkpoint HERE: the count, the driver collect, and the
    // distributed symmetrize all read the canonical HALF-edge blocks —
    // the old shape symmetrized + repartitioned + cached BEFORE the
    // gate, so the driver path paid a 2m-row shuffle, a 2m-row cache,
    // a full distinct-count shuffle for n0, and a 2m-row collect for
    // work it finishes on m rows in memory.
    // the canonicalization is checkpointed only when the driver gate
    // is LIVE (it funds the gate count + the half-edge collect as
    // narrow block reads); a forced-distributed caller (gate 0 — the
    // scale ladders) keeps the r13 shape exactly: lazy canonical ec,
    // one materialization (the symmetric cache), zero extra passes
    val gateLive = driverFinishEdges > 0
    val (ec, ownEc) =
      if (assumeCanonical)
        (edges.select(col(aCol).cast("long").as("a"),
          col(bCol).cast("long").as("b")), false)
      else {
        val canon = edges.select(
            least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
            greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
          .filter(col("a") < col("b"))
          .distinct()
        if (gateLive) (canon.localCheckpoint(), true) else (canon, false)
      }
    val m2Pre = if (gateLive) 2L * ec.count() else -1L
    if (gateLive && m2Pre <= driverFinishEdges &&
        DriverFinish.take(driverFinishEdges, m2Pre)) {
      import edges.sparkSession.implicits._
      val half = ec.select(col("a"), col("b")).as[(Long, Long)].collect()
      if (ownEc) Checkpoints.unpersist(ec)
      // symmetrize in memory: same multiset the old collected frame held
      val rows = new Array[(Long, Long)](half.length * 2)
      var i = 0
      while (i < half.length) {
        rows(2 * i) = half(i)
        rows(2 * i + 1) = (half(i)._2, half(i)._1)
        i += 1
      }
      val n0 = { // distinct nodes — was a full shuffle, now one pass
        val seen = scala.collection.mutable.LongMap.empty[Boolean]
        rows.foreach { case (s, _) => seen(s) = true }
        seen.size.toLong
      }
      val kVal = k.getOrElse(if (n0 == 0) 1L else (m2Pre * 7L) / (n0 * 10L))
      require(kVal >= 1, s"kCore: derived k=$kVal < 1 (m2=$m2Pre, n=$n0)")
      kCoreDriver(edges.sparkSession, rows, kVal, maxRounds)
    } else {
      val ed = ec.select(col("a").as("src"), col("b").as("dst"))
        .union(ec.select(col("b").as("src"), col("a").as("dst")))
        .repartition(col("src")).persist()
      val m2 = ed.count()
      val n0 = ed.select(col("src")).distinct().count()
      val kVal = k.getOrElse(if (n0 == 0) 1L else (m2 * 7L) / (n0 * 10L))
      require(kVal >= 1, s"kCore: derived k=$kVal < 1 (m2=$m2, n=$n0)")
      var cur = ed.localCheckpoint()
      ed.unpersist()
      if (ownEc) Checkpoints.unpersist(ec)
      // PEEL BY THE REMOVED SET, not the survivor set (r14): after the
      // first round a peel removes FEW nodes, so anti-joining the live
      // edges against the (small) removed set — BROADCAST when it fits
      // — leaves the edge frame entirely unshuffled in the common
      // round, where the old semi-join-on-survivors shape exchanged
      // the full live edge frame TWICE per round. Convergence rides
      // the degree aggregate itself (zero nodes removed ⟺ edge count
      // stable — the same fixpoint), so the old terminal no-change
      // join round and its count pass disappear too. A first round
      // that removes a corpus-sized set (k far above the typical
      // degree) falls back to the shuffle-hash anti join — the same
      // exchange budget as the old shape, minus one survivor-side
      // aggregate consumer.
      val BroadcastRemovedMax = 4000000L
      var rounds = 0
      var converged = false
      while (!converged) {
        rounds += 1
        require(rounds <= maxRounds,
          s"kCore: no fixpoint within maxRounds=$maxRounds (k=$kVal) - " +
            "raise maxRounds AND the oracle's replay depth together")
        // materialized: consumed by the convergence count and both
        // anti-join branches (lazy would recompute the degree pass 3x)
        val removed = cur.groupBy(col("src")).agg(count(lit(1)).as("dg"))
          .filter(col("dg") < kVal).select(col("src").as("node"))
          .localCheckpoint()
        val nRem = removed.count()
        if (nRem == 0) {
          Checkpoints.unpersist(removed)
          converged = true
        } else {
          val bcast = nRem <= BroadcastRemovedMax && DriverFinish.fits(nRem)
          def side(c: String) =
            if (bcast) broadcast(removed.select(col("node").as(c)))
            else removed.select(col("node").as(c)).hint("shuffle_hash")
          val next = cur
            .join(side("src"), Seq("src"), "left_anti")
            .join(side("dst"), Seq("dst"), "left_anti")
            .select(col("src"), col("dst"))
            .localCheckpoint()
          Checkpoints.unpersist(cur)
          Checkpoints.unpersist(removed)
          cur = next
        }
      }
      val out = cur.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
        .select(col("src").as("node"), col("core_deg"))
        .localCheckpoint()
      Checkpoints.unpersist(cur)
      out
    }
    }
  }

  /** Common-neighbor link prediction over an UNDIRECTED edge list:
    * the top-N non-adjacent pairs ranked by how many neighbors they
    * share — the classic "people you may know" / missing-link score
    * (Liben-Nowell & Kleinberg 2003), and the integer-exact base of
    * the Adamic-Adar family.
    *
    * Scale shape: one self-join of the symmetrized list on the wedge
    * CENTER (cost Σ deg(w)² — inherent to exact common-neighbor
    * counting; no orientation trick applies because the center's FULL
    * degree generates the pairs), one map-side-combinable count, one
    * anti join against the edge set, and a TakeOrderedAndProject
    * top-N (never a global sort). On a bounded-degree substrate — the
    * catalog feeds the k-NN graph, deg ≤ k + in-degree — the wedge
    * stream is Θ(n·k²), linear in the corpus; on a power-law graph
    * pass `maxDegree` — nodes above it are trimmed as wedge centers
    * with an exact loud count of the dropped wedges (see
    * [[capCenters]]/[[droppedWedges]]) — as Σ deg² at a hub is the
    * quadratic this kernel does NOT hide. `maxDegree = 0` (default)
    * is the exact, uncapped kernel. Ties at the cut rank break by
    * (a, b) — the output is a total order, deterministic at any N. */
  def commonNeighbors(edges: DataFrame, aCol: String, bCol: String,
                      topN: Int = 100, maxDegree: Int = 0): DataFrame = {
    require(topN >= 1)
    // materialized ONCE: the canonical edge set feeds four plan
    // branches (two union arms, each wedge side via them, and the
    // anti join) — left lazy, an expensive upstream (the catalog's
    // k-NN chain) would re-run per branch (the gClustering lesson)
    val und = edges.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .localCheckpoint()
    val symAll = und.select(col("a").as("s"), col("b").as("d"))
      .union(und.select(col("b").as("s"), col("a").as("d")))
    // capped path only: the degree aggregate exists solely to trim
    // centers (one cheap scan of the materialized edge cache); it is
    // checkpointed because capCenters consumes it twice (eager drop
    // count + filter join) and released once `out` is materialized
    val degOpt =
      if (maxDegree <= 0) None
      else Some(symAll.groupBy(col("s")).agg(count(lit(1)).as("deg"))
        .localCheckpoint())
    if (maxDegree <= 0) warnWedgeSkew(symAll, "commonNeighbors")
    val sym = degOpt.fold(symAll)(
      capCenters(symAll, _, maxDegree, "commonNeighbors"))
    val wed = sym.select(col("s"), col("d").as("xa"))
      .join(sym.select(col("s"), col("d").as("xb")), Seq("s"))
      .filter(col("xa") < col("xb"))
      .groupBy(col("xa"), col("xb"))
      .agg(count(lit(1)).as("n_common"))
    val out = wed
      .join(und, wed("xa") === und("a") && wed("xb") === und("b"), "left_anti")
      .select(col("xa").as("a"), col("xb").as("b"), col("n_common"))
      .orderBy(col("n_common").desc, col("a"), col("b"))
      .limit(topN)
      // eager: the top-N is tiny; releasing the edge checkpoint here
      // instead of leaking its blocks for the session
      .localCheckpoint()
    degOpt.foreach(Checkpoints.unpersist)
    Checkpoints.unpersist(und)
    out
  }

  /** Adamic-Adar link prediction (Adamic & Adar, "Friends and
    * neighbors on the Web", Social Networks 2003) — the
    * rare-neighbor-weighted upgrade of [[commonNeighbors]]: a shared
    * neighbor z contributes 1/ln(deg z), so a selective mutual
    * contact says more than a hub everyone touches. Same wedge
    * enumeration and same bounded-degree contract as
    * commonNeighbors (a degree-bounded substrate such as a k-NN
    * graph runs exact; on a power-law graph pass `maxDegree` to trim
    * hub centers with a loud dropped-wedge count — retained pairs
    * keep their exact full-degree weights); deg-1 nodes are pruned
    * BEFORE the wedge join — they
    * cannot center a wedge, and pruning them keeps ln(deg) > 0 so
    * the weight is always finite (an unguarded 1/ln(1) would cast
    * Infinity to Long.MaxValue silently).
    *
    * Cross-engine exactness: each center's weight is ONE
    * identically-rounded integer micro-unit (round(10⁶ / ln deg)) and
    * each pair's score the exact integer SUM of its wedge centers'
    * weights — no order-dependent double accumulation. Returns the
    * `topN` non-adjacent pairs by (aa_micro desc, a, b). */
  def adamicAdar(edges: DataFrame, aCol: String, bCol: String,
                 topN: Int = 100, maxDegree: Int = 0): DataFrame = {
    require(topN >= 1)
    // materialized ONCE, as in commonNeighbors: the canonical edge
    // set feeds the union arms, the degree aggregate, and the anti
    // join — lazy would re-run the upstream per branch
    val und = edges.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .localCheckpoint()
    val sym = und.select(col("a").as("s"), col("b").as("d"))
      .union(und.select(col("b").as("s"), col("a").as("d")))
    val degLazy = sym.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    // capped path: checkpoint deg (capCenters reads it twice); the
    // ws filter below trims hub CENTERS while their weights — and
    // every retained node's weight — stay the exact FULL degree
    val degOpt = if (maxDegree <= 0) None else Some(degLazy.localCheckpoint())
    val deg = degOpt.getOrElse(degLazy)
    if (maxDegree > 0) noteDroppedWedges(deg, maxDegree, "adamicAdar")
    else warnWedgeSkew(sym, "adamicAdar")
    val ws = sym.join(deg, Seq("s")).filter(col("deg") >= 2)
      .filter(if (maxDegree > 0) col("deg") <= maxDegree else lit(true))
      .withColumn("w",
        round(lit(1000000) / log(col("deg").cast("double"))).cast("long"))
    val wed = ws.select(col("s"), col("d").as("xa"), col("w"))
      .join(ws.select(col("s"), col("d").as("xb")), Seq("s"))
      .filter(col("xa") < col("xb"))
      .groupBy(col("xa"), col("xb"))
      .agg(sum(col("w")).as("aa_micro"), count(lit(1)).as("n_common"))
    val out = wed
      .join(und, wed("xa") === und("a") && wed("xb") === und("b"), "left_anti")
      .select(col("xa").as("a"), col("xb").as("b"),
        col("n_common"), col("aa_micro"))
      .orderBy(col("aa_micro").desc, col("a"), col("b"))
      .limit(topN)
      .localCheckpoint()
    degOpt.foreach(Checkpoints.unpersist)
    Checkpoints.unpersist(und)
    out
  }

  /** Jaccard link prediction — |N(a)∩N(b)| / |N(a)∪N(b)| over
    * non-adjacent pairs, the normalized member of the
    * [[commonNeighbors]]/[[adamicAdar]] family (raw counts favor
    * high-degree pairs; Jaccard asks what FRACTION of the combined
    * neighborhoods is shared). Same wedge enumeration and same
    * bounded-degree substrate contract. Scores are EXACT INTEGER
    * micro-units — (10⁶·|∩|) div (deg_a + deg_b − |∩|), both operands
    * exact counts — so ranking is bit-deterministic with no fp at
    * all. Returns the `topN` non-adjacent pairs by
    * (j_micro desc, a, b). */
  def jaccardLinks(edges: DataFrame, aCol: String, bCol: String,
                   topN: Int = 100, maxDegree: Int = 0): DataFrame = {
    require(topN >= 1)
    val und = edges.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .localCheckpoint()
    val symAll = und.select(col("a").as("s"), col("b").as("d"))
      .union(und.select(col("b").as("s"), col("a").as("d")))
    val degLazy = symAll.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    // capped path: trim wedge CENTERS only — the endpoint degrees in
    // the denominator stay exact full degrees for every node (n_common
    // may undercount pairs whose shared neighbor was a hub; that is
    // the counted degradation, not a changed formula)
    val degOpt = if (maxDegree <= 0) None else Some(degLazy.localCheckpoint())
    val deg = degOpt.getOrElse(degLazy)
    if (maxDegree <= 0) warnWedgeSkew(symAll, "jaccardLinks")
    val sym =
      if (maxDegree <= 0) symAll
      else capCenters(symAll, deg, maxDegree, "jaccardLinks")
    val wed = sym.select(col("s"), col("d").as("xa"))
      .join(sym.select(col("s"), col("d").as("xb")), Seq("s"))
      .filter(col("xa") < col("xb"))
      .groupBy(col("xa"), col("xb"))
      .agg(count(lit(1)).as("n_common"))
    val out = wed
      .join(deg.select(col("s").as("xa"), col("deg").as("da")), Seq("xa"))
      .join(deg.select(col("s").as("xb"), col("deg").as("db")), Seq("xb"))
      .join(und, wed("xa") === und("a") && wed("xb") === und("b"), "left_anti")
      .select(col("xa").as("a"), col("xb").as("b"), col("n_common"),
        expr("(1000000 * n_common) div (da + db - n_common)").as("j_micro"))
      .orderBy(col("j_micro").desc, col("a"), col("b"))
      .limit(topN)
      .localCheckpoint()
    degOpt.foreach(Checkpoints.unpersist)
    Checkpoints.unpersist(und)
    out
  }

  /** Degree assortativity (Newman, "Assortative mixing in networks",
    * PRL 2002): the Pearson correlation of the degrees at either end
    * of an edge — positive means hubs link to hubs (social), negative
    * hubs link to leaves (technological/biological). Each undirected
    * edge contributes BOTH directions, the standard symmetrization
    * that makes the two marginals equal.
    *
    * Cross-engine exactness (the crossCorrPairs discipline): degrees
    * are exact integers, all five moments exact integer sums in
    * decimal(38,0)/HUGEINT, and the single fp step
    * num / sqrt(dx·dy) happens ONCE on identically-rounded doubles.
    * Zero-variance degree distributions (regular graphs) yield NULL r
    * by contract — no mixing is defined.
    *
    * Scale shape: one degree aggregate, two node-keyed joins onto the
    * edge list, ONE map-side-combinable global moment aggregate —
    * returns a single row (n_ends, r). */
  def assortativity(edges: DataFrame, aCol: String, bCol: String,
                    assumeCanonical: Boolean = false): DataFrame = {
    // materialized ONCE (the commonNeighbors lesson, applied r11 after
    // the plan audit counted 12 scans / 23 exchanges here): the
    // canonical edge set feeds both symmetrize arms AND, through sym,
    // the degree aggregate and both degree joins — left lazy, the
    // upstream pair generation replays ~6x. The degree frame is
    // checkpointed too (two join branches), and the single-row result
    // is eager so both releases happen before return.
    // assumeCanonical: the caller's frame is already (a < b, distinct)
    // AND eagerly materialized (a memoized checkpoint) — use its
    // blocks directly, skip the shuffle, and do NOT unpersist it.
    val und = if (assumeCanonical)
        edges.select(col(aCol).cast("long").as("a"),
          col(bCol).cast("long").as("b"))
      else edges.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .localCheckpoint()
    val sym = und.select(col("a").as("s"), col("b").as("d"))
      .union(und.select(col("b").as("s"), col("a").as("d")))
    val deg = sym.groupBy(col("s")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val ends = sym
      .join(deg.select(col("s"), col("deg").as("dx")), Seq("s"))
      .join(deg.select(col("s").as("d"), col("deg").as("dy")), Seq("d"))
      .select(col("dx").cast("decimal(38,0)").as("x"),
        col("dy").cast("decimal(38,0)").as("y"))
    val out = ends.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_ends"),
        when(col("n") * col("sxx") - col("sx") * col("sx") <= 0 ||
             col("n") * col("syy") - col("sy") * col("sy") <= 0,
          lit(null).cast("double"))
          .otherwise(round(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
            6)).as("r"))
      .localCheckpoint()
    if (!assumeCanonical) Checkpoints.unpersist(und)
    Checkpoints.unpersist(deg)
    out
  }

  /** Bounded-collect driver peel for [[kCore]]: the same
    * remove-below-k rounds over the collected symmetric edge rows —
    * integer degrees make it bit-identical to the distributed form. */
  private def kCoreDriver(spark: org.apache.spark.sql.SparkSession,
                          symRows: Array[(Long, Long)], kVal: Long,
                          maxRounds: Int): DataFrame = {
    import spark.implicits._
    var rows = symRows
    var changed = true
    var rounds = 0
    while (changed) {
      rounds += 1
      // same budget as the distributed loop: the oracle replays a
      // FIXED chain, so convergence past it must fail loudly on
      // whichever path ran
      require(rounds <= maxRounds,
        s"kCore: no fixpoint within maxRounds=$maxRounds (k=$kVal) - " +
          "raise maxRounds AND the oracle's replay depth together")
      val deg = scala.collection.mutable.LongMap.empty[Long]
      rows.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0L) + 1L }
      val next = rows.filter { case (s, d) => deg(s) >= kVal && deg(d) >= kVal }
      changed = next.length != rows.length
      rows = next
    }
    val core = scala.collection.mutable.LongMap.empty[Long]
    rows.foreach { case (s, _) => core(s) = core.getOrElse(s, 0L) + 1L }
    spark.createDataset(spark.sparkContext.parallelize(
        core.toSeq.map { case (n, dg) => (n, dg) }))
      .toDF("node", "core_deg")
  }

  /** Per-node triangle counts over an UNDIRECTED edge list — the
    * local-clustering / cohesion primitive (triangles are the unit of
    * community structure; the count per node is the numerator of its
    * clustering coefficient).
    *
    * Degree-ordered compact-forward enumeration (Schank & Wagner 2005;
    * Chiba & Nishizeki 1985): orient every edge from its
    * (degree, id)-smaller endpoint to the larger, enumerate wedges as
    * pairs of OUT-edges of a shared source, and close each wedge with
    * one semi join against the oriented edge set. The orientation
    * bounds every out-degree by O(√m), so the wedge join generates
    * O(m^1.5) candidates — the enumeration optimum — where the naive
    * node-iterator pays Σ deg² (one hub node makes that quadratic; a
    * web-scale co-occurrence graph always has hubs). Because the
    * orientation is a TOTAL order ((deg, node) lexicographic), each
    * triangle is enumerated exactly once, as the wedge at its smallest
    * corner, and the closing edge {v,w} is stored oriented v→w
    * whenever v precedes w — so wedge closure is a plain equi-semi-join,
    * no direction disjunction.
    *
    * Scale shape: three hash aggregates + three equi-joins on edge
    * keys, all map-side-combinable, AQE skew handling applies; no
    * driver state, nothing corpus-sized collects. The triangle SET is
    * orientation-independent, so the DuckDB twin may enumerate in
    * plain id order and must agree exactly.
    *
    * ADAPTIVE DRIVER FINISH (the Components / Bpe / pageRankMicro
    * pattern): the canonical edge set is materialized anyway (the
    * distributed enumeration reads it through several join branches —
    * same rationale as [[Components]]' eager checkpoints), so its
    * count is one cheap cache scan; a set under the gate runs the
    * same degree-ordered intersection on the driver instead of paying
    * six join/agg barriers. The collect is bounded BY THE GATE
    * regardless of corpus size — the corpus-sized pair GENERATION
    * feeding this kernel always stays distributed — and integer
    * counting makes the paths exactly equal (GraphSpec pins it).
    * Ladders force the distributed path with 0. The default gate is
    * MEASURED (r11 GateCalib, hub-bearing substrate — 10 % of edges
    * into √n hubs): the driver intersection wins at 1M edges
    * (1.6 s vs 5.6 s), 2M (2.3 vs 5.8) and 4M (5.2 vs 8.3) — gate 2M,
    * one measured rung inside the win region. The twin is the SAME
    * (deg, id) orientation, so its worst case is the O(m^1.5) bound,
    * not Σdeg²: at 2M edges that is ~2.8·10⁹ merge steps on a
    * near-clique adversary (≈ 10 s single-threaded, vs the
    * distributed path's ~30× parallelism on the same work) — bounded
    * seconds on a pathological input, measured win on real shapes.
    * [[DriverFinish.fits]] additionally requires the collect to fit
    * the actual heap.
    *
    * `assumeCanonical`: the input is ALREADY (a < b, distinct) under
    * columns exactly ("a", "b") — callers that canonicalized for their
    * own degree pass (gClustering) skip the redundant shuffle.
    *
    * Returns (node, n_tri) for every node in ≥ 1 triangle. */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String,
                     driverFinishEdges: Long = 2000000L,
                     assumeCanonical: Boolean = false,
                     wedgeBloom: Boolean = true): DataFrame = {
    // canonicalize: undirected {a,b} as a < b, self-loops out,
    // distinct. A caller-canonical frame is used AS-IS (typically the
    // caller's own checkpoint — re-checkpointing would duplicate its
    // blocks, and unpersisting would destroy a frame the caller still
    // reads; branch scans of a checkpoint are block reads, not
    // recomputation).
    val ec = if (assumeCanonical)
      edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    else edges.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .localCheckpoint() // eager: every downstream branch reads blocks
    val m = ec.count()
    val out =
      if (driverFinishEdges > 0 && m <= driverFinishEdges &&
          DriverFinish.take(driverFinishEdges, m))
        triangleDriver(edges.sparkSession, ec)
      else
        // triangleDistributed returns an eagerly-materialized frame,
        // so the canonical edge blocks can be released immediately
        triangleDistributed(ec, m, wedgeBloom)
    if (!assumeCanonical) Checkpoints.unpersist(ec)
    out
  }

  /** Distributed compact-forward enumeration over a CANONICAL
    * (a < b, distinct) edge frame with `m` edges. */
  private def triangleDistributed(e: DataFrame, m: Long,
                                  wedgeBloom: Boolean): DataFrame = {
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient by the (deg, node) total order; carry the head's order key
    // so the wedge join can order the two out-neighbors without a
    // second degree lookup. Checkpointed EAGERLY: three plan branches
    // (both wedge sides + the closing semi join) read the oriented
    // list — lazily each would recompute the degree joins over the
    // full edge set (the Components eager-checkpoint rationale).
    val oriented = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .withColumn("akey", struct(col("da").as("d"), col("a").as("n")))
      .withColumn("bkey", struct(col("db").as("d"), col("b").as("n")))
      .withColumn("fwd", col("akey") < col("bkey"))
      .select(
        when(col("fwd"), col("a")).otherwise(col("b")).as("u"),
        when(col("fwd"), col("b")).otherwise(col("a")).as("v"),
        when(col("fwd"), col("bkey")).otherwise(col("akey")).as("vkey"))
      .localCheckpoint()
    // sketch-prunes-exact-confirms (the j_bloom_semi pattern): on real
    // co-occurrence graphs only a few % of wedges close into a
    // triangle (sf0.1 co-purchase: 1.9M of 41M), so shuffling EVERY
    // wedge into the closing semi join is ~20× too much exchange. A
    // bloom over the oriented edge-key hashes sheds non-closing wedges
    // inside the wedge join's own stage, BEFORE the (x,y) exchange;
    // the exact semi join then removes the false-positive residue —
    // the result is identical, the filter only sheds work. The hash
    // collapses the (u,v) pair to one long; a hash collision can only
    // ADD a false positive, never drop a wedge.
    // bounded sketch: 8 bits/edge capped at 128 Mbit (16 MB) — past
    // the cap the false-positive rate degrades gracefully (the semi
    // join stays exact) instead of the filter growing with the graph;
    // an uncapped bloom at 10⁹ edges would be a ~1.2 GB task object.
    // `wedgeBloom = false` skips the prune — for graphs where most
    // wedges DO close the probe sheds little. Measured A/B
    // (2026-08-14, warm, co-tenant load 5-16): sparse co-purchase
    // (4.6 % closure) ~25 % faster WITH the prune (5.5-6.8 s vs
    // 7.7-8.5 s); dense planted-clique corpus neutral (8.4 vs
    // 7.8-8.6 s) — hence default on.
    val raw = oriented.select(col("u"), col("v").as("x"), col("vkey").as("xkey"))
      .join(oriented.select(col("u"), col("v").as("y"), col("vkey").as("ykey")), Seq("u"))
      .filter(col("xkey") < col("ykey"))
    val pruned = if (wedgeBloom) {
      val bf = oriented.stat.bloomFilter(
        xxhash64(col("u"), col("v")), math.max(m, 1L),
        math.min(8L * math.max(m, 1L), 1L << 27))
      raw.filter(graft.functions.BloomContains.bloomContains(
        xxhash64(col("x"), col("y")), bf))
    } else raw
    val wedges = pruned.select(col("u"), col("x"), col("y"))
    val tri = wedges.join(
      oriented.select(col("u").as("x"), col("v").as("y")),
      Seq("x", "y"), "left_semi")
    val out = tri
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      .localCheckpoint()
    Checkpoints.unpersist(oriented)
    out
  }

  /** Bounded-collect driver counting: the same (deg, id)-ordered
    * orientation, each triangle found exactly once as the sorted
    * out-list intersection of its base edge (the edge between its two
    * order-smallest corners — the third corner sits in BOTH out-lists
    * only there, since the order-largest corner's out-list cannot
    * contain a triangle member). Exact integer counts ⇒ set-identical
    * to the distributed enumeration. */
  private def triangleDriver(spark: org.apache.spark.sql.SparkSession,
                             e: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = e.as[(Long, Long)].collect()
    val deg = scala.collection.mutable.LongMap.empty[Long]
    rows.foreach { case (a, b) =>
      deg(a) = deg.getOrElse(a, 0L) + 1
      deg(b) = deg.getOrElse(b, 0L) + 1
    }
    def before(x: Long, y: Long): Boolean = {
      val dx = deg(x); val dy = deg(y)
      dx < dy || (dx == dy && x < y)
    }
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    rows.foreach { case (a, b) =>
      val (u, v) = if (before(a, b)) (a, b) else (b, a)
      adj.getOrElseUpdate(u,
        scala.collection.mutable.ArrayBuffer.empty[Long]) += v
    }
    val sorted = adj.map { case (k, vs) => k -> vs.toArray.sorted }
    val empty = Array.empty[Long]
    val cnt = scala.collection.mutable.LongMap.empty[Long]
    def bump(n: Long): Unit = cnt(n) = cnt.getOrElse(n, 0L) + 1
    rows.foreach { case (a, b) =>
      val (u, v) = if (before(a, b)) (a, b) else (b, a)
      val au = sorted.getOrElse(u, empty)
      val av = sorted.getOrElse(v, empty)
      var i = 0; var j = 0
      while (i < au.length && j < av.length) {
        if (au(i) == av(j)) {
          // the common element can never be v itself: av is v's
          // OUT-list and the canonical edge set has no self-loops
          bump(u); bump(v); bump(au(i))
          i += 1; j += 1
        } else if (au(i) < av(j)) i += 1 else j += 1
      }
    }
    spark.createDataset(
        spark.sparkContext.parallelize(cnt.toSeq))
      .toDF("node", "n_tri")
  }

  /** Bounded-collect driver BFS: adjacency from the collected edges,
    * first-visit frontier expansion — set-identical to the
    * distributed rounds. */
  private def bfsDriver(spark: org.apache.spark.sql.SparkSession,
                        e: DataFrame, sd: DataFrame, maxHops: Int): DataFrame = {
    import spark.implicits._
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    e.as[(Long, Long)].collect().foreach { case (s, d) =>
      adj.getOrElseUpdate(s,
        scala.collection.mutable.ArrayBuffer.empty[Long]) += d
    }
    val dist = scala.collection.mutable.LongMap.empty[Long]
    var frontier = sd.as[Long].collect().toSeq
    frontier.foreach(n => dist(n) = 0L)
    var hop = 1
    while (hop <= maxHops && frontier.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuffer.empty[Long]
      frontier.foreach { n =>
        adj.get(n).foreach(_.foreach { nb =>
          if (!dist.contains(nb)) { dist(nb) = hop.toLong; next += nb }
        })
      }
      frontier = next.toSeq
      hop += 1
    }
    spark.createDataset(
        spark.sparkContext.parallelize(dist.toSeq))
      .toDF("node", "d")
  }

  /** HITS hubs & authorities (Kleinberg, "Authoritative sources in a
    * hyperlinked environment", JACM 1999) over a DIRECTED edge list —
    * the mutual-reinforcement companion to [[pageRankMicro]]: a good
    * hub points at good authorities, a good authority is pointed at
    * by good hubs. Fixed `iterations` of the synchronous update
    *
    *   araw(v) = Σ_{u→v} h(u);  a(v) = (araw(v)·10⁶) div max araw
    *   hraw(u) = Σ_{u→v} a(v);  h(u) = (hraw(u)·10⁶) div max hraw
    *
    * from h₀ ≡ 10⁶. All arithmetic is EXACT INTEGER: raw sums in
    * plain longs (scores ≤ 10⁶, so a per-node sum overflows only
    * past ~9.2·10¹² incident edges — guarded loudly), the normalize
    * multiply widened to decimal(38,0) (the HUGEINT twin), scores
    * floor-divided back into [0, 10⁶] — every round bit-identical
    * across engines and partition layouts, and the DuckDB twin
    * replays the rounds CTE-by-CTE (max-normalization in place of
    * the textbook L2 keeps the fixpointing integral — rankings, the
    * thing HITS is used for, are unaffected). Multi-edges are
    * honored (each edge row contributes); callers wanting 0/1
    * adjacency pass distinct pairs.
    *
    * Scale shape: the edge list is hash-partitioned and cached TWICE
    * — once on src (feeding the authority sum's join on h) and once
    * on dst (feeding the hub sum's join on a) — so no round ever
    * exchanges the |E|-row edge list; each round moves only the two
    * |V|-row score vectors plus two one-row max broadcasts, and both
    * sums partial-aggregate map-side. ADAPTIVE DRIVER FINISH under
    * the linear-kernel gate, BigInteger arithmetic keeping the two
    * paths bit-identical (GraphSpec pins it). BATCH-ONLY by contract
    * (see the object scaladoc).
    *
    * Returns (node, hub_micro, auth_micro) for every node in the
    * edge list; a node with no out-edges has hub 0, one with no
    * in-edges auth 0. */
  def hitsMicro(edges: DataFrame, srcCol: String, dstCol: String,
                iterations: Int = 4,
                driverFinishEdges: Long = 2000000L): DataFrame = {
    require(iterations >= 1)
    withStableCachePartitioning(edges.sparkSession) {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // Contract checks (empty graph: the round normalizer max(araw) is
    // undefined; the Θ(|E|) raw sums stay PLAIN LONGS — codegen'd
    // partial aggregation, a decimal sum in this hot path measured ~4×
    // PageRank's per-round cost — safe because scores are ≤ 10⁶ and a
    // per-node sum overflows long only past ~9.2·10¹² incident edges).
    // Checked on whichever count the taken path produces: the driver
    // gate's pre-count, or the distributed cache's materializing count
    // (gate 0 skips the pre-count entirely — the forced-distributed
    // ladder contract).
    def guard(nEdges: Long, release: => Unit): Unit =
      if (nEdges == 0 || nEdges > 4000000000000L) {
        release
        require(nEdges > 0, "hitsMicro: empty edge list - the round " +
          "normalizer max(araw) would be undefined")
        require(nEdges <= 4000000000000L,
          s"hitsMicro: $nEdges edges - a per-node long raw sum could " +
            "overflow past ~9.2e12 incident mass; widen the sums to decimal")
      }
    val nPre = if (driverFinishEdges > 0) e.count() else -1L
    if (driverFinishEdges > 0) guard(nPre, ())
    // driver path skips the two per-direction repartitioned caches
    // (distributed-only machinery — the pageRankMicro r14 slimming)
    if (driverFinishEdges > 0 && nPre <= driverFinishEdges &&
        DriverFinish.take(driverFinishEdges, nPre)) {
      hitsDriver(edges.sparkSession, e, iterations)
    } else {
    val eS = e.repartition(col("src")).persist()
    val nEdges = eS.count()
    guard(nEdges, eS.unpersist())
      val eD = e.repartition(col("dst")).persist()
      eD.count()
      val nodes = eS.select(col("src").as("node"))
        .union(eD.select(col("dst").as("node")))
        .distinct().localCheckpoint()
      // Only the |V|-row normalize multiply (raw · 10⁶, which
      // overflows long past ~9.2·10⁶ of summed mass) widens to
      // decimal — same integers as an all-decimal pipeline.
      var h = nodes.withColumn("h", lit(1000000L))
      var a: DataFrame = null
      for (i <- 1 to iterations) {
        val prevA = a
        val prevH = if (i > 1) h else null
        // authority sum: the src-partitioned edge cache joins the
        // hub vector, partial-aggregates map-side, exchanges only
        // per-dst contributions. The raw frame is MATERIALIZED before
        // its two consumers (ADVICE r9): the max() normalizer and the
        // normalize select would otherwise each replay the Θ(|E|)
        // edge join — per-round cost was 2× the documented shape.
        val araw = eS.join(h.hint("shuffle_hash"), col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(col("h")).as("araw"))
          .localCheckpoint()
        val aM = araw.agg(max(col("araw")).as("am"))
        a = araw.crossJoin(broadcast(aM))
          .select(col("dst").as("node"),
            expr("CAST((CAST(araw AS DECIMAL(38,0)) * 1000000) div am AS BIGINT)")
              .as("a"))
          .localCheckpoint()
        Checkpoints.unpersist(araw)
        if (prevA != null) Checkpoints.unpersist(prevA)
        val hraw = eD.join(a.hint("shuffle_hash"), col("dst") === col("node"))
          .groupBy(col("src"))
          .agg(sum(col("a")).as("hraw"))
          .localCheckpoint()
        val hM = hraw.agg(max(col("hraw")).as("hm"))
        h = hraw.crossJoin(broadcast(hM))
          .select(col("src").as("node"),
            expr("CAST((CAST(hraw AS DECIMAL(38,0)) * 1000000) div hm AS BIGINT)")
              .as("h"))
          .localCheckpoint()
        Checkpoints.unpersist(hraw)
        if (prevH != null) Checkpoints.unpersist(prevH)
      }
      val out = nodes
        .join(h, Seq("node"), "left")
        .join(a, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("h"), lit(0L)).as("hub_micro"),
          coalesce(col("a"), lit(0L)).as("auth_micro"))
        .localCheckpoint()
      Checkpoints.unpersist(h)
      Checkpoints.unpersist(a)
      Checkpoints.unpersist(nodes)
      eS.unpersist()
      eD.unpersist()
      out
    }
    }
  }

  /** Bounded-collect driver rounds for [[hitsMicro]]: the same
    * max-normalized integer updates over the collected edges, raw
    * sums in BigInteger (the decimal(38,0) twin), floor divisions on
    * non-negative operands — bit-identical to the distributed form. */
  private def hitsDriver(spark: org.apache.spark.sql.SparkSession,
                         e: DataFrame, iterations: Int): DataFrame = {
    import spark.implicits._
    import java.math.BigInteger
    val rows = e.as[(Long, Long)].collect()
    val nodes = (rows.map(_._1) ++ rows.map(_._2)).distinct
    val M = BigInteger.valueOf(1000000L)
    var h = scala.collection.mutable.LongMap.empty[Long]
    nodes.foreach(n => h(n) = 1000000L)
    var a = scala.collection.mutable.LongMap.empty[Long]
    for (_ <- 1 to iterations) {
      val araw = scala.collection.mutable.LongMap.empty[BigInteger]
      rows.foreach { case (s, d) =>
        h.get(s).foreach { hs =>
          araw(d) = araw.getOrElse(d, BigInteger.ZERO)
            .add(BigInteger.valueOf(hs))
        }
      }
      val am = araw.values.max
      a = araw.map { case (n, v) =>
        n -> v.multiply(M).divide(am).longValueExact()
      }.to(scala.collection.mutable.LongMap)
      val hraw = scala.collection.mutable.LongMap.empty[BigInteger]
      rows.foreach { case (s, d) =>
        a.get(d).foreach { ad =>
          hraw(s) = hraw.getOrElse(s, BigInteger.ZERO)
            .add(BigInteger.valueOf(ad))
        }
      }
      val hm = hraw.values.max
      h = hraw.map { case (n, v) =>
        n -> v.multiply(M).divide(hm).longValueExact()
      }.to(scala.collection.mutable.LongMap)
    }
    spark.createDataset(spark.sparkContext.parallelize(
        nodes.toSeq.map(n => (n, h.getOrElse(n, 0L), a.getOrElse(n, 0L)))))
      .toDF("node", "hub_micro", "auth_micro")
  }

  /** Newman modularity of a NODE-ATTRIBUTE partition (Newman &
    * Girvan, Phys Rev E 2004; Newman, PNAS 2006): for each community
    * c, Q_c = e_c/m − (deg_c/2m)² — the intra-community edge share
    * minus the share expected under the degree-preserving null model.
    * Σ_c Q_c is the partition's modularity; per-community rows let the
    * caller see WHICH attribute values cluster more than chance (the
    * partition-quality companion to [[assortativity]]'s degree mixing
    * — that one asks "do hubs link to hubs", this one "does the
    * attribute explain the edges").
    *
    * Cross-engine exactness (the assortativity discipline): e_c,
    * deg_c and m are exact integers, the numerator 4·m·e_c − deg_c²
    * an exact decimal(38,0)/HUGEINT, and the single fp step
    * num / (4m²) happens ONCE on identically-rounded doubles.
    *
    * `nodeComm` maps node → community (one row per node). Nodes
    * absent from it are excluded along with ALL their edges — the
    * operator computes over the INDUCED SUBGRAPH on mapped nodes, so
    * degrees, intra counts and m are consistent by construction
    * (Σ_c deg_c = 2m exactly; an edge with one unmapped end
    * contributes to nothing, rather than silently inflating one
    * community's degree while m floors an odd end-count — review
    * r13). Isolated nodes (degree 0) carry no edge ends, so they
    * never enter any term; `n_nodes` counts CONNECTED nodes per
    * community by contract.
    *
    * Scale shape: canonical edge set deduped once, joined ONCE per
    * endpoint against the node→community map (a dimension — Catalyst
    * broadcasts it when small, shuffle-hash when not), and the
    * community-tagged edge frame materialized once for its three
    * consumers (degrees, n_nodes, intra); one map-side-combinable
    * aggregate per term; the final window runs over ≤|communities|
    * rows (an attribute's cardinality, not the graph), so its
    * single-partition exchange is constant-size at any edge count. */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
                 nodeComm: DataFrame, nodeCol: String,
                 commCol: String,
                 assumeCanonical: Boolean = false): DataFrame = {
    val nc = nodeComm.select(col(nodeCol).cast("long").as("node"),
      col(commCol).as("community"))
    // induced subgraph: both endpoints must map — the inner joins
    // drop any edge touching an unmapped node BEFORE degrees are
    // counted, so every surviving edge contributes exactly two ends.
    // assumeCanonical: the caller's frame is already (a < b, distinct)
    // — skip the canonicalization shuffle (the result frame below is
    // checkpointed and owned here either way).
    val canon = if (assumeCanonical)
        edges.select(col(aCol).cast("long").as("a"),
          col(bCol).cast("long").as("b"))
      else edges.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
    val und = canon
      .join(nc.select(col("node").as("na"), col("community").as("ca")),
        col("a") === col("na"))
      .join(nc.select(col("node").as("nb"), col("community").as("cb")),
        col("b") === col("nb"))
      .select(col("a"), col("b"), col("ca"), col("cb"))
      .localCheckpoint()
    val ends = und.select(col("a").as("s"), col("ca").as("community"))
      .union(und.select(col("b").as("s"), col("cb").as("community")))
    val degComm = ends.groupBy(col("s"), col("community"))
      .agg(count(lit(1)).as("deg"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val intra = und
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    // Σ_c deg_c = 2m exactly (both ends of every surviving edge map
    // to a community by the induced-subgraph joins above) — so the
    // scalar m rides a window over the tiny community frame instead
    // of a one-row broadcast join
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val out = degComm.join(intra, Seq("community"), "left")
      .select(col("community"), col("n_nodes"), col("deg_sum"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"))
      // 2m is even by construction; shiftright keeps the halving in
      // exact integer arithmetic (long `/ 2` would detour via double)
      .withColumn("m", shiftright(sum(col("deg_sum")).over(w), 1).cast("decimal(38,0)"))
      .select(col("community"), col("n_nodes"), col("intra_edges"),
        col("deg_sum"),
        round(
          (lit(4).cast("decimal(38,0)") * col("m")
            * col("intra_edges").cast("decimal(38,0)")
            - col("deg_sum").cast("decimal(38,0)")
              * col("deg_sum").cast("decimal(38,0)")).cast("double")
          / (lit(4).cast("decimal(38,0)") * col("m") * col("m")).cast("double"),
          6).as("q"))
      .localCheckpoint()
    Checkpoints.unpersist(und)
    out
  }
}
