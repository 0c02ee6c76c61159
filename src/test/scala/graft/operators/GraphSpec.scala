package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, lit, max}

import graft.streaming.SparkSpec

/** [[Graph.pageRankMicro]] against an independent in-memory reference
  * implementing the same integer recurrence — any divergence in the
  * distributed join/agg plumbing (lost contributions, double-counted
  * edges, wrong coalesce) shows up as an exact-integer mismatch. */
class GraphSpec extends SparkSpec {

  /** Reference: same floor-division micro-unit recurrence, driver-side. */
  private def referenceRanks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = edges.map(_._1).distinct
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val contribs = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => (85L * r(s)) / (100L * outdeg(s)) }.sum
      }
      r = nodes.map(n => n -> (150000L + contribs.getOrElse(n, 0L))).toMap
    }
    r
  }

  test("pageRankMicro matches the integer reference on an asymmetric graph") {
    import spark.implicits._
    // a hub (1) with spokes, a chain, and a cycle — asymmetric degrees
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (4L, 5L), (5L, 6L), (6L, 4L))
    val directed = und ++ und.map(_.swap)
    val got = Graph.pageRankMicro(directed.toDF("src", "dst"), "src", "dst", iterations = 5)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(got == referenceRanks(directed, 5))
  }

  test("dangling sink fails loudly; validateUniverse=false opts out deliberately") {
    import spark.implicits._
    // node 4 is a pure sink: appears as dst, never as src — the
    // contract must fire on BOTH the driver-finish and the
    // distributed validation paths
    val dangling = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L))
    for (thr <- Seq(1000000L, 0L)) {
      val ex = intercept[IllegalArgumentException] {
        Graph.pageRankMicro(dangling.toDF("src", "dst"), "src", "dst",
          iterations = 2, driverFinishEdges = thr)
      }
      assert(ex.getMessage.contains("dangling sink"))
      assert(ex.getMessage.contains("4"), s"should name the offending node: ${ex.getMessage}")
    }
    // explicit opt-out still computes (documented mass-leak semantics)
    val ranks = Graph.pageRankMicro(dangling.toDF("src", "dst"), "src", "dst",
      iterations = 2, validateUniverse = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.keySet == Set(1L, 2L, 3L), "universe stays the source set")
  }

  test("hub outranks spokes; ranks are deterministic across reruns") {
    import spark.implicits._
    val star = (2L to 9L).flatMap(i => Seq((1L, i), (i, 1L)))
    val df = star.toDF("src", "dst")
    val a = Graph.pageRankMicro(df, "src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.pageRankMicro(df, "src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "reruns must be bit-identical")
    assert(a(1L) > a(2L) * 4, "the hub must dominate the spokes")
    assert((2L to 9L).map(a).distinct.size == 1, "symmetric spokes must tie exactly")
  }

  test("checkpointed edge partitioning survives: per-round join exchanges only the rank side") {
    import spark.implicits._
    // the mechanism pageRankMicro/shortestHops lean on: repartition on
    // the join key + localCheckpoint yields a frame whose
    // outputPartitioning satisfies the join's requirement, so joining
    // a small frame against it shuffles ONLY the small frame
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevCache = spark.conf
      .get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
    try {
      // disable broadcast so the join REQUIRES hash partitioning —
      // the question under test is whether the cached side already
      // satisfies it. Spark 4 runs AQE on cached plans by default,
      // which hides their partitioning from the outer planner; pin it
      // off (the same pin pageRankMicro applies for its rounds)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      val edges = (1L to 1000L).map(i => (i % 50, i)).toDF("src", "dst")
        .repartition(col("src")).persist()
      edges.count() // materialize: partitioning is knowable only once the cached AQE plan is final
      val ranks = (0L to 49L).map(n => (n, n * 100)).toDF("node", "r")
      val joined = edges.join(ranks, col("src") === col("node"))
      val plan = joined.queryExecution.executedPlan.toString
      // the cached plan's own one-time REPARTITION_BY_COL prints as
      // part of the InMemoryRelation subtree — the gate is on
      // JOIN-TIME exchanges (ENSURE_REQUIREMENTS): the rank side gets
      // one, the edge side must get none
      assert("Exchange hashpartitioning\\(node[^\n]*ENSURE_REQUIREMENTS".r
        .findAllIn(plan).nonEmpty
        && "Exchange hashpartitioning\\(src[^\n]*ENSURE_REQUIREMENTS".r
          .findAllIn(plan).isEmpty,
        s"edge side re-shuffled at join time — cache lost its partitioning:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", prevCache)
    }
  }

  test("shortestHops: bounded BFS on a path, unreached nodes absent") {
    import spark.implicits._
    val path = (1L to 5L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val got = Graph.shortestHops(path.toDF("src", "dst"), "src", "dst",
        Seq(1L).toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L),
      s"nodes 5,6 lie beyond 3 hops and must be absent: $got")
  }

  test("shortestHops: multi-source takes the minimum over seeds") {
    import spark.implicits._
    val path = (1L to 5L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val got = Graph.shortestHops(path.toDF("src", "dst"), "src", "dst",
        Seq(1L, 6L).toDF("node"), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L, 6L -> 0L))
  }

  test("triangleCounts matches brute-force enumeration on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 10 + trial * 5
      val und = for {
        a <- 0 until n; b <- a + 1 until n if rnd.nextInt(100) < 30
      } yield (a.toLong, b.toLong)
      // feed the kernel messy input: duplicates, reversed copies, and a
      // self-loop — canonicalization must absorb all three
      val messy = und ++ und.take(5) ++ und.map(_.swap) ++ Seq((3L, 3L))
      val got = Graph.triangleCounts(Graph.Undirected(messy.toDF("a", "b"), "a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // distributed path (gate 0) must agree exactly with the
      // driver-finish path the small fixture takes by default
      val dist = Graph.triangleCounts(Graph.Undirected(messy.toDF("a", "b"), "a", "b"),
          driverFinishEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == got, s"driver/distributed paths diverge (trial $trial)")
      val es = und.toSet
      def conn(x: Long, y: Long) = es.contains((math.min(x, y), math.max(x, y)))
      val want = (for {
        a <- 0L until n; b <- a + 1 until n; c <- b + 1 until n
        if conn(a, b) && conn(b, c) && conn(a, c)
        node <- Seq(a, b, c)
      } yield node).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == want, s"trial $trial (n=$n)")
    }
  }

  test("triangleCounts distributed plan carries the wedge bloom prune") {
    import spark.implicits._
    // the sketch-prunes-exact-confirms gate: losing the bloom filter
    // silently reverts the closing semi join to shuffling EVERY
    // wedge. The kernel materializes its result internally (eager
    // checkpoint), so capture the executed plans as they run.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val und = (for { a <- 0 until 12; b <- a + 1 until 12 } yield
        (a.toLong, b.toLong)).filter { case (a, b) => (a + b) % 3 != 0 }
      val out = Graph.triangleCounts(Graph.Undirected(und.toDF("a", "b"), "a", "b"),
        driverFinishEdges = 0L)
      assert(out.collect().nonEmpty)
      // listener delivery is async — poll briefly for the wedge plan
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var seen = false
      while (!seen && System.nanoTime() < deadline) {
        seen = plans.toArray(Array.empty[String]).exists(_.contains("bloom_contains"))
        if (!seen) Thread.sleep(50)
      }
      assert(seen,
        "no executed plan contained bloom_contains — the wedge prune is gone")
    } finally spark.listenerManager.unregister(listener)
  }

  test("triangleCounts: hub star has none, closing one edge makes exactly one") {
    import spark.implicits._
    // star K1,5: every wedge goes through the hub, no triangle — the
    // shape the degree orientation exists for (hub gets no out-edges)
    val star = (2L to 6L).map(i => (1L, i))
    assert(Graph.triangleCounts(Graph.Undirected(star.toDF("a", "b"), "a", "b")).isEmpty)
    val one = Graph.triangleCounts(Graph.Undirected((star :+ (2L, 3L)).toDF("a", "b"), "a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  /** Reference LPA: same canonicalization, same synchronous
    * most-frequent-neighbor update, same (count desc, label asc)
    * tie-break — plain collections. */
  private def referenceLpa(und: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val ec = und.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(p => p._1 != p._2).distinct
    val sym = ec ++ ec.map(_.swap)
    var lbl = sym.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      lbl = sym.groupBy(_._2).map { case (d, es) =>
        val counts = es.map { case (s, _) => lbl(s) }
          .groupBy(identity).map { case (l, xs) => (l, xs.size) }
        d -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lbl
  }

  private def runLpa(und: Seq[(Long, Long)], rounds: Int,
                     gate: Long): Map[Long, Long] = {
    import spark.implicits._
    Graph.labelPropagation(Graph.Undirected(und.toDF("a", "b"), "a", "b"), rounds,
        driverFinishEdges = gate)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("labelPropagation: disjoint triangles converge to per-component communities") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    val got = runLpa(und, rounds = 4, gate = 1000000L)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    assert(got == referenceLpa(und, 4))
  }

  test("labelPropagation: driver finish and forced-distributed rounds are identical") {
    val rnd = new scala.util.Random(907)
    (1 to 2).foreach { trial =>
      // two planted clusters + sparse noise, duplicates/reversed/self
      // loops mixed in to exercise the canonicalization
      val planted = (0 until 8).flatMap(i => (i + 1 until 8).map(j =>
          (i.toLong, j.toLong))).filter(_ => rnd.nextInt(3) > 0) ++
        (20 until 28).flatMap(i => (i + 1 until 28).map(j =>
          (i.toLong, j.toLong))).filter(_ => rnd.nextInt(3) > 0)
      val noise = Seq.fill(6)((rnd.nextInt(28).toLong, rnd.nextInt(28).toLong))
      val und = rnd.shuffle(planted ++ planted.map(_.swap) ++ noise)
      val want = referenceLpa(und, 3)
      assert(runLpa(und, 3, gate = 1000000L) == want, s"driver path, trial $trial")
      assert(runLpa(und, 3, gate = 0L) == want, s"distributed path, trial $trial")
    }
  }

  /** Reference k-core: plain in-memory peel to fixpoint. */
  private def referenceCore(und: Seq[(Long, Long)], k: Long): Map[Long, Long] = {
    var es = und.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    var changed = true
    while (changed) {
      val deg = (es.map(_._1) ++ es.map(_._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size.toLong }
      val next = es.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      changed = next.length != es.length
      es = next
    }
    (es.map(_._1) ++ es.map(_._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
  }

  private def runCore(und: Seq[(Long, Long)], k: Long, gate: Long,
                      maxRounds: Int = 12): Map[Long, Long] = {
    import spark.implicits._
    Graph.kCore(Graph.Undirected(und.toDF("a", "b"), "a", "b"), k = Some(k),
        maxRounds = maxRounds, driverFinishEdges = gate)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("kCore: pendant peels at k=2, the whole graph dissolves at k=3") {
    // square 1-2-3-4 with diagonal 1-3, pendant 5 hanging off 1
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (1L, 5L))
    assert(runCore(und, k = 2, gate = 1000000L)
      == Map(1L -> 3L, 2L -> 2L, 3L -> 3L, 4L -> 2L))
    // k=3: removing the deg-2 corners cascades to nothing
    assert(runCore(und, k = 3, gate = 1000000L).isEmpty)
  }

  test("kCore: a tail peels over cascading rounds, the clique survives") {
    // K4 on 1..4 with the path 4-5-6-7: 7, then 6, then 5 peel
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    val want = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L)
    assert(runCore(und, k = 2, gate = 1000000L) == want, "driver path")
    assert(runCore(und, k = 2, gate = 0L) == want, "distributed path")
    assert(referenceCore(und, 2L) == want)
  }

  test("kCore: an over-budget peel fails loudly instead of diverging") {
    // a 9-node path at k=2 needs 4 cascading rounds per side — with
    // maxRounds=2 the distributed kernel must REQUIRE-fail, because
    // the fixed-round oracle would silently report the partial peel
    val path = (1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq
    val ex = intercept[Exception] { runCore(path, 2, gate = 0L, maxRounds = 2) }
    val all = ex.getMessage +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(all.contains("maxRounds"), s"expected the round guard, got: $all")
    // the same input converges (to empty) under the default budget
    assert(runCore(path, 2, gate = 0L).isEmpty)
  }

  /** Reference SSSP: plain Bellman-Ford to fixpoint. */
  private def referenceSssp(edges: Seq[(Long, Long, Long)],
                            seeds: Seq[Long]): Map[Long, Long] = {
    var dist = seeds.map(_ -> 0L).toMap
    var changed = true
    while (changed) {
      changed = false
      val next = scala.collection.mutable.Map(dist.toSeq: _*)
      edges.foreach { case (s, d, w) =>
        dist.get(s).foreach { ds =>
          if (next.get(d).forall(ds + w < _)) { next(d) = ds + w; changed = true }
        }
      }
      dist = next.toMap
    }
    dist
  }

  private def runSssp(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
                      gate: Long, maxRounds: Int = 10): Map[Long, Long] = {
    import spark.implicits._
    Graph.ssspMicro(edges.toDF("src", "dst", "w"), "src", "dst", "w",
        seeds.toDF("node"), maxRounds = maxRounds, driverFinishEdges = gate)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("ssspMicro: a cheap two-hop path beats the direct expensive edge") {
    val edges = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 100L))
    val want = Map(1L -> 0L, 2L -> 10L, 3L -> 20L)
    assert(runSssp(edges, Seq(1L), gate = 1000000L) == want, "driver path")
    assert(runSssp(edges, Seq(1L), gate = 0L) == want, "distributed path")
  }

  test("ssspMicro: matches the reference on random weighted graphs, both paths") {
    val rnd = new scala.util.Random(1229)
    (1 to 2).foreach { trial =>
      val edges = Seq.fill(60)((rnd.nextInt(14).toLong,
        rnd.nextInt(14).toLong, rnd.nextInt(50).toLong + 1L))
        .filter { case (s, d, _) => s != d }
      val seeds = Seq(0L, 7L)
      val want = referenceSssp(edges, seeds)
      assert(runSssp(edges, seeds, gate = 1000000L) == want, s"driver, trial $trial")
      assert(runSssp(edges, seeds, gate = 0L) == want, s"distributed, trial $trial")
    }
  }

  test("ssspMicro: over-budget relaxation fails loudly; negative weight rejected") {
    val path = (1L to 7L).sliding(2).map(s => (s(0), s(1), 5L)).toSeq
    val ex = intercept[Exception] { runSssp(path, Seq(1L), gate = 0L, maxRounds = 2) }
    val all = ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(all.contains("maxRounds"), s"expected the round guard, got: $all")
    val ex2 = intercept[Exception] {
      runSssp(Seq((1L, 2L, -3L)), Seq(1L), gate = 0L)
    }
    val all2 = ex2.getMessage + Option(ex2.getCause).map(_.getMessage).getOrElse("")
    assert(all2.contains("negative weight"), s"expected the weight guard, got: $all2")
  }

  test("commonNeighbors: counts shared neighbors of non-adjacent pairs only") {
    import spark.implicits._
    // 1-2, 2-3, 1-4, 4-3, 1-3: the one non-adjacent pair is (2,4),
    // sharing {1,3}; every adjacent pair is excluded no matter its count
    val und = Seq((1L, 2L), (2L, 3L), (1L, 4L), (4L, 3L), (1L, 3L))
    val got = Graph.commonNeighbors(Graph.Undirected(und.toDF("a", "b"), "a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((2L, 4L, 2L)), s"got $got")
  }

  test("commonNeighbors: matches brute force, top-N cut is total-ordered") {
    import spark.implicits._
    val rnd = new scala.util.Random(75)
    val und = Seq.fill(60)((rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
    val es = und.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    val want = (for {
      i <- nodes; j <- nodes if i < j && !adj(i).contains(j)
      c = (adj(i) & adj(j)).size if c > 0
    } yield (i, j, c.toLong))
      .sortBy { case (a, b, c) => (-c, a, b) }.take(7)
    val got = Graph.commonNeighbors(Graph.Undirected(und.toDF("a", "b"), "a", "b"), topN = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"got $got want $want")
  }

  test("adamicAdar: rare shared neighbor outranks a hub; adjacent pairs excluded") {
    import spark.implicits._
    // hub 0 touches 1..5 (deg 6 with 6); z=6 touches only {1, 2}
    // (deg 2, weighted 1/ln 2 ≈ 1.44e6). Pair (1,2) shares {0, 6};
    // pairs (3,4),(3,5),(4,5) share only the hub 0 — so (1,2) tops
    // the ranking on the rare-neighbor weight.
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L),
      (0L, 6L), (6L, 1L), (6L, 2L))
    val got = Graph.adamicAdar(Graph.Undirected(und.toDF("a", "b"), "a", "b"), topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    def w(deg: Int): Long = new java.math.BigDecimal(1000000 / math.log(deg.toDouble))
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    // deg: 0 -> 6, 6 -> 3 (it touches 0, 1, 2), 1/2 -> 2, 3/4/5 -> 1
    val hub = w(6)
    val rare = w(3)
    // (1,2) shares {0, 6} -> hub+rare, strictly on top; every other
    // non-adjacent pair shares exactly the hub; (a, b) breaks ties
    // at the topN=10 cut
    val hubPairs = Seq((1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L), (2L, 4L),
      (2L, 5L), (3L, 4L), (3L, 5L), (3L, 6L))
    val want = (1L, 2L, 2L, hub + rare) +: hubPairs.map { case (a, b) => (a, b, 1L, hub) }
    assert(got == want, s"got $got want $want")
    // adjacency exclusion: no output pair touches an input edge
    assert(!got.exists { case (a, b, _, _) =>
      und.contains((a, b)) || und.contains((b, a)) })
  }

  test("jaccardLinks: matches brute force; full-overlap pair scores 1e6 exactly") {
    import spark.implicits._
    // twins 4 and 5 share the identical neighborhood {1,2,3} (and the
    // spokes {1,2,3} symmetrically share {4,5}): every non-adjacent
    // pair in this complete-bipartite graph is a perfect-overlap pair
    // scoring exactly 10^6, ordered by (a, b)
    val twins = Seq((4L, 1L), (4L, 2L), (4L, 3L), (5L, 1L), (5L, 2L), (5L, 3L))
    val gotTwins = Graph.jaccardLinks(Graph.Undirected(twins.toDF("a", "b"), "a", "b"), topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(gotTwins == Seq((1L, 2L, 1000000L), (1L, 3L, 1000000L),
      (2L, 3L, 1000000L), (4L, 5L, 1000000L)), s"got $gotTwins")
    val rnd = new scala.util.Random(518)
    val und = Seq.fill(60)((rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
    val es = und.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    val want = (for {
      i <- nodes; j <- nodes if i < j && !adj(i).contains(j)
      c = (adj(i) & adj(j)).size if c > 0
    } yield (i, j, c.toLong,
      1000000L * c / (adj(i).size + adj(j).size - c)))
      .sortBy { case (a, b, _, s) => (-s, a, b) }.take(7)
    val got = Graph.jaccardLinks(Graph.Undirected(und.toDF("a", "b"), "a", "b"), topN = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want, s"got $got want $want")
  }

  test("assortativity: star is perfectly disassortative, cycle undefined, random matches reference") {
    import spark.implicits._
    def run(und: Seq[(Long, Long)]): (Long, Option[Double]) = {
      val r = Graph.assortativity(Graph.Undirected(und.toDF("a", "b"), "a", "b")).collect().head
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    }
    // star: every edge links deg-5 hub to a deg-1 leaf → r = −1
    val star = (1L to 5L).map(l => (0L, l))
    assert(run(star) == ((10L, Some(-1.0))), s"star: ${run(star)}")
    // cycle: regular graph, zero degree variance → NULL by contract
    val cycle = (0L until 6L).map(i => (i, (i + 1) % 6))
    assert(run(cycle) == ((12L, None)), s"cycle: ${run(cycle)}")
    // random graph vs an independent double-precision reference
    val rnd = new scala.util.Random(91)
    val und = Seq.fill(40)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter { case (a, b) => a != b }
    val es = und.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val deg = es.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val ends = es.flatMap { case (a, b) => Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val n = ends.size.toLong
    val (sx, sy) = (ends.map(_._1).sum, ends.map(_._2).sum)
    val sxy = ends.map(e => e._1 * e._2).sum
    val (sxx, syy) = (ends.map(e => e._1 * e._1).sum, ends.map(e => e._2 * e._2).sum)
    val num = (n * sxy - sx * sy).toDouble
    val den = math.sqrt((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble)
    val want = new java.math.BigDecimal(num / den)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(run(und) == ((n, Some(want))), s"random: ${run(und)} want ($n, $want)")
  }

  test("adamicAdar: matches brute force on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(331)
    val und = Seq.fill(60)((rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
    val es = und.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    def w(deg: Int): Long = new java.math.BigDecimal(1000000 / math.log(deg.toDouble))
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val nodes = adj.keys.toSeq.sorted
    val want = (for {
      i <- nodes; j <- nodes if i < j && !adj(i).contains(j)
      zs = (adj(i) & adj(j)).filter(z => adj(z).size >= 2) if zs.nonEmpty
    } yield (i, j, zs.size.toLong, zs.toSeq.map(z => w(adj(z).size)).sum))
      .sortBy { case (a, b, _, s) => (-s, a, b) }.take(7)
    val got = Graph.adamicAdar(Graph.Undirected(und.toDF("a", "b"), "a", "b"), topN = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want, s"got $got want $want")
  }

  test("kCore: driver finish and forced-distributed peel are identical on random graphs") {
    val rnd = new scala.util.Random(412)
    (1 to 3).foreach { trial =>
      val n = 24
      val und = rnd.shuffle(Seq.fill(70)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)) ++
        // duplicates and reversed pairs exercise canonicalization
        Seq((3L, 7L), (7L, 3L), (3L, 7L)))
      val want = referenceCore(und, 4L)
      assert(runCore(und, 4, gate = 1000000L) == want, s"driver path, trial $trial")
      assert(runCore(und, 4, gate = 0L) == want, s"distributed path, trial $trial")
    }
  }

  /** Independent HITS reference: the same max-normalized integer
    * recurrence over plain Maps with BigInt sums — a different data
    * layout and iteration order from both kernel paths. */
  private def referenceHits(edges: Seq[(Long, Long)],
                            iters: Int): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var h: Map[Long, Long] = nodes.map(_ -> 1000000L).toMap
    var a: Map[Long, Long] = Map.empty
    for (_ <- 1 to iters) {
      val araw = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => BigInt(h.getOrElse(s, 0L)) }.sum
      }
      val am = araw.values.max
      a = araw.map { case (n, v) => n -> (v * 1000000 / am).toLong }
      val hraw = edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map { case (_, d) => BigInt(a(d)) }.sum
      }
      val hm = hraw.values.max
      h = hraw.map { case (n, v) => n -> (v * 1000000 / hm).toLong }
    }
    nodes.map(n => n -> (h.getOrElse(n, 0L), a.getOrElse(n, 0L))).toMap
  }

  private def runHits(edges: Seq[(Long, Long)], iters: Int,
                      gate: Long): Map[Long, (Long, Long)] = {
    import spark.implicits._
    Graph.hitsMicro(edges.toDF("src", "dst"), "src", "dst",
        iterations = iters, driverFinishEdges = gate)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("hitsMicro: the best-connected hub and authority top their sides") {
    // bipartite buyers {1,2,3} → products {10,11,12}: buyer 1 buys
    // everything (best hub), product 10 is bought by everyone (best
    // authority); buyer 3 and product 12 touch only each other
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L), (3L, 10L))
    val want = referenceHits(edges, 4)
    val got = runHits(edges, 4, gate = 1000000L)
    assert(got == want, s"got $got want $want")
    // max-normalization pins the leaders at exactly 10^6
    assert(got(1L)._1 == 1000000L && got(10L)._2 == 1000000L)
    // pure sources have auth 0; pure sinks hub 0
    assert(got(1L)._2 == 0L && got(10L)._1 == 0L)
    // the weakest hub scores strictly below the strongest
    assert(got(3L)._1 < got(2L)._1 && got(2L)._1 < got(1L)._1)
  }

  test("hitsMicro: driver and distributed paths match the reference on random digraphs") {
    val rnd = new scala.util.Random(977)
    (1 to 2).foreach { trial =>
      // general (non-bipartite) digraph: cycles, self-referencing
      // communities, multi-role nodes — hub and auth on the same node
      val edges = Seq.fill(60)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .filter { case (s, d) => s != d }.distinct
      val want = referenceHits(edges, 4)
      assert(runHits(edges, 4, gate = 1000000L) == want, s"driver, trial $trial")
      assert(runHits(edges, 4, gate = 0L) == want, s"distributed, trial $trial")
    }
  }

  test("hitsMicro: empty edge list fails loudly") {
    import spark.implicits._
    val ex = intercept[Exception] {
      Graph.hitsMicro(Seq.empty[(Long, Long)].toDF("src", "dst"),
        "src", "dst").collect()
    }
    val all = ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(all.contains("empty edge list"), s"expected the guard, got: $all")
  }

  // ---- maxDegree hub cap (VERDICT r9 #3) -------------------------------

  /** Brute-force capped reference: wedge centers restricted to
    * deg(z) ≤ cap (0 = uncapped); degrees and AA weights always FULL. */
  private def bruteCapped(und: Seq[(Long, Long)], cap: Int)
      : (Map[Long, Set[Long]], Map[Long, Int]) = {
    val es = und.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    (adj, adj.map { case (n, s) => n -> s.size })
  }

  test("hub cap: no-op (delta 0 dropped wedges) when no node exceeds it") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val und = Seq.fill(40)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }
    val before = Graph.droppedWedges(spark)
    val exact = Graph.commonNeighbors(Graph.Undirected(und.toDF("a", "b"), "a", "b"), topN = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val capped = Graph.commonNeighbors(Graph.Undirected(und.toDF("a", "b"), "a", "b"),
        topN = 15, maxDegree = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(capped == exact)
    assert(Graph.droppedWedges(spark) == before,
      "a no-op cap must not count dropped wedges")
  }

  test("hub cap: planted hub is trimmed as center, dropped wedges counted exactly") {
    import spark.implicits._
    // bounded core (path 1-2-3-4, degrees <= 3 with hub) + hub 100
    // touching 1..6: deg(100) = 6 > cap 3 -> 6*5/2 = 15 dropped wedges
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L)) ++
      (1L to 6L).map(n => (100L, n))
    val (adj, deg) = bruteCapped(und, 3)
    val nodes = adj.keys.toSeq.sorted
    def wantCN(cap: Int) = (for {
      i <- nodes; j <- nodes if i < j && !adj(i).contains(j)
      c = (adj(i) & adj(j)).count(z => cap <= 0 || deg(z) <= cap) if c > 0
    } yield (i, j, c.toLong)).sortBy { case (a, b, c) => (-c, a, b) }
    val before = Graph.droppedWedges(spark)
    val got = Graph.commonNeighbors(Graph.Undirected(und.toDF("a", "b"), "a", "b"),
        topN = 100, maxDegree = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == wantCN(3), s"got $got want ${wantCN(3)}")
    assert(Graph.droppedWedges(spark) - before == 15L,
      "dropped-wedge count must be deg*(deg-1)/2 of the one hub")
    // the uncapped kernel still sees the hub's wedges
    val exact = Graph.commonNeighbors(Graph.Undirected(und.toDF("a", "b"), "a", "b"), topN = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(exact == wantCN(0) && exact != got)
  }

  test("hub cap: adamicAdar keeps exact full-degree weights for retained centers") {
    import spark.implicits._
    // z=6 (deg 2, retained) + hub 0 (deg 7, trimmed at cap 3): pair
    // (1,2) keeps EXACTLY w(2) from z — not w of a capped degree
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L),
      (0L, 6L), (0L, 7L), (6L, 1L), (6L, 2L))
    def w(d: Int): Long = new java.math.BigDecimal(1000000 / math.log(d.toDouble))
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val before = Graph.droppedWedges(spark)
    val got = Graph.adamicAdar(Graph.Undirected(und.toDF("a", "b"), "a", "b"),
        topN = 10, maxDegree = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // only z=6 centers wedges now; its single non-adjacent pair is (1,2)
    // with weight w(3): 6 touches {0, 1, 2} so its FULL degree is 3
    assert(got == Seq((1L, 2L, 1L, w(3))), s"got $got")
    assert(Graph.droppedWedges(spark) - before == 21L) // 7*6/2
  }

  test("labelprop round argmax plans a HashAggregate, never a SortAggregate") {
    import spark.implicits._
    // the exact per-round shape labelPropagation builds (r11: encoded
    // argmax over dense labels) — the r10 sort-fallback bug class gate:
    // a struct buffer here would silently re-plan the per-round
    // edge-scale SortAggregate this rewrite deleted
    val ed = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val labels = Seq((1L, 0L), (2L, 1L), (3L, 2L)).toDF("node", "lbl")
    val round = ed.join(labels, col("src") === col("node"))
      .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
      .groupBy(col("dst"))
      .agg(max(EncodedArgmax.maxScoreMinId(col("c"), col("lbl"))).as("e"))
      .select(col("dst").as("node"),
        EncodedArgmax.decodeMaxId(col("e")).as("lbl"))
    val p = round.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("SortAggregate"), s"labelprop round regressed:\n$p")
    assert(p.contains("HashAggregate"), s"expected HashAggregate:\n$p")
  }

  test("wedge-cap default: exact and loud on a planted power-law substrate") {
    import spark.implicits._
    // the r11 decision (VERDICT r10 #7): maxDegree=0 stays the default
    // — exactness is never silently traded — and the skew PRECHECK
    // warns loudly instead. Substrate: one hub of degree 60 over a
    // sparse ring — the power-law shape where the hub owns ~99% of
    // all wedges and wedges/edges far exceeds the bounded-degree band.
    val hub = (1 to 300).map(i => (0L, i.toLong))
    val ring = (1 until 300).map(i => (i.toLong, (i + 1).toLong))
    val und = hub ++ ring
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (n, xs) => n -> xs.map(_._2).toSet }
    val nodes = adj.keys.toSeq.sorted
    val want = (for {
      i <- nodes; j <- nodes if i < j && !adj(i).contains(j)
      c = (adj(i) & adj(j)).size if c > 0
    } yield (i, j, c.toLong)).sortBy { case (a, b, c) => (-c, a, b) }.take(50)
    val got = Graph.commonNeighbors(Graph.Undirected(und.toDF("a", "b"), "a", "b"), topN = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, "the uncapped default must stay exact on a hub graph")
    // the warning DECISION is pure and pinned here (the integration
    // bump rides the same predicate): this substrate's shape —
    // wedges >> 32x symmetric rows — warns once it is also big in
    // absolute terms; balanced or small substrates never warn
    val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    val symRows = 2L * und.size
    assert(wedges > 32L * symRows, "planted substrate must have the skew shape")
    // the MEASUREMENT half extracts exactly these numbers from the
    // symmetric frame (review r11: the aggregate row order/coalesce
    // was untested), and the loud half bumps the session accumulator
    locally {
      import spark.implicits._
      val sym = (und ++ und.map(_.swap)).toDF("s", "d")
      val (w, r, mx) = Graph.wedgeStats(sym)
      assert((w, r) == (wedges, symRows), s"wedgeStats ($w, $r)")
      assert(mx == 300L, s"max degree $mx")
      val before = Graph.skewWarnings(spark)
      Graph.noteSkew(spark, "spec", w, r, mx)
      assert(Graph.skewWarnings(spark) == before + 1,
        "noteSkew must bump the observable accumulator")
      assert(Graph.wedgeStats(Seq.empty[(Long, Long)].toDF("s", "d"))
        == ((0L, 0L, 0L)), "empty frame must coalesce to zeros")
    }
    assert(Graph.wedgeSkewed(wedges * 100000, symRows * 100000 / 64),
      "scaled-up hub substrate must warn")
    assert(!Graph.wedgeSkewed(wedges, symRows),
      "a small graph never warns, whatever its shape")
    assert(!Graph.wedgeSkewed(200000000L, 50000000L),
      "a bounded-degree substrate (wedges ~ 4x rows) never warns")
    assert(Graph.wedgeSkewed(2000000000L, 50000000L),
      "a big skewed substrate warns")
  }

  test("hub cap: jaccardLinks denominator keeps full endpoint degrees") {
    import spark.implicits._
    // hub 0 touches 1..5 (deg 5 > cap 3); z=9 touches {1, 2} (deg 2).
    // Capped: pair (1,2) has n_common 1 (only z), but da=db=2 stays
    // the FULL degree (each of 1,2 touches {0, 9})
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L),
      (9L, 1L), (9L, 2L))
    val before = Graph.droppedWedges(spark)
    val got = Graph.jaccardLinks(Graph.Undirected(und.toDF("a", "b"), "a", "b"),
        topN = 10, maxDegree = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // (0,9) shares {1, 2} (both deg 2, retained centers): n_common 2,
    // da = 5 (hub 0's FULL degree), db = 2 -> 2e6 div 5 = 400000;
    // (1,2) shares only z=9 under the cap: 1e6 div (2 + 2 - 1) = 333333
    assert(got == Seq((0L, 9L, 2L, 400000L), (1L, 2L, 1L, 333333L)),
      s"got $got")
    assert(Graph.droppedWedges(spark) - before == 10L) // 5*4/2
  }

  test("modularity: two bridged cliques, trivial partition is 0, random matches reference") {
    import spark.implicits._
    def run(und: Seq[(Long, Long)], comm: Map[Long, String])
        : Map[String, (Long, Long, Long, Double)] =
      Graph.modularity(Graph.Undirected(und.toDF("a", "b"), "a", "b"),
        comm.toSeq.toDF("node", "c"), "node", "c")
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
        .toMap
    // two triangles bridged by one edge: m=7, each community deg 7,
    // intra 3 → q = (4·7·3 − 49)/(4·49) = 35/196 = 0.178571 apiece
    val bridged = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L))
    val twoComm = Map(0L -> "A", 1L -> "A", 2L -> "A",
      3L -> "B", 4L -> "B", 5L -> "B")
    assert(run(bridged, twoComm) == Map(
      "A" -> ((3L, 3L, 7L, 0.178571)), "B" -> ((3L, 3L, 7L, 0.178571))))
    // the trivial one-community partition has modularity EXACTLY 0:
    // e_c = m and deg_c = 2m cancel against the null model
    val one = run(bridged, (0L to 5L).map(_ -> "all").toMap)
    assert(one == Map("all" -> ((6L, 7L, 14L, 0.0))), s"got $one")
    // partial coverage = INDUCED SUBGRAPH (review r13): dropping node
    // 5 removes edges (3,5),(4,5) from every term — m=5, A keeps its
    // triangle (deg 2+2+3=7), B shrinks to the (3,4) edge with node
    // 3 still touching the bridge (deg 2+1=3); Σ deg_c = 10 = 2m
    // stays even by construction, q = (4·5·3−49)/100 = (4·5·1−9)/100
    val partial = run(bridged, twoComm - 5L)
    assert(partial == Map(
      "A" -> ((3L, 3L, 7L, 0.11)), "B" -> ((2L, 1L, 3L, 0.11))),
      s"got $partial")
    // random graph + random 3-way partition vs a driver reference
    val rnd = new scala.util.Random(17)
    val und = Seq.fill(60)((rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
      .filter { case (a, b) => a != b }
    val es = und.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val comm = (0L until 14L).map(n => n -> s"c${rnd.nextInt(3)}").toMap
    val m = es.size.toLong
    val deg = es.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val want = deg.keys.map(comm).toSeq.distinct.map { c =>
      val nodes = deg.keys.filter(comm(_) == c).toSet
      val degC = nodes.toSeq.map(deg).sum
      val intra = es.count { case (a, b) => nodes(a) && nodes(b) }.toLong
      val q = new java.math.BigDecimal(
          (4.0 * m * intra - degC.toDouble * degC) / (4.0 * m * m))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      c -> ((nodes.size.toLong, intra, degC, q))
    }.toMap
    assert(run(es, comm) == want)
  }

  /** Every undirected kernel (the link predictors also capped), at
    * `gate` where it has one and at its default gate for None. */
  private def undirectedKernels(gate: Option[Long]): Seq[(String, Graph.Undirected => DataFrame)] = {
    import spark.implicits._
    val comm = (1L to 7L).map(n => (n, n % 2)).toDF("node", "community")
    def gated(g: Graph.Undirected, default: Graph.Undirected => DataFrame,
              at: (Graph.Undirected, Long) => DataFrame) =
      gate.fold(default(g))(at(g, _))
    Seq(
      "labelPropagation" -> (g => gated(g, Graph.labelPropagation(_),
        (g, x) => Graph.labelPropagation(g, driverFinishEdges = x))),
      "kCore" -> (g => gated(g, Graph.kCore(_),
        (g, x) => Graph.kCore(g, driverFinishEdges = x))),
      "triangleCounts" -> (g => gated(g, Graph.triangleCounts(_),
        (g, x) => Graph.triangleCounts(g, driverFinishEdges = x))),
      "commonNeighbors" -> (g => Graph.commonNeighbors(g)),
      "commonNeighbors capped" -> (g => Graph.commonNeighbors(g, maxDegree = 2)),
      "adamicAdar" -> (g => Graph.adamicAdar(g)),
      "adamicAdar capped" -> (g => Graph.adamicAdar(g, maxDegree = 2)),
      "jaccardLinks" -> (g => Graph.jaccardLinks(g)),
      "jaccardLinks capped" -> (g => Graph.jaccardLinks(g, maxDegree = 2)),
      "assortativity" -> (g => Graph.assortativity(g)),
      "modularity" -> (g => Graph.modularity(g, comm, "node", "community")))
  }

  private def persistentRddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the checkpointed RDDs `df`'s plan reads. */
  private def readRddIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case l: LogicalRDD => l.rdd.id }.toSet

  for (gate <- Seq(Some(0L), None)) {
    val at = gate.fold("the default gate")(g => s"gate $g")
    test(s"undirected kernels at $at: a canonical set stays persisted; " +
      "a raw set leaves only the output's blocks") {
      import spark.implicits._
      // K4 on 1..4 with the tail 4-5-6-7
      val canon = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
        (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
      val raw = canon ++ canon.map(_.swap) ++ canon.take(3) :+ ((3L, 3L))
      for ((name, run) <- undirectedKernels(gate)) {
        val held = canon.toDF("a", "b").localCheckpoint()
        val heldIds = readRddIds(held)
        val fromHeld = run(Graph.Undirected.canonical(held, "a", "b")).collect()
        assert(heldIds.subsetOf(persistentRddIds),
          s"$name released the caller's canonical set")
        assert(held.count() == canon.size)
        Checkpoints.unpersist(held)

        val before = persistentRddIds
        val out = run(Graph.Undirected(raw.toDF("a", "b"), "a", "b"))
        val left = persistentRddIds -- before
        assert(left.subsetOf(readRddIds(out)),
          s"$name left persistent RDDs its output does not read: ${left -- readRddIds(out)}")
        assert(out.collect().toSeq.map(_.toString).sorted ==
          fromHeld.toSeq.map(_.toString).sorted, s"$name: raw and canonical sets disagree")
        Checkpoints.unpersist(out)
      }
    }
  }

  /** Frees what a leak check's result still holds. */
  private def dropAll(ids: Set[Int]): Unit =
    ids.foreach(id => spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist()))

  test("round-loop kernels at gate 0 keep only the one RDD their result reads") {
    import spark.implicits._
    // two triangles joined by the bridge 3-4, both directions
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
    val sym = (und ++ und.map(_.swap)).toDF("s", "d")
    val weighted = sym.withColumn("w", lit(10L))
    val seeds = Seq(1L).toDF("node")
    val kernels = Seq[(String, () => DataFrame)](
      "pageRankMicro" -> (() => Graph.pageRankMicro(sym, "s", "d", driverFinishEdges = 0L)),
      "shortestHops" -> (() => Graph.shortestHops(sym, "s", "d", seeds, driverFinishEdges = 0L)),
      "ssspMicro" -> (() =>
        Graph.ssspMicro(weighted, "s", "d", "w", seeds, driverFinishEdges = 0L)),
      "labelPropagation" -> (() =>
        Graph.labelPropagation(Graph.Undirected(sym, "s", "d"), driverFinishEdges = 0L)),
      "kCore" -> (() =>
        Graph.kCore(Graph.Undirected(sym, "s", "d"), k = Some(2L), driverFinishEdges = 0L)),
      "hitsMicro" -> (() => Graph.hitsMicro(sym, "s", "d", driverFinishEdges = 0L)),
      "connectedComponents" -> (() =>
        Components.connectedComponents(sym, "s", "d", driverFinishEdges = 0L)))
    val leaks = kernels.flatMap { case (name, run) =>
      val before = persistentRddIds
      val out = run()
      assert(out.collect().length == 6, name)
      val gained = persistentRddIds -- before
      dropAll(gained)
      if (gained.size <= 1 && gained.subsetOf(readRddIds(out))) None
      else Some(s"$name left $gained, its result reads ${readRddIds(out)}")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }

  test("round-loop kernels that throw leave no persistent RDD") {
    import spark.implicits._
    val path = (1L to 9L).map(i => (i, i + 1))
    val seeds = Seq(1L).toDF("node")
    val throwing = Seq[(String, () => DataFrame)](
      "ssspMicro over budget" -> (() => Graph.ssspMicro(
        path.map { case (a, b) => (a, b, 1L) }.toDF("s", "d", "w"), "s", "d", "w", seeds,
        maxRounds = 2, driverFinishEdges = 0L)),
      "kCore over budget" -> (() => Graph.kCore(Graph.Undirected(path.toDF("a", "b"), "a", "b"),
        k = Some(2L), maxRounds = 2, driverFinishEdges = 0L)),
      "pageRankMicro with a dangling sink" -> (() =>
        Graph.pageRankMicro(path.toDF("s", "d"), "s", "d", driverFinishEdges = 0L)),
      "hitsMicro on no edges" -> (() =>
        Graph.hitsMicro(Seq.empty[(Long, Long)].toDF("s", "d"), "s", "d", driverFinishEdges = 0L)))
    val leaks = throwing.flatMap { case (name, run) =>
      val before = persistentRddIds
      intercept[IllegalArgumentException](run())
      val gained = persistentRddIds -- before
      dropAll(gained)
      if (gained.isEmpty) None else Some(s"$name left $gained")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }

  test("one undirected canonicalization and one driver-finish gate call in src/main") {
    assert(SourceSites("""greatest\(col\(""").filter(_._1 == "Graph.scala") ==
      Vector("Graph.scala" -> "Undirected"))
    assert(SourceSites("assumeCanonical").isEmpty)
    assert(SourceSites("""DriverFinish\.take\(""").forall(_._2 == "DriverFinish"))
  }
}
