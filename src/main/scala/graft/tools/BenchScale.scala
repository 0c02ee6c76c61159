package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, Components, Dedup, Graph, Multimodal, Sampling, Similarity}

/** Empirical scale ladders: each mode MEASURES how one operator
  * family's wall time grows with input size on generated data with
  * planted, exactly countable structure, and gates both the output
  * (recall, precision, planted truth) and the fitted log-log exponent.
  *
  * `runMain graft.tools.BenchScale [mode] [n1,n2,...] [extra]` — the
  * modes and their default sizes are [[ladders]]; no mode runs the
  * dedup chain ([[dedupChain]]). Each ladder prints JSON lines per rung
  * and per fitted exponent, including the longest single task per
  * timed region — bounded task duration is the "no straggler blowup"
  * half of every scale claim. SPARK_GRAFT_SCALE_STAGES=1 also prints
  * one `[stage]` line per completed stage to stderr.
  *
  * Dedup-chain corpus ([[genCorpus]], deterministic, pure codegen
  * expressions, no driver loop): doc r%20 ∈ [0,12) is a singleton with
  * its own random 80-word text; r ∈ [12,16) and [16,20) form two
  * 4-member clusters per block sharing a cluster-seeded base text with
  * ~1.7 member-specific word replacements (pairwise J ≈ 0.9 — safely
  * above the 0.7 threshold, where the 4/8 band config holds per-pair
  * recall ≈ 0.89 and 4-member cluster connectivity ≈ 0.999). Words are
  * 4 a-z letters from a seeded hash (~457k vocab, so cross-cluster
  * token overlap is noise). So survivors must be ~0.7·n; >5 % drift
  * means recall collapsed, not scaled.
  */
object BenchScale {

  /** A ladder: its default rung sizes and its run over a session, the
    * session's task meter, the sizes and any extra positional args. */
  final case class Ladder(sizes: Seq[Long],
                          run: (SparkSession, TaskMeter, Seq[Long], Seq[String]) => Unit)

  private def ladder(sizes: Long*)(run: (SparkSession, TaskMeter, Seq[Long]) => Unit): Ladder =
    Ladder(sizes, (spark, meter, ns, _) => run(spark, meter, ns))

  /** The three probe ladders take the query count as the extra arg. */
  private def probeLadder(nQueries: Int, sizes: Long*)(
      run: (SparkSession, TaskMeter, Seq[Long], Int) => Unit): Ladder =
    Ladder(sizes, (spark, meter, ns, extra) =>
      run(spark, meter, ns, extra.headOption.fold(nQueries)(_.trim.toInt)))

  val ladders: Map[String, Ladder] = Map(
    "ann" -> probeLadder(20, 20000L, 100000L, 500000L)(annLadder),
    "mm" -> ladder(10000L, 50000L)(mmLadder),
    "ivfpq" -> probeLadder(200, 2000000L, 5000000L)(ivfPqLadder),
    "pq" -> probeLadder(200, 100000L, 500000L, 2000000L)(pqLadder),
    "semdedup" -> ladder(500000L, 1000000L, 2000000L)(semDedupLadder),
    "graph" -> ladder(1000000L, 4000000L, 16000000L)(graphLadder),
    "lpa" -> ladder(1000000L, 4000000L, 16000000L)(lpaLadder),
    "tpch" -> ladder(600000L, 6000000L, 24000000L)(tpchLadder),
    "bpe" -> ladder(100000L, 400000L, 1600000L)(bpeLadder),
    "shingle" -> ladder(100000L, 400000L, 1600000L)(shingleLadder),
    "sigstore" -> ladder(100000L, 400000L, 1600000L)(sigstoreLadder),
    "zorder" -> ladder(1000000L, 4000000L, 16000000L)(zorderLadder),
    "zorder3" -> ladder(4000000L, 16000000L, 64000000L)(zorder3Ladder),
    "compaction" -> ladder(4000000L, 16000000L, 64000000L)(compactionLadder),
    "modularity" -> ladder(1000000L, 4000000L, 16000000L)(modularityLadder),
    "tri" -> ladder(1000000L, 4000000L, 16000000L)(triLadder),
    "kcore" -> ladder(1000000L, 4000000L, 16000000L)(kcoreLadder),
    "ts" -> ladder(1048576L, 4194304L, 16777216L)(tsLadder),
    "events" -> ladder(1048576L, 4194304L, 16777216L)(eventsLadder),
    "linkpred" -> ladder(1000000L, 4000000L)(linkpredLadder),
    "linkpredskew" -> ladder(1000000L, 4000000L)(linkpredSkewLadder),
    "backoff" -> ladder(100000L, 400000L, 1600000L)(backoffLadder))

  /** What runs when the first arg is a size list or absent. */
  val dedupChain: Ladder = ladder(5000L, 10000L, 20000L, 50000L)(dedupLadder)

  /** The ladder, sizes and extra args that `args` select. */
  def select(args: Seq[String]): (Ladder, Seq[Long], Seq[String]) = {
    val (chosen, rest) = args.headOption match {
      case Some(mode) if !mode.trim.headOption.exists(_.isDigit) =>
        val found = ladders.getOrElse(mode, throw new IllegalArgumentException(
          s"unknown BenchScale mode '$mode'; known modes: ${ladders.keys.toSeq.sorted.mkString(", ")}"))
        (found, args.drop(1))
      case _ => (dedupChain, args)
    }
    val sizes = rest.headOption.fold(chosen.sizes)(_.split(",").map(_.trim.toLong).toSeq)
    (chosen, sizes, rest.drop(1))
  }

  def main(args: Array[String]): Unit = {
    val (chosen, sizes, extra) = select(args.toSeq)
    val spark = graft.GraftSession.builderFromEnv("32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = TaskMeter.attach(spark,
      Option.when(sys.env.contains("SPARK_GRAFT_SCALE_STAGES"))(System.err))
    try chosen.run(spark, meter, sizes, extra) finally spark.stop()
  }

  private val Root = "/tmp/graft_scale"

  /** Writes a generated input under [[Root]]/`path` (untimed setup, so
    * every rung measures scan→execute, not generation) and reads it
    * back. */
  private def staged(spark: SparkSession, path: String)(gen: DataFrame): DataFrame = {
    gen.write.mode("overwrite").parquet(s"$Root/$path")
    spark.read.parquet(s"$Root/$path")
  }

  /** Min-of-2 wall (the box is co-tenant); the longest task over both. */
  private def bestOf2[A](f: => Measured[A]): Measured[A] = {
    val (a, b) = (f, f)
    (if (b.sec < a.sec) b else a).copy(maxTaskSec = math.max(a.maxTaskSec, b.maxTaskSec))
  }

  private def maxTask(ms: Measured[_]*): Double = ms.map(_.maxTaskSec).max

  /** One rung per size, each with its own release scope: a rung's
    * checkpoints and caches are freed before the next rung sizes up —
    * accumulated blocks pressure executor storage memory and bias later
    * rung timings. */
  private def scopedRungs[T](sizes: Seq[Long])(rung: (Long, Checkpoints.Scope) => T): Seq[T] =
    sizes.map(n => Checkpoints.scoped(rung(n, _)))

  /** The scale gate on one series: with two or more rungs, prints
    * {"metric":`metric`,"exponent":e} and requires e ≤ `bound`. */
  private def exponentGate(metric: String, rungs: Seq[(Long, Double)], bound: Double,
                           what: String): Unit =
    if (rungs.size >= 2) {
      val exponent = fitExponent(rungs)
      println(f"""{"metric":"$metric","exponent":$exponent%.3f}""")
      require(exponent <= bound, f"$what: exponent $exponent%.3f > $bound")
    }

  /** Least-squares slope of ln(y) on ln(x) over (x, y) rungs — the
    * log-log exponent every ladder's scale gate tests. */
  private[tools] def fitExponent(rungs: Seq[(Long, Double)]): Double = {
    val xs = rungs.map { case (x, _) => math.log(x.toDouble) }
    val ys = rungs.map { case (_, y) => math.log(y) }
    val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
    xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
  }

  private def word(seed: String): String = {
    val h = s"pmod(xxhash64(concat_ws('_', '$seed', ck, cast(p AS STRING))), 456976)"
    s"concat(char(97 + pmod($h, 26)), char(97 + pmod($h div 26, 26)), " +
      s"char(97 + pmod($h div 676, 26)), char(97 + pmod($h div 17576, 26)))"
  }

  def genCorpus(spark: SparkSession, nDocs: Long): DataFrame = {
    val memberWord = word("m").replace("', ck,", "', ck, cast(r AS STRING),")
    spark.range(nDocs)
      .selectExpr("id AS doc_id", "id div 20 AS b", "id % 20 AS r")
      .selectExpr("doc_id", "r",
        // singletons seed by doc id; cluster members share the block's
        // cluster key, so their base word stream is identical
        """CASE WHEN r < 12 THEN concat('s', cast(doc_id AS STRING))
          |  WHEN r < 16 THEN concat('a', cast(b AS STRING))
          |  ELSE concat('b', cast(b AS STRING)) END AS ck""".stripMargin)
      .selectExpr("doc_id",
        s"""concat_ws(' ', transform(sequence(0, 79), p ->
           |  CASE WHEN r >= 12 AND pmod(p * 7 + r, 46) = 0
           |    THEN $memberWord ELSE ${word("t")} END)) AS text""".stripMargin)
  }

  /** Planted-cluster embeddings for the ANN ladder: 1000 seeded
    * centers, each vector = its center plus ±5 % hash noise, so true
    * nearest neighbors are in-cluster and recall is meaningful (on
    * uniform random vectors every index scores ~0 — no structure to
    * find). Pure codegen expressions, no driver loop. */
  def genEmbeddings(spark: SparkSession, n: Long, dim: Int = 64): DataFrame =
    spark.range(n).selectExpr("id AS vec_id", "id % 1000 AS c")
      .selectExpr("vec_id",
        s"""transform(sequence(0, ${dim - 1}), d -> CAST(
           |  (pmod(xxhash64(c * 7777 + d), 2000) - 1000) / 1000.0 +
           |  (pmod(xxhash64(vec_id * 31 + d), 200) - 100) / 2000.0 AS FLOAT)) AS embedding
           |""".stripMargin)

  private def embeddings(spark: SparkSession, n: Long): DataFrame =
    staged(spark, s"emb_$n")(genEmbeddings(spark, n))

  private def hitPairs(df: DataFrame): Array[(Long, Long)] =
    df.select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  /** `e` as a letters-only token: the tokenizer strips digits. */
  private def letters(e: String): String =
    s"translate(cast(($e) AS string), '0123456789', 'abcdefghij')"

  private def symmetrized(half: DataFrame): DataFrame =
    half.union(half.selectExpr("dst AS src", "src AS dst"))

  /** The graph/lpa substrate: `m` half-edges over n = max(m/8, 100)
    * nodes, symmetrized (average degree ~16), 10 % of them re-targeted
    * to a √n hub set — the degree skew a uniform graph wouldn't have.
    * Self-loops are harmless (PageRank keeps them as mass retention,
    * BFS ignores them). Returns n and the staged edges. */
  private def hubGraph(spark: SparkSession, m: Long): (Long, DataFrame) = {
    val n = math.max(m / 8, 100L)
    val hubs = math.max(math.sqrt(n.toDouble).toLong, 1L)
    val half = spark.range(m).selectExpr(
      s"pmod(xxhash64('s', id), $n) AS src",
      s"""CASE WHEN id % 10 = 0 THEN pmod(xxhash64('h', id), $hubs)
         |  ELSE pmod(xxhash64('d', id), $n) END AS dst""".stripMargin)
    (n, staged(spark, s"graph_$m")(symmetrized(half)))
  }

  /** The tri/kcore substrate with EXACT planted truth: K = max(m/380, 1)
    * 20-cliques (half the edges) plus bipartite noise on a DISJOINT id
    * range (≥ 10⁹, `side` = noise edges / `sideDivisor` nodes per
    * side, so every cycle alternates sides and no noise node touches a
    * clique node). Returns K and the staged edges. */
  private def cliqueGraph(spark: SparkSession, name: String, m: Long,
                          sideDivisor: Long): (Long, DataFrame) = {
    import spark.implicits._
    val S = 20
    val pairDf = (for { i <- 0 until S; j <- i + 1 until S } yield (i, j))
      .toDF("i", "j") // C(20,2) = 190 rows, broadcast
    val k = math.max(m / 2 / 190, 1L) // half the edges are clique edges
    val nNoise = m - k * 190
    val side = math.max(nNoise / sideDivisor, 1L)
    val cliques = spark.range(k).crossJoin(broadcast(pairDf))
      .select((col("id") * S + col("i")).as("a"),
        (col("id") * S + col("j")).as("b"))
    val noise = spark.range(nNoise).selectExpr(
      s"1000000000 + pmod(xxhash64('l', id), $side) AS a",
      s"1500000000 + pmod(xxhash64('r', id), $side) AS b")
    (k, staged(spark, s"${name}_$m")(cliques.union(noise)))
  }

  /** The link-prediction substrate: a bounded-degree uniform graph
    * (`m` half-edges over `n` nodes, plus `plant`'s half-edges),
    * symmetrized, with 50 PLANTED TWINS: node n+i copies base i's exact
    * neighbor set, so (i, n+i) is non-adjacent with IDENTICAL
    * neighborhoods. */
  private def twinGraph(spark: SparkSession, m: Long, n: Long,
                        plant: Option[DataFrame]): DataFrame = {
    val half = spark.range(m).selectExpr(
        s"pmod(xxhash64('s', id), $n) AS src",
        s"pmod(xxhash64('d', id), $n) AS dst")
      // a self-loop on a base would make its twin adjacent; a
      // base-base edge would grow the base's neighborhood with the
      // OTHER base's twin (which copies edges TOWARD bases) while
      // its own twin doesn't follow — breaking the planted
      // neighborhood equality the gate asserts
      .filter("src <> dst AND NOT (src < 50 AND dst < 50)")
    val sym = symmetrized(plant.fold(half)(half.union))
    val twinHalf = sym.filter(col("src") < 50)
      .select((col("src") + n).as("src"), col("dst"))
    sym.union(symmetrized(twinHalf))
  }

  private def dedupLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val rungs = sizes.map { n =>
      val docs = staged(spark, s"docs_$n")(genCorpus(spark, n))
      val chain = meter.measure {
        val edges = Dedup.ngramJaccard(docs, "text", "doc_id", threshold = 0.7,
            spanningOnly = true)
          .select(col("doc_a"), col("doc_b"))
        // driverFinishEdges = 0: the ladder's published closure receipts
        // stay distributed-path (the adaptive driver finish would absorb
        // every rung's sparsified edge set)
        val comp = Components.connectedComponents(edges, "doc_a", "doc_b",
            driverFinishEdges = 0L)
          .withColumnRenamed("node", "doc_id")
        val survivors = docs.select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component_id"))
          .filter(col("doc_id") === col("component_id"))
          .count()
        (edges, survivors)
      }
      val (edges, survivors) = chain.value
      // closure head-to-head on ONE materialized edge set (the r9
      // driver-finish receipt): star rounds vs bounded union-find,
      // same edges, same labels — the chain timing above is untouched
      val (starSec, driverSec) = Checkpoints.scoped { s =>
        val ec = s.checkpoint(edges)
        def closure(thr: Long): Double = meter.measure {
          Components.connectedComponents(ec, "doc_a", "doc_b",
            driverFinishEdges = thr).count()
        }.sec
        (closure(0L), closure(1000000L))
      }
      // planted clusters: 14 per full 20-block, plus the partial tail
      val tail = (n % 20).toInt
      val expected = n / 20 * 14 + math.min(tail, 12) +
        (if (tail > 12) 1 else 0) + (if (tail > 16) 1 else 0)
      (n, chain.sec, survivors, expected, chain.maxTaskSec, starSec, driverSec)
    }
    val exponent = fitExponent(rungs.map(r => r._1 -> r._2))
    val rungJson = rungs.map { case (n, sec, got, exp, mt, ss, ds) =>
      f"""{"n_docs":$n,"sec":$sec%.2f,"survivors":$got,"expected":$exp,"max_task_sec":$mt%.2f,"closure_star_sec":$ss%.2f,"closure_driver_sec":$ds%.2f}"""
    }.mkString("[", ",", "]")
    println(f"""{"metric":"dedup_chain_scale","rungs":$rungJson,"exponent":$exponent%.3f}""")
    rungs.foreach { case (n, _, got, exp, _, _, _) =>
      require(math.abs(got - exp) <= 0.05 * exp,
        s"recall collapsed at n=$n: survivors $got vs planted $exp")
    }
  }

  /** `nQueries` scales the probe workload: brute force pays
    * |queries| × corpus cosines, the bucketed index |queries| × its
    * probe buckets — the serving-shaped contrast (an ANN index exists
    * because queries outnumber corpus rebuilds) only becomes visible
    * past a handful of queries, since at dim 64 the codegen'd
    * brute-force scan is itself fast. */
  private def annLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long],
                        nQueries: Int): Unit = {
    val rungs = sizes.map { n =>
      val corpus = embeddings(spark, n)
      val queries = corpus.filter(col("vec_id") < nQueries)
      val approx = meter.measure(
        hitPairs(Similarity.bucketedTopK(corpus, queries, k = 10)).toSet)
      // ground truth + cost contrast: brute-force top-10 on the same
      // data (timed separately — it grows linearly with the corpus,
      // the bucketed index must not)
      val exact = meter.measure(
        hitPairs(Similarity.bruteForceTopK(corpus, queries, k = 10)).toSet)
      val recall = if (exact.value.isEmpty) 0.0
        else (approx.value & exact.value).size.toDouble / exact.value.size
      (n, approx.sec, exact.sec, recall, approx.maxTaskSec)
    }
    val rungJson = rungs.map { case (n, sec, bs, r, mt) =>
      f"""{"n_vecs":$n,"sec":$sec%.2f,"brute_sec":$bs%.2f,"speedup":${bs / sec}%.1f,"recall":$r%.3f,"max_task_sec":$mt%.2f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"ann_scale","n_queries":$nQueries,"rungs":$rungJson}""")
    rungs.foreach { case (n, _, _, r, _) =>
      require(r >= 0.8, s"ANN recall collapsed at n=$n: $r < 0.8 on clustered data")
    }
  }

  /** PQ ladder: codebook training, corpus encoding and ADC search
    * timed per rung on the planted-cluster embeddings. The honest PQ
    * quality claim is CELL-level: all of a cluster's members quantize
    * to (nearly) the same code, so ADC reliably returns in-cluster
    * vectors but cannot fine-rank inside a cell (same code ⇒ same
    * distance — re-ranking on true vectors is the standard second
    * stage). The ladder therefore scores in-cluster precision of the
    * top-10 (require ≥ 0.9), not exact-NN recall. Brute-force cosine
    * over the same queries is timed as the serving-cost contrast up to
    * 500k vectors (beyond that the ann ladder already measured it:
    * 106-186 s at 2M-5M). */
  private def pqLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long],
                       nQueries: Int): Unit = {
    val rungs = scopedRungs(sizes) { (n, s) =>
      val corpus = embeddings(spark, n)
      val queries = corpus.filter(col("vec_id") < nQueries)
      val train = meter.measure(Similarity.pqTrain(corpus))
      val books = train.value
      val encode = meter.measure {
        // encode is narrow, so the materialized index would inherit the
        // scan's (bin-packed) split count; balance it to executor width
        // once at index-build time so ADC scans it wide
        val enc = s.checkpoint(Similarity.pqAssign(corpus, books)
          .repartition(spark.sparkContext.defaultParallelism))
        (enc, enc.count())
      }
      val (enc, nEnc) = encode.value
      val adc = meter.measure(hitPairs(Similarity.pqSearch(enc, books, queries, k = 10)))
      val hits = adc.value
      // planted structure: cluster id = vec_id % 1000 (genEmbeddings)
      val inCluster = hits.count { case (q, v) => q % 1000 == v % 1000 }
        .toDouble / hits.length
      val bruteSec = if (n <= 500000L) meter.measure {
        Similarity.bruteForceTopK(corpus, queries, k = 10).select(col("query_id")).count()
      }.sec else -1.0
      require(nEnc == n && hits.nonEmpty, s"pq ladder sanity failed at n=$n")
      (n, train.sec, encode.sec, adc.sec, bruteSec, inCluster, maxTask(train, encode, adc))
    }
    val rungJson = rungs.map { case (n, ts, es, as_, bs, ic, mt) =>
      f"""{"n_vecs":$n,"train_sec":$ts%.2f,"encode_sec":$es%.2f,"encode_vecs_per_sec":${n / es}%.0f,"adc_sec":$as_%.2f,"brute_sec":$bs%.2f,"in_cluster":$ic%.3f,"max_task_sec":$mt%.2f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"pq_scale","n_queries":$nQueries,"rungs":$rungJson}""")
    rungs.foreach { case (n, _, _, _, _, ic, _) =>
      require(ic >= 0.9, s"PQ in-cluster precision collapsed at n=$n: $ic < 0.9")
    }
  }

  /** IVFPQ ladder (VERDICT r5 #2): the three serving shapes head-to-head
    * on the same planted-cluster corpus, same trained halves —
    * plain IVF-flat probe (prunes to nProbe lists, ranks float
    * cosines), full-scan PQ-ADC (every vector, 8-byte codes), and the
    * IVFPQ composition (pruned lists scanned as codes). Train + index
    * build are timed separately from search: the serving claim is
    * about the probe path (built once, probed many). Search timings
    * are best-of-2 (co-tenant box). Quality gate is the same honest
    * cell-level metric as the PQ ladder: in-cluster precision of the
    * top-10 ≥ 0.8 for every shape (planted cluster = vec_id % 1000).
    * The scale claim under test: at the top rung ivfpq search beats
    * BOTH plain shapes — it scans the same fraction as IVF but as
    * integer codes, and the same representation as PQ but ~nProbe/
    * nCentroids of the corpus. */
  private def ivfPqLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long],
                          nQueries: Int): Unit = {
    val (k, nCentroids, nProbe) = (10, 128, 8)
    val rungs = scopedRungs(sizes) { (n, s) =>
      val corpus = embeddings(spark, n)
      val queries = corpus.filter(col("vec_id") < nQueries)
      // train both halves ONCE on a bounded hash-sample (the contract
      // knob from pqTrain, applied to the coarse quantizer too)
      val sampleRate = math.min(1.0, 200000.0 / n)
      val train = meter.measure {
        val cents = Similarity.kmeansTrain(
          Sampling.hashSample(corpus, "vec_id", sampleRate), nCentroids)
        val centsDf = broadcast(Similarity.centroidsDf(spark, cents))
        (centsDf, Similarity.pqTrain(corpus, trainSample = Some(sampleRate).filter(_ < 1.0)))
      }
      val (centsDf, books) = train.value
      val wide = spark.sparkContext.defaultParallelism
      val build = meter.measure {
        val ivfIdx = s.checkpoint(Similarity.ivfAssign(corpus, centsDf).repartition(wide))
        val pqIdx = s.checkpoint(Similarity.pqAssign(corpus, books).repartition(wide))
        val ivfpqIdx = s.checkpoint(
          Similarity.ivfPqIndex(corpus, centsDf, books).repartition(wide))
        require(ivfIdx.count() == n && pqIdx.count() == n && ivfpqIdx.count() == n,
          s"index build sanity failed at n=$n")
        (ivfIdx, pqIdx, ivfpqIdx)
      }
      val (ivfIdx, pqIdx, ivfpqIdx) = build.value
      def search(df: => DataFrame): Measured[Array[(Long, Long)]] = bestOf2(meter.measure {
        val hits = hitPairs(df)
        require(hits.nonEmpty, "empty result")
        hits
      })
      def inCluster(m: Measured[Array[(Long, Long)]]): Double =
        m.value.count { case (q, v) => q % 1000 == v % 1000 }.toDouble / m.value.length
      val ivf = search(Similarity.ivfProbe(ivfIdx, centsDf, queries, k, nProbe))
      val pq = search(Similarity.pqSearch(pqIdx, books, queries, k))
      val ivfpq = search(Similarity.ivfPqSearch(ivfpqIdx, centsDf, books, queries, k, nProbe))
      // the refine step (ann_ivfpq_rerank): ADC top-50 shortlist,
      // exact-cosine top-10 — times the full two-stage probe path
      val rerank = search(Similarity.ivfPqRerank(ivfpqIdx, centsDf, books, corpus, queries,
        k, shortlist = 50, nProbe = nProbe))
      (n, train.sec, build.sec, ivf.sec, inCluster(ivf), pq.sec, inCluster(pq), ivfpq.sec,
        inCluster(ivfpq), rerank.sec, inCluster(rerank), maxTask(ivf, pq, ivfpq, rerank))
    }
    val rungJson = rungs.map { case (n, ts, bs, is, ii, ps, pi, xs, xi, rs, ri, mt) =>
      f"""{"n_vecs":$n,"train_sec":$ts%.2f,"build_sec":$bs%.2f,"ivf_sec":$is%.2f,"ivf_in_cluster":$ii%.3f,"pq_sec":$ps%.2f,"pq_in_cluster":$pi%.3f,"ivfpq_sec":$xs%.2f,"ivfpq_in_cluster":$xi%.3f,"rerank_sec":$rs%.2f,"rerank_in_cluster":$ri%.3f,"max_task_sec":$mt%.2f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"ivfpq_scale","n_queries":$nQueries,"k":$k,"n_centroids":$nCentroids,"n_probe":$nProbe,"rungs":$rungJson}""")
    rungs.foreach { case (n, _, _, _, ii, _, pi, _, xi, _, ri, _) =>
      require(ii >= 0.8 && pi >= 0.8 && xi >= 0.8,
        s"in-cluster precision collapsed at n=$n: ivf=$ii pq=$pi ivfpq=$xi")
      // refinement re-ranks the shortlist by exact cosine — the cell
      // metric must never drop below the unrefined ADC ranking's
      require(ri >= xi - 1e-9,
        s"rerank degraded in-cluster precision at n=$n: $ri < $xi")
    }
    val top = rungs.last
    require(top._8 < top._4 && top._8 < top._6,
      f"ivfpq did not win at n=${top._1}: ivfpq=${top._8}%.2fs vs " +
        f"ivf=${top._4}%.2fs pq=${top._6}%.2fs")
  }

  /** SemDeDup honesty ladder (VERDICT r6 #4, with the adaptive-k fix
    * from #1 under test): planted-center corpus → adaptive-k coarse
    * clustering (k = adaptiveNCentroids(n), trained on a bounded
    * hash-sample — the production regime) → [[graft.operators.
    * Similarity.semanticDedup]]; score detected duplicates against
    * PLANTED truth and measure the in-cluster candidate-pair budget
    * as the corpus grows.
    *
    * Planted truth (genEmbeddings): center = vec_id % 1000 and the
    * min-id member of center c is c itself, so a vector is a TRUE
    * semantic duplicate iff vec_id >= 1000. Same-center cosine is
    * ~0.99 (±5 % noise), cross-center ~0 — threshold 0.9 separates
    * cleanly, so misses are CLUSTER-BOUNDARY misses (two members of
    * one planted center split across coarse clusters), exactly
    * SemDeDup's stated recall limitation.
    *
    * Gates: recall ≥ 0.8 and precision ≥ 0.95 at every rung, and the
    * fitted log-log exponent of candidate-pair count vs n ≤ 1.75 —
    * with k = ⌈√n⌉ expected cluster size is √n and pair work is
    * ~n^1.5 (measured ~1.5); a frozen k would read 2.0, the r6
    * scale defect this rung exists to keep dead. */
  private def semDedupLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val rungs = scopedRungs(sizes) { (n, s) =>
      val corpus = embeddings(spark, n)
      val kAdapt = Similarity.adaptiveNCentroids(n)
      val sampleRate = math.min(1.0, 200000.0 / n)
      // k derives from the FULL corpus size; training estimates the
      // centroids from a bounded sample (the ivfPqLadder regime)
      val train = meter.measure(broadcast(Similarity.centroidsDf(spark,
        Similarity.kmeansTrain(Sampling.hashSample(corpus, "vec_id", sampleRate), kAdapt))))
      val assign = meter.measure {
        val assigned = s.checkpoint(Similarity.ivfAssign(corpus, train.value)
          .repartition(spark.sparkContext.defaultParallelism))
        require(assigned.count() == n, s"assign sanity failed at n=$n")
        assigned
      }
      val assigned = assign.value
      // the in-cluster candidate-pair budget the dedup pass will scan:
      // sum over clusters of c*(c-1)/2 — THE quantity adaptive k bounds
      val pairs = assigned.groupBy(col("cent_id"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * (col("c") - 1) / 2).cast("long").as("p"))
        .head().getLong(0)
      val dedup = meter.measure {
        // flagged = !kept; true duplicate = vec_id >= 1000 (planted)
        val row = Similarity.semanticDedup(assigned, threshold = 0.9).agg(
          sum(when(!col("kept"), 1L).otherwise(0L)).as("flagged"),
          sum(when(!col("kept") && col("vec_id") >= 1000, 1L).otherwise(0L)).as("hits"))
          .head()
        (row.getLong(0), row.getLong(1))
      }
      val (flagged, hits) = dedup.value
      val trueDups = n - 1000
      val recall = hits.toDouble / trueDups
      val precision = if (flagged == 0) 0.0 else hits.toDouble / flagged
      (n, kAdapt, train.sec, assign.sec, pairs, dedup.sec, recall, precision, dedup.maxTaskSec)
    }
    // fitted log-log exponent of pair count vs n — the scale claim
    val exponent = fitExponent(rungs.map(r => r._1 -> math.max(r._5, 1L).toDouble))
    val rungJson = rungs.map { case (n, k, ts, as_, p, s, r, pr, mt) =>
      f"""{"n_vecs":$n,"k":$k,"train_sec":$ts%.2f,"assign_sec":$as_%.2f,"cand_pairs":$p,"pairs_per_vec":${p.toDouble / n}%.1f,"dedup_sec":$s%.2f,"recall":$r%.3f,"precision":$pr%.3f,"max_task_sec":$mt%.2f}"""
    }.mkString("[", ",", "]")
    println(f"""{"metric":"semdedup_scale","rungs":$rungJson,"pair_exponent":$exponent%.3f}""")
    rungs.foreach { case (n, _, _, _, _, _, r, pr, _) =>
      require(r >= 0.8, s"SemDeDup recall collapsed at n=$n: $r < 0.8")
      require(pr >= 0.95, s"SemDeDup precision collapsed at n=$n: $pr < 0.95")
    }
    require(sizes.size < 2 || exponent <= 1.75,
      f"in-cluster pair growth reads corpus-quadratic: exponent $exponent%.3f > 1.75")
  }

  /** Shingle-window pair-generator ladder (VERDICT r8 #5): the three
    * dd_* members with no rung until now — containmentPairs,
    * editDistancePairs, crossDocNgrams — over a PLANTED corpus with
    * hard recall gates, so the df-cap / block-cap pair budgets are
    * measured past sf0.1 instead of assumed. Corpus: groups of 20
    * docs over group-unique letter-only vocabularies (the tokenizer
    * strips digits — ids are translate()d to letters); slot 0 is the
    * 40-token base, slot 1 copies its first 30 tokens (containment
    * 23/33 & 0.70 both ways), slot 2 edits one char inside the
    * 64-char prefix (edit dist 1, containment 30/33), slot 3 copies
    * the first 15 tokens (> 64 chars, so its PREFIX matches — an
    * edit pair at dist 0 — while only 8/33 shingles match: below the
    * 0.5 containment bar), slots 4-19 are unique filler. Every
    * planted relation is exactly countable: 6 containment rows and 6
    * edit rows per group, zero cross-group pairs by vocabulary
    * construction, and crossdoc must flag exactly slots 0-3 per
    * group. Gates: exact pair counts (recall AND precision — a
    * quadratic blowup or a recall collapse both break equality), the
    * group-0 pair sets verbatim, and fitted wall exponent ≤ 1.3 per
    * operator. */
  private def shingleLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    require(sizes.forall(_ % 20 == 0), "shingle ladder sizes must be multiples of 20")
    val base = (j: String) => s"concat('w', ${letters("id div 20")}, 'x', ${letters(j)})"
    val uniq = (j: String) => s"concat('u', ${letters("id")}, 'x', ${letters(j)})"
    val textExpr =
      s"""concat_ws(' ', transform(sequence(0, 39), j ->
         |  CASE pmod(id, 20)
         |    WHEN 0 THEN ${base("j")}
         |    WHEN 1 THEN IF(j < 30, ${base("j")}, ${uniq("j - 30")})
         |    WHEN 2 THEN IF(j = 2, concat(${base("j")}, 'z'), ${base("j")})
         |    WHEN 3 THEN IF(j < 15, ${base("j")}, ${uniq("j - 15")})
         |    ELSE ${uniq("j")} END))""".stripMargin
    val rungs = sizes.map { n =>
      val docs = staged(spark, s"shingle_$n")(
        spark.range(n).selectExpr("id AS doc_id", s"$textExpr AS text"))
      val groups = n / 20
      // per-stage straggler attribution (the mmLadder discipline): one
      // measure per operator so one op's straggler cannot mask another's
      val c = meter.measure(Dedup.containmentPairs(docs, "text", "doc_id").count())
      val e = meter.measure(Dedup.editDistancePairs(docs, "text", "doc_id").count())
      val x = meter.measure(Dedup.crossDocNgrams(docs, "text", "doc_id")
        .filter(col("dup_grams") > 0).count())
      // recall AND precision as exact equalities
      require(c.value == 6L * groups,
        s"containment pairs at n=$n: got ${c.value}, want ${6L * groups}")
      require(e.value == 6L * groups,
        s"edit pairs at n=$n: got ${e.value}, want ${6L * groups}")
      require(x.value == 4L * groups,
        s"crossdoc flagged docs at n=$n: got ${x.value}, want ${4L * groups}")
      println(f"""{"n_docs":$n,"containment_sec":${c.sec}%.2f,"edit_sec":${e.sec}%.2f,"crossdoc_sec":${x.sec}%.2f,"pairs":${c.value},"containment_max_task_sec":${c.maxTaskSec}%.2f,"edit_max_task_sec":${e.maxTaskSec}%.2f,"crossdoc_max_task_sec":${x.maxTaskSec}%.2f}""")
      (n, Seq(c.sec, e.sec, x.sec))
    }
    // group-0 pair sets verbatim, once, on the smallest rung
    val small = spark.read.parquet(s"$Root/shingle_${sizes.head}")
      .filter(col("doc_id") < 20)
    val cSet = Dedup.containmentPairs(small, "text", "doc_id")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    require(cSet == Set((0L, 1L), (1L, 0L), (0L, 2L), (2L, 0L), (1L, 2L), (2L, 1L)),
      s"group-0 containment pair set: $cSet")
    val eSet = Dedup.editDistancePairs(small, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // slot 2's inserted 'z' shifts the rest of the 64-char window and
    // pushes its final char out: one insert + one trailing substitution
    // = distance 2 against every unedited prefix
    require(eSet == Set((1L, 0L, 0L), (2L, 0L, 2L), (2L, 1L, 2L),
        (3L, 0L, 0L), (3L, 1L, 0L), (3L, 2L, 2L)),
      s"group-0 edit pair set: $eSet")
    if (sizes.size >= 2) {
      Seq("containment", "edit", "crossdoc").zipWithIndex.foreach { case (nm, i) =>
        val exponent = fitExponent(rungs.map { case (n, ts) => n -> ts(i) })
        println(f"""{"metric":"shingle_scale","shape":"$nm","exponent":$exponent%.3f}""")
        require(exponent <= 1.3,
          f"$nm wall grows super-linearly in docs: exponent $exponent%.3f > 1.3")
      }
    }
  }

  /** SignatureStore ladder — the frozen-corpus dedup gate at scale:
    * write the banded index of n unique-token docs (untimed synth,
    * timed write), then probe a FIXED 10k-query batch (half exact
    * duplicates of spread corpus targets, half fresh) through
    * probeFlags. Gates are exact: every planted dup flags with
    * `dup_of` = its target, every fresh query stays clean (md5-world
    * determinism — a cross-band false collision would need 8 affine
    * min-hash equalities on disjoint token sets), zero cap drops on
    * the unique corpus. Write wall must stay ~linear in n; probe wall
    * (fixed queries, growing store join) likewise. */
  private def sigstoreLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val nQ = 10000L
    def textOf(idExpr: String) =
      s"""concat_ws(' ', transform(sequence(0, 39), j ->
         |  concat('u', ${letters(idExpr)}, 'x', ${letters("j")})))""".stripMargin
    val rungs = scopedRungs(sizes) { (n, s) =>
      require(n >= nQ, s"sigstore rung $n smaller than the query batch $nQ")
      val corpus = staged(spark, s"sigstore_$n/corpus")(
        spark.range(n).selectExpr("id AS doc_id", s"${textOf("id")} AS text"))
      val stride = n / (nQ / 2)
      val queries = staged(spark, s"sigstore_$n/queries")(
        spark.range(nQ).selectExpr(s"id + $n AS doc_id",
          s"""CASE WHEN pmod(id, 2) = 0 THEN ${textOf(s"(id div 2) * $stride")}
             |ELSE ${textOf(s"id + ${2 * n}")} END AS text""".stripMargin))
      val p = s"$Root/sigstore_$n/idx"
      val write = meter.measure(SignatureStore.write(spark, corpus, p))
      require(SignatureStore.droppedMembers(spark, p) == 0L,
        s"unique corpus must not hit the bucket cap at n=$n")
      val probe = meter.measure {
        val f = s.cache(SignatureStore.probeFlags(spark, p, queries))
        f.count(); f
      }
      val flags = probe.value
      // planted queries have even (query_id - n); fresh ones odd
      val planted = (col("query_id") - n) % 2 === 0
      val dupPlanted = flags.filter(col("is_dup") && planted).count()
      // fresh-query collisions were the 31-bit minhash family's
      // false-positive tail: two distinct tokens colliding mod 2^31-1
      // collide under EVERY affine perm, and the tail GREW with corpus
      // size — this rung's gate broke at 8M docs (7 flagged / 10k,
      // gate 5), which is why r12 widened the family to the 60-bit
      // hash + mod-2^61-1 perms (Hashing.affine61): the same class is
      // now P ~ V^2/2^61 and the gate tightens to ZERO flags.
      val falsePos = flags.filter(col("is_dup") && !planted).count()
      // a planted query's id-smallest match must be its target
      // (unique corpus docs collide only with their copy, modulo the
      // same collision tail — bounded with falsePos)
      val wrongTarget = flags.filter(col("is_dup") && planted)
        .filter(col("dup_of") =!= ((col("query_id") - n) / 2) * stride).count()
      require(dupPlanted == nQ / 2,
        s"planted-dup recall at n=$n: flagged $dupPlanted of ${nQ / 2}")
      require(falsePos == 0,
        s"false-positive tail at n=$n: $falsePos fresh queries flagged (want 0 under the 61-bit family)")
      require(wrongTarget == 0,
        s"$wrongTarget planted queries matched a non-target at n=$n (want 0 under the 61-bit family)")
      println(f"""{"n_docs":$n,"write_sec":${write.sec}%.2f,"probe_sec":${probe.sec}%.2f,"queries":$nQ,"false_pos":$falsePos,"write_max_task_sec":${write.maxTaskSec}%.2f,"probe_max_task_sec":${probe.maxTaskSec}%.2f}""")
      (n, write.sec, probe.sec)
    }
    if (sizes.size >= 2) {
      val wExp = fitExponent(rungs.map(r => r._1 -> r._2))
      val pExp = fitExponent(rungs.map(r => r._1 -> r._3))
      println(f"""{"metric":"sigstore_scale","write_exponent":$wExp%.3f,"probe_exponent":$pExp%.3f}""")
      require(wExp <= 1.3, f"store write grows super-linearly: $wExp%.3f > 1.3")
      require(pExp <= 1.15,
        f"fixed-batch probe wall grows faster than the store scan: $pExp%.3f > 1.15")
    }
  }

  /** Compaction-planner rung ([[graft.operators.Compaction]]): an
    * n-file synthetic inventory (unique keys, skewed sizes) planned by
    * the two-pass distributed prefix sum vs the naive
    * `sum() over (order by key)` single-reducer window twin. Gates:
    * the two plans are IDENTICAL (bin arithmetic is exact integers —
    * any drift is a bug, not noise), the distributed wall grows
    * ~linearly, and at the top rung the two-pass form beats the
    * single reducer — the reason the operator exists. The window
    * twin's max task is also printed: it owns the ENTIRE inventory
    * (the scale-killer the ladder makes visible). */
  private def compactionLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    import org.apache.spark.sql.expressions.Window
    val target = 1L << 20 // ~1M size units per output bin
    val rungs = scopedRungs(sizes) { (n, s) =>
      // materialized: generation cost is untimed
      val inv = s.checkpoint(spark.range(n).select(col("id").as("fk"),
          (pmod(xxhash64(concat(lit("sz_"), col("id"))), lit(1000)) + 1).as("sz")))
      val twoPass = meter.measure {
        val plan = s.checkpoint(graft.operators.Compaction.plan(inv, "fk", "sz", target))
        (plan, plan.count())
      }
      val (plan, nBins) = twoPass.value
      val window = meter.measure {
        s.checkpoint(inv
          .withColumn("before", sum(col("sz")).over(
            Window.orderBy(col("fk"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("sz"))
          .withColumn("out_bin", expr(s"before div ${target}L"))
          .groupBy(col("out_bin"))
          .agg(count(lit(1)).as("n_files"), sum(col("sz")).as("size_total"),
            min(col("fk")).as("key_min"), max(col("fk")).as("key_max")))
      }
      val twin = window.value
      // exact-integer equality, both directions — the two forms are
      // the SAME function, so any row-level difference is a defect
      require(plan.exceptAll(twin).isEmpty && twin.exceptAll(plan).isEmpty,
        s"two-pass and window compaction plans differ at n=$n")
      val (dSec, wSec) = (twoPass.sec, window.sec)
      println(f"""{"n_files":$n,"n_bins":$nBins,"twopass_sec":$dSec%.2f,"twopass_max_task_sec":${twoPass.maxTaskSec}%.2f,"window_sec":$wSec%.2f,"window_max_task_sec":${window.maxTaskSec}%.2f,"ratio":${dSec / wSec}%.3f}""")
      (n, dSec, wSec)
    }
    if (sizes.size >= 2) {
      val exponent = fitExponent(rungs.map { case (n, d, _) => (n, d) })
      println(f"""{"metric":"compaction_scale","twopass_exponent":$exponent%.3f}""")
      require(exponent <= 1.3,
        f"two-pass compaction grows super-linearly: exponent $exponent%.3f > 1.3")
      val (nTop, dTop, wTop) = rungs.last
      require(dTop < wTop,
        f"two-pass ($dTop%.2f s) did not beat the single-reducer window " +
          f"($wTop%.2f s) at the $nTop-file top rung")
    }
  }

  /** Z-order layout ladder — executed data-skipping at scale: n rows
    * with two independent uniform 12-bit coordinates, written once
    * sorted by x (the single-column layout) and once z-ordered on
    * (x, y) via [[ZOrderLayout.write]], 64 files each. A slab-aligned 1/8 band
    * scan on the NON-LEADING column y is then executed against both
    * layouts with the predicate pushed to parquet, and the receipt is
    * the recordsRead ratio: the linear layout materializes ~the whole
    * table (every file spans all of y), the z layout only the curve
    * cells intersecting the band. Both scans must return the same
    * count; the z scan must read < 25 % of the linear scan's records
    * and its wall must not exceed the linear scan's. */
  private def zorderLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val rungs = sizes.map { n =>
      val dir = s"$Root/zorder_$n"
      val corpus = spark.range(n).select(col("id"),
        pmod(xxhash64(concat(lit("zx_"), col("id"))), lit(4096)).as("x"),
        pmod(xxhash64(concat(lit("zy_"), col("id"))), lit(4096)).as("y"))
      corpus.repartitionByRange(64, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(s"$dir/linear") // untimed
      val wSec = meter.measure(ZOrderLayout.write(corpus, s"$dir/z",
        Seq(col("x"), col("y")), bits = 12, numFiles = 64)).sec
      // band = one full 512-wide y-slab (1/8 of the domain): the 64
      // z-range files tile 512x512 curve cells, so ~8 files intersect
      // exactly — plus up to ~8 straddlers, because count-balanced
      // file boundaries fall at arbitrary z values, not slab edges
      // (a file can span two y-slabs). Worst case ~16/64 = 0.25 of
      // the files; the gate sits just above it, against the linear
      // layout's 1.0.
      val band = (layout: String) => meter.measure(spark.read.parquet(s"$dir/$layout")
        .filter(col("y") >= 1024 && col("y") < 1536).count())
      // hilbert twin of the same layout (bits capped at 12 -> d fits
      // easily): unit-step continuity should hold the same band to at
      // most the morton file set, usually fewer straddlers
      ZOrderLayout.write(corpus, s"$dir/h",
        Seq(col("x"), col("y")), bits = 12, numFiles = 64, curve = "hilbert")
      val (l, z, h) = (band("linear"), band("z"), band("h"))
      require(z.value == l.value && h.value == l.value,
        s"layouts disagree at n=$n: z=${z.value} h=${h.value} linear=${l.value}")
      require(l.records > 0 && z.records > 0 && h.records > 0, s"listener saw no reads at n=$n")
      val ratio = z.records.toDouble / l.records
      val hRatio = h.records.toDouble / l.records
      println(f"""{"n_rows":$n,"zwrite_sec":$wSec%.2f,"linear_scan_sec":${l.sec}%.2f,"z_scan_sec":${z.sec}%.2f,"hilbert_scan_sec":${h.sec}%.2f,"records_linear":${l.records},"records_z":${z.records},"records_hilbert":${h.records},"read_ratio":$ratio%.4f,"hilbert_read_ratio":$hRatio%.4f}""")
      require(ratio < 0.30,
        f"z layout read $ratio%.3f of the linear scan at n=$n (want < 0.30)")
      require(hRatio < 0.30,
        f"hilbert layout read $hRatio%.3f of the linear scan at n=$n (want < 0.30)")
      (n, wSec)
    }
    if (sizes.size >= 2) {
      val exponent = fitExponent(rungs)
      println(f"""{"metric":"zorder_scale","write_exponent":$exponent%.3f}""")
      require(exponent <= 1.3,
        f"z-order write grows super-linearly: exponent $exponent%.3f > 1.3")
    }
  }

  /** 3-D curve-vs-curve rung (r12, the k ≥ 3 face of [[zorderLadder]]):
    * Morton interleave vs the Skilling k-D Hilbert
    * ([[graft.functions.HilbertIndexK]]) on the same 256³ corpus, 64
    * range files each, band scan on the LAST clustering column (the
    * one a linear layout can't serve at all). The gate mirrors the
    * 2-D ladder's: both curves must prune most of the linear scan,
    * and the Hilbert read must not exceed Morton's — unit-step
    * continuity buys fewer straddler files, in 3-D as in 2-D. */
  private def zorder3Ladder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    sizes.foreach { n =>
      val dir = s"$Root/zorder3_$n"
      val corpus = spark.range(n).select(col("id"),
        pmod(xxhash64(concat(lit("3x_"), col("id"))), lit(256)).as("x"),
        pmod(xxhash64(concat(lit("3y_"), col("id"))), lit(256)).as("y"),
        pmod(xxhash64(concat(lit("3z_"), col("id"))), lit(256)).as("z"))
      corpus.repartitionByRange(64, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(s"$dir/linear") // untimed, as in zorderLadder
      ZOrderLayout.write(corpus, s"$dir/m",
        Seq(col("x"), col("y"), col("z")), bits = 8, numFiles = 64)
      ZOrderLayout.write(corpus, s"$dir/h",
        Seq(col("x"), col("y"), col("z")), bits = 8, numFiles = 64,
        curve = "hilbert")
      // one full 32-wide z-slab = 1/8 of the domain, on the curve's
      // LAST column: 64 files tile 64x64x64 curve cells, ~8 intersect
      // plus range-boundary straddlers (the 2-D ladder's geometry,
      // one dimension deeper)
      val band = (layout: String) => meter.measure(spark.read.parquet(s"$dir/$layout")
        .filter(col("z") >= 96 && col("z") < 128).count())
      val (l, m, h) = (band("linear"), band("m"), band("h"))
      require(m.value == l.value && h.value == l.value,
        s"layouts disagree at n=$n: m=${m.value} h=${h.value} linear=${l.value}")
      require(l.records > 0 && m.records > 0 && h.records > 0, s"listener saw no reads at n=$n")
      val mRatio = m.records.toDouble / l.records
      val hRatio = h.records.toDouble / l.records
      println(f"""{"n_rows":$n,"linear_scan_sec":${l.sec}%.2f,"morton_scan_sec":${m.sec}%.2f,"hilbert3_scan_sec":${h.sec}%.2f,"records_linear":${l.records},"records_morton":${m.records},"records_hilbert3":${h.records},"morton_read_ratio":$mRatio%.4f,"hilbert3_read_ratio":$hRatio%.4f}""")
      require(mRatio < 0.45,
        f"3-D morton layout read $mRatio%.3f of the linear scan at n=$n (want < 0.45)")
      require(hRatio < 0.45,
        f"3-D hilbert layout read $hRatio%.3f of the linear scan at n=$n (want < 0.45)")
      require(hRatio <= mRatio * 1.05,
        f"3-D hilbert read ratio $hRatio%.3f worse than morton $mRatio%.3f at n=$n")
    }
  }

  /** Multimodal-kernel throughput ladder: synth + full-pixel decode +
    * bilinear resize (PNG) and synth + per-frame decode (animated GIF)
    * over n generated docs — the docs/s of the imageio chain, plus the
    * straggler bound. The kernels are partition-local; throughput must
    * scale with cores and stay flat per doc as n grows. */
  private def mmLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val rungs = sizes.map { n =>
      val docs = staged(spark, s"docs_$n")(genCorpus(spark, n))
      // one measure per kernel: per-stage straggler attribution
      val png = meter.measure(Multimodal.resizeImage(
          Multimodal.asPngPayload(docs, "text", "doc_id"))
        .agg(sum(col("checksum"))).head().getLong(0))
      val gif = meter.measure(Multimodal.sampleFrames(
          Multimodal.asGifPayload(docs, "text", "doc_id"))
        .count())
      // phash: decode + 64-cell luma hash over the SAME cell-grid
      // payloads (the bulk-raster kernel — r9 dropped the per-pixel
      // getRGB accessor; this rung is the docs/s receipt)
      val phash = meter.measure(Multimodal.perceptualHash(
          Multimodal.asCellGridPayload(docs, "text", "doc_id"))
        .count())
      require(png.value != 0L && gif.value >= n && phash.value == n,
        s"mm ladder sanity failed at n=$n")
      (n, png.sec, gif.sec, gif.value, png.maxTaskSec, gif.maxTaskSec, phash.sec,
        phash.maxTaskSec)
    }
    val rungJson = rungs.map { case (n, ps, gs, fr, pmt, gmt, hs, hmt) =>
      f"""{"n_docs":$n,"png_sec":$ps%.2f,"png_docs_per_sec":${n / ps}%.0f,"gif_sec":$gs%.2f,"frames":$fr,"phash_sec":$hs%.2f,"phash_docs_per_sec":${n / hs}%.0f,"png_max_task_sec":$pmt%.2f,"gif_max_task_sec":$gmt%.2f,"phash_max_task_sec":$hmt%.2f}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"mm_scale","rungs":$rungJson}""")
  }

  /** Graph-family ladder: PageRank (5 rounds) + bounded BFS on the
    * [[hubGraph]], whose edge count scales while average degree stays
    * fixed (~16 after symmetrization) — per-round PageRank work is
    * Θ(|E|), so wall time must grow ~linearly in edges; the fitted
    * log-log exponent hard-gates at 1.4. The hub skew is what the
    * map-side combine must absorb (hub contributions partial-aggregate
    * before the shuffle). BFS from 10 seeds must settle ≥ 95 % of
    * nodes within 4 hops (supercritical uniform graph at degree 16 — a
    * frontier bug shows up as coverage collapse, not just slowness). */
  private def graphLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val rungs = sizes.map { m =>
      val (_, edges) = hubGraph(spark, m)
      val pr = meter.measure {
        // validateUniverse=false: the generated half-edges are unioned
        // with their reverses — symmetric by construction, the flag's
        // documented opt-out case (keeps rung wall = 5 rounds)
        // driverFinishEdges = 0: the ladder's per-round exchange
        // receipts stay distributed-path at every rung
        val r = Graph.pageRankMicro(edges, "src", "dst",
            iterations = 5, validateUniverse = false, driverFinishEdges = 0L)
          .agg(count(lit(1)), sum(col("r"))).head()
        (r.getLong(0), r.getLong(1))
      }
      val (nNodes, totalMass) = pr.value
      val bfs = meter.measure {
        val seeds = spark.range(10).select(col("id").as("node"))
        Graph.shortestHops(edges, "src", "dst", seeds, maxHops = 4,
          driverFinishEdges = 0L).count()
      }
      val coverage = bfs.value.toDouble / nNodes
      // HITS on the same edges: 4 max-normalized integer rounds —
      // per-round work is two Θ(|E|) co-located joins, so the same
      // ~linear wall gate as PageRank applies. Exact invariants: the
      // symmetric graph's node universe is src ∪ dst = the PageRank
      // node set, and max-normalization pins BOTH leaders at 10⁶.
      val hits = meter.measure {
        val r = Graph.hitsMicro(edges, "src", "dst", iterations = 4, driverFinishEdges = 0L)
          .agg(count(lit(1)), max(col("hub_micro")), max(col("auth_micro"))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val (hN, hubMax, authMax) = hits.value
      println(f"""{"edges":${2 * m},"nodes":$nNodes,"pagerank_sec":${pr.sec}%.2f,"bfs_sec":${bfs.sec}%.2f,"hits_sec":${hits.sec}%.2f,"bfs_coverage":$coverage%.4f,"max_task_sec":${maxTask(pr, bfs, hits)}%.2f,"mass":$totalMass}""")
      require(coverage >= 0.95,
        f"BFS settled only $coverage%.3f of nodes in 4 hops — frontier bug")
      // floor-truncated mass only leaks: per-round bounds are
      // teleport·n ≤ mass ≤ n·10⁶
      require(totalMass >= 150000L * nNodes && totalMass <= 1000000L * nNodes,
        s"rank mass $totalMass outside [0.15n, n] micro-units — arithmetic bug")
      require(hN == nNodes,
        s"HITS node universe $hN != PageRank's $nNodes on the same edges")
      require(hubMax == 1000000L && authMax == 1000000L,
        s"max-normalized leaders must sit at 1e6, got hub $hubMax auth $authMax")
      (m, pr.sec, hits.sec)
    }
    if (sizes.size >= 2) {
      val exponent = fitExponent(rungs.map(r => (r._1, r._2)))
      val hitsExp = fitExponent(rungs.map(r => (r._1, r._3)))
      println(f"""{"metric":"graph_scale","pagerank_exponent":$exponent%.3f,"hits_exponent":$hitsExp%.3f}""")
      require(exponent <= 1.4,
        f"PageRank wall grows super-linearly in edges: exponent $exponent%.3f > 1.4")
      require(hitsExp <= 1.4,
        f"HITS wall grows super-linearly in edges: exponent $hitsExp%.3f > 1.4")
    }
  }

  /** Label-propagation ladder (r11, the EncodedArgmax receipt): 4 LPA
    * rounds on the [[hubGraph]] substrate at 1M/4M/16M half-edges,
    * forced distributed. Before the dense-remap rewrite every round
    * planned a SortAggregate over the (dst, lbl, c) count frame —
    * edge-scale sorted rows per round; now the argmax is a codegen'd
    * HashAggregate (GraphSpec pins the plan shape; this rung pins the
    * WALL: ~linear in edges, exponent hard-gated at 1.4). The smallest
    * rung also replays the driver twin and requires the (node,
    * community) multiset hash to match EXACTLY — the bit-equality
    * contract at a size where both paths are cheap. */
  private def lpaLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val rungs = sizes.map { m =>
      val (n, edges) = hubGraph(spark, m)
      // multiset signature: decimal-exact sum of row hashes (a plain
      // long sum of full-range xxhash64 values overflows under ANSI)
      def sig(df: DataFrame): (Long, java.math.BigDecimal) = {
        val r = df.agg(count(lit(1)),
          sum(xxhash64(col("node"), col("community"))
            .cast("decimal(38,0)"))).head()
        (r.getLong(0), r.getDecimal(1))
      }
      val lp = meter.measure(sig(Graph.labelPropagation(
        Graph.Undirected(edges, "src", "dst"), rounds = 4, driverFinishEdges = 0L)))
      val (nNodes, h) = lp.value
      println(f"""{"half_edges":$m,"nodes":$nNodes,"lpa_sec":${lp.sec}%.2f,"max_task_sec":${lp.maxTaskSec}%.2f,"sig":$h}""")
      require(nNodes > 0 && nNodes <= n, s"node universe $nNodes outside (0, $n]")
      // twin parity only on a rung the driver can actually hold — the
      // check collects 2m symmetric rows, and a 128M-half-edge solo
      // run (sizes.min == the top rung) tripped maxResultSize AFTER
      // the timed receipt printed (r13)
      if (m == sizes.min && m <= 16000000L) {
        val (dn, dh) = sig(Graph.labelPropagation(
          Graph.Undirected(edges, "src", "dst"), rounds = 4,
          driverFinishEdges = Long.MaxValue))
        require(dn == nNodes && dh == h,
          s"driver twin diverged: ($dn, $dh) != ($nNodes, $h)")
      }
      (m, lp.sec)
    }
    exponentGate("lpa_scale", rungs, 1.4, "LPA wall grows super-linearly in edges")
  }

  /** Modularity ladder (VERDICT r13 Next #5): planted-community
    * graphs — n = m/8 nodes in K=256 communities (community = node %
    * K), ~90 % of generated edges intra-community, 10 % uniform — so
    * the partition quality is KNOWN to land high and the output frame
    * is K rows at every rung (the final window's input is an
    * attribute's cardinality, never the graph). Gates per rung: the
    * output has exactly K communities, Σ deg_sum is EVEN (the
    * induced-subgraph 2m contract), Q = Σ q_c inside the planted band
    * (0.7, 0.95), and the smallest rung is compared EXACTLY against a
    * driver-side reference (same BigDecimal half-up rounding as
    * GraphSpec). Wall must stay ~linear in edges: only the edge dedup
    * and the two endpoint joins scale with m; exponent hard-gates at
    * 1.4. */
  private def modularityLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val K = 256L
    val rungs = sizes.map { m =>
      val n = math.max(m / 8 / K * K, K * 2) // multiple of K so src+K*j keeps the residue
      val perComm = n / K
      val edges = staged(spark, s"modgraph_$m")(spark.range(m).selectExpr(
        s"pmod(xxhash64('a', id), $n) AS src",
        // intra: same residue mod K, j in 1..perComm-1 (never a self
        // loop); inter: uniform (self-loops dropped by the operator)
        s"""CASE WHEN id % 10 < 9
           |  THEN pmod(pmod(xxhash64('a', id), $n)
           |         + $K * (1 + pmod(xxhash64('b', id), ${perComm - 1})), $n)
           |  ELSE pmod(xxhash64('c', id), $n) END AS dst""".stripMargin))
      val nodeComm = spark.range(n).selectExpr("id AS node", s"pmod(id, $K) AS community")
      val mod = meter.measure(Graph.modularity(
        Graph.Undirected(edges, "src", "dst"), nodeComm, "node", "community").collect())
      val out = mod.value
      val degSum = out.map(_.getLong(3)).sum
      val q = out.map(_.getDouble(4)).sum
      println(f"""{"edges":$m,"nodes":$n,"communities":${out.length},"mod_sec":${mod.sec}%.2f,"max_task_sec":${mod.maxTaskSec}%.2f,"two_m":$degSum,"q":$q%.4f}""")
      require(out.length == K, s"expected $K communities, got ${out.length}")
      require(degSum % 2 == 0, s"sum(deg_sum)=$degSum is odd - induced-subgraph 2m contract broken")
      require(q > 0.7 && q < 0.95, f"planted Q $q%.4f outside (0.7, 0.95)")
      if (m == sizes.min && m <= 4000000L) {
        // exact driver reference on the deduped undirected edge set
        val es = edges.selectExpr("least(src, dst) AS a", "greatest(src, dst) AS b")
          .where("a < b").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val mm = es.length.toLong
        val deg = new java.util.HashMap[Long, Long]()
        es.foreach { case (a, b) =>
          deg.merge(a, 1L, _ + _); deg.merge(b, 1L, _ + _)
        }
        val degC = new Array[Long](K.toInt); val nC = new Array[Long](K.toInt)
        deg.forEach((node, d) => { degC((node % K).toInt) += d; nC((node % K).toInt) += 1 })
        val intraC = new Array[Long](K.toInt)
        es.foreach { case (a, b) => if (a % K == b % K) intraC((a % K).toInt) += 1 }
        val want = (0 until K.toInt).map { c =>
          val qc = new java.math.BigDecimal(
              (4.0 * mm * intraC(c) - degC(c).toDouble * degC(c)) / (4.0 * mm * mm))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          c.toLong -> ((nC(c), intraC(c), degC(c), qc))
        }.toMap
        val got = out.map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
        require(got == want, s"driver reference diverged at m=$m")
        println(s"""{"edges":$m,"driver_reference":"exact_match","m_undirected":$mm}""")
      }
      (m, mod.sec)
    }
    exponentGate("modularity_scale", rungs, 1.4, "modularity wall grows super-linearly in edges")
  }

  /** Backoff-LM ladder: stupid-backoff trigram training + held-out
    * scoring ([[graft.operators.TextAnalysis.backoffXent]]) on the
    * generated dedup corpus (80-word docs, seeded 4-letter vocab).
    * Gates are EXACT: the odd split's every doc is scored (rows =
    * ⌊n/2⌋ — odd doc_ids in 0..n−1) with exactly 78 trigrams each
    * (80 tokens ⇒ 78), and the
    * four level counters partition the trigram count (a join-path bug
    * drops or double-counts — both break an equality). Wall must grow
    * ~linearly in docs: the model tables grow with the vocab in play
    * and the scoring joins with the trigram stream; the fitted
    * log-log exponent hard-gates at 1.3. */
  private def backoffLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val rungs = sizes.map { n =>
      val docs = staged(spark, s"docs_$n")(genCorpus(spark, n))
      val scored = meter.measure(
        graft.operators.TextAnalysis.backoffXent(docs, "text", "doc_id")
          .agg(count(lit(1)), sum(col("n_trigrams")),
            sum(col("n_tri") + col("n_bi") + col("n_uni") + col("n_oov")),
            sum(col("n_oov")))
          .head())
      val r = scored.value
      val sec = scored.sec
      val (rows, tg, lv, oov) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      println(f"""{"n_docs":$n,"sec":$sec%.2f,"docs_per_sec":${n / sec}%.0f,"scored":$rows,"trigrams":$tg,"oov":$oov,"max_task_sec":${scored.maxTaskSec}%.2f}""")
      require(rows == n / 2 && tg == rows * 78 && lv == tg,
        s"backoff self-consistency failed at n=$n: rows=$rows trigrams=$tg levels=$lv")
      (n, sec)
    }
    exponentGate("backoff_scale", rungs, 1.3, "backoff wall grows super-linearly in docs")
  }

  /** Triangle ladder: planted-truth triangle counting at growing edge
    * counts on the [[cliqueGraph]] — every clique node sits in exactly
    * C(19,2) = 171 triangles, and the bipartite noise layer cannot
    * close a triangle (every cycle alternates sides). Planted truth is
    * therefore EXACT: clique nodes count 171 each, noise nodes are
    * absent — recall collapse and phantom wedge-closure both break an
    * equality, not a tolerance. Wall must grow ~linearly in edges
    * (fixed clique width + bounded bipartite degree keep the oriented
    * wedge set linear); the fitted log-log exponent hard-gates at 1.3. */
  private def triLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val rungs = scopedRungs(sizes) { (m, s) =>
      val (k, edges) = cliqueGraph(spark, "tri", m, sideDivisor = 16) // ~8 avg degree per side
      val tri = meter.measure {
        // driverFinishEdges = 0: the ladder's published enumeration
        // receipts stay distributed-path at every rung. The kernel's
        // result is already eagerly checkpointed — no second copy.
        val counts = s.own(Graph.triangleCounts(
          Graph.Undirected(edges, "a", "b"), driverFinishEdges = 0L))
        val r = counts.agg(
          sum(when(col("node") < 1000000000L, 1L).otherwise(0L)),
          min(when(col("node") < 1000000000L, col("n_tri"))),
          max(when(col("node") < 1000000000L, col("n_tri"))),
          sum(when(col("node") >= 1000000000L, 1L).otherwise(0L))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      val (nClique, minT, maxT, nNoiseNodes) = tri.value
      println(f"""{"edges":$m,"cliques":$k,"sec":${tri.sec}%.2f,"clique_nodes":$nClique,"min_tri":$minT,"max_tri":$maxT,"noise_nodes":$nNoiseNodes,"max_task_sec":${tri.maxTaskSec}%.2f}""")
      require(nClique == k * 20 && minT == 171L && maxT == 171L,
        s"planted-truth violated at m=$m: $nClique clique nodes " +
          s"(want ${k * 20}), tri range [$minT,$maxT] (want exactly 171)")
      require(nNoiseNodes == 0L,
        s"bipartite noise produced $nNoiseNodes phantom triangle nodes at m=$m")
      (m, tri.sec)
    }
    exponentGate("tri_scale", rungs, 1.3, "triangle wall grows super-linearly in edges")
  }

  /** k-core peel ladder with EXACT planted truth on the [[cliqueGraph]]
    * (every member's in-clique degree is 19) with its noise at mean
    * degree ~8 — below the k=10 core threshold, so the peel must
    * dissolve ALL of it (deterministic per rung: the noise is seeded
    * xxhash64, not sampled) while returning every clique node at
    * core_deg exactly 19. Wall per rung is the full distributed peel
    * (driverFinishEdges=0); the exponent gate is the "each round
    * shuffles only live edges" claim — a kernel that re-shuffles the
    * ORIGINAL edges per round would go super-linear as the round count
    * grows with n. maxRounds is uncapped here (512) because the ER
    * collapse takes O(log n) cascading rounds; the CATALOG entry keeps
    * 12 to bind its fixed-round oracle. */
  private def kcoreLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val rungs = scopedRungs(sizes) { (m, s) =>
      val (k, edges) = cliqueGraph(spark, "kcore", m, sideDivisor = 8) // mean degree ~8 per side
      val peel = meter.measure {
        val core = s.own(Graph.kCore(Graph.Undirected(edges, "a", "b"),
          k = Some(10L), maxRounds = 512, driverFinishEdges = 0L))
        val r = core.agg(
          sum(when(col("node") < 1000000000L, 1L).otherwise(0L)),
          min(when(col("node") < 1000000000L, col("core_deg"))),
          max(when(col("node") < 1000000000L, col("core_deg"))),
          sum(when(col("node") >= 1000000000L, 1L).otherwise(0L))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      val (nClique, minDg, maxDg, nNoiseNodes) = peel.value
      println(f"""{"edges":$m,"cliques":$k,"sec":${peel.sec}%.2f,"clique_nodes":$nClique,"min_deg":$minDg,"max_deg":$maxDg,"noise_core_nodes":$nNoiseNodes,"max_task_sec":${peel.maxTaskSec}%.2f}""")
      require(nClique == k * 20 && minDg == 19L && maxDg == 19L,
        s"planted-truth violated at m=$m: $nClique clique nodes " +
          s"(want ${k * 20}), core_deg range [$minDg,$maxDg] (want exactly 19)")
      require(nNoiseNodes == 0L,
        s"sub-threshold noise left $nNoiseNodes nodes in the 10-core at m=$m")
      (m, peel.sec)
    }
    exponentGate("kcore_scale", rungs, 1.3, "k-core wall grows super-linearly in edges")
  }

  /** Link-prediction ladder: jaccardLinks + adamicAdar on the
    * [[twinGraph]] (uniform degree ~16 after symmetrization, NO hub
    * skew — the operators' documented substrate contract; hubs make
    * the wedge join quadratic and are the caller's job to cap). Its 50
    * planted twin pairs are non-adjacent with IDENTICAL neighborhoods,
    * so Jaccard must emit exactly the 50 planted pairs at exactly 10⁶,
    * and Adamic-Adar must rank the same 50 on top (≈16 shared
    * neighbors vs ≤ a couple for random pairs). Both recall collapse
    * and wedge blowup break the exact-set gates. Wall must grow
    * ~linearly in edges at fixed degree (exponent ≤ 1.5). */
  private def linkpredLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val rungs = sizes.map { m =>
      val n = math.max(m / 8, 1000L)
      val edges = staged(spark, s"linkpred_$m")(twinGraph(spark, m, n, None))
      val want = (0L until 50L).map(i => (i, n + i)).toSet
      val jac = meter.measure(Graph.jaccardLinks(
        Graph.Undirected(edges, "src", "dst"), topN = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))))
      val aa = meter.measure(Graph.adamicAdar(
        Graph.Undirected(edges, "src", "dst"), topN = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))))
      require(jac.value.map(p => (p._1, p._2)).toSet == want &&
        jac.value.forall(_._3 == 1000000L),
        s"jaccard at m=$m: planted twins not the exact top-50 at 1e6")
      require(aa.value.toSet == want,
        s"adamic-adar at m=$m: planted twins not the exact top-50")
      println(f"""{"edges":${2 * m},"nodes":$n,"jaccard_sec":${jac.sec}%.2f,"adamic_sec":${aa.sec}%.2f,"max_task_sec":${maxTask(jac, aa)}%.2f}""")
      (m, Seq(jac.sec, aa.sec))
    }
    Seq("jaccard", "adamic").zipWithIndex.foreach { case (nm, i) =>
      exponentGate(s"linkpred_${nm}_scale", rungs.map { case (x, s) => (x, s(i)) },
        1.5, s"$nm wall grows super-linearly in edges")
    }
  }

  /** Power-law link-prediction ladder (VERDICT r9 #3): the
    * [[twinGraph]] substrate plus 4 PLANTED HUBS of n/5 distinct
    * neighbors each — at the 4M rung the UNCAPPED wedge join owes
    * 4 · (1e5·(1e5−1)/2) ≈ 2·10¹⁰ wedges from the hubs alone (~600×
    * the base stream; hours of shuffle) while `maxDegree = 128` trims
    * the hubs as centers and completes in base-ladder time.
    * Hub target windows are DISJOINT from each other and from the
    * bases/twins: hub pairs share no neighbors (no synthetic
    * perfect-overlap pairs to displace the twin gate) and the planted
    * neighborhood equality survives. Bases carry 40 planted neighbors
    * on top of the random ~16 so twins (~56 shared) rank a clean 3-4×
    * above the strongest legitimate (hub, x) pair (~a dozen shared
    * retained centers). Gates:
    *  - planted-twin recall stays EXACT under the cap for BOTH
    *    kernels — the trim may not move the top-50;
    *  - the dropped-wedge accumulator advances by EXACTLY the four
    *    hubs' wedge count per kernel run — the cap's loud-count
    *    contract, and a proof no legitimate node crossed the cap;
    *  - wall grows ~linearly in base edges (exponent ≤ 1.5): the cap
    *    keeps the hub cost OUT of the scaling. */
  private def linkpredSkewLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val hubs = 4
    val rungs = sizes.map { m =>
      val n = math.max(m / 8, 1000L)
      val hubDeg = n / 5
      val hubWedges = hubs * (hubDeg * (hubDeg - 1)) / 2
      require(50 + hubs * hubDeg <= n,
        s"rung m=$m: disjoint hub windows [50, ${50 + hubs * hubDeg}) must fit under n=$n")
      // 40 PLANTED distinct neighbors per base on top of the ~16
      // random ones: a (hub, x) pair can legitimately share
      // deg(x)/5 ≈ a dozen retained centers under Adamic-Adar, which
      // interleaves with ~16-shared twins — at ~56 shared the twins
      // sit a clean 3-4× above every hub pair, so the EXACT global
      // top-50 gate holds on the skewed substrate too. Stride 2503 is
      // prime and > 40·hubs ⇒ the 40 targets per base are distinct;
      // targets land in [50, n), never on a base or twin.
      val plantHalf = spark.range(50L * 40).selectExpr(
        "id div 40 AS src",
        s"50 + pmod(id * 2503, ${n - 50}) AS dst")
      // hubs n+100+h (ids disjoint from nodes [0,n) and twins [n,n+50))
      // touch pairwise-DISJOINT windows [50 + h·hubDeg, 50 + (h+1)·hubDeg)
      // — never a base (0..49) or a twin, so planted neighborhood
      // equality survives, and no two hubs share a neighbor
      val hubHalf = spark.range(hubs * hubDeg).selectExpr(
        s"$n + 100 + id div $hubDeg AS src",
        s"50 + id AS dst")
      val edges = staged(spark, s"linkpredskew_$m")(
        twinGraph(spark, m, n, Some(plantHalf)).union(symmetrized(hubHalf)))
      val want = (0L until 50L).map(i => (i, n + i)).toSet
      val d0 = Graph.droppedWedges(spark)
      // cap 128: ordinary nodes (deg ~56 with the planted neighbors)
      // stay exact centers, hubs (deg n/5 ≥ 25 000) are trimmed
      val jac = meter.measure(Graph.jaccardLinks(
          Graph.Undirected(edges, "src", "dst"), topN = 50, maxDegree = 128)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))))
      val d1 = Graph.droppedWedges(spark)
      val aa = meter.measure(Graph.adamicAdar(
          Graph.Undirected(edges, "src", "dst"), topN = 50, maxDegree = 128)
        .collect().map(r => (r.getLong(0), r.getLong(1))))
      val d2 = Graph.droppedWedges(spark)
      require(jac.value.map(p => (p._1, p._2)).toSet == want &&
        jac.value.forall(_._3 == 1000000L),
        s"capped jaccard at m=$m: planted twins not the exact top-50 at 1e6")
      require(aa.value.toSet == want,
        s"capped adamic-adar at m=$m: planted twins not the exact top-50")
      require(d1 - d0 == hubWedges && d2 - d1 == hubWedges,
        s"dropped-wedge count at m=$m: jaccard ${d1 - d0} / adamic ${d2 - d1}" +
          s" != planted $hubWedges - a non-hub node crossed the cap or the" +
          " count drifted")
      println(f"""{"edges":${2 * (m + hubs * hubDeg)},"nodes":$n,"hub_wedges_dropped":$hubWedges,"jaccard_sec":${jac.sec}%.2f,"adamic_sec":${aa.sec}%.2f,"max_task_sec":${maxTask(jac, aa)}%.2f}""")
      (m, Seq(jac.sec, aa.sec))
    }
    Seq("jaccard", "adamic").zipWithIndex.foreach { case (nm, i) =>
      exponentGate(s"linkpredskew_${nm}_scale", rungs.map { case (x, s) => (x, s(i)) },
        1.5, s"capped $nm wall grows super-linearly in edges")
    }
  }

  /** Events-analytics ladder: funnel + retention on a generated event
    * stream whose row count scales while per-user structure stays
    * fixed (256 events/user across 32 days; each user's first three
    * events are view→click→purchase in order), so BOTH results are
    * EXACT by construction at every rung — n_view = n_click =
    * n_purchase = keys for the funnel, and exactly 32 retention rows
    * of (cohort 0, offset d, keys). Wall must grow ~linearly in rows
    * (fitted exponent ≤ 1.3): the funnel is k conditional window
    * minima riding one user partitioning, retention two exchanges. */
  private def eventsLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    import graft.operators.EventAnalytics
    val rungs = sizes.map { n =>
      require(n % 256 == 0, s"events ladder sizes must be multiples of 256, got $n")
      val nKeys = n / 256
      val df = staged(spark, s"events_$n")(spark.range(n).selectExpr(
          "id div 256 AS user_id",
          // 8 events/day over 32 days; the first three events of each
          // user (seconds 0,1,2 of day 0) are the ordered funnel
          "timestamp_micros(((id % 256) div 8) * 86400000000 + (id % 8) * 1000000) AS ts",
          """CASE WHEN id % 256 = 0 THEN 'view'
            |  WHEN id % 256 = 1 THEN 'click'
            |  WHEN id % 256 = 2 THEN 'purchase'
            |  ELSE 'noise' END AS event_type""".stripMargin))
      val fu = meter.measure(
        EventAnalytics.funnel(df, "user_id", "event_type", "ts",
          Seq("view", "click", "purchase")).head())
      val re = meter.measure {
        val rows = EventAnalytics.retention(df, "user_id", "ts")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        rows.sortBy(r => (r._1, r._2)).toSeq
      }
      val funnel = fu.value
      require(funnel.getLong(0) == nKeys && funnel.getLong(1) == nKeys &&
        funnel.getLong(2) == nKeys,
        s"funnel at n=$n: ${funnel.toSeq} != ($nKeys, $nKeys, $nKeys)")
      require(re.value == (0L until 32L).map(d => (0L, d, nKeys)),
        s"retention at n=$n: ${re.value.take(3)}...")
      println(f"""{"n_rows":$n,"keys":$nKeys,"funnel_sec":${fu.sec}%.2f,"retention_sec":${re.sec}%.2f,"max_task_sec":${maxTask(fu, re)}%.2f}""")
      (n, Seq(fu.sec, re.sec))
    }
    Seq("funnel", "retention").zipWithIndex.foreach { case (nm, i) =>
      exponentGate(s"events_${nm}_scale", rungs.map { case (n, s) => (n, s(i)) },
        1.3, s"$nm wall grows super-linearly in rows")
    }
  }

  /** Time-series family ladder: sax / rollingZ / resample / acf / holt
    * / cusum / xcorr over a generated 256-rows-per-key corpus (values
    * bounded inside every kernel's magnitude contract). All are
    * one-sort-per-key analytic plans, so wall must track rows
    * ~linearly; every rung's output count is EXACT by construction
    * (fixed series length ⇒ words = n − 7·keys, z rows = n − 8·keys,
    * 60 s-grid marks = 5·keys for the 0..255 s span, acf/holt/cusum
    * rows = keys, xcorr rows = its top-20). */
  private def tsLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    import graft.operators.TimeSeries
    val rungs = sizes.map { n =>
      require(n % 256 == 0, s"ts ladder sizes must be multiples of 256, got $n")
      val nKeys = n / 256
      val df = staged(spark, s"ts_$n")(spark.range(n).selectExpr(
          "id div 256 AS user_id",
          "timestamp_micros((id % 256) * 1000000) AS ts",
          "id AS event_id",
          "pmod(xxhash64('v', id), 50000) / 100.0 AS value"))
      val ord = Seq("ts", "event_id")
      val sax = meter.measure(TimeSeries.saxWords(df, "user_id", ord, "value").count())
      val z = meter.measure(
        TimeSeries.rollingZ(df, "user_id", ord, "value", "event_id").count())
      val rs = meter.measure(
        TimeSeries.resampleLinear(df, "user_id", "ts", "value", "event_id",
          stepSec = 60L).count())
      val acf = meter.measure(TimeSeries.autocorr(df, "user_id", ord, "value").count())
      val holt = meter.measure(
        TimeSeries.holtFinal(df, "user_id", "ts", "event_id", "value").count())
      val cusum = meter.measure(
        TimeSeries.cusumChangepoint(df, "user_id", "ts", "event_id", "value")
          .count())
      // xcorr: every key covers the same 256-second span, so 16-second
      // buckets give all top-40 pairs exactly 16 common buckets — the
      // Θ(n) stage is the bucket aggregate, the pair stage is bounded
      // by the top-K contract at every rung
      val xc = meter.measure(
        TimeSeries.crossCorrPairs(df, "user_id", "ts", "value",
          topSeries = 40, minOverlap = 8L, topPairs = 20,
          bucketSec = 16L).count())
      require(sax.value == n - 7L * nKeys, s"sax rows at n=$n: ${sax.value}")
      require(z.value == n - 8L * nKeys, s"rollingZ rows at n=$n: ${z.value}")
      require(rs.value == 5L * nKeys, s"resample grid rows at n=$n: ${rs.value}")
      require(acf.value == nKeys, s"acf rows at n=$n: ${acf.value}")
      require(holt.value == nKeys, s"holt rows at n=$n: ${holt.value}")
      require(cusum.value == nKeys, s"cusum rows at n=$n: ${cusum.value}")
      require(xc.value == 20L, s"xcorr rows at n=$n: ${xc.value}")
      val all = Seq(sax, z, rs, acf, holt, cusum, xc)
      println(f"""{"n_rows":$n,"keys":$nKeys,"sax_sec":${sax.sec}%.2f,"z_sec":${z.sec}%.2f,"resample_sec":${rs.sec}%.2f,"acf_sec":${acf.sec}%.2f,"holt_sec":${holt.sec}%.2f,"cusum_sec":${cusum.sec}%.2f,"xcorr_sec":${xc.sec}%.2f,"max_task_sec":${maxTask(all: _*)}%.2f}""")
      (n, all.map(_.sec))
    }
    Seq("sax", "rollingz", "resample", "acf", "holt", "cusum", "xcorr")
        .zipWithIndex.foreach { case (nm, i) =>
      exponentGate(s"ts_${nm}_scale", rungs.map { case (n, s) => (n, s(i)) },
        1.3, s"$nm wall grows super-linearly in rows")
    }
  }

  /** Headline-query throughput ladder: the three canonical TPC-H plan
    * shapes (scan→agg q1, fact⋈fact join+agg q18-having, semi q4) on
    * GENERATED lineitem/orders at multiples of the sf0.1 row count —
    * the direct measurement behind "would this survive a 100×
    * scale-up": wall must grow ~linearly in rows (fitted exponent
    * hard-gated ≤ 1.3 per shape). Synthesis is uniform (throughput is
    * the question, not selectivity), deterministic, and written to
    * parquet untimed so every rung measures scan→execute, not
    * generation. */
  private def tpchLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val rungs = sizes.map { n =>
      val nOrders = math.max(n / 4, 1L)
      // dims scale TPC-H-proportionally (part ~ lines/50, supplier ~
      // lines/1000) so the q9/q21 rungs exercise growing build sides,
      // not a frozen fixture dim
      val nPart = math.max(n / 50, 20L)
      val nSupp = math.max(n / 1000, 10L)
      val li = staged(spark, s"tpch_$n/lineitem")(spark.range(n).selectExpr(
        s"pmod(xxhash64('o', id), $nOrders) AS l_orderkey",
        s"pmod(xxhash64('pk', id), $nPart) AS l_partkey",
        s"pmod(xxhash64('sk', id), $nSupp) AS l_suppkey",
        "cast(1 + pmod(xxhash64('q', id), 50) AS double) AS l_quantity",
        "cast(pmod(xxhash64('p', id), 10000000) AS double) / 100.0 AS l_extendedprice",
        "cast(pmod(xxhash64('d', id), 11) AS double) / 100.0 AS l_discount",
        "CASE pmod(xxhash64('f', id), 3) WHEN 0 THEN 'A' WHEN 1 THEN 'N' ELSE 'R' END AS l_returnflag",
        "timestamp_micros(1500000000000000 + pmod(xxhash64('t', id), 100000000) * 1000000) AS l_shipdate"))
      val o = staged(spark, s"tpch_$n/orders")(spark.range(nOrders).selectExpr(
        "id AS o_orderkey",
        "timestamp_micros(1500000000000000 + pmod(xxhash64('ot', id), 100000000) * 1000000) AS o_orderdate",
        "CASE pmod(xxhash64('op', id), 5) WHEN 0 THEN '1-URGENT' ELSE '3-MEDIUM' END AS o_orderpriority",
        "CASE pmod(xxhash64('os', id), 2) WHEN 0 THEN 'F' ELSE 'O' END AS o_orderstatus"))
      val part = staged(spark, s"tpch_$n/part")(spark.range(nPart).selectExpr(
        "id AS p_partkey",
        "CASE pmod(xxhash64('pt', id), 3) WHEN 0 THEN 'ECONOMY' WHEN 1 THEN 'PROMO' ELSE 'STANDARD' END AS p_type",
        "cast(900 + pmod(xxhash64('pr', id), 1200) AS double) / 10.0 AS p_retailprice"))
      val supp = staged(spark, s"tpch_$n/supplier")(spark.range(nSupp).selectExpr(
        "id AS s_suppkey",
        "concat('Supplier#', lpad(cast(id AS string), 9, '0')) AS s_name",
        "pmod(xxhash64('sn', id), 25) AS s_nationkey"))
      val nat = staged(spark, s"tpch_$n/nation")(spark.range(25).selectExpr(
        "id AS n_nationkey",
        "concat('NATION_', cast(id AS string)) AS n_name"))
      def run(df: => DataFrame): Measured[Unit] =
        meter.measure(df.write.format("noop").mode("overwrite").save())
      // untimed warmup: JVM + codegen + parquet-footer first-touch
      // otherwise lands entirely on the smallest rung's q1 and skews
      // the fitted exponent downward
      li.limit(1000).groupBy(col("l_returnflag")).count()
        .write.format("noop").mode("overwrite").save()
      val q1 = run(li.filter(col("l_shipdate") <= lit("2003-01-01"))
        .groupBy(col("l_returnflag"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")),
          round(avg(col("l_quantity")), 4), count(lit(1))))
      val q18 = run {
        val big = li.groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).as("tq")).filter(col("tq") > 160)
        o.join(big, col("o_orderkey") === col("l_orderkey"))
          .orderBy(col("tq").desc, col("o_orderkey")).limit(100)
      }
      val q4 = run(o.join(li.select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1))))
      // q9: the WIDEST join DAG of the suite (VERDICT r8 #6) —
      // lineitem ⋈ part ⋈ supplier ⋈ nation ⋈ orders, the catalog's
      // q9Profit plan verbatim: three broadcast dims (growing with n,
      // not frozen) plus the one shuffle join on the order key
      val q9 = run {
        val p = part.filter(col("p_type") === "ECONOMY")
          .select(col("p_partkey"),
            round(col("p_retailprice") * 60).cast("long").as("cost_cents"))
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(broadcast(supp.select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(o.select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
          .agg((sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
              .cast("long")
            - col("cost_cents") * round(col("l_quantity")).cast("long")) / 100.0)
            .as("profit"))
      }
      // q21: the quantifier joins (VERDICT r8 #6) — one late-lines
      // frame feeding the EXISTS as a left-semi and the NOT EXISTS as
      // a left-anti self-join, per-order fan-out only (the catalog's
      // q21SoleLate plan verbatim)
      val q21 = run {
        val lines = li.select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        val late = lines
          .join(o.filter(col("o_orderstatus") === "F")
              .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 180 DAYS"))
          .select(col("l_orderkey").as("k1"), col("l_suppkey").as("sk1"))
        late
          .join(lines.select(col("l_orderkey").as("k2"), col("l_suppkey").as("sk2")),
            col("k1") === col("k2") && col("sk2") =!= col("sk1"), "left_semi")
          .join(late.select(col("k1").as("k3"), col("sk1").as("sk3")),
            col("k1") === col("k3") && col("sk3") =!= col("sk1"), "left_anti")
          .join(broadcast(supp), col("sk1") === col("s_suppkey"))
          .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name")).limit(20)
      }
      val all = Seq(q1, q18, q4, q9, q21)
      println(f"""{"rows":$n,"q1_sec":${q1.sec}%.2f,"q18_sec":${q18.sec}%.2f,"q4_sec":${q4.sec}%.2f,"q9_sec":${q9.sec}%.2f,"q21_sec":${q21.sec}%.2f,"max_task_sec":${maxTask(all: _*)}%.2f}""")
      (n, all.map(_.sec))
    }
    if (sizes.size >= 2) {
      val names = Seq("q1", "q18", "q4", "q9", "q21")
      names.zipWithIndex.foreach { case (nm, i) =>
        val exponent = fitExponent(rungs.map { case (n, ts) => n -> ts(i) })
        println(f"""{"metric":"tpch_scale","shape":"$nm","exponent":$exponent%.3f}""")
        require(exponent <= 1.3,
          f"$nm wall grows super-linearly in rows: exponent $exponent%.3f > 1.3")
      }
    }
  }

  /** BPE-induction ladder: [[graft.operators.Bpe.learnMerges]] on a
    * generated corpus whose DISTINCT-WORD VOCABULARY scales (the axis
    * every per-round pass is linear in — the corpus itself only pays
    * the one histogram pass). Words are 8 chars over an 8-letter
    * alphabet, 2-4 copies each, deterministic; 20 merges per rung so
    * wall stays bounded. Gates: fitted wall exponent ≤ 1.3 in vocab,
    * all 20 merges found (no early stop on a synthetic corpus that
    * satisfies minCount by construction). */
  private def bpeLadder(spark: SparkSession, meter: TaskMeter, sizes: Seq[Long]): Unit = {
    val rungs = sizes.map { v =>
      val docs = staged(spark, s"bpe_$v")(spark.range(v).selectExpr(
          """array_join(transform(sequence(0, 7),
            |  i -> chr(97 + pmod(xxhash64('w', id, i), 8))), '') AS word""".stripMargin,
          "cast(2 + pmod(xxhash64('f', id), 3) AS int) AS copies")
        .selectExpr("explode(array_repeat(word, copies)) AS text")
        .selectExpr("monotonically_increasing_id() AS doc_id", "text"))
      // driverFinishWords = 0: the ladder's exponent IS the
      // distributed-rounds scaling receipt (the adaptive driver
      // finish would absorb the 100k rung)
      val merges = meter.measure(graft.operators.Bpe.learnMerges(docs, "text",
        numMerges = 20, driverFinishWords = 0L).collect())
      println(f"""{"vocab":$v,"bpe_sec":${merges.sec}%.2f,"merges":${merges.value.length},"max_task_sec":${merges.maxTaskSec}%.2f}""")
      require(merges.value.length == 20,
        s"expected 20 merges, got ${merges.value.length} — early stop on a corpus built to avoid it")
      (v, merges.sec)
    }
    exponentGate("bpe_scale", rungs, 1.3, "BPE wall grows super-linearly in vocab")
  }
}
