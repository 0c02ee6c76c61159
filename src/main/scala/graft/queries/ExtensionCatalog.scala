package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators._
import graft.tools.ArtifactStore

/** The LLM-training-data-pipeline extension surface (BASELINE.json
  * north star): dedup family, similarity search, text analysis,
  * multimodal plumbing — each a first-class query with a DuckDB
  * oracle twin where SQL can express it.
  */
object ExtensionCatalog {

  type Q = (SparkSession, String) => DataFrame

  // ----------------------------------------------------------------- dedup

  /** Exact dedup survivors (hash-groupBy on content). */
  val ddExact: Q = (s, d) =>
    Dedup.exact(Tables.documents(s, d), "text", "doc_id")

  /** Canonical-URL dedup over a deterministically synthesized URL
    * per document (the fixture corpus carries no URLs — the enriched
    * frame is the same expression in both engines, with case /
    * tracking-query / fragment / trailing-slash variants that must
    * collapse): one row per canonical URL with keeper + counts. */
  val ddUrls: Q = (s, d) =>
    Dedup.urlDedup(
      Tables.documents(s, d).select(col("doc_id"), expr(
        """concat('HTTPS://Site-', CAST(doc_id % 7 AS STRING),
          |  '.Example.COM/Page/', CAST(doc_id % 25 AS STRING),
          |  CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
          |  CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed' ELSE '' END,
          |  CASE WHEN doc_id % 3 = 0 THEN '#section' ELSE '' END)"""
          .stripMargin).as("url")), "url", "doc_id")

  /** Directional shingle-containment near-dup pairs (df-capped
    * shared-shingle join — the asymmetric doc-inclusion signal). */
  val ddContainment: Q = (s, d) =>
    Dedup.containmentPairs(Tables.documents(s, d), "text", "doc_id")

  /** Bucketed prefix-Levenshtein near-dup pairs (character-level
    * modality; (length-bucket, first-token) blocking). */
  val ddEdit: Q = (s, d) =>
    Dedup.editDistancePairs(Tables.documents(s, d), "text", "doc_id")

  /** MinHash signatures (16 permutations) per document. */
  val ddMinhashSig: Q = (s, d) =>
    Dedup.minHashSignatures(Tables.documents(s, d), "text", "doc_id", k = 16)

  /** MinHash-LSH candidate pairs (4 bands × 8 rows: collision
    * probability J^8 per band targets true near-dups; looser banding
    * on a corpus where every pair is mid-similar just enumerates the
    * quadratic bulk). */
  val ddMinhashLsh: Q = (s, d) =>
    Dedup.minHashLsh(Tables.documents(s, d), "text", "doc_id",
      bands = 4, rowsPerBand = 8)

  /** Frozen-corpus near-dup probe ([[graft.tools.SignatureStore]]):
    * the even-id half of the corpus is the "already-training" side
    * whose banded LSH bucket table is the written index; the odd-id
    * half is the incoming crawl, probed for any band collision —
    * the production dedup-new-data-against-existing-corpus gate
    * (SigPersistSpec pins the written round trip and the streaming
    * twin). The index side IS the written store: [[inSessionBuckets]]
    * builds and publishes it on first use per data fingerprint, so
    * every probe here — bench runs included — pays the store-probe
    * cost, never a session-local shortcut (VERDICT r12 #1). Same
    * tokenizer / permutations / banding as dd_minhash_lsh, so the
    * oracle is that twin restricted to (odd query, even corpus)
    * collisions. */
  val ddLshProbe: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val queries = docs.filter(col("doc_id") % 2 === 1)
    writtenSig(d) match {
      case Some(p) => graft.tools.SignatureStore.probe(s, p, queries)
      case None =>
        // the in-session form runs the SAME kernel as the written
        // store's probe (SignatureStore.probeAgainst) — one kernel,
        // so the two branches can never diverge
        graft.tools.SignatureStore.probeAgainst(
          inSessionBuckets(s, d),
          bands = 4, rowsPerBand = 8, queries, "text", "doc_id")
    }
  }

  /** The standing corpus's (band, bucket, corpus_id) frame with
    * dd_minhash_lsh's banding — since r13 this IS the WRITTEN
    * [[graft.tools.SignatureStore]] (VERDICT r12 #1): on first use per
    * (dir, documents-fingerprint) the even-id corpus index is built
    * and PUBLISHED at the catalog's store path, and every later call
    * — in this session or any other — serves the store's lazy bucket
    * scan. dd_lsh_probe and pipe_incremental therefore bench the
    * store-probe cost by construction (the production shape: the
    * corpus banded once, durably; the write cost is paid by the first
    * run and receipted on the sigstore ladder — 11–31 s at 400k–8M
    * docs), not an in-session warm memo the artifact couldn't see.
    * The default hot-bucket cap (2048) never binds on the fixtures —
    * `write` would print the dropped count loudly; the oracle twin
    * (the uncapped in-session join) stays exact while it is 0. */
  private val inSessionBucketsMemo = new SessionMemo[DataFrame]

  private def inSessionBuckets(s: SparkSession, d: String): DataFrame =
    inSessionBucketsMemo(memoKey(s, d, "documents")) {
      val p = sigPath(d)
      if (!graft.tools.SignatureStore.ready(p)) {
        val corpus = Tables.documents(s, d).filter(col("doc_id") % 2 === 0)
        graft.tools.SignatureStore.write(s, corpus, p,
          bands = 4, rowsPerBand = 8)
      }
      graft.tools.SignatureStore.buckets(s, p)
        .select(col("band"), col("bucket"), col("corpus_id"))
    }

  private def sigPath(d: String): String =
    graft.tools.SignatureStore.path(d, ArtifactStore.dataFingerprint(d, "documents"))

  private def writtenSig(d: String): Option[String] =
    Some(sigPath(d)).filter(graft.tools.SignatureStore.ready)

  /** SimHash 32-bit signatures per document. */
  val ddSimhash: Q = (s, d) =>
    Dedup.simHash(Tables.documents(s, d), "text", "doc_id")

  /** SimHash near-dup pairs within hamming distance 3 (exact
    * pigeonhole blocking). */
  val ddSimhashPairs: Q = (s, d) =>
    Dedup.simHashPairs(Tables.documents(s, d), "text", "doc_id")

  /** Token-set Jaccard near-dup pairs over min-hash blocks. */
  val ddJaccard: Q = (s, d) =>
    Dedup.ngramJaccard(Tables.documents(s, d), "text", "doc_id", threshold = 0.7)

  /** Embedding-cosine near-dup pairs (the 5th dedup variant):
    * Rademacher sign-LSH bucket join with nBits derived from corpus
    * size (bounded expected bucket cardinality at any scale), exact
    * cosine >= threshold inside the bucket. Recall is partial by LSH
    * construction — near-dups split by a hyperplane are missed; the
    * adaptive width trades that recall against the quadratic
    * in-bucket candidate count. */
  val ddEmbedCosine: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val nBits = Similarity.adaptiveNBits(emb.count())
    val withBucket = emb.select(col("vec_id"), col("embedding"),
      Similarity.hyperplaneBucket("embedding", nBits).as("bucket"))
    val a = withBucket.select(col("bucket"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val b = withBucket.select(col("bucket"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    a.join(b, "bucket").filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(Similarity.cosine("emb_a", "emb_b"), 6).as("cos"))
      .filter(col("cos") >= 0.2)
  }

  /** Line-level boilerplate dedup (CCNet-style). The fixture corpus
    * has no newlines, so boilerplate lines are PLANTED deterministically
    * (the ta_pii precedent): three footer templates appended by doc_id
    * residue, each recurring across ~1/3–1/5 of the corpus — far above
    * minDf=20 at sf0.01+ — while every original content line stays
    * unique (df=1). The oracle predicts the exact cleaned text, so the
    * hash match proves byte-identical line removal and re-assembly. */
  val ddLines: Q = (s, d) =>
    Dedup.boilerplateLines(
      Tables.documents(s, d).select(col("doc_id"), expr(
        """concat(text,
          |  CASE WHEN doc_id % 3 = 0 THEN concat(chr(10),
          |    'subscribe to our newsletter for updates') ELSE '' END,
          |  CASE WHEN doc_id % 4 = 1 THEN concat(chr(10),
          |    'all rights reserved worldwide') ELSE '' END,
          |  CASE WHEN doc_id % 5 = 2 THEN concat(chr(10),
          |    'share this article with code ', CAST(doc_id % 2 AS STRING))
          |    ELSE '' END)""".stripMargin).as("rich")),
      "rich", "doc_id", minDf = 20)

  /** Duplicate-cluster resolution: connected components over the
    * dd_jaccard near-dup pairs (transitive closure — duplicate CHAINS
    * collapse into one cluster), every document labeled with its
    * cluster's minimum doc_id. `doc_id == component_id` is the
    * deterministic survivor rule; singletons are their own component.
    *
    * Inherits the salted-bucket recall contract: on a pathological
    * corpus (≫ maxBucket near-identical docs) cross-shard pairs are
    * never examined, so one giant true cluster may surface as several
    * shard-bounded clusters — dedup then keeps one survivor per shard
    * instead of one overall, a bounded overcount that is the price of
    * no bucket ever exceeding maxBucket (see [[Dedup.minHashLsh]]).
    */
  private def computeComponents(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // spanningOnly: the closure needs connectivity, not the pair list —
    // per-group spanning forests carry the same components with ~the
    // qualifying-degree fewer edges (2.78M → 14k at sf0.1); the oracle
    // computes the closure over ALL pairs and must agree exactly
    val edges = Dedup.ngramJaccard(docs, "text", "doc_id", threshold = 0.7,
        spanningOnly = true)
      .select(col("doc_a"), col("doc_b"))
    val comp = Components.connectedComponents(edges, "doc_a", "doc_b")
      .withColumnRenamed("node", "doc_id")
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component_id"))
      // eager checkpoint (one doc_id->component_id row per doc — tiny):
      // materializes the closure once so the run's OTHER reader
      // (dd_components_stats) costs two aggs, not a second closure
      .localCheckpoint()
  }

  /** One labeled frame per (session, dir, data-fingerprint) run,
    * shared by dd_components, dd_components_stats and dd_keep.
    * dd_components OWNS the memo — it always recomputes and
    * re-publishes (so its bench timing stays the honest closure cost)
    * — while the readers ([[components]]) reuse whatever the run
    * already computed. */
  private val componentMemo = new SessionMemo[DataFrame]

  /** The written index directory for this (dir, fingerprint) — the
    * PRIMARY index source when [[graft.tools.ArtifactBuild]] `index`
    * has run (VERDICT r5 #4: at 100 TB the index is a table that outlives
    * the driver); session memos below are a cache in front of it. */
  private def writtenIndex(d: String): Option[String] =
    Some(graft.tools.IndexStore.path(d, ArtifactStore.dataFingerprint(d, "embeddings")))
      .filter(graft.tools.IndexStore.ready)

  /** Every memo's key: session identity, dir and the table's
    * driver-side (name, size, mtime) fingerprint — data changing under
    * the same path within one session cannot serve a stale result
    * (ADVICE r4); listing a local directory is driver-only metadata
    * work. */
  private def memoKey(s: SparkSession, d: String, table: String): String =
    s"${System.identityHashCode(s)}|$d|${ArtifactStore.dataFingerprint(d, table)}"

  val ddComponents: Q = (s, d) =>
    componentMemo.put(memoKey(s, d, "documents"), computeComponents(s, d))

  /** Reader side of [[componentMemo]]: the run's labeled frame, else
    * computed and published. */
  private def components(s: SparkSession, d: String): DataFrame =
    componentMemo(memoKey(s, d, "documents"))(computeComponents(s, d))

  /** Cluster-size statistics — the survivor-rule diagnostic over the
    * SAME closure result as dd_components (VERDICT r3 #4): one tagged
    * frame holding the cluster-size histogram (`kind='hist'`: k =
    * cluster size, n = how many clusters) plus the top-10 largest
    * clusters (`kind='top'`: k = component_id, n = its size;
    * size-desc, id-asc tie-break so both engines pick identical
    * rows). Histogram + top-k are two map-side-combined aggs over the
    * tiny labeled frame; top-10 plans as TakeOrderedAndProject. */
  val ddClusterStats: Q = (s, d) => {
    val sizes = components(s, d).groupBy(col("component_id"))
      .agg(count(lit(1)).as("csize"))
    val hist = sizes.groupBy(col("csize"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(lit("hist").as("kind"), col("csize").cast("long").as("k"), col("n"))
    val top = sizes.orderBy(col("csize").desc, col("component_id")).limit(10)
      .select(lit("top").as("kind"), col("component_id").cast("long").as("k"),
        col("csize").cast("long").as("n"))
    hist.union(top)
  }

  /** Duplicate-cluster RESOLUTION — the step after the closure: keep
    * exactly one representative per near-dup cluster (the LONGEST
    * document, ties → smallest doc_id — the common keep-longest
    * practice), flag the rest for dropping. Reuses the run's memoized
    * closure like [[ddClusterStats]]; the argmax is one window over
    * the tiny labeled frame joined with per-doc lengths (singleton
    * clusters keep their only member by construction). */
  val ddKeep: Q = (s, d) => {
    val lens = Tables.documents(s, d)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component_id"))
      .orderBy(col("len").desc, col("doc_id"))
    components(s, d).join(lens, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("component_id"), col("len"),
        (col("rk") === 1).as("kept"))
  }

  /** Decontamination — the benchmark-overlap check: which training
    * documents share 8-token shingles with an eval set (here doc_id <
    * 20 stands in for the benchmark). The eval side's distinct shingle
    * hashes are tiny and BROADCAST, so the training corpus never
    * shuffles: shingling is a narrow explode, the probe a codegen hash
    * join, and only (train, eval, overlap-count) rows come back. */
  val ddContaminated: Q = (s, d) => {
    // thin instantiation of the first-class operator: any two
    // (id, text) frames work; here doc_id < 20 stands in for the
    // benchmark eval set on the shared documents table
    val docs = Tables.documents(s, d)
    Dedup.contaminationCheck(
      train = docs.filter(col("doc_id") >= 20),
      eval = docs.filter(col("doc_id") < 20))
  }

  // ------------------------------------------------------------ similarity

  /** Brute-force cosine top-10 for a fixed query set (vec_id < 20). */
  val annBruteForce: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 10)
  }

  /** Rademacher sign-LSH bucketed ANN with adaptive width and
    * single-bit-flip multi-probe (the scale path; partial recall by
    * design). */
  val annBucketed: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.bucketedTopK(emb, emb.filter(col("vec_id") < 20), k = 10)
  }

  /** Trained IVF centroids — DRIVER-HELD values (nCentroids × dim
    * doubles, no Spark storage). Train-once/probe-many is the 100 TB
    * shape: the training jobs must not re-run per query (VERDICT r4
    * #1 — ann_ivf went 0.65 s → 4.69 s retraining per invocation).
    * Since r9 this memo is the CACHE for the no-written-index path
    * only — probes over a written index broadcast the centroid TABLE
    * plan-side via [[centroidFrame]] and never touch it. */
  private val centroidMemo = new SessionMemo[Seq[(Long, Seq[Double])]]

  private def trainedCentroids(s: SparkSession, d: String): Seq[(Long, Seq[Double])] =
    centroidMemo(memoKey(s, d, "embeddings")) {
      // a WRITTEN index beats retraining — centroids are nCentroids
      // rows, one tiny parquet read
      writtenIndex(d) match {
        case Some(p) => graft.tools.IndexStore.readCentroids(s, p)
        case None => Similarity.kmeansTrain(Tables.embeddings(s, d))
      }
    }

  /** Centroid frame for the PROBE entries (VERDICT r8 #3): with a
    * WRITTEN index the centroid table is read and broadcast
    * PLAN-SIDE — scan → broadcast exchange → executors, zero driver
    * materialization, so driver state stays O(1) while adaptive
    * k = ⌈√n⌉ grows with the corpus (~160 MB of Seq at 10¹¹
    * vectors). Values are bit-identical either way (IndexPersistSpec
    * pins the round-trip), and every consumer is order-insensitive
    * (crossJoin + windows/aggregates over deterministic keys).
    * Without a written index the driver memo stays as the CACHE in
    * front of kmeansTrain — training itself is inherently
    * driver-coordinated (each Lloyd round collects ≤ k stat rows). */
  private def centroidFrame(s: SparkSession, d: String): DataFrame =
    writtenIndex(d) match {
      case Some(p) => graft.tools.IndexStore.readCentroidsDf(s, p)
      case None => Similarity.centroidsDf(s, trainedCentroids(s, d))
    }

  /** The (vec_id, cent_id, embedding) inverted-list index — the
    * second half of train-once/probe-many: written table first
    * (durable), else built + checkpointed in-session. Read by ann_ivf's
    * probe, dd_semantic's in-cluster pair search and emb_knn_graph. */
  private val ivfIndexMemo = new SessionMemo[DataFrame]

  private def assignedIndex(s: SparkSession, d: String,
                            cents: DataFrame): DataFrame =
    ivfIndexMemo(memoKey(s, d, "embeddings")) {
      writtenIndex(d) match {
        case Some(p) => graft.tools.IndexStore.readIvfIndex(s, p)
        case None => Similarity.ivfAssign(Tables.embeddings(s, d), cents)
          .localCheckpoint()
      }
    }

  /** IVF-Flat ANN: inverted lists over deterministic centroids, probe
    * the 4 nearest of 32 (partial recall by design — the third ANN
    * shape next to brute-force and sign-LSH). Centroid and assignment
    * values are identical whether built fresh or served from the
    * memos, so the oracle contract is unchanged. */
  val annIvf: Q = (s, d) => {
    val cents = broadcast(centroidFrame(s, d))
    Similarity.ivfProbe(assignedIndex(s, d, cents), cents,
      Tables.embeddings(s, d).filter(col("vec_id") < 20), k = 10)
  }

  /** SemDeDup over the fixture embeddings: the shared k-means
    * assignment supplies the clusters; a vector with a smaller-id
    * in-cluster neighbor at rounded cosine ≥ 0.3 is a duplicate.
    * The candidate search is blocked BY the clustering — no pair
    * forms across clusters (see [[Similarity.semanticDedup]]). */
  val ddSemantic: Q = (s, d) => {
    val cents = broadcast(centroidFrame(s, d))
    Similarity.semanticDedup(assignedIndex(s, d, cents), threshold = 0.3)
  }

  /** All-corpus clustered kNN graph (top-5 in-cluster neighbors per
    * vector) from the SAME train-once inverted-list index — the graph
    * consumers (cluster pruning, diversity sampling) start from. */
  val embKnnGraph: Q = (s, d) => {
    val cents = broadcast(centroidFrame(s, d))
    Similarity.knnGraph(assignedIndex(s, d, cents), k = 5)
  }

  /** Trained PQ codebooks — driver-held like centroidMemo (m·ksub·dSub
    * doubles, no Spark storage). Codebooks build once; encodings probe
    * many. Read by emb_pq, ann_pq and the IVFPQ queries. */
  private val pqMemo = new SessionMemo[Seq[(Int, Long, Seq[Long])]]

  private def trainedBooks(s: SparkSession, d: String): Seq[(Int, Long, Seq[Long])] =
    pqMemo(memoKey(s, d, "embeddings")) {
      // trainSample = 0.5: the codebooks estimate subspace cluster
      // geometry, which a deterministic hash-Bernoulli half
      // preserves, and the contract caps pqTrain's checkpointed
      // training frame at half the corpus regardless of scale
      // (VERDICT r5 #3). The oracle trains on the same md5 sample;
      // IndexStore.writeAll uses the same default, so a written
      // codebook is bit-identical to an in-session one.
      writtenIndex(d) match {
        case Some(p) => graft.tools.IndexStore.readBooks(s, p)
        case None =>
          Similarity.pqTrain(Tables.embeddings(s, d), trainSample = Some(0.5))
      }
    }

  /** Product quantization: 8 subspaces × 16 L2-k-means centroids
    * (trained once per data fingerprint), per-vector 8-byte codes +
    * the exact micro-unit reconstruction-error witness — the 32×
    * memory-bounded ANN representation at corpus scale. */
  val embPq: Q = (s, d) =>
    Similarity.pqAssign(Tables.embeddings(s, d), trainedBooks(s, d))

  /** The encoded PQ corpus, read by ann_pq — at serving scale the codes
    * ARE the written index (encode once, probe many). */
  private val pqIndexMemo = new SessionMemo[DataFrame]

  /** PQ asymmetric-distance ANN: the fourth search shape (brute /
    * sign-LSH / IVF / PQ-ADC) — queries rank the 8-byte-encoded corpus
    * through broadcast integer lookup tables; codes and codebooks are
    * served from the per-fingerprint memos. */
  val annPq: Q = (s, d) => {
    val books = trainedBooks(s, d)
    val encoded = pqIndexMemo(memoKey(s, d, "embeddings")) {
      writtenIndex(d) match {
        case Some(p) => graft.tools.IndexStore.readPqIndex(s, p)
        case None => Similarity.pqAssign(Tables.embeddings(s, d), books)
          .localCheckpoint()
      }
    }
    Similarity.pqSearch(encoded, books,
      Tables.embeddings(s, d).filter(col("vec_id") < 20), k = 10)
  }

  /** The composed IVFPQ index (coarse inverted-list id + 8-byte PQ
    * code per vector) — the serving-scale index table (VERDICT r5 #2):
    * written table first, else built + checkpointed in-session. Shared
    * by the corpus-query and external-query probes. */
  private val ivfPqIndexMemo = new SessionMemo[DataFrame]

  private def ivfPqIndexOf(s: SparkSession, d: String, cents: DataFrame,
                           books: Seq[(Int, Long, Seq[Long])]): DataFrame =
    ivfPqIndexMemo(memoKey(s, d, "embeddings")) {
      writtenIndex(d) match {
        case Some(p) => graft.tools.IndexStore.readIvfPqIndex(s, p)
        case None => Similarity.ivfPqIndex(Tables.embeddings(s, d), cents, books)
          .localCheckpoint()
      }
    }

  /** IVFPQ ANN — the fifth search shape and the one you'd actually
    * serve at corpus scale (FAISS IVFPQ, by_residual=false): the IVF
    * probe prunes each query to its 4 of 32 inverted lists, PQ-ADC
    * ranks ONLY those candidates as 8-byte codes through broadcast
    * integer LUTs. Composed from the SAME memoized centroids and
    * codebooks that serve ann_ivf / ann_pq — one training pays for
    * all three shapes. */
  val annIvfPq: Q = (s, d) => {
    val cents = broadcast(centroidFrame(s, d))
    val books = trainedBooks(s, d)
    Similarity.ivfPqSearch(ivfPqIndexOf(s, d, cents, books), cents, books,
      Tables.embeddings(s, d).filter(col("vec_id") < 20), k = 10)
  }

  /** Two-stage IVFPQ + exact re-rank (the FAISS refine step): ADC
    * shortlists 50 candidates per query from the pruned lists, then
    * exact float cosine re-ranks ONLY those 50 for the final top-10 —
    * quantization error caps shortlist recall, not final ordering.
    * Same memoized halves as ann_ivfpq; the candidate fetch broadcasts
    * the |queries|×50 shortlist so the corpus never shuffles. */
  val annIvfPqRerank: Q = (s, d) => {
    val cents = broadcast(centroidFrame(s, d))
    val books = trainedBooks(s, d)
    Similarity.ivfPqRerank(ivfPqIndexOf(s, d, cents, books), cents, books,
      Tables.embeddings(s, d),
      Tables.embeddings(s, d).filter(col("vec_id") < 20), k = 10)
  }

  /** IVFPQ probe from an EXTERNAL query frame (VERDICT r6 #7) — the
    * serving reality: queries are new vectors arriving from outside,
    * not corpus members, so their ids live OUTSIDE the corpus id
    * space and `excludeSelf = false` keeps every candidate (an id
    * collision would be coincidence, not a self-match; the default
    * true is for catalog queries drawn FROM the corpus). The fixture
    * external set re-identifies the first 20 corpus vectors past the
    * corpus id range; each query's top hit is therefore its corpus
    * twin at ADC distance = its own quantization error — the
    * round-trip witness that no candidate row was excluded. */
  val annExternal: Q = (s, d) => {
    val cents = broadcast(centroidFrame(s, d))
    val books = trainedBooks(s, d)
    val external = Tables.embeddings(s, d).filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
    Similarity.ivfPqSearch(ivfPqIndexOf(s, d, cents, books), cents, books,
      external, k = 10, excludeSelf = false)
  }

  /** Per-label embedding centroids (the IVF-training / cluster-
    * diagnostics primitive), one row per (label, dimension). The
    * posexplode widens each vector to 64 rows, but hash-agg partials
    * map-side-combine them to (labels × dims) rows per partition
    * before the shuffle — the shuffle is constant-size at any corpus
    * scale. Components are summed as integer micro-units (exact,
    * order-independent — a raw double sum's last ulp depends on
    * partition merge order and can flip a rounded digit). */
  val embCentroid: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(round(col("v").cast("double") * 1000000).cast("long")).as("sv"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim").cast("long").as("dim"),
        round(col("sv") / (col("n") * lit(1000000.0)), 6).as("centroid"))

  /** Embedding gram matrix G[i][j] = Σ_vectors qᵢ·qⱼ over milli-unit
    * integer components — the exact-arithmetic covariance/whitening
    * prep step (PCA, ZCA, mean-centering all start here). The d²
    * explode per vector collapses map-side to ≤ d(d+1)/2 = 2080 rows
    * per partition, so the shuffle is CONSTANT-size at any corpus
    * scale; the work is the inherent O(n·d²) of a gram matrix.
    * Integer milli-unit products are exact and order-independent —
    * no fp summation order can diverge from the oracle. */
  val embGram: Q = (s, d) =>
    Similarity.gramMatrix(Tables.embeddings(s, d))

  /** Salted skew join as a first-class catalog query: every events row
    * joins the 5-row per-type dim — 5 keys for 100k+ rows is exactly
    * the hot-key shape [[SkewTools.saltedJoin]] splits across
    * reducers. The oracle is the PLAIN join: the salt must be
    * row-invisible (identical output), which the hash compare proves. */
  val jSkewSalted: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val dim = ev.groupBy(col("event_type")).agg(count(lit(1)).as("type_n"))
    SkewTools.saltedJoin(ev.select(col("event_id"), col("event_type")),
        dim, "event_type", salts = 8, saltFrom = Some("event_id"))
      .select(col("event_id"), col("event_type"), col("type_n"))
  }

  /** Co-located join + order-grain aggregation over the BUCKETED
    * warehouse layout ([[graft.tools.BucketedLayout]]): both fact
    * tables are bucketed (and bucket-sorted) by the order key, so the
    * lineitem⋈orders join reads bucket i against bucket i and the
    * groupBy on the same key reuses that partitioning — the ENTIRE
    * query plans with ZERO shuffle Exchange (gated in
    * BucketedJoinSpec), the amortized-layout answer to the recurring
    * dominant shuffle of every order-grain query at 100 TB. The
    * oracle is the PLAIN SQL over the raw parquet: the layout must be
    * row-invisible, which the hash compare proves (the j_skew_salted
    * pattern). Prefix is sf-keyed so concurrent SFs don't clobber
    * each other's catalog entries. */
  val jBucketedColo: Q = (s, d) => {
    val prefix = bucketedPrefix(d)
    graft.tools.BucketedLayout.ensureTradeTables(s, d, numBuckets = 8, prefix)
    graft.tools.BucketedLayout.colocatedJoin(s, prefix)
      .groupBy(col("o_orderkey"), col("o_totalprice"))
      .agg(sum(col("l_quantity")).as("sq"))
      .filter(col("sq") > 150)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("totalprice"),
        round(col("sq"), 4).as("sum_qty"))
  }

  /** sf-keyed table-name prefix for [[jBucketedColo]] (shared with its
    * plan gate) — same key helper as the on-disk location, so names
    * and paths cannot desynchronize. */
  def bucketedPrefix(sfDir: String): String =
    s"graft_bktq_${graft.tools.BucketedLayout.sfKey(sfDir)}"

  // ---------------------------------------------------------- text analysis

  /** Stopword-profile language ID vs the labeled lang column. */
  val taLangId: Q = (s, d) =>
    Tables.documents(s, d).select(col("doc_id"), col("lang"),
      TextAnalysis.langId(col("text")).as("lang_pred"))

  /** Quality features + composite score. */
  val taQuality: Q = (s, d) =>
    TextAnalysis.qualityFeatures(Tables.documents(s, d), "text")
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        col("punct_ratio"), col("stopword_ratio"), col("mean_word_len"),
        col("quality_score"))

  /** PII scrub gate over the documents corpus. The word-salad fixture
    * contains no PII, so deterministic spans are planted first (email
    * on doc_id%3=0, 555-phone on %4=0, dotted-quad IP on %5=0 — the
    * same synthesize-then-process pattern as the multimodal payloads),
    * making every detector's count column NON-vacuous; the md5 receipt
    * proves both engines produced byte-identical scrubbed text. */
  /** URL/domain provenance histogram. The corpus has no URLs, so they
    * are PLANTED deterministically (the ta_pii precedent): three host
    * families keyed on doc_id residues — 5 news subdomains, 3 cdn
    * hosts, 1 wiki host — giving 9 domains with predictable doc and
    * mention counts. */
  val taUrls: Q = (s, d) =>
    TextAnalysis.urlDomains(
      Tables.documents(s, d).select(col("doc_id"), expr(
        """concat(text,
          |  CASE WHEN doc_id % 4 = 1 THEN concat(' visit https://news-',
          |    CAST(doc_id % 5 AS STRING), '.example.com/story/',
          |    CAST(doc_id AS STRING)) ELSE '' END,
          |  CASE WHEN doc_id % 6 = 2 THEN concat(' mirror http://cdn',
          |    CAST(doc_id % 3 AS STRING), '.example.net/asset') ELSE '' END,
          |  CASE WHEN doc_id % 10 = 3 THEN ' docs at https://wiki.example.org'
          |    ELSE '' END)""".stripMargin).as("rich")), "rich", "doc_id")

  val taPii: Q = (s, d) =>
    TextAnalysis.redactPii(
      Tables.documents(s, d).select(col("doc_id"), expr(
        """concat(text,
          |  CASE WHEN doc_id % 3 = 0 THEN concat(' contact u',
          |    CAST(doc_id AS STRING), '@mail-', CAST(doc_id % 7 AS STRING), '.com')
          |    ELSE '' END,
          |  CASE WHEN doc_id % 4 = 0 THEN concat(' call 555-',
          |    lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) ELSE '' END,
          |  CASE WHEN doc_id % 5 = 0 THEN concat(' host 10.',
          |    CAST(doc_id % 256 AS STRING), '.', CAST(doc_id % 200 AS STRING),
          |    '.', CAST(doc_id % 250 AS STRING)) ELSE '' END)""".stripMargin)
        .as("rich")), "rich", "doc_id")

  /** Whitespace + BPE-ish token counts. */
  val taTokens: Q = (s, d) =>
    TextAnalysis.tokenCounts(Tables.documents(s, d), "text")
      .select(col("doc_id"), col("ws_tokens").cast("long").as("ws_tokens"),
        col("bpe_tokens").cast("long").as("bpe_tokens"))

  /** Order-insensitive content fingerprint. */
  val taFingerprint: Q = (s, d) =>
    TextAnalysis.fingerprint(Tables.documents(s, d), "text", "doc_id")

  /** Winnowing (MOSS) rolling-hash fingerprint: distinct window-min
    * 4-gram hashes, w=8. */
  val taWinnow: Q = (s, d) =>
    TextAnalysis.winnowFingerprint(Tables.documents(s, d), "text", "doc_id")

  /** Corpus vocabulary: top-100 tokens by frequency (shared tokenizer;
    * explode → map-side-combined count → TakeOrdered — the corpus
    * never sorts, only per-partition heaps merge). */
  val taVocab: Q = (s, d) =>
    Tables.documents(s, d)
      .select(StatelessOps.explodeTokens(col("text")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(100)

  /** BPE merge-table induction ([[graft.operators.Bpe]]): 50 learned
    * subword merges over the corpus word histogram — the
    * tokenizer-training operator. Deterministic given the
    * count/tiebreak contract, so the oracle replays the same merges
    * CTE by CTE. ta_bpe OWNS [[bpeMemo]] like dd_components owns
    * componentMemo: it always recomputes and re-publishes so its bench
    * timing stays the honest induction cost. The memoized merge table
    * is a 50-row LOCAL relation or a parquet scan — never a
    * checkpoint, so replacing it frees nothing. */
  private val bpeMemo = new SessionMemo[DataFrame]

  /** A WRITTEN merge table ([[graft.tools.ArtifactBuild]] `bpe`) is the
    * PRIMARY source when present — the tokenizer outlives the driver,
    * the IndexStore discipline applied to BPE. Contents are
    * bit-identical to in-session induction (same deterministic
    * training, keyed by the same data fingerprint), so the oracle
    * contract is unchanged (BpePersistSpec pins it). */
  private def trainMerges(s: SparkSession, d: String): DataFrame = {
    val p = graft.tools.BpeStore.path(d, ArtifactStore.dataFingerprint(d, "documents"))
    if (graft.tools.BpeStore.ready(p)) graft.tools.BpeStore.read(s, p)
    else Bpe.learnMerges(Tables.documents(s, d), "text", numMerges = 50)
  }

  val taBpe: Q = (s, d) => bpeMemo.put(memoKey(s, d, "documents"), trainMerges(s, d))

  /** Reader side of [[bpeMemo]], shared by the segment/encode queries:
    * reuse the run's learned table, else the written table, else
    * learn-and-publish — ONE definition so the train-once contract
    * cannot diverge between readers. */
  private def learnedMerges(s: SparkSession, d: String): DataFrame =
    bpeMemo(memoKey(s, d, "documents"))(trainMerges(s, d))

  /** The encode half: every vocabulary word segmented by replaying the
    * learned merge table in rank order (subword count + the joined
    * segmentation as a receipt both engines must reproduce byte for
    * byte). Reuses the run's learned table via [[bpeMemo]] — the
    * train-once/apply-many shape; recomputes only when ta_bpe hasn't
    * run against this (session, dir, data-fingerprint). */
  val taBpeSegment: Q = (s, d) =>
    Bpe.segment(Bpe.wordHistogram(Tables.documents(s, d), "text"), "word",
        learnedMerges(s, d))
      .select(col("word"), col("freq"),
        size(col("subwords")).cast("long").as("n_subwords"),
        array_join(col("subwords"), " ").as("seg_text"))

  /** The corpus-ENCODE step completing the BPE triple (train →
    * segment vocab → encode corpus): per-document word and learned-
    * subword token counts. The segmented VOCAB broadcasts into a
    * codegen hash join (the ta_token_ids pattern — the corpus never
    * shuffles for the lookup; the per-doc agg is map-side combined),
    * so the corpus-side plan is one narrow tokenize pass + one
    * bounded-key aggregation at any scale. Reuses the run's learned
    * table via [[bpeMemo]]. */
  val taBpeTokens: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val seg = Bpe.segment(Bpe.wordHistogram(docs, "text"), "word",
        learnedMerges(s, d))
      .select(col("word"), size(col("subwords")).cast("long").as("n_sub"))
    docs.select(col("doc_id"), StatelessOps.explodeTokens(col("text")).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(seg), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_bpe_tokens"))
  }

  /** Heavy-hitter tokens: Misra-Gries sketch prunes, exact count
    * confirms — the frequency twin of the bloom-semi-join pattern.
    * The exact form shuffles every token occurrence into a corpus-wide
    * groupBy; here each partition reduces to ≤ 64 counters, the ≤ 64
    * candidates broadcast back to prune the token stream, and the
    * exact count runs over candidate occurrences only. The sketch
    * guarantees every item above n/65 survives, the threshold is n/32,
    * and false candidates die in the confirm — so the result equals
    * the full groupBy exactly. */
  val aggHeavyHitters: Q = (s, d) => {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(StatelessOps.explodeTokens(col("text")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("tok"), graft.functions.Hashing.md5Long(col("tok")).as("h"))
    // ONE corpus pass yields both the sketch and the total; the ≤ 64
    // candidate hashes come back on the same driver row
    val first = toks
      .agg(graft.functions.MisraGries.misraGries(col("h"), 64).as("mg"),
        count(lit(1)).as("n"))
      .head()
    val total = first.getLong(1)
    val cand = first.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(0)).toDF("h")
    toks.join(broadcast(cand), Seq("h"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= lit(total / 32.0))
  }

  /** Top-50 corpus bigrams (adjacent token pairs in document order) —
    * the n-gram statistics pass of a corpus profile. Bigram generation
    * is a narrow per-document zip of the token array with its own
    * tail (no explode-then-self-join, which would shuffle every token
    * twice); counts map-side combine and the top-50 is TakeOrdered
    * (per-partition heaps — the corpus never globally sorts). */
  val taNgrams: Q = (s, d) => {
    val toks = StatelessOps.tokenArray(col("text"))
    Tables.documents(s, d)
      .select(toks.as("toks")).where(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram")).limit(50)
  }

  /** Document → token-id sequence (the training-prep step): rank the
    * top-100 corpus vocabulary into ids, then map every token of every
    * document in order, out-of-vocabulary → -1. The vocab is bounded
    * (top-k of a map-side-combined count), so the corpus-wide mapping
    * is a BROADCAST hash join inside whole-stage codegen — the
    * documents never shuffle, at any corpus size. One row per (doc,
    * position): array-free output keeps the oracle compare exact. */
  val taTokenIds: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // vocab ranking happens DRIVER-SIDE on the ≤100 collected rows
    // (bounded collect — the adjudicated runtime-filter shape, same as
    // heavy-hitters): TakeOrderedAndProject already returns them in
    // (n desc, tok) order, so zipWithIndex IS the rank. The former
    // rank-via-window form kept a WindowExec in the plan — Spark 4.1's
    // EliminateWindowPartitions strips a foldable partitionBy(lit(0)),
    // so the "No Partition Defined" warning fired anyway (VERDICT r4
    // #2); now there is no window at all.
    val vocab = docs.select(StatelessOps.explodeTokens(col("text")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(100)
      .select(col("tok")).as[String].collect()
      .zipWithIndex.map { case (t, i) => (t, i.toLong) }.toSeq
    val vocabDf = s.createDataset(vocab).toDF("tok", "token_id")
    val toks = docs.select(col("doc_id"),
        posexplode(StatelessOps.tokenArray(col("text"))).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
    toks.join(broadcast(vocabDf), Seq("tok"), "left")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        coalesce(col("token_id"), lit(-1L)).as("token_id"))
  }

  // ------------------------------------------- sampling / dataset splitting

  /** Deterministic 10% Bernoulli sample keyed on doc_id — repeatable
    * across runs, cluster sizes and engines (vs partition-order-
    * dependent df.sample). */
  val dsSampleHash: Q = (s, d) =>
    Sampling.hashSample(Tables.documents(s, d), "doc_id", 0.1)
      .select(col("doc_id"), col("lang"), col("source"))

  /** Exact-50 length-weighted sample without replacement (the A-ES
    * scheme — longer documents proportionally likelier), determinate
    * in (doc_id, salt) like every sampling decision here
    * ([[Sampling.weightedSample]]). */
  val dsWeightedSample: Q = (s, d) =>
    Sampling.weightedSample(Tables.documents(s, d), "doc_id",
      length(col("text")), k = 50)

  /** Per-language rates: downsample dominant strata, keep rare ones. */
  val dsSampleStratified: Q = (s, d) =>
    Sampling.stratifiedSample(Tables.documents(s, d), "doc_id", "lang",
      Map("en" -> 0.05, "fr" -> 0.5, "de" -> 0.8), defaultRate = 0.25)
      .select(col("doc_id"), col("lang"))

  /** EXACT-k per-stratum sample (eval-set construction wants exact
    * sizes, not Bernoulli fractions): the k = 16 hash-smallest docs
    * per language via the bounded [[graft.functions.KMinByHash]]
    * aggregate — a uniform, repeatable choice (hashing permutes the
    * stratum) whose map-side partials cap each partition's shuffle
    * contribution at k rows per stratum, where the naive row_number
    * window funnels every stratum through ONE reducer (5 langs = 5
    * tasks sorting the corpus at 100 TB). Rank rides along (h asc
    * position), so the consumer can take any prefix j ≤ k. */
  val dsSampleTopk: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("lang"),
      col("doc_id").cast("long").as("doc_id"),
      graft.functions.Hashing.md5Mod31(
        concat(lit("topk_"), col("doc_id").cast("string"))).as("h"))
    docs.groupBy(col("lang"))
      .agg(graft.functions.KMinByHash.kMinByHash(col("h"),
        col("doc_id").cast("double"), 16).as("sm"))
      .select(col("lang"), posexplode(col("sm")).as(Seq("pos", "e")))
      .select(col("lang"), col("e.v").cast("long").as("doc_id"),
        (col("pos") + 1).cast("int").as("rk"))
  }

  /** Stable train/valid/test assignment (75/12.5/12.5 — exactly
    * representable cumulative thresholds; a key's split never changes
    * as the corpus grows). */
  val dsSplitAssign: Q = (s, d) =>
    Sampling.splitAssign(Tables.documents(s, d), "doc_id",
      Seq("train" -> 0.75, "valid" -> 0.125), lastName = "test")
      .select(col("doc_id"), col("split"), col("lang"))

  /** Domain-mixture sampling: hit target source shares of a 100-doc
    * budget (src0 30 %, src1 20 %, src2 10 %, the rest sharing 40 %)
    * against the actual per-source counts — the corpus-mixing step of
    * a pretraining pipeline. Bounded per-source count agg → literal
    * rate chain → shuffle-free hash-Bernoulli pass. */
  val dsMixture: Q = (s, d) =>
    Sampling.mixtureSample(Tables.documents(s, d), "doc_id", "source",
      Map("src0" -> 0.3, "src1" -> 0.2, "src2" -> 0.1),
      defaultWeight = 0.4 / 17, budget = 100.0)
      .select(col("doc_id"), col("source"))

  /** Sliding-window token chunking (32-token chunks every 24): the
    * RAG/pretraining segmentation step, exact positional witnesses,
    * narrow explode — no shuffle, no chunk-text duplication. */
  val taChunks: Q = (s, d) =>
    TextAnalysis.chunk(Tables.documents(s, d), "text", "doc_id")

  /** Per-document distinctive terms: top-3 by tf·idf with the
    * rounded-score + token tiebreak ranking contract. */
  val taTfidf: Q = (s, d) =>
    TextAnalysis.tfidfTopTerms(Tables.documents(s, d), "text", "doc_id")

  /** Hashing-trick featurizer: every document's signed-count feature
    * vector over 256 hashed buckets — the vocabulary-free classifier
    * input ([[graft.operators.TextAnalysis.hashedFeatures]]; sparse
    * (doc, idx, w) triples, one combinable aggregate). */
  val taHashvec: Q = (s, d) =>
    TextAnalysis.hashedFeatures(Tables.documents(s, d), "text", "doc_id")

  /** BM25 ranked retrieval: the 20 documents best matching the fixed
    * query "stream join window filter" — one tokenize pass, one
    * map-side-combinable aggregate, a one-row corpus-stats broadcast,
    * integer micro-unit per-term scores summed order-free
    * ([[graft.operators.TextAnalysis.bm25Rank]]). */
  val taBm25: Q = (s, d) =>
    TextAnalysis.bm25Rank(Tables.documents(s, d), "text", "doc_id",
      Seq("stream", "join", "window", "filter"))

  /** Token-distribution entropy + type-token ratio per document —
    * information-density quality signals; per-row narrow, zero
    * shuffle (micro-nat integer accumulation for oracle parity). */
  val taEntropy: Q = (s, d) =>
    TextAnalysis.entropy(Tables.documents(s, d), "text", "doc_id")

  /** Cross-document duplicated-span fraction: share of each doc's
    * distinct 3-grams that occur in at least one other document
    * (span-level boilerplate signal; one scan, hashed-gram shuffle,
    * count-window doc frequency — the ta_tfidf plan shape). */
  val ddCrossdoc: Q = (s, d) =>
    Dedup.crossDocNgrams(Tables.documents(s, d), "text", "doc_id")

  /** Duplicated-span extraction (Lee et al. 2022): maximal runs of
    * corpus-duplicated 3-grams, ≥ 2 grams long — the remover's span
    * list where dd_crossdoc is the scorer's fraction. One scan, zero
    * joins (plan-gated with dd_containment). */
  val ddSpans: Q = (s, d) =>
    Dedup.duplicatedSpans(Tables.documents(s, d), "text", "doc_id")

  /** Span REMOVAL applied: every token covered by a qualifying
    * duplicated span scrubbed, with byte-identical-output fingerprints
    * as the cross-engine receipt (see [[Dedup.scrubSpans]]). */
  val ddSpansScrub: Q = (s, d) =>
    Dedup.scrubSpans(Tables.documents(s, d), "text", "doc_id")

  /** Deterministic global training order (epoch shuffle): pseudorandom
    * md5-keyed global rank via the two-pass prefix sum — no global
    * sort, numPartitions longs to the driver. */
  val dsShuffleRank: Q = (s, d) =>
    Sampling.shuffleRank(Tables.documents(s, d), "doc_id")

  /** Temperature-scaled source sampling weights (α = 0.7 — the
    * multilingual rebalancing knob from XLM-R-style
    * pipelines): p_lang ∝ n_lang^α flattens the head and boosts the
    * tail versus proportional sampling. Weights round to exact
    * integer MICRO-units before summing (n^0.7 is irrational; a raw
    * double Σ is accumulation-order-dependent across engines), so
    * p and the 10k-budget targets derive from exact integers in one
    * fixed expression order. One groupBy + a 1-row broadcast total —
    * nothing scales with corpus rows but the count scan.
    *
    * Batch-only BY CONTRACT (VERDICT r6 #6): the weights are a
    * corpus-wide aggregate (every language's count enters every p),
    * so there is no incremental form — the streaming deployment
    * recomputes the tiny (lang, n) aggregate per epoch/snapshot and
    * broadcasts frozen weights to the samplers, the same
    * fit-batch/apply-stream split as standardize's moments. */
  val dsTemperature: Q = (s, d) => {
    val counts = Tables.documents(s, d).groupBy(col("lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("wm",
        round(pow(col("n").cast("double"), lit(0.7)) * 1000000).cast("long"))
    val tot = counts.agg(sum(col("wm")).as("tw"))
    counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n"),
        round(col("wm") * lit(1.0) / col("tw"), 6).as("p"),
        round(col("wm") * lit(10000.0) / col("tw")).cast("long").as("target_10k"))
  }

  /** Deterministic weighted interleave of the 20 fixture sources —
    * weight (srcNum % 3) + 1 ∈ {1,2,3}, L = lcm = 6: at every prefix
    * of the schedule a weight-3 source has emitted exactly 3× the
    * items of a weight-1 source (stride scheduling; see
    * [[Sampling.interleave]]). Source name reconstructs from the
    * recovered source number — no join back to the corpus. */
  val dsInterleave: Q = (s, d) =>
    Sampling.interleave(
      Tables.documents(s, d).select(col("doc_id"),
        regexp_extract(col("source"), "src(\\d+)", 1).cast("long").as("src_num"))
        .withColumn("w", col("src_num") % 3 + 1),
      "doc_id", "src_num", "w", lcm = 6)
      .select(col("doc_id"),
        concat(lit("src"), col("src_num").cast("string")).as("source"),
        col("pos"))

  /** Z-order clustering key + per-curve-cell locality summary — the
    * multi-dimensional data-skipping layout ([[graft.tools.ZOrderLayout]],
    * Morton 1966): every lineitem row gets the native
    * `interleave_bits` Morton key of its bucketed (part, supplier)
    * coordinates, then one aggregate reports each top-level curve
    * cell's row count, coordinate envelope, and exact z-value sum.
    * The tight per-cell pk/sk envelopes ARE the layout's promise —
    * files written in z order carry those envelopes as parquet
    * footer stats, so a box predicate on EITHER column prunes
    * non-intersecting cells (executed-skipping receipt:
    * ZOrderLayoutSpec). Plan: one narrow scan + one hash aggregate
    * on the 6-bit cell — the z-value math is a codegen'd native
    * expression, no shuffle beyond the aggregate's own. */
  val dsZorder: Q = (s, d) => {
    val b = Tables.lineitem(s, d).select(
      (col("l_partkey") % 256).cast("long").as("pk_lo"),
      (col("l_suppkey") % 256).cast("long").as("sk_lo"))
    b.withColumn("zval",
        graft.tools.ZOrderLayout.zvalue(Seq(col("pk_lo"), col("sk_lo")), bits = 8))
      .withColumn("cell", shiftright(col("zval"), 10))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        min(col("pk_lo")).as("pk_min"), max(col("pk_lo")).as("pk_max"),
        min(col("sk_lo")).as("sk_min"), max(col("sk_lo")).as("sk_max"),
        sum(col("zval")).as("z_sum"))
  }

  /** Small-file compaction plan over a synthetic per-day inventory of
    * the orders table (one "file" per order date, size = row count):
    * consecutive ~4096-row output bins in date order, each bin's key
    * envelope intact for footer-stat pruning
    * ([[graft.operators.Compaction]] — the cumulative size rides the
    * two-pass distributed prefix sum, NOT a single-reducer global
    * window). */
  val dsCompaction: Q = (s, d) =>
    graft.operators.Compaction.plan(
      Tables.orders(s, d)
        .select(datediff(col("o_orderdate"),
          to_date(lit("1992-01-01"))).cast("long").as("fk"))
        .groupBy(col("fk")).agg(count(lit(1)).as("sz")),
      "fk", "sz", targetSize = 4096L)

  /** Hilbert-curve twin of [[dsZorder]] ([[graft.functions.HilbertIndex]]):
    * same bucketed (part, supplier) coordinates, same per-curve-cell
    * envelope summary, but the key is the Hilbert index — consecutive
    * positions are always grid NEIGHBORS (no Morton quadrant jumps),
    * so equal-size curve ranges map to tighter regions. The oracle
    * runs the identical reflect-and-swap level loop as a recursive
    * CTE over the ≤ 2¹⁶ distinct coordinate pairs. */
  val dsHilbert: Q = (s, d) => {
    val b = Tables.lineitem(s, d).select(
      (col("l_partkey") % 256).cast("long").as("pk_lo"),
      (col("l_suppkey") % 256).cast("long").as("sk_lo"))
    b.withColumn("hval",
        graft.functions.HilbertIndex.hilbertXY(col("pk_lo"), col("sk_lo"), bits = 8))
      .withColumn("cell", shiftright(col("hval"), 10))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        min(col("pk_lo")).as("pk_min"), max(col("pk_lo")).as("pk_max"),
        min(col("sk_lo")).as("sk_min"), max(col("sk_lo")).as("sk_max"),
        sum(col("hval")).as("h_sum"))
  }

  /** 3-D Hilbert layout key ([[graft.functions.HilbertIndexK]],
    * Skilling 2004) — the k ≥ 3 curve [[dsHilbert]]'s classical loop
    * cannot reach: bucketed (part, supplier, quantity) coordinates on
    * the 64³ grid, per-curve-cell envelope summary in ALL THREE
    * dimensions. The oracle replays the identical transpose kernel —
    * unrolled level CTEs, Gray encode, bit interleave — over the
    * ≤ 64³ distinct triples. Plan: one narrow scan + one hash
    * aggregate on the 6-bit cell, the curve math a codegen'd native
    * expression. */
  val dsHilbert3: Q = (s, d) => {
    val b = Tables.lineitem(s, d).select(
      (col("l_partkey") % 64).cast("long").as("pk_lo"),
      (col("l_suppkey") % 64).cast("long").as("sk_lo"),
      // round-then-cast on BOTH sides (ADVICE r12): Spark's bare
      // cast truncates while DuckDB's rounds — explicit round keeps
      // the engines on one convention even for non-integral quantity
      (round(col("l_quantity")).cast("long") % 64).as("qt_lo"))
    b.withColumn("hval", graft.functions.HilbertIndexK.hilbertK(
        Seq(col("pk_lo"), col("sk_lo"), col("qt_lo")), bits = 6))
      .withColumn("cell", shiftright(col("hval"), 12))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        min(col("pk_lo")).as("pk_min"), max(col("pk_lo")).as("pk_max"),
        min(col("sk_lo")).as("sk_min"), max(col("sk_lo")).as("sk_max"),
        min(col("qt_lo")).as("qt_min"), max(col("qt_lo")).as("qt_max"),
        sum(col("hval")).as("h_sum"))
  }

  /** Keyed snapshot diff ([[Snapshot.diff]]) — dataset versioning:
    * snapshot A drops every 17th document, snapshot B drops every
    * 19th and revises every 13th's text, and the diff classifies
    * every key as added/removed/changed/unchanged from the two
    * (key, md5) frames alone. The planted arithmetic makes every
    * status class non-empty at every SF; the oracle runs the same
    * FULL JOIN over the same md5s. */
  val dsSnapshotDiff: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val oldSnap = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"), col("text"))
    val newSnap = docs.filter(col("doc_id") % 19 =!= 5)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
    Snapshot.diff(oldSnap, newSnap, "doc_id", Seq("text"))
  }

  /** CDC log application ([[Snapshot.applyLog]]) — MERGE INTO: a
    * planted change log (upserts for every 5th key at version 2,
    * deletes for every 7th-≡1 key at version 3, inserts of shifted
    * new keys at version 1) folds onto the snapshot-A base;
    * overlapping keys (≡15 mod 35 carry BOTH the upsert and a later
    * delete) prove latest-version-wins. Oracle runs the same
    * max-version + join + full-outer chain. */
  val dsApplyLog: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val base = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"), col("text"))
    val log = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), lit(2L).as("v"), lit("U").as("op"),
        concat(col("text"), lit(" [v2]")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 7 === 1)
        .select(col("doc_id"), lit(3L).as("v"), lit("D").as("op"),
          lit("").as("text")))
      .unionAll(docs.filter(col("doc_id") % 11 === 2)
        .select((col("doc_id") + 100000L).as("doc_id"), lit(1L).as("v"),
          lit("I").as("op"), concat(col("text"), lit(" [new]")).as("text")))
    Snapshot.applyLog(base, log, "doc_id", "v", "op", Seq("text"))
  }

  /** Column profiling ([[Profiling.profile]]) over orders — the
    * ingest-validation pass: per column one single-column aggregate
    * (exact distinct, null count, typed min/max), unioned; the date
    * column is normalized to DATE first so both engines profile the
    * same domain. */
  val dsProfile: Q = (s, d) =>
    Profiling.profile(
      Tables.orders(s, d)
        .withColumn("o_orderdate", col("o_orderdate").cast("date")),
      Seq("o_custkey", "o_totalprice", "o_orderstatus",
        "o_orderpriority", "o_orderdate"))

  /** Incremental curation — the composition the round's pieces exist
    * for: [[Snapshot.diff]] names the fresh work (added ∪ changed
    * keys between the planted snapshots, REVISED text), and ONLY
    * those documents are near-dup-gated against the standing even-id
    * training corpus via the shared LSH banding (the
    * [[graft.tools.SignatureStore]] kernel, in-session here like
    * dd_lsh_probe). Downstream re-processes |Δ| documents instead of
    * the corpus — the 100 TB point of the whole CDC + frozen-index
    * pair: yesterday's corpus never rescans, only the delta pays
    * tokenize+band+probe. Output: one row per fresh doc with its
    * status and dup verdict. */
  val pipeIncremental: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val oldSnap = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"), col("text"))
    val newSnap = docs.filter(col("doc_id") % 19 =!= 5)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
    val fresh = Snapshot.diff(oldSnap, newSnap, "doc_id", Seq("text"))
      .filter(col("status").isin("added", "changed"))
      .select(col("doc_id"), col("status"))
      .join(newSnap, "doc_id")
    // the shared probe kernel emits DISTINCT (query_id, corpus_id)
    // pairs, so the per-query aggregate's count IS the distinct
    // matched-corpus count
    val matches = graft.tools.SignatureStore.probeAgainst(
        inSessionBuckets(s, d),
        bands = 4, rowsPerBand = 8,
        fresh.select(col("doc_id"), col("text")), "text", "doc_id")
      .groupBy(col("query_id"))
      .agg(min(col("corpus_id")).as("dup_of"),
        count(col("corpus_id")).as("n_matches"))
      .withColumnRenamed("query_id", "doc_id")
    fresh.select(col("doc_id"), col("status"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"), col("status"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
  }

  /** Declarative data-quality gate ([[Profiling.expectations]]) over
    * the ds_profile frame: five named expectations — four hold on the
    * fixtures, `status_single_valued` deliberately FAILS (three order
    * statuses), so both verdict paths are oracle-witnessed. The
    * profile is computed once; no expectation re-scans data. */
  val dsExpectations: Q = (s, d) => {
    val prof = Profiling.profile(
      Tables.orders(s, d)
        .withColumn("o_orderdate", col("o_orderdate").cast("date")),
      Seq("o_custkey", "o_totalprice", "o_orderstatus",
        "o_orderpriority", "o_orderdate"))
    Profiling.expectations(prof, Seq(
      ("custkey_not_null", "o_custkey", col("n_null") === 0L),
      ("custkey_min_card", "o_custkey", col("n_distinct") >= 10L),
      ("totalprice_nonneg", "o_totalprice", col("min_num") >= 0.0),
      ("status_single_valued", "o_orderstatus", col("n_distinct") <= 1L),
      ("orderdate_in_window", "o_orderdate",
        col("min_s") >= "1994-01-01" && col("max_s") <= "2002-12-31")))
  }

  /** Windowed numeric drift profile ([[Profiling.windowedProfile]])
    * over events, per UTC day — the monitoring twin of ds_profile:
    * one explode + ONE windowed aggregate (the streaming-legal
    * shape), exact micro-unit integer mean. The same expression
    * serves a stream (ProfilingSpec pins stream ≡ batch on closed
    * windows). */
  val dsProfileWindows: Q = (s, d) =>
    Profiling.windowedProfile(Tables.events(s, d), "ts", "1 day",
      watermark = "0 seconds", cols = Seq("value", "user_id"))

  /** Per-window drift VERDICTS ([[Profiling.windowedExpectations]],
    * r12) — the monitoring gate composed from dsProfileWindows' one
    * stateful aggregate plus one broadcast spec join: each UTC day
    * answers its declarative checks with (window, expectation, pass).
    * Checks are chosen so both verdict paths appear across the
    * fixture's days; the same expression serves a stream
    * (ProfilingSpec pins stream ≡ batch on closed windows). */
  val dsExpectationsWindows: Q = (s, d) =>
    Profiling.windowedExpectations(Tables.events(s, d), "ts", "1 day",
      watermark = "0 seconds", cols = Seq("value", "user_id"),
      checks = Seq(
        ("value_present", "value", col("n_null") === 0L),
        ("value_mean_band", "value", col("mean") <= 50.0),
        ("user_id_ceiling", "user_id", col("max_num") <= 200.0),
        ("daily_volume_floor", "value", col("n_rows") >= 100L)))

  /** The end-to-end curation pipeline the extension operators exist to
    * COMPOSE: quality gate → language gate → exact-dedup survivor per
    * content hash → stable train/valid/test assignment. The plan is
    * one scored narrow scan, one fixed-width-key dedup aggregation,
    * and one join against the shuffle-free split projection — no step
    * adds a scan or a shuffle beyond what its standalone query costs.
    * (On this synthetic corpus every doc scores exactly 0.7, so the
    * quality gate is non-selective here — a data property; the gate's
    * comparison semantics are still oracle-checked.) */
  val pipeCurate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val gated = TextAnalysis.qualityFeatures(docs, "text")
      .filter(col("quality_score") >= 0.7 && col("lang").isin("en", "fr"))
      .select(col("doc_id"), col("text"))
    val survivors = Dedup.exact(gated, "text", "doc_id")
    val assigned = Sampling.splitAssign(docs, "doc_id",
      Seq("train" -> 0.75, "valid" -> 0.125), lastName = "test")
      .select(col("doc_id").as("survivor_id"), col("split"))
    survivors.join(assigned, "survivor_id")
  }

  /** Sequence packing: assign every document a global token-stream
    * offset and a fixed-width (1024-token) training-sequence id, in
    * doc_id order — via [[PrefixSum.globalRunningSum]], the two-pass
    * distributed prefix sum (the naive `sum over (order by)` window
    * funnels the corpus through ONE reducer). */
  val packSequences: Q = (s, d) => {
    val counts = TextAnalysis.tokenCounts(Tables.documents(s, d), "text")
      .select(col("doc_id"), col("ws_tokens").cast("long").as("n_tokens"))
    PrefixSum.globalRunningSum(counts, "doc_id", "n_tokens")
      .select(col("k").as("doc_id"), col("v").as("n_tokens"),
        (col("running") - col("v")).as("stream_offset"),
        expr("(running - v) div 1024").as("seq_id"))
  }

  /** The full pretraining data chain as ONE plan — the composition
    * the extension operators exist for: quality+language gate →
    * exact-dedup survivor → global token-stream offsets / fixed-width
    * (1024-token) sequence ids over the CURATED corpus in doc_id
    * order → stable split assignment. Every stage reuses the
    * standalone operator and adds no scan/shuffle beyond its
    * standalone cost: narrow scoring scan, fixed-width-key dedup agg,
    * two-pass prefix sum over survivor token counts, shuffle-free
    * split projection joined on the survivor id. */
  val pipePretrain: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // spread before the regex-heavy quality gate (r15): the curation
    // chain otherwise runs its scan+gate+hash stages as ONE task on a
    // single-row-group fixture; downstream keys are doc/hash-grained
    val gated = TextAnalysis.qualityFeatures(Spread.narrow(docs), "text")
      .filter(col("quality_score") >= 0.7 && col("lang").isin("en", "fr"))
      .select(col("doc_id"), col("text"))
    val survivors = Dedup.exact(gated, "text", "doc_id")
      .select(col("survivor_id").as("doc_id"))
    val counts = TextAnalysis.tokenCounts(gated.join(survivors, "doc_id"), "text")
      .select(col("doc_id"), col("ws_tokens").cast("long").as("n_tokens"))
    val packed = PrefixSum.globalRunningSum(counts, "doc_id", "n_tokens")
      .select(col("k").as("doc_id"), col("v").as("n_tokens"),
        (col("running") - col("v")).as("stream_offset"),
        expr("(running - v) div 1024").as("seq_id"))
    val assigned = Sampling.splitAssign(docs, "doc_id",
      Seq("train" -> 0.75, "valid" -> 0.125), lastName = "test")
      .select(col("doc_id"), col("split"))
    packed.join(assigned, "doc_id")
  }

  /** The RAG-ingest composition: quality+language gate → exact-dedup
    * survivor → sliding-window CHUNKS of the curated corpus → stable
    * split assignment. The retrieval-index twin of [[pipePretrain]]
    * (which packs; this segments): same gate and dedup stages, then
    * the narrow chunk explode and the shuffle-free split projection —
    * chunking adds no scan or shuffle beyond its standalone cost. */
  val pipeRag: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val gated = TextAnalysis.qualityFeatures(docs, "text")
      .filter(col("quality_score") >= 0.7 && col("lang").isin("en", "fr"))
      .select(col("doc_id"), col("text"))
    val survivors = Dedup.exact(gated, "text", "doc_id")
      .select(col("survivor_id").as("doc_id"))
    val chunks = TextAnalysis.chunk(gated.join(survivors, "doc_id"),
      "text", "doc_id")
    val assigned = Sampling.splitAssign(docs, "doc_id",
      Seq("train" -> 0.75, "valid" -> 0.125), lastName = "test")
      .select(col("doc_id"), col("split"))
    chunks.join(assigned, "doc_id")
  }

  /** Gopher-rule repetition metric over the documents table. */
  val taRepetition: Q = (s, d) =>
    TextAnalysis.repetition(Tables.documents(s, d), "text", "doc_id")

  /** Self-trained unigram cross-entropy per document (CCNet-style LM
    * quality signal; micro-nat integer accumulation). */
  val taUnigram: Q = (s, d) =>
    TextAnalysis.unigramXent(Tables.documents(s, d), "text", "doc_id")

  /** Self-trained bigram cross-entropy per document (fluency signal —
    * the LM order above ta_unigram; micro-nat integer accumulation). */
  val taBigram: Q = (s, d) =>
    TextAnalysis.bigramXent(Tables.documents(s, d), "text", "doc_id")

  /** Held-out stupid-backoff trigram scoring: model from even-doc_id
    * documents, scores for the odd ones — the backoff chain genuinely
    * fires (see [[TextAnalysis.backoffXent]]). A WRITTEN model
    * ([[graft.tools.ArtifactBuild]] `backoff`) is the primary source when
    * present — the LM outlives the driver, the IndexStore discipline;
    * its exact integer count tables score bit-identically to
    * in-session training (BackoffPersistSpec pins it), so the oracle
    * contract is unchanged. */
  val taBackoff: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val model = {
      val p = graft.tools.BackoffStore.path(d, ArtifactStore.dataFingerprint(d, "documents"))
      if (graft.tools.BackoffStore.ready(p)) graft.tools.BackoffStore.read(s, p)
      else TextAnalysis.trainBackoff(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    }
    TextAnalysis.scoreBackoff(model,
      docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
  }

  /** Moore-Lewis cross-entropy-difference selection: in-domain LM
    * from doc_id % 4 == 0, general LM from doc_id % 4 == 2, odd
    * doc_ids scored and flagged — the importance-weighting gate of a
    * data pipeline (see [[TextAnalysis.mooreLewis]]). WRITTEN models
    * are the primary source when present: each split probes
    * [[graft.tools.BackoffStore]] under a split-suffixed fingerprint
    * — the ArtifactStore discipline needed ZERO new store code for
    * this operator. */
  val taMooreLewis: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    def model(suffix: String, mod4: Int) = {
      val p = graft.tools.BackoffStore.path(d,
        ArtifactStore.dataFingerprint(d, "documents") + "|" + suffix)
      if (graft.tools.BackoffStore.ready(p)) graft.tools.BackoffStore.read(s, p)
      else TextAnalysis.trainBackoff(
        docs.filter(col("doc_id") % 4 === mod4), "text", "doc_id")
    }
    TextAnalysis.mooreLewis(model("ml_in", 0), model("ml_gen", 2),
      docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
  }

  /** Top-50 PMI collocations over the documents corpus (min pair
    * count 5) — the phrase-mining signal (Church & Hanks 1990) a
    * tokenizer/vocab pipeline uses to promote multi-word units.
    * Exact integer micro-nat PMI; see [[TextAnalysis.collocations]]. */
  val taColloc: Q = (s, d) =>
    TextAnalysis.collocations(Tables.documents(s, d), "text", "doc_id")

  /** Held-out multinomial Naive Bayes language classification: model
    * trained on even-doc_id documents (labels = `lang`), predictions
    * for the odd ones — the learned classifier-gate shape of
    * CCNet/GPT-3-style corpus filtering, next to ta_langid's
    * heuristic. One shuffle end-to-end at scoring time; the model
    * table is vocabulary-bounded and broadcast. A WRITTEN model
    * ([[graft.tools.ArtifactBuild]] `nb`) is the primary source when present —
    * the classifier outlives the driver (the BackoffStore discipline);
    * its surprisals are the exact integers training produced, so it
    * scores bit-identically (NbPersistSpec) and the oracle contract
    * is unchanged. See [[TextAnalysis.nbClassify]]. */
  val taNbayes: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val model = {
      val p = graft.tools.NbStore.path(d, ArtifactStore.dataFingerprint(d, "documents"))
      if (graft.tools.NbStore.ready(p)) graft.tools.NbStore.read(s, p)
      else TextAnalysis.trainNaiveBayes(
        docs.filter(col("doc_id") % 2 === 0), "text", "lang", "doc_id")
    }
    TextAnalysis.scoreNaiveBayes(model,
      docs.filter(col("doc_id") % 2 === 1), "text", "lang", "doc_id")
  }

  /** Per-dimension z-score standardization of the embedding corpus
    * (constant-width moment shuffle + broadcast-back). */
  val embStandardize: Q = (s, d) =>
    Similarity.standardize(Tables.embeddings(s, d))

  /** Top-20 embedding outliers by distance to the global centroid —
    * the mis-embedded-vector QA pass; ranking on the exact integer
    * n²·dist² ([[Similarity.centroidOutliers]]). */
  val embOutliers: Q = (s, d) =>
    Similarity.centroidOutliers(Tables.embeddings(s, d))

  /** Dominant-principal-direction projection: exact-integer power
    * iteration on the driver-collected 64×64 gram (bounded at any
    * corpus size), then one narrow projection pass — see
    * [[Similarity.pcaPowerProject]]. Bit-identical direction in both
    * engines (same HUGEINT/BigInt recurrence from the same gram). */
  val embPca: Q = (s, d) =>
    Similarity.pcaPowerProject(Tables.embeddings(s, d))

  /** Johnson-Lindenstrauss 64→16 random projection of the embedding
    * corpus (narrow native expression, zero shuffle; exact integer
    * micro-unit sums — see [[Similarity.randomProject]]). */
  val embProject: Q = (s, d) =>
    Similarity.randomProject(Tables.embeddings(s, d))

  /** Int8 embedding quantization readout: scale + exact integer q_sum
    * + saturation count + max reconstruction error per vector (the
    * full q array stays in [[Similarity.quantizeInt8]]'s output; the
    * compare stays array-free like ta_token_ids). */
  val embQuantize: Q = (s, d) =>
    Similarity.quantizeInt8(Tables.embeddings(s, d))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        col("q_sum"), col("n_sat").cast("long").as("n_sat"),
        round(col("max_abs_err"), 6).as("max_abs_err"))

  // ------------------------------------------------------------- multimodal

  /** REAL image decode over real PNG payloads: rows become genuine
    * PNG bytes (deterministic synth — dims from text byte length,
    * solid fill from doc_id), then `javax.imageio` decodes actual
    * pixels. The oracle predicts what a correct decode must report,
    * so a mis-decode fails the hash check. See [[Multimodal]]. */
  val mmDecodeMeta: Q = (s, d) =>
    Multimodal.decodeImage(
      Multimodal.asPngPayload(Tables.documents(s, d), "text", "doc_id"))

  /** REAL `java.awt` bilinear resize to 256×256 with a pixel-sum
    * checksum over the actual output raster (solid-fill source makes
    * the checksum engine-predictable). */
  val mmResize: Q = (s, d) =>
    Multimodal.resizeImage(
      Multimodal.asPngPayload(Tables.documents(s, d), "text", "doc_id"))

  /** REAL frame sampling over synthesized multi-frame animated GIFs
    * (one frame per 32 payload bytes, per-frame solid fills): the GIF
    * reader counts actual container frames and pixel-decodes every 4th
    * — frame index, 25 fps timestamp AND raster checksum are all real
    * decode outputs the oracle predicts. One narrow row per sampled
    * frame. */
  val mmFrames: Q = (s, d) =>
    Multimodal.sampleFrames(
      Multimodal.asGifPayload(Tables.documents(s, d), "text", "doc_id"))

  /** Perceptual image hash + dup grouping over REAL decoded rasters
    * (cell-grid synth, palette bucketed mod 32 so distinct docs
    * genuinely collide): the image near-dup primitive — aHash bits
    * from exact integer cross-multiplication, every bit
    * oracle-predicted from the geometry; n_same counts hash-identical
    * images. See [[Multimodal.perceptualHash]]. */
  val mmPhash: Q = (s, d) => {
    val ph = Multimodal.perceptualHash(
      Multimodal.asCellGridPayload(Tables.documents(s, d), "text", "doc_id"))
    ph.withColumn("n_same", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("phash_hi"), col("phash_lo"))))
  }

  /** Image near-dup PAIRS: the pigeonhole hamming join
    * ([[Dedup.hammingPairs64]]) over the real-decode perceptual
    * hashes — phash is an image simhash, so the text machinery
    * composes unchanged. Distance ≤ 6 of 64 bits. */
  val mmPhashPairs: Q = (s, d) =>
    Dedup.hammingPairs64(
      Multimodal.perceptualHash(
        Multimodal.asCellGridPayload(Tables.documents(s, d), "text", "doc_id")),
      "doc_id", "phash_hi", "phash_lo")

  /** Image dup-CLUSTER resolution — the [[Dedup]] closure applied to
    * the image modality: the phash hamming pairs feed the same
    * large-star/small-star components kernel as the text corpus
    * (connectivity-not-pairs — the closure consumes the near-dup
    * graph, not the quadratic pair list), labeling every document
    * with its image-duplicate cluster (min doc_id as the canonical
    * representative; singletons label themselves). The multimodal
    * twin of dd_components. */
  val mmPhashComponents: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.hammingPairs64(
        Multimodal.perceptualHash(
          Multimodal.asCellGridPayload(docs, "text", "doc_id")),
        "doc_id", "phash_hi", "phash_lo")
      .select(col("id_a"), col("id_b"))
    val comp = Components.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("node", "doc_id")
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component_id"))
  }

  /** Audio near-dup PAIRS — the third leg of the multimodal dedup
    * triad (text simhash, image phash, audio fingerprint): 64-chunk
    * energy fingerprints over real decoded PCM (seed bucketed mod 32
    * so true dups exist), then the same pigeonhole hamming join. */
  val mmAudioPairs: Q = (s, d) =>
    Dedup.hammingPairs64(
      Multimodal.audioFingerprint(
        Multimodal.asWavPayload(Tables.documents(s, d), "text", "doc_id",
          seedMod = 32)),
      "doc_id", "fp_hi", "fp_lo")

  /** REAL audio decode over synthesized RIFF/WAVE payloads (PCM16LE
    * mono @ 8 kHz, sample count from text byte length): the JDK's
    * `javax.sound.sampled` WAV reader reports what the container
    * actually says; the oracle predicts what a correct decode must
    * report. */
  val mmAudioMeta: Q = (s, d) =>
    Multimodal.decodeAudio(
      Multimodal.asWavPayload(Tables.documents(s, d), "text", "doc_id"))

  /** REAL windowed audio features (400-sample non-overlapping frames,
    * trailing partial dropped): integer energy Σs² and peak |s| per
    * window over the actually-decoded PCM — exact int64, oracle-
    * predicted to the bit from the (doc_id, i) sample rule. */
  val mmAudioWindows: Q = (s, d) =>
    Multimodal.audioWindows(
      Multimodal.asWavPayload(Tables.documents(s, d), "text", "doc_id"))

  // ----------------------------------------------------------------- graph

  /** The distinct directed customer→supplier pair set (r14): THREE
    * consumers (pagerank, bfs, hits) each re-ran the same
    * lineitem⋈orders join + distinct per run. Keyed on BOTH source
    * tables' fingerprints. Consumers derive views narrowly: the
    * symmetric trade graph is a two-arm union over these blocks, HITS
    * uses the directed pairs as-is. */
  private val tradePairsMemo = new SessionMemo[DataFrame]

  private def tradePairs(s: SparkSession, d: String): DataFrame =
    tradePairsMemo(memoKey(s, d, "lineitem") + "|" +
        ArtifactStore.dataFingerprint(d, "orders")) {
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
        .localCheckpoint()
    }

  /** The customer↔supplier trade graph: distinct (customer, supplier)
    * pairs observed through orders+lineitem, both directions, the two
    * id spaces disambiguated into one node space as 2k / 2k+1. */
  private def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = tradePairs(s, d)
    pairs.select(col("src"), col("dst"))
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Integer-exact PageRank over the customer↔supplier trade graph
    * (who trades with well-connected counterparties): the distinct
    * (customer, supplier) pairs observed through orders+lineitem,
    * both directions, with customers and suppliers disambiguated into
    * one node space as 2k / 2k+1. Five rounds of
    * [[graft.operators.Graph.pageRankMicro]] — each one edge-
    * partitioned join + one map-side-combinable sum, rank values exact
    * integer micro-units, so the DuckDB twin (the same five rounds as
    * unrolled CTEs) matches to the bit. */
  val gPagerank: Q = (s, d) =>
    // validateUniverse=false: tradeEdges unions BOTH directions of
    // every pair, so each dst is a src BY CONSTRUCTION — the flag's
    // documented opt-out case; paying a distinct+anti-join per run to
    // re-prove a structural invariant would be pure bench cost.
    graft.operators.Graph.pageRankMicro(tradeEdges(s, d), "src", "dst",
        iterations = 5, validateUniverse = false)
      .select(col("node"), col("r").as("rank_micro"))

  /** Bounded multi-source BFS over the trade graph: minimum hop
    * distance from NATION_3's suppliers (the nation with suppliers at EVERY SF — nation 0 is empty at sf0.001, which made the witness vacuous) (frontier-based — per-round
    * cost tracks the newly-discovered set, see
    * [[graft.operators.Graph.shortestHops]]); nodes unreached within
    * 4 hops are absent, exactly as in the unrolled-CTE oracle. */
  val gBfs: Q = (s, d) => {
    val seeds = Tables.supplier(s, d).filter(col("s_nationkey") === 3)
      .select((col("s_suppkey") * 2 + 1).as("node"))
    graft.operators.Graph.shortestHops(tradeEdges(s, d), "src", "dst",
      seeds, maxHops = 4)
  }

  /** The part co-purchase pair stream: (pa < pb) part pairs sharing an
    * order — per-order fan-out bounded by the schema (≤ 7 lines ⇒ ≤ 21
    * pairs). Memoized (r11): SIX graph queries (triangles,
    * clustering, labelprop, sssp, assortativity, kcore) consume this
    * same lineitem self-join, and in a bench/verify run each paid the
    * ~1.5 s pair generation from scratch. The memo holds the RAW pair
    * multiset (one row per co-occurring order) — consumers
    * canonicalize or count multiplicities as their kernels require. */
  private val coPurchaseMemo = new SessionMemo[DataFrame]

  private def coPurchasePairs(s: SparkSession, d: String): DataFrame =
    coPurchaseMemo(memoKey(s, d, "lineitem")) {
      // one order-key repartition serves the (ok, p) dedup AND both
      // self-join arms (exchange reuse dedups the shuffle across
      // arms; hash(ok) satisfies the dedup's (ok, p) clustering) —
      // the old shape exchanged the stream three times (r14)
      val lp = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .repartition(col("ok"))
        .distinct()
      lp.select(col("ok"), col("p").as("pa"))
        .join(lp.select(col("ok"), col("p").as("pb")), Seq("ok"))
        .filter(col("pa") < col("pb"))
        .select(col("pa"), col("pb"))
        .localCheckpoint()
    }

  /** The CANONICAL co-purchase edge set — the distinct (pa < pb)
    * pairs, i.e. THE GRAPH the undirected kernels run on (r14). Six
    * consumers (triangles, clustering, labelprop, kcore,
    * assortativity, modularity) each re-derived this same distinct
    * from the raw pair multiset on every run — one corpus-wide
    * shuffle apiece for an identical result. The raw multiset memo
    * stays for multiplicity consumers (sssp's co-occurrence weights);
    * kernels take this one as a [[graft.operators.Graph.Undirected.canonical]]
    * set and never release it. */
  private val coPurchaseEdgesMemo = new SessionMemo[DataFrame]

  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    coPurchaseEdgesMemo(memoKey(s, d, "lineitem")) {
      coPurchasePairs(s, d).distinct().localCheckpoint()
    }

  private def coPurchaseGraph(s: SparkSession, d: String): Graph.Undirected =
    Graph.Undirected.canonical(coPurchaseEdges(s, d), "pa", "pb")

  /** Per-part triangle counts over the co-purchase graph: parts are
    * linked when they appear in the same order ("frequently bought
    * together"), and triangles are the cohesion unit of that network.
    * Pair generation is a self-join on the order key with per-order
    * fan-out BOUNDED BY THE SCHEMA (a TPC-H order has ≤ 7 lines, so
    * ≤ 21 pairs/order — the explode never outgrows a constant factor
    * of the scan); enumeration is the degree-ordered compact-forward
    * kernel ([[graft.operators.Graph.triangleCounts]]), whose wedge
    * join is bounded O(m^1.5) regardless of hub parts. */
  val gTriangles: Q = (s, d) =>
    graft.operators.Graph.triangleCounts(coPurchaseGraph(s, d))

  /** Per-part local clustering coefficient over the co-purchase
    * graph: c(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — how close a
    * part's co-purchase neighborhood is to a clique (the
    * Watts-Strogatz local metric; 1.0 = every pair of neighbors also
    * co-occurs). One distinct edge canonicalization feeds BOTH the
    * degree aggregate and the triangle kernel; every node with
    * deg ≥ 2 is emitted (no-triangle nodes at 0.0), deg-1 nodes are
    * out (coefficient undefined). The division happens ONCE on exact
    * integers and rounds to 6, so both engines rank identically. */
  val gClustering: Q = (s, d) => Checkpoints.scoped { scope =>
    // the canonical edge set is the session memo (r14): both the
    // degree aggregate and the triangle kernel (a canonical set skips
    // its re-canonicalization shuffle) read the memo's checkpoint
    // blocks — the per-run distinct+checkpoint this query used to
    // build is exactly [[coPurchaseEdges]]
    val e = coPurchaseEdges(s, d)
      .select(col("pa").as("a"), col("pb").as("b"))
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = scope.own(graft.operators.Graph.triangleCounts(
      Graph.Undirected.canonical(e, "a", "b")))
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
          (col("deg") * (col("deg") - 1)), 6).as("coef"))
      // eager, so the scope can release the bounded triangle
      // intermediate instead of leaking its blocks for the session
      // (the memo'd edge set deliberately stays)
      .localCheckpoint()
  }

  /** Community detection over the co-purchase graph: 4 rounds of
    * synchronous label propagation ([[graft.operators.Graph.labelPropagation]]
    * — most-frequent-neighbor label, ties → smallest), then each
    * node's community joined with its community size. The fixed round
    * count keeps the kernel deterministic and the DuckDB twin an
    * exact round-by-round replay. */
  val gLabelprop: Q = (s, d) => {
    val lp = graft.operators.Graph.labelPropagation(
      coPurchaseGraph(s, d), rounds = 4)
    val sizes = lp.groupBy(col("community")).agg(count(lit(1)).as("comm_size"))
    lp.join(sizes, Seq("community"))
      .select(col("node"), col("community"), col("comm_size"))
  }

  /** The k-NN similarity graph as a raw undirected edge set: each link
    * predictor canonicalizes it, owns that checkpoint and releases it. */
  private def knnUndirected(s: SparkSession, d: String): Graph.Undirected =
    Graph.Undirected(embKnnGraph(s, d).select(col("vec_id"), col("nb_id")),
      "vec_id", "nb_id")

  /** Link prediction over the k-NN similarity graph: the top-100
    * non-adjacent vector pairs by shared-neighbor count
    * ([[graft.operators.Graph.commonNeighbors]]). The k-NN substrate
    * bounds every degree by k + in-degree, so the wedge stream is
    * Θ(n·k²) — the scale-correct graph for an exact common-neighbor
    * pass (a power-law graph would need hub capping first). */
  val gCommonneigh: Q = (s, d) =>
    graft.operators.Graph.commonNeighbors(knnUndirected(s, d), topN = 100)

  /** Jaccard link prediction over the same k-NN similarity graph:
    * shared-neighborhood FRACTION, all-integer micro scores
    * ([[graft.operators.Graph.jaccardLinks]] — no fp anywhere). */
  val gJaccardLinks: Q = (s, d) =>
    graft.operators.Graph.jaccardLinks(knnUndirected(s, d), topN = 100)

  /** Adamic-Adar link prediction over the same k-NN similarity graph:
    * shared neighbors weighted 1/ln(degree), so selective mutual
    * neighbors outrank hubs ([[graft.operators.Graph.adamicAdar]] —
    * integer micro-unit weights, exact integer pair sums). */
  val gAdamicAdar: Q = (s, d) =>
    graft.operators.Graph.adamicAdar(knnUndirected(s, d), topN = 100)

  /** Weighted single-source shortest paths over the co-purchase
    * graph: affinity distance w = 1000000 div co-occurrence count
    * (strongly co-purchased pairs are close), source = the smallest
    * part id, synchronous Bellman-Ford ([[graft.operators.Graph.ssspMicro]]
    * — exact integer relaxation, fixed-budget idempotent-replay
    * oracle like g_kcore). */
  val gSssp: Q = (s, d) => Checkpoints.scoped { scope =>
    // materialized ONCE (the commonNeighbors lesson): the weighted
    // pair frame feeds THREE plan branches — both symmetrize arms and
    // the seed min-scan — and each branch would otherwise replay the
    // lineitem self-join + count from scratch (the seed scan is a
    // separate JOB, so even exchange reuse can't help it)
    val ew = scope.checkpoint(coPurchasePairs(s, d)
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("c")))
    val w = expr("1000000 div c")
    val sym = ew.select(col("pa").as("src"), col("pb").as("dst"), w.as("w"))
      .union(ew.select(col("pb").as("src"), col("pa").as("dst"), w.as("w")))
    graft.operators.Graph.ssspMicro(sym, "src", "dst", "w",
      sym.agg(min(col("src")).as("node")))
  }

  /** Hubs & authorities over the DIRECTED customer→supplier purchase
    * graph (who buys ↔ who supplies, the classic bipartite HITS
    * setting): 4 rounds of [[graft.operators.Graph.hitsMicro]] —
    * exact-integer max-normalized mutual reinforcement, each round
    * two co-located edge joins (the edge list cached partitioned on
    * BOTH keys) exchanging only the score vectors. Customers carry
    * hub scores (auth 0 — never pointed at), suppliers authority
    * scores (hub 0), and the DuckDB twin replays the rounds
    * CTE-by-CTE to the bit. */
  val gHits: Q = (s, d) =>
    graft.operators.Graph.hitsMicro(tradePairs(s, d), "src", "dst",
      iterations = 4)

  /** Degree assortativity of the co-purchase graph: do frequently
    * co-purchased parts link to each other or to long-tail parts?
    * ([[graft.operators.Graph.assortativity]] — exact integer
    * moments, one fp step, single-row readout). */
  val gAssortativity: Q = (s, d) =>
    graft.operators.Graph.assortativity(coPurchaseGraph(s, d))

  /** Newman modularity of the BRAND partition over the co-purchase
    * graph: does brand explain which parts sell together, community
    * by community? ([[graft.operators.Graph.modularity]] — per-brand
    * intra-edge counts vs the degree-preserving null model; exact
    * integer terms, one fp step per row.) The partition-quality
    * companion to [[gAssortativity]]'s degree mixing; the window in
    * the final step runs over ≤25 brand rows, never the graph. */
  val gModularity: Q = (s, d) =>
    graft.operators.Graph.modularity(coPurchaseGraph(s, d),
      Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
      "p_partkey", "p_brand")

  /** Dense-core extraction over the co-purchase graph: the k-core at
    * the data-derived threshold k = ⌊0.7·avg degree⌋ ([[graft.operators.Graph.kCore]]
    * — exact integer peel, monotone and idempotent at its fixpoint,
    * so the DuckDB twin replays a fixed over-provisioned round chain
    * and must agree). Every surviving part with its in-core degree. */
  val gKcore: Q = (s, d) =>
    graft.operators.Graph.kCore(coPurchaseGraph(s, d))

  // ----------------------------------------------------------- time series

  /** SAX symbolization of each user's event-value series (Lin et al.
    * 2003): every full 8-value window, z-normalized and quantized to
    * a 4-symbol / 4-segment word — the discrete shape key that turns
    * subsequence-similarity search into hashing. All window stats
    * from exact integer micro-unit taps; fp steps are identical IEEE
    * expressions in both engines ([[graft.operators.TimeSeries]]). */
  val tsSax: Q = (s, d) =>
    graft.operators.TimeSeries.saxWords(Tables.events(s, d),
      "user_id", Seq("ts", "event_id"), "value")

  /** Motif per user: the most frequent SAX shape word (ties to the
    * lexicographically smallest — the agg_mode max(struct) idiom). */
  val tsMotif: Q = (s, d) =>
    graft.operators.TimeSeries.motifs(tsSax(s, d), "user_id")

  /** Rolling z-score anomaly flags: each event scored against its
    * user's previous 8 values (trailing baseline, |z| > 3 flags). */
  val tsAnomaly: Q = (s, d) =>
    graft.operators.TimeSeries.rollingZ(Tables.events(s, d),
      "user_id", Seq("ts", "event_id"), "value", "event_id")

  /** Sample autocorrelation of each user's value series at lags 1-3
    * (exact integer moments, one window pass + one aggregate). */
  val tsAcf: Q = (s, d) =>
    graft.operators.TimeSeries.autocorr(Tables.events(s, d),
      "user_id", Seq("ts", "event_id"), "value")

  /** Hourly grid resample with linear interpolation per user — the
    * gap-fill that regularizes irregular event series. */
  val tsResample: Q = (s, d) =>
    graft.operators.TimeSeries.resampleLinear(Tables.events(s, d),
      "user_id", "ts", "value", "event_id")

  /** Strict-order conversion funnel over the event stream: how many
    * users VIEWED, then CLICKED strictly after their first view, then
    * PURCHASED strictly after that click — the product-analytics
    * staple, expressed stage-by-stage as nested full-partition window
    * minima (each stage's earliest qualifying instant references the
    * previous stage's column), so the whole funnel rides ONE per-user
    * hash partitioning: three window projects, one per-user collapse,
    * one single-row count aggregate. All-integer (µs instants, strict
    * > comparisons — a tie at the same microsecond fails the strict
    * inequality identically in both engines). */
  val qFunnel: Q = (s, d) =>
    EventAnalytics.funnel(Tables.events(s, d), "user_id", "event_type",
      "ts", Seq("view", "click", "purchase"))

  /** Cohort retention over the event stream: users grouped by their
    * first active day, counted per day-offset they return — the
    * (cohort × offset) retention triangle. One distinct (user, day)
    * pass; the per-user cohort aggregate and the join back both ride
    * the same user partitioning; the final (cohort, offset) count is
    * a bounded span² aggregate. All-integer. */
  val qRetention: Q = (s, d) =>
    EventAnalytics.retention(Tables.events(s, d), "user_id", "ts")

  /** The event-analytics chain as ONE per-user summary — the
    * composition the ts kernels exist for: each user's weekly PEAK
    * day ([[graft.operators.TimeSeries.weeklyProfile]]), CUSUM
    * changepoint and normalized deviation (null for
    * constant-series users), and rolling-z anomaly count. Every
    * stage reuses the oracle-checked kernel verbatim; the joins are
    * |users|-keyed, never event-keyed. */
  val pipeEvents: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val peak = graft.operators.TimeSeries.weeklyProfile(ev, "user_id", "ts", "value")
      .filter(col("is_peak"))
      .select(col("user_id"), col("dow").as("peak_dow"))
    val cp = graft.operators.TimeSeries.cusumChangepoint(ev,
        "user_id", "ts", "event_id", "value")
      .select(col("user_id"), col("cp_event_id"), col("dev"))
    val anom = graft.operators.TimeSeries.rollingZ(ev,
        "user_id", Seq("ts", "event_id"), "value", "event_id")
      .groupBy(col("user_id"))
      .agg(sum(when(col("is_anom"), 1L).otherwise(0L)).as("n_anomalies"))
    peak.join(cp, Seq("user_id"), "left")
      .join(anom, Seq("user_id"), "left")
      .select(col("user_id"), col("peak_dow"), col("cp_event_id"),
        col("dev"), coalesce(col("n_anomalies"), lit(0L)).as("n_anomalies"))
  }

  /** Revenue-concentration (Pareto) table over parts: each part's
    * revenue rank, exact cumulative share in micro-units, and the
    * 80 %-frontier flag (a part is in the head while the share
    * BEFORE it is still under 80 %) — the "which 20 % of parts carry
    * 80 % of revenue" readout. Revenue aggregates to exact integer
    * cents map-side; the cumulative sum runs in decimal and the
    * shares are floor-divided integers against a one-row broadcast
    * total, so ranking and flags are bit-deterministic with no fp.
    *
    * The ordered frame is the parts DIMENSION (|parts| rows after the
    * fact aggregate), so the partitionless window is dimension-sized
    * — the w_rank_topk posture; a fact-sized Pareto would swap the
    * window for [[graft.operators.PrefixSum.globalRunningSum]] over a
    * precomputed unique rank. */
  val qPareto: Q = (s, d) => {
    val rev = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    val total = rev.agg(sum(col("cents").cast("decimal(38,0)")).as("total"))
    val w = Window.orderBy(col("cents").desc, col("l_partkey"))
    rev.crossJoin(broadcast(total))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("cents").cast("decimal(38,0)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("l_partkey"), col("rk"), col("cents"),
        expr("CAST((cum * 1000000) div total AS BIGINT)").as("cum_share_micro"),
        expr("CAST(((cum - cents) * 1000000) div total AS BIGINT) < 800000")
          .as("in_top80"))
  }

  /** Market-basket association rules over orders: the top-20 part
    * pairs by lift with support/confidence, min 5 shared orders —
    * "frequently bought together"
    * ([[graft.operators.EventAnalytics.associationRules]]; all-integer
    * micro measures, one-row N broadcast). */
  val qAssoc: Q = (s, d) =>
    EventAnalytics.associationRules(Tables.lineitem(s, d),
      "l_orderkey", "l_partkey")

  /** Weekly seasonal profile per user: per day-of-week count/mean
    * with the peak day flagged — one exchange, the (key, dow)
    * aggregate and the argmax window both riding it
    * ([[graft.operators.TimeSeries.weeklyProfile]]). */
  val tsWeekly: Q = (s, d) =>
    graft.operators.TimeSeries.weeklyProfile(Tables.events(s, d),
      "user_id", "ts", "value")

  /** CUSUM changepoint per user: the event where the centered
    * cumulative deviation peaks — fully integer statistic
    * n·S_t − t·T, one fp step at display
    * ([[graft.operators.TimeSeries.cusumChangepoint]]). */
  val tsCusum: Q = (s, d) =>
    graft.operators.TimeSeries.cusumChangepoint(Tables.events(s, d),
      "user_id", "ts", "event_id", "value")

  /** Pairwise Pearson cross-correlation of DAILY activity between
    * the 40 most-active users (top-20 co-moving pairs, ≥ 10 common
    * days — the fixture's 30-day span at ~2 events/user/day makes
    * hourly buckets too sparse for any pair to clear a sane overlap
    * floor): exact integer moments in decimal/HUGEINT, one fp step
    * per pair ([[graft.operators.TimeSeries.crossCorrPairs]] — the
    * explicit top-K bound is the quadratic-pairs contract). */
  val tsXcorr: Q = (s, d) =>
    graft.operators.TimeSeries.crossCorrPairs(Tables.events(s, d),
      "user_id", "ts", "value", minOverlap = 10L, bucketSec = 86400L)

  /** Holt double-exponential smoothing per user (α = 0.2, β = 0.1):
    * final level/trend state and the one-step forecast — the
    * trend-aware forecaster next to a4's plain EMA. One secondary-
    * sort fold; the DuckDB twin replays the recurrence as a
    * recursive CTE. */
  val tsHolt: Q = (s, d) =>
    graft.operators.TimeSeries.holtFinal(Tables.events(s, d),
      "user_id", "ts", "event_id", "value")
}
