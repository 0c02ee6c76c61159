package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.Hashing

/** Deduplication family for large-scale training-data pipelines:
  * exact, MinHash-LSH, SimHash, and n-gram-Jaccard near-dup.
  *
  * Scale notes (the 100 TB path):
  *  - every variant is a constant number of hash-partitioned passes —
  *    no driver-side state, no O(n²) candidate generation: near-dup
  *    candidates only form inside an LSH band bucket / blocking key;
  *  - signatures are fixed-width (k ints), so the shuffle payload per
  *    doc is bounded regardless of document length;
  *  - token explode is the widest stage; it happens before the first
  *    aggregation so it never shuffles raw text more than once.
  */
object Dedup {

  /** Exact dedup by content: one survivor (min id) per distinct text.
    * A single hash aggregation GROUPED ON THE 256-BIT CONTENT HASH,
    * not the text: map-side combine collapses duplicates either way,
    * but the shuffle key is then 32 bytes per distinct document
    * instead of the document itself — at 100 TB, grouping on raw text
    * shuffles the corpus. sha2 collisions are negligible (2^-128), so
    * results are identical to text-grouping (the oracle still groups
    * by text). */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("__h"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))
      .select(col("survivor_id"), col("n_copies"))

  /** Streaming twin of [[exact]]: keep the first-seen row per content
    * hash across micro-batches. With an event-time column the state is
    * watermark-evicted (`dropDuplicatesWithinWatermark` — duplicates
    * arriving inside the horizon dedup, older state ages out, so state
    * is bounded by the horizon's arrival volume); without one the
    * state grows with the distinct-content count — documented, for
    * bounded/replay streams only. The 256-bit content hash keeps state
    * per doc fixed-width regardless of document length. */
  def exactStream(docs: DataFrame, textCol: String,
                  tsCol: Option[String] = None,
                  horizon: String = "10 minutes"): DataFrame = {
    val hashed = docs.withColumn("__h", sha2(col(textCol), 256))
    val deduped = tsCol match {
      case Some(t) => hashed.withWatermark(t, horizon)
        .dropDuplicatesWithinWatermark("__h")
      case None => hashed.dropDuplicates("__h")
    }
    deduped.drop("__h")
  }

  /** Line-level boilerplate removal (the CCNet/RefinedWeb curation
    * step — Wenzek et al. 2020 §4.1): a LINE that recurs across at
    * least `minDf` distinct documents (nav bars, cookie banners,
    * copyright footers) is boilerplate and is dropped from every
    * document; the per-document remainder is re-assembled in original
    * line order. Per doc: surviving text, total and dropped line
    * counts.
    *
    * Scale shape (batch-only — document frequency is a corpus-wide
    * aggregate, like [[TextAnalysis]] tf-idf):
    *  - the df aggregate groups on the 60-bit line HASH and ships only
    *    (hash, doc_id) pairs — raw line text never enters that shuffle;
    *  - the boilerplate set is small BY CONSTRUCTION (at most
    *    totalLines / minDf distinct lines can reach df >= minDf), so
    *    it broadcast-joins back against the line stream;
    *  - document text shuffles exactly once, on the final doc_id
    *    regroup that re-assembles surviving lines. */
  def boilerplateLines(docs: DataFrame, textCol: String, idCol: String,
                       minDf: Int): DataFrame = {
    val id = col(idCol)
    val lines = docs.select(id,
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("__lh", Hashing.md5Long(col("line")))
    val boiler = lines.select(col("__lh"), id).distinct()
      .groupBy(col("__lh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .withColumn("boiler", lit(true))
    lines.join(broadcast(boiler.select(col("__lh"), col("boiler"))), Seq("__lh"), "left")
      .groupBy(id).agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("boiler").isNull,
            struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"))
  }

  /** Decontamination — the benchmark-overlap operator: which TRAIN
    * documents share at least one `n`-token shingle (an order-sensitive
    * token RUN, not a token set) with any EVAL document. Both sides are
    * arbitrary DataFrames with (idCol, textCol); the eval set is a
    * benchmark and therefore small by construction, so its distinct
    * shingle hashes are BROADCAST and the training corpus never
    * shuffles: shingling is a narrow explode over the train scan, the
    * probe a codegen hash join, and only (train_id, eval_id, n_shared)
    * rows come back. Output: one row per contaminated (train, eval)
    * pair with the count of shared distinct shingles. */
  def contaminationCheck(train: DataFrame, eval: DataFrame,
                         textCol: String = "text", idCol: String = "doc_id",
                         n: Int = 8): DataFrame = {
    // spread before the shingle explode (r15, see [[Spread]]) —
    // both sides: the train scan is the wide one, the eval side is
    // small but pays the same single-task serialization at small SF
    def shingles(df: DataFrame, idAs: String): DataFrame =
      Spread.narrow(df.select(col(idCol).as(idAs), col(textCol).as("__text")))
        .select(col(idAs),
          graft.operators.StatelessOps.tokenArray(col("__text")).as("toks"))
        .where(size(col("toks")) >= n)
        .select(col(idAs), explode(expr(
          s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', slice(toks, i, $n)))")).as("sh"))
        .select(col(idAs), Hashing.md5Long(col("sh")).as("h"))
        .distinct()
    shingles(train, "train_id")
      .join(broadcast(shingles(eval, "eval_id")), Seq("h"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Directional containment near-dup pairs: C(A→B) = |sh(A) ∩ sh(B)|
    * / |sh(A)| over distinct `n`-token shingles — the asymmetric
    * signal Jaccard misses when one document CONTAINS another (quote
    * inclusion, concat crawls, versioned pages: a small doc embedded
    * in a big one keeps C(small→big) ≈ 1 while J collapses toward
    * |small|/|big|). Emits (doc_a, doc_b, n_inter, containment) for
    * ordered pairs doc_a ≠ doc_b with C(doc_a→doc_b) ≥ `threshold`.
    *
    * Scale shape: candidate pairs generate through the standard
    * shared-shingle equi-join (shuffle on the shingle, never an
    * all-pairs cross), and the quadratic hot-shingle term is CAPPED
    * by `maxDf`: a shingle present in more than `maxDf` documents is
    * boilerplate (it contributes pairs quadratically but evidence of
    * containment weakly) and is dropped from BOTH the intersection
    * and each doc's denominator — the df-cap is part of the operator
    * contract, applied identically by the oracle, and bounds the
    * per-shingle join fan-out at any corpus size. Shingles join as
    * md5 longs (bounded shuffle width, collision odds ~n²/2⁶⁴).
    *
    * Batch-only by contract (the boilerplateLines/tf-idf precedent):
    * the df cap and each doc's denominator are corpus-wide facts — a
    * streaming variant would have to re-pair every epoch against all
    * history, which is a periodic batch job, not an incremental
    * state machine. */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       n: Int = 8, threshold: Double = 0.5,
                       maxDf: Int = 50): DataFrame = {
    val toks2 = (c: org.apache.spark.sql.Column) =>
      graft.operators.StatelessOps.tokenArray(c)
    // ONE tokenize+shingle pass, ZERO joins (the ta_tfidf lesson —
    // computing df/denominators as separate agg branches re-scans the
    // corpus: pruned branches defeat ReuseExchange). The df cap and
    // each doc's denominator are key-partitioned COUNT WINDOWS over
    // the same distinct (doc, shingle) stream; each shingle's
    // survivors then group into a ≤-maxDf array CARRYING the
    // denominator, so the ordered pair explode needs no join back —
    // per-shingle fan-out is hard-bounded by maxDf·(maxDf−1), and
    // every exchange after the scan carries only (h, doc_id, counts)
    // longs, never text.
    val w = Window.partitionBy(col("h"))
    // spread the narrow projection first (r15): the shingle explode
    // otherwise runs at scan parallelism — one task at small SF
    val kept = Spread.narrow(
        docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__text")))
      .select(col("doc_id"), toks2(col("__text")).as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', slice(toks, i, $n)))")).as("sh"))
      .select(col("doc_id"), Hashing.md5Long(col("sh")).as("h"))
      // ONE exchange serves the dedup, the df window AND the pair
      // grouping (r14/r15): hash(h) satisfies the (doc_id, h)
      // clustered distribution (a subset of the grouping keys), so the
      // distinct aggregates partition-locally on it, the h-window
      // needs only a sort, and the collect_list below regroups with
      // NO further exchange.
      .repartition(col("h"))
      .distinct()
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= maxDf)
    // Each doc's denominator was a doc_id-partitioned count window,
    // which exchanged the full surviving (doc_id, h) stream a second
    // time, and a THIRD exchange brought it back to h for the pair
    // grouping (r15 restructure, §2.3/§2.4). Instead, SELF-PAIRS ride
    // the pair aggregate: cnt(a,a) = the number of h-groups containing
    // a = |sh(a)| over exactly this filtered stream — the denominator,
    // computed by the same aggregate that computes the intersections.
    // The full stream now crosses ONE exchange; denominators attach
    // via a src-partitioned window over the POST-aggregation pair
    // table (orders of magnitude smaller), keeping the audit contract:
    // one corpus scan, zero joins, partitioned windows.
    // UNORDERED emission (n_inter is symmetric): a <= b halves the
    // pair explode and its exchange; both directional rows
    // re-materialize after the aggregate.
    val paired = kept.groupBy(col("h"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .select(explode(expr(
        """flatten(transform(ds, a -> transform(ds, b ->
          |  struct(a AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .filter(col("p.doc_a") <= col("p.doc_b"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("cnt"))
    val wsrc = Window.partitionBy(col("src"))
    paired.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst"), col("cnt")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst"), col("cnt"))))
        .as("q"))
      .select(col("q.src").as("src"), col("q.dst").as("dst"), col("q.cnt").as("cnt"))
      // every surviving doc owns a self-pair, so the max-when is total
      .withColumn("n_sh", max(when(col("src") === col("dst"), col("cnt"))).over(wsrc))
      .filter(col("src") =!= col("dst"))
      .withColumn("containment",
        round(col("cnt").cast("double") / col("n_sh"), 6))
      .filter(col("containment") >= threshold)
      .select(col("src").as("doc_a"), col("dst").as("doc_b"),
        col("cnt").as("n_inter"), col("containment"))
  }

  /** Bucketed edit-distance near-dup pairs — the character-level
    * modality (OCR noise, typo variants, whitespace-mangled copies)
    * that token-set measures miss entirely: a doc with every word
    * slightly corrupted shares few exact shingles but small
    * Levenshtein distance. Emits (doc_a, doc_b, dist) for pairs with
    * doc_b < doc_a, same block, and levenshtein of the `prefixLen`-
    * char prefixes ≤ `maxDist`.
    *
    * Scale shape: NEVER all-pairs — candidates block on (token-count
    * bucket of width `lenBucket`, first token), so only docs of
    * similar length sharing an opening token meet, and the DP cost
    * per met pair is hard-bounded by comparing `prefixLen`-char
    * PREFIXES (O(prefixLen²) cells, independent of document length —
    * full-text Levenshtein at corpus scale is the plan you'd never
    * run). Both the blocking and the prefix bound are recall
    * contracts, stated and mirrored by the oracle: a near-dup pair
    * differing in its first token, or length by > lenBucket, or only
    * beyond the prefix, is out of scope for this detector (the
    * shingle family covers those). Block pair-count is QUADRATIC in
    * block size, so a `maxBlock` cap bounds the worst case: a block
    * holding more than `maxBlock` docs (a corpus of same-length
    * templates all opening with the same word) is dropped entirely —
    * template-dup populations that extreme belong to the exact/
    * shingle detectors, and the cap is what makes the operator's
    * cost ceiling O(blocks · maxBlock² · prefixLen²) instead of
    * corpus-quadratic. Applied identically by the oracle.
    *
    * Batch-only by contract: block membership (and the cap) is a
    * corpus-wide fact; the streaming-adjacent shape is
    * dropDuplicatesWithinWatermark on the exact hash ([[exactStream]])
    * with this detector as the periodic batch sweep.
    *
    * ASCII-prefix contract (ADVICE r6): cross-engine parity holds for
    * ASCII prefixes, where Spark's and DuckDB's levenshtein agree by
    * construction. For multi-byte text the engines may count edit
    * units differently (codepoints vs bytes), so non-ASCII corpora
    * are OUT OF CONTRACT for the oracle comparison — the operator
    * itself remains well-defined (Spark counts codepoints); a
    * deployment needing byte-exact parity normalizes prefixes to the
    * tokenized alphabet first. */
  def editDistancePairs(docs: DataFrame, textCol: String, idCol: String,
                        maxDist: Int = 12, prefixLen: Int = 64,
                        lenBucket: Int = 16, maxBlock: Int = 1000): DataFrame = {
    val toks = graft.operators.StatelessOps.tokenArray(col("__text"))
    // one scan: group the block's (id, prefix) members, cap the block,
    // explode ordered pairs from the grouped array (the containment
    // idiom — pair fan-out bounded by maxBlock·(maxBlock−1)/2).
    // Input spread first (r15): single-row-group scans tokenized as
    // one task; collect_list partials neither grow nor collapse under
    // the spread (see [[Spread]]).
    val blocks = Spread.narrow(docs.select(col(idCol).cast("long").as("id"),
        col(textCol).as("__text")))
      .select(col("id"), substring(col("__text"), 1, prefixLen).as("pfx"),
        toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("id"), col("pfx"),
        floor(size(col("toks")).cast("double") / lenBucket).cast("long").as("lb"),
        element_at(col("toks"), 1).as("t1"))
      .groupBy(col("lb"), col("t1"))
      .agg(collect_list(struct(col("id"), col("pfx"))).as("ms"))
      .filter(size(col("ms")) between (2, maxBlock))
    // rebalance before the quadratic pair explode (r15, the LSH-kernel
    // idiom): AQE coalesces the small block aggregate to ~3 partitions
    // and the |block|²·DP work — the expensive part — serialized onto
    // 3 of 32 cores (measured 3.0 CPU-s in 3 tasks at sf0.1)
    blocks.repartition(Spread.width(docs.sparkSession))
      .select(explode(expr(
        """flatten(transform(ms, a -> transform(ms, b ->
          |  struct(a.id AS doc_a, a.pfx AS pfx_a, b.id AS doc_b, b.pfx AS pfx_b))))"""
          .stripMargin)).as("p"))
      .filter(col("p.doc_b") < col("p.doc_a"))
      // threshold-banded DP (r15): the 3-arg levenshtein explores only
      // the ±maxDist diagonal band — O(maxDist·prefixLen) cells instead
      // of O(prefixLen²) — and returns −1 past the threshold, which the
      // existing ≤ maxDist filter already excludes; kept rows carry the
      // exact distance, so the result set is bit-identical.
      .withColumn("dist", levenshtein(col("p.pfx_a"), col("p.pfx_b"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("dist").cast("long").as("dist"))
  }

  /** Canonical-URL dedup — the crawl-frontier/provenance dedup every
    * web-scale corpus runs BEFORE content dedup: the same page
    * arrives as case-variant hosts, tracking-query variants
    * (`?utm_…`), fragment variants (`#…`) and trailing-slash
    * variants. Canonicalization policy (stated, mirrored by the
    * oracle): scheme+host lowercase (DNS is case-insensitive), path
    * case PRESERVED (paths are not), query and fragment stripped
    * entirely (the aggressive crawl-dedup default — a pipeline that
    * needs param-sensitive identity keeps a allowlist upstream),
    * trailing slashes stripped. Emits one row per canonical URL:
    * the min-doc_id keeper plus occurrence/document counts.
    * Malformed/schemeless rows (no `http(s)://host` prefix) pass
    * through with canon_url = the ORIGINAL string — identity
    * canonicalization, so only well-formed URLs collapse (ADVICE r6:
    * both extraction regexes returning '' previously merged every
    * malformed row into one '' group and elected a keeper across
    * unrelated strings).
    *
    * Scale shape: two narrow regexes per row (RE2-compatible, no
    * backtracking) and ONE groupBy on the canonical string — linear
    * in corpus rows, map-side combinable, no join anywhere. */
  /** THE canonicalization expression — one definition shared by the
    * batch aggregate and the streaming twin so the two can never
    * disagree on what "the same URL" means. */
  private def canonUrl(urlCol: String): org.apache.spark.sql.Column = {
    val host = lower(regexp_extract(col(urlCol), "(?i)^(https?://[^/?#]+)", 1))
    val path = regexp_replace(
      regexp_extract(col(urlCol), "(?i)^https?://[^/?#]+([^?#]*)", 1), "/+$", "")
    when(host === "", col(urlCol)).otherwise(concat(host, path))
  }

  def urlDedup(urls: DataFrame, urlCol: String, idCol: String): DataFrame =
    urls.select(col(idCol).cast("long").as("doc_id"),
        canonUrl(urlCol).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))

  /** Streaming twin of [[urlDedup]] (VERDICT r6 #6) — the crawl
    * frontier IS a stream, and canonical-URL identity needs no
    * corpus-wide fact: canonicalize each arriving row with the SAME
    * [[canonUrl]] policy (one narrow map) and keep the first-seen row
    * per canonical key. With an event-time column the key state is
    * watermark-evicted (`dropDuplicatesWithinWatermark` — the
    * [[exactStream]] discipline: duplicates inside the horizon dedup,
    * older state ages out, state bounded by the horizon's arrival
    * volume); without one state grows with the distinct-URL count —
    * bounded/replay streams only. Emits SURVIVOR rows; the keeper/
    * count statistics stay batch facts ([[urlDedup]] as the periodic
    * sweep). */
  def urlDedupStream(urls: DataFrame, urlCol: String,
                     tsCol: Option[String] = None,
                     horizon: String = "10 minutes"): DataFrame = {
    val keyed = urls.withColumn("canon_url", canonUrl(urlCol))
    tsCol match {
      case Some(t) => keyed.withWatermark(t, horizon)
        .dropDuplicatesWithinWatermark("canon_url")
      case None => keyed.dropDuplicates("canon_url")
    }
  }

  /** Distinct-token shingle set per doc with mod-2^31 hashes — the
    * shared front end of MinHash and Jaccard. Tokenizer is THE single
    * definition in StatelessOps.explodeTokens (oracle parity for every
    * dedup and text-analysis query depends on one tokenizer per engine). */
  private def tokenHashes(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    Spread.narrow(docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
      .select(col("doc_id"), StatelessOps.explodeTokens(col("__text")).as("tok"))
      .filter(length(col("tok")) > 0)
      // FULL 60-bit token hash (r12): the near-dup identity paths
      // (minhash banding, jaccard token sets, simhash bit votes) all
      // key on h, and a 31-bit reduction made two distinct tokens
      // collide under EVERY downstream permutation — the false-flag
      // class that broke the 8M-doc sigstore rung and saturates at
      // crawl scale. Wide h + the affine61 perm family ends it;
      // DuckDB twin drops its % 2^31-1 in lockstep (tokCte).
      .select(col("doc_id"), Hashing.md5Long(col("tok")).as("h"))
      .distinct()
  }

  /** MinHash signature: k affine permutations, min over the token set
    * (one aggregation, k columns wide). The affine re-hashes are
    * hoisted into a projection BEFORE the aggregate: embedding k
    * compound expressions inside partial_min makes the generated
    * aggregate method huge, and Janino recompilation of that method
    * (cache-missed per action since expr ids differ) costs seconds —
    * measured 4-25 s vs ms for plain min(col) aggs. */
  def minHashSignatures(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    tokenHashes(docs, textCol, idCol)
      .select(col("doc_id") +:
        (0 until k).map(j => Hashing.affine61(col("h"), j).as(s"a$j")): _*)
      .groupBy(col("doc_id"))
      .agg(min(col("a0")).as("mh0"),
        (1 until k).map(j => min(col(s"a$j")).as(s"mh$j")): _*)

  /** MinHash + LSH banding: docs sharing all rows of any band become a
    * candidate pair (a < b). bands × rowsPerBand = k. Pair generation
    * is per band bucket — bounded by `maxBucket`, never all-pairs.
    *
    * Hot-bucket contract (the one real 100 TB killer otherwise): a
    * degenerate bucket — a template document duplicated millions of
    * times — must not become one task holding the whole id array and
    * emitting |bucket|² pairs. Buckets larger than `maxBucket` are
    * salted into ceil(size/maxBucket) shards by a secondary hash of
    * the doc id, and pairs form only within a shard:
    *  - per-group memory is O(maxBucket), per-bucket emission is
    *    O(maxBucket × |bucket|) — linear in bucket size, not quadratic;
    *  - RECALL CONTRACT: buckets ≤ maxBucket (every bucket at the
    *    verified scales: max observed 191 @sf0.01, 1732 @sf0.1) are
    *    exact. Above the cap, cross-shard pairs of the pathological
    *    bucket are dropped by design; its members still cluster into
    *    ≤ ceil(size/maxBucket) near-dup groups, so a downstream
    *    survivor pass keeps at most that many copies instead of one. */
  def minHashLsh(docs: DataFrame, textCol: String, idCol: String,
                 bands: Int = 4, rowsPerBand: Int = 4,
                 maxBucket: Int = 2048): DataFrame = {
    val k = bands * rowsPerBand
    val sigs = minHashSignatures(docs, textCol, idCol, k)
    // Pair generation is a per-bucket Scala kernel, NOT a self-join:
    // the fused codegen for posexplode+join+filter+distinct exceeded
    // the JIT's method limit and ran permanently interpreted (1330 s
    // task time for 5M pairs at sf0.1, bimodal with AQE's plan
    // choice). Grouping each (band, bucket) once and emitting sorted
    // id combinations lazily is one aggregation + a tiny JIT-friendly
    // loop.
    //
    // FIRST-MATCH emission (the standard LSH dedup trick): a pair is
    // emitted only in the LOWEST band where its buckets collide — each
    // member carries its full band-key array, and the kernel skips a
    // pair whose keys already matched in an earlier band. Each global
    // pair therefore appears exactly once and the former corpus-wide
    // `distinct()` — the single largest shuffle of the dedup pipeline
    // (44 MB of pre-distinct pairs at sf0.1, linear in pair count at
    // 100 TB) — disappears. Caveat folded into the salt recall
    // contract: when an EARLIER band's bucket is pathological (over
    // maxBucket, salted), a pair split across its shards is skipped
    // here too — same documented degradation class as the salt itself.
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = sigs
      .select(col("doc_id"), bucketArray(bands, rowsPerBand).as("bands"))
      .select(col("doc_id"), col("bands"),
        posexplode(col("bands")).as(Seq("band", "bucket")))
    saltedBucketGroups(banded,
      struct(col("doc_id").as("_1"), col("bands").as("_2")), maxBucket)
      // AQE coalesces this small aggregate to ~1 partition; the pair
      // emission below is the expensive part, so rebalance first.
      .repartition(Spread.width(spark)).as[(Int, Seq[(Long, Seq[Long])])]
      // Dedicated iterator class, not Iterator.flatMap chains: the
      // shared combinator call sites go megamorphic in a long-lived
      // session (43 bench queries in one JVM) and the kernel
      // deoptimizes 5-10x. Own class = monomorphic = stays JIT'd.
      .mapPartitions(groups => new PairIterator(groups))
      .toDF("doc_a", "doc_b")
  }

  /** Streaming MinHash-LSH near-dup candidates: the signature is
    * computed per row with array expressions (array_distinct +
    * transform + array_min — no cross-row distinct, so the front end
    * is fully stateless and streaming-safe), then keyed state per
    * (band, bucket) pairs each arriving doc against the bucket's
    * retained members.
    *
    * Bounded-state contract (the streaming form of [[minHashLsh]]'s
    * hot-bucket salt): at most `maxBucket` first-seen members are
    * retained per bucket. A later arrival still pairs against the
    * retained members (bounded per-event emission) but is not
    * retained — a mass-duplicated template document can grow neither
    * the state nor the output quadratically. A pair colliding in
    * several bands is emitted once per band; downstream consumers
    * dedup as needed, or use [[minHashLshStreamDeduped]] (event-time
    * input), whose watermarked dedup stage closes the divergence with
    * horizon-bounded state. Hand-rolled, not a keyed fold: arrivals pair
    * in ARRIVAL order, against ONE membership set built per batch. */
  def minHashLshStream(docs: DataFrame, textCol: String, idCol: String,
                       bands: Int = 4, rowsPerBand: Int = 4,
                       maxBucket: Int = 2048): Dataset[(Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = rowMinHashSignatures(docs, textCol, idCol, bands * rowsPerBand)
    bandedBuckets(sigs, bands, rowsPerBand)
      .select(col("band"), col("bucket"), col("doc_id")).as[(Int, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Seq[Long], (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), it: Iterator[(Int, Long, Long)],
         gs: org.apache.spark.sql.streaming.GroupState[Seq[Long]]) =>
          var members = gs.getOption.getOrElse(Seq.empty).toVector
          // membership Set beside the insertion-ordered Vector: the
          // Vector is the stored/emission order, the Set makes the
          // per-arrival duplicate check O(1) instead of a linear scan
          // over a hot bucket (ADVICE r4)
          val seen = scala.collection.mutable.HashSet.from(members)
          val out = Vector.newBuilder[(Long, Long)]
          it.foreach { case (_, _, id) =>
            members.foreach { m =>
              if (m != id) out += ((math.min(m, id), math.max(m, id)))
            }
            if (members.length < maxBucket && seen.add(id))
              members = members :+ id
          }
          gs.update(members)
          out.result().iterator
      }
  }

  /** [[minHashLshStream]] with the per-band duplicate emission CLOSED
    * in-engine: Spark 4 accepts a dedup stage chained after the keyed
    * state stage (feasibility pinned in DedupStreamSpec), so pairs are
    * watermark-deduped on (doc_a, doc_b) within `horizon`. Each pair
    * carries the event time of the arrival that produced it; the dedup
    * stage's state is bounded by the horizon's pair-arrival volume —
    * the same eviction contract as [[exactStream]]. Output
    * (doc_a, doc_b, ts). Hand-rolled as [[minHashLshStream]] is. */
  def minHashLshStreamDeduped(docs: DataFrame, textCol: String, idCol: String,
                              tsCol: String, horizon: String = "10 minutes",
                              bands: Int = 4, rowsPerBand: Int = 4,
                              maxBucket: Int = 2048): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = rowMinHashSignatures(docs, textCol, idCol, bands * rowsPerBand,
      extra = Seq(tsCol))
    sigs.select(col("doc_id"), col(tsCol).as("ts"),
        posexplode(bucketArray(bands, rowsPerBand)).as(Seq("band", "bucket")))
      .select(col("band"), col("bucket"), col("doc_id"), col("ts"))
      .as[(Int, Long, Long, Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Seq[Long], (Long, Long, Timestamp)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), it: Iterator[(Int, Long, Long, Timestamp)],
         gs: org.apache.spark.sql.streaming.GroupState[Seq[Long]]) =>
          var members = gs.getOption.getOrElse(Seq.empty).toVector
          // same O(1)-membership shape as minHashLshStream (ADVICE r4)
          val seen = scala.collection.mutable.HashSet.from(members)
          val out = Vector.newBuilder[(Long, Long, Timestamp)]
          it.foreach { case (_, _, id, ts) =>
            members.foreach { m =>
              if (m != id) out += ((math.min(m, id), math.max(m, id), ts))
            }
            if (members.length < maxBucket && seen.add(id))
              members = members :+ id
          }
          gs.update(members)
          out.result().iterator
      }
      .toDF("doc_a", "doc_b", "ts")
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("doc_a", "doc_b")
  }

  /** Per-row MinHash signatures via array expressions — identical
    * values to [[minHashSignatures]] (same tokenizer, same hashes,
    * same permutations; DedupStreamSpec pins the equality) but with
    * no cross-row operator, so it runs in a streaming plan. The batch
    * form stays explode+aggregate: a corpus-wide token explode
    * aggregates with map-side combine, which beats per-row array
    * allocation at scan scale. */
  def rowMinHashSignatures(docs: DataFrame, textCol: String, idCol: String,
                           k: Int, extra: Seq[String] = Nil): DataFrame = {
    val toks = array_distinct(filter(
      StatelessOps.tokenArray(col(textCol)), t => length(t) > 0))
    docs
      .select(col(idCol).cast("long").as("doc_id") +: extra.map(col) :+
        transform(toks, t => Hashing.md5Long(t)).as("hs"): _*)
      .filter(size(col("hs")) > 0)
      .select((col("doc_id") +: extra.map(col)) ++ (0 until k).map(j =>
        array_min(transform(col("hs"), h => Hashing.affine61(h, j))).as(s"mh$j")): _*)
  }

  /** (doc_id, band, bucket) banded LSH keys from an `mh*` signature
    * frame — the shared banding of [[minHashLshStream]],
    * [[graft.tools.SignatureStore]]'s written index, and its probe
    * kernel (one tokenizer, one permutation family, one banding: a
    * probe against a written store collides exactly where an
    * in-session LSH would). [[minHashLsh]] and the watermarked
    * stream-dedup variant carry EXTRA payload columns through the
    * same [[bucketArray]] explode — one array source either way (see
    * bucketArray's no-union note). */
  def bandedBuckets(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(bucketArray(bands, rowsPerBand)).as(Seq("band", "bucket")))

  /** One bucket string per band from the `mh*` signature columns.
    * Used via ONE posexplode — NOT a bands-way union: Spark does not
    * dedupe common subplans, so a union would re-execute the whole
    * signature pipeline (scan+tokenize+hash+agg) once per band. At
    * 100 TB that is bands× the scan; as one explode it is one pass. */
  private def bucketArray(bands: Int, rowsPerBand: Int) =
    // bucket key = md5Long of the band's mh-tuple string (r12): bucket
    // equality was exact 8-tuple string equality, but the wide 61-bit
    // mins made those strings ~160 B — real money on every LSH shuffle
    // and in the written store at corpus scale. The 60-bit compaction
    // keeps the identity contract to P(tuple collision) ~ B^2/2^61
    // corpus-wide (B = docs x bands buckets: ~1 spurious bucket merge
    // per 10^9-doc corpus, the same class as the perm space itself)
    // and the join key is 8 bytes. DuckDB twin: the same md5-substr
    // over the same concat_ws string (bandsCte / sigBandsCteFor).
    array((0 until bands).map { b =>
      Hashing.md5Long(concat_ws("_",
        (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"mh$j")): _*))
    }: _*)

  /** Groups a banded frame (band, bucket, payload…) into per-shard
    * member lists bounded by `maxBucket` (the hot-bucket salt — see
    * [[minHashLsh]]'s recall contract). Bucket size comes from a
    * window over the banded rows — NOT a count+join-back, which would
    * re-execute the whole upstream pipeline a second time (Spark does
    * not dedupe common subplans; at 100 TB that subtree dominates).
    * The groupBy reuses the window's (band,bucket) clustering — a
    * subset of its keys — so no second shuffle, and singleton buckets
    * are dropped before any list is built. Emits (band, members): the
    * band index drives the kernels' first-match pair dedup. */
  private def saltedBucketGroups(banded: DataFrame, payload: org.apache.spark.sql.Column,
                                 maxBucket: Int): DataFrame = {
    // Recall-degradation SIGNAL for the salt contract: rows landing in
    // an over-cap bucket (whose cross-shard pairs are dropped by
    // design) bump a per-SparkContext accumulator, visible in the UI
    // and via [[oversizedBucketRows]]. The bump is a native codegen'd
    // expression (VERDICT r9 #8 — was the repo's one remaining UDF)
    // guarded by when(), so the common ≤ cap path pays nothing and the
    // projection never leaves whole-stage codegen; task retries can
    // over-count — it is a signal, not a metric for correctness
    // decisions.
    val acc = oversizedAcc(banded.sparkSession)
    val note = (c: org.apache.spark.sql.Column) =>
      graft.functions.AccumulateNote.accumulateNote(c, acc)
    banded
      .withColumn("bsize",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .filter(col("bsize") >= 2)
      .withColumn("bsize",
        when(col("bsize") > maxBucket, note(col("bsize")))
          .otherwise(col("bsize")))
      .withColumn("shard",
        pmod(xxhash64(col("doc_id")), ceil(col("bsize") / lit(maxBucket))))
      .groupBy(col("band"), col("bucket"), col("shard"))
      .agg(collect_list(payload).as("members"))
      .select(col("band"), col("members"))
  }

  private val oversizedAccs =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext,
      org.apache.spark.util.LongAccumulator]()

  private def oversizedAcc(spark: org.apache.spark.sql.SparkSession) = {
    // evict stopped contexts so a context-cycling JVM (test harness,
    // notebook server) doesn't grow the map without bound
    oversizedAccs.keySet.removeIf(_.isStopped)
    oversizedAccs.computeIfAbsent(spark.sparkContext,
      sc => sc.longAccumulator("graft.dedup.rowsInOversizedBuckets"))
  }

  /** Rows seen in salted buckets OVER the cap across every salted
    * kernel run on this session's SparkContext since startup — the
    * observable counterpart of the documented cross-shard-pair
    * recall degradation. 0 means every bucket was exact. */
  def oversizedBucketRows(spark: org.apache.spark.sql.SparkSession): Long =
    oversizedAcc(spark).value

  /** HALF_UP at 6 decimals, parity-exact with Spark round() and the
    * DuckDB oracle. The BigDecimal path (Double.toString + parse — a
    * measured per-pair hotspot at ~µs/call) runs ONLY inside the tiny
    * band around a .5 boundary where double error could flip the
    * decision; everything else takes the two-flop floor path. */
  private[operators] def round6(v: Double): Double = {
    val scaled = v * 1e6
    val frac = scaled - math.floor(scaled)
    if (math.abs(frac - 0.5) > 1e-6)
      math.floor(scaled + 0.5) / 1e6
    else
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** True iff the two members' band keys already collided in a band
    * before `band` — the pair was (or, under an earlier band's salt,
    * would have been) emitted there, so the current band skips it. */
  private def matchedEarlier(band: Int, a: Array[Long], b: Array[Long]): Boolean = {
    var p = 0
    while (p < band) {
      if (a(p) == b(p)) return true
      p += 1
    }
    false
  }

  /** Emits each group's sorted id pairs (a < b) whose FIRST band match
    * is this group's band, lazily. */
  private final class PairIterator(groups: Iterator[(Int, Seq[(Long, Seq[Long])])])
      extends scala.collection.AbstractIterator[(Long, Long)] {
    private var band = 0
    private var ids: Array[Long] = _
    private var bandKeys: Array[Array[Long]] = _
    private var i = 0
    private var j = 1
    private var outA = 0L
    private var outB = 0L
    private var ready = false
    advance()
    private def loadGroup(): Boolean = {
      ids = null
      while (ids == null && groups.hasNext) {
        val (b, g) = groups.next()
        if (g.length >= 2) {
          val sorted = g.sortBy(_._1)
          band = b
          ids = new Array[Long](sorted.length)
          bandKeys = new Array[Array[Long]](sorted.length)
          var m = 0
          while (m < sorted.length) {
            ids(m) = sorted(m)._1; bandKeys(m) = sorted(m)._2.toArray; m += 1
          }
          i = 0; j = 1
        }
      }
      ids != null
    }
    private def advance(): Unit = {
      ready = false
      if (ids == null && !loadGroup()) return
      while (!ready) {
        if (j >= ids.length) {
          i += 1; j = i + 1
          if (j >= ids.length) { if (!loadGroup()) return }
        } else {
          if (!matchedEarlier(band, bandKeys(i), bandKeys(j))) {
            outA = ids(i); outB = ids(j); ready = true
          }
          j += 1
        }
      }
    }
    override def hasNext: Boolean = ready
    override def next(): (Long, Long) = {
      val out = (outA, outB)
      advance()
      out
    }
  }

  /** SimHash: per-doc 32-bit signature where bit i is the sign of the
    * token-set's aggregate weight on that bit (same integer arithmetic
    * as the DuckDB oracle). Bit weights are hoisted into a projection
    * (±1 per bit via exact shift-division) so the aggregate is `bits`
    * plain sums and no 32× row explode is needed: one narrow pass +
    * one aggregation regardless of corpus size. */
  def simHash(docs: DataFrame, textCol: String, idCol: String, bits: Int = 32): DataFrame = {
    val th = tokenHashes(docs, textCol, idCol)
    // bit reads are SHIFTS, not double division: h is 60-bit since
    // r12 and h / 2^i through DoubleType rounds past 2^53 — a silent
    // wrong-bit class; (h >> i) & 1 is exact at any width on both
    // engines
    val weighted = th.select(col("doc_id") +:
      (0 until bits).map(i =>
        when(shiftright(col("h"), i) % 2 === 1, 1)
          .otherwise(-1).as(s"w$i")): _*)
    weighted.groupBy(col("doc_id"))
      .agg(sum(col("w0")).as("s0"),
        (1 until bits).map(i => sum(col(s"w$i")).as(s"s$i")): _*)
      .select(col("doc_id"),
        (0 until bits).map(i =>
          when(col(s"s$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs within hamming distance <= maxDist — EXACT
    * by pigeonhole: the 32-bit signature splits into maxDist+1 chunks,
    * and any pair within the distance must agree on at least one whole
    * chunk, so chunk-equality blocks are a LOSSLESS candidate
    * generator (no LSH recall loss; the hot-bucket salt contract of
    * [[minHashLsh]] still applies to pathological blocks). Verification
    * is bitCount(xor) inside the salted block kernel. */
  def simHashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3, maxBucket: Int = 4096): DataFrame = {
    // maxBucket sits higher than minHashLsh's: 8-bit chunk blocks are
    // far coarser than 32-bit banded minhash buckets (256 values per
    // band), so legitimate blocks run bigger (measured 2364 max at
    // sf0.1 vs 1732 for minhash). Same salt/recall contract above it.
    require(32 % (maxDist + 1) == 0, "chunks must divide the 32-bit signature")
    val chunks = maxDist + 1
    val width = 32 / chunks
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = simHash(docs, textCol, idCol)
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("simhash"), c * width).bitwiseAND(lit((1L << width) - 1))): _*))
        .as(Seq("band", "bucket")))
    saltedBucketGroups(banded,
      struct(col("doc_id").as("_1"), col("simhash").as("_2")), maxBucket)
      .repartition(Spread.width(spark))
      .as[(Int, Seq[(Long, Long)])]
      .mapPartitions(groups => new HammingIterator(groups, maxDist, width))
      .toDF("doc_a", "doc_b", "hamming")
  }

  /** Per-block all-pairs hamming check with first-match emission (the
    * chunk keys of earlier bands are recomputed from the signatures —
    * zero extra payload), lazily (see PairIterator's megamorphism
    * note). */
  private final class HammingIterator(
      groups: Iterator[(Int, Seq[(Long, Long)])], maxDist: Int, width: Int)
      extends scala.collection.AbstractIterator[(Long, Long, Long)] {
    private val mask = (1L << width) - 1
    private var band = 0
    private var ids: Array[Long] = _
    private var sigs: Array[Long] = _
    private var i = 0
    private var j = 1
    private var outA = 0L
    private var outB = 0L
    private var outD = 0L
    private var ready = false
    advance()
    private def loadGroup(): Boolean = {
      ids = null
      while (ids == null && groups.hasNext) {
        val (b, g) = groups.next()
        if (g.length >= 2) {
          val sorted = g.sortBy(_._1)
          band = b
          ids = new Array[Long](sorted.length)
          sigs = new Array[Long](sorted.length)
          var m = 0
          while (m < sorted.length) {
            ids(m) = sorted(m)._1; sigs(m) = sorted(m)._2; m += 1
          }
          i = 0; j = 1
        }
      }
      ids != null
    }
    private def chunksMatchedEarlier(a: Long, b: Long): Boolean = {
      var p = 0
      while (p < band) {
        if (((a >>> (p * width)) & mask) == ((b >>> (p * width)) & mask)) return true
        p += 1
      }
      false
    }
    private def advance(): Unit = {
      ready = false
      if (ids == null && !loadGroup()) return
      while (!ready) {
        if (j >= ids.length) {
          i += 1; j = i + 1
          if (j >= ids.length) { if (!loadGroup()) return }
        } else {
          val d = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
          if (d <= maxDist && !chunksMatchedEarlier(sigs(i), sigs(j))) {
            outA = ids(i); outB = ids(j); outD = d.toLong; ready = true
          }
          j += 1
        }
      }
    }
    override def hasNext: Boolean = ready
    override def next(): (Long, Long, Long) = {
      val out = (outA, outB, outD)
      advance()
      out
    }
  }

  /** Token-set Jaccard near-dup: LSH band candidates, then EXACT
    * Jaccard |A∩B| / |A∪B| via per-doc token-set arrays and
    * array_intersect. Work is linear in the candidate count — the
    * first cut (token-level self-join on a blocking key) materialized
    * |block|² rows PER TOKEN (225M intermediate rows / 361 s at sf0.1
    * on a 31-word-vocabulary corpus where every pair is a near-dup);
    * the array form shuffles each candidate pair once and intersects
    * two bounded arrays per pair. Emits pairs with
    * similarity >= threshold. */
  /** `spanningOnly`: emit, per (band, bucket, shard) group, only the
    * qualifying pairs that CONNECT two group-local components (a
    * union-find spanning forest) instead of all ≤ |group|²/2 of them —
    * for consumers that need CONNECTIVITY, not the pair list
    * (duplicate-cluster resolution). Exactly component-preserving:
    * every dropped qualifying pair is already connected inside the
    * group that examined it. On a clique-heavy corpus this collapses
    * the edge volume by the mean qualifying-degree (measured 2.78M →
    * 14k pairs at sf0.1) — at 100 TB, the difference between a
    * closure over ~|pairs| and ~|docs| edges. */
  /** Cross-document duplicated-span fraction: for each document, the
    * share of its DISTINCT token n-grams that also occur in at least
    * one OTHER document — the corpus-level complement of
    * [[TextAnalysis.repetition]]'s within-doc signal (catches
    * boilerplate shared across pages, the span-level signal behind
    * C4/RefinedWeb-style cross-doc span dedup rules).
    *
    * Plan shape mirrors ta_tfidf: ONE corpus scan and explode feeds a
    * distinct-(doc, gram) stream; the gram's document frequency is a
    * COUNT WINDOW over it partitioned by the gram (one row per
    * (doc, gram) ⇒ the partition size IS the doc frequency) — no
    * self-join, no second scan. Grams are reduced to 60-bit md5 hashes
    * BEFORE the explode (`array_distinct` over the hashed gram array),
    * so the wide exchange carries 8-byte keys, never gram text — at
    * corpus scale the gram stream is ~n× the corpus, and shuffling it
    * as strings is the difference between a pass and a re-shuffle of
    * the whole corpus. Collisions (2^-60) would merge two grams'
    * frequencies; the oracle hashes identically, so the contract is
    * exact. Docs with fewer than `n` tokens have no grams and yield no
    * row (the oracle agrees). Like [[graft.operators.TextAnalysis]]'s
    * ta_ngrams, grams run over the raw ordered token array with no
    * empty-token filter (only a whole-empty doc cleans to one empty
    * token, and it has no n-gram).
    *
    * BATCH-ONLY by contract (the PrefixSum.globalRunningSum
    * precedent): a gram's document frequency is CORPUS-WIDE — on an
    * unbounded stream every arriving doc can retroactively flip any
    * earlier doc's grams from unique to duplicated, so an append-mode
    * emission is structurally wrong (it would need unbounded
    * retraction). Run it as periodic batch passes over the
    * accumulated corpus. */
  def crossDocNgrams(docs: DataFrame, textCol: String, idCol: String,
                     n: Int = 3): DataFrame = {
    require(n >= 2, "n >= 2 (a 1-gram fraction is just token overlap)")
    // spread before the gram explode (r15, see [[Spread]])
    val toksDf = Spread.narrow(docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("__text")))
      .select(col("doc_id"), StatelessOps.tokenArray(col("__text")).as("toks"))
      .filter(size(col("toks")) >= n)
    val gramsCol = expr(
      s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', slice(toks, i, $n)))")
    val gd = toksDf.select(col("doc_id"),
      explode(array_distinct(transform(gramsCol, g => Hashing.md5Long(g)))).as("gh"))
    val w = Window.partitionBy(col("gh"))
    gd.withColumn("dfreq", count(lit(1)).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("dfreq") > 1, 1L).otherwise(0L)).as("dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("dup_grams"),
        round(col("dup_grams").cast("double") / col("n_grams"), 6).as("dup_frac"))
  }

  /** Duplicated-SPAN extraction (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): find, per document,
    * the maximal runs of consecutive token positions whose n-grams
    * occur MORE THAN ONCE in the whole corpus (any document, any
    * position — cross-doc boilerplate and within-doc loops both
    * count), and emit each run of ≥ `minRun` grams as a span
    * (start_pos, run_grams, span_tokens = run + n − 1). This is the
    * REMOVER'S view — where [[crossDocNgrams]] scores documents, this
    * locates the byte ranges a span-level dedup pass would cut, which
    * is what the reference Lee et al. pipeline does with suffix
    * arrays.
    *
    * Distributed approximation contract: a suffix array finds exact
    * duplicated substrings; a run of k consecutive corpus-duplicated
    * n-grams is a SUPERSET witness (each gram recurs somewhere, but
    * the whole span need not recur contiguously elsewhere). That makes
    * this the cheap candidate-span phase of the standard two-phase
    * shape — overapproximate with hashes, confirm survivors exactly —
    * and the overapproximation is one-sided: every true duplicated
    * span of ≥ minRun+n−1 tokens IS emitted.
    *
    * Plan shape: ONE tokenize+gram scan (the dd_containment contract —
    * zero joins, plan-gated); corpus-wide gram multiplicity is a count
    * window over the positioned gram stream partitioned by the 60-bit
    * gram hash (8-byte shuffle keys, never gram text); the
    * gaps-and-islands pass (pos − row_number) shuffles only the
    * DUPLICATED positions per doc. BATCH-ONLY by contract (the
    * crossDocNgrams retraction argument: any arriving doc can flip any
    * earlier position from unique to duplicated). */
  def duplicatedSpans(docs: DataFrame, textCol: String, idCol: String,
                      n: Int = 3, minRun: Int = 2): DataFrame = {
    require(n >= 2 && minRun >= 1, "need n >= 2 and minRun >= 1")
    // spread before the gram explode (r15, see [[Spread]])
    val toksDf = Spread.narrow(docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("__text")))
      .select(col("doc_id"), StatelessOps.tokenArray(col("__text")).as("toks"))
      .filter(size(col("toks")) >= n)
    val gramsCol = expr(
      s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', slice(toks, i, $n)))")
    val pos = toksDf.select(col("doc_id"),
      posexplode(transform(gramsCol, g => Hashing.md5Long(g))).as(Seq("pos", "gh")))
    val dup = pos.withColumn("cfreq",
        count(lit(1)).over(Window.partitionBy(col("gh"))))
      .filter(col("cfreq") > 1)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup.withColumn("grp", col("pos") - row_number().over(wd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("start_pos"),
        count(lit(1)).as("run_grams"))
      .filter(col("run_grams") >= minRun)
      .select(col("doc_id"), col("start_pos"), col("run_grams"),
        (col("run_grams") + lit(n - 1).cast("long")).as("span_tokens"))
  }

  /** Apply [[duplicatedSpans]]: REMOVE every token covered by a
    * qualifying duplicated span and emit the scrubbed document's
    * witnesses — token count, removed count, and an md5 fingerprint of
    * the kept tokens joined by ' ' (the boilerplateLines receipt
    * idiom: both engines must produce byte-identical scrubbed text).
    * A span of `run` grams covers token positions
    * [start, start + run + n − 2]; overlapping coverage from nearby
    * runs dedups positionally. Docs with no qualifying span (or fewer
    * than n tokens) pass through with n_removed = 0 and the fingerprint
    * of their full token join.
    *
    * Plan shape: TWO corpus scans by design — the span pass reduces to
    * 8-byte gram keys immediately (the dd_spans single-scan kernel),
    * and the apply pass re-reads the corpus ONCE to join the tiny
    * per-doc coverage sets back on doc_id (carrying token text through
    * the gram explode instead would shuffle corpus × n_grams bytes —
    * the exact payload blow-up the hashed-key discipline exists to
    * avoid). Coverage rows are proportional to DUPLICATED spans, not
    * the corpus. BATCH-ONLY by contract (inherits the dd_spans
    * retraction argument). */
  def scrubSpans(docs: DataFrame, textCol: String, idCol: String,
                 n: Int = 3, minRun: Int = 2): DataFrame = {
    val cov = duplicatedSpans(docs, textCol, idCol, n, minRun)
      .select(col("doc_id"), explode(sequence(col("start_pos"),
        col("start_pos") + col("run_grams") + lit(n - 2).cast("long"))).as("cpos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("cpos").cast("int")).as("cov"))
    // spread the apply pass too (r15): its tokenize otherwise runs at
    // scan parallelism, and the join keys on doc_id (doc-grained, safe)
    Spread.narrow(docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("__text")))
      .select(col("doc_id"), StatelessOps.tokenArray(col("__text")).as("toks"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast("long").as("n_removed"),
        md5(concat_ws(" ", expr(
          "filter(toks, (t, i) -> cov IS NULL OR NOT array_contains(cov, i))"))).as("scrub_fp"))
  }

  /** Hamming near-dup pairs over a 64-bit hash carried as two 32-bit
    * halves — the [[simHashPairs]] pigeonhole applied to ANY
    * precomputed fingerprint (perceptual image hashes, audio
    * fingerprints): split the 64 bits into equal chunks (the smallest
    * divisor-of-64 count exceeding maxDist — 2 × 32-bit for
    * maxDist ≤ 1, 4 × 16-bit for 2-3, 8 × 8-bit for the default 6);
    * two hashes within the
    * distance MUST agree on at least one chunk (pigeonhole — lossless
    * blocking, unlike LSH), so candidates only form inside
    * (chunk index, chunk value) buckets and the exact popcount filter
    * runs per candidate. A pair colliding in several chunks is
    * emitted ONLY at its lowest agreeing chunk (the first-match
    * rule — no corpus-wide pair distinct).
    *
    * Hot buckets route through the SAME salted kernel as the text
    * paths ([[minHashLsh]]'s recall contract): a bucket over
    * `maxBucket` — a duplicate-heavy media corpus puts every copy of
    * one fingerprint in one (chunk, value) bucket — is sharded by a
    * secondary hash of the id, pairs form only within a shard, and
    * per-group memory / emission stay O(maxBucket) / O(maxBucket ×
    * |bucket|) instead of |bucket|². Buckets ≤ maxBucket are EXACT
    * (8-bit chunk buckets are bounded by the corpus's per-chunk value
    * multiplicity — max possible 5000 at sf0.1, under the default
    * cap, so the verified scales are exact end-to-end); above the cap,
    * cross-shard pairs of the pathological bucket are dropped by
    * design with the documented ≤ ceil(size/maxBucket)-groups
    * degradation.
    *
    * BATCH-ONLY by contract (the [[simHashPairs]] posture, inherited
    * by mm_phash_pairs / mm_audio_pairs): bucket membership is
    * corpus-wide state. The streaming analog is
    * [[minHashLshStream]]'s keyed per-bucket retained-member state
    * applied to (chunk, value) keys, not an operator twin. */
  def hammingPairs64(hashes: DataFrame, idCol: String,
                     hiCol: String, loCol: String,
                     maxDist: Int = 6, maxBucket: Int = 8192): DataFrame = {
    require(maxDist >= 0 && maxDist < 32,
      "pigeonhole over at most 32 chunks needs maxDist < 32")
    // WIDENED blocking when the threshold allows: the chunk count is
    // the SMALLEST divisor of 64 exceeding maxDist (pigeonhole needs
    // chunks > maxDist), so maxDist ≤ 3 blocks on 4 × 16-bit chunks
    // (65k values per position — far finer buckets than 8-bit chunks
    // on a near-dup-dense corpus) and the catalog's maxDist = 6 keeps
    // its 8 × 8-bit layout. Caps, not key width, still bound the
    // degenerate identical-fingerprint case — the salt below.
    val chunks = Seq(2, 4, 8, 16, 32).find(_ > maxDist).get
    val width = 64 / chunks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val spark = hashes.sparkSession
    import spark.implicits._
    // Recompose the 64-bit signature once: hi = bits 32..63, lo =
    // bits 0..31, so chunk c = (sig >>> c·width) & mask — identical
    // chunk keys to the former hi/lo-split form at width 8. Both
    // halves are cast to long FIRST: shiftleft on an int column
    // shifts mod 32 (a silent no-op at 32), so integer-typed halves
    // would otherwise produce wrong signatures.
    val sig = shiftleft(col(hiCol).cast("long"), 32)
      .bitwiseOR(col(loCol).cast("long").bitwiseAND(lit(0xffffffffL)))
    val banded = hashes
      .select(col(idCol).cast("long").as("doc_id"), sig.as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(array((0 until chunks).map(c =>
          shiftrightunsigned(col("sig"), c * width).bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "bucket")))
    saltedBucketGroups(banded,
      struct(col("doc_id").as("_1"), col("sig").as("_2")), maxBucket)
      .repartition(Spread.width(spark))
      .as[(Int, Seq[(Long, Long)])]
      // same kernel as simHashPairs: chunks × width covers the full
      // 64-bit signature; dist is the exact 64-bit popcount
      .mapPartitions(groups => new HammingIterator(groups, maxDist, width))
      .toDF("id_a", "id_b", "dist")
  }

  def ngramJaccard(docs: DataFrame, textCol: String, idCol: String,
                   threshold: Double, bands: Int = 4, rowsPerBand: Int = 8,
                   maxBucket: Int = 2048, spanningOnly: Boolean = false): DataFrame = {
    // Longer bands (r=8) than the generic LSH: candidate probability
    // J^r per band keeps the pair set near the true >= threshold set
    // instead of admitting the quadratic mid-similarity bulk.
    //
    // The exact intersects run INSIDE the salted bucket kernel: each
    // doc's sorted token-hash set rides along into its (band, bucket,
    // shard) group and every in-group pair is intersected on the spot.
    // The previous shape — materialize candidate pairs, then join the
    // token arrays back on both sides — spent ~100 µs/pair in SMJ
    // sorts, row copies and per-pair array deserialization (379 s CPU
    // at sf0.1) around a ~60 ns two-pointer merge. Group-locally each
    // doc's array is deserialized once per band, there is no join at
    // all, and the only wide shuffle is the banded token sets
    // (bands × one fixed-width hash set per doc). A pair colliding in
    // several bands is intersected and emitted ONLY in its lowest
    // colliding band (first-match — each member carries its band-key
    // array), so no corpus-wide distinct is needed downstream.
    //
    // One aggregation computes BOTH the minhash signature (banding)
    // and the exact token set (jaccard) from a single tokenize pass —
    // a separate minHashLsh + token-array subtree would tokenize the
    // corpus twice (no common-subplan dedup).
    val k = bands * rowsPerBand
    val spark = docs.sparkSession
    import spark.implicits._
    val sigsWithToks = tokenHashes(docs, textCol, idCol)
      .select(col("doc_id") +: col("h") +:
        (0 until k).map(j => Hashing.affine61(col("h"), j).as(s"a$j")): _*)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("h"))).as("toks"),
        (0 until k).map(j => min(col(s"a$j")).as(s"mh$j")): _*)
    val banded = sigsWithToks
      .select(col("doc_id"), col("toks"), bucketArray(bands, rowsPerBand).as("bands"))
      .select(col("doc_id"), col("toks"), col("bands"),
        posexplode(col("bands")).as(Seq("band", "bucket")))
    // tuple-encoder field names: the struct must expose _1/_2/_3
    saltedBucketGroups(banded,
      struct(col("doc_id").as("_1"), col("toks").as("_2"), col("bands").as("_3")),
      maxBucket)
      .repartition(Spread.width(spark))
      .as[(Int, Seq[(Long, Seq[Long], Seq[Long])])]
      // dedicated iterator class — see PairIterator's megamorphism note
      .mapPartitions(groups => new GroupJaccardIterator(groups, threshold, spanningOnly))
      .toDF("doc_a", "doc_b", "jaccard")
  }

  /** Per-group all-pairs sorted two-pointer intersect + threshold
    * filter with first-match emission (a pair is intersected and
    * emitted only in its lowest colliding band — see [[minHashLsh]]),
    * lazily. Group size is bounded by the LSH salt (`maxBucket`), so
    * the materialized arrays are O(maxBucket × set). */
  private final class GroupJaccardIterator(
      groups: Iterator[(Int, Seq[(Long, Seq[Long], Seq[Long])])], threshold: Double,
      spanning: Boolean = false)
      extends scala.collection.AbstractIterator[(Long, Long, Double)] {
    private var band = 0
    private var ids: Array[Long] = _
    private var toks: Array[Array[Long]] = _
    private var bandKeys: Array[Array[Long]] = _
    private var parent: Array[Int] = _
    private var i = 0
    private var j = 1
    private var nextA = 0L
    private var nextB = 0L
    private var nextJ = 0.0
    private var ready = false
    advance()
    private def loadGroup(): Boolean = {
      ids = null
      while (ids == null && groups.hasNext) {
        val (b, g) = groups.next()
        if (g.length >= 2) {
          val sorted = g.sortBy(_._1)
          band = b
          ids = new Array[Long](sorted.length)
          toks = new Array[Array[Long]](sorted.length)
          bandKeys = new Array[Array[Long]](sorted.length)
          if (spanning) parent = Array.tabulate(sorted.length)(identity)
          var m = 0
          while (m < sorted.length) {
            ids(m) = sorted(m)._1; toks(m) = sorted(m)._2.toArray
            bandKeys(m) = sorted(m)._3.toArray; m += 1
          }
          i = 0; j = 1
        }
      }
      ids != null
    }
    // group-local union-find (path halving): in spanning mode a
    // qualifying pair is emitted only if it connects two components
    private def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    private def unionDistinct(a: Int, b: Int): Boolean = {
      val ra = find(a); val rb = find(b)
      if (ra == rb) false
      else { parent(math.max(ra, rb)) = math.min(ra, rb); true }
    }
    private def advance(): Unit = {
      ready = false
      if (ids == null && !loadGroup()) return
      while (!ready) {
        if (j >= ids.length) {
          i += 1; j = i + 1
          if (j >= ids.length) { if (!loadGroup()) return }
        } else if (Dedup.matchedEarlier(band, bandKeys(i), bandKeys(j))) {
          j += 1
        } else {
          val ta = toks(i); val tb = toks(j)
          var x = 0; var y = 0; var inter = 0
          while (x < ta.length && y < tb.length) {
            if (ta(x) < tb(y)) x += 1
            else if (ta(x) > tb(y)) y += 1
            else { inter += 1; x += 1; y += 1 }
          }
          val jac = inter.toDouble / (ta.length + tb.length - inter)
          // Below-threshold pairs (the bulk) are rejected unrounded:
          // rounding can lift jac by at most 5e-7, so anything under
          // threshold - 5e-7 can't pass. Survivors get exact HALF_UP.
          if (jac >= threshold - 5e-7) {
            val r = Dedup.round6(jac)
            if (r >= threshold && (!spanning || unionDistinct(i, j))) {
              nextA = ids(i); nextB = ids(j); nextJ = r; ready = true
            }
          }
          j += 1
        }
      }
    }
    override def hasNext: Boolean = ready
    override def next(): (Long, Long, Double) = {
      val out = (nextA, nextB, nextJ)
      advance()
      out
    }
  }
}
