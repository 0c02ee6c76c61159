package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * Column expressions (codegen'd, SQL-expressible for the oracle) —
  * the generalized form of the reference's lexicon/regex text surface
  * (katas/Chapter01 sentiment :149-182, ShareHypePiece.java:65-84
  * tokenizer).
  */
object TextAnalysis {

  /** Stopword lists per language for the stopword language-ID
    * heuristic. Tiny on purpose: the operator shape (per-language score
    * → argmax) is what scales, the lists are swappable. */
  val StopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is", "that")
  val StopwordsFr = Seq("le", "la", "de", "et", "un", "une", "est", "que")
  val StopwordsDe = Seq("der", "die", "das", "und", "ein", "ist", "nicht", "mit")

  private def wordHits(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(text, lit("\\b(" + words.mkString("|") + ")\\b"), lit(0)))

  /** Language ID: count stopword hits per language, argmax with 'und'
    * (undetermined) when all scores are zero. */
  def langId(text: Column): Column = {
    val lowered = lower(text)
    val en = wordHits(lowered, StopwordsEn)
    val fr = wordHits(lowered, StopwordsFr)
    val de = wordHits(lowered, StopwordsDe)
    when(greatest(en, fr, de) === 0, "und")
      .when(en >= fr && en >= de, "en")
      .when(fr >= de, "fr")
      .otherwise("de")
  }

  /** Quality features: length, word count, punctuation ratio, stopword
    * ratio, mean word length — and a composite score. Deterministic
    * arithmetic, rounded for oracle parity. */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nWords = size(split(trim(t), "\\s+"))
    val nPunct = length(t) - length(regexp_replace(t, "[\\.,;:!\\?]", ""))
    val nStop = wordHits(lower(t), StopwordsEn)
    df.withColumn("n_words", nWords)
      .withColumn("punct_ratio", round(nPunct.cast("double") / nChars, 6))
      .withColumn("stopword_ratio", round(nStop.cast("double") / nWords, 6))
      .withColumn("mean_word_len",
        round(length(regexp_replace(t, "\\s+", "")).cast("double") / nWords, 6))
      .withColumn("quality_score", round(
        when(nWords >= 5, lit(1.0)).otherwise(lit(0.0)) * lit(0.4)
          + when(nPunct.cast("double") / nChars < 0.2, lit(1.0)).otherwise(lit(0.0)) * lit(0.3)
          + least(nStop.cast("double") / nWords * 4, lit(1.0)) * lit(0.3), 6))
  }

  /** Gopher-style repetition signals: the duplicate-n-gram fraction
    * (1 − distinct/total over contiguous token 2-/3-grams) — the
    * quality-filter rule that catches boilerplate and looping text
    * which per-token stats miss. Every column is a per-row narrow
    * expression (shared tokenizer, sequence/slice n-grams,
    * array_distinct): zero shuffle at any corpus scale. */
  def repetition(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    def grams(k: Int) =
      when(size(col("toks")) >= k, expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), i -> concat_ws(' ', slice(toks, i, $k)))"))
        .otherwise(array().cast("array<string>"))
    def dupFrac(g: org.apache.spark.sql.Column) =
      round(when(size(g) === 0, 0.0).otherwise(
        lit(1.0) - size(array_distinct(g)).cast("double") / size(g)), 6)
    df.select(col(idCol).as("doc_id"),
        StatelessOps.tokenArray(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        grams(2).as("g2"), grams(3).as("g3"))
      .select(col("doc_id"), col("n_tokens"),
        dupFrac(col("g2")).as("dup_2gram_frac"),
        dupFrac(col("g3")).as("dup_3gram_frac"))
  }

  /** Token counts: whitespace tokens and a BPE-ish regex token count
    * (letter runs + digit runs + single punctuation marks). */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("ws_tokens", size(split(trim(col(textCol)), "\\s+")))
      .withColumn("bpe_tokens", size(regexp_extract_all(col(textCol),
        lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))))

  /** Per-document token-distribution signals: Shannon entropy of the
    * token frequency distribution (in nats) and the type-token ratio —
    * the information-density quality filters that catch low-diversity
    * boilerplate (low entropy) which length/punctuation stats miss.
    *
    * Entirely per-row narrow expressions — no token explode, no
    * shuffle at any corpus scale: sort the doc's token array, derive
    * run lengths from group-start positions (a position starts a run
    * iff it differs from its predecessor; counts = gaps between
    * consecutive starts), then fold. Entropy terms accumulate as
    * integer MICRO-NATS (round(1e6 · p·ln p) per distinct token, exact
    * order-independent integer sum — the emb_centroid idiom; a raw
    * double sum's last ulp depends on accumulation order, which the
    * DuckDB twin's GROUP BY cannot reproduce). Docs with no tokens
    * after cleaning yield no row, matching the oracle's group-of-zero
    * behavior. */
  def entropy(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = filter(StatelessOps.tokenArray(col(textCol)), t => length(t) > 0)
    df.select(col(idCol).cast("long").as("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), array_sort(col("toks")).as("s"),
        size(col("toks")).as("n"))
      .withColumn("starts", expr(
        "filter(sequence(1, n), i -> i = 1 OR element_at(s, i) != element_at(s, i - 1))"))
      .withColumn("ent_micro", expr(
        """aggregate(
          |  zip_with(starts, concat(slice(starts, 2, size(starts)), array(n + 1)),
          |           (a, b) -> b - a),
          |  0L, (acc, c) -> acc - cast(round(1000000 * (c / n) * ln(c / n)) as long))"""
          .stripMargin))
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        size(col("starts")).cast("long").as("n_distinct"),
        round(col("ent_micro") / lit(1000000.0), 6).as("entropy"),
        round(size(col("starts")).cast("double") / col("n"), 6).as("ttr"))
  }

  /** Self-trained unigram cross-entropy per document — the CCNet-style
    * LM quality signal: docs whose tokens are IMPROBABLE under the
    * corpus's own unigram distribution (gibberish, wrong-language
    * spans, encoding noise) score high; formulaic boilerplate scores
    * low. For each document: xent = (1/n) Σ_occurrences −ln p(tok),
    * p(tok) = corpus count / corpus total. A real CCNet gate swaps the
    * self-trained table for a reference LM's — the operator shape
    * (train token stats corpus-wide, score per doc) is identical.
    *
    * Parity: each occurrence contributes integer MICRO-NATS
    * (round(1e6·ln(N/c)) — N, c exact integers, so both engines ln the
    * same double), summed exactly, rounded once at the end — the
    * ta_entropy idiom.
    *
    * Scale shape: one token explode feeds BOTH aggregates (per-token
    * corpus counts; per-doc totals join back) — map-side partial
    * aggregation collapses the frequency shuffle to |vocab| rows per
    * partition, and the scoring join shuffles on the token. Hot
    * stopword tokens are exactly the AQE skew-join case (or broadcast
    * the head of the frequency table and shuffle only the tail);
    * corpus total N rides a 1-row broadcast, never a driver collect.
    *
    * Training is batch by contract (the frequency table is a
    * corpus-wide aggregate); the SCORING half streams naturally —
    * join incoming docs against a frozen/periodically-retrained
    * frequency table, the standard deployment of any LM quality
    * gate. */
  def unigramXent(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val occ = df.select(col(idCol).cast("long").as("doc_id"),
      explode(filter(StatelessOps.tokenArray(col(textCol)),
        t => length(t) > 0)).as("tok"))
    // One corpus tokenize per plan BRANCH otherwise (r15, the
    // trainBackoff disease): lazy, the frequency table replays the
    // scan+tokenize in the scoring join AND again under the n_total
    // fold — three passes. Above the [[bigCorpus]] line the VOCAB-sized
    // frequency table is checkpointed once (one tokenize), and the
    // total + scoring join read its blocks — two corpus passes total,
    // only model-sized blocks retained (the trainBackoff discipline).
    // Below the line the fused lazy shape is the measured optimum.
    val freq0 = occ.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val freq = if (bigCorpus(df)) freq0.localCheckpoint() else freq0
    val total = freq.agg(sum(col("c")).as("n_total"))
    occ.join(freq, "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(lit(1000000) * log(col("n_total").cast("double") / col("c")))
          .cast("long").as("surprisal_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("surprisal_micro")).as("sm"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sm") / (col("n_tokens") * lit(1000000.0)), 6).as("xent"))
  }

  /** Self-trained BIGRAM cross-entropy per document — the next LM
    * order up from [[unigramXent]]: fluency, not just vocabulary.
    * Token-salad text (scraper noise, shuffled boilerplate) can score
    * LOW unigram xent (every token common) while its bigram xent is
    * high (the transitions never co-occur); a real CCNet/KenLM gate is
    * an n-gram model for exactly this reason. For each document:
    * xent = (1/m) Σ_bigrams −ln p(tok | prev),
    * p(tok | prev) = c(prev, tok) / c(prev, ·), both counts from the
    * corpus itself (self-trained → every scored bigram was seen, so
    * p ≤ 1 and surprisal ≥ 0; no smoothing term to diverge on).
    *
    * Parity: integer MICRO-NATS per occurrence
    * (round(1e6·ln(cp/cb)) — cp, cb exact integers, both engines ln
    * the same double), summed exactly, rounded once — the unigramXent
    * idiom. Bigrams form over the length-filtered token array, so
    * adjacency is defined on the SAME sequence in both engines.
    *
    * Scale shape: one tokenize pass feeds occurrences; the bigram
    * frequency table map-side-combines to |bigram vocab| rows per
    * partition and the prefix table folds from it (no second corpus
    * scan); scoring joins shuffle on the bigram/prefix keys — hot
    * prefixes ("the …") are the AQE skew-join case. Training is batch
    * by contract; scoring streams against a frozen table (the
    * unigramXent deployment note). */
  def bigramXent(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
        filter(StatelessOps.tokenArray(col(textCol)),
          t => length(t) > 0).as("toks"))
      .filter(size(col("toks")) >= 2)
    val occ = toks.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS prev, toks[i] AS tok))")).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.tok").as("tok"))
    // same gated one-checkpoint shape as [[unigramXent]] (r15): lazy,
    // the bigram table replays the corpus scan+gram-explode in the
    // scoring join and the prefix fold — three passes; checkpointed,
    // the prefix table folds from its blocks and scoring re-grams once.
    val freq0 = occ.groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("cb"))
    val freq = if (bigCorpus(df)) freq0.localCheckpoint() else freq0
    val pf = freq.groupBy(col("prev")).agg(sum(col("cb")).as("cp"))
    occ.join(freq, Seq("prev", "tok")).join(pf, Seq("prev"))
      .select(col("doc_id"),
        round(lit(1000000) * log(col("cp").cast("double") / col("cb")))
          .cast("long").as("sm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("sm")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s") / (col("n_bigrams") * lit(1000000.0)), 6).as("xent"))
  }

  /** The frozen n-gram tables of a stupid-backoff trigram model —
    * what a production LM gate trains once (or imports from a
    * reference corpus) and scores many corpora/streams against. */
  final case class BackoffModel(u1: DataFrame, b2: DataFrame,
                                t3: DataFrame, total: DataFrame)

  private def tokensOf(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
      filter(StatelessOps.tokenArray(col(textCol)),
        t => length(t) > 0).as("toks"))

  /** Per-doc n-gram occurrence stream: one narrow explode of the
    * token array's k-windows (0-based `toks[i-1 .. i+k-2]`). */
  private def grams(src: DataFrame, k: Int, names: Seq[String]): DataFrame =
    src.filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), i -> struct(" +
          names.zipWithIndex.map { case (n, j) =>
            val off = if (j == 0) "i - 1" else if (j == 1) "i" else s"i + ${j - 1}"
            s"toks[$off] AS $n" }.mkString(", ") + "))")).as("g"))
      .select(col("doc_id") +: names.map(n => col(s"g.$n").as(n)): _*)

  /** Train the three n-gram count tables + the corpus total over
    * `df`. Batch by contract (corpus-wide aggregates — the
    * [[tfidfTopTerms]] precedent); the tables are plain frames, so
    * callers may persist them as a written index (the BpeStore
    * discipline) or broadcast them plan-side. */
  /** Input-size estimate gate for the cache-vs-recompute crossover
    * (r14): below the threshold the fused lazy shape wins (redundant
    * small scans overlap across cores and cost less than serialized
    * materialization jobs — MEASURED at sf0.1: unconditional
    * materialization read +26 % on ta_backoff/ta_moorelewis); above
    * it, replaying a corpus tokenize per consuming branch is the
    * dominant cost (the lazy ta_backoff plan carried SEVEN parquet
    * scans + tokenizes of the same table, ta_moorelewis THIRTEEN).
    * The estimate is the optimizer's sizeInBytes on the training
    * frame — free driver-side metadata, far above any fixture and far
    * below any production corpus at the 256 MB line. */
  private val MaterializeTrainBytes = BigInt(256L << 20)

  /** The 256 MB default is the measured sf0.1 crossover; the conf
    * override (`graft.materializeTrainBytes`) exists so deployments
    * can re-calibrate per cluster and so the gate's BOTH sides are
    * unit-testable on fixture-sized data (VERDICT r14 #6). */
  private[graft] def bigCorpus(df: DataFrame): Boolean = {
    val threshold = BigInt(df.sparkSession.conf
      .get("graft.materializeTrainBytes", MaterializeTrainBytes.toString))
    df.queryExecution.optimizedPlan.stats.sizeInBytes > threshold
  }

  def trainBackoff(df: DataFrame, textCol: String, idCol: String): BackoffModel = {
    // ONE tokenize pass + MATERIALIZED model tables on big corpora
    // (r14): left lazy, the three n-gram aggregates AND every
    // scoring-join branch that consumes them replay the corpus
    // tokenize per branch (u1/b2 appear twice each in the backoff
    // join chain and ReuseExchange does not fire across the
    // differently-projected branches). Above the [[bigCorpus]] line:
    // the token frame is checkpointed once, each count table is
    // checkpointed over its blocks (model-sized), and the token
    // blocks are freed before returning — the model frames' blocks
    // live as long as the model (the bm25 perDoc/ContextCleaner
    // discipline). The frozen-store path
    // ([[graft.tools.BackoffStore]]) is unaffected (written tables
    // were always materialized).
    val big = bigCorpus(df)
    def mat(t: DataFrame): DataFrame = if (big) t.localCheckpoint() else t
    Checkpoints.scoped { s =>
      val train0 = tokensOf(df, textCol, idCol)
      val train = if (big) s.checkpoint(train0) else train0
      val u1 = mat(grams(train, 1, Seq("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c1")))
      val b2 = mat(grams(train, 2, Seq("p", "q")).groupBy(col("p"), col("q"))
        .agg(count(lit(1)).as("c2")))
      val t3 = mat(grams(train, 3, Seq("w1", "w2", "w3"))
        .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c3")))
      BackoffModel(u1, b2, t3, u1.agg(sum(col("c1")).as("n_total")))
    }
  }

  /** Score `docs` against a frozen [[BackoffModel]] — the per-doc agg
    * of the four-level surprisal chain (see [[backoffXent]] for the
    * formula and parity rules). STREAMS: every model join is
    * stream-static (the model side is batch by construction), the
    * trigram explode is narrow, and the per-doc aggregate runs under
    * complete/update output mode — the standard frozen-LM-gate
    * deployment, spec-pinned equal to the batch result in
    * TextStreamSpec.
    *
    * `dedupKeys` (batch only; MEASURED OFF by default — the BPE
    * batchK discipline): score each DISTINCT trigram once and attach
    * occurrences with one final join, so the five model joins never
    * touch the corpus-sized stream. Pays ONLY when the corpus's
    * trigram duplication factor is substantial (Zipfian production
    * text); on the high-diversity synthetic corpus the distinct
    * shrinks nothing and the extra occ⋈LUT string join measured
    * ~2× SLOWER at 100k-400k docs (quiet A/B, 2026-08-14) — and its
    * post-distinct exchange is exactly the AQE
    * coalesce-feeding-an-explosive-join hazard the LSH kernels
    * document. Identical values on every path (each occurrence of a
    * trigram scores the same; the fixture spec pins LUT ≡ direct). */
  def scoreBackoff(m: BackoffModel, docs: DataFrame,
                   textCol: String, idCol: String,
                   dedupKeys: Boolean = false): DataFrame = {
    require(!(dedupKeys && docs.isStreaming),
      "dedupKeys scores a distinct-trigram LUT — a streaming distinct " +
        "holds unbounded state; score streams with the direct chain")
    val occ = grams(tokensOf(docs, textCol, idCol), 3, Seq("w1", "w2", "w3"))
    val lut = dedupKeys && !docs.isStreaming
    val keys =
      if (lut) occ.select(col("w1"), col("w2"), col("w3")).distinct()
      else occ
    val sm0 = keys
      .join(m.t3, Seq("w1", "w2", "w3"), "left")
      .join(m.b2.select(col("p").as("w1"), col("q").as("w2"), col("c2").as("c2p")),
        Seq("w1", "w2"), "left")
      .join(m.b2.select(col("p").as("w2"), col("q").as("w3"), col("c2").as("c2b")),
        Seq("w2", "w3"), "left")
      .join(m.u1.select(col("w").as("w2"), col("c1").as("c1p")), Seq("w2"), "left")
      .join(m.u1.select(col("w").as("w3"), col("c1").as("c1b")), Seq("w3"), "left")
      // one-row total via a constant-key equi join (broadcast either
      // way; a cross join would be rejected in stream-static plans)
      .withColumn("__k", lit(1))
      .join(broadcast(m.total.withColumn("__k", lit(1))), Seq("__k"))
      .select((if (lut) Seq.empty else Seq(col("doc_id"))) ++ Seq(
        col("w1"), col("w2"), col("w3"),
        when(col("c3").isNotNull, lit(0)).when(col("c2b").isNotNull, lit(1))
          .when(col("c1b").isNotNull, lit(2)).otherwise(lit(3)).as("lvl"),
        when(col("c3").isNotNull,
            round(lit(1000000) * log(col("c2p").cast("double") / col("c3"))))
          .when(col("c2b").isNotNull,
            round(lit(1000000) * log(lit(2.5) * col("c1p") / col("c2b"))))
          .when(col("c1b").isNotNull,
            round(lit(1000000) * log(lit(6.25) * col("n_total") / col("c1b"))))
          .otherwise(round(lit(1000000) * log(lit(6.25) * col("n_total"))))
          .cast("long").as("sm")): _*)
    val sm =
      if (lut) occ.join(sm0, Seq("w1", "w2", "w3"))
        .select(col("doc_id"), col("lvl"), col("sm"))
      else sm0.select(col("doc_id"), col("lvl"), col("sm"))
    sm.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_bi"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_uni"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_oov"),
        sum(col("sm")).as("s"))
      .select(col("doc_id"), col("n_trigrams"), col("n_tri"), col("n_bi"),
        col("n_uni"), col("n_oov"),
        round(col("s") / (col("n_trigrams") * lit(1000000.0)), 6).as("xent"))
  }

  /** Moore-Lewis cross-entropy-difference data selection (Moore &
    * Lewis, "Intelligent Selection of Language Model Training Data",
    * ACL 2010) — the standard importance-weighting gate of a
    * training-data pipeline: score every candidate document under an
    * IN-DOMAIN LM and a GENERAL LM and keep the ones the in-domain
    * model finds easier (negative surprisal difference). Both models
    * are frozen [[BackoffModel]]s, so this composes the written-store
    * discipline: train each once ([[graft.tools.BackoffStore]] under a
    * split-suffixed fingerprint), select for months.
    *
    * Exactness: per-trigram surprisals are the same identically-
    * rounded integer micro-nats as [[scoreBackoff]]; per-doc totals
    * and their difference are exact integer sums — `selected` is a
    * deterministic integer comparison, never an fp threshold.
    *
    * Scale shape: ONE narrow trigram explode of the candidate corpus,
    * both models' four-level left-join chains on that single stream
    * (model tables are vocabulary-bounded; totals one-row broadcasts),
    * ONE per-doc aggregate — the whole selector is one doc_id
    * exchange, not two scoring passes joined after the fact. */
  def mooreLewis(inModel: BackoffModel, genModel: BackoffModel,
                 docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val occ = grams(tokensOf(docs, textCol, idCol), 3, Seq("w1", "w2", "w3"))
    def withChain(df: DataFrame, m: BackoffModel, tag: String): DataFrame =
      df.join(m.t3.select(col("w1"), col("w2"), col("w3"),
          col("c3").as(s"c3_$tag")), Seq("w1", "w2", "w3"), "left")
        .join(m.b2.select(col("p").as("w1"), col("q").as("w2"),
          col("c2").as(s"c2p_$tag")), Seq("w1", "w2"), "left")
        .join(m.b2.select(col("p").as("w2"), col("q").as("w3"),
          col("c2").as(s"c2b_$tag")), Seq("w2", "w3"), "left")
        .join(m.u1.select(col("w").as("w2"), col("c1").as(s"c1p_$tag")),
          Seq("w2"), "left")
        .join(m.u1.select(col("w").as("w3"), col("c1").as(s"c1b_$tag")),
          Seq("w3"), "left")
        .withColumn("__k", lit(1))
        .join(broadcast(m.total.select(col("n_total").as(s"nt_$tag"))
          .withColumn("__k", lit(1))), Seq("__k"))
        .drop("__k")
    def sm(tag: String) =
      when(col(s"c3_$tag").isNotNull,
          round(lit(1000000) * log(col(s"c2p_$tag").cast("double") / col(s"c3_$tag"))))
        .when(col(s"c2b_$tag").isNotNull,
          round(lit(1000000) * log(lit(2.5) * col(s"c1p_$tag") / col(s"c2b_$tag"))))
        .when(col(s"c1b_$tag").isNotNull,
          round(lit(1000000) * log(lit(6.25) * col(s"nt_$tag") / col(s"c1b_$tag"))))
        .otherwise(round(lit(1000000) * log(lit(6.25) * col(s"nt_$tag"))))
        .cast("long")
    withChain(withChain(occ, inModel, "i"), genModel, "g")
      .select(col("doc_id"), sm("i").as("sm_i"), sm("g").as("sm_g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(col("sm_i")).as("s_in"), sum(col("sm_g")).as("s_gen"))
      .select(col("doc_id"), col("n_trigrams"), col("s_in"), col("s_gen"),
        (col("s_in") - col("s_gen")).as("ml_delta"),
        when(col("s_in") < col("s_gen"), 1L).otherwise(0L).as("selected"))
  }

  /** Held-out stupid-backoff trigram scoring (Brants et al. 2007,
    * "Large Language Models in Machine Translation") — the LM order
    * above [[bigramXent]], and the first of the family where the
    * MODEL split and the SCORED split differ: the model trains on
    * even-doc_id documents ([[trainBackoff]]) and scores the odd ones
    * ([[scoreBackoff]]), so unseen n-grams actually occur and the
    * backoff chain genuinely fires (a self-trained model never backs
    * off — every scored n-gram was seen). This is the real CCNet
    * deployment shape: a frozen n-gram model scores incoming
    * documents; swap the even-split tables for a reference corpus's
    * and the operator is unchanged.
    *
    * Score per trigram (w1,w2,w3), α = 0.4:
    *   S = c3(w1w2w3)/c2(w1w2)        if the trigram was seen
    *     | α · c2(w2w3)/c1(w2)        else if the (w2,w3) bigram was
    *     | α² · c1(w3)/N              else if w3 was seen
    *     | α² · 1/N                   else (out-of-vocabulary floor)
    * surprisal = −ln S, reported per doc as the mean (xent) plus the
    * per-level hit counts (n_tri/n_bi/n_uni/n_oov — the witnesses
    * that the backoff chain, not just the top level, is exercised).
    *
    * Parity: integer MICRO-NATS per trigram. Each −ln S is the ln of
    * ONE double computed identically in both engines — ln(c2p/c3),
    * ln(2.5·c1p/c2b), ln(6.25·N/c1b), ln(6.25·N) — products of exact
    * integers with the exact constants 2.5/6.25 in the same
    * association order, so the doubles are bit-equal; round(1e6·x)
    * sums exactly and rounds once at the end (the unigramXent idiom).
    * Chain invariants make the case analysis total: a seen trigram's
    * prefix bigram was seen (c2p join hit guaranteed), a seen bigram's
    * first token was seen (c1p hit guaranteed).
    *
    * Scale shape: the model is three map-side-combinable n-gram
    * aggregates over the train split (each collapses to |vocab|-sized
    * tables); scoring is the trigram stream left-joined against them
    * on n-gram keys — hot prefixes are the AQE skew-join case, and a
    * production model's head rows are the broadcast candidates. N
    * rides a one-row broadcast. For corpora with substantial trigram
    * duplication, [[scoreBackoff]]'s `dedupKeys` scores a
    * distinct-trigram LUT instead (measured OFF by default — see its
    * scaladoc). Training is batch by contract; the scoring half
    * streams against the frozen tables (spec-pinned in
    * TextStreamSpec). */
  def backoffXent(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val ids = df.select(col(idCol).cast("long").as("__id"), col("*"))
    scoreBackoff(
      trainBackoff(ids.filter(col("__id") % 2 === 0), textCol, idCol),
      ids.filter(col("__id") % 2 === 1), textCol, idCol)
  }

  /** PII detection + redaction — the scrubbing gate every shared
    * training corpus passes before release. Three detector classes
    * (email, NANP-style 555 phone, dotted-quad IPv4) are counted and
    * then redacted IN ORDER (email → phone → IP, so an earlier
    * replacement can never manufacture or destroy a later match —
    * the order is part of the contract and the oracle mirrors it).
    * Pure narrow per-row regex work over codegen'd string
    * expressions: no shuffle, no UDF, linear in corpus bytes at any
    * scale. Patterns are RE2-compatible (no backtracking
    * constructs), so the Java-regex engine and the DuckDB oracle's
    * RE2 match identical spans — and redaction cost is bounded by
    * input length, never pathological. Returns one row per input
    * row: detector counts, the redacted length, and an md5
    * fingerprint of the redacted text (the receipt that both
    * engines produced byte-identical scrubbed output). */
  def redactPii(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val email = "[a-z0-9._-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phone = "\\b555-[0-9]{4}\\b"
    val ip = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
    df.select(col(idCol).as("doc_id"), col(textCol).as("t"))
      .select(col("doc_id"),
        regexp_count(col("t"), lit(email)).cast("long").as("n_emails"),
        regexp_count(col("t"), lit(phone)).cast("long").as("n_phones"),
        regexp_count(col("t"), lit(ip)).cast("long").as("n_ips"),
        regexp_replace(regexp_replace(regexp_replace(col("t"),
          email, "<EMAIL>"), phone, "<PHONE>"), ip, "<IP>").as("red"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        length(col("red")).cast("long").as("red_len"),
        md5(col("red")).as("red_fp"))
  }

  /** URL extraction + domain histogram — the provenance/robots-audit
    * step of web-corpus curation (which hosts feed the corpus, and how
    * heavily). Per domain: distinct referencing documents and total
    * URL mentions. The extract is a narrow per-row regexp; the
    * histogram is a hash aggregate on the (small) domain key with
    * map-side partials — nothing document-sized shuffles. */
  def urlDomains(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(expr(s"regexp_extract_all($textCol, 'https?://[^ ]+', 0)")).as("url"))
      .select(col("doc_id"), regexp_extract(col("url"), "https?://([^/ ]+)", 1).as("domain"))
      .groupBy(col("domain"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_urls"))

  /** Order-insensitive document fingerprint: modular sum of
    * md5-derived token hashes — a content-addressed id for cheap
    * near-exact duplicate detection; identical arithmetic in the
    * DuckDB oracle. */
  def fingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // modular integer sum is order-independent, so the whole
    // fingerprint is ONE per-row array fold — no token explode, no
    // doc_id shuffle (the r3 form grouped exploded tokens; the values
    // are identical, the Exchange is gone). Empty-token docs drop,
    // matching the explode form's row semantics.
    val toks = filter(StatelessOps.tokenArray(col(textCol)), t => length(t) > 0)
    df.select(col(idCol).as("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        (aggregate(transform(col("toks"), t => Hashing.md5Mod31(t)),
          lit(0L), (s, v) => s + v) % lit(2147483647L)).as("fingerprint"),
        size(col("toks")).cast("long").as("n_tokens"))
  }

  /** Sliding-window token chunking — the RAG/pretraining segmentation
    * step: overlapping windows of `chunkSize` tokens starting every
    * `stride` tokens (stride < chunkSize ⇒ overlap, so no boundary
    * context is lost). One row per chunk with exact integer/string
    * witnesses (start, width, first/last token); a narrow explode of
    * a per-row sequence — no shuffle at any corpus scale, and the
    * output carries no chunk text (downstream re-slices by position,
    * so chunking never duplicates the corpus ~chunkSize/stride×). */
  def chunk(df: DataFrame, textCol: String, idCol: String,
            chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(stride > 0 && chunkSize >= stride,
      "chunkSize >= stride > 0 (stride > chunkSize would skip tokens)")
    val toks = filter(StatelessOps.tokenArray(col(textCol)), t => length(t) > 0)
    df.select(col(idCol).cast("long").as("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), expr(s"(size(toks) - 1) div $stride")))
          .as(Seq("chunk_idx", "_s")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        (col("chunk_idx") * stride).cast("long").as("start_pos"),
        least(lit(chunkSize), size(col("toks")) - col("chunk_idx") * stride)
          .cast("long").as("n_toks"),
        element_at(col("toks"), col("chunk_idx") * stride + 1).as("first_tok"),
        element_at(col("toks"), col("chunk_idx") * stride +
          least(lit(chunkSize), size(col("toks")) - col("chunk_idx") * stride))
          .as("last_tok"))
  }

  /** Per-document distinctive terms by tf·idf: tf = in-doc term count,
    * df = documents containing the term, score = tf · ln(N/df) rounded
    * to 6 (the rounding is the cross-engine ranking contract — both
    * engines rank the same rounded value with a token tiebreak, so fp
    * ties cannot diverge). Plan shape: ONE corpus explode feeds the
    * (doc, tok) tf aggregate; df is a COUNT WINDOW over tf partitioned
    * by the token (one row per (doc, tok) ⇒ the partition size IS the
    * document frequency) — no join and no second corpus scan (a
    * two-branch tf⋈df join re-explodes the corpus for df: the pruned
    * branches differ in schema, so ReuseExchange cannot unify them).
    * Every post-explode exchange moves only aggregated (doc, tok)
    * rows; both windows are key-parallel (token / doc_id partitions),
    * never a global sort. N is a literal (count pushed to parquet
    * metadata).
    *
    * BATCH-ONLY by contract (the [[PrefixSum.globalRunningSum]]
    * precedent): idf needs the CORPUS-WIDE document frequency and
    * total N — on an unbounded stream both are moving targets, so any
    * incremental emission would score early documents against a
    * partial df and never retract. Periodic re-runs over the
    * accumulated corpus are the streaming-era answer, not a
    * continuous query. */
  def tfidfTopTerms(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = df.count() // metadata count on a bare scan
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
        StatelessOps.explodeTokens(col(textCol)).as("tok"))
      .filter(length(col("tok")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .withColumn("score",
        round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("tok"), col("tf"), col("df"),
        col("score"))
  }

  /** Feature hashing — the "hashing trick" (Weinberger et al., ICML
    * 2009): every token maps to one of `dim` buckets by hash, with a
    * ±1 sign drawn from an INDEPENDENT bit range of the same hash so
    * collisions cancel in expectation instead of biasing upward; a
    * document's feature vector is the signed count per bucket. The
    * vocabulary-free featurizer: no dictionary to build, broadcast,
    * or keep consistent across a growing corpus — the fixed-width
    * twin of [[tfidfTopTerms]]' open-vocabulary scores, and the
    * classic input to linear classifiers at corpus scale.
    *
    * Sparse output (doc_id, idx, w), zero-weight cells dropped.
    * Scale shape: one tokenize pass, ONE map-side-combinable
    * aggregate, output bounded by docs × dim. All-integer (60-bit
    * md5 hash, integer signed sums) — hash-exact across engines. */
  def hashedFeatures(df: DataFrame, textCol: String, idCol: String,
                     dim: Int = 256): DataFrame = {
    require(dim >= 2, s"hashedFeatures: dim must be >= 2, got $dim")
    df.select(col(idCol).cast("long").as("doc_id"),
        StatelessOps.explodeTokens(col(textCol)).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), Hashing.md5Long(col("tok")).as("h"))
      // the 60-bit hash is non-negative, so % / div agree with the
      // oracle's % / // on the same operands; the sign bit comes from
      // h div dim — disjoint from the idx bits for power-of-two dims
      .select(col("doc_id"), (col("h") % dim).as("idx"),
        when(expr(s"(h div $dim) % 2") === 0, 1L).otherwise(-1L)
          .as("sgn"))
      .groupBy(col("doc_id"), col("idx"))
      .agg(sum(col("sgn")).as("w"))
      .filter(col("w") =!= 0L)
  }

  /** Okapi BM25 ranked retrieval (Robertson & Walker, SIGIR 1994):
    * the top-`topK` documents scoring a fixed literal query term set,
    *
    *   score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
    *   idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))   (always > 0)
    *
    * Scale shape: ONE tokenize pass — a single map-side-combinable
    * aggregate computes every doc's length AND its per-query-term
    * term frequencies as conditional sums (the query is a literal
    * list, so tf columns are fixed-width, no per-term join), then a
    * ONE-ROW corpus-stats aggregate (N, Σdl, per-term df) broadcasts
    * back over the per-doc frame and the emit is a
    * TakeOrderedAndProject. The corpus never joins itself and never
    * shuffles twice.
    *
    * Cross-engine exactness (the ta_entropy discipline): each term's
    * contribution is computed from INTEGER operands (tf, df, N, dl,
    * Σdl) through one identical IEEE expression tree, rounded to
    * integer MICRO-units per term, and the per-doc score is the exact
    * integer SUM of those — no order-dependent double accumulation
    * ever crosses engines. Ranking is (score desc, doc_id), total. */
  def bm25Rank(df: DataFrame, textCol: String, idCol: String,
               queryTerms: Seq[String], topK: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "bm25Rank: query terms must be non-empty and distinct")
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
        StatelessOps.explodeTokens(col(textCol)).as("tok"))
      .filter(length(col("tok")) > 0)
    val tfAggs = count(lit(1)).as("dl") +:
      queryTerms.zipWithIndex.map { case (t, i) =>
        sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"tf$i")
      }
    // materialized ONCE: perDoc feeds BOTH the corpus-stats aggregate
    // and the scoring pass — left lazy, the corpus tokenize + shuffle
    // aggregate would run twice (the gClustering lesson). The
    // checkpoint is |docs| fixed-width rows; it backs the RETURNED
    // lazy frame, so its blocks are reclaimed by the ContextCleaner
    // when the caller drops the result (an explicit unpersist here
    // would have to checkpoint the output instead, hiding the
    // broadcast/top-k plan the PlanAudit gate pins)
    val perDoc = toks.groupBy(col("doc_id")).agg(tfAggs.head, tfAggs.tail: _*)
      .localCheckpoint()
    val statAggs = Seq(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("total_dl")) ++
      queryTerms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("total_dl").cast("double") / col("n_docs")
    def termMicro(i: Int) = {
      val tf = col(s"tf$i")
      val dfc = col(s"df$i")
      val idf = log(lit(1.0) +
        ((col("n_docs") - dfc).cast("double") + lit(0.5)) /
          (dfc.cast("double") + lit(0.5)))
      val tfp = (tf.cast("double") * lit(k1 + 1.0)) /
        (tf.cast("double") + lit(k1) *
          (lit(1.0 - b) + lit(b) * (col("dl") / avgdl)))
      when(tf > 0, round(lit(1000000) * (idf * tfp)).cast("long"))
        .otherwise(lit(0L))
    }
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        queryTerms.indices.map(termMicro).reduce(_ + _).as("score_micro"))
      .filter(col("score_micro") > 0L)
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(topK)
      // rank over the already-cut topK rows — a bounded single
      // partition, not a corpus-wide global window
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_micro").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rk"), col("score_micro"))
  }

  /** Winnowing fingerprint (the MOSS scheme, Schleimer et al. 2003):
    * hash every k-gram of the raw text, take the window-min over each
    * sliding window of w grams, keep the DISTINCT minima per doc. The
    * retained contract is the distinct min-hash SET (not the
    * positions) — set semantics make the result independent of the
    * tie-breaking order inside a window, which is what keeps the
    * DuckDB twin byte-exact. Emits the set's size and modular sum as
    * the stable summary.
    *
    * The whole computation is ONE native expression per document
    * ([[graft.functions.WinnowSummary]]): a document's grams never
    * become rows and never shuffle — the former explode + window +
    * distinct + aggregate plan shuffled AND sorted every gram of the
    * corpus (at 100 TB that gram stream is ~the corpus itself) and
    * paid ~90 µs/gram in md5→hex→conv expressions. Docs with no full
    * window (< k+w-1 chars) yield null and are filtered, matching the
    * zero-group behavior of the former plan and the oracle. */
  /** PMI collocation mining (Church & Hanks 1990) — the top-`topK`
    * adjacent token pairs by pointwise mutual information,
    * PMI(p,q) = ln(N·c2(p,q) / (c1(p)·c1(q))), over pairs seen at
    * least `minCount` times (the classic low-count PMI inflation
    * guard). Output (p, q, c2, c1p, c1q, pmi_micro) with pmi_micro
    * the EXACT integer micro-nat score: both products are exact
    * integers (≪ 2⁵³ at any plausible corpus), so the ln argument is
    * ONE identically-associated double in both engines and the
    * (pmi_micro desc, p, q) order is total — the top-K boundary
    * cannot diverge.
    *
    * Scale shape: one narrow bigram explode into a map-side-combinable
    * (p, q) count (vocab²-bounded output, minCount-pruned before any
    * join), two vocab-bounded unigram joins (AQE broadcasts them at
    * production head sizes), N on a one-row broadcast, and a
    * TakeOrderedAndProject top-K — never a corpus-wide sort. */
  def collocations(df: DataFrame, textCol: String, idCol: String,
                   minCount: Int = 5, topK: Int = 50): DataFrame = {
    val src = tokensOf(df, textCol, idCol)
    // gated one-checkpoint shape (r15, see [[unigramXent]]): lazy, the
    // unigram table replays the corpus tokenize FOUR times (p-join,
    // q-join, total fold, plus the bigram branch); checkpointed, the
    // three unigram consumers read vocab-sized blocks and only the
    // bigram branch re-tokenizes.
    val uni0 = grams(src, 1, Seq("w")).groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val uni = if (bigCorpus(df)) uni0.localCheckpoint() else uni0
    val tot = uni.agg(sum(col("c1")).as("n_total"))
    val bi = grams(src, 2, Seq("p", "q")).groupBy(col("p"), col("q"))
      .agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
    bi.join(uni.select(col("w").as("p"), col("c1").as("c1p")), Seq("p"))
      .join(uni.select(col("w").as("q"), col("c1").as("c1q")), Seq("q"))
      .withColumn("__k", lit(1))
      .join(broadcast(tot.withColumn("__k", lit(1))), Seq("__k"))
      .select(col("p"), col("q"), col("c2"), col("c1p"), col("c1q"),
        round(lit(1000000) * log(
          (col("n_total") * col("c2")).cast("double")
            / (col("c1p") * col("c1q")))).cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("p"), col("q"))
      .limit(topK)
  }

  // -------------------------------------------------------- naive bayes

  /** A trained multinomial Naive Bayes text classifier — the learned
    * counterpart of the [[langId]] heuristic and the classifier-gate
    * shape of CCNet/GPT-3-style corpus filtering (a small supervised
    * model scores every incoming document; fastText's role in those
    * pipelines). `labels` is the class list sorted ascending;
    * `priorMicro(i)` = round(1e6·ln(n/n_i)) (prior surprisal of class
    * i, exact-integer ratio); `defaultMicro(i)` = round(1e6·ln(tc_i+V))
    * (the add-one-smoothed surprisal of a token never seen in
    * training, c=0); `condWide` is the model table proper: one row per
    * vocabulary token with `sArr(i)` = round(1e6·ln((tc_i+V)/(c_{w,i}+1)))
    * — vocabulary-BOUNDED, so it broadcasts at any corpus scale. */
  final case class NbModel(labels: Seq[String], priorMicro: Seq[Long],
                           defaultMicro: Seq[Long], condWide: DataFrame)

  /** Spark's round() on a double routes through the decimal string
    * (java.math.BigDecimal.valueOf semantics, HALF_UP) — mirror it
    * exactly for the driver-held model constants so they land on the
    * same micro-nat integers as the engine-side round(1e6·log(..)). */
  private def microLn(x: Double): Long =
    BigDecimal(1000000.0 * math.log(x))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Train a multinomial NB model on `df` (add-one smoothing). Batch
    * by contract — training is three model-sized aggregates (per-class
    * doc counts, per-class token totals, vocabulary size) plus the
    * (token, class) count table that stays distributed as `condWide`.
    * Like [[graft.operators.Similarity.kmeansTrain]], the bounded
    * per-class statistics are collected eagerly (|C| rows + 1 scalar);
    * the vocabulary-sized table never touches the driver. Labels must
    * be non-null. */
  def trainNaiveBayes(df: DataFrame, textCol: String, labelCol: String,
                      idCol: String): NbModel = Checkpoints.scoped { s =>
    // ONE tokenize pass (r14, the trainBackoff finding): the two
    // bounded collects, the vocabulary count and the model-table
    // broadcast each re-ran the corpus tokenize from scratch — four
    // passes per training call. The token frame is checkpointed once
    // (occ is a narrow explode over its blocks), the model table below
    // is checkpointed too, and the token blocks are freed before
    // returning.
    val train = s.checkpoint(df.select(col(labelCol).as("__lab"),
        filter(StatelessOps.tokenArray(col(textCol)), t => length(t) > 0).as("__toks")))
    val occ = train.select(col("__lab"), explode(col("__toks")).as("w"))
    // bounded eager collects: per-class doc counts / token totals + V
    val nd = train.groupBy(col("__lab")).agg(count(lit(1)).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tc = occ.groupBy(col("__lab")).agg(count(lit(1)).as("tc"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val v = occ.select(col("w")).distinct().count()
    val labels = nd.keySet.toSeq.sorted
    require(labels.nonEmpty, "trainNaiveBayes: empty training split")
    require(v > 0, "trainNaiveBayes: empty training vocabulary " +
      "(add-one smoothing is undefined with V = 0)")
    val n = nd.values.sum
    // classes with docs but zero tokens still smooth over (tc=0)+V
    val prior = labels.map(l => microLn(n.toDouble / nd(l)))
    val dflt = labels.map(l => microLn((tc.getOrElse(l, 0L) + v).toDouble))
    // the model table: per-token per-class smoothed surprisal, rounded
    // ENGINE-SIDE (round(1e6·log(..)) — the ta_backoff parity idiom)
    val pivots = labels.map(l =>
      sum(when(col("__lab") === lit(l), col("c"))).as(s"c_$l"))
    val wide = occ.groupBy(col("w"), col("__lab")).agg(count(lit(1)).as("c"))
      .groupBy(col("w"))
      .agg(pivots.head, pivots.tail: _*)
    val sArr = array(labels.map { l =>
      round(lit(1000000) * log(
        lit(tc.getOrElse(l, 0L) + v).cast("double")
          / (coalesce(col(s"c_$l"), lit(0L)) + lit(1L)))).cast("long")
    }: _*)
    NbModel(labels, prior, dflt, wide.select(col("w"), sArr.as("sArr")).localCheckpoint())
  }

  /** Score `docs` against a frozen [[NbModel]]: per document, the
    * per-class score is prior surprisal + Σ over token occurrences of
    * the class's smoothed token surprisal; the prediction is the
    * argmin (ties → lexicographically smallest class). Output:
    * (doc_id, actual, pred, agree, n_toks, s_micro) with s_micro the
    * winning class's EXACT integer micro-nat total.
    *
    * Plan shape — ONE shuffle end-to-end: a narrow token explode
    * (with a per-doc sentinel row so zero-token documents score on
    * priors alone), a broadcast join against the vocabulary-bounded
    * model table, and a single per-doc aggregate computing all |C|
    * class sums map-side-combinably; the argmin is a bounded
    * array_min over struct literals, not a second shuffle. STREAMS:
    * the model join is stream-static, the explode narrow, the per-doc
    * agg runs under complete/update mode (TextStreamSpec pins
    * stream ≡ batch). */
  def scoreNaiveBayes(m: NbModel, docs: DataFrame, textCol: String,
                      labelCol: String, idCol: String): DataFrame = {
    val k = m.labels.size
    val zeroArr = array((0 until k).map(_ => lit(0L)): _*)
    val defArr = array(m.defaultMicro.map(lit): _*)
    val rows = docs.select(col(idCol).cast("long").as("doc_id"),
        col(labelCol).as("actual"),
        explode(concat(array(lit(null).cast("string")),
          filter(StatelessOps.tokenArray(col(textCol)), t => length(t) > 0))).as("w"))
      .join(broadcast(m.condWide), Seq("w"), "left")
      .select(col("doc_id"), col("actual"),
        col("w"),
        when(col("w").isNull, zeroArr)
          .otherwise(coalesce(col("sArr"), defArr)).as("__sa"))
    val sums = (0 until k).map(i => sum(element_at(col("__sa"), i + 1)).as(s"__s$i"))
    // `actual` rides as a grouping key (functionally dependent on
    // doc_id): a max(string) aggregate would force the whole exploded
    // token stream through SortAggregate; with primitive-only buffers
    // (count + |C| longs) the per-doc agg stays hash-based and
    // map-side-combinable
    val perDoc = rows.groupBy(col("doc_id"), col("actual"))
      .agg(count(col("w")).as("n_toks"), sums: _*)
    val best = array_min(array((0 until k).map(i =>
      struct((col(s"__s$i") + lit(m.priorMicro(i))).as("s"),
        lit(m.labels(i)).as("lab"))): _*))
    perDoc.select(col("doc_id"), col("actual"), best.as("__b"), col("n_toks"))
      .select(col("doc_id"), col("actual"), col("__b.lab").as("pred"),
        (col("__b.lab") === col("actual")).cast("long").as("agree"),
        col("n_toks"), col("__b.s").as("s_micro"))
  }

  /** Held-out NB classification: train on even-doc_id documents,
    * classify the odd ones ([[trainNaiveBayes]] → [[scoreNaiveBayes]]
    * — the ta_backoff split discipline, so out-of-vocabulary tokens
    * genuinely occur and the smoothing floor fires). The `agree`
    * column is the honest accuracy witness (on a corpus whose classes
    * share one vocabulary it hovers near the prior — the operator
    * contract, not the fixture's separability, is what's pinned). */
  def nbClassify(df: DataFrame, textCol: String, labelCol: String,
                 idCol: String): DataFrame = {
    val ids = df.select(col(idCol).cast("long").as("__id"), col("*"))
    scoreNaiveBayes(
      trainNaiveBayes(ids.filter(col("__id") % 2 === 0), textCol, labelCol, idCol),
      ids.filter(col("__id") % 2 === 1), textCol, labelCol, idCol)
  }

  def winnowFingerprint(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 4, w: Int = 8): DataFrame = {
    // spread before the winnow kernel (see [[Spread]])
    Spread.narrow(df.select(col(idCol).as("doc_id"), col(textCol).as("__t")))
      .select(col("doc_id"),
        graft.functions.WinnowSummary.winnowSummary(col("__t"), k, w).as("__ws"))
      .filter(col("__ws").isNotNull)
      .select(col("doc_id"), col("__ws.n_fingerprints").as("n_fingerprints"),
        col("__ws.fp_sum").as("fp_sum"))
  }
}
