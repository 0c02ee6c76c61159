package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry
import graft.streaming.SparkSpec

/** Plan-regression gates: the load-bearing plan properties from the
  * COVERAGE.md audits, encoded so a future change that silently drops
  * a pushdown, broadcast, or scan-level runtime filter FAILS here
  * instead of surfacing as a 100× regression on a cluster
  * (VERDICT r3 #7). Runs at sf0.001 — plan shapes, not timings.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q6/q1: filters are pushed to the parquet scan, schema is pruned") {
    val p6 = plan("q6_revenue")
    assert(p6.contains("PushedFilters: ["), "q6 scan lost its pushed filters")
    assert(!p6.contains("PushedFilters: []"), "q6 pushed-filter list is empty")
    // projection pruning: the 16-column lineitem scan must read only
    // the query's columns, never l_comment
    assert(!p6.contains("l_comment"), "q6 reads l_comment — column pruning lost")
    val p1 = plan("q1_pricing_summary")
    assert(p1.contains("PushedFilters: [") && !p1.contains("PushedFilters: []"),
      "q1 scan lost its pushed filter")
  }

  test("j_bloom_semi: bloom runtime filter sheds rows before the join exchange") {
    val p = plan("j_bloom_semi")
    assert(p.contains("bloom_contains"),
      "bloom_contains no longer evaluated on the fact side before the semi join")
    assert(p.contains("LeftSemi"), "exact semi join (FP removal) disappeared")
  }

  test("ta_vocab / ta_token_ids: top-k vocab, broadcast mapping, never sort-merge") {
    // ta_vocab has no join at all: the ranked vocab is a TakeOrdered
    // top-k over one partial-agg pass
    val pv = plan("ta_vocab")
    assert(pv.contains("TakeOrderedAndProject"), "ta_vocab lost its top-k plan")
    assert(!pv.contains("SortMergeJoin") && !pv.contains("BroadcastHashJoin"),
      "ta_vocab grew a join")
    // ta_token_ids maps the corpus through the BROADCAST vocab
    val pt = plan("ta_token_ids")
    assert(pt.contains("BroadcastHashJoin"), "ta_token_ids lost its broadcast join")
    assert(!pt.contains("SortMergeJoin"),
      "ta_token_ids plans a SortMergeJoin — the corpus side would shuffle")
  }

  test("dd_contaminated: eval shingles broadcast so the train corpus never shuffles") {
    val p = plan("dd_contaminated")
    assert(p.contains("BroadcastHashJoin"), "eval-side broadcast lost")
    assert(!p.contains("SortMergeJoin"), "train corpus would shuffle for the probe")
  }

  test("brute-force ANN is the only cartesian in the scale-sensitive catalog") {
    def hasCartesian(p: String): Boolean =
      p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
    assert(hasCartesian(plan("ann_brute_force")),
      "brute-force baseline should be the deliberate broadcast cross join")
    // the scale path queries must never degrade to a cross product
    Seq("ann_bucketed", "dd_jaccard", "dd_minhash_lsh", "dd_simhash_pairs",
      "dd_embed_cosine", "j_band", "j_interval", "j_asof").foreach { q =>
      assert(!hasCartesian(plan(q)), s"$q plans a cartesian/BNL join")
    }
  }

  test("narrow queries stay shuffle-free: no Exchange in the plan") {
    // per-row projection queries must never grow a shuffle — their
    // zero-shuffle property IS the scale claim. (ta_winnow is exempt:
    // its ONE Exchange is the deliberate guarded spread for
    // single-row-group fixture scans, a no-op branch at scan scale.)
    // ds_mixture's per-source counts run at CONSTRUCTION (bounded agg
    // to the driver); the returned sampling pass itself must stay a
    // narrow filter. ta_chunks' explode is per-row.
    Seq("emb_quantize", "ta_repetition", "ds_sample_hash", "ds_split_assign",
      "ta_langid", "ta_quality", "ta_fingerprint", "ds_mixture",
      "ta_chunks", "ta_entropy", "ta_pii").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q grew a shuffle Exchange")
    }
  }

  test("scan spreads: each spreading query keeps its round-robin exchange count") {
    // Spread.narrow's exchanges per query at sf0.001, with one mm_*
    // query per Multimodal payload function. pipe_pretrain spreads
    // inside the prefix sum it runs while the query is built, so its
    // returned plan carries none.
    Seq("j_band" -> 1, "pipe_pretrain" -> 0, "ta_winnow" -> 1,
      "dd_contaminated" -> 2, "dd_containment" -> 1,
      "mm_decode_meta" -> 1, "mm_frames" -> 1, "mm_phash" -> 1,
      "mm_audio_meta" -> 1).foreach { case (q, n) =>
      assert("RoundRobinPartitioning".r.findAllIn(plan(q)).size == n,
        s"$q wants $n round-robin exchanges")
    }
  }

  test("emb_pq: encode is one narrow pass — no shuffle, no join at all") {
    val p = plan("emb_pq")
    // the codebook is a driver-held literal inside the argmin
    // expression, so the encode plan must be scan → project only
    assert(!p.contains("Exchange"), "emb_pq encode grew a shuffle/broadcast Exchange")
    assert(!p.contains("Join"), "emb_pq encode grew a join against the codebook")
  }

  test("ann_pq: every LUT join broadcasts; the encoded corpus never sort-merges") {
    val p = plan("ann_pq")
    assert(p.contains("BroadcastHashJoin"), "ann_pq LUT joins lost their broadcast")
    assert(!p.contains("SortMergeJoin"),
      "ann_pq shuffles the encoded corpus to meet a query LUT")
  }

  test("ann_ivfpq: probe-list join and every LUT join broadcast; no shuffle of the code table") {
    val p = plan("ann_ivfpq")
    // the serving contract: the checkpointed code table is pruned by a
    // BROADCAST probe-list join and ranked through BROADCAST LUT joins
    // — if any of them degrade to SortMergeJoin the corpus-sized code
    // table shuffles per query batch
    assert(p.contains("BroadcastHashJoin"), "ann_ivfpq lost its broadcast joins")
    assert(!p.contains("SortMergeJoin"),
      "ann_ivfpq shuffles the code table to meet the probe list or a LUT")
    assert(!p.contains("CartesianProduct"),
      "ann_ivfpq degraded to a cartesian join")
  }

  test("ann_ivfpq_rerank: shortlist fetch broadcasts — the corpus never shuffles") {
    // the refine stage joins the |queries|x50 ADC shortlist back to the
    // float corpus: the shortlist must BROADCAST into the fetch join
    // (an SMJ would shuffle the corpus per query batch) and the final
    // exact rank must stay the bounded TopKPairs aggregate
    val p = plan("ann_ivfpq_rerank")
    assert(p.contains("BroadcastHashJoin"), "ann_ivfpq_rerank lost its broadcast joins")
    assert(!p.contains("SortMergeJoin"),
      "ann_ivfpq_rerank shuffles the corpus to meet the shortlist")
    assert(!p.contains("CartesianProduct"),
      "ann_ivfpq_rerank degraded to a cartesian join")
    assert("""ObjectHashAggregate""".r.findAllIn(p).size >= 2,
      "ann_ivfpq_rerank lost its partial (map-side) top-k combine")
  }

  test("dd_crossdoc: ONE corpus scan, hashed-gram keys, key-parallel window") {
    val p = plan("dd_crossdoc")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "dd_crossdoc plans a cartesian/BNL join")
    // doc frequency is a count window over the distinct (doc, gram-hash)
    // stream — the corpus must scan and explode exactly ONCE (a df join
    // branch would re-explode it, the ta_tfidf lesson)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      "dd_crossdoc scans the corpus more than once — df regressed to a join branch")
    // the wide exchanges must carry the 60-bit gram hash, never gram text
    assert(p.contains("md5_long60"),
      "gram hashing left the explode — the shuffle would carry gram strings")
  }

  test("ta_tfidf: ONE corpus scan, key-parallel windows, no cartesian") {
    val p = plan("ta_tfidf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "ta_tfidf plans a cartesian/BNL join")
    // df comes from a count window over the tf aggregate — the corpus
    // must be scanned and exploded exactly ONCE (the tf⋈df join form
    // re-explodes it: pruned branches defeat ReuseExchange)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      "ta_tfidf scans the corpus more than once — df regressed to a join branch")
    // both windows must stay PARTITIONED (tok / doc_id) — a global
    // (empty-partition) window would funnel the table through one task
    assert(p.contains("Window"), "ta_tfidf lost its windows")
    assert(!p.contains("No Partition"), "ta_tfidf window lost its partitioning")
  }

  test("dd_containment / dd_edit: ONE corpus scan, zero joins") {
    // both r6 pair generators group candidates into bounded per-key
    // arrays and explode pairs from the grouped frame — a join
    // formulation re-scans the corpus (pruned branches defeat
    // ReuseExchange, the ta_tfidf lesson, re-measured here: the
    // sizes⋈pairs form planned TWO full tokenize scans)
    Seq("dd_containment", "dd_edit").foreach { q =>
      val p = plan(q)
      assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
        s"$q scans the corpus more than once")
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
        && !p.contains("CartesianProduct"), s"$q grew a join")
    }
    // containment's df cap and denominator are key-partitioned windows
    val pc = plan("dd_containment")
    assert(pc.contains("Window") && !pc.contains("No Partition"),
      "dd_containment windows lost their partitioning")
  }

  test("dd_spans: ONE corpus scan, zero joins, partitioned windows") {
    // the span extractor is the positioned twin of dd_crossdoc: gram
    // multiplicity is a count window over the hashed gram stream and
    // the islands pass a per-doc window — a join formulation would
    // re-scan/re-explode the corpus
    val p = plan("dd_spans")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      "dd_spans scans the corpus more than once")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct"), "dd_spans grew a join")
    assert(p.contains("Window") && !p.contains("No Partition"),
      "dd_spans windows lost their partitioning")
  }

  test("dd_urls: narrow regex + one map-side-combinable groupBy, no join") {
    val p = plan("dd_urls")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1,
      "dd_urls scans the corpus more than once")
    assert(!p.contains("Join"), "dd_urls grew a join")
    assert("""\(\d+\) HashAggregate""".r.findAllIn(p).size >= 2,
      "dd_urls lost its partial (map-side) aggregation")
  }

  test("agg_cms: sketch aggregate keeps map-side partials; probe side broadcasts") {
    val p = plan("agg_cms")
    // partial+final ObjectHashAggregate pair for the typed sketch
    assert("""\(\d+\) ObjectHashAggregate""".r.findAllIn(p).size >= 2,
      "agg_cms lost the partial (map-side) sketch combine")
    assert(p.contains("Broadcast"),
      "agg_cms probe no longer reads the sketch via broadcast")
    assert(!p.contains("SortMergeJoin"), "agg_cms shuffles to meet the sketch")
  }

  test("agg_bloom: filter aggregate keeps map-side partials; probe side broadcasts") {
    val p = plan("agg_bloom")
    assert("""\(\d+\) ObjectHashAggregate""".r.findAllIn(p).size >= 2,
      "agg_bloom lost the partial (map-side) OR-combine")
    assert(p.contains("Broadcast"),
      "agg_bloom probe no longer reads the filter via broadcast")
    assert(!p.contains("SortMergeJoin"), "agg_bloom shuffles to meet the filter")
  }

  test("agg family keeps partial (map-side) aggregation") {
    // partial+final pairs appear as two HashAggregate nodes; losing the
    // partial side would shuffle raw rows
    Seq("q1_pricing_summary", "agg_kmv_distinct", "emb_centroid").foreach { q =>
      val p = plan(q)
      assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2,
        s"$q lost its partial aggregation")
    }
  }

  test("emb_knn_graph: top-k aggregate map-side-combines the in-cluster pair stream") {
    // the TopKPairs TypedImperativeAggregate must plan as a
    // partial+final ObjectHashAggregate pair so each partition's
    // contribution caps at k pairs per vector BEFORE the shuffle —
    // losing the partial side would shuffle the full pair fan-out
    // (VERDICT r6 #5)
    val p = plan("emb_knn_graph")
    assert("""ObjectHashAggregate""".r.findAllIn(p).size >= 2,
      "emb_knn_graph lost its partial (map-side) top-k combine")
    assert(!p.contains("CartesianProduct"),
      "emb_knn_graph pairs must form via the cent_id join, never a cross join")
  }

  test("q19: OR-of-ANDs stays an equi join with residual, both sides pushed") {
    // Catalyst must extract the l_partkey equi key (hash join, never a
    // nested loop over the corpus) AND derive the per-side disjunctive
    // pushdowns (the quantity-range OR into the lineitem scan, the
    // brand/size OR into the part scan)
    val p = plan("q19_disjunctive")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q19's disjunctive predicate degraded to a nested loop")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "q19 lost its extracted equi join")
    assert("GreaterThanOrEqual\\(l_quantity".r.findAllIn(p).nonEmpty,
      "q19's quantity disjunction no longer pushed into the lineitem scan")
  }

  test("q21: both quantifiers stay equi joins on the order key") {
    // EXISTS → LeftSemi, NOT EXISTS → LeftAnti, both keyed on
    // l_orderkey with the suppkey inequality as residual — a
    // dropped key would cross-join the fact table with itself
    val p = plan("q21_sole_late")
    assert(p.contains("LeftSemi"), "q21 lost its EXISTS semi join")
    assert(p.contains("LeftAnti"), "q21 lost its NOT-EXISTS anti join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "a q21 quantifier degraded to a nested loop")
    assert(p.contains("TakeOrderedAndProject"), "q21 top-20 lost its bounded-heap plan")
  }

  test("q4: EXISTS plans as one semi join over the pushed date window") {
    val p = plan("q4_priority")
    assert(p.contains("LeftSemi"), "q4's EXISTS no longer a semi join")
    assert("GreaterThanOrEqual\\(o_orderdate".r.findAllIn(p).nonEmpty,
      "q4's order-date window no longer pushed into the orders scan")
  }

  test("q10: fact aggregates to per-customer revenue BEFORE the customer dim join") {
    // the revenue groupBy must sit below the customer join in the
    // plan: joining first would carry |lineitem| rows into the join
    // instead of |customers| — at sf this is invisible, at 100 TB it
    // is the query's dominant cost
    val p = plan("q10_returns")
    val aggPos = p.indexOf("HashAggregate")
    assert(aggPos >= 0, "q10 lost its aggregation")
    // in 'formatted' explain the tree prints root-first, so the scan
    // of c_name (customer dim) must appear ABOVE (join side) while
    // at least one HashAggregate pair exists below the final join —
    // assert the cheap invariant: two HashAggregates (partial+final)
    // and no customer column inside the aggregate expressions
    assert("HashAggregate".r.findAllIn(p).size >= 2, "q10 lost partial aggregation")
    assert(p.contains("TakeOrderedAndProject"), "q10 top-20 lost its bounded-heap plan")
  }

  test("ts_anomaly / ts_acf: ONE per-key exchange, no joins") {
    // both are one analytic-window pass per key; ts_acf's groupBy
    // rides the window's hashpartitioning(user_id) — a second
    // Exchange means the agg stopped reusing the sort's partitioning
    // formatted explain prints each node twice (tree + detail): count
    // the numbered detail headers, not raw substring hits
    def exchanges(p: String): Int = """\(\d+\) Exchange""".r.findAllIn(p).size
    val pa = plan("ts_anomaly")
    assert(exchanges(pa) == 1, "ts_anomaly wants exactly 1 exchange")
    assert(!pa.contains("Join"), "ts_anomaly grew a join")
    val pc = plan("ts_acf")
    assert(exchanges(pc) == 1,
      "ts_acf regrew a second exchange — the agg no longer reuses the window partitioning")
    assert(!pc.contains("Join"), "ts_acf grew a join")
  }

  test("ts_resample: grid + brackets resolve without any join") {
    // the bracket lookups are RANGE windows over the event+grid
    // union — a join-based as-of rewrite would probe per grid point
    val p = plan("ts_resample")
    assert(!p.contains("Join"), "ts_resample grew a join — brackets must be windows")
    assert(p.contains("Window"), "ts_resample lost its window brackets")
  }

  test("ts_cusum: ONE per-key exchange serves all three window passes, no joins") {
    // running sum, per-key totals, and the argmax rank all ride the
    // same hashpartitioning(user_id)
    val p = plan("ts_cusum")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1,
      "ts_cusum wants exactly 1 exchange")
    assert(!p.contains("Join"), "ts_cusum grew a join")
  }

  test("q_funnel / q_retention: window-stacked plans, zero joins") {
    // funnel: every stage is a conditional window min riding ONE
    // per-user partitioning; only the final single-row count adds an
    // exchange. retention: the (user, day) dedup aggregate rides the
    // explicit user repartition and the cohort is a window min — a
    // join-based cohort would re-exchange twice and add a join.
    def exchanges(p: String): Int = """\(\d+\) Exchange""".r.findAllIn(p).size
    val pf = plan("q_funnel")
    assert(!pf.contains("Join"), "q_funnel grew a join")
    assert(exchanges(pf) <= 2, s"q_funnel wants <= 2 exchanges, got ${exchanges(pf)}")
    val pr = plan("q_retention")
    assert(!pr.contains("Join"), "q_retention grew a join — cohort must be a window")
    assert(exchanges(pr) <= 2, s"q_retention wants <= 2 exchanges, got ${exchanges(pr)}")
  }

  test("ts_holt: one per-key exchange feeding the secondary-sort fold, no joins") {
    // the recurrence is one repartition + in-partition external sort
    // + streaming fold; a second exchange or any join means the fold
    // stopped riding its own partitioning
    val p = plan("ts_holt")
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size == 1,
      "ts_holt wants exactly 1 exchange")
    assert(!p.contains("Join"), "ts_holt grew a join")
    assert(p.contains("Sort"), "ts_holt lost its in-partition order sort")
  }

  test("ta_bm25: one corpus aggregation, a one-row stats broadcast, bounded top-k") {
    // the corpus shuffles ONCE (per-doc tf/dl agg); corpus stats come
    // back as a one-row broadcast (BNLJ, declared in PlanSweep); the
    // emit is a bounded heap, not a global sort
    val p = plan("ta_bm25")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "ta_bm25 lost its one-row stats broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "ta_bm25 grew a keyed join — stats must be a scalar broadcast")
    assert(p.contains("TakeOrderedAndProject"), "ta_bm25 lost its top-k plan")
  }
}
