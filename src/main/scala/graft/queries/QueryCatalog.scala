package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashing
import graft.operators._

/** The batch query surface: one entry per operator from SURVEY.md §2
  * plus the LLM-data-pipeline extensions, each with a DuckDB oracle
  * twin (see [[Oracles]]). Every double output is rounded and every
  * integer output cast to long so the two engines hash identically.
  *
  * Scale stance (100 TB): no collect(), no cross joins outside
  * broadcast-bounded sides, aggregations rely on partial (map-side)
  * combine, joins declare broadcast on dimension tables and let AQE
  * pick shuffle strategy elsewhere; near-dup candidates only form
  * inside LSH buckets.
  */
object QueryCatalog {

  type Q = (SparkSession, String) => DataFrame

  /** Money-sum that is bitwise identical across engines: per-row round
    * to integer cents (the same double op in both), exact integer sum,
    * one final division. Accumulating raw doubles and rounding the
    * total is NOT cross-engine stable — the accumulated ulp error can
    * straddle a rounding boundary (seen at sf0.01).
    * DuckDB twin: sum(CAST(round(x * 100) AS BIGINT)) / 100.0 */
  def moneySum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(round(c * 100).cast("long")) / 100.0

  // -------------------------------------------------------------- stateless

  /** P1 — BUY/SELL decision map (Chapter00:119-125). */
  val p1BuySell: Q = (s, d) =>
    Tables.events(s, d).select(col("event_id"),
      StatelessOps.buyOrSell(col("value"), 100.0).as("decision"))

  /** P2 — contains-all filter (Chapter01:140-147). */
  val p2ContainsAll: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(StatelessOps.containsAll(col("text"), Seq("join", "scan")))
      .select(col("doc_id"), col("n_chars"))

  /** P3+P4 — regex sentiment + drop-neutral (Chapter01:149-161). */
  val p3Sentiment: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        StatelessOps.sentiment(col("text"),
          pos = Seq("fast", "big", "merge"), neg = Seq("slow", "small", "filter"))
          .as("sentiment"))
      .filter(col("sentiment") =!= "NEUTRAL")

  /** P5 — one row per occurrence of a needle (Chapter01:163-170). */
  val p5Occurrences: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), StatelessOps.occurrences(col("text"), "join").as("one"))
      .select(col("doc_id"))

  /** P6/P12 — parse a field out of raw JSON-ish text (Gibber.java:118-145). */
  val p6ParseProps: Q = (s, d) =>
    Tables.events(s, d).select(col("event_id"),
      StatelessOps.jsonIntField(col("props"), "k").as("k"))

  /** P8 — constant-key global aggregate (SharePriceDataflow.java:137-143). */
  val p8GlobalAgg: Q = (s, d) =>
    Tables.events(s, d).withColumn("k", lit("FOO")).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))

  /** P10 — tokenizer + lexicon hype explode (SharePriceDataflow.java:152-160,
    * ShareHypePiece.java:65-84); word frequencies of lexicon hits. */
  val p10HypeWords: Q = (s, d) => {
    val lex = Seq("join", "merge", "fast", "big", "slow", "small")
    Tables.documents(s, d)
      .select(StatelessOps.explodeTokens(col("text")).as("word"))
      .filter(col("word").isin(lex: _*))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
  }

  /** P14 — op→delta sign conversion (TraderStateUpdater.java:141-172):
    * purchases spend coins, refund-ish errors return them. */
  val p14Deltas: Q = (s, d) =>
    Tables.events(s, d).select(col("event_id"),
      round(when(col("event_type") === "purchase", -col("value"))
        .when(col("event_type") === "error", col("value"))
        .otherwise(lit(0.0)), 2).as("coins_delta"))

  /** R1/R2 — split/select routing as one tagged pass (Chapter02:174-217). */
  val r1SplitRoute: Q = (s, d) =>
    Tables.events(s, d).select(col("event_id"),
      StatelessOps.route(Seq(
        (col("value") > 400.0, "invalid"),
        (col("event_type") === "purchase", "buy"),
        (col("event_type") === "view", "sell")), "other").as("route"))

  // ------------------------------------------------------------ aggregates

  /** A1 — tumbling event-time window sum (Chapter03:125-139), 1-hour
    * windows via the streaming-compatible window() operator. */
  val a1WindowSum: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))
      .select(unix_timestamp(col("w.start")).as("hour_epoch"),
        col("event_type"), col("n"), col("total"))

  /** Hopping (sliding) event-time windows — width 2 h, slide 1 h, so
    * every event lands in exactly two overlapping windows. Spark
    * expands the window memberships BEFORE the shuffle and the
    * aggregate map-side combines per (window, key) — the overlap
    * factor (width/slide) multiplies map output, never reducer state.
    * The same expression is streaming-compatible under a watermark
    * (kata03's tumbling form generalizes unchanged). */
  val a8HoppingWindow: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))
      .select(unix_timestamp(col("w.start")).as("start_epoch"),
        col("event_type"), col("n"), col("total"))

  /** A2/A3 — running per-key sum, emitted per element
    * (SharePriceDataflow.java:121-122, MarketDataflow.java:319-339). */
  val a2RunningSum: Q = (s, d) =>
    Tables.events(s, d).select(col("event_id"),
      round(RunningAggs.runningSum(col("value"),
        col("user_id"), col("ts"), col("event_id")), 4).as("running"))

  /** A7 — per-user session windows with a 5-minute inactivity gap:
    * Spark's streaming-compatible session_window operator (the
    * merging-session analog of the reference's windowed katas). The
    * oracle expresses the same sessions as a gaps-and-islands SQL —
    * a new session starts when the gap to the previous event is
    * >= 5 minutes, exactly session_window's merge rule (windows merge
    * while next.start < prev.end). */
  val a7SessionWindow: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))
      .select(col("user_id"), unix_millis(col("w.start")).as("session_start_ms"),
        col("n"), col("total"))

  /** A5 — running product via exp∘sum∘ln (SharePriceDataflow.java:72-96),
    * group-total form over per-order discount factors. */
  val a5GroupProduct: Q = (s, d) =>
    Tables.lineitem(s, d).groupBy(col("l_orderkey"))
      .agg(round(RunningAggs.groupProduct(lit(1.0) + col("l_discount")), 4)
        .as("disc_product"))

  /** A6 — per-key max/min/count (Chapter03:194-209). */
  val a6MaxPerKey: Q = (s, d) =>
    Tables.events(s, d).groupBy(col("user_id"))
      .agg(round(max(col("value")), 2).as("max_v"),
        round(min(col("value")), 2).as("min_v"),
        count(lit(1)).as("n"))

  /** Distinct + exact count-distinct (declared n/a in the reference —
    * provided as Spark built-ins per SURVEY §2.5). */
  val aggCountDistinct: Q = (s, d) =>
    Tables.events(s, d).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n"))

  // --------------------------------------------------- windows / sort / topk

  /** §2.7 — top-k per group with deterministic tiebreak. */
  val wRankTopK: Q = (s, d) => {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(s, d)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("p_brand"), col("p_partkey"), round(col("p_retailprice"), 2).as("price"), col("rk"))
  }

  /** §2.6 — lag/delta analytic window (per-key previous value). */
  val wLagDelta: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d).select(col("event_id"),
      round(col("value") - lag(col("value"), 1).over(w), 4).as("delta"))
  }

  /** §2.6 — trailing moving average per key (10-row sliding frame over
    * event time). The frame sum accumulates EXACT INTEGER micro-units
    * with one final double division: a raw double sliding sum is
    * engine-implementation-dependent (DuckDB aggregates sliding frames
    * with a segment tree, Spark re-scans the frame — different
    * summation orders, different last ulp), so the only cross-engine-
    * stable contract is integer-exact arithmetic. Scale shape: one
    * hash-partitioned sort per key group, same as every analytic
    * window here. */
  val wMovingAvg: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-9, Window.currentRow)
    Tables.events(s, d).select(col("event_id"),
      round(sum(round(col("value") * 1000000).cast("long")).over(w)
        / (count(lit(1)).over(w) * lit(1000000.0)), 6).as("mavg"))
  }

  /** §2.6 — decile bucketing (ntile) per language over document
    * length: the curriculum/filtering primitive (train on the top-k
    * deciles of a quality signal, stratify evals by length bucket).
    * Deterministic tiebreak (n_chars, doc_id) so both engines cut
    * identical bucket boundaries; one hash-partitioned sort per
    * language group, the standard analytic-window scale shape. */
  val wNtile: Q = (s, d) => {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, d).select(col("doc_id"), col("lang"),
      col("n_chars"), ntile(10).over(w).as("decile"))
  }

  /** §2.6 — trailing RANGE frame: per-user totals over the last hour
    * of EVENT TIME (all rows whose timestamp falls in (t−1h, t]) —
    * the value-bounded frame ROWS BETWEEN cannot express when event
    * spacing varies. Ordered by the exact integer epoch-micros, so
    * the frame bound arithmetic is integer on both engines, and
    * RANGE semantics include ALL tied timestamps regardless of
    * tiebreak — deterministic by construction. Same one-sort-per-key
    * scale shape as every analytic window here. */
  val wRangeFrame: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600000000L + 1, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .select(col("event_id"),
        count(lit(1)).over(w).as("n_hour"),
        (sum(col("cents")).over(w) / 100.0).as("total_hour"))
  }

  /** Distribution-position analytics (cume_dist / percent_rank) per
    * language over the (n_chars, doc_id) total order — the
    * percentile-gate primitive (keep docs above the p40 quality mark,
    * drop the longest 1 %). The unique tiebreak makes both fractions
    * single exact divisions (rn/n, (rn−1)/(n−1)) of identical
    * integers, so round(…, 6) cannot diverge; same hash-partitioned
    * one-sort-per-group scale shape as w_ntile. */
  val wCumeDist: Q = (s, d) => {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"),
      round(cume_dist().over(w), 6).as("cd"),
      round(percent_rank().over(w), 6).as("pr"))
  }

  /** Pearson correlation per group from EXACT integer sums — the
    * distributed-correlation shape: each partition contributes the six
    * mergeable moments (n, Σx, Σy, Σx², Σy², Σxy) via map-side partial
    * aggregation, and the final coefficient is derived once from exact
    * integers, so no fp merge order can split the engines. Values are
    * centi-unit decimals (38,0) — quantities and 2-decimal prices are
    * exact, and decimal sums stay exact where a double Σxy loses ulps
    * at corpus scale. */
  val aggCorr: Q = (s, d) => {
    val x = round(col("l_quantity") * 100).cast("decimal(38,0)")
    val y = round(col("l_extendedprice") * 100).cast("decimal(38,0)")
    Tables.lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      .select(col("l_returnflag"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
          .as("corr_qty_price"))
  }

  /** §2.6 — first/last value per key by event time (min_by/max_by). */
  val wFirstLast: Q = (s, d) =>
    Tables.events(s, d).groupBy(col("user_id"))
      .agg(min_by(col("event_id"), col("ts")).as("first_event"),
        max_by(col("event_id"), col("ts")).as("last_event"))

  /** A4 batch form — final EMA per key over time-ordered values via the
    * order-sensitive keyed fold (not SQL-expressible; driver records a
    * rows-only check, exact-series goldens live in KataSpec). */
  val a4EmaFinal: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_millis(col("ts")), col("value"))
      .as[(Long, Long, Double)]
    RunningAggs.emaPerKey(ev).toDF("user_id", "ema")
      .select(col("user_id"), round(col("ema"), 6).as("ema"))
  }

  /** Approximate distinct (HLL++) — sketch family. The raw estimates
    * differ across engines by design (different HLL variants), so the
    * oracle-checkable contract is the sketch's *accuracy claim*: emit
    * the exact count plus "estimate within 5% of exact" — a boolean
    * both engines agree on whenever both sketches honor their error
    * bound. Spark's sketch runs at rsd=0.01 so the 5% tolerance is a
    * ~5-sigma margin — the DEFAULT rsd=0.05 actually FAILED the claim
    * at sf0.1's 1500-distinct groups (a 1-sigma bound is a coin flip;
    * measured, not assumed). DuckDB's fixed-precision HLL sits at ~1%
    * typical error, same margin. Raw-estimate visibility stays in
    * agg_kmv_distinct, whose KMV estimate IS cross-engine exact. */
  /** Shape note (r14): the natural `agg(approx_count_distinct,
    * countDistinct)` mixes a distinct and a non-distinct aggregate, so
    * Spark plans the one-distinct rewrite whose FIRST phase keys on
    * (event_type, user_id) and carries a partial HLL++ buffer PER
    * GROUP — at rsd = 0.01 that is a 2¹⁴-register sketch per distinct
    * (type, user) pair, ~GBs of aggregation-buffer churn at corpus
    * scale for buffers that each absorb one value. Deduplicating first
    * and aggregating once per type computes the IDENTICAL result: HLL
    * register maxima are duplicate-insensitive (the sketch over the
    * deduped set equals the sketch over the raw stream, bit for bit)
    * and count(*) over the deduped pairs IS countDistinct. Same two
    * exchanges, no wide buffers. */
  val aggApproxDistinct: Q = (s, d) =>
    Tables.events(s, d).select(col("event_type"), col("user_id"))
      // NULL guard (ADVICE r14): count(*) over the deduped pairs counts
      // a NULL user_id as a distinct user where countDistinct — and the
      // DuckDB twin's count(DISTINCT) — ignore NULLs. The fixtures have
      // no NULL user_id (198/198 green either way); the filter makes
      // the rewrite's equivalence unconditional
      // (approx_count_distinct already ignores NULLs).
      .filter(col("user_id").isNotNull)
      .distinct()
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"),
        count(lit(1)).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx") - col("exact_users")) <=
          col("exact_users") * 0.05).as("approx_within_5pct"))

  /** Distinct-count sketch WITH cross-engine parity: KMV(k=64) over
    * md5 hashes — a native TypedImperativeAggregate with bounded O(k)
    * mergeable state whose estimate the DuckDB oracle reproduces
    * exactly (kth-smallest distinct hash), unlike HLL++ above. */
  /** Approximate per-group quantiles over the deterministic k-min-by-
    * hash row sample (k=256): hashing the unique event id permutes
    * each group uniformly, so its 256 hash-smallest rows are a uniform
    * sample — identical across runs, partition layouts and engines —
    * and the sample's exact discrete percentiles estimate the group's.
    * The scale contrast with [[aggPercentileDisc]]: that one
    * shuffles + sorts every row of every group; this one's mergeable
    * O(k) partials cap the shuffle at k rows per partition per group. */
  val aggHashQuantile: Q = (s, d) => {
    val sampled = Tables.events(s, d)
      .select(col("event_type"),
        Hashing.md5Long(col("event_id").cast("string")).as("hk"), col("value"))
      .groupBy(col("event_type"))
      .agg(graft.functions.KMinByHash.kMinByHash(col("hk"), col("value"), 256)
        .as("sample"))
    sampled
      .select(col("event_type"),
        array_sort(transform(col("sample"), e => e.getField("v"))).as("vals"))
      .select(col("event_type"),
        // all-null group -> empty sample -> ceil(0)=0, and ANSI
        // element_at is 1-based: guard instead of throwing
        when(size(col("vals")) > 0, element_at(col("vals"),
          ceil(lit(0.5) * size(col("vals"))).cast("int"))).as("p50_est"),
        when(size(col("vals")) > 0, element_at(col("vals"),
          ceil(lit(0.95) * size(col("vals"))).cast("int"))).as("p95_est"))
  }

  /** Mode (most frequent value) per group: two hash aggregations —
    * count per (group, value), then ONE encoded argmax over
    * (count desc, value asc), which both ranks and carries the winner
    * (ties break to the smallest value, total-order deterministic).
    * The argmax is [[graft.operators.EncodedArgmax]] (r10): the old
    * max(struct(n, -u, u)) carried a struct buffer, which bars the
    * hash aggregate and planned a SortAggregate over the distinct
    * (group, value) stream — corpus-scale on a wide value domain. The
    * encoding's domain guard (value < 2³², count < 2³¹) fails loudly
    * in-plan if ever exceeded. */
  val aggMode: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(max(graft.operators.EncodedArgmax.maxScoreMinId(
        col("n"), col("user_id"))).as("enc"))
      .select(col("event_type"),
        graft.operators.EncodedArgmax.decodeMaxId(col("enc")).as("mode_user"),
        graft.operators.EncodedArgmax.decodeScore(col("enc")).as("n"))

  val aggKmvDistinct: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_type"), col("user_id"),
      graft.functions.Hashing.md5Mod31(col("user_id").cast("string")).as("h"))
    ev.groupBy(col("event_type"))
      .agg(graft.functions.KmvDistinct.kmvDistinct(col("h"), 64).as("kmv_users"),
        countDistinct(col("user_id")).as("exact_users"))
  }

  /** Count-Min point-frequency estimates: ONE global 4×256 sketch
    * over the event stream's user ids (bounded mergeable counters,
    * map-side combined), then the probe set (user_id < 20) reads
    * estimates from the BROADCAST counter array — the serving shape:
    * sketch once, probe cheaply. cms_n ≥ exact_n always (CMS never
    * underestimates); both engines rebuild identical counters from
    * the shared md5-affine bucket hashes, so the oracle matches the
    * estimates exactly, not just within tolerance. */
  val aggCms: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val sk = ev.select(
        graft.functions.Hashing.md5Mod31(col("user_id").cast("string")).as("hm"))
      .agg(graft.functions.CmsSketch.cmsSketch(col("hm")).as("sk"))
    val probes = ev.filter(col("user_id") < 20)
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      .withColumn("hm",
        graft.functions.Hashing.md5Mod31(col("user_id").cast("string")))
    probes.crossJoin(broadcast(sk))
      .select(col("user_id"),
        graft.functions.CmsSketch.cmsEstimate(col("sk"), col("hm")).as("cms_n"),
        col("exact_n"))
  }

  /** Portable Bloom membership (Bloom 1970): ONE global 16384-bit /
    * 3-hash filter over the event stream's user ids — constant 256
    * longs of OR-merged, map-side-combined state at any corpus size —
    * probed by 20 PRESENT ids (no-false-negative witness: every one
    * must read true) and 20 ABSENT ids (the deterministic
    * false-positive residue, measured against exact counts). Both
    * engines set the identical md5-affine bit positions, so membership
    * bools match EXACTLY — the portable/serving complement of
    * j_bloom_semi's engine-internal row-shedding filter. Sizing is the
    * standard ~10 bits/key for ~1 % fp: at 10⁹ keys the filter is
    * ~1.2 GB, still one OR-merge tree + a broadcast at serve time. */
  val aggBloom: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val hm = (c: org.apache.spark.sql.Column) =>
      graft.functions.Hashing.md5Mod31(c.cast("string"))
    val sk = ev.select(hm(col("user_id")).as("hm"))
      .agg(graft.functions.BloomSketch
        .bloomSketch(col("hm"), numBits = 16384).as("sk"))
    val probes = s.range(0, 20).union(s.range(1000000, 1000020))
      .select(col("id").as("user_id"), hm(col("id")).as("hm"))
    val exact = ev.filter(col("user_id") < 20)
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
    probes.crossJoin(broadcast(sk))
      .join(exact, Seq("user_id"), "left")
      .select(col("user_id"),
        graft.functions.BloomSketch
          .bloomMaybe(col("sk"), col("hm"), numBits = 16384).as("might"),
        coalesce(col("exact_n"), lit(0L)).as("exact_n"))
  }

  /** Exact discrete percentiles (p50/p95): the ceil(q·n)-th smallest
    * value per group — deterministic regardless of tie order inside
    * the sort, so both engines select the identical element (no
    * interpolation arithmetic to diverge on). Exact quantiles
    * inherently sort each group; the documented scale path for
    * corpus-wide quantiles is approx_percentile (sketch, rows-only
    * parity — see agg_approx_distinct for the family pattern). */
  val aggPercentileDisc: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    Tables.events(s, d)
      .select(col("event_type"), col("value"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy(col("event_type"))).as("cnt"))
      .groupBy(col("event_type"))
      .agg(min(when(col("rn") === ceil(lit(0.5) * col("cnt")), col("value"))).as("p50"),
        min(when(col("rn") === ceil(lit(0.95) * col("cnt")), col("value"))).as("p95"))
  }

  /** ROLLUP: hierarchical subtotals + grand total in ONE pass (Spark
    * expands the grouping sets before the shuffle, map-side combine
    * per set — not N separate scans). Rollup null keys are coalesced
    * to a sentinel in BOTH engines so the compare never sorts nulls. */
  val aggRollup: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("total"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("total"))

  /** Full CUBE over (returnflag, linestatus) — all four grouping
    * sets in ONE Expand-before-shuffle pass (rollup's lattice
    * completed); same null-sentinel compare contract. */
  val aggCube: Q = (s, d) =>
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("total"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("total"))

  /** Arbitrary GROUPING SETS — the grouping-lattice member
    * rollup/cube can't express: exactly the two single-column
    * marginals, NO (flag, status) detail rows and NO grand total, in
    * ONE Expand-before-shuffle pass (not two scans unioned). Same
    * null-sentinel compare contract as agg_rollup. */
  val aggGroupingSets: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("total"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("total"))

  /** Fixed-width histogram: integer bucket arithmetic (floor of one
    * IEEE division — identical in both engines), one hash aggregate. */
  val aggHistogram: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(floor(col("value") / 50.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))

  /** Pivot: per-cohort event-type counts as columns (Spark pivot with
    * an explicit value list = one pass, no per-type scans; absent
    * cells are null — the oracle twin nullif()s its filtered counts). */
  val aggPivot: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy((col("user_id") % 10).as("cohort"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))

  // ---------------------------------------------------------------- joins

  /** Event-time interval join: clicks within 6 hours BEFORE each
    * purchase of the same user — equi-join on the user key plus a
    * range predicate, the batch twin of the stream-stream watermarked
    * interval join (`streaming.IntervalJoin`, StreamJoinSpec). The
    * equi key carries the shuffle; the range is a post-join filter, so
    * the plan stays a hash/sort-merge join, never a cross product. */
  val jInterval: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"), col("ts").as("c_ts"))
    purchases.join(clicks, Seq("user_id"))
      .filter(col("c_ts") >= col("p_ts") - expr("INTERVAL 360 MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .groupBy(col("user_id"), col("p_id"))
      .agg(count(lit(1)).as("n_clicks"), max(col("c_id")).as("last_click"))
  }

  /** Bloom-pruned semi join — the explicit runtime-filter pattern: a
    * compact bloom filter built over the selective dim keys (a
    * distributed tree-aggregate; only the ~180 KB filter reaches the
    * driver) is pushed into the fact scan as a codegen'd predicate
    * ([[graft.functions.BloomContains]]), shedding non-matching rows
    * BEFORE the join's exchange; the exact semi join then removes the
    * false-positive residue, so the result is identical to the
    * unpruned join. At 100 TB this is the difference between shuffling
    * the fact table and shuffling its matching ~20 %. */
  val jBloomSemi: Q = (s, d) => {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // size the filter from the dim side's actual key count (one cheap
    // pushed-filter count — the runtime-filter pattern): a hardcoded
    // capacity silently degrades FPP toward no pruning at larger sf
    val nUrgent = math.max(urgent.count(), 1L)
    val bf = urgent.stat.bloomFilter("o_orderkey", nUrgent, 0.01)
    Tables.lineitem(s, d)
      .filter(graft.functions.BloomContains.bloomContains(col("l_orderkey"), bf))
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("total"))
  }

  /** Value-band self-join — |Δvalue| ≤ w within a type — as a BUCKETED
    * equi-join, the scalable shape for non-equi band predicates: a
    * theta join is a per-type cross product (quadratic — the planner
    * can only BNL it), while bucketing value into width-w cells turns
    * the band into key equality. One side keys by its own cell, the
    * other explodes into its three adjacent cells (a band pair's cells
    * differ by at most 1, and covering ±1 on one side keeps every pair
    * discoverable under the a<b tiebreak); exactly one of the three
    * probe cells matches, so pairs emit once, and the exact |Δ| ≤ w
    * filter runs inside the join. Shuffle is 4× the input rows —
    * linear at any scale; the quadratic term is bounded by per-cell
    * density (pick w accordingly). Cell width is 2w, not w: an
    * in-band pair then sits ≤ 0.51 cells apart, so the ±1 probe
    * covers it even at floor boundaries where the two divisions'
    * rounding could otherwise split an exactly-w-apart pair two
    * cells apart. */
  val jBand: Q = (s, d) => {
    val w = 0.05
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("value"))
    val cell = floor(col("value") / (2 * w))
    // spread the PROBE side (r15): the planner broadcasts the exploded
    // side, so the join runs inside the probe scan's tasks — one task
    // on a single-row-group fixture (measured 0.8-1.2 s serialized, 31
    // cores idle). No-op once the scan is parallel (the 100 TB case).
    val a = Spread.narrow(
      ev.select(col("event_type"), col("event_id").as("id_a"),
        col("value").as("v_a"), cell.as("cell")))
    val b = ev.select(col("event_type"), col("event_id").as("id_b"),
      col("value").as("v_b"),
      explode(array(cell - 1, cell, cell + 1)).as("cell"))
    a.join(b, Seq("event_type", "cell"))
      .where(col("id_a") < col("id_b") &&
        abs(col("v_a") - col("v_b")) <= w)
      .select(col("event_type"), col("id_a"), col("id_b"))
  }

  /** Global top-N: ORDER BY + LIMIT plans as TakeOrderedAndProject —
    * per-partition bounded heaps merged on the driver, never a full
    * range-partitioned sort of the table. */
  val qTopOrders: Q = (s, d) =>
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(50)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("totalprice"))

  /** Broadcast dimension join: lineitem ⋈ part (dim side broadcast —
    * the 100 TB plan keeps the fact-side scan shuffle-free). */
  val jBroadcastDim: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n"))

  /** Large shuffle join lineitem ⋈ orders + aggregation (AQE decides
    * the physical strategy at scale). */
  val jShuffleAgg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))

  /** Left-semi: customers having orders (EXISTS). */
  val jSemi: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))

  /** Left-anti: customers without any HIGH-VALUE (>300k) order
    * (NOT EXISTS). The unfiltered form was vacuously green — every
    * fixture customer has orders, so 0 rows would also "pass" for an
    * always-empty implementation (VERDICT r4 #4); the threshold makes
    * the witness non-empty at every SF. */
  val jAnti: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))

  /** LATERAL correlated subquery — the per-outer-row dependent join
    * the DataFrame API expresses as a window+filter but users write
    * as LATERAL: for each high-value order, its top-2 lines by
    * price (deterministic (price desc, linenumber) order inside the
    * lateral). Spark decorrelates the correlated ORDER BY/LIMIT into
    * a ranked window join — no per-row re-execution — which is
    * exactly the 100 TB shape; DuckDB runs the same LATERAL text. */
  val jLateralTopk: Q = (s, d) =>
    // Dataset.lateralJoin + Column.outer(), not temp views: the view
    // form mutated the shared session catalog as a plan-building side
    // effect (fixed names race/clobber under concurrent builders);
    // this is pure like every other Q and decorrelates identically.
    Tables.orders(s, d).filter(col("o_totalprice") > 350000)
      .lateralJoin(
        Tables.lineitem(s, d)
          .where(col("l_orderkey") === col("o_orderkey").outer())
          .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
          .limit(2)
          .select(col("l_linenumber"),
            round(col("l_extendedprice"), 2).as("price")))
      .select(col("o_orderkey"), col("l_linenumber"), col("price"))

  /** J1/J2/J3 batch analog — as-of join: each purchase priced at the
    * user's most recent click value (MarketDataflow.java:190-268 keeps
    * the latest price in state; this is its batch twin). */
  val jAsOf: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
    val clicks = ev.filter(col("event_type") === "click")
    AsOfJoin.asOf(purchases, clicks, key = "user_id",
        leftTime = "ts", rightTime = "ts",
        valueCols = Seq("value" -> "prior_click_value"))
      .select(col("event_id"), col("user_id"), col("prior_click_value"))
  }

  /** Nearest-in-time as-of: each purchase aligned with the user's
    * CLOSEST click in either direction (equal distances resolve
    * backward) — the sensor-fusion variant of [[jAsOf]]
    * ([[graft.operators.AsOfJoin.asOfNearest]]: same one-shuffle
    * tag-union, both carries off one window sort). */
  val jAsOfNearest: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
    val clicks = ev.filter(col("event_type") === "click")
    AsOfJoin.asOfNearest(purchases, clicks, key = "user_id",
        leftTime = "ts", rightTime = "ts",
        valueCols = Seq("value" -> "nearest_click_value"))
      .select(col("event_id"), col("user_id"),
        round(col("nearest_click_value"), 2).as("nearest_click_value"))
  }

  /** J4 batch analog — per-key cogroup of two pre-aggregated sides
    * (MonkeyStockChampion.java:143-232 scans both sides per key). */
  val j4Cogroup: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val buys = ev.filter(col("event_type") === "purchase").groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_buys"), moneySum(col("value")).as("spent"))
    val errs = ev.filter(col("event_type") === "error").groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_errs"))
    buys.join(errs, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("n_buys"), lit(0L)).as("n_buys"),
        coalesce(col("spent"), lit(0.0)).as("spent"),
        coalesce(col("n_errs"), lit(0L)).as("n_errs"))
  }

  // --------------------------------------------------------------- set ops

  /** U1/U2 — tagged union of same-typed streams (MarketDataflow.java:130-132). */
  val u1UnionTagged: Q = (s, d) => {
    val ev = Tables.events(s, d)
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), lit("buy").as("tag"))
      .union(ev.filter(col("event_type") === "error")
        .select(col("event_id"), lit("err").as("tag")))
  }

  /** except/intersect (absent in the reference; Spark built-ins) —
    * user-days with a purchase but no error. Plain user_id sets were
    * vacuously equal on the fixture (every user eventually errors), so
    * the old witness was 0 rows (VERDICT r4 #4); (user_id, day) pairs
    * are non-empty at every SF while keeping EXCEPT's distinct
    * semantics under test. */
  val setExcept: Q = (s, d) => {
    val ev = Tables.events(s, d)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .except(ev.filter(col("event_type") === "error")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day")))
  }

  /** INTERSECT twin of set_except (distinct semantics): user-days with
    * BOTH a purchase and a view — the funnel-overlap shape. */
  val setIntersect: Q = (s, d) => {
    val ev = Tables.events(s, d)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .intersect(ev.filter(col("event_type") === "view")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day")))
  }

  // -------------------------------------------------------------- headline

  /** TPC-H Q1-style pricing summary — the flagship scan+agg. */
  val q1PricingSummary: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1999-12-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("n"))

  /** TPC-H Q6-style revenue-change: the pure pushdown showcase — all
    * four predicates and the only two needed columns reach the parquet
    * scan, so the plan is scan → partial agg → one-row exchange. At
    * 100 TB this is the query shape where row-group statistics prune
    * most of the table before a byte is decoded. */
  val q6Revenue: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(moneySum(col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** TPC-H Q3-style shipping priority (3-way join, group, filter). */
  val q3Shipping: Q = (s, d) =>
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1998-01-01"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1998-01-01"))
      .groupBy(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))

  /** TPC-H Q18-style large-volume orders: a HAVING over the fact
    * aggregation runs FIRST, so only qualifying orders (a tiny
    * fraction) reach the joins; the top-100 plans as
    * TakeOrderedAndProject (per-partition heaps, no global sort). */
  val q18LargeOrders: Q = (s, d) => {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("tq"))
      .filter(col("tq") > 300)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("totalprice"),
        round(col("tq"), 4).as("total_qty"))
      .orderBy(col("totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q5-style local-supplier volume (5-way join chain; dims
    * broadcast, fact joins shuffle on their keys). */
  val q5Volume: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
}
