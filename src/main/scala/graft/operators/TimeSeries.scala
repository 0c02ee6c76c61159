package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series similarity primitives: SAX symbolization and motif
  * discovery (Lin, Keogh, Lonardi, Chiu — "A Symbolic Representation
  * of Time Series, with Implications for Streaming Algorithms",
  * DMKD 2003). The engine's per-key series (prices, event values)
  * become discrete words that equality machinery — groupBy, joins,
  * the whole dedup family — can then search: two windows share a word
  * ⟺ their z-normalized shapes quantize identically, so similarity
  * search becomes hashing, never a quadratic scan.
  *
  * Cross-engine exactness: every window statistic derives from EXACT
  * integer micro-unit sums over a fixed 8-row frame (expressed as 8
  * lag() taps, identical in both engines), and the fp operations that
  * follow (mean, variance, sqrt, z, breakpoint compares) are the SAME
  * IEEE expressions evaluated on identical operands in an identical
  * order — so the emitted symbols match to the letter. Scale shape:
  * one hash-partitioned sort per key (the standard analytic-window
  * cost), zero joins, and the word output is fixed-width regardless
  * of corpus size.
  */
/** Streaming-twin row/state shapes (top-level for Encoders). */
case class TsRow(key: Long, ord: Long, vc: Long)
case class TsWord(key: Long, rn: Long, sax: String)
case class TsState(last7: Vector[Long], n: Long)
case class TsZOut(key: Long, ord: Long, z: Option[Double], is_anom: Boolean)
case class TsZState(last8: Vector[Long])
case class TsEvRow(key: Long, us: Long, vc: Long, eid: Long)
case class TsGridOut(key: Long, grid_epoch: Long, v_interp: Double)
case class TsEvState(lastUs: Long, lastVc: Long)
case class TsXRow(key: Long, ord: Long, x: Double)
case class TsHoltState(l: Double, b: Double, seeded: Boolean)
case class TsHoltOut(key: Long, ord: Long, level: Double, trend: Double)

object TimeSeries {

  private val Breakpoint = 0.6745 // N(0,1) quartiles → 4 equiprobable symbols

  /** Largest |micro-unit tap| whose 8-tap squared sum stays in Long:
    * 8·(2^30−1)² < 2^63. Enforced loudly in both batch and streaming
    * kernels (ADVICE r7: a silent long wrap diverged from the oracle
    * instead of failing). */
  val MaxTapMicro: Long = (1L << 30) - 1

  /** The pure word kernel: EXACTLY the fp steps of the batch column
    * expressions (same JVM double ops the codegen'd SQL compiles to),
    * shared by the streaming twin so words match the batch to the
    * letter. `taps` is the 8-value window, oldest first. */
  def saxWord(taps: IndexedSeq[Long]): String = {
    require(taps.length == 8)
    // Loud magnitude contract instead of silent wrap: 8·(2^30)² is
    // the Long boundary, so |tap| ≤ 2^30−1 (|value| ≤ ~1073.74 after
    // the ×1e6 micro-unit scale) keeps Σ vc² exact in plain long
    // arithmetic. (A decimal(38,0)/BigInt sum was correct at any
    // magnitude but measured 7× slower in the batch window path, so
    // the guard keeps the hot path in codegen'd longs and
    // out-of-contract input FAILS instead of diverging.)
    // two-sided bounds, not math.abs: abs(Long.MinValue) wraps negative
    require(taps.forall(t =>
        t >= -TimeSeries.MaxTapMicro && t <= TimeSeries.MaxTapMicro),
      s"saxWord: |tap| > ${TimeSeries.MaxTapMicro} micro-units " +
        "(|value| > ~1073.74) - the squared sum would overflow; rescale")
    val s = taps.sum
    val s2 = taps.map(t => t * t).sum
    val mean = s.toDouble / 8.0
    val sd = math.sqrt((s2.toDouble - s.toDouble * s.toDouble / 8.0) / 8.0)
    if (sd == 0.0) "flat"
    else (0 until 4).map { seg =>
      val paa = (taps(2 * seg) + taps(2 * seg + 1)).toDouble / 2.0
      val z = (paa - mean) / sd
      if (z < -Breakpoint) 'a'
      else if (z < 0.0) 'b'
      else if (z < Breakpoint) 'c'
      else 'd'
    }.mkString
  }

  /** `df` plus one guarded tap column, and that column: `valueCol`
    * scaled by `scale` and rounded to a long, raising "`what` at
    * value=…" outside ±`bound` (NULL passes through). The column gets a
    * collision-free name: a caller whose frame already carries
    * "_graft_vc" would otherwise make the later reference ambiguous
    * (two same-named columns in one projection). */
  private def guardedTaps(df: DataFrame, valueCol: String, scale: Int, bound: Long,
                          what: String): (DataFrame, Column) = {
    val rawVc = round(col(valueCol) * scale).cast("long")
    val inRange = rawVc.isNull || (rawVc >= lit(-bound) && rawVc <= lit(bound))
    val vcName = Iterator.from(0).map(i => s"_graft_vc$i")
      .find(n => !df.columns.contains(n)).get
    val guarded = df.select(col("*"),
      when(inRange, rawVc)
        .otherwise(raise_error(concat(lit(s"$what at value="),
          col(valueCol).cast("string")))).as(vcName))
    (guarded, col(vcName))
  }

  /** SAX word per full 8-value window (4 PAA segments × 4-symbol
    * alphabet) over each key's time-ordered micro-unit values.
    * Rows before the 8th of a key are dropped (no partial windows).
    * Zero-variance windows emit the sentinel 'flat'. */
  def saxWords(df: DataFrame, keyCol: String, orderCols: Seq[String],
               valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(col): _*)
    // Loud magnitude guard per ROW, HOISTED into one projection
    // BEFORE the window (the minHashSignatures hoisting lesson): every
    // tap of every window reads the guarded column, so coverage is
    // complete, but the ~60 window expressions stay plain long lags —
    // embedding the when/raise_error in each tap blew the generated
    // window method up (6.6 s cold first run from Janino compile
    // alone). The guard exists because 8 squared micro-unit taps
    // overflow a long once |value| ≳ ~1073.74 and Spark would WRAP
    // silently while the DuckDB oracle's BIGINT product errors —
    // diverging instead of failing; a decimal(38,0) s2 was
    // magnitude-safe but measured 7× slower end-to-end at sf0.1.
    // Explicit two-sided bounds, NOT abs(): abs(Long.MinValue) wraps
    // NEGATIVE, so an extreme value saturating the double→long cast
    // would sail through an abs-based guard — the exact silent-wrap
    // hole this guard exists to close. NULL values pass through (the
    // pre-guard pipeline propagated them; the null condition takes
    // the when-branch via isNull, not the raise_error).
    val (guarded, vc) = guardedTaps(df, valueCol, 1000000, MaxTapMicro,
      s"saxWords: |micro tap| > $MaxTapMicro (|value| > ~1073.74)")
    // taps(i) = v[t-7+i]; the current row is tapped directly
    val taps = (0 to 6).map(i => lag(vc, 7 - i).over(w)) :+ vc
    val rn = row_number().over(w)
    val s = taps.reduce(_ + _)
    val s2 = taps.map(t => t * t).reduce(_ + _)
    val mean = s.cast("double") / lit(8.0)
    val variance = (s2.cast("double")
      - s.cast("double") * s.cast("double") / lit(8.0)) / lit(8.0)
    val sd = sqrt(variance)
    def symbol(z: Column): Column =
      when(z < -Breakpoint, "a").when(z < 0.0, "b")
        .when(z < Breakpoint, "c").otherwise("d")
    val word = concat((0 until 4).map { seg =>
      val paa = (taps(2 * seg) + taps(2 * seg + 1)).cast("double") / lit(2.0)
      symbol((paa - mean) / sd)
    }: _*)
    guarded.select(col(keyCol), rn.as("rn"), s.as("s"), sd.as("sd"), word.as("w"))
      .filter(col("rn") >= 8)
      .select(col(keyCol), col("rn"),
        when(col("sd") === 0.0, lit("flat")).otherwise(col("w")).as("sax"))
  }

  /** The pure z kernel: EXACTLY the fp steps of [[rollingZ]]'s column
    * expressions (same JVM double ops the codegen'd SQL compiles to),
    * shared by the streaming twin. `taps` is the trailing-8 baseline,
    * oldest first; `vc` the scored value. Zero-variance baseline ⇒
    * (None, false) — the batch NULL-z / FALSE-flag contract. */
  def zScoreTap(taps: IndexedSeq[Long], vc: Long,
                thresh: Double = 3.0): (Option[Double], Boolean) = {
    require(taps.length == 8)
    require((taps :+ vc).forall(t =>
        t >= -TimeSeries.MaxTapMicro && t <= TimeSeries.MaxTapMicro),
      s"zScoreTap: |tap| > ${TimeSeries.MaxTapMicro} micro-units " +
        "(|value| > ~1073.74) - the squared sum would overflow; rescale")
    val s = taps.sum
    val s2 = taps.map(t => t * t).sum
    val mean = s.toDouble / 8.0
    val sd = math.sqrt((s2.toDouble - s.toDouble * s.toDouble / 8.0) / 8.0)
    if (sd == 0.0) (None, false)
    else {
      val z = (vc.toDouble - mean) / sd
      (Some(z), math.abs(z) > thresh)
    }
  }

  /** Trailing-window rolling z-score anomaly flags: each row's value
    * is scored against the mean/sd of its key's PREVIOUS 8 values
    * (strictly before the current row — the score never sees the
    * point it judges, so a spike can't mask itself by inflating its
    * own baseline). Rows before the 9th of a key are dropped (no
    * partial baselines); a zero-variance baseline yields NULL z and
    * FALSE is_anom by contract — no distance is defined, so the row
    * never FLAGS, and the NULL z records why (the coalesce below and
    * the ts_anomaly oracle both pin FALSE).
    *
    * Cross-engine exactness (the [[saxWords]] discipline): the
    * baseline moments are EXACT integer micro-unit sums over 8 lag()
    * taps, and mean / sd / z are the SAME IEEE double expressions
    * evaluated on identical operands in identical order, so z matches
    * the oracle bit-for-bit. Scale shape: one hash-partitioned sort
    * per key (the analytic-window cost), zero joins, output one row
    * per input row. */
  def rollingZ(df: DataFrame, keyCol: String, orderCols: Seq[String],
               valueCol: String, idCol: String,
               thresh: Double = 3.0): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(col): _*)
    // same hoisted magnitude guard as saxWords: 8 squared micro taps
    // must stay in Long; out-of-contract input FAILS instead of
    // silently wrapping away from the oracle's BIGINTs
    val (guarded, vc) = guardedTaps(df, valueCol, 1000000, MaxTapMicro,
      s"rollingZ: |micro tap| > $MaxTapMicro (|value| > ~1073.74)")
    // taps are lag 8..1 — the trailing window EXCLUDING the scored row
    val taps = (1 to 8).map(i => lag(vc, i).over(w))
    val rn = row_number().over(w)
    val s = taps.reduce(_ + _)
    val s2 = taps.map(t => t * t).reduce(_ + _)
    val mean = s.cast("double") / lit(8.0)
    val variance = (s2.cast("double")
      - s.cast("double") * s.cast("double") / lit(8.0)) / lit(8.0)
    val sd = sqrt(variance)
    val z = (vc.cast("double") - mean) / sd
    guarded.select(col(keyCol), col(idCol), rn.as("rn"),
        sd.as("sd"), z.as("zraw"))
      .filter(col("rn") >= 9)
      .select(col(keyCol), col(idCol),
        when(col("sd") === 0.0, lit(null).cast("double"))
          .otherwise(col("zraw")).as("z"))
      // never-null flag: a zero-variance baseline defines no distance,
      // so it doesn't FLAG (the NULL z still records why)
      .withColumn("is_anom",
        coalesce(abs(col("z")) > lit(thresh), lit(false)))
  }

  /** Streaming twin of [[rollingZ]]: per-key bounded state (the last
    * 8 micro values — fixed width at any stream length), scoring each
    * arrival against the trailing baseline once 8 values precede it.
    * Within a micro-batch rows sort by the order column; across
    * batches state carries the baseline tail, so for in-order input
    * the emitted (key, ord, z, is_anom) rows equal the batch
    * analytic-window form exactly (TimeSeriesStreamSpec pins it).
    * Late/out-of-order data is out of contract, as in [[saxStream]]. */
  def rollingZStream(df: DataFrame, keyCol: String, orderCol: String,
                     valueCol: String, thresh: Double = 3.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(keyCol).cast("long").as("key"),
        col(orderCol).cast("long").as("ord"),
        round(col(valueCol) * 1000000).cast("long").as("vc"))
      .as[TsRow]
    SecondarySort.keyedFoldStream(rows)(_.key, _.ord, () => TsZState(Vector.empty),
      (st: TsZState, r: TsRow) => {
        val emit =
          if (st.last8.length == 8) {
            val (z, anom) = zScoreTap(st.last8, r.vc, thresh)
            Seq(TsZOut(r.key, r.ord, z, anom))
          } else Seq.empty
        (TsZState((st.last8 :+ r.vc).takeRight(8)), emit)
      }).toDF(keyCol, orderCol, "z", "is_anom")
  }

  /** Per-key time-grid resample with linear interpolation: for every
    * step-aligned instant inside a key's observed [min ts, max ts]
    * span, the value linearly interpolated between the bracketing
    * observations (the classic gap-fill that turns irregular event
    * series into an equally-spaced matrix for downstream windows /
    * motifs / models). Keys whose span contains no aligned instant
    * emit nothing. Ties (two events of one key at one microsecond)
    * collapse to the highest-id event BEFORE the windows, so every
    * bracket lookup is deterministic.
    *
    * Scale shape: one small per-key bounds aggregate generates the
    * grid (grid rows ∝ span/step, never ∝ corpus), then ONE
    * hash-partitioned sort per key serves both bracket lookups as
    * analytic RANGE windows (last/first IGNORE NULLS over the
    * event+grid union) — zero joins, no per-grid-point probe. The
    * RANGE frames (not ROWS) make a grid instant that lands exactly
    * on an observation see that observation on BOTH sides, so the
    * interpolation degenerates to the observed value with no
    * divide-by-zero and no tie-order sensitivity.
    *
    * Cross-engine exactness: bracket times are epoch-micro longs and
    * bracket values exact micro-unit longs; the single interpolation
    * expression (pv + (nv − pv) · ((t − pt) / (nt − pt))) / 1e6 is
    * the SAME IEEE double tree on identical operands in both engines. */
  def resampleLinear(df: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, idCol: String,
                     stepSec: Long = 3600L): DataFrame = {
    require(stepSec >= 1, s"resampleLinear: stepSec must be >= 1, got $stepSec")
    val stepUs = stepSec * 1000000L
    val ev = df.select(col(keyCol).cast("long").as("k"),
        unix_micros(col(tsCol)).as("us"),
        round(col(valueCol) * 1000000).cast("long").as("vc0"),
        col(idCol).cast("long").as("eid"))
      .groupBy(col("k"), col("us"))
      .agg(max_by(col("vc0"), col("eid")).as("vc"))
    // grid: ceil(min) .. floor(max) aligned instants; an empty span
    // (first > last) explodes an empty array — sequence() would throw
    val bounds = ev.groupBy(col("k"))
      .agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val firstG = expr(s"((mn + ${stepUs - 1L}) div $stepUs) * $stepUs")
    val lastG = expr(s"(mx div $stepUs) * $stepUs")
    val grid = bounds.select(col("k"),
      explode(when(firstG <= lastG,
          sequence(firstG, lastG, lit(stepUs)))
        .otherwise(array().cast("array<long>"))).as("us"))
    val unioned = ev.select(col("k"), col("us"), col("vc"), lit(0).as("gf"))
      .union(grid.select(col("k"), col("us"),
        lit(null).cast("long").as("vc"), lit(1).as("gf")))
    val wPrev = Window.partitionBy(col("k")).orderBy(col("us"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    // forward carry rides a DESC-ordered RUNNING frame, not a
    // [current → unboundedFollowing] frame: Spark's UnboundedFollowing
    // frame recomputes the aggregate from the current row to the
    // partition end FOR EVERY ROW — O(rows²) per key, a quiet
    // quadratic on long per-key series at scale — while a running
    // frame is one accumulating pass. Same row set ({us' ≥ us}, peers
    // included under RANGE either way), and `last non-null` in desc
    // order IS `first non-null` in asc order (at most one non-null
    // per (k, us) — ev is (k, us)-aggregated, grid rows are null), so
    // the carried value is identical; the only cost is the second
    // sort order on the same exchange.
    val wNext = Window.partitionBy(col("k")).orderBy(col("us").desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val evUs = when(col("gf") === 0, col("us"))
    val pvc = last(col("vc"), ignoreNulls = true).over(wPrev)
    val pus = last(evUs, ignoreNulls = true).over(wPrev)
    val nvc = last(col("vc"), ignoreNulls = true).over(wNext)
    val nus = last(evUs, ignoreNulls = true).over(wNext)
    unioned
      .select(col("k"), col("us"), col("gf"),
        pvc.as("pvc"), pus.as("pus"), nvc.as("nvc"), nus.as("nus"))
      .filter(col("gf") === 1)
      .select(col("k").as(keyCol),
        expr("us div 1000000").as("grid_epoch"),
        when(col("nus") === col("pus"),
            col("pvc").cast("double") / lit(1000000.0))
          .otherwise((col("pvc").cast("double")
            + (col("nvc").cast("double") - col("pvc").cast("double"))
              * ((col("us") - col("pus")).cast("double")
                / (col("nus") - col("pus")).cast("double")))
            / lit(1000000.0)).as("v_interp"))
  }

  /** Largest |centi-unit value| whose per-row self/lag product stays
    * in Long: ⌊√(2^63−1)⌋. The SUMS are overflow-free on both engines
    * (Spark decimal(38,0), DuckDB BIGINT→HUGEINT widening — the emb
    * z-score discipline); only the per-row product needs the bound. */
  val MaxCentiTap: Long = 3037000499L

  /** Per-key sample autocorrelation at lags 1..`maxLag` (the textbook
    * ACF estimator r_l = Σ_{t>l}(x_t−μ)(x_{t−l}−μ) / Σ(x_t−μ)² with
    * the full-series mean) — the seasonality / memory diagnostic that
    * decides window sizes and differencing for every downstream
    * forecast. One analytic-window pass (row_number + maxLag lag
    * taps), then ONE map-side-combinable aggregate per key; nothing
    * iterates and nothing is corpus-sized on the driver.
    *
    * Cross-engine exactness: every moment is an EXACT integer sum of
    * centi-unit values/products (lag-l cross sums C_l, the head/tail
    * partial sums A_l = Σ_{t>l} x_t and B_l = Σ_{t≤n−l} x_t — B_l is
    * just Σ lag_l, A_l the value sum where the lag exists), summed
    * without overflow on both engines; the expansion
    * (C_l − μ(A_l+B_l) + (n−l)μ²) / (S2 − S1²/n) is the SAME IEEE
    * double tree on identically-converted operands. A key shorter
    * than l+1 rows (C_l undefined) and a zero-variance key both yield
    * NULL at that lag by contract. */
  def autocorr(df: DataFrame, keyCol: String, orderCols: Seq[String],
               valueCol: String, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1 && maxLag <= 8, s"autocorr: maxLag $maxLag not in 1..8")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(col): _*)
    // loud per-row magnitude guard (the saxWords posture): beyond the
    // bound the per-row product would wrap in Spark longs while
    // DuckDB's BIGINT product errors — fail here instead of diverging
    val (guarded, vc) = guardedTaps(df, valueCol, 100, MaxCentiTap,
      s"autocorr: |centi tap| > $MaxCentiTap")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val lags = (1 to maxLag).map(l => lag(vc, l).over(w))
    val perLag = (1 to maxLag).flatMap { l =>
      val t = col(s"_t$l")
      Seq(sum(dec(vc * t)).as(s"c$l"),
        sum(dec(when(t.isNotNull, vc))).as(s"a$l"),
        sum(dec(t)).as(s"b$l"))
    }
    val g = guarded
      .select(col(keyCol) +: vc +:
        (1 to maxLag).map(l => lags(l - 1).as(s"_t$l")): _*)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        (sum(dec(vc)).as("s1") +: sum(dec(vc * vc)).as("s2") +: perLag): _*)
    val nd = col("n").cast("double")
    val mu = col("s1").cast("double") / nd
    val den = (col("s2").cast("double")
      - col("s1").cast("double") * col("s1").cast("double") / nd)
    val acfs = (1 to maxLag).map { l =>
      val num = (col(s"c$l").cast("double")
        - mu * (col(s"a$l") + col(s"b$l")).cast("double")) +
        (col("n") - lit(l)).cast("double") * mu * mu
      when(den === 0.0, lit(null).cast("double"))
        .otherwise(num / den).as(s"acf$l")
    }
    g.select(col(keyCol) +: col("n") +: acfs: _*)
  }

  /** Streaming twin of [[resampleLinear]]: per-key state is ONE
    * observation (the latest), and each arrival emits every aligned
    * grid instant in (prev.us, this.us] interpolated between the two
    * — the same IEEE tree as the batch kernel, so in-order streams
    * emit the batch grid bit-identically as it becomes determined
    * (a first observation landing exactly ON a grid instant emits
    * itself, matching the batch ceil-bound). Same-microsecond ties
    * collapse to the max-id row WITHIN a micro-batch (the batch
    * pre-agg twin); a tie split across micro-batches — like
    * out-of-order data — is out of contract ([[saxStream]] posture).
    * Timestamps must be non-negative epoch micros (the alignment
    * uses plain integer division). Hand-rolled, not a keyed fold:
    * equal-instant rows collapse BEFORE the fold, and its absent start
    * state has no `TsEvState` sentinel (an `Option` is a new schema). */
  def resampleStream(df: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, idCol: String,
                     stepSec: Long = 3600L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(stepSec >= 1, s"resampleStream: stepSec must be >= 1, got $stepSec")
    val stepUs = stepSec * 1000000L
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("long").as("key"),
        unix_micros(col(tsCol)).as("us"),
        round(col(valueCol) * 1000000).cast("long").as("vc"),
        col(idCol).cast("long").as("eid"))
      .as[TsEvRow]
      .groupByKey(_.key)
      .flatMapGroupsWithState[TsEvState, TsGridOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, rows, state) =>
        val sorted = rows.toVector.sortBy(r => (r.us, r.eid))
        val collapsed = sorted.foldLeft(Vector.empty[TsEvRow]) { (acc, r) =>
          if (acc.nonEmpty && acc.last.us == r.us) acc.init :+ r else acc :+ r
        }
        var st = state.getOption
        val out = Vector.newBuilder[TsGridOut]
        collapsed.foreach { r =>
          require(r.us >= 0L, s"resampleStream: negative epoch micros ${r.us}")
          st match {
            case None =>
              if (r.us % stepUs == 0L)
                out += TsGridOut(key, r.us / 1000000L, r.vc.toDouble / 1000000.0)
            case Some(prev) =>
              if (r.us > prev.lastUs) {
                var t = (prev.lastUs / stepUs) * stepUs + stepUs
                while (t <= r.us) {
                  // EXACTLY the batch interpolation tree; at t == r.us
                  // the ratio is 1.0 and a+(b-a) == b in IEEE, so the
                  // on-observation instant reproduces the batch branch
                  val v = (prev.lastVc.toDouble
                    + (r.vc.toDouble - prev.lastVc.toDouble)
                      * ((t - prev.lastUs).toDouble
                        / (r.us - prev.lastUs).toDouble)) / 1000000.0
                  out += TsGridOut(key, t / 1000000L, v)
                  t += stepUs
                }
              }
          }
          if (st.forall(_.lastUs <= r.us)) st = Some(TsEvState(r.us, r.vc))
        }
        st.foreach(state.update)
        out.result().iterator
      }.toDF(keyCol, "grid_epoch", "v_interp")
  }

  /** Streaming twin of [[saxWords]]: per-key bounded state (the last
    * 7 micro values + the row count — fixed width at any stream
    * length), emitting one word per arrival once 8 values have been
    * seen. Within a micro-batch rows sort by the order column; across
    * batches state carries the window tail, so for in-order input the
    * emitted (key, rn, sax) rows equal the batch analytic-window form
    * exactly (TimeSeriesStreamSpec pins it). Late/out-of-order data is
    * out of contract (the batch form re-sorts; a watermarked buffer
    * would be the extension). */
  def saxStream(df: DataFrame, keyCol: String, orderCol: String,
                valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(keyCol).cast("long").as("key"),
        col(orderCol).cast("long").as("ord"),
        round(col(valueCol) * 1000000).cast("long").as("vc"))
      .as[TsRow]
    SecondarySort.keyedFoldStream(rows)(_.key, _.ord, () => TsState(Vector.empty, 0L),
      (st: TsState, r: TsRow) => {
        val n = st.n + 1
        val window = st.last7 :+ r.vc
        (TsState(window.takeRight(7), n),
          if (window.length == 8) Seq(TsWord(r.key, n, saxWord(window))) else Seq.empty)
      }).toDF(keyCol, "rn", "sax")
  }

  /** Motif per key: the most frequent SAX word (ties break to the
    * lexicographically smallest word — total-order deterministic).
    * Two hash aggregations, both map-side combinable.
    *
    * The argmax rides [[EncodedArgmax]]'s packed long (r11 — deletes
    * the catalog's LAST declared SortAggregate): the SAX vocabulary
    * is 4-char words over {a..d} plus the zero-variance sentinel
    * "flat", so a word maps to a lex-order-preserving base-4 integer
    * in [0, 256) with "flat" at 256 (f > d keeps the order exact),
    * and (count desc, code asc) IS (count desc, word asc). The
    * struct form this replaces carried a STRING in the aggregation
    * buffer, which barred the hash aggregate.
    *
    * BATCH-ONLY by contract (the ds_temperature posture): the motif
    * is a corpus-wide argmax whose answer can RETRACT as counts grow —
    * the streaming form is this same two-agg plan in update output
    * mode over [[saxStream]]'s words (each micro-batch revises the
    * per-key winner), a sink-side re-read, not an append-mode twin. */
  def motifs(sax: DataFrame, keyCol: String): DataFrame = {
    // loud domain guard (the EncodedArgmax discipline): a word outside
    // the SAX vocabulary would silently mis-encode; evaluated on the
    // ALREADY-AGGREGATED (key, sax, n) frame, ≤ 257 rows per key.
    // NULL words (saxWords propagates a null tap into a null word) are
    // EXCLUDED from the vote below rather than raised: a null window
    // carries no shape information, and the replaced struct form
    // likewise never ranked one above a real word (review r11). A key
    // whose EVERY word is null consequently has no motif and emits no
    // row — the same absence contract as a key with no full window
    // (spec-pinned).
    val code = when(col("sax") === "flat", lit(256L))
      .when(col("sax").rlike("^[a-d]{4}$"),
        (ascii(substring(col("sax"), 1, 1)) - 97).cast("long") * 64L +
        (ascii(substring(col("sax"), 2, 1)) - 97).cast("long") * 16L +
        (ascii(substring(col("sax"), 3, 1)) - 97).cast("long") * 4L +
        (ascii(substring(col("sax"), 4, 1)) - 97).cast("long"))
      .otherwise(raise_error(concat(
        lit("motifs: word outside the SAX vocabulary ([a-d]{4} | flat): "),
        col("sax"))))
    val c = EncodedArgmax.decodeMaxId(col("e"))
    val abcd = array(lit("a"), lit("b"), lit("c"), lit("d"))
    def letter(shift: Int) =
      element_at(abcd, (shiftright(c, shift).bitwiseAND(lit(3L)) + 1L).cast("int"))
    sax.filter(col("sax").isNotNull)
      .groupBy(col(keyCol), col("sax")).agg(count(lit(1)).as("n"))
      .groupBy(col(keyCol))
      .agg(max(EncodedArgmax.maxScoreMinId(col("n"), code)).as("e"))
      .select(col(keyCol),
        when(c === 256L, lit("flat"))
          .otherwise(concat(letter(6), letter(4), letter(2), letter(0)))
          .as("motif"),
        EncodedArgmax.decodeScore(col("e")).as("n"))
  }

  /** Holt double-exponential smoothing, final state per key (Holt
    * 1957 / the "linear trend" member of the exponential-smoothing
    * family): seeded l₀ = x₀, b₀ = 0, then per time-ordered value
    *
    *   l ← α·x + (1−α)·(l + b);  b ← β·(l_new − l_old) + (1−β)·b
    *
    * emitting each key's final (level, trend, forecast = level+trend)
    * rounded to 6 — the trend-aware upgrade of [[RunningAggs.emaPerKey]]
    * (EMA is the β = 0, trend-dropped special case). A recurrence
    * cannot partial-aggregate, so the scale shape is the secondary-
    * sort fold: ONE hash partitioning on the key, an external
    * (disk-spilling) sort within partitions, then a streaming fold
    * holding two doubles per key — no per-key history buffer at any
    * group size.
    *
    * Cross-engine exactness: both engines seed identically and apply
    * the SAME IEEE expression tree in the same (ts, id)-total order —
    * the complements are exact (1.0−α == the 1−α literal for the
    * catalog's α = 0.2, β = 0.1), so the fold matches the oracle's
    * recursive-CTE replay bit-for-bit before the final display
    * rounding. (The oracle is a recursive CTE rather than the a4-style
    * list_reduce fold: Holt's state is a STRUCT, and DuckDB v1.0.0
    * list_reduce evaluates struct fields sequentially with acc
    * updated IN PLACE — the 'b' field would see the already-updated
    * 'l'. A recursive CTE reads the previous iteration's row
    * immutably.) */
  def holtFinal(df: DataFrame, keyCol: String, tsCol: String,
                idCol: String, valueCol: String,
                alpha: Double = 0.2, beta: Double = 0.1): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0 && beta >= 0.0 && beta <= 1.0,
      s"holtFinal: alpha=$alpha beta=$beta out of (0,1] x [0,1]")
    val spark = df.sparkSession
    import spark.implicits._
    val ac = 1.0 - alpha
    val bc = 1.0 - beta
    val sorted = df.select(col(keyCol).cast("long").as("k"),
        unix_micros(col(tsCol).cast("timestamp")).as("t"),
        col(idCol).cast("long").as("id"),
        col(valueCol).cast("double").as("x"))
      .as[(Long, Long, Long, Double)]
      .repartition(col("k"))
      .sortWithinPartitions(col("k"), col("t"), col("id"))
    SecondarySort.keyedFoldFlush(sorted)(
      _._1, () => Option.empty[(Double, Double)],
      (s: Option[(Double, Double)], row: (Long, Long, Long, Double)) =>
        (Some(holtStep(s, row._4, alpha, beta)),
          Seq.empty[(Long, Double, Double)]),
      (k: Long, s: Option[(Double, Double)]) =>
        s.map { case (l, b) => (k, l, b) }.toSeq)
      .toDF(keyCol, "l", "b")
      .select(col(keyCol), round(col("l"), 6).as("level"),
        round(col("b"), 6).as("trend"),
        round(col("l") + col("b"), 6).as("forecast"))
  }

  /** Weekly seasonal profile per key: per day-of-week event count and
    * mean value, with the key's PEAK day flagged — the "when is this
    * series active" decomposition that feeds scheduling and
    * anomaly-baseline decisions. Day-of-week is the PURE INTEGER
    * epoch-day mod 7 (0 = Thursday, epoch day 0) — no calendar
    * semantics, so both engines agree by construction instead of by
    * convention (engine dayofweek() conventions differ).
    *
    * Exactness: per-bucket sums are exact micro-unit integers in
    * decimal; the mean is ONE identical fp tree; the peak argmax
    * orders on the raw (unrounded) mean with a dow tiebreak —
    * identical doubles, identical order.
    *
    * Scale shape: ONE exchange — the explicit key repartition is
    * ridden by the (key, dow) aggregate (subset-of-keys partitioning)
    * AND by the peak window. BATCH-ONLY by contract: the peak flag is
    * a per-key argmax that retracts (the motifs posture). */
  def weeklyProfile(df: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String): DataFrame = {
    val vc = round(col(valueCol) * 1000000).cast("long")
    val base = df.select(col(keyCol).cast("long").as("k"),
        unix_micros(col(tsCol).cast("timestamp")).as("us"), vc.as("vc"))
      .select(col("k"), expr("(us div 86400000000) % 7").as("dow"), col("vc"))
      .repartition(col("k"))
      .groupBy(col("k"), col("dow"))
      .agg(count(lit(1)).as("n"),
        sum(col("vc").cast("decimal(38,0)")).as("s"))
      .withColumn("mean_raw",
        col("s").cast("double") / col("n") / lit(1000000.0))
    base.withColumn("rk", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("mean_raw").desc, col("dow"))))
      .select(col("k").as(keyCol), col("dow"), col("n"),
        round(col("mean_raw"), 6).as("mean_value"),
        (col("rk") === 1).as("is_peak"))
  }

  /** CUSUM changepoint per key (Page 1954 / the classic cumulative-sum
    * location estimator): the observation maximizing the absolute
    * centered cumulative deviation |Σ_{i≤t}(x_i − x̄)| — where a
    * series' level shifts, the centered partial sum peaks. The
    * statistic is computed in the FULLY INTEGER form
    *
    *   d_t = n·S_t − t·T      (S_t running sum, T total, n count)
    *
    * which equals n·Σ_{i≤t}(x_i − x̄) — no mean division, no fp until
    * the final display value, so engines agree to the bit at any
    * scale (sums in decimal(38,0)/HUGEINT, the [[autocorr]]
    * discipline). Emits one row per key: the argmax observation
    * (ties → smallest id) with the normalized peak deviation
    * dev = |d|/n/10⁶ in value units. Keys whose statistic is
    * identically zero (constant series) carry no changepoint
    * evidence and are dropped.
    *
    * Scale shape: ONE hash partitioning per key serves the running
    * sum, the per-key totals, AND the argmax rank — three window
    * passes, zero joins, zero extra exchanges (plan-gated).
    * BATCH-ONLY by contract: the statistic references the series
    * TOTAL, so every arrival can move the argmax (the motifs
    * posture — the streaming form is a periodic snapshot re-run). */
  def cusumChangepoint(df: DataFrame, keyCol: String, tsCol: String,
                       idCol: String, valueCol: String): DataFrame = {
    val wOrd = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(keyCol))
    val vc = round(col(valueCol) * 1000000).cast("long").cast("decimal(38,0)")
    val base = df.select(col(keyCol), col(idCol),
        row_number().over(Window.partitionBy(col(keyCol))
          .orderBy(col(tsCol), col(idCol))).cast("long").as("rn"),
        sum(vc).over(wOrd).as("s"),
        sum(vc).over(wAll).as("t"),
        count(lit(1)).over(wAll).as("n"))
      .withColumn("absd", abs(col("n") * col("s") - col("rn") * col("t")))
    base.withColumn("rk", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("absd").desc, col(idCol))))
      .filter(col("rk") === 1 && col("absd") > 0)
      .select(col(keyCol), col(idCol).cast("long").as("cp_event_id"),
        col("rn").as("cp_rn"),
        round(col("absd").cast("double") / col("n") / lit(1000000.0), 6)
          .as("dev"))
  }

  /** Pairwise Pearson cross-correlation of hourly value sums between
    * the `topSeries` most-active keys — the co-movement discovery
    * primitive next to [[autocorr]]'s within-series memory. Pairwise
    * correlation is QUADRATIC in series count by nature, so the
    * series set is bounded EXPLICITLY (activity top-K, ties to the
    * smaller key) and the bound is the contract: K²/2 pairs over the
    * hourly grid, the emb_gram shape, never corpus². Pairs correlate
    * over their COMMON observed hours (pairwise-complete overlap; a
    * pair below `minOverlap` common hours is noise and is dropped),
    * and constant series (zero variance) are excluded — no distance
    * is defined.
    *
    * Cross-engine exactness (the [[autocorr]] discipline): hourly
    * sums are exact micro-unit integers held in decimal(38,0) (the
    * HUGEINT twin), all five moments are exact integer sums of
    * integer products, and the single fp step
    * num / sqrt(dx · dy) happens ONCE per pair on identically-rounded
    * doubles — rankings and values match to the bit.
    *
    * Scale shape: one map-side-combinable hourly aggregate (|K|·|hours|
    * rows out), a TakeOrdered activity cut, a broadcast semi filter,
    * ONE hour-partitioned self-join whose fan-out is ≤ K per side by
    * construction, one pair aggregate. Returns the `topPairs` pairs
    * by |corr| (ties → (ka, kb)). BATCH-ONLY by contract: both the
    * activity cut and every pair's moments retract as data arrives
    * (the motifs posture). */
  def crossCorrPairs(df: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, topSeries: Int = 40,
                     minOverlap: Long = 24L, topPairs: Int = 20,
                     bucketSec: Long = 3600L): DataFrame =
    Checkpoints.scoped { s =>
    require(topSeries >= 2 && topPairs >= 1 && minOverlap >= 2 && bucketSec >= 1)
    val vc = round(col(valueCol) * 1000000).cast("long")
    // materialized ONCE: the bucket aggregate feeds BOTH the activity
    // cut and the pair stage — left lazy, the corpus scan + shuffle
    // aggregate would run twice; the checkpoint is |K|·|buckets| rows
    val hourly = s.checkpoint(df.select(col(keyCol).cast("long").as("k"),
        unix_micros(col(tsCol).cast("timestamp")).as("us"), vc.as("vc"))
      .select(col("k"), expr(s"us div ${bucketSec * 1000000L}").as("hr"), col("vc"))
      .groupBy(col("k"), col("hr"))
      // decimal sum: an hourly micro-unit sum of a hot key must not
      // silently wrap a long
      .agg(sum(col("vc").cast("decimal(38,0)")).as("x"),
        count(lit(1)).as("c")))
    val top = hourly.groupBy(col("k")).agg(sum(col("c")).as("n_ev"))
      .orderBy(col("n_ev").desc, col("k")).limit(topSeries)
      .select(col("k"))
    val hf = hourly.join(broadcast(top), Seq("k")).select(col("k"), col("hr"), col("x"))
    val a = hf.select(col("k").as("ka"), col("hr"), col("x").as("xa"))
    val b = hf.select(col("k").as("kb"), col("hr"), col("x").as("xb"))
    val pairs = a.join(b, a("hr") === b("hr") && col("ka") < col("kb"))
      .groupBy(col("ka"), col("kb"))
      .agg(count(lit(1)).as("n"),
        sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
        sum(col("xa") * col("xb")).as("sxy"),
        sum(col("xa") * col("xa")).as("sxx"),
        sum(col("xb") * col("xb")).as("syy"))
    val scored = pairs.select(col("ka"), col("kb"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("dx"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("dy"))
      .filter(col("n") >= minOverlap && col("dx") > 0 && col("dy") > 0)
      .withColumn("corr_raw", col("num").cast("double") /
        sqrt(col("dx").cast("double") * col("dy").cast("double")))
    scored.orderBy(abs(col("corr_raw")).desc, col("ka"), col("kb"))
      .limit(topPairs)
      .select(col("ka"), col("kb"), col("n"),
        round(col("corr_raw"), 6).as("corr"))
      .localCheckpoint()
  }

  /** The pure Holt step — EXACTLY the JVM double ops of
    * [[holtFinal]]'s fold, shared by the streaming twin so stream ≡
    * batch is structural, not coincidental. None seeds (x, 0). */
  def holtStep(s: Option[(Double, Double)], x: Double,
               alpha: Double, beta: Double): (Double, Double) = s match {
    case None => (x, 0.0)
    case Some((l, b)) =>
      val nl = alpha * x + (1.0 - alpha) * (l + b)
      (nl, beta * (nl - l) + (1.0 - beta) * b)
  }

  /** Streaming twin of [[holtFinal]]: per-key state is TWO DOUBLES at
    * any stream length; each arrival advances the recurrence once and
    * emits the key's running (level, trend) — the live forecaster
    * whose LAST emission per key equals the batch fold's final state
    * exactly (TimeSeriesStreamSpec pins it across uneven
    * micro-batches). Within a micro-batch rows sort by the order
    * column; late/out-of-order data across batches is out of
    * contract, as in [[saxStream]]. */
  def holtStream(df: DataFrame, keyCol: String, orderCol: String,
                 valueCol: String,
                 alpha: Double = 0.2, beta: Double = 0.1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(keyCol).cast("long").as("key"),
        col(orderCol).cast("long").as("ord"),
        col(valueCol).cast("double").as("x"))
      .as[TsXRow]
    SecondarySort.keyedFoldStream(rows)(_.key, _.ord,
      () => TsHoltState(0.0, 0.0, seeded = false),
      (st: TsHoltState, r: TsXRow) => {
        val (nl, nb) = holtStep(
          if (st.seeded) Some((st.l, st.b)) else None, r.x, alpha, beta)
        (TsHoltState(nl, nb, seeded = true), Seq(TsHoltOut(r.key, r.ord, nl, nb)))
      }).toDF(keyCol, orderCol, "level", "trend")
  }
}
