package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

// streaming-twin rows/state (top-level for implicit product encoders,
// the TimeSeries.TsRow discipline). Stage instants use Long.MinValue
// as the unset sentinel so the state encoder stays a flat product.
case class EvFunRow(user: Long, etype: String, us: Long)
case class EvFunState(ts: Vector[Long])
case class EvFunOut(user: Long, stage: String, stage_us: Long)
case class EvRetRow(user: Long, day: Long)
case class EvRetState(cohort: Long, lastDay: Long)
case class EvRetOut(user: Long, cohort_day: Long, day_offset: Long)

/** Product-analytics primitives over keyed event streams: the
  * strict-order conversion funnel and the cohort-retention triangle —
  * the two queries every event warehouse runs daily, here with the
  * engine's exactness discipline (all-integer instants and counts, so
  * cross-engine hashes match with no fp anywhere).
  */
object EventAnalytics {

  /** Strict-order funnel: for each user, stage i's instant is the
    * earliest event of `stages(i)` STRICTLY after stage i−1's instant
    * (stage 0 is the user's earliest stage-0 event). Emits ONE row of
    * per-stage user counts, columns `n_<stage>`.
    *
    * A tie at the same microsecond fails the strict inequality — the
    * deterministic contract both engines share (no tiebreak needed,
    * because no order within a microsecond is defined).
    *
    * Scale shape: each stage is a full-partition conditional window
    * MIN referencing the previous stage's column, so the WHOLE funnel
    * rides one per-user hash partitioning — k window projects, one
    * per-user collapse that reuses the partitioning, one single-row
    * count aggregate. No joins, no second scan of the corpus. */
  def funnel(df: DataFrame, userCol: String, typeCol: String,
             tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty && stages.distinct == stages,
      "funnel: stages must be non-empty and distinct")
    val w = Window.partitionBy(col(userCol))
    val base = df.select(col(userCol), col(typeCol).as("_etype"),
      unix_micros(col(tsCol).cast("timestamp")).as("_us"))
    val staged = stages.zipWithIndex.foldLeft(base) { case (acc, (st, i)) =>
      val cond =
        if (i == 0) col("_etype") === st
        else col("_etype") === st && col("_us") > col(s"_t${i - 1}")
      acc.withColumn(s"_t$i", min(when(cond, col("_us"))).over(w))
    }
    val perUser = staged.groupBy(col(userCol))
      .agg(max(col("_t0")).as("_t0"),
        stages.indices.drop(1).map(i => max(col(s"_t$i")).as(s"_t$i")): _*)
    val counts = stages.zipWithIndex.map { case (st, i) =>
      sum(when(col(s"_t$i").isNotNull, 1L).otherwise(0L)).as(s"n_$st")
    }
    perUser.agg(counts.head, counts.tail: _*)
  }

  /** Cohort retention: users grouped by their first active day (the
    * cohort), counted per day-offset they return on. Each user
    * contributes exactly one (user, day) row per active day, so the
    * plain count IS the distinct-user count.
    *
    * Scale shape — TWO exchanges, ZERO joins: one explicit
    * repartition on the user lets the (user, day) dedup aggregate
    * RIDE it (hash partitioning on a subset of the grouping keys
    * satisfies the aggregate's distribution) and the per-user cohort
    * becomes a full-partition window MIN on the deduped rows instead
    * of a separate aggregate joined back (which would cost a
    * (user, day)-keyed exchange, a user-keyed exchange, AND a join);
    * only the final bounded (cohort, offset) count exchanges again. */
  /** Market-basket association rules (Agrawal & Srikant, VLDB 1994's
    * measures over item PAIRS): the top-`topK` co-occurring item
    * pairs by LIFT = N·c(ab) / (c(a)·c(b)), with support and
    * confidence — "frequently bought together", the basket twin of
    * the PMI collocation miner (lift IS e^PMI on baskets). Pairs
    * under `minCount` baskets are pruned BEFORE any join (the classic
    * low-count inflation guard, and the work bound: the scoring joins
    * touch only surviving pairs).
    *
    * All three measures are EXACT INTEGER micro-units (floor-divided
    * count ratios; the lift numerator N·c(ab)·10⁶ widens to
    * decimal/HUGEINT), so ranking is bit-deterministic with no fp
    * anywhere. Scale shape: the basket self-join's per-basket fan-out
    * is the caller's contract (bounded naturally when baskets are
    * small — a TPC-H order has ≤ 7 lines); item counts join onto the
    * PRUNED pair stream; N is a one-row broadcast. */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minCount: Long = 5L, topK: Int = 20): DataFrame =
    Checkpoints.scoped { s =>
    require(minCount >= 1 && topK >= 1)
    // materialized ONCE: the distinct basket-item set feeds N, the
    // item counts, and the pair stream
    val lp = s.checkpoint(df.select(col(basketCol).cast("long").as("bk"),
        col(itemCol).cast("long").as("it"))
      .distinct())
    val n = lp.agg(countDistinct(col("bk")).as("nb"))
    val ic = lp.groupBy(col("it")).agg(count(lit(1)).as("c1"))
    val pairs = lp.select(col("bk"), col("it").as("pa"))
      .join(lp.select(col("bk"), col("it").as("pb")), Seq("bk"))
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
    pairs
      .join(ic.select(col("it").as("pa"), col("c1").as("ca")), Seq("pa"))
      .join(ic.select(col("it").as("pb"), col("c1").as("cb")), Seq("pb"))
      .crossJoin(broadcast(n))
      .select(col("pa"), col("pb"), col("cab"), col("ca"), col("cb"),
        expr("(1000000 * cab) div nb").as("support_micro"),
        expr("(1000000 * cab) div ca").as("conf_micro"),
        expr("CAST((CAST(nb AS DECIMAL(38,0)) * cab * 1000000) div " +
          "(CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("pa"), col("pb"))
      .limit(topK)
      .localCheckpoint()
  }

  def retention(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
    df.select(col(userCol),
        unix_micros(col(tsCol).cast("timestamp")).as("_us"))
      .select(col(userCol), expr("_us div 86400000000").as("day"))
      .repartition(col(userCol))
      .groupBy(col(userCol), col("day")).agg(count(lit(1)).as("_c"))
      .withColumn("cohort_day", min(col("day")).over(w))
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Streaming twin of [[funnel]] (VERDICT r9 #6): per-user bounded
    * state — one instant per stage, fixed width at any stream length —
    * advancing by the SAME strict-order rule (stage i's instant is the
    * first `stages(i)` event STRICTLY after stage i−1's instant).
    * Emits one APPEND row per newly-completed (user, stage): a stage
    * instant never changes once set, so the emission stream is
    * monotone and `groupBy(stage).count()` under update mode is the
    * running funnel — its final counts equal the batch [[funnel]]'s
    * `n_<stage>` row exactly (EventAnalyticsStreamSpec pins it across
    * uneven micro-batches).
    *
    * In-order-per-user contract (the ts-twin discipline): rows sort by
    * instant within a micro-batch, state carries the stage vector
    * across batches, so per-user event-time order across batches makes
    * stream ≡ batch exact — the first stage-0 arrival IS the batch's
    * window MIN. Equal-instant events need no tiebreak: the strict
    * inequality fails at the same microsecond in both forms. Late
    * (cross-batch out-of-order) data is out of contract, as in
    * [[TimeSeries.saxStream]]. */
  def funnelStream(df: DataFrame, userCol: String, typeCol: String,
                   tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty && stages.distinct == stages,
      "funnelStream: stages must be non-empty and distinct")
    val spark = df.sparkSession
    import spark.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    val k = stages.size
    val rows = df.select(col(userCol).cast("long").as("user"),
        col(typeCol).as("etype"),
        unix_micros(col(tsCol).cast("timestamp")).as("us"))
      .as[EvFunRow]
    SecondarySort.keyedFoldStream(rows)(_.user, _.us,
      () => EvFunState(Vector.fill(k)(Long.MinValue)),
      (st: EvFunState, r: EvFunRow) => {
        val ts = st.ts
        stageIdx.get(r.etype) match {
          case Some(i) if ts(i) == Long.MinValue &&
              (i == 0 || (ts(i - 1) != Long.MinValue && r.us > ts(i - 1))) =>
            (EvFunState(ts.updated(i, r.us)), Seq(EvFunOut(r.user, stages(i), r.us)))
          case _ => (st, Seq.empty)
        }
      }).toDF(userCol, "stage", "stage_us")
  }

  /** Streaming twin of [[retention]] (VERDICT r9 #6): per-user O(1)
    * state — the cohort day plus the last active day (the
    * one-observation-per-key discipline of
    * [[TimeSeries.resampleStream]]). Each first-activity-of-a-day
    * emits one APPEND (user, cohort_day, day_offset) row; days repeat
    * within the emission stream never (state skips them), so
    * `groupBy(cohort_day, day_offset).count()` under update mode IS
    * the retention triangle and its final counts equal the batch
    * [[retention]] exactly (EventAnalyticsStreamSpec pins it).
    *
    * In-order-per-user contract: days sort within a micro-batch and
    * must be non-decreasing across batches (then the first day seen IS
    * the batch window-MIN cohort); late cross-batch data is out of
    * contract, as in [[funnelStream]]. */
  def retentionStream(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(userCol).cast("long").as("user"),
        expr(s"unix_micros(CAST(${tsCol} AS TIMESTAMP)) div 86400000000").as("day"))
      .as[EvRetRow]
    SecondarySort.keyedFoldStream(rows)(_.user, _.day,
      () => EvRetState(Long.MinValue, Long.MinValue),
      (st: EvRetState, r: EvRetRow) =>
        if (st.cohort == Long.MinValue)
          (EvRetState(r.day, r.day), Seq(EvRetOut(r.user, r.day, 0L)))
        else if (r.day > st.lastDay)
          (st.copy(lastDay = r.day), Seq(EvRetOut(r.user, st.cohort, r.day - st.cohort)))
        // r.day == lastDay: same-day repeat, already emitted;
        // r.day < lastDay: cross-batch late data, out of contract
        else (st, Seq.empty)
    ).toDF(userCol, "cohort_day", "day_offset")
  }
}
