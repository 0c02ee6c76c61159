package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Snapshot.applyLogStream]] row/state/output shapes. */
case class SnapLogRow(k: Long, v: Long, op: String, lfp: String)
case class SnapApplyState(v: Long, fp: String, live: Boolean, origin: String)
case class SnapApplyOut(k: Long, fp: String, origin: String, live: Boolean)

/** Keyed snapshot diff — the dataset-versioning primitive: which keys
  * were added, removed, changed, or untouched between two corpus
  * snapshots (nightly crawl vs current training set, table version N
  * vs N+1). The CDC shape every incremental curation pipeline starts
  * from: downstream stages re-process ONLY `added ∪ changed` instead
  * of the corpus.
  *
  * Scale shape: each side collapses to (key, 32-char content
  * fingerprint) BEFORE the join, so the full-outer join shuffles two
  * narrow frames on the key and never moves content (the
  * [[Dedup.exact]] never-shuffle-raw-text discipline). Content
  * equality is md5 over the declared columns joined with a 
  * separator — the separator keeps ("ab","c") and ("a","bc")
  * distinct; md5 because both engines of the oracle contract spell
  * it identically. Batch by contract: snapshot membership is a
  * snapshot-wide fact (the [[Dedup.editDistancePairs]] posture); the
  * streaming-adjacent shape is a CDC log source, which replaces this
  * operator rather than approximating it.
  */
object Snapshot {

  /** Apply an ordered change log onto a base snapshot — the MERGE
    * INTO / CDC-compaction shape: per key the HIGHEST-version log
    * entry wins ('I'nsert/'U'psert keep its content, 'D'elete drops
    * the key), keys untouched by the log pass through. Returns
    * (key, fp, origin ∈ base|log) — content travels as its md5
    * fingerprint, so (as in [[diff]]) nothing wider than 40 bytes
    * shuffles; callers needing payloads join the winner keys back.
    *
    * Plan: one hash max-aggregate on (key → version), one equi join
    * back to the log (both sides the narrow log frame), one
    * full-outer join with the fingerprinted base — hash-friendly
    * end to end (op stays a projected string, never an aggregate
    * buffer). Contracts, LOUD where a row can violate them: an op
    * outside {I, U, D} raises in-plan; (key, version) pairs are
    * unique and versions totally ordered per key BY CONTRACT (the
    * CDC log's own invariant — a duplicate pair would duplicate its
    * key's output row; SnapshotSpec pins the semantics). Delete of
    * an absent key is a no-op, matching MERGE WHEN MATCHED
    * semantics. */
  def applyLog(base: DataFrame, log: DataFrame, keyCol: String,
               versionCol: String, opCol: String,
               contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "Snapshot.applyLog: no content columns declared")
    val bfp = base.select(col(keyCol).as("k"),
      md5(concat_ws("\u0001", contentCols.map(col): _*)).as("fp"))
    val lg = log.select(col(keyCol).as("k"),
      col(versionCol).cast("long").as("v"),
      when(col(opCol).isin("I", "U", "D"), col(opCol))
        .otherwise(raise_error(concat(
          lit("Snapshot.applyLog: op must be I, U or D, got: "),
          col(opCol).cast("string")))).as("op"),
      md5(concat_ws("\u0001", contentCols.map(col): _*)).as("lfp"))
    val winners = lg.groupBy(col("k")).agg(max(col("v")).as("v"))
    val win = lg.join(winners, Seq("k", "v")).select(col("k"), col("op"), col("lfp"))
    bfp.join(win.withColumnRenamed("k", "kw"),
        col("k") === col("kw"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(coalesce(col("k"), col("kw")).as(keyCol),
        when(col("kw").isNotNull, col("lfp")).otherwise(col("fp")).as("fp"),
        when(col("kw").isNotNull, "log").otherwise("base").as("origin"))
  }

  /** (key, status ∈ added|removed|changed|unchanged, old_fp, new_fp)
    * for every key in either snapshot. NULL content columns
    * fingerprint as the empty-slot form of concat_ws (dropped from
    * the join of parts) — identical on both engines; a NULL KEY has
    * no identity to diff and is refused loudly in-plan. */
  def diff(oldSnap: DataFrame, newSnap: DataFrame,
           keyCol: String, contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "Snapshot.diff: no content columns declared")
    def side(df: DataFrame, fpName: String) = df.select(
      when(col(keyCol).isNull,
        raise_error(lit(s"Snapshot.diff: NULL $keyCol has no identity to diff")))
        .otherwise(col(keyCol)).as("k"),
      md5(concat_ws("\u0001", contentCols.map(col): _*)).as(fpName))
    side(oldSnap, "old_fp")
      .join(side(newSnap, "new_fp")
        .withColumnRenamed("k", "kn"), col("k") === col("kn"), "full_outer")
      .select(coalesce(col("k"), col("kn")).as(keyCol),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") =!= col("new_fp"), "changed")
          .otherwise("unchanged").as("status"),
        col("old_fp"), col("new_fp"))
  }

  /** Streaming twin of [[applyLog]] — the CDC log served AS the
    * stream it naturally is: a materialized view keyed by `keyCol`,
    * initialized from the BASE snapshot (flatMapGroupsWithState
    * initial state — the base is read once, never per batch) and
    * updated by each micro-batch's winners. Per-key state is ONE
    * (version, fp, live) tuple; arrivals fold by max version, so any
    * within- or cross-batch arrival ORDER yields the batch result
    * (SnapshotSpec pins final-emission ≡ batch applyLog across
    * uneven out-of-order micro-batches). Each batch emits the keys
    * it changed — current fingerprint for live keys, a live=false
    * TOMBSTONE for deletes of keys that were VISIBLE at batch start
    * (the batch twin's delete-of-absent no-op holds: a key never
    * seen, or born-and-deleted inside one batch, emits nothing, and
    * repeated deletes never re-emit); keys the log never touches
    * stay silent in their initial base state. Integral keys by
    * contract (the state key encoder); unknown ops raise in-plan as
    * in the batch form. Hand-rolled, not a keyed fold: it has an initial
    * state, and a batch's emission depends on its START state. */
  def applyLogStream(base: DataFrame, log: DataFrame, keyCol: String,
                     versionCol: String, opCol: String,
                     contentCols: Seq[String]): DataFrame = {
    require(log.isStreaming, "applyLogStream serves a streaming change log")
    require(contentCols.nonEmpty, "Snapshot.applyLogStream: no content columns declared")
    // "integral keys by contract" enforced, not just documented (r11
    // ADVICE): a string key would cast('long') to NULL under non-ANSI
    // semantics, collapsing every row into one null-keyed state group —
    // silent corruption, so refuse the schema up front on BOTH inputs
    Seq("base" -> base, "log" -> log).foreach { case (side, df) =>
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
      val dt = df.schema(keyCol).dataType
      require(Set[org.apache.spark.sql.types.DataType](
          ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"Snapshot.applyLogStream: $side.$keyCol must be integral (state key encoder), got $dt")
    }
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = log.sparkSession
    import spark.implicits._
    val init = base.select(col(keyCol).cast("long").as("k"),
        md5(concat_ws("\u0001", contentCols.map(col): _*)).as("fp"))
      .as[(Long, String)]
      .map { case (k, fp) => (k, SnapApplyState(Long.MinValue, fp, live = true, "base")) }
      .groupByKey(_._1).mapValues(_._2)
    log.select(col(keyCol).cast("long").as("k"),
        col(versionCol).cast("long").as("v"),
        when(col(opCol).isin("I", "U", "D"), col(opCol))
          .otherwise(raise_error(concat(
            lit("Snapshot.applyLogStream: op must be I, U or D, got: "),
            col(opCol).cast("string")))).as("op"),
        md5(concat_ws("\u0001", contentCols.map(col): _*)).as("lfp"))
      .as[SnapLogRow]
      .groupByKey(_.k)
      .flatMapGroupsWithState[SnapApplyState, SnapApplyOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout, init) {
        (k: Long, it: Iterator[SnapLogRow],
         st: org.apache.spark.sql.streaming.GroupState[SnapApplyState]) =>
          val start = st.getOption
            .getOrElse(SnapApplyState(Long.MinValue, null, live = false, "none"))
          var s = start
          it.foreach { r =>
            if (r.v > s.v)
              s = SnapApplyState(r.v, if (r.op == "D") null else r.lfp,
                r.op != "D", "log")
          }
          if (s == start) Iterator.empty
          else {
            st.update(s)
            // a dead end-state emits a tombstone ONLY if the key was
            // visible at batch start (base row or a previously-live
            // log state): the batch twin treats delete-of-absent as a
            // no-op, and a key both born and deleted inside one batch
            // was never externally visible — also deduplicates
            // repeated higher-version deletes across batches
            if (s.live || start.live)
              Iterator.single(SnapApplyOut(k, s.fp, s.origin, s.live))
            else Iterator.empty
          }
      }
      .toDF(keyCol, "fp", "origin", "live")
  }
}
