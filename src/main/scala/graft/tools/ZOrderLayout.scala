package graft.tools

import scala.collection.Searching.{Found, InsertionPoint}

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.InterleaveBits

/** Z-order (Morton-curve) file layout — the multi-dimensional
  * data-skipping primitive: sort rows by the bit-interleave of k
  * bucketed clustering columns before writing, and every parquet
  * file / row group ends up with a TIGHT min/max envelope in EVERY
  * clustering column simultaneously (a linear sort gives that for the
  * leading column only). A box predicate on any subset of the
  * clustering columns then prunes most files from the footer stats
  * alone — at 100 TB this is the difference between scanning the
  * shard that can match and scanning the table (the OPTIMIZE
  * ZORDER BY discipline of lakehouse formats; Morton 1966).
  *
  * Scale shape: one count of rows per curve-key prefix (the file cut
  * points, balanced even when the value distribution is skewed), ONE
  * exchange routing each row to its file + an in-partition sort — no
  * global sort; numFiles is the layout knob (tableBytes /
  * targetFileBytes, same sizing rule as [[BucketedLayout]]).
  *
  * ZOrderLayoutSpec carries the receipt: on a 2-D uniform corpus a
  * non-leading-column box scan touches a fraction of the z-layout's
  * files but ~all of the linear layout's, both via footer min/max
  * intersection (deterministic) and executed recordsRead.
  */
object ZOrderLayout {

  /** Morton key of `cols` at `bits` bits each (k·bits ≤ 63). Values
    * must already sit in [0, 2^bits) — see [[rangeBucket]]; the native
    * expression raises loudly on out-of-domain values rather than
    * folding distant keys together. */
  def zvalue(cols: Seq[Column], bits: Int): Column =
    InterleaveBits.interleaveBits(cols, bits)

  /** Linear bucketing of a numeric column into [0, 2^bits) for curve
    * input: values OUTSIDE [min, max] raise in-plan (a silent clamp
    * would pile out-of-range rows onto the curve's edge cells and
    * quietly break the per-cell envelope the layout promises). min/max
    * come from the caller's domain knowledge or a prior stats pass —
    * at scale they are table constants, not a per-write aggregate. */
  def rangeBucket(c: Column, min: Double, max: Double, bits: Int): Column = {
    require(max > min, s"rangeBucket: max $max must exceed min $min")
    require(bits >= 1 && bits <= 31, s"rangeBucket: bits $bits outside [1, 31]")
    val cells = (1L << bits).toDouble
    val raw = floor((c.cast("double") - lit(min)) / lit(max - min) * lit(cells))
    val bucket = least(raw, lit(cells - 1)) // value == max lands in the top cell
    // NaN would slide past both range comparisons and land in the top
    // cell via least() (NaN sorts greatest) — the silent-clamp failure
    // this function exists to refuse; raise on it explicitly
    when(c.isNull, lit(null).cast("long"))
      .when(isnan(c.cast("double")) || c < min || c > max,
        raise_error(concat(
          lit(s"rangeBucket: value outside [$min, $max]: "), c.cast("string"))))
      .otherwise(bucket.cast("long"))
  }

  /** Curve key for `curve` ∈ {morton, hilbert}: Morton interleaves
    * any k columns; Hilbert matches that generality since r12 —
    * k = 2 keeps the classical xy→d loop (its DuckDB recursive-CTE
    * twin replays exactly that form), k ≥ 3 routes to the Skilling
    * transpose kernel ([[graft.functions.HilbertIndexK]]) — both with
    * unit-step continuity, i.e. tighter regions per equal curve range
    * than Morton's quadrant jumps. */
  def curveKey(cols: Seq[Column], bits: Int, curve: String): Column = curve match {
    case "morton" => zvalue(cols, bits)
    case "hilbert" if cols.length == 2 =>
      graft.functions.HilbertIndex.hilbertXY(cols(0), cols(1), bits)
    case "hilbert" =>
      graft.functions.HilbertIndexK.hilbertK(cols, bits)
    case other =>
      throw new IllegalArgumentException(
        s"ZOrderLayout: unknown curve '$other' (morton | hilbert)")
  }

  /** Curve-family tag for a written layout (the
    * [[SignatureStore.Family]] pattern, VERDICT r12 #4): the key under
    * a layout's file ordering is a function of curve KIND, ORIENTATION
    * (the k = 2 classical loop and the Skilling transpose are both
    * valid Hilbert curves but NOT bit-equal — `HilbertIndexK` scaladoc)
    * and BITS — a reader that range-prunes curve-key intervals against
    * a layout written under a different one reads the WRONG files with
    * no error. The tag pins all three; bump a version suffix on any
    * kernel change. */
  def curveFamily(k: Int, bits: Int, curve: String): String = curve match {
    case "morton"             => s"morton-v1-k$k-b$bits"
    case "hilbert" if k == 2  => s"hilbert-classic-v1-k2-b$bits"
    case "hilbert"            => s"hilbert-skilling-v1-k$k-b$bits"
    case other =>
      throw new IllegalArgumentException(
        s"ZOrderLayout: unknown curve '$other' (morton | hilbert)")
  }

  /** Sidecar carrying the curve family, written AFTER the parquet
    * files (a real warehouse bakes this into table properties; the
    * call-site contract is identical). */
  private val FamilyMarker = "_GRAFT_CURVE"

  /** The written layout's curve family, if tagged. */
  def readFamily(path: String): Option[String] = {
    val f = new java.io.File(path, FamilyMarker)
    if (f.isFile) Some(java.nio.file.Files.readString(f.toPath).trim) else None
  }

  /** Refuse to serve a curve-key reader against a layout whose family
    * doesn't match — or that carries NO tag (an unversioned layout is
    * indistinguishable from a foreign one; rebuild it). Silent
    * mis-pruning is the failure this trades for a loud raise. */
  def requireFamily(path: String, k: Int, bits: Int, curve: String): Unit = {
    val want = curveFamily(k, bits, curve)
    readFamily(path) match {
      case Some(got) if got == want =>
      case Some(got) => throw new IllegalArgumentException(
        s"ZOrderLayout: layout at $path was written under curve family " +
          s"'$got', this reader prunes '$want' - key ranges would select " +
          "the wrong files; rebuild the layout or match the curve")
      case None => throw new IllegalArgumentException(
        s"ZOrderLayout: layout at $path carries no curve-family tag - " +
          s"cannot verify it matches '$want'; rebuild it with " +
          "ZOrderLayout.write (which tags) before range-pruning")
    }
  }

  /** Write `df` curve-ordered by `zCols` (already bucketed to
    * [0, 2^bits)) into `path` as `numFiles` parquet files: one
    * exchange on the file of each curve key ([[byFile]]), in-partition
    * sort, key dropped before write (the skipping payoff lives in the
    * ORIGINAL columns' per-file stats — persisting the derived key is
    * the caller's choice via keepZ). The curve-family sidecar is
    * written LAST. */
  def write(df: DataFrame, path: String, zCols: Seq[Column], bits: Int,
            numFiles: Int, keepZ: Boolean = false,
            curve: String = "morton"): Unit = {
    require(numFiles >= 1, s"ZOrderLayout.write: numFiles $numFiles < 1")
    val zc = "_graft_z"
    val keyed = df.withColumn(zc, curveKey(zCols, bits, curve))
    val laid =
      if (numFiles == 1) keyed.coalesce(1).sortWithinPartitions(zc)
      else byFile(keyed, zc, zCols.length * bits, numFiles).sortWithinPartitions(zc)
    (if (keepZ) laid else laid.drop(zc))
      .write.mode("overwrite").parquet(path)
    java.nio.file.Files.writeString(
      new java.io.File(path, FamilyMarker).toPath,
      curveFamily(zCols.length, bits, curve) + "\n"): Unit
  }

  /** `keyed` in `numFiles` partitions, one per file, each holding one
    * contiguous range of the curve key `zc` (nulls in the first). The
    * cuts come from an exact count of rows per 16-bit key prefix, so the
    * same rows give the same files whatever the session ran before
    * (repartitionByRange samples with seeds taken from RDD ids). */
  private def byFile(keyed: DataFrame, zc: String, keyBits: Int, numFiles: Int): DataFrame = {
    val shift = math.max(0, keyBits - 16)
    val counts = keyed.groupBy(shiftright(col(zc), shift)).count().na.drop().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val before = counts.scanLeft(0L)(_ + _._2)
    // file f starts at the first prefix with f/numFiles of the rows
    // before it; a prefix holding more than a file's share means fewer files
    val cuts = (1 until numFiles).flatMap(f =>
      counts.lift(before.indexWhere(_ * numFiles >= f * before.last)).map(_._1)).distinct
    val z = keyed.schema.fieldIndex(zc)
    val routed = keyed.rdd.keyBy { r =>
      if (r.isNullAt(z)) 0
      else cuts.search(r.getLong(z) >> shift) match {
        case Found(i) => i + 1
        case InsertionPoint(i) => i
      }
    }
    // an Int's hash is itself: HashPartitioner sends file f to partition f
    keyed.sparkSession.createDataFrame(
      routed.partitionBy(new HashPartitioner(numFiles)).values, keyed.schema)
  }
}
