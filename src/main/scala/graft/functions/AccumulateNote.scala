package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType
import org.apache.spark.util.LongAccumulator

/** Identity pass-through that bumps a [[LongAccumulator]] once per
  * evaluated row — the codegen'd replacement for the one Scala UDF the
  * repo had left (VERDICT r9 #8: `udf(bsize => { acc.add(1); bsize })`
  * in Dedup.saltedBucketGroups forced a BatchEvalPython-class break in
  * an otherwise whole-stage-codegen'd projection). As a native
  * expression the bump is one virtual call inside the generated loop;
  * the projection stays fused.
  *
  * Signal semantics are unchanged: evaluation count ≈ row count (task
  * retries and speculative duplicates can over-count), so the value is
  * an observability signal, never an input to correctness decisions.
  * Callers typically guard it with when(), so only the rare branch
  * pays the call at all.
  */
case class AccumulateNote(child: Expression, acc: LongAccumulator)
    extends UnaryExpression {

  override def dataType: DataType = child.dataType

  override def nullSafeEval(input: Any): Any = { acc.add(1L); input }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("noteAcc", acc, classOf[LongAccumulator].getName)
    nullSafeCodeGen(ctx, ev, c => s"$ref.add(1L); ${ev.value} = $c;")
  }

  override def prettyName: String = "accumulate_note"
  override protected def withNewChildInternal(newChild: Expression): AccumulateNote =
    copy(child = newChild)
}

object AccumulateNote {
  /** Column wrapper: returns `c` unchanged, bumping `acc` per row. */
  def accumulateNote(c: Column, acc: LongAccumulator): Column =
    GraftSqlBridge.toColumn(AccumulateNote(GraftSqlBridge.toExpression(c), acc))
}

/** One named [[LongAccumulator]] per live SparkContext — the counter an
  * [[AccumulateNote]] (or a driver-side `add`) bumps, read back as a
  * session-scoped observability signal. Stopped contexts are evicted
  * on each registration, so a context-cycling JVM (test harness,
  * notebook server) doesn't grow the map without bound. */
final class ContextCounter(name: String) {
  private val accs = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, LongAccumulator]()

  /** This session's accumulator, registered on first use. */
  def apply(spark: org.apache.spark.sql.SparkSession): LongAccumulator = {
    accs.keySet.removeIf(_.isStopped)
    accs.computeIfAbsent(spark.sparkContext, sc => sc.longAccumulator(name))
  }

  /** The count on this session's context so far — 0, without
    * registering anything, when nothing was ever counted there. */
  def value(spark: org.apache.spark.sql.SparkSession): Long =
    Option(accs.get(spark.sparkContext)).fold(0L)(_.value.longValue)
}
