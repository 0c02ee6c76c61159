package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionColumnNode, ExpressionUtils}

/** Package-placed bridge: Spark 4 made the Expression↔Column seams
  * (`ExpressionUtils`, `ColumnNode`) private[sql]; custom native
  * expressions still need them to surface as Columns in classic mode.
  * The listener bus is private[spark] too. This is the only file
  * outside the graft namespace.
  */
object GraftSqlBridge {
  def toColumn(e: Expression): Column = Column(ExpressionColumnNode(e))
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached every listener
    * (`graft.tools.TaskMeter` reads task ends only after this). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Runtime twin of [[graft.GraftExtensions]]: register every native
    * graft function on an EXISTING session so `spark.sql(...)` can
    * call them (the extensions class only applies at session build
    * time; this covers notebooks/REPLs already holding a session). */
  def registerAll(spark: SparkSession): Unit =
    graft.functions.GraftFunctions.all.foreach { case (name, builder, _) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
