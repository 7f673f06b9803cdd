package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column <-> Catalyst Expression
  * conversions, so graft can expose custom codegen'd expressions as
  * ordinary `Column`s. Lives under `org.apache.spark.sql` purely for
  * access scope — the standard pattern for third-party Spark
  * expression libraries.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Bind a SQL-callable temp function backed by a Catalyst expression
    * builder (`sessionState.functionRegistry` is private[sql] — this is
    * the whole reason the bridge package exists). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** Apply a built `SparkSessionExtensions`' function registrations and
    * planner strategies to a session — the `registerFunctions` and
    * `buildPlannerStrategies` calls `BaseSessionStateBuilder` makes
    * when `spark.sql.extensions` names the class at session build (the
    * strategies land in `experimental.extraStrategies`, which the
    * planner also tries first); exposed so tests can exercise that
    * path against a live session (static confs cannot be injected into
    * an already-running context). */
  def applyExtensions(spark: org.apache.spark.sql.SparkSession,
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.registerFunctions(spark.sessionState.functionRegistry)
    spark.experimental.extraStrategies =
      ext.buildPlannerStrategies(spark) ++ spark.experimental.extraStrategies
  }
}
