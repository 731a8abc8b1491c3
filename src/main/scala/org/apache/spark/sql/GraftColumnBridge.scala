package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column↔Expression converters (Spark 4
  * moved Column onto ColumnNode; classic.ExpressionUtils is the supported
  * internal shim). Lives in org.apache.spark.sql purely for access scope.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager ColumnNode→catalyst conversion. `expression` above wraps the node
    * lazily (ColumnNodeExpression), which only standard operators unwrap —
    * expressions embedded in CUSTOM logical nodes must be converted up front
    * so the analyzer sees plain catalyst UnresolvedAttributes it can resolve.
    */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** DataFrame from a custom logical plan (Dataset.ofRows is private[sql]). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Apply a SparkSessionExtensions configuration to an ALREADY-RUNNING
    * session. `spark.sql.extensions` is static config — it only takes effect
    * on a fresh SparkContext — so this replays the extension's function and
    * strategy injections onto the live session state (registerFunctions /
    * buildPlannerStrategies are private[sql], hence the bridge). Functions
    * and strategies the session already has are skipped, so replaying the
    * same extension on every query run changes nothing after the first.
    */
  def applyExtensions(spark: SparkSession, ext: SparkSessionExtensions => Unit): Unit = {
    val e = new SparkSessionExtensions
    ext(e)
    val injected = new catalyst.analysis.SimpleFunctionRegistry
    e.registerFunctions(injected)
    val reg = spark.sessionState.functionRegistry
    injected.listFunction().filterNot(reg.functionExists).foreach { f =>
      reg.registerFunction(f, injected.lookupFunction(f).get,
        injected.lookupFunctionBuilder(f).get)
    }
    val have = spark.experimental.extraStrategies
    spark.experimental.extraStrategies =
      have ++ e.buildPlannerStrategies(spark).filterNot(have.contains)
  }

  /** Analyzed logical plan of a DataFrame (queryExecution is classic-only). */
  def plan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.DataFrame].queryExecution.analyzed
}
