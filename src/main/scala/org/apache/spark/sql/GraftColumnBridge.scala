package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's `private[sql]` Column ⇄ Expression converters.
  *
  * Spark 4 moved the classic `Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`. Declaring this object inside the `org.apache.spark.sql`
  * package (legal in our own source tree — it adds no code to Spark's
  * jars) is the supported-shape escape hatch for libraries that define
  * native Catalyst expressions and want to expose them as `Column`s
  * without going through the string-based `expr()` parser.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a builder-based SQL function on a LIVE session (the
    * classic FunctionRegistry is private[sql]; SparkSessionExtensions
    * only applies at session construction).
    */
  def registerFunction(spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** Register a TABLE function (`SELECT * FROM f(...)`) on a live
    * session — the TableFunctionRegistry is behind the same
    * `private[sql]` sessionState as the scalar registry above. The
    * builder maps the call-site argument expressions to the logical
    * plan the FROM clause resolves to.
    */
  def registerTableFunction(spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(ident, info, builder)

  /** The analyzed logical plan of a DataFrame — what a table-function
    * builder returns so `FROM f(...)` resolves to the frame's plan.
    */
  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** A DataFrame over `plan` — the Dataset-from-LogicalPlan factory
    * (`Dataset.ofRows` is `private[sql]`). Over a `LocalRelation` the
    * frame collects on the driver without a Spark job.
    */
  def dataFrame(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Collect `df` as Catalyst rows (copied `UnsafeRow`s) inside a SQL
    * execution, as `collect()` does, without the conversion to
    * external `Row`s.
    */
  def collectInternal(df: DataFrame): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** `spark.sql.autoBroadcastJoinThreshold` in bytes (-1 = off). */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** The type a union of columns typed `a` and `b` takes under the
    * session's coercion rules (ANSI or not), or None when they do not
    * unify. */
  def unionType(spark: SparkSession, a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Option[org.apache.spark.sql.types.DataType] =
    if (spark.sessionState.conf.ansiEnabled)
      org.apache.spark.sql.catalyst.analysis.AnsiTypeCoercion.findWiderTypeForTwo(a, b)
    else org.apache.spark.sql.catalyst.analysis.TypeCoercion.findWiderTypeForTwo(a, b)

  /** The optimizer's size estimate of `df`, as broadcast planning reads it. */
  def sizeInBytes(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** The session's name resolver (case-insensitive unless
    * `spark.sql.caseSensitive`). */
  def resolver(spark: SparkSession): org.apache.spark.sql.catalyst.analysis.Resolver =
    spark.sessionState.conf.resolver
}
