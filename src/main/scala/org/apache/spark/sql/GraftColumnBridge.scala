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

  /** `df` collected once ([[collectInternal]]) into a frame over a
    * `LocalRelation` of the same schema: later reads of it run no Spark
    * job, and timestamps and arrays keep their exact Catalyst values.
    */
  def collectLocal(df: DataFrame): DataFrame =
    dataFrame(df.sparkSession, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(df.schema), collectInternal(df)))

  /** The `LocalRelation` `df`'s optimized plan is, if it is one: its
    * rows are on the driver already. */
  def localRelation(df: DataFrame): Option[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => Some(l)
      case _ => None
    }

  private lazy val asyncPool = org.apache.spark.util.ThreadUtils.newDaemonCachedThreadPool("graft-async", 16)

  /** Runs `body` on a pool thread with the caller's active session and
    * local properties (job group and tags, the streaming query id), as
    * Spark's own subquery and broadcast threads do. [[await]] it. */
  def async[T](spark: SparkSession)(body: => T): java.util.concurrent.CompletableFuture[T] =
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], asyncPool)(body)

  /** `f`'s value once it completes; a failed body rethrows its own
    * exception, unwrapped. */
  def await[T](f: java.util.concurrent.CompletableFuture[T]): T =
    try f.join() catch {
      case e: java.util.concurrent.CompletionException if e.getCause != null => throw e.getCause
    }

  /** `spark.sql.autoBroadcastJoinThreshold` in bytes (-1 = off). */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** The shuffle output size in bytes that adaptive execution always
    * coalesces into one partition,
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (-1 when
    * adaptive execution or its coalescing is off). */
  def onePartitionBytes(spark: SparkSession): Long = {
    val conf = spark.sessionState.conf
    if (conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled)
      conf.getConf(org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else -1L
  }

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
