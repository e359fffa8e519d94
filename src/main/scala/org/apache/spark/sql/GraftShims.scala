package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Accessor shim: Spark 4's Expression↔Column converters live in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * private[sql]; this object re-exports the two conversions for
  * graft's custom Catalyst expressions (graft.functions). */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Temp-function registration on an existing session. The function
    * registry hangs off `sessionState`, which is private[sql]; graft
    * uses this for sessions it did not build (the driver's Verify
    * session) — sessions graft does build get the same builders via
    * `spark.sql.extensions=graft.GraftExtensions` instead. */
  def registerTempFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** EAGER Column → Expression conversion. The lazy form
    * ([[expression]]) wraps the column's node in a ColumnNodeExpression
    * placeholder that only standard plan-construction paths convert;
    * embedded in a CUSTOM logical node it would survive analysis and
    * fail task serialization. This runs the converter immediately,
    * yielding a plain (serializable, analyzable) catalyst tree. */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Analyzed logical plan of a DataFrame (private[sql] on classic
    * Dataset) — lets graft wrap a frame in a custom LogicalPlan node. */
  def logicalPlan(df: Dataset[Row]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** DataFrame over a custom LogicalPlan (classic.Dataset.ofRows is
    * private[sql]) — the return path from a custom node to user code. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Temp TABLE-function registration (FROM-clause / LATERAL
    * position) on an existing session — the table-function sibling of
    * [[registerTempFunction]]. */
  def registerTempTableFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Replace a checkpointed frame's INHERITED statistics with the
    * blocks' real materialized size.
    *
    * `Dataset.checkpoint`/`localCheckpoint` builds a [[execution.LogicalRDD]]
    * carrying `originStats = Some(child plan's ESTIMATE)`. In an
    * iterative core that is a scale bomb: a loop whose round joins the
    * previous round's table twice (connected components' neighbor-min
    * + pointer jump) estimates round r as sizeInBytes(r) ≈
    * E · sizeInBytes(r−1)², so the estimate's DIGIT COUNT doubles
    * every round — by round ~20 the driver burns minutes per stats
    * call multiplying million-digit BigIntegers inside
    * SizeInBytesOnlyStatsPlanVisitor (measured: the round-10 sf10
    * sweep's qC1 failure mode). The checkpoint has the REAL
    * materialized size at hand, which is also a far better input to
    * join planning than any estimate; fall back to no stats (the
    * defaultSizeInBytes leaf) when storage info is unavailable —
    * constant per round either way, so the snowball cannot form. */
  def resetCheckpointStats(df: Dataset[Row]): Dataset[Row] = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    df.queryExecution.logical match {
      case lr: execution.LogicalRDD =>
        val measured = try {
          spark.sparkContext.getRDDStorageInfo
            .find(_.id == lr.rdd.id)
            .filter(i => i.memSize + i.diskSize > 0L)
            .map(i => catalyst.plans.logical.Statistics(
              sizeInBytes = BigInt(i.memSize + i.diskSize)))
        } catch { case scala.util.control.NonFatal(_) => None }
        classic.Dataset.ofRows(spark,
          execution.LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            spark, measured, None))
      case _ => df
    }
  }

  /** Block until every listener has been handed every event posted so
    * far (the listener bus is private[spark]): the one barrier for
    * code that reads a listener's tallies of jobs, stages and
    * executions that have already run, without sleeping. */
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Test seam: apply an extensions object's injected functions to a
    * registry (what session construction does internally) so specs
    * can assert the injection wiring without building a session. */
  def buildFunctionRegistry(
      ext: SparkSessionExtensions,
      reg: catalyst.analysis.FunctionRegistry): catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(reg)
}
