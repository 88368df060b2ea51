package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column ⇄ Catalyst Expression bridge.
 *
 * Spark 4 unified the Column API over ColumnNode and made the classic
 * converters `private[sql]`; this shim (in the org.apache.spark.sql
 * namespace, the sanctioned extension-library trick) re-exports just the
 * two conversions graft's custom expressions need.
 */
object CatalystBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `org.apache.spark.sql.types.AbstractDataType` is `private[sql]`, but
    * `ExpectsInputTypes.inputTypes` (the analyzer's type-coercion contract)
    * is typed against it — this alias re-exports it so graft expressions
    * can declare their input types from outside the sql package. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** Re-root a DataFrame on its own execution RDD (a flat `LogicalRDD`
    * plan) WITHOUT the `createDataFrame(df.rdd, schema)` detour, which
    * decodes every InternalRow to a Row and back re-encodes — a full
    * per-row codec round-trip. This is the conversion-free lineage cut
    * `Dataset.checkpoint` uses internally (`internalCreateDataFrame` is
    * `private[sql]`, hence this bridge). Iterative operators (connected
    * components, BPE rounds) materialize every round, so the codec tax
    * was paid once per row per round. */
  def flattenPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** [[flattenPlan]] that additionally CARRIES the source plan's output
    * partitioning/ordering into the flat `LogicalRDD` (what
    * `Dataset.localCheckpoint` does via `LogicalRDD.fromDataset`).
    * `internalCreateDataFrame` drops that metadata, so a round input
    * deliberately pre-partitioned on its per-round join key was
    * re-shuffled every round anyway (r20; guide §2.4 "two operations
    * keyed the same way can share one exchange"). */
  def flattenPlanKeepPartitioning(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(classic,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        df.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** A DataFrame over `plan`, analyzed in `df`'s session — the
    * `executePlan` + `assertAnalyzed` pattern of `Dataset.ofRows`, which
    * is `private[sql]`, hence this bridge. Lets an operator hand Spark a
    * rewritten copy of a frame's analyzed plan. */
  def withPlan(
      df: org.apache.spark.sql.DataFrame,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The reliable-checkpoint file backing a `Dataset.checkpoint()`
    * result (its analyzed plan is a `LogicalRDD` over the checkpointed
    * RDD), or None for any other plan. Lets iterative operators delete
    * a SUPERSEDED checkpoint generation as soon as the next one has
    * materialized, instead of accreting every generation on durable
    * storage for the life of the session. `LogicalRDD` is
    * `private[sql]`, hence this bridge. */
  def checkpointFileOf(df: org.apache.spark.sql.DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getCheckpointFile
      case _ => None
    }

  /** Register a function builder into an EXISTING session's registry
    * (builder-time `withExtensions` is the normal path; this serves
    * already-running sessions, e.g. shared test sessions or REPLs). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)
}
