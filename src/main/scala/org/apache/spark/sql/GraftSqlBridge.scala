package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface

/** Narrow bridge into Spark's `private[sql]` surface: wrap a Catalyst
  * Expression back into a public Column, and reach the session's SQL parser.
  * Kept to a few short calls so the engine touches no other internals.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def parser(spark: SparkSession): ParserInterface =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser
  def explainString(df: Dataset[Row], mode: String): String =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution
      .explainString(execution.ExplainMode.fromString(mode))
  def executedPlan(df: Dataset[Row]): execution.SparkPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan
  def logicalPlan(df: Dataset[Row]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan
  def dataFrame(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session that starts with a copy of `spark`'s state, confs
    * included (`newSession()` starts from defaults). Confs set on the
    * clone do not reach `spark`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `out`, a rewrite of `from` built from resolved expressions, marked
    * analyzed when `from` was, so a Dataset over it skips the analyzer. */
  def keepAnalyzed(from: catalyst.plans.logical.LogicalPlan,
      out: catalyst.plans.logical.LogicalPlan)
      : catalyst.plans.logical.LogicalPlan = {
    if (from.analyzed) out.setAnalyzed()
    out
  }

  /** `plan` with a no-shuffle coalesce to one partition above every
    * leaf, union, expand and full outer join — the operators whose
    * physical output is not one partition even over one-partition input.
    * The added nodes are resolved and
    * keep their child's output, so an analyzed input stays marked
    * analyzed: a Dataset built over the result does not run the analyzer
    * again. */
  def coalesceToOne(plan: catalyst.plans.logical.LogicalPlan)
      : catalyst.plans.logical.LogicalPlan = {
    import catalyst.plans.FullOuter
    import catalyst.plans.logical.{Expand, Join, LeafNode, Repartition, Union}
    keepAnalyzed(plan, plan.transformUp {
      case p @ (_: LeafNode | _: Union | _: Expand |
          Join(_, _, FullOuter, _, _)) =>
        Repartition(1, shuffle = false, p)
    })
  }
}
