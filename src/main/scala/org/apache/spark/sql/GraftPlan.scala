package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{MultiAlias, UnresolvedAttribute, UnresolvedStarWithColumns, UnresolvedStarWithColumnsRenames}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Expression, GroupingSets, Literal, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, JoinType, UsingJoin}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, DataFrameDropColumns, Deduplicate, Filter, Join, JoinHint, Limit, LogicalPlan, Offset, Project, Sort, Union}

/** A logical plan composed with the DataFrame verbs the generator uses,
  * left unanalysed until [[toDF]]. Each DataFrame verb builds a new
  * Dataset and runs Spark's analyzer for it; here every verb only adds a
  * node, so a composed query is analysed once, however many steps built
  * it. Each verb builds the node its DataFrame namesake builds,
  * with Columns converted by the session's own converter, so the
  * analysed plan is the one the DataFrame calls would have produced.
  *
  * Output column names ([[columns]]) are tracked through every verb, so
  * [[withColumn]], [[drop]] and [[distinct]] need no analysis: a select
  * item must be an alias, a multi-alias or a column reference, or it is
  * an `IllegalArgumentException` when composed. An error in the plan, an
  * unknown column say, surfaces in [[toDF]] as the `AnalysisException`
  * the DataFrame calls would have raised.
  */
final class GraftPlan private (spark: classic.SparkSession,
    val plan: LogicalPlan, val columns: Seq[String]) {

  /** The Dataset over this plan: Spark's analyzer runs here, once. */
  def toDF: DataFrame = classic.Dataset.ofRows(spark, plan)

  def select(cols: Column*): GraftPlan = {
    val items = cols.map(c => classic.ExpressionUtils.toNamed(expr(c)))
    next(Project(items, plan), namesOf(items))
  }

  def filter(condition: Column): GraftPlan =
    next(Filter(expr(condition), plan), columns)

  def join(right: GraftPlan, on: Column, joinType: String): GraftPlan =
    next(Join(plan, right.plan, JoinType(joinType), Some(expr(on)),
      JoinHint.NONE), columns ++ right.columns)

  /** `join(right, usingColumns)`: an inner join; each key column is kept
    * once, leading the output. */
  def join(right: GraftPlan, usingColumns: Seq[String]): GraftPlan = {
    def key(n: String) = usingColumns.exists(resolver(n, _))
    next(Join(plan, right.plan, UsingJoin(Inner, usingColumns), None,
      JoinHint.NONE), usingColumns.flatMap(k => columns.find(resolver(_, k))) ++
      columns.filterNot(key) ++ right.columns.filterNot(key))
  }

  def crossJoin(right: GraftPlan): GraftPlan =
    next(Join(plan, right.plan, Cross, None, JoinHint.NONE),
      columns ++ right.columns)

  /** `groupBy(groupBy: _*).agg(aggs)`; an empty `groupBy` is a global
    * aggregate. The grouping columns lead the output, as with
    * `spark.sql.retainGroupColumns`, Spark's default. */
  def agg(groupBy: Seq[Column], aggs: Seq[Column]): GraftPlan = {
    val keys = groupBy.map(expr)
    aggregate(keys, keys, aggs)
  }

  /** `groupingSets(sets, groupBy: _*).agg(aggs)`. */
  def groupingSets(sets: Seq[Seq[Column]], groupBy: Seq[Column],
      aggs: Seq[Column]): GraftPlan = {
    val keys = groupBy.map(expr)
    aggregate(Seq(GroupingSets(sets.map(_.map(expr)), keys)), keys, aggs)
  }

  /** Adds `name`, or replaces the column of that name in place. */
  def withColumn(name: String, c: Column): GraftPlan =
    next(Project(Seq(UnresolvedStarWithColumns(Seq(name), Seq(expr(c)))), plan),
      if (columns.exists(resolver(_, name)))
        columns.map(n => if (resolver(n, name)) name else n)
      else columns :+ name)

  def withColumnRenamed(existing: String, renamed: String): GraftPlan =
    next(Project(Seq(UnresolvedStarWithColumnsRenames(Seq(existing),
      Seq(renamed))), plan),
      columns.map(n => if (resolver(n, existing)) renamed else n))

  /** Drops the named columns; a name matching no column is ignored. */
  def drop(cols: String*): GraftPlan = {
    val gone = columns.filter(n => cols.exists(resolver(n, _)))
    if (gone.isEmpty) this
    else next(DataFrameDropColumns(gone.map(attr), plan),
      columns.filterNot(gone.contains))
  }

  /** `dropDuplicates(keys)`: the key order is the one the DataFrame verb
    * gives (`keys.toSet.toSeq`), so the aggregate the optimizer
    * replaces the node with groups in the same order. */
  def dropDuplicates(keys: Seq[String]): GraftPlan =
    next(Deduplicate(keys.toSet.toSeq.map(attr), plan), columns)

  def distinct(): GraftPlan = dropDuplicates(columns)

  def unionByName(other: GraftPlan): GraftPlan =
    next(Union(Seq(plan, other.plan), byName = true, allowMissingCol = false),
      columns)

  def orderBy(cols: Column*): GraftPlan =
    next(Sort(cols.map(c => expr(c) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    }), global = true, plan), columns)

  def limit(n: Int): GraftPlan = next(Limit(Literal(n), plan), columns)

  def offset(n: Int): GraftPlan = next(Offset(Literal(n), plan), columns)

  private def expr(c: Column): Expression = spark.expression(c)

  private def resolver = spark.sessionState.conf.resolver

  private def attr(name: String): Attribute = UnresolvedAttribute(Seq(name))

  private def next(p: LogicalPlan, out: Seq[String]): GraftPlan =
    new GraftPlan(spark, p, out)

  /** The grouping keys' expressions are the very ones that lead the
    * output, as in `RelationalGroupedDataset`. */
  private def aggregate(grouping: Seq[Expression], keys: Seq[Expression],
      aggs: Seq[Column]): GraftPlan = {
    val items = (keys ++ aggs.map(expr)).map(classic.ExpressionUtils.toNamed)
    next(Aggregate(grouping, items, plan), namesOf(items))
  }

  /** The output names of select items: an alias's, a multi-alias's, or
    * a column reference's last name part. */
  private def namesOf(items: Seq[NamedExpression]): Seq[String] =
    items.flatMap {
      case a: Alias => Seq(a.name)
      case m: MultiAlias if m.names.nonEmpty => m.names
      case u: UnresolvedAttribute => Seq(u.nameParts.last)
      case e => throw new IllegalArgumentException(
        s"Select item has no name of its own; alias it: $e")
    }
}

object GraftPlan {

  /** A composer over a scan's analysed plan (a model table, a rollup).
    * Composing on from it analyses only what is added, once, in [[toDF]]. */
  def apply(df: DataFrame): GraftPlan = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    new GraftPlan(ds.sparkSession, ds.logicalPlan, ds.columns.toSeq)
  }
}
