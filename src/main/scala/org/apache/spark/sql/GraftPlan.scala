package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedStarWithColumns, UnresolvedStarWithColumnsRenames}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Expression, GroupingSets, Literal, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.plans.{Cross, JoinType}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, DataFrameDropColumns, Deduplicate, Filter, Join, JoinHint, Limit, LogicalPlan, Offset, Project, Sort, Union}

/** A logical plan composed with the DataFrame verbs the generator uses,
  * left unanalysed until [[toDF]]. Each DataFrame verb builds a new
  * Dataset and runs Spark's analyzer for it; here every verb only adds a
  * node, so a composed query is analysed once, however many steps built
  * it. Each verb builds the node its DataFrame namesake builds,
  * with Columns converted by the session's own converter, so the
  * analysed plan is the one the DataFrame calls would have produced.
  *
  * Output column names are tracked through every verb, so
  * [[withColumn]], [[drop]] and [[distinct]] need no analysis. A select
  * item with no name of its own (neither an alias nor a column
  * reference) leaves the names to the analyzer: [[columns]] then
  * analyses the plan the first time it is asked for. An error in the
  * plan, an unknown column say, surfaces in [[toDF]] as the
  * `AnalysisException` the DataFrame calls would have raised.
  */
final class GraftPlan private (spark: classic.SparkSession,
    val plan: LogicalPlan, private val names: Option[Seq[String]]) {

  /** Output column names, in order. */
  lazy val columns: Seq[String] = names.getOrElse(toDF.columns.toSeq)

  /** The Dataset over this plan: Spark's analyzer runs here, once. */
  def toDF: DataFrame = classic.Dataset.ofRows(spark, plan)

  def select(cols: Column*): GraftPlan = {
    val items = cols.map(c => classic.ExpressionUtils.toNamed(expr(c)))
    next(Project(items, plan), namesOf(items))
  }

  def filter(condition: Column): GraftPlan =
    next(Filter(expr(condition), plan), names)

  def join(right: GraftPlan, on: Column, joinType: String): GraftPlan =
    next(Join(plan, right.plan, JoinType(joinType), Some(expr(on)),
      JoinHint.NONE), joinedNames(right))

  def crossJoin(right: GraftPlan): GraftPlan =
    next(Join(plan, right.plan, Cross, None, JoinHint.NONE),
      joinedNames(right))

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
      Some(if (columns.exists(resolver(_, name)))
        columns.map(n => if (resolver(n, name)) name else n)
      else columns :+ name))

  def withColumnRenamed(existing: String, renamed: String): GraftPlan =
    next(Project(Seq(UnresolvedStarWithColumnsRenames(Seq(existing),
      Seq(renamed))), plan),
      Some(columns.map(n => if (resolver(n, existing)) renamed else n)))

  /** Drops the named columns; a name matching no column is ignored. */
  def drop(cols: String*): GraftPlan = {
    val gone = columns.filter(n => cols.exists(resolver(n, _)))
    if (gone.isEmpty) this
    else next(DataFrameDropColumns(gone.map(attr), plan),
      Some(columns.filterNot(gone.contains)))
  }

  /** `dropDuplicates(keys)`: the key order is the one the DataFrame verb
    * gives (`keys.toSet.toSeq`), so the aggregate the optimizer
    * replaces the node with groups in the same order. */
  def dropDuplicates(keys: Seq[String]): GraftPlan =
    next(Deduplicate(keys.toSet.toSeq.map(attr), plan), names)

  def distinct(): GraftPlan = dropDuplicates(columns)

  def unionByName(other: GraftPlan): GraftPlan =
    next(Union(Seq(plan, other.plan), byName = true, allowMissingCol = false),
      names)

  def orderBy(cols: Column*): GraftPlan =
    next(Sort(cols.map(c => expr(c) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    }), global = true, plan), names)

  def limit(n: Int): GraftPlan = next(Limit(Literal(n), plan), names)

  def offset(n: Int): GraftPlan = next(Offset(Literal(n), plan), names)

  private def expr(c: Column): Expression = spark.expression(c)

  private def resolver = spark.sessionState.conf.resolver

  private def attr(name: String): Attribute = UnresolvedAttribute(Seq(name))

  private def next(p: LogicalPlan, out: Option[Seq[String]]): GraftPlan =
    new GraftPlan(spark, p, out)

  private def joinedNames(right: GraftPlan): Option[Seq[String]] =
    for (l <- names; r <- right.names) yield l ++ r

  /** The grouping keys' expressions are the very ones that lead the
    * output, as in `RelationalGroupedDataset`. */
  private def aggregate(grouping: Seq[Expression], keys: Seq[Expression],
      aggs: Seq[Column]): GraftPlan = {
    val items = (keys ++ aggs.map(expr)).map(classic.ExpressionUtils.toNamed)
    next(Aggregate(grouping, items, plan), namesOf(items))
  }

  /** The output names of select items, when each has one without
    * analysis: an alias, or a column reference (its last name part). */
  private def namesOf(items: Seq[NamedExpression]): Option[Seq[String]] = {
    val out = items.collect {
      case a: Alias => a.name
      case u: UnresolvedAttribute => u.nameParts.last
    }
    Some(out).filter(_.size == items.size)
  }
}

object GraftPlan {

  /** A composer over `df`'s analysed plan. Composing on from it analyses
    * only what is added, once, when the result is turned into a Dataset. */
  def apply(df: DataFrame): GraftPlan = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    new GraftPlan(ds.sparkSession, ds.logicalPlan, Some(ds.columns.toSeq))
  }
}
