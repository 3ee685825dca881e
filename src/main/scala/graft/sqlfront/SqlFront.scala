package graft.sqlfront

import graft.gen.Generator
import graft.model.Catalog
import graft.plan.{FieldRef, SemanticQuery}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedHaving, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, SortOrder, Ascending}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Semantic SQL front end: rewrites SQL that references semantic models
  * (`SELECT orders.revenue, customer.mktsegment FROM orders …`) into
  * planner queries, passes non-semantic SQL through untouched
  * (reference: sql/query_rewriter.py:170-298).
  *
  * Parsing uses Spark's own SQL parser — no second grammar. A SELECT
  * scope is semantic when its FROM names a registered model; select items
  * are metric/dimension references by name (the semantic-SQL contract),
  * WHERE/HAVING conditions route through the planner's pushdown/HAVING
  * classifier, GROUP BY (when present) must echo the dimensions exactly
  * (reference: query_rewriter.py:2572-2614). UNION/INTERSECT/EXCEPT
  * rewrite each branch independently.
  */
final class SqlFront(spark: SparkSession, cat: Catalog, gen: Generator) {

  /** Yardstick AS MEASURE mode rides the same front door: SEMANTIC /
    * AGGREGATE() / AT (…) SQL routes through [[Yardstick]] (whose AT
    * lowering must run before Spark's parser sees the text). */
  private lazy val yardstick = new Yardstick(spark, cat)

  def sql(text: String): DataFrame = {
    val yard =
      if (yardstick.handles(text)) yardstick.trySql(text) else None
    yard.getOrElse {
      val plan = GraftSqlBridge.parser(spark).parsePlan(text)
      rewrite(plan).getOrElse(spark.sql(text))
    }
  }

  /** Strict variant: error instead of passthrough when the SQL does not
    * reference any semantic model. */
  def sqlStrict(text: String): DataFrame = {
    val plan = GraftSqlBridge.parser(spark).parsePlan(text)
    rewrite(plan).getOrElse(throw new IllegalArgumentException(
      s"SQL does not reference a semantic model: $text"))
  }

  /** User attributes for semantic queries compiled inside a
    * [[transportSql]] call (deny-by-default: None outside one). */
  private val currentUser =
    new scala.util.DynamicVariable[Option[Map[String, String]]](None)

  /** Transport-grade entry with fail-closed security (reference:
    * core/transport_security.py rewrite_transport_sql, :96-182): when
    * any control is active ([[TransportSecurity.controlsAreActive]]),
    * SQL that cannot be PROVEN to route through the semantic layer is
    * refused before execution —
    *
    *  - sources that are not semantic models / `metrics` / local CTEs
    *  - expression subqueries (reads outside any securable scope)
    *  - Yardstick AS MEASURE text (that rewrite expands directly
    *    against model tables, transport_security.py:152-162)
    *  - semantic-looking SQL the rewriter nevertheless left untouched
    *
    * Projection-only SQL (`SELECT 1`) stays available. Pre-aggregation
    * routing is already bypassed for secured models inside the planner
    * itself (rollups are materialized without per-user row scope), so
    * the transport needs no extra preagg switch. With no controls
    * declared this is exactly [[sql]]. */
  def transportSql(text: String, transport: String = "sql_transport",
      user: Option[Map[String, String]] = None): DataFrame = {
    if (!TransportSecurity.controlsAreActive(cat))
      return currentUser.withValue(user) { sql(text) }
    if (yardstick.handles(text)) throw new SecurityException(
      s"$transport refused Yardstick semantic SQL while security controls " +
        "are active: the AS MEASURE rewrite expands directly against model " +
        "tables and cannot prove access gates, row filters, and column " +
        "restrictions were enforced. Use a structured query or standard " +
        "semantic SQL.")
    val plan = GraftSqlBridge.parser(spark).parsePlan(text)
    val unrec = TransportSecurity.unrecognizedSources(plan, cat)
    if (unrec.nonEmpty) throw new SecurityException(
      s"$transport refused non-semantic source(s) ${unrec.mkString(", ")}: " +
        "security controls are active, and reads outside the declared " +
        "models cannot carry the access gates, row filters, or hidden-" +
        "field rules. Reference declared model fields instead (or use the " +
        "structured API).")
    if (TransportSecurity.hasExpressionSubquery(plan))
      throw new SecurityException(
        s"$transport refused an expression subquery while security " +
          "controls are active: nested expression reads cannot prove " +
          "access gates, row filters, and column restrictions were " +
          "enforced. Rewrite as structured semantic filters or a " +
          "supported semantic join.")
    currentUser.withValue(user) {
      rewrite(plan).getOrElse {
        if (TransportSecurity.readsAnySource(plan))
          throw new SecurityException(
            s"$transport refused SQL the semantic rewriter left untouched: " +
              "with security controls active, a passthrough that reads any " +
              "relation cannot be shown to honor them. Reference declared " +
              "model fields instead (or use the structured API).")
        spark.sql(text)
      }
    }
  }

  // ------------------------------------------------------------------

  /** Plan-level entry for the analyzer-rule integration: Some(df) when the
    * plan is a semantic scope this front end understands. */
  def rewritePlan(plan: LogicalPlan): Option[DataFrame] = rewrite(plan)

  /** True when any relation in the plan names a semantic model. */
  def referencesSemanticModel(plan: LogicalPlan): Boolean =
    plan.collectFirst {
      case ur: UnresolvedRelation
          if ur.multipartIdentifier.size == 1 &&
            cat.models.contains(ur.multipartIdentifier.head) => ()
    }.isDefined

  /** `plan` as a DataFrame when it is semantic: a single scope is the
    * planner's own DataFrame (a plan-cache hit returns the cached one);
    * any other semantic shape is the parsed plan with its scopes
    * substituted, analysed once. */
  private def rewrite(plan: LogicalPlan): Option[DataFrame] =
    single(plan).orElse(substitute(plan).map(GraftSqlBridge.dataFrame(spark, _)))

  /** `plan` with each semantic scope replaced by the plan the planner
    * built for it, or None when it is not a shape this front end
    * rewrites. Nothing is registered in the session catalog, so
    * concurrent queries on one session cannot see each other's names. */
  private def substitute(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case w: UnresolvedWith => withCtes(w)
    case d @ Distinct(u: Union) => branches(u).map(b => d.copy(child = b))
    case _: Distinct => None // SELECT DISTINCT is not a semantic scope
    case u: Union => branches(u)
    case i: Intersect =>
      for (l <- substitute(i.left); r <- substitute(i.right))
        yield i.copy(left = l, right = r)
    case e: Except =>
      for (l <- substitute(e.left); r <- substitute(e.right))
        yield e.copy(left = l, right = r)
    case other => scope(other).orElse(hybridSubqueries(other))
  }

  /** One SELECT scope's planned plan. */
  private def scope(plan: LogicalPlan): Option[LogicalPlan] =
    single(plan).map(GraftSqlBridge.logicalPlan)

  /** WITH query (reference: query_rewriter.py:917-1107): each CTE compiles
    * independently — a semantic body through the planner, plain SQL
    * (which may reference earlier CTEs) left to Spark — and the main body
    * the same way. The planned bodies stand in for the parsed ones inside
    * the WITH, so Spark's own CTE substitution keeps the query's scoping:
    * a CTE name shadows a session view of that name for this query only.
    * Engaged only when something in the query is semantic, so pure-SQL
    * WITH queries pass through Spark untouched. */
  private def withCtes(w: UnresolvedWith): Option[LogicalPlan] = {
    val defs = w.cteRelations.map(_._2)
    val semantic = (w.child +: defs.map(_.child))
      .exists(p => referencesSemanticModel(p) || referencesMetricsTable(p))
    if (!semantic) return None
    val ctes = w.cteRelations.map { case (name, sa, d) =>
      (name, substitute(sa.child).fold(sa)(p => sa.copy(child = p)), d)
    }
    Some(w.copy(child = substitute(w.child).getOrElse(w.child),
      cteRelations = ctes))
  }

  /** Subquery-in-FROM recursion: each aliased semantic sub-scope is
    * replaced by its planned plan under the same alias; the remaining
    * (plain-SQL) outer shell is left to Spark. */
  private def hybridSubqueries(plan: LogicalPlan): Option[LogicalPlan] = {
    var found = false
    val replaced = plan.transformUp {
      case sa @ SubqueryAlias(_, child) =>
        scope(child).fold(sa) { p => found = true; sa.copy(child = p) }
    }
    if (found) Some(replaced) else None
  }

  private def referencesMetricsTable(plan: LogicalPlan): Boolean =
    plan.collectFirst {
      case ur: UnresolvedRelation
          if ur.multipartIdentifier == Seq("metrics") &&
            !cat.models.contains("metrics") => ()
    }.isDefined

  private def branches(u: Union): Option[LogicalPlan] = {
    val planned = u.children.map(substitute)
    if (planned.exists(_.isEmpty)) None
    else Some(u.withNewChildren(planned.flatten))
  }

  /** One SELECT scope → SemanticQuery. */
  private def single(plan: LogicalPlan): Option[DataFrame] = {
    var limit: Option[Int] = None
    var offset: Option[Int] = None
    var sorts: Seq[SortOrder] = Nil
    var cur = plan

    var unwrapping = true
    while (unwrapping) cur match {
      case gl: GlobalLimit =>
        limit = Some(gl.limitExpr.eval().asInstanceOf[Number].intValue())
        cur = gl.child
      case ll: LocalLimit => cur = ll.child
      case o: Offset =>
        offset = Some(o.offsetExpr.eval().asInstanceOf[Number].intValue())
        cur = o.child
      case s: Sort if s.global => sorts = s.order; cur = s.child
      case _ => unwrapping = false
    }

    var having: Seq[String] = Nil
    cur match {
      case h: UnresolvedHaving =>
        having = Seq(h.havingCondition.sql); cur = h.child
      case _ => ()
    }

    val (items, groupBy, src0) = cur match {
      case p: Project   => (p.projectList, None, p.child)
      case a: Aggregate => (a.aggregateExpressions, Some(a.groupingExpressions), a.child)
      case _ => return None
    }

    var filters: Seq[String] = having
    var src = src0
    var filtering = true
    while (filtering) src match {
      case f: Filter        => filters :+= f.condition.sql; src = f.child
      case sa: SubqueryAlias => src = sa.child
      case _ => filtering = false
    }

    val modelName = src match {
      case ur: UnresolvedRelation if ur.multipartIdentifier.size == 1 =>
        ur.multipartIdentifier.head
      case _ => return None
    }
    // `FROM metrics` is the cross-model virtual scope (reference:
    // query_rewriter.py:2616-2623): select items may reference ANY model's
    // fields (qualified) or graph-level metrics (bare); joins come from
    // the semantic graph exactly as in structured queries.
    val isMetricsScope = modelName == "metrics" && !cat.models.contains("metrics")
    if (!isMetricsScope && !cat.models.contains(modelName)) return None

    // classify select items: metric vs dimension references by name
    var metrics = Seq.empty[String]
    var dims = Seq.empty[String]
    var renames = Seq.empty[(String, String)]
    items.foreach { item =>
      val (e, alias) = item match {
        case UnresolvedAlias(child, _) => (child, None)
        case a @ Alias(child, name)    => (child, Some(name))
        case other                     => (other: Expression, None)
      }
      e match {
        case _: UnresolvedStar =>
          // SELECT * expands to every dimension + metric of the model
          // (reference: query_rewriter.py:5912-5935; refused on the
          // cross-model metrics scope there and here)
          if (isMetricsScope) throw new IllegalArgumentException(
            "SELECT * is not supported with FROM metrics; select fields explicitly")
          val model = cat.model(modelName)
          dims ++= model.dimensions.filter(_.public).map(d => s"$modelName.${d.name}")
          metrics ++= model.metrics.filter(m => m.public && m.kind != "conversion" &&
            m.kind != "retention" && m.kind != "cohort" && m.kind != "funnel")
            .map(m => s"$modelName.${m.name}")
        case ua: UnresolvedAttribute if ua.nameParts.size <= 2 =>
          val bare = ua.nameParts.size == 1
          val ref =
            if (!bare) s"${ua.nameParts.head}.${ua.nameParts(1)}"
            else if (isMetricsScope) ua.nameParts.head // graph metric
            else s"$modelName.${ua.nameParts.head}"
          if (!ref.contains(".")) {
            require(cat.graphMetrics.contains(ref), s"'$ref' is not a graph-level metric")
            metrics :+= ref
            alias.foreach(a => renames :+= (ref, a))
          } else {
            val fr = FieldRef.parse(ref)
            val owner = cat.model(fr.model)
            if (owner.metric(fr.field).isDefined) {
              metrics :+= ref
              alias.foreach(a => renames :+= (fr.field, a))
            } else if (owner.dimension(fr.field).isDefined) {
              dims :+= ref
              alias.foreach(a => renames :+= (fr.outName, a))
            } else throw new IllegalArgumentException(
              s"'$ref' is neither a metric nor a dimension of '${fr.model}'")
          }
        case _ => throw new IllegalArgumentException(
          s"Semantic SQL select items must be metric/dimension references, got: ${e.sql}")
      }
    }

    // GROUP BY, when written out, must echo the dimensions exactly
    // (bare names on the metrics scope resolve through the selected dims)
    val bareToDim = dims.map(d => FieldRef.parse(d))
      .map(fr => fr.field -> s"${fr.model}.${fr.field}").toMap
    groupBy.filter(_.nonEmpty).foreach { g =>
      val groupRefs = g.map {
        case ua: UnresolvedAttribute => ua.nameParts.takeRight(2).mkString(".")
        case other => throw new IllegalArgumentException(
          s"GROUP BY must reference dimensions, got: ${other.sql}")
      }.map(r => if (r.contains(".")) r
        else if (isMetricsScope) bareToDim.getOrElse(r, r)
        else s"$modelName.$r").toSet
      val dimSet = dims.map(d => FieldRef.parse(d))
        .map(fr => s"${fr.model}.${fr.field}${fr.grain.map("__" + _).getOrElse("")}").toSet
      require(groupRefs == dimSet,
        s"GROUP BY ${groupRefs.mkString(",")} must echo the selected dimensions ${dimSet.mkString(",")}")
    }

    // ORDER BY may use select aliases — translate back to planner names
    val aliasToName = renames.map { case (orig, a) => a -> orig }.toMap
    val orderBy = sorts.map { so =>
      val name = so.child match {
        case ua: UnresolvedAttribute =>
          aliasToName.getOrElse(ua.nameParts.last, ua.nameParts.last)
        case other => throw new IllegalArgumentException(
          s"ORDER BY must reference output columns, got: ${other.sql}")
      }
      if (so.direction == Ascending) name else s"-$name"
    }

    val q = SemanticQuery(metrics = metrics, dimensions = dims,
      filters = filters, orderBy = orderBy, limit = limit, offset = offset,
      user = currentUser.value)
    Some(if (renames.isEmpty) gen.plan(q)
      else gen.plan(q, SqlFront.Renamed(renames))(df =>
        renames.foldLeft(df) { case (d, (from, to)) =>
          d.withColumnRenamed(from, to) }))
  }
}

object SqlFront {

  /** The derived step of a SELECT scope with aliases: its renames. */
  private final case class Renamed(renames: Seq[(String, String)])
}
