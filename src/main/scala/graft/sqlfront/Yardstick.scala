package graft.sqlfront

import graft.model.{Catalog, Model}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving, UnresolvedOrdinal, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Expression, Literal, Rollup, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.{Inner, UsingJoin}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}

/** Yardstick AS MEASURE query mode (reference:
  * sql/query_rewriter.py:3186-4530 — the "Measures in SQL" surface;
  * conformance target: tests/fixtures/sql/yardstick/measures.test,
  * replayed by YardstickReplaySpec).
  *
  * Queries over a [[graft.adapters.YardstickAdapter]]-imported model:
  *
  * {{{
  * SEMANTIC SELECT year, region, AGGREGATE(revenue) FROM sales_v
  * SELECT year, AGGREGATE(revenue) AT (ALL region) AS total FROM sales_v
  * SELECT year, AGGREGATE(revenue) AT (SET year = year - 1) FROM sales_v
  * SELECT year, 100.0 * AGGREGATE(r) / AGGREGATE(r) AT (ALL) FROM v
  * }}}
  *
  * Semantics (each `AGGREGATE(m) [AT (…)]*` chain is one measure call,
  * usable anywhere inside a select expression or HAVING):
  *
  *   - `AGGREGATE(m)` expands to the measure's declared aggregation over
  *     the visible rows of ITS view; the grouping context is the explicit
  *     GROUP BY (names, expressions, ordinals, ROLLUP) or every
  *     measure-free non-constant select item (implicit grouping)
  *   - a bare measure reference self-aggregates but over the BASE rows
  *     (ignores the outer WHERE — paper Listing 8); wrapping it in
  *     `AGGREGATE(…)` or adding any `AT` modifier restores the visible
  *     context
  *   - `AT (ALL dim, …)` / `AT (ALL d1 d2)` removes dims from the
  *     context: one aggregation at the coarser grain joined back on the
  *     remaining keys (broadcast-sized — group cardinality, not rows)
  *   - `AT (ALL)` / `AT (WHERE pred)` aggregate the whole (respectively
  *     predicate-matched) base relation → scalar, broadcast cross-joined
  *   - `AT (SET dim = expr)` is context transfer: the aggregate at the
  *     same grain joined on `shifted.dim = expr(current row)`; filters on
  *     the SET dim are dropped from the shifted context ("SET reaches
  *     beyond WHERE"), other dims stay correlated. `CURRENT dim` pins the
  *     outer row's value; when the context does not determine the dim (not
  *     grouped, no single-valued WHERE equality) the result is NULL
  *   - `AT (VISIBLE)` is the explicit form of the default context
  *   - chained modifiers fold left-to-right, so
  *     `AT (SET year = year-1) AT (ALL year)` is the grand total
  *   - derived measures (`profit = revenue - cost`) expand over their
  *     component aggregates; non-decomposable measures (median, count
  *     distinct, percentiles, mode) recompute from base rows
  *   - plain SQL aggregates (`COUNT(*)`, `AVG(col)`) compose with
  *     measures in the same select list: they aggregate the (joined,
  *     WHERE-filtered) row relation at the query grain
  *   - joins evaluate each measure over its own view's rows at the
  *     context formed by the query dims that map to that view through the
  *     equi-join columns — measures never fan out through a join; the
  *     other side may be a plain table (paper Listings 8/9)
  *   - under `GROUP BY ROLLUP(…)` measures are NULL on super-aggregate
  *     rows (they have no defining context), while plain aggregates roll
  *     up normally — this falls out of the join-back shape
  *
  * The `SEMANTIC` prefix is optional; `AT` clauses are pre-lowered to a
  * marker function so Spark's own parser handles everything else. A WITH
  * query compiles each CTE body in turn, under the CTEs before it, which
  * sit in a thread-scoped list and are substituted into the parsed plan;
  * nothing is registered in the session catalog.
  */
final class Yardstick(spark: SparkSession, cat: Catalog) {

  /** Whether this text looks like yardstick-mode SQL (SEMANTIC prefix, an
    * AGGREGATE() call, or an AT modifier). */
  def handles(text: String): Boolean = {
    val t = text.trim
    t.toUpperCase.startsWith("SEMANTIC") ||
      raw"(?i)\bAGGREGATE\s*\(".r.findFirstIn(t).isDefined ||
      raw"(?i)\)\s+AT\s*\(".r.findFirstIn(t).isDefined ||
      raw"(?i)\w\s+AT\s*\(".r.findFirstIn(t).isDefined
  }

  def sql(text: String): DataFrame =
    trySql(text).getOrElse(throw new IllegalArgumentException(
      s"not a yardstick semantic scope: $text"))

  /** None when the text does not parse as a yardstick scope over a
    * registered model (caller falls back to plain SQL); real semantic
    * errors inside a yardstick scope propagate. */
  def trySql(text: String): Option[DataFrame] = {
    val noPrefix = text.trim.replaceFirst("(?is)^SEMANTIC\\s+", "")
    withCtes(noPrefix).orElse(rewriteText(noPrefix))
  }

  /** The model's base relation with declared dimension expressions
    * materialized as columns — the rows AGGREGATE() re-aggregates. */
  def baseFrame(model: Model): DataFrame = {
    val base0 = cat.scan(spark, model)
    model.dimensions.foldLeft(base0)((df, d) =>
      d.sql.filter(_ != d.name).fold(df)(s => df.withColumn(d.name, expr(s))))
  }

  private def rewriteText(text: String): Option[DataFrame] = {
    val lowered = lowerAtClauses(text)
    val plan =
      try GraftSqlBridge.parser(spark).parsePlan(lowered)
      catch { case _: Exception => return None }
    rewrite(plan)
  }

  private def rewriteOrSpark(text: String): DataFrame =
    rewriteText(text).getOrElse {
      val ctes = scope.value
      if (ctes.isEmpty) spark.sql(text)
      else GraftSqlBridge.dataFrame(spark, UnresolvedWith(
        GraftSqlBridge.parser(spark).parsePlan(text),
        ctes.map { case (n, p) => (n, SubqueryAlias(n, p), None) }))
    }

  // ------------------------------------------------------------------
  // WITH queries: each CTE in order, then the main body
  // ------------------------------------------------------------------

  /** The CTEs compiled so far by the WITH query this thread is compiling,
    * in order. A plain-SQL body and a yardstick side that names one of
    * them read its plan; nothing is registered in the session catalog,
    * so concurrent queries on one session never see each other's CTEs. */
  private val scope =
    new scala.util.DynamicVariable[Vector[(String, LogicalPlan)]](Vector.empty)

  /** WITH handling: each CTE body compiles under the CTEs before it, and
    * the main body under all of them. A WITH shape outside the supported
    * subset (e.g. a column-alias list `WITH x (a,b) AS (...)`) returns
    * None so SqlFront falls back to Spark's own parser instead of
    * throwing.
    */
  private def withCtes(text: String): Option[DataFrame] = {
    val masked = maskForScan(text)
    if (raw"(?is)^\s*WITH\b".r.findFirstIn(masked).isEmpty) return None
    var ctes = Vector.empty[(String, LogicalPlan)]
    var i = masked.indexWhere(!_.isWhitespace) + 4 // past WITH
    var more = true
    while (more) {
      while (i < text.length && text(i).isWhitespace) i += 1
      val ns = i
      while (i < text.length && (text(i).isLetterOrDigit || text(i) == '_')) i += 1
      val name = text.substring(ns, i)
      while (i < text.length && text(i).isWhitespace) i += 1
      if (name.isEmpty || !text.regionMatches(true, i, "AS", 0, 2))
        return None // unsupported WITH shape → Spark parser
      i += 2
      while (i < text.length && text(i).isWhitespace) i += 1
      if (i >= text.length || text(i) != '(') return None
      val close = matchingClose(masked, i)
      if (close < 0) return None
      val body = scope.withValue(ctes)(rewriteOrSpark(text.substring(i + 1, close)))
      ctes :+= name -> GraftSqlBridge.logicalPlan(body)
      i = close + 1
      while (i < text.length && text(i).isWhitespace) i += 1
      if (i < text.length && text(i) == ',') { i += 1 } else more = false
    }
    Some(scope.withValue(ctes)(rewriteOrSpark(text.substring(i))))
  }

  // ------------------------------------------------------------------
  // textual AT lowering: `X AT (MOD)` → `__graft_at(X, 'MOD')`
  // ------------------------------------------------------------------

  /** Blank string literals AND comments in a scan copy, preserving
    * positions, so textual structure scans never trip on either. */
  private def maskForScan(text: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < text.length) {
      val c = text(i)
      if (c == '\'') {
        out.append(c); i += 1
        while (i < text.length && text(i) != '\'') { out.append(' '); i += 1 }
        if (i < text.length) { out.append(c); i += 1 }
      } else if (c == '-' && i + 1 < text.length && text(i + 1) == '-') {
        while (i < text.length && text(i) != '\n') { out.append(' '); i += 1 }
      } else if (c == '/' && i + 1 < text.length && text(i + 1) == '*') {
        while (i < text.length &&
            !(text(i) == '*' && i + 1 < text.length && text(i + 1) == '/')) {
          out.append(if (text(i) == '\n') '\n' else ' '); i += 1
        }
        if (i < text.length) { out.append("  "); i += 2 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private def matchingClose(masked: String, open: Int): Int = {
    var depth = 0; var i = open
    while (i < masked.length) {
      if (masked(i) == '(') depth += 1
      else if (masked(i) == ')') { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    -1
  }

  private[sqlfront] def lowerAtClauses(sql: String): String = {
    val masked = maskForScan(sql)
    val at = raw"(?i)\bAT\s*\(".r.findFirstMatchIn(masked).getOrElse(return sql)
    val open = at.end - 1
    val close = matchingClose(masked, open)
    require(close > 0, s"unbalanced AT clause in: $sql")
    val modifier = sql.substring(open + 1, close)
    // the modified expression ends right before AT: a balanced call chain
    // (AGGREGATE(...) or a lowered __graft_at(...)) or a (possibly
    // qualified) measure identifier
    var end = at.start
    while (end > 0 && sql(end - 1).isWhitespace) end -= 1
    val start =
      if (end > 0 && sql(end - 1) == ')') {
        var depth = 0; var i = end - 1; var s = -1
        while (i >= 0 && s < 0) {
          if (masked(i) == ')') depth += 1
          else if (masked(i) == '(') { depth -= 1; if (depth == 0) s = i }
          i -= 1
        }
        require(s >= 0, s"unbalanced call before AT in: $sql")
        var j = s - 1
        while (j >= 0 && (sql(j).isLetterOrDigit || sql(j) == '_' || sql(j) == '.')) j -= 1
        j + 1
      } else {
        var j = end - 1
        while (j >= 0 && (sql(j).isLetterOrDigit || sql(j) == '_' || sql(j) == '.')) j -= 1
        j + 1
      }
    val inner = sql.substring(start, end)
    val escaped = modifier.replace("'", "''")
    lowerAtClauses(sql.substring(0, start) +
      s"__graft_at($inner, '$escaped')" + sql.substring(close + 1))
  }

  // ------------------------------------------------------------------
  // AT modifiers and their fold into an evaluation context
  // ------------------------------------------------------------------

  private sealed trait AtMod
  private case object Visible extends AtMod
  private case object AllDims extends AtMod
  private final case class AllOf(dims: Seq[String]) extends AtMod
  private final case class WherePred(pred: String) extends AtMod
  private final case class SetDim(dim: String, expr: String) extends AtMod

  private def parseMod(s: String): AtMod = {
    val t = s.trim
    val up = t.toUpperCase
    if (up == "VISIBLE") Visible
    else if (up == "ALL") AllDims
    else if (up.startsWith("ALL") && (up.length == 3 || !up(3).isLetterOrDigit)) {
      // dims separated by commas OR whitespace (paper allows `ALL d1 d2`);
      // whitespace inside a function-call dim stays part of that dim
      val dims = splitTopLevel(t.substring(3).trim, ',')
        .flatMap(p => splitTopLevelWs(p.trim)).filter(_.nonEmpty)
      AllOf(dims)
    }
    else if (up.startsWith("WHERE")) WherePred(t.substring(5).trim)
    else if (up.startsWith("SET")) {
      val body = t.substring(3).trim
      val eq = maskForScan(body).indexOf('=')
      require(eq > 0, s"AT (SET …) needs 'dim = expr', got: $s")
      SetDim(body.substring(0, eq).trim, body.substring(eq + 1).trim)
    } else throw new IllegalArgumentException(s"unsupported AT modifier: $s")
  }

  /** Split on a separator at paren depth 0 (string-literal-aware). */
  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val masked = maskForScan(s)
    var depth = 0
    var out = Vector.empty[String]
    var last = 0
    var i = 0
    while (i < s.length) {
      val c = masked(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (c == sep && depth == 0) { out :+= s.substring(last, i); last = i + 1 }
      i += 1
    }
    out :+ s.substring(last)
  }

  private def splitTopLevelWs(s: String): Seq[String] = {
    val masked = maskForScan(s)
    var depth = 0
    var out = Vector.empty[String]
    val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = masked(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      if (c.isWhitespace && depth == 0) {
        if (cur.nonEmpty) { out :+= cur.toString; cur.clear() }
      } else cur.append(s(i))
      i += 1
    }
    if (cur.nonEmpty) out :+= cur.toString
    out
  }

  /** Folded modifier chain: which dims are removed, which are shifted
    * (SET), and whether the whole context collapsed to a scalar. */
  private final case class MCtx(
      removedAll: Boolean = false,
      removed: Set[String] = Set.empty,      // normalized dim keys
      sets: Map[String, String] = Map.empty, // normalized dim key → shift expr
      where: Option[String] = None) {
    def isPlain: Boolean = this == MCtx()
  }

  private def foldMods(mods: List[AtMod], strip: String => String): MCtx =
    mods.foldLeft(MCtx()) { (c, m) => m match {
      case Visible       => c
      case AllDims       => MCtx(removedAll = true, where = c.where)
      case AllOf(ds)     =>
        val n = ds.map(d => norm(strip(d))).toSet
        c.copy(removed = c.removed ++ n, sets = c.sets -- n)
      case WherePred(p)  => MCtx(removedAll = true, where = Some(strip(p)))
      case SetDim(d, e)  =>
        val plain = e.replaceAll(raw"(?i)\bCURRENT\s+", "")
        c.copy(sets = c.sets + (norm(strip(d)) -> strip(plain)))
    }}

  /** Normalized expression text for dim/key matching: lowercase, no
    * backticks, no whitespace (qualifiers must be stripped first). */
  private def norm(s: String): String =
    s.toLowerCase.replace("`", "").replaceAll("\\s+", "")

  // ------------------------------------------------------------------
  // query-shape model
  // ------------------------------------------------------------------

  /** One FROM relation: a measure view (model) or a plain table. */
  private final case class SideDef(model: Option[Model], relName: String,
      alias: Option[String]) {
    val quals: Set[String] = Set(relName.toLowerCase) ++ alias.map(_.toLowerCase)
    def strip(e: String): String =
      quals.foldLeft(e)((s, q) =>
        s.replaceAll(raw"(?i)\b" + java.util.regex.Pattern.quote(q) + raw"\.", ""))
  }

  /** One grouping key: output name, owning side, raw (possibly qualified)
    * expression text. */
  private final case class KeyDef(name: String, side: Int, rawText: String)

  /** One measure call: measure name, modifier chain, and whether it was a
    * bare reference (bare refs evaluate over BASE rows, ignoring the
    * outer WHERE — paper Listing 8 semantics). */
  private final case class MCall(measure: String, mods: List[AtMod],
      raw: Boolean)

  private sealed trait Item
  private final case class DimItem(name: String) extends Item
  private final case class ExprItem(name: String, e: Expression) extends Item

  /** Walks select expressions replacing measure calls with marker
    * attributes; registers each call on its owning side. */
  private final class Extractor(sides: Seq[SideDef]) {
    private var n = 0
    var calls: Vector[(String, Int, MCall)] = Vector.empty // (marker, side, call)
    var markerSide: Map[String, Int] = Map.empty

    private def sideOfMeasure(name: String): Int = {
      val hits = sides.zipWithIndex.filter(_._1.model.exists(_.metric(name).isDefined))
      require(hits.size == 1,
        s"measure '$name' is ${if (hits.isEmpty) "unknown" else "ambiguous"}")
      hits.head._2
    }

    private def addCall(si: Int, c: MCall): UnresolvedAttribute = {
      val name = s"__graft_mc_$n"; n += 1
      calls :+= ((name, si, c))
      markerSide += (name -> si)
      UnresolvedAttribute(Seq(name))
    }

    private def updateCall(mk: String, f: MCall => MCall): UnresolvedAttribute = {
      val (_, si, c) = calls.find(_._1 == mk).get
      calls = calls.filterNot(_._1 == mk)
      markerSide -= mk
      addCall(si, f(c))
    }

    private def isMeasureRef(ua: UnresolvedAttribute): Boolean = {
      val name = ua.nameParts.last
      (ua.nameParts.size == 1 ||
        sides.exists(_.quals.contains(ua.nameParts.head.toLowerCase))) &&
        sides.exists(_.model.exists(_.metric(name).isDefined))
    }

    def hasMarker(e: Expression): Boolean = e.collectFirst {
      case ua: UnresolvedAttribute if markerSide.contains(ua.nameParts.last) => ()
    }.isDefined

    def apply(e: Expression): Expression = e.transformUp {
      case f: UnresolvedFunction
          if f.nameParts.last.equalsIgnoreCase("__graft_at") &&
            f.arguments.size == 2 =>
        val mod = f.arguments(1) match {
          case Literal(v, _) => parseMod(v.toString)
          case other => throw new IllegalArgumentException(
            s"bad AT modifier: ${other.sql}")
        }
        f.arguments.head match {
          case ua: UnresolvedAttribute if markerSide.contains(ua.nameParts.last) =>
            // any AT modifier restores the visible-context family
            updateCall(ua.nameParts.last,
              c => c.copy(mods = c.mods :+ mod, raw = false))
          case other => throw new IllegalArgumentException(
            s"AT applies to measure aggregates, got: ${other.sql}")
        }
      case f: UnresolvedFunction
          if f.nameParts.last.equalsIgnoreCase("aggregate") &&
            f.arguments.size == 1 && f.filter.isEmpty =>
        f.arguments.head match {
          // the bare-measure rule already extracted the argument
          // (transformUp visits children first): AGGREGATE() makes the
          // call visible-context
          case ua: UnresolvedAttribute if markerSide.contains(ua.nameParts.last) =>
            updateCall(ua.nameParts.last, _.copy(raw = false))
          case ua: UnresolvedAttribute =>
            addCall(sideOfMeasure(ua.nameParts.last),
              MCall(ua.nameParts.last, Nil, raw = false))
          case other => throw new IllegalArgumentException(
            s"AGGREGATE takes a measure reference, got: ${other.sql}")
        }
      case ua: UnresolvedAttribute if isMeasureRef(ua) =>
        addCall(sideOfMeasure(ua.nameParts.last),
          MCall(ua.nameParts.last, Nil, raw = true))
    }
  }

  /** Plain SQL aggregate functions that may appear alongside measures and
    * aggregate the (joined, filtered) row relation at the query grain. */
  private val InlineAggNames = Set("count", "sum", "avg", "mean", "min", "max",
    "median", "mode", "stddev", "stddev_samp", "stddev_pop", "variance",
    "var_samp", "var_pop", "percentile", "percentile_cont", "percentile_disc",
    "first", "last", "any_value", "collect_list", "collect_set")

  private def hasInlineAgg(e: Expression): Boolean = e.collectFirst {
    case f: UnresolvedFunction
        if InlineAggNames(f.nameParts.last.toLowerCase) => ()
  }.isDefined

  // ------------------------------------------------------------------
  // plan walking
  // ------------------------------------------------------------------

  private def rewrite(plan: LogicalPlan): Option[DataFrame] = {
    var limit: Option[Int] = None
    var sorts: Seq[SortOrder] = Nil
    var havingCond: Option[Expression] = None
    var cur = plan
    var unwrapping = true
    while (unwrapping) cur match {
      case gl: GlobalLimit =>
        limit = Some(gl.limitExpr.eval().asInstanceOf[Number].intValue()); cur = gl.child
      case ll: LocalLimit => cur = ll.child
      case s: Sort if s.global => sorts = s.order; cur = s.child
      case h: UnresolvedHaving => havingCond = Some(h.havingCondition); cur = h.child
      case _ => unwrapping = false
    }

    val (items, groupBy, src0) = cur match {
      case p: Project   => (p.projectList, None, p.child)
      case a: Aggregate => (a.aggregateExpressions, Some(a.groupingExpressions), a.child)
      case _ => return None
    }

    var filterExprs = Seq.empty[Expression]
    var src = src0
    var walking = true
    while (walking) src match {
      case f: Filter => filterExprs :+= f.condition; src = f.child
      case _         => walking = false
    }

    // FROM: one relation, or an inner equi-join of two
    def relOf(p: LogicalPlan): Option[SideDef] = p match {
      case ur: UnresolvedRelation if ur.multipartIdentifier.size == 1 =>
        val n = ur.multipartIdentifier.head
        Some(SideDef(cat.models.get(n), n, None))
      case SubqueryAlias(id, ur: UnresolvedRelation)
          if ur.multipartIdentifier.size == 1 =>
        val n = ur.multipartIdentifier.head
        Some(SideDef(cat.models.get(n), n, Some(id.name)))
      case _ => None
    }

    val (sides, pairs): (Vector[SideDef], Vector[(String, String)]) = src match {
      case j: Join =>
        val l = relOf(j.left).getOrElse(return None)
        val r = relOf(j.right).getOrElse(return None)
        if (l.model.isEmpty && r.model.isEmpty) return None
        val ps: Vector[(String, String)] = j.joinType match {
          case UsingJoin(Inner, cols) => cols.toVector.map(c => (c, c))
          case Inner =>
            val cond = j.condition.getOrElse(return None)
            var acc = Vector.empty[(String, String)]
            def sideOfAttr(ua: UnresolvedAttribute): Option[Int] =
              if (ua.nameParts.size > 1)
                Seq(l, r).zipWithIndex.find(_._1.quals.contains(
                  ua.nameParts.head.toLowerCase)).map(_._2)
              else Seq(l, r).zipWithIndex.find(_._1.model.exists(
                _.dimension(ua.nameParts.last).isDefined)).map(_._2)
            def collect(e: Expression): Boolean = e match {
              case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
                collect(a) && collect(b)
              case org.apache.spark.sql.catalyst.expressions.EqualTo(
                  a: UnresolvedAttribute, b: UnresolvedAttribute) =>
                (sideOfAttr(a), sideOfAttr(b)) match {
                  case (Some(0), Some(1)) =>
                    acc :+= ((a.nameParts.last, b.nameParts.last)); true
                  case (Some(1), Some(0)) =>
                    acc :+= ((b.nameParts.last, a.nameParts.last)); true
                  case _ => false
                }
              case _ => false
            }
            if (!collect(cond)) return None
            acc
          case _ => return None
        }
        (Vector(l, r), ps)
      case other =>
        val s = relOf(other).getOrElse(return None)
        if (s.model.isEmpty) return None
        (Vector(s), Vector.empty)
    }
    val single = sides.size == 1

    // ---- classify select items ----
    val ex = new Extractor(sides)
    var keys = Vector.empty[KeyDef]
    var outputs = Vector.empty[(String, Item)]
    var autoN = 0

    def sideOfDim(ua: UnresolvedAttribute): Int =
      if (ua.nameParts.size > 1)
        sides.indexWhere(_.quals.contains(ua.nameParts.head.toLowerCase)) match {
          case -1 => throw new IllegalArgumentException(
            s"unknown qualifier '${ua.nameParts.head}'")
          case i => i
        }
      else if (single) 0
      else sides.indexWhere(_.model.exists(
        _.dimension(ua.nameParts.last).isDefined)) match {
        case -1 => 0
        case i  => i
      }

    items.foreach { item =>
      val (e, aliasName) = unalias(item)
      val extracted = ex(e)
      if (ex.hasMarker(extracted)) {
        val name = aliasName.getOrElse(extracted match {
          case ua: UnresolvedAttribute => // lone call → measure name
            ex.calls.find(_._1 == ua.nameParts.last)
              .map(_._3.measure).getOrElse(ua.nameParts.last)
          case _ => { autoN += 1; s"__graft_e$autoN" }
        })
        outputs :+= (name, ExprItem(name, extracted))
      } else if (extracted.foldable || hasInlineAgg(extracted)) {
        // constants are NOT grouping terms; plain aggregates aggregate
        // the row relation at the query grain
        val name = aliasName.getOrElse { autoN += 1; s"__graft_e$autoN" }
        outputs :+= (name, ExprItem(name, extracted))
      } else {
        val (name, si, rawText) = extracted match {
          case ua: UnresolvedAttribute =>
            (aliasName.getOrElse(ua.nameParts.last), sideOfDim(ua),
              ua.nameParts.mkString("."))
          case other =>
            val n = aliasName.getOrElse { autoN += 1; s"__graft_d$autoN" }
            val si = other.collectFirst {
              case ua: UnresolvedAttribute => sideOfDim(ua) }.getOrElse(0)
            (n, si, exprText(other))
        }
        keys :+= KeyDef(name, si, rawText)
        outputs :+= (name, DimItem(name))
      }
    }

    // ---- explicit GROUP BY (names, expressions, ordinals, ROLLUP) ----
    var rollupMode = false
    groupBy.filter(_.nonEmpty).foreach { ges0 =>
      val ges = ges0 match {
        // children is the flat grouping-expression list (groupByExprs
        // asserts resolution, unusable pre-analysis)
        case Seq(r: Rollup) => rollupMode = true; r.children.distinct
        case other          => other
      }
      val allKeys = keys
      def stripAll(s: String) = sides.foldLeft(s)((x, sd) => sd.strip(x))
      val picked = ges.map {
        case Ordinal(v) =>
          val (e2, aliasName) = unalias(items(v - 1))
          val n = aliasName.getOrElse(e2 match {
            case ua: UnresolvedAttribute => ua.nameParts.last
            case other => norm(exprText(other))
          })
          allKeys.find(k => k.name == n ||
              norm(stripAll(k.rawText)) == norm(stripAll(exprText(e2))))
            .getOrElse(throw new IllegalArgumentException(
              s"GROUP BY ordinal $v is not a dimension item"))
        case ge =>
          val nrm = norm(stripAll(exprText(ge)))
          allKeys.find(k => norm(k.name) == nrm ||
              norm(stripAll(k.rawText)) == nrm)
            .getOrElse(throw new IllegalArgumentException(
              s"GROUP BY must echo selected dimensions, got: ${ge.sql}"))
      }
      val pickedNames = picked.map(_.name).toSet
      allKeys.foreach(k => require(pickedNames(k.name),
        s"selected dimension '${k.name}' missing from GROUP BY"))
      keys = picked.toVector.distinct
    }
    // HAVING participates in extraction too
    val havingExpr = havingCond.map(ex(_))

    // WHERE conditions may carry correlated measure predicates (paper
    // Listing 12): extract their calls too; plain conditions stay text
    var filters = Seq.empty[String]
    var measureFilters = Seq.empty[Expression]
    filterExprs.foreach { fe =>
      val extracted = ex(fe)
      if (ex.hasMarker(extracted)) measureFilters :+= extracted
      else filters :+= fe.sql
    }

    Some(build(sides, pairs, keys, outputs, ex, filters, measureFilters,
      rollupMode, havingExpr, sorts, limit))
  }

  private def unalias(item: Expression): (Expression, Option[String]) = item match {
    case UnresolvedAlias(childE, _) => (childE, None)
    case a @ Alias(childE, name)    => (childE, Some(name))
    case other                      => (other, None)
  }

  private def exprText(e: Expression): String = e match {
    case ua: UnresolvedAttribute => ua.nameParts.mkString(".")
    case other                   => other.sql
  }

  // ------------------------------------------------------------------
  // evaluation
  // ------------------------------------------------------------------

  /** Strip side qualifiers off attributes inside an expression (used in
    * single-side mode where the row relation carries no alias). */
  private def stripAttrQuals(e: Expression, quals: Set[String]): Expression =
    e.transformUp {
      case ua: UnresolvedAttribute
          if ua.nameParts.size > 1 && quals.contains(ua.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(ua.nameParts.tail)
    }

  private def build(sides: Vector[SideDef], pairs: Vector[(String, String)],
      keys: Vector[KeyDef], outputs: Vector[(String, Item)], ex: Extractor,
      filters: Seq[String], measureFilters: Seq[Expression],
      rollupMode: Boolean,
      havingExpr: Option[Expression], sorts: Seq[SortOrder],
      limit: Option[Int]): DataFrame = {

    val single = sides.size == 1

    def sideBase(i: Int): DataFrame = sides(i).model match {
      case Some(m) => baseFrame(m)
      case None    =>
        val rel = sides(i).relName
        scope.value.reverseIterator.find(_._1.equalsIgnoreCase(rel))
          .fold(spark.table(rel))(c =>
            GraftSqlBridge.dataFrame(spark, SubqueryAlias(rel, c._2)))
    }
    def sideAliasName(i: Int): String =
      sides(i).alias.getOrElse(sides(i).relName)

    // filters routed to a side's measure context: in single-side mode all
    // of them (qualifiers stripped); in join mode those whose referenced
    // columns resolve into that side — qualified refs by alias, unqualified
    // refs by unique ownership of the column in one side's base frame
    // (ambiguous or unknown unqualified refs raise rather than silently
    // dropping the predicate from the measure context)
    val sideColsLower: Vector[Set[String]] =
      if (single) Vector.empty
      else sides.indices.map(i =>
        sideBase(i).columns.map(_.toLowerCase).toSet).toVector
    val filterOwners: Seq[(String, Set[Int])] =
      if (single) Nil
      else filters.map { f =>
        val refs = GraftSqlBridge.parser(spark).parseExpression(f).collect {
          case ua: UnresolvedAttribute => ua
        }
        val owners = refs.flatMap { ua =>
          if (ua.nameParts.size > 1) {
            val i = sides.indexWhere(_.quals.contains(ua.nameParts.head.toLowerCase))
            if (i >= 0) Seq(i) else Seq.empty
          } else {
            val os = sides.indices.filter(i =>
              sideColsLower(i).contains(ua.nameParts.last.toLowerCase))
            if (os.isEmpty) throw new IllegalArgumentException(
              s"filter column '${ua.nameParts.mkString(".")}' resolves to no side of the join")
            if (os.size > 1) throw new IllegalArgumentException(
              s"ambiguous unqualified filter column '${ua.nameParts.mkString(".")}' in a join query; qualify it")
            os
          }
        }.toSet
        (f, owners)
      }
    def sideFilters(i: Int): Seq[String] =
      if (single) filters.map(sides(i).strip)
      else filterOwners.collect { case (f, owners) if owners.contains(i) =>
        sides(i).strip(f) }

    // ---- row relation (joined base rows, WHERE applied) ----
    val rowRel0 =
      if (single) sideBase(0)
      else {
        val l = sideBase(0).alias(sideAliasName(0))
        val r = sideBase(1).alias(sideAliasName(1))
        val cond = pairs.map { case (lc, rc) =>
          col(s"${sideAliasName(0)}.$lc") === col(s"${sideAliasName(1)}.$rc")
        }.reduce(_ && _)
        l.join(r, cond, "inner")
      }
    var rowRel = filters.foldLeft(rowRel0)((df, f) =>
      df.filter(expr(if (single) sides(0).strip(f) else f)))

    // ---- correlated measure predicates in WHERE (paper Listing 12):
    // `WHERE o.revenue > o.avgRevenue AT (WHERE prodName = o.prodName)` —
    // each call's AT (WHERE dim = o.dim) correlation becomes a grouped
    // sub-aggregate joined onto the ROW relation, then the predicate
    // filters rows before any grouping ----
    measureFilters.foreach { fe =>
      val markers = fe.collect {
        case ua: UnresolvedAttribute if ex.markerSide.contains(ua.nameParts.last) =>
          ua.nameParts.last
      }.distinct
      markers.foreach { mk =>
        val (_, si, call) = ex.calls.find(_._1 == mk).get
        val side = sides(si)
        val model = side.model.getOrElse(throw new IllegalArgumentException(
          s"measure filter on non-model relation '${side.relName}'"))
        val agg = measureAgg(model, call.measure).as(mk)
        val baseDf = baseFrame(model)
        // correlation shape: dim = <qual>.dim (qual ∈ this side's names)
        val corr = call.mods.collectFirst {
          case WherePred(p) =>
            raw"^\s*(\w+)\s*=\s*(\w+)\.(\w+)\s*$$".r.findFirstMatchIn(p.trim)
              .filter(m => side.quals.contains(m.group(2).toLowerCase))
              .map(m => (m.group(1), m.group(3)))
        }.flatten
        corr match {
          case Some((subDim, outerCol)) =>
            val sub = baseDf.groupBy(expr(subDim).as(s"__mf_$mk")).agg(agg)
            rowRel = rowRel.join(broadcast(sub),
              expr(if (single) outerCol else s"${sideAliasName(si)}.$outerCol")
                <=> col(s"__mf_$mk"), "left").drop(s"__mf_$mk")
          case None =>
            // uncorrelated (scalar context over base rows)
            val scalarCtx = call.mods.collectFirst { case WherePred(p) =>
              side.strip(p) }
            val sub = scalarCtx.map(p => baseDf.filter(expr(p)))
              .getOrElse(baseDf).agg(agg)
            rowRel = rowRel.crossJoin(broadcast(sub))
        }
      }
      val cond = if (single) stripAttrQuals(fe, sides(0).quals) else fe
      rowRel = rowRel.filter(GraftSqlBridge.column(cond))
        .drop(markers: _*)
    }
    // calls consumed by WHERE predicates don't join onto the grouped frame
    val whereMarkers = measureFilters.flatMap(_.collect {
      case ua: UnresolvedAttribute if ex.markerSide.contains(ua.nameParts.last) =>
        ua.nameParts.last
    }).toSet

    // ---- grouped frame over the row relation ----
    val keyCols = keys.map { k =>
      val t = if (single) sides(0).strip(k.rawText) else k.rawText
      expr(t).as(k.name)
    }
    // inline aggregates + (single-side, non-rollup) plain-visible measures
    val inlineItems: Vector[(String, Expression)] = outputs.collect {
      case (name, ExprItem(_, e)) if !ex.hasMarker(e) && hasInlineAgg(e) =>
        (name, if (single) stripAttrQuals(e, sides(0).quals) else e)
    }
    var frameCalls = ex.calls.filterNot(c => whereMarkers(c._1))
      .map { case (mk, si, c) => (mk, si, c, foldMods(c.mods, sides(si).strip)) }
    var inlineAggCols = inlineItems.map { case (n, e) =>
      GraftSqlBridge.column(e).as(n) }
    if (single && !rollupMode) {
      // fast path: plain-visible calls aggregate in the main groupBy
      // (window measures always take the join-back path — they evaluate
      // over context rows, not inside an aggregation)
      val (inl, rest) = frameCalls.partition { case (_, _, c, ctx) =>
        ctx.isPlain && (!c.raw || filters.isEmpty) &&
          !isWindowMeasure(sides(0).model.get, c.measure) }
      frameCalls = rest
      inlineAggCols = inlineAggCols ++ inl.map { case (mk, _, c, _) =>
        measureAgg(sides(0).model.get, c.measure).as(mk) }
    }

    var grouped: DataFrame =
      if (keys.nonEmpty) {
        val g =
          if (rollupMode) rowRel.rollup(keyCols: _*)
          else rowRel.groupBy(keyCols: _*)
        if (inlineAggCols.nonEmpty) g.agg(inlineAggCols.head, inlineAggCols.tail: _*)
        else if (rollupMode) g.agg(count(lit(1)).as("__graft_cnt")).drop("__graft_cnt")
        else rowRel.select(keyCols: _*).distinct()
      } else {
        if (inlineAggCols.nonEmpty) rowRel.agg(inlineAggCols.head, inlineAggCols.tail: _*)
        else spark.range(1).select()
      }

    // ---- measure frames joined back ----
    // rollup super-aggregate rows have synthesized NULL keys with no
    // defining context → strict equality misses them → NULL measures;
    // real NULL dimension values must keep matching → null-safe equality
    def keyEq(a: Column, b: Column): Column =
      if (rollupMode) a === b else a <=> b

    frameCalls.zipWithIndex.foreach { case ((mk, si, c, ctx), i) =>
      val side = sides(si)
      val model = side.model.getOrElse(throw new IllegalArgumentException(
        s"measure '${c.measure}' on non-model relation '${side.relName}'"))
      val window = isWindowMeasure(model, c.measure)

      // grouping keys that map into this side: its own, or the join
      // partner of another side's key
      val mapped: Vector[(KeyDef, String)] = keys.flatMap { k =>
        if (k.side == si) Some(k -> side.strip(k.rawText))
        else {
          val colName = sides(k.side).strip(k.rawText)
          val partner =
            if (si == 1) pairs.collectFirst { case (l, r) if l == colName => r }
            else pairs.collectFirst { case (l, r) if r == colName => l }
          partner.map(p => k -> p)
        }
      }
      val keep =
        if (ctx.removedAll) Vector.empty[(KeyDef, String)]
        else mapped.filterNot { case (k, t) =>
          ctx.removed(norm(t)) || ctx.removed(norm(k.name)) }

      val unresolvable = ctx.sets.keys.filterNot(n =>
        keep.exists { case (k, t) => norm(t) == n || norm(k.name) == n })

      val baseDf = baseFrame(model)
      val routed = sideFilters(si)

      // one sub-frame: keep keys + the measure value. Aggregating
      // measures group-and-aggregate; WINDOW measures evaluate their
      // window over the context rows and must be single-valued per
      // group (paper semantics — multiple values raise at runtime)
      def subFrame(ctxDf: DataFrame,
          keepCols: Vector[(KeyDef, String)]): DataFrame =
        if (!window) {
          val agg = measureAgg(model, c.measure).as(mk)
          if (keepCols.isEmpty) ctxDf.agg(agg)
          else ctxDf.groupBy(keepCols.map { case (k, t) =>
            expr(t).as(k.name) }: _*).agg(agg)
        } else {
          val winSql = model.metric(c.measure).flatMap(_.sql).getOrElse(
            throw new IllegalArgumentException(
              s"window measure '${c.measure}' has no sql"))
          val valued = ctxDf.withColumn(mk, expr(winSql))
          val guard = when(col("__gw_mn") <=> col("__gw_mx"), col("__gw_mn"))
            .otherwise(raise_error(lit(s"Window measure ${c.measure} " +
              "returned multiple values for the evaluation context"))).as(mk)
          if (keepCols.isEmpty)
            valued.agg(min(col(mk)).as("__gw_mn"), max(col(mk)).as("__gw_mx"))
              .select(guard)
          else valued.groupBy(keepCols.map { case (k, t) =>
              expr(t).as(k.name) }: _*)
            .agg(min(col(mk)).as("__gw_mn"), max(col(mk)).as("__gw_mx"))
            .select(keepCols.map { case (k, _) => col(k.name) } :+ guard: _*)
        }

      if (unresolvable.nonEmpty) {
        // SET on an ungrouped dim: a single-valued WHERE equality can pin
        // it (CURRENT semantics); otherwise the context is ambiguous → NULL
        val dimN = unresolvable.head
        val pin: Option[String] = routed.collectFirst {
          case f if {
            val m = raw"(?i)^\s*\(?\s*([A-Za-z_][\w().,\s]*?)\s*=\s*([^=<>!]+?)\s*\)?\s*$$"
              .r.findFirstMatchIn(f)
            m.exists(mm => norm(side.strip(mm.group(1))) == dimN)
          } =>
            raw"(?i)^\s*\(?\s*([A-Za-z_][\w().,\s]*?)\s*=\s*([^=<>!]+?)\s*\)?\s*$$"
              .r.findFirstMatchIn(f).get.group(2)
        }
        pin match {
          case Some(value) if ctx.sets.size == 1 && keep.isEmpty =>
            val setExpr = ctx.sets(dimN)
            val dimText = keys.find(k => norm(side.strip(k.rawText)) == dimN)
              .map(k => side.strip(k.rawText)).getOrElse(dimN)
            val target = expr(setExpr.replaceAll(
              raw"(?i)\b" + java.util.regex.Pattern.quote(dimText) + raw"\b",
              s"($value)"))
            val keepFilters = routed.filterNot(f => norm(f).contains(dimN))
            val ctxDf = keepFilters.foldLeft(baseDf)((df, f) => df.filter(expr(f)))
            val sub = subFrame(ctxDf.filter(expr(dimText) === target), Vector.empty)
            grouped = grouped.crossJoin(broadcast(sub))
          case _ =>
            grouped = grouped.withColumn(mk, lit(null).cast("double"))
        }
      } else {
        val subFilters: Seq[String] =
          if (c.raw) Nil
          else ctx.where match {
            case Some(w) => Seq(w)
            case None => routed.filterNot(f =>
              ctx.sets.keys.exists(d => norm(f).contains(d)))
          }
        val ctxDf = subFilters.foldLeft(baseDf)((df, f) => df.filter(expr(f)))
        if (keep.isEmpty) {
          grouped = grouped.crossJoin(broadcast(subFrame(ctxDf, Vector.empty)))
        } else {
          val sub = subFrame(ctxDf, keep)
          val gsAlias = s"__gs_$i"
          val conds = keep.map { case (k, t) =>
            ctx.sets.get(norm(t)).orElse(ctx.sets.get(norm(k.name))) match {
              case Some(setExpr) =>
                col(s"$gsAlias.${k.name}") === shiftedKey(setExpr, side, keys, "__gm")
              case None => keyEq(col(s"__gm.${k.name}"), col(s"$gsAlias.${k.name}"))
            }
          }
          val prior = grouped.columns
          grouped = grouped.as("__gm").join(broadcast(sub.as(gsAlias)),
              conds.reduce(_ && _), "left")
            .select(prior.map(cn => col(s"__gm.$cn")) :+ col(s"$gsAlias.$mk"): _*)
        }
      }
    }

    // ---- HAVING over the computed frame ----
    havingExpr.foreach { h =>
      val cond = if (single) stripAttrQuals(h, sides(0).quals) else h
      grouped = grouped.filter(GraftSqlBridge.column(cond))
    }

    // ---- final projection, ORDER BY, LIMIT ----
    val cols = outputs.map {
      case (name, DimItem(key)) => col(key).as(name)
      case (name, ExprItem(_, e)) =>
        val e2 = if (ex.hasMarker(e)) e
          else if (single) stripAttrQuals(e, sides(0).quals) else e
        if (!ex.hasMarker(e) && hasInlineAgg(e)) col(name) // already aggregated
        else GraftSqlBridge.column(e2).as(name)
    }
    var out = grouped.select(cols: _*)
    val orderCols = sorts.map { so =>
      val name = so.child match {
        case Ordinal(v)              => outputs(v - 1)._1
        case ua: UnresolvedAttribute => ua.nameParts.last
        case other => throw new IllegalArgumentException(
          s"ORDER BY must reference output columns, got: ${other.sql}")
      }
      if (so.direction == Ascending) col(name).asc else col(name).desc
    }
    if (orderCols.nonEmpty) out = out.orderBy(orderCols: _*)
    limit.foreach(l => out = out.limit(l))
    out
  }

  /** A SET shift expression referencing outer dims (`year - 1`) becomes a
    * Column over the main frame's key columns. */
  private def shiftedKey(setExpr: String, side: SideDef, keys: Vector[KeyDef],
      mainAlias: String): Column = {
    val rewritten = keys.sortBy(-_.rawText.length).foldLeft(setExpr) {
      case (s, k) =>
        val plainKey = side.strip(k.rawText)
        val replaced =
          if (raw"^[A-Za-z_]\w*$$".r.findFirstIn(plainKey).isDefined)
            s.replaceAll(raw"(?i)\b" + java.util.regex.Pattern.quote(plainKey) + raw"\b",
              s"`$mainAlias`.`${k.name}`")
          else s
        if (replaced != s) replaced
        else s.replace(plainKey, s"`$mainAlias`.`${k.name}`")
    }
    expr(rewritten)
  }

  /** GROUP BY 1 / ORDER BY 1 — ordinals arrive as UnresolvedOrdinal or a
    * plain integer literal depending on the parse path. */
  private object Ordinal {
    def unapply(e: Expression): Option[Int] = e match {
      case UnresolvedOrdinal(v) => Some(v)
      case Literal(v: Int, _)   => Some(v)
      case _                    => None
    }
  }

  // ------------------------------------------------------------------
  // measure lowering
  // ------------------------------------------------------------------

  /** A derived measure whose SQL is a window expression: evaluates over
    * context rows, never inside an aggregation. */
  private def isWindowMeasure(model: Model, name: String): Boolean =
    model.metric(name).exists(m => m.metricType.contains("derived") &&
      m.sql.exists(s => raw"(?i)\bOVER\s*\(".r.findFirstIn(s).isDefined))

  /** Lower a measure to its aggregation Column; derived measures expand
    * over their components recursively; raw-SQL measures (CASE-over-SUM,
    * percentiles, mode) re-evaluate their aggregate SQL over base rows —
    * which is exactly how non-decomposable aggregates stay correct at any
    * grain. */
  private def measureAgg(model: Model, name: String): Column = {
    val m = model.metric(name).getOrElse(throw new IllegalArgumentException(
      s"unknown measure '$name' on '${model.name}'"))
    if (m.metricType.contains("derived")) {
      val sql = m.sql.getOrElse(throw new IllegalArgumentException(
        s"derived measure '$name' has no sql"))
      val components = model.metrics.map(_.name).filter { n =>
        n != name && (raw"(?i)\b" + java.util.regex.Pattern.quote(n) +
          raw"\b").r.findFirstIn(sql).isDefined
      }
      // parse the expression with component aggregates substituted in
      // (must parse via Catalyst directly: functions.expr() Columns are
      // opaque SqlExpression nodes in Spark 4 — transformUp can't enter)
      val substituted = components.foldLeft(sql)((s, n) =>
        s.replaceAll(raw"(?i)\b" + java.util.regex.Pattern.quote(n) + raw"\b",
          s"__graft_m_$n"))
      val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(substituted)
      GraftSqlBridge.column(components.foldLeft(parsed)((e, n) =>
        replaceMarker(e, s"__graft_m_$n", measureAgg(model, n))))
    } else {
      val inner = m.sql.map(expr).getOrElse(lit(1))
      val gated = m.filters.foldLeft(inner)((c, f) => when(expr(f), c))
      m.agg.getOrElse("sum") match {
        case "sum"            => sum(gated)
        case "avg"            => avg(gated)
        case "min"            => min(gated)
        case "max"            => max(gated)
        case "median"         => median(gated)
        case "stddev"         => stddev(gated)
        case "stddev_pop"     => stddev_pop(gated)
        case "variance"       => variance(gated)
        case "variance_pop"   => var_pop(gated)
        case "count_distinct" =>
          if (m.filters.nonEmpty) count_distinct(gated)
          else m.sql.map(s => splitTopLevel(s, ',').map(p => expr(p.trim)))
            .map(cs => count_distinct(cs.head, cs.tail: _*))
            .getOrElse(count_distinct(gated))
        case "approx_count_distinct" => approx_count_distinct(gated)
        case "count" =>
          if (m.sql.isEmpty) count(lit(1))
          else if (m.filters.nonEmpty) count(gated)
          else count(inner)
        case p @ ("percentile_cont" | "percentile_disc") =>
          graft.functions.PercentileAgg.column(p, gated, m.aggParam)
        case other => throw new IllegalArgumentException(s"unsupported agg: $other")
      }
    }
  }

  private def replaceMarker(e: Expression, marker: String,
      replacement: Column): Expression = e.transformUp {
    case ua: UnresolvedAttribute if ua.nameParts.last.equalsIgnoreCase(marker) =>
      GraftSqlBridge.expression(replacement)
  }
}
