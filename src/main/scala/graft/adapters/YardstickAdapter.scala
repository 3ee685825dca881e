package graft.adapters

import graft.load.{AggExtract, YamlLoader, YamlTree}
import graft.model._
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias, UnresolvedWith}

/** Importer for Yardstick SQL definitions — `CREATE VIEW` statements whose
  * projections declare measures with `AGG(expr) AS MEASURE name`
  * (reference: sidemantic/adapters/yardstick.py; the "Measures in SQL"
  * AS MEASURE surface). Queries against the imported models run through
  * [[graft.sqlfront.Yardstick]].
  *
  * The `MEASURE` keyword is stripped (string-literal-aware) and the
  * remaining statement parsed with Spark's own SQL parser; tagged aliases
  * become metrics:
  *   - a lone aggregate call → native (agg, inner) via [[AggExtract]],
  *     `FILTER (WHERE …)` → metric filters
  *   - an expression referencing OTHER measures (`revenue - cost`) →
  *     derived metric over those measures
  *   - anything else aggregate-shaped → derived raw SQL
  * Untagged projections become dimensions (type inferred from name /
  * date functions). A bare single-table FROM becomes the model table; a
  * FROM with joins/WHERE/CTEs becomes a derived base relation.
  */
object YardstickAdapter {

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Seq[Model] =
    loadString(YamlTree.readText(path), resolve)

  def loadString(sql: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Seq[Model] =
    splitStatements(sql).flatMap(parseStatement(_, resolve))

  // ---- statement handling ----

  /** Split on top-level `;`, string-literal-aware. */
  private def splitStatements(sql: String): Seq[String] = {
    var out = Vector.empty[String]
    val cur = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql(i)
      if (c == '\'' || c == '"') {
        cur.append(c); i += 1
        while (i < sql.length && sql(i) != c) { cur.append(sql(i)); i += 1 }
        if (i < sql.length) { cur.append(c); i += 1 }
      } else if (c == '-' && i + 1 < sql.length && sql(i + 1) == '-') {
        while (i < sql.length && sql(i) != '\n') i += 1
      } else if (c == ';') { out :+= cur.toString; cur.clear(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    if (cur.toString.trim.nonEmpty) out :+= cur.toString
    out.map(_.trim).filter(_.nonEmpty)
  }

  private val CreateView =
    raw"(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+((?:SELECT|WITH)\b.*)$$".r

  /** `AS MEASURE <name>` on a masked copy → (cleaned SQL, measure names).
    * Masking blanks string literals so a literal "AS MEASURE x" can never
    * trigger (the reference uses sqlglot's tokenizer for the same end). */
  private[adapters] def stripMeasureTokens(sql: String): (String, Set[String]) = {
    val masked = maskStrings(sql)
    val re = ("""(?i)\bAS\s+(MEASURE)\s+([A-Za-z_]\w*|"[^"]+")""").r
    var names = Set.empty[String]
    val sb = new StringBuilder(sql)
    // replace right-to-left so positions stay valid
    re.findAllMatchIn(masked).toSeq.reverse.foreach { m =>
      names += m.group(2).stripPrefix("\"").stripSuffix("\"")
      // blank the MEASURE keyword, preserving character positions
      sb.replace(m.start(1), m.end(1), " " * (m.end(1) - m.start(1)))
    }
    (sb.toString, names)
  }

  private def maskStrings(text: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < text.length) {
      val c = text(i)
      if (c == '\'') {
        out.append(c); i += 1
        while (i < text.length && text(i) != c) { out.append(' '); i += 1 }
        if (i < text.length) { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private def parseStatement(stmt: String,
      resolve: YamlLoader.TableResolver): Option[Model] = stmt match {
    case CreateView(viewName, body) =>
      val (cleaned, measureNames) = stripMeasureTokens(body)
      if (measureNames.isEmpty) return None
      val plan =
        try CatalystSqlParser.parsePlan(cleaned)
        catch {
          case e: Exception =>
            graft.load.Fidelity.note("unparseable_view",
              s"CREATE VIEW '$viewName' body does not parse as Spark SQL " +
                s"after measure-token stripping (${e.getMessage
                  .takeWhile(_ != '\n')}); view dropped",
              severity = "unsupported", source = Some("yardstick"))
            return None
        }
      modelFromSelect(viewName.split('.').last, plan, measureNames,
        cleaned, resolve)
    case _ => None
  }

  // ---- model extraction ----

  private def modelFromSelect(viewName: String, plan: LogicalPlan,
      measureNames: Set[String], cleanedSql: String,
      resolve: YamlLoader.TableResolver,
      forceDerived: Boolean = false): Option[Model] = {
    val (items, child) = plan match {
      case p: Project   => (p.projectList, p.child)
      // a view with its own GROUP BY declares the same model: the group
      // keys are the dimensions, the aggregates the measures; base rows
      // stay pre-aggregation (AGGREGATE() re-groups at query grain)
      case a: Aggregate => (a.aggregateExpressions, a.child)
      // CTE-based view: model the main body; the base SQL keeps the CTEs
      // (the CTE name is not a real table, so the source must be derived)
      case w: UnresolvedWith =>
        return modelFromSelect(viewName, w.child, measureNames, cleanedSql,
          resolve, forceDerived = true)
      case _ => return None
    }

    var dims = Vector.empty[Dimension]
    var mets = Vector.empty[Metric]
    items.foreach {
      case a @ Alias(childExpr, name) =>
        if (measureNames(name)) mets :+= metricFrom(name, childExpr, measureNames)
        else dims :+= dimensionFrom(name, childExpr)
      case ua: UnresolvedAttribute =>
        val name = ua.nameParts.last
        if (measureNames(name)) mets :+= metricFrom(name, ua, measureNames)
        else dims :+= dimensionFrom(name, ua)
      case _: UnresolvedStar => () // pass-through columns, not modeled
      case _ => ()
    }
    if (mets.isEmpty) return None

    val source =
      if (forceDerived) derivedSource(cleanedSql)
      else sourceFrom(child, cleanedSql, resolve)
    Some(Model(name = viewName, source = source,
      primaryKey = dims.headOption.map(_.name).toSeq,
      dimensions = dims, metrics = mets))
  }

  private def metricFrom(name: String, e: Expression,
      allMeasures: Set[String]): Metric = {
    val others = (allMeasures - name).map(_.toLowerCase)
    if ((AggExtract.referencedColumns(e) & others).nonEmpty)
      Metric(name, metricType = Some("derived"), sql = Some(exprSql(e)))
    else AggExtract.extract(e) match {
      case Some(x) =>
        Metric(name, agg = Some(x.agg), sql = x.inner,
          filters = x.filter.toSeq)
      case None =>
        Metric(name, metricType = Some("derived"), sql = Some(exprSql(e)))
    }
  }

  private val GranularityByFunc = Map(
    "date" -> "day", "date_trunc" -> "day", "year" -> "year",
    "quarter" -> "quarter", "month" -> "month", "week" -> "week",
    "day" -> "day", "hour" -> "hour", "minute" -> "minute")

  private def dimensionFrom(name: String, e: Expression): Dimension = {
    val (dimType, grain): (DimType, Option[String]) = e match {
      case ua: UnresolvedAttribute =>
        val n = ua.nameParts.last.toLowerCase
        if (n.contains("timestamp")) (DimType.Time, Some("second"))
        else if (n.contains("date")) (DimType.Time, Some("day"))
        else if (n.contains("time")) (DimType.Time, Some("second"))
        else (DimType.Categorical, None)
      case f: UnresolvedFunction if f.nameParts.size == 1 &&
          GranularityByFunc.contains(f.nameParts.head.toLowerCase) =>
        (DimType.Time, GranularityByFunc.get(f.nameParts.head.toLowerCase))
      case _ => (DimType.Categorical, None)
    }
    Dimension(name = name, dimType = dimType, sql = Some(exprSql(e)),
      granularity = grain)
  }

  /** Bare single-table FROM → resolve(table); joins/filters/CTEs/VALUES →
    * a derived `SELECT * FROM <rest>` over the original FROM text (with
    * any leading WITH clause kept, and the view's own top-level GROUP BY
    * dropped — base rows stay pre-aggregation so AGGREGATE() can re-group
    * at query grain). */
  private def sourceFrom(child: LogicalPlan, cleanedSql: String,
      resolve: YamlLoader.TableResolver): ModelSource = child match {
    case ur: UnresolvedRelation => resolve(ur.multipartIdentifier.mkString("."))
    case SubqueryAlias(_, ur: UnresolvedRelation) =>
      resolve(ur.multipartIdentifier.mkString("."))
    case _ => derivedSource(cleanedSql)
  }

  private def derivedSource(cleanedSql: String): ModelSource = {
    val masked = maskStrings(cleanedSql)
    val bodyStart = afterWithClauses(cleanedSql, masked)
    val prefix = cleanedSql.substring(0, bodyStart)
    val body = cleanedSql.substring(bodyStart)
    val bodyMasked = masked.substring(bodyStart)
    val fromIdx = topLevel(bodyMasked, "FROM")
    if (fromIdx < 0) return ModelSource.SqlView(cleanedSql)
    val groupIdx = topLevel(bodyMasked, raw"GROUP\s+BY")
    val end = if (groupIdx > fromIdx) groupIdx else body.length
    ModelSource.SqlView(
      s"${prefix}SELECT * FROM ${body.substring(fromIdx + 4, end).trim}")
  }

  /** Index just past a leading `WITH name AS (…), …` clause list (0 when
    * the SQL has none). */
  private def afterWithClauses(sql: String, masked: String): Int = {
    if (raw"(?is)^\s*WITH\b".r.findFirstIn(masked).isEmpty) return 0
    var i = masked.indexWhere(!_.isWhitespace) + 4
    var more = true
    while (more) {
      val open = masked.indexOf('(', i)
      if (open < 0) return 0
      var depth = 0; var j = open; var close = -1
      while (j < masked.length && close < 0) {
        if (masked(j) == '(') depth += 1
        else if (masked(j) == ')') { depth -= 1; if (depth == 0) close = j }
        j += 1
      }
      if (close < 0) return 0
      i = close + 1
      while (i < sql.length && sql(i).isWhitespace) i += 1
      if (i < sql.length && sql(i) == ',') i += 1 else more = false
    }
    i
  }

  private def topLevel(masked: String, keyword: String): Int = {
    raw"(?i)\b$keyword\b".r.findAllMatchIn(masked)
      .find { m =>
        masked.substring(0, m.start).count(_ == '(') ==
          masked.substring(0, m.start).count(_ == ')')
      }.map(_.start).getOrElse(-1)
  }

  private def exprSql(e: Expression): String = e match {
    case a: UnresolvedAttribute => a.nameParts.mkString(".")
    // Expression.sql flattens WITHIN GROUP into plain arguments, which no
    // longer parses — re-emit the inverse-distribution form explicitly
    case f: UnresolvedFunction if f.orderingWithinGroup.nonEmpty =>
      s"${f.nameParts.mkString(".")}(${f.arguments.map(exprSql).mkString(", ")})" +
        s" WITHIN GROUP (ORDER BY ${f.orderingWithinGroup.map(_.sql).mkString(", ")})"
    // WindowExpression.sql leaks the internal UnspecifiedFrame marker,
    // which means "default frame" — drop it so the SQL re-parses
    case other => other.sql.replaceAll(raw"\s*unspecifiedframe\$$\(\)", "")
  }
}
