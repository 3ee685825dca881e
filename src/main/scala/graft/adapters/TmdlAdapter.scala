package graft.adapters

import graft.load.{YamlLoader, YamlTree}
import graft.model._

/** Importer for Power BI TMDL semantic models (reference:
  * sidemantic/adapters/tmdl.py + tmdl_parser.py + crates/dax-parser;
  * fixtures tests/fixtures/ tmdl, tmdl_realistic, external_powerbi).
  *
  * TMDL is an indentation-structured text format, one object per block:
  *   - `table NAME` with `column` (dataType, sourceColumn, isKey),
  *     `calculatedColumn NAME = <dax>`, `measure NAME = <dax>` (single
  *     line, continuation lines, or triple-backtick blocks), partitions
  *     and annotations (binding is by table name — partition M scripts
  *     are not executable here)
  *   - `calculatedTable NAME = <dax>` declares its columns the same way;
  *     the DAX table expression is not executable, so the table binds by
  *     name like a base table
  *   - `relationship` blocks with `fromColumn: 'T'[Col]` /
  *     `toColumn:` and cardinalities → join edges on the FROM table
  *     (column names resolve through sourceColumn to physical columns)
  *
  * Measures translate through a DAX subset — the executable core of the
  * reference's Rust DAX parser:
  *   - `SUM/MIN/MAX/AVERAGE/DISTINCTCOUNT/COUNT('T'[Col])` →
  *     aggregations; `COUNTROWS(T)` → count(*)
  *   - `DIVIDE(a, b[, alt])` → `a / NULLIF(b, 0)` composition
  *   - `[Other Measure]` references → derived metrics over them
  *   - arithmetic over the above stays derived
  *   - `CALCULATE(base, mods…)` with boolean filter args (same-table
  *     comparisons, `IN {…}` lists, `&&`/`||`) → metric-level filters;
  *     with `DATESYTD/QTD/MTD` → grain_to_date; with
  *     `SAMEPERIODLASTYEAR` / `DATEADD(col, -1, grain)` →
  *     time_comparison (prior period) — including when the CALCULATE is
  *     bound through a simple `VAR x = … RETURN x`
  *   - `TOTALYTD/QTD/MTD(agg, col)` → cumulative with grain_to_date
  *   - `CALCULATE(base, FILTER('T', pred))` over the SAME table with a
  *     translatable predicate → metric-level filters (r15)
  *   - `SWITCH(TRUE(), c, r, …[, else])` / `SWITCH(expr, v, r, …)` →
  *     CASE; `ISBLANK(x)` → `x IS NULL`; `BLANK()` → NULL; DAX
  *     double-quoted strings requote as SQL literals (r15, `""` escape
  *     honored r16)
  *   - `SUMX/AVERAGEX/MINX/MAXX/COUNTX('T', scalar)` over the same
  *     table → aggregate-of-expression; `RANKX(ALL(…), base[, order])`
  *     → a rank window over the grouped result (r16)
  * Only measures outside that subset (cross-table filters, iterator
  * bodies with measure refs or table expressions, table
  * constructors in non-IN position, multi-VAR bodies, …) fall back to
  * NON-PUBLIC derived stubs carrying their DAX verbatim (round-trip
  * fidelity without claiming executability) — the reference keeps those
  * queryable only through its own DAX engine, which has no Spark
  * equivalent.
  */
object TmdlAdapter {

  final case class Imported(models: Seq[Model])

  /** Load a PBIP-style definition directory (model.tmdl, the tables
    * directory, relationships.tmdl). */
  def loadDirectory(dir: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val defDir = {
      val d = new java.io.File(dir)
      val nested = new java.io.File(d, "definition")
      if (nested.isDirectory) nested else d
    }
    def read(f: java.io.File): String = YamlTree.readText(f.getPath)
    val tableFiles = Option(new java.io.File(defDir, "tables").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".tmdl")).sortBy(_.getName)
    val relFile = new java.io.File(defDir, "relationships.tmdl")
    val texts = tableFiles.toSeq.map(read) ++
      (if (relFile.isFile) Seq(read(relFile)) else Nil)
    load(texts, resolve)
  }

  def load(texts: Seq[String],
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val blocks = texts.flatMap(parseBlocks)
    val tables = blocks.collect { case t: TableBlock => t }
    val rels = blocks.collect { case r: RelBlock => r }

    // TMDL column name → physical column, per table
    val colMap: Map[String, Map[String, String]] = tables.map(t =>
      t.name -> t.columns.map(c => c.name -> c.source).toMap).toMap
    def physical(table: String, col: String): String =
      colMap.getOrElse(table, Map.empty).getOrElse(col, col)

    val models = tables.map { t =>
      val dims = t.columns.map { c =>
        val isTime = Set("date", "datetime").contains(c.dataType)
        Dimension(c.name,
          if (isTime) DimType.Time
          else if (Set("int64", "decimal", "double").contains(c.dataType))
            DimType.Numeric
          else if (c.dataType == "boolean") DimType.Bool
          else DimType.Categorical,
          sql = Some(c.source).filter(_ != c.name),
          granularity = if (isTime) Some(if (c.dataType == "date") "day" else "second") else None,
          public = !c.hidden)
      } ++ t.calcColumns.flatMap { cc =>
        daxToSql(cc.expr, t.name, t.measureNames).map(sql =>
          Dimension(cc.name, DimType.Numeric, sql = Some(sql)))
      }
      val metrics = t.measures.flatMap { m =>
        measureToMetric(m.name, m.expr, t.name, t.measureNames)
      }
      val myRels = rels.filter(_.fromTable == t.name).map { r =>
        Relationship(r.toTable,
          if (r.toCardinality == "one") "many_to_one" else "many_to_many",
          foreignKey = Seq(physical(r.fromTable, r.fromCol)),
          primaryKey = Seq(physical(r.toTable, r.toCol)))
      }
      Model(name = t.name, source = resolve(t.name),
        primaryKey = t.columns.filter(_.isKey).map(_.source),
        dimensions = dims, metrics = metrics, relationships = myRels)
    }
    // parameter/annotation-only helper tables carry nothing executable
    Imported(models.filter(m => m.dimensions.nonEmpty || m.metrics.nonEmpty))
  }

  // ------------------------------------------------------------------
  // TMDL text structure
  // ------------------------------------------------------------------

  private final case class Col(name: String, dataType: String,
      source: String, isKey: Boolean, hidden: Boolean)
  private final case class CalcCol(name: String, expr: String)
  private final case class Meas(name: String, expr: String)
  private sealed trait Block
  private final case class TableBlock(name: String, columns: Seq[Col],
      calcColumns: Seq[CalcCol], measures: Seq[Meas]) extends Block {
    def measureNames: Set[String] = measures.map(_.name).toSet
  }
  private final case class RelBlock(fromTable: String, fromCol: String,
      toTable: String, toCol: String, toCardinality: String) extends Block

  private def unquote(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'') t.substring(1, t.length - 1)
    else t
  }

  // external PBIP repos indent with tabs, the docs' examples with
  // spaces; a tab counts as one level like any other indent char
  private def indentOf(l: String): Int =
    l.takeWhile(c => c == ' ' || c == '\t').length

  private def parseBlocks(text: String): Seq[Block] = {
    val lines = text.split('\n').toVector
      .filterNot(l => l.trim.startsWith("#") || l.trim.startsWith("///"))
    var out = Vector.empty[Block]
    var i = 0
    val TableRe = raw"^(table|calculatedTable)\s+('[^']+'|\S+)\s*(=.*)?$$".r
    val RelRe = raw"^relationship\s+(.*)$$".r
    while (i < lines.length) {
      val l = lines(i)
      if (indentOf(l) == 0 && l.trim.nonEmpty) l.trim match {
        case TableRe(_, rawName, _) =>
          val (block, next) = blockLines(lines, i)
          out :+= parseTable(unquote(rawName), block)
          i = next
        case RelRe(_) =>
          val (block, next) = blockLines(lines, i)
          parseRel(block).foreach(out :+= _)
          i = next
        case _ =>
          val (_, next) = blockLines(lines, i) // model/database/expression
          i = next
      } else i += 1
    }
    out
  }

  /** The header line plus every following line with greater indent. */
  private def blockLines(lines: Vector[String], start: Int): (Vector[String], Int) = {
    var i = start + 1
    while (i < lines.length &&
        (lines(i).trim.isEmpty || indentOf(lines(i)) > 0)) i += 1
    (lines.slice(start, i), i)
  }

  private val PropRe = raw"^([A-Za-z]\w*)\s*:\s*(.*)$$".r
  private val ColRe = raw"^column\s+('[^']+'|\S+)\s*$$".r
  private val CalcColRe = raw"^calculatedColumn\s+('[^']+'|\S+)\s*=\s*(.*)$$".r
  private val MeasureRe = raw"^measure\s+('[^']+'|\S+)\s*=\s*(.*)$$".r
  /** Property keys that terminate a continued measure expression. */
  private val MeasureProps = Set("formatString", "displayFolder", "description",
    "lineageTag", "isHidden", "formatStringDefinition", "dataType",
    "annotation", "changedProperty", "sortByColumn", "dataCategory")

  private def parseTable(name: String, block: Vector[String]): TableBlock = {
    var cols = Vector.empty[Col]
    var calcCols = Vector.empty[CalcCol]
    var measures = Vector.empty[Meas]
    var i = 1
    while (i < block.length) {
      val t = block(i).trim
      val ind = indentOf(block(i))
      t match {
        case ColRe(rawName) =>
          // collect properties at deeper indent
          var dataType = "string"; var source = unquote(rawName)
          var isKey = false; var hidden = false
          var j = i + 1
          while (j < block.length && (block(j).trim.isEmpty || indentOf(block(j)) > ind)) {
            block(j).trim match {
              case PropRe("dataType", v)     => dataType = v.trim.toLowerCase
              case PropRe("sourceColumn", v) => source = unquote(v.trim)
              case "isKey"                   => isKey = true
              case "isHidden"                => hidden = true
              case _                         => ()
            }
            j += 1
          }
          cols :+= Col(unquote(rawName), dataType, source, isKey, hidden)
          i = j
        case CalcColRe(rawName, expr) =>
          calcCols :+= CalcCol(unquote(rawName), expr.trim)
          i += 1
        case MeasureRe(rawName, firstExpr) =>
          val (expr, next) = measureExpr(block, i, ind, firstExpr.trim)
          measures :+= Meas(unquote(rawName), expr)
          i = next
        case _ => i += 1
      }
    }
    TableBlock(name, cols, calcCols, measures)
  }

  /** A measure expression: rest of the line, a triple-backtick block, or
    * continuation lines deeper than the measure that aren't properties. */
  private def measureExpr(block: Vector[String], start: Int, ind: Int,
      firstExpr: String): (String, Int) = {
    var i = start + 1
    if (firstExpr.startsWith("```")) {
      val sb = new StringBuilder
      while (i < block.length && !block(i).trim.startsWith("```")) {
        sb.append(block(i).trim).append(' '); i += 1
      }
      if (i < block.length) i += 1 // closing fence
      return (sb.toString.trim, i)
    }
    val sb = new StringBuilder(firstExpr)
    var continuing = true
    while (continuing && i < block.length) {
      val t = block(i).trim
      val deeper = t.isEmpty || indentOf(block(i)) > ind
      val isProp = t match {
        case PropRe(k, _) => MeasureProps(k)
        case _ => t == "isHidden" || t.startsWith("annotation") ||
          raw"^(changedProperty|extendedProperty)\s*=".r.findFirstIn(t).isDefined
      }
      if (deeper && !isProp && t.nonEmpty) { sb.append(' ').append(t); i += 1 }
      else if (deeper && isProp) {
        // skip remaining property lines of this measure
        while (i < block.length && (block(i).trim.isEmpty || indentOf(block(i)) > ind)) i += 1
        continuing = false
      } else continuing = false
    }
    (sb.toString.trim, i)
  }

  private def parseRel(block: Vector[String]): Option[RelBlock] = {
    var fromT = ""; var fromC = ""; var toT = ""; var toC = ""
    var toCard = "one"
    val ColRef = raw"('[^']+'|[^'\[\s]+)\[([^\]]+)\]".r
    block.foreach(l => l.trim match {
      case PropRe("fromColumn", v) => ColRef.findFirstMatchIn(v).foreach { m =>
        fromT = unquote(m.group(1)); fromC = m.group(2) }
      case PropRe("toColumn", v) => ColRef.findFirstMatchIn(v).foreach { m =>
        toT = unquote(m.group(1)); toC = m.group(2) }
      case PropRe("toCardinality", v) => toCard = v.trim
      case _ => ()
    })
    if (fromT.nonEmpty && toT.nonEmpty) Some(RelBlock(fromT, fromC, toT, toC, toCard))
    else None
  }

  // ------------------------------------------------------------------
  // DAX subset → metrics
  // ------------------------------------------------------------------

  private val DaxAggs = Map("sum" -> "sum", "min" -> "min", "max" -> "max",
    "average" -> "avg", "distinctcount" -> "count_distinct",
    "count" -> "count", "counta" -> "count", "median" -> "median")

  /** Translate a DAX measure body. In order:
    *   - `VAR x = <expr> RETURN x` unwraps to the expression
    *   - lone aggregate / COUNTROWS → native metric
    *   - `CALCULATE(expr, mods…)`: boolean filter args → metric-level
    *     filters; `SAMEPERIODLASTYEAR`/`DATEADD(…, -1, grain)` →
    *     time_comparison (prior-period value); `DATESYTD/QTD/MTD` →
    *     grain_to_date cumulative
    *   - `TOTALYTD/TOTALQTD/TOTALMTD(expr, dates)` → grain_to_date
    *   - remaining composition (DIVIDE, arithmetic, measure refs) → derived
    *   - anything else → a non-public derived stub carrying the DAX
    *     verbatim (round-trip fidelity without claiming executability)
    */
  private def measureToMetric(name: String, dax0: String, table: String,
      measureNames: Set[String]): Seq[Metric] = {
    val dax = unwrapVarReturn(dax0)
    simpleAggMetric(name, dax, table).map(Seq(_))
      .orElse(calculateMetric(name, dax, table, measureNames))
      .orElse(totalToDateMetric(name, dax, table, measureNames))
      .orElse(iteratorMetric(name, dax, table, measureNames).map(Seq(_)))
      .orElse(rankxMetric(name, dax, table, measureNames))
      .orElse(daxToSql(dax, table, measureNames).map(sql =>
        Seq(Metric(name, metricType = Some("derived"), sql = Some(sql)))))
      .getOrElse(opaque(name, dax0))
  }

  /** `VAR x = <expr> RETURN x` (single var returned directly) → expr. */
  private def unwrapVarReturn(dax: String): String =
    raw"(?is)^\s*VAR\s+(\w+)\s*=\s*(.+?)\s*\bRETURN\s+(\w+)\s*$$".r
      .findFirstMatchIn(dax) match {
      case Some(m) if m.group(1) == m.group(3) => m.group(2).trim
      case _ => dax
    }

  /** Lone `AGG('T'[Col])` / `COUNTROWS(T)` → a native metric. */
  private def simpleAggMetric(name: String, dax: String,
      table: String): Option[Metric] = {
    val lone = raw"(?i)^\s*([a-z]+)\s*\(\s*(.*?)\s*\)\s*$$".r
    dax match {
      case lone(fn, arg) if DaxAggs.contains(fn.toLowerCase) &&
          !arg.exists(c => c == '(' || c == ',') =>
        columnRef(arg, table).map(col =>
          Metric(name, agg = Some(DaxAggs(fn.toLowerCase)),
            sql = Some(ident(col))))
      case lone(fn, arg) if fn.equalsIgnoreCase("countrows") &&
          unquote(arg.trim) == table =>
        Some(Metric(name, agg = Some("count")))
      case _ => None
    }
  }

  // ---- CALCULATE / time intelligence ------------------------------

  private sealed trait CalcMod
  private final case class Pred(sql: String) extends CalcMod
  private final case class Comparison(code: String) extends CalcMod
  private final case class GrainToDate(grain: String) extends CalcMod
  private final case class Trailing(n: Int, grain: String) extends CalcMod

  private val DateAddUnits = Map("year" -> "yoy", "quarter" -> "qoq",
    "month" -> "mom", "day" -> "dod")
  private val ToDateFns = Map("datesytd" -> "year", "totalytd" -> "year",
    "datesqtd" -> "quarter", "totalqtd" -> "quarter",
    "datesmtd" -> "month", "totalmtd" -> "month")

  private def parseCall(dax: String): Option[(String, String)] = {
    val m = raw"(?is)^\s*([a-z]+)\s*\((.*)\)\s*$$".r.findFirstMatchIn(dax)
    m.filter { mm =>
      // the closing paren must match the opening one — quote-aware, so
      // a paren inside a DAX string literal ("(a") or a quoted table
      // name ('T (new)') doesn't skew the balance (same quote handling
      // as splitArgs)
      val s = mm.group(2)
      var depth = 0; var ok = true; var i = 0
      while (i < s.length) {
        val c = s(i)
        if (c == '"' || c == '\'') {
          i += 1
          while (i < s.length && s(i) != c) i += 1
        } else if (c == '(') depth += 1
        else if (c == ')') { depth -= 1; if (depth < 0) ok = false }
        i += 1
      }
      ok && depth == 0
    }.map(mm => (mm.group(1).toLowerCase, mm.group(2)))
  }

  /** Index of the ')' matching the '(' at `open`, skipping quoted spans
    * (the same quote handling splitArgs uses — parens inside string
    * literals and quoted table names don't count). -1 when unbalanced.
    * Not `Brackets.closing`: DAX also quotes table names with `"`. */
  private def matchingParen(s: String, open: Int): Int = {
    var depth = 0; var i = open
    while (i < s.length) {
      val c = s(i)
      if (c == '"' || c == '\'') {
        i += 1
        while (i < s.length && s(i) != c) i += 1
      } else if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    -1
  }

  /** Split call arguments on top-level commas (paren/quote aware). */
  private def splitArgs(s: String): Seq[String] = {
    var out = Vector.empty[String]
    val cur = new StringBuilder
    var depth = 0; var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '"' || c == '\'') {
        val q = c; cur.append(c); i += 1
        while (i < s.length && s(i) != q) { cur.append(s(i)); i += 1 }
        if (i < s.length) { cur.append(q); i += 1 }
      } else {
        if (c == '(' || c == '{') depth += 1 // {…}: DAX IN-list / table ctor
        else if (c == ')' || c == '}') depth -= 1
        if (c == ',' && depth == 0) { out :+= cur.toString; cur.clear() }
        else cur.append(c)
        i += 1
      }
    }
    if (cur.nonEmpty) out :+= cur.toString
    out.map(_.trim).filter(_.nonEmpty)
  }

  private def classifyMod(arg: String, table: String): Option[CalcMod] =
    parseCall(arg) match {
      case Some(("sameperiodlastyear", _)) => Some(Comparison("yoy"))
      case Some(("dateadd", args)) => splitArgs(args) match {
        case Seq(_, n, unit)
            if n.trim == "-1" && DateAddUnits.contains(unit.trim.toLowerCase) =>
          Some(Comparison(DateAddUnits(unit.trim.toLowerCase)))
        case _ => None
      }
      case Some((fn, _)) if ToDateFns.contains(fn) =>
        Some(GrainToDate(ToDateFns(fn)))
      // DATESINPERIOD(dates, MAX(dates), -N, GRAIN) anchored at the
      // current context's max date IS the trailing-N-period window —
      // the rolling-3-month measure every real estate carries (r15)
      case Some(("datesinperiod", args)) => splitArgs(args) match {
        case Seq(_, anchor, n, unit)
            if raw"(?is)^\s*MAX\s*\(.+\)\s*$$".r.matches(anchor) &&
               raw"^-\d+$$".r.matches(n.trim) &&
               Set("year", "quarter", "month", "day")
                 .contains(unit.trim.toLowerCase) =>
          Some(Trailing(n.trim.drop(1).toInt, unit.trim.toLowerCase))
        case _ => None
      }
      // FILTER('T', pred) over the SAME table with a translatable
      // predicate is exactly a boolean filter arg with extra steps —
      // the most common CALCULATE table-expression in real TMDL estates
      case Some(("filter", args)) => splitArgs(args) match {
        case Seq(t, pred) if unquote(t) == table =>
          daxPredicate(pred, table).map(Pred.apply)
        case _ => None
      }
      case Some(_) => None // ALL/ALLEXCEPT/… — not representable per-metric
      case None => daxPredicate(arg, table).map(Pred.apply)
    }

  /** A boolean DAX filter arg over this table's columns → SQL predicate
    * (string literals requoted, &&/|| lowered). */
  private def daxPredicate(arg: String, table: String): Option[String] = {
    if (!raw"[=<>]|(?i)\bIN\b".r.findFirstIn(arg).isDefined) return None
    var s = arg
    val tq = java.util.regex.Pattern.quote(table)
    s = (raw"(?i)(?:'$tq'|$tq)\s*\[([^\]]+)\]").r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(ident(m.group(1))))
    s = raw"(?<!\w)\[([^\]]+)\]".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(ident(m.group(1))))
    if (s.contains("[") || s.contains("(")) return None // cross-table / calls
    // DAX double-quoted strings → SQL single-quoted ("" un-escapes first)
    s = raw""""((?:[^"]|"")*)"""".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        "'" + m.group(1).replace("\"\"", "\"").replace("'", "''") + "'"))
    // DAX IN-list braces → SQL parens: Col IN {"A","B"} is valid DAX but
    // `IN {...}` is not SQL
    s = raw"(?i)\bIN\s*\{([^{}]*)\}".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement("IN (" + m.group(1) + ")"))
    if (s.contains("{") || s.contains("}")) return None // non-IN table ctor
    s = s.replace("&&", " AND ").replace("||", " OR ")
    Some(s.replaceAll(raw"\s+", " ").trim)
  }

  /** The CALCULATE first argument as a base-metric reference: a same-table
    * `[Measure]` by name, or an inline aggregate synthesized as a hidden
    * base metric. */
  private def baseOf(name: String, expr: String, table: String,
      measureNames: Set[String]): Option[(String, Seq[Metric])] = {
    val measRef = raw"^\s*\[([^\]]+)\]\s*$$".r
    expr match {
      case measRef(m) if measureNames(m) => Some((m, Nil))
      case _ => simpleAggMetric(s"$name (Base)", expr, table)
        .orElse(iteratorMetric(s"$name (Base)", expr, table, measureNames))
        .map(met => (met.name, Seq(met.copy(public = false))))
    }
  }

  // ---- iterator functions / RANKX ----------------------------------

  private val IterAggs = Map("sumx" -> "sum", "averagex" -> "avg",
    "minx" -> "min", "maxx" -> "max", "countx" -> "count")

  /** `SUMX('T', <scalar expr>)` / AVERAGEX / MINX / MAXX / COUNTX over
    * the SAME table with a row-level scalar body → aggregate-of-
    * expression metric (SUMX(Sales, Sales[Qty] * Sales[Price]) is
    * sum(Qty * Price); COUNTX counts non-null evaluations, which is SQL
    * COUNT(expr)). Table expressions (FILTER, RELATEDTABLE, VALUES) and
    * bodies referencing measures (row-context measure evaluation) stay
    * outside the executable subset. */
  private def iteratorMetric(name: String, dax: String, table: String,
      measureNames: Set[String]): Option[Metric] =
    parseCall(dax) match {
      case Some((fn, argsStr)) if IterAggs.contains(fn) =>
        splitArgs(argsStr) match {
          case Seq(t, body) if unquote(t.trim) == table =>
            scalarSql(body, table, measureNames).map(sql =>
              Metric(name, agg = Some(IterAggs(fn)), sql = Some(sql)))
          case _ => None
        }
      case _ => None
    }

  private val AggCallRe = (raw"(?i)\b(sum|min|max|count|counta|average|" +
    raw"distinctcount|median|countrows)\s*\(").r

  /** A row-context scalar DAX body → SQL expression: same-table column
    * refs inline via [[daxToSql]]; aggregate calls and measure refs
    * refuse (a row expression cannot contain its own aggregation, and a
    * measure ref would mean row-context measure evaluation). */
  private def scalarSql(body: String, table: String,
      measureNames: Set[String]): Option[String] = {
    if (AggCallRe.findFirstIn(body).isDefined) return None
    val tq = java.util.regex.Pattern.quote(table)
    val woQualified =
      (raw"(?i)(?:'$tq'|$tq)\s*\[([^\]]+)\]").r.replaceAllIn(body, "")
    val bareRefs = raw"(?<!\w)\[([^\]]+)\]".r
      .findAllMatchIn(woQualified).map(_.group(1))
    if (bareRefs.exists(measureNames)) return None
    daxToSql(body, table, measureNames)
  }

  /** `RANKX(ALL('T') | 'T', <base>[, order])` → a rank window over the
    * grouped result, ordered by the base measure (reference:
    * crates/dax-parser RANKX; lowered through the metric
    * window_expression passthrough, the same machinery TableCalcs.rank
    * rides). DAX's default order is DESC — rank 1 is the largest value;
    * a trailing ASC/DESC (or DAX's 1/0) flips it. The value and ties
    * arguments stay outside the subset. The base is a same-table
    * measure ref or an inline aggregate ([[baseOf]]'s contract).
    *
    * `ALL(T[Col])` ranks over the VALUES of `Col` in DAX, which only
    * coincides with the query's grouped result when the query groups by
    * exactly that column — something the measure can't know at import
    * time. The import records `Col` as the metric's [[Metric
    * .windowDomain]] and the PLANNER enforces the match, refusing
    * loudly on any other grouping instead of silently ranking the
    * wrong domain. */
  private def rankxMetric(name: String, dax: String, table: String,
      measureNames: Set[String]): Option[Seq[Metric]] =
    parseCall(dax) match {
      case Some(("rankx", argsStr)) =>
        val args = splitArgs(argsStr)
        if (args.length < 2) return None
        val domain = parseCall(args.head) match {
          case Some(("all", inner)) if unquote(inner.trim) == table =>
            Some(None) // ALL('T'): the whole grouped result
          case Some(("all", inner)) =>
            columnRef(inner, table).map(Some(_)) // ALL(T[Col]): pinned
          case _ if unquote(args.head.trim) == table => Some(None)
          case _ => None
        }
        if (domain.isEmpty) return None
        val dir = args.drop(2) match {
          case Seq() => "DESC"
          case Seq(d) if d.equalsIgnoreCase("asc") || d.trim == "1" => "ASC"
          case Seq(d) if d.equalsIgnoreCase("desc") || d.trim == "0" => "DESC"
          case _ => return None // value / ties args — outside the subset
        }
        baseOf(name, args(1), table, measureNames).map { case (base, extra) =>
          extra :+ Metric(name, metricType = Some("cumulative"),
            windowExpression = Some("RANK()"),
            windowOrder = Some(s"${ident(base)} $dir"),
            windowDomain = domain.flatten)
        }
      case _ => None
    }

  private def calculateMetric(name: String, dax: String, table: String,
      measureNames: Set[String]): Option[Seq[Metric]] =
    parseCall(dax) match {
      case Some(("calculate", argsStr)) =>
        val args = splitArgs(argsStr)
        if (args.isEmpty) return None
        val mods = args.tail.map(classifyMod(_, table))
        if (mods.exists(_.isEmpty)) return None
        val (preds, times) = mods.flatten.partition(_.isInstanceOf[Pred])
        times match {
          case Seq() if preds.nonEmpty =>
            // filters compose onto an inline aggregate
            simpleAggMetric(name, args.head, table).map(met =>
              Seq(met.copy(filters = preds.collect { case Pred(p) => p })))
          case Seq(Comparison(code)) if preds.isEmpty =>
            baseOf(name, args.head, table, measureNames).map { case (base, extra) =>
              extra :+ Metric(name, metricType = Some("time_comparison"),
                baseMetric = Some(base), comparison = Some(code),
                calculation = Some("prior"))
            }
          case Seq(GrainToDate(g)) if preds.isEmpty =>
            baseOf(name, args.head, table, measureNames).map { case (base, extra) =>
              extra :+ Metric(name, metricType = Some("cumulative"),
                baseMetric = Some(base), grainToDate = Some(g))
            }
          case Seq(Trailing(n, g)) if preds.isEmpty =>
            baseOf(name, args.head, table, measureNames).map { case (base, extra) =>
              extra :+ Metric(name, metricType = Some("cumulative"),
                baseMetric = Some(base), window = Some(s"$n $g"))
            }
          case _ => None // mixed/multiple time mods — out of the subset
        }
      case _ => None
    }

  /** `TOTALYTD(expr, dates[, …])` family → grain_to_date cumulative. */
  private def totalToDateMetric(name: String, dax: String, table: String,
      measureNames: Set[String]): Option[Seq[Metric]] =
    parseCall(dax) match {
      case Some((fn, argsStr)) if ToDateFns.contains(fn) =>
        splitArgs(argsStr) match {
          case Seq(expr, _) => // (expr, dates) — extra filter args stay opaque
            baseOf(name, expr, table, measureNames).map { case (base, extra) =>
              extra :+ Metric(name, metricType = Some("cumulative"),
                baseMetric = Some(base), grainToDate = Some(ToDateFns(fn)))
            }
          case _ => None
        }
      case _ => None
    }

  private def opaque(name: String, dax: String): Seq[Metric] = {
    graft.load.Fidelity.note("non_translatable_dax",
      s"measure '$name' uses DAX outside the executable subset; kept as a " +
        "non-public stub carrying the DAX verbatim",
      severity = "unsupported", source = Some("tmdl"))
    Seq(Metric(name, metricType = Some("derived"), sql = Some(dax),
      public = false))
  }

  private def containsDaxOnly(s: String): Boolean =
    (raw"(?i)\b(CALCULATE|CALCULATETABLE|VAR|RETURN|FILTER|ALL|ALLEXCEPT|" +
      raw"SAMEPERIODLASTYEAR|DATESYTD|DATESMTD|DATEADD|DATESINPERIOD|" +
      // SWITCH deliberately absent: daxToSql lowers it to CASE (r15)
      raw"SUMMARIZE|SUMMARIZECOLUMNS|SELECTEDVALUE|RELATED|" +
      raw"RELATEDTABLE|RANKX|EARLIER|FORMAT|USERELATIONSHIP|TREATAS|" +
      raw"SUMX|AVERAGEX|MINX|MAXX|COUNTX|CONCATENATEX|TOPN|VALUES|" +
      raw"ISFILTERED|HASONEVALUE|TOTALYTD|TOTALMTD|TOTALQTD)\b")
      .r.findFirstIn(s).isDefined

  /** Quote a name for SQL when it is not a plain identifier. */
  private def ident(n: String): String =
    if (raw"^[A-Za-z_]\w*$$".r.matches(n)) n else s"`$n`"

  /** `'Table'[Col]` / `Table[Col]` (same table) / `[Col]`? → physical
    * column expression; None when it references another table. */
  private def columnRef(ref: String, table: String): Option[String] = {
    val ColRef = raw"^\s*('[^']+'|[A-Za-z_]\w*)?\s*\[([^\]]+)\]\s*$$".r
    ref match {
      case ColRef(t, col) if t == null || unquote(t) == table => Some(col)
      case _ => None
    }
  }

  /** Expression-level DAX → SQL: aggregate calls inline, DIVIDE lowers
    * to null-safe division, [Measure] refs become metric names. None
    * when non-translatable constructs remain. */
  private[adapters] def daxToSql(dax: String, table: String,
      measureNames: Set[String]): Option[String] = {
    if (containsDaxOnly(dax)) return None
    var s = dax
    // 'Table'[Col] / Table[Col] → Col (same table only; backticked when
    // the name is not a plain identifier so the SQL side parses it as
    // one attribute)
    val tq = java.util.regex.Pattern.quote(table)
    s = (raw"(?i)(?:'$tq'|$tq)\s*\[([^\]]+)\]").r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(ident(m.group(1))))
    // [Measure Name] / [Col] shorthand → bare (possibly backticked) name
    s = raw"(?<!\w)\[([^\]]+)\]".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(ident(m.group(1))))
    if (s.contains("[")) return None // cross-table reference remains
    // DIVIDE(a, b[, alt]) → null-safe division; the optional third arg
    // is DAX's divide-by-zero alternate result
    s = rewriteCalls(s, "divide", {
      case Seq(a, b) => Some(s"(($a) / NULLIF($b, 0))")
      // the alternate fires exactly when the denominator is 0 or BLANK
      // (DAX's contract) — not when the numerator is null
      case Seq(a, b, alt) => Some(s"(CASE WHEN ($b) = 0 OR ($b) IS NULL " +
        s"THEN $alt ELSE ($a) / ($b) END)")
      case _ => None
    }).getOrElse(return None)
    // DAX double-quoted string literals → SQL single-quoted (DAX
    // reserves "" for strings; identifiers use ''/[] — already rewritten
    // above, so every surviving double quote IS a string literal). The
    // doubled-quote escape ("a""b" is the 5-char string a"b) un-escapes
    // BEFORE the SQL re-escape — matching "..." spans naively would cut
    // such a literal into two adjacent strings.
    s = raw""""((?:[^"]|"")*)"""".r.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(
        "'" + m.group(1).replace("\"\"", "\"").replace("'", "''") + "'"))
    // SWITCH → CASE (both forms: SWITCH(TRUE(), cond, res, …[, else])
    // and SWITCH(expr, val, res, …[, else]))
    s = rewriteCalls(s, "switch", args => {
      if (args.length < 3) None
      else {
        val rest = args.tail
        val hasElse = rest.length % 2 == 1
        val pairs = rest.dropRight(if (hasElse) 1 else 0).grouped(2).toSeq
        val els = if (hasElse) s" ELSE ${rest.last}" else ""
        if (raw"(?i)^\s*TRUE\s*\(\s*\)\s*$$".r.matches(args.head))
          Some(pairs.map { case Seq(c, r) => s"WHEN $c THEN $r" }
            .mkString("CASE ", " ", els + " END"))
        else
          Some(pairs.map { case Seq(v, r) => s"WHEN $v THEN $r" }
            .mkString(s"CASE ${args.head} ", " ", els + " END"))
      }
    }).getOrElse(return None)
    // ISBLANK(x) → ((x) IS NULL); BLANK() → NULL
    s = rewriteCalls(s, "isblank", {
      case Seq(a) => Some(s"(($a) IS NULL)")
      case _ => None
    }).getOrElse(return None)
    s = raw"(?i)\bBLANK\s*\(\s*\)".r.replaceAllIn(s, "NULL")
    // COUNTROWS(Table) → COUNT(*)
    s = (raw"(?i)\bCOUNTROWS\s*\(\s*(?:'$tq'|$tq)\s*\)").r
      .replaceAllIn(s, "COUNT(*)")
    // aggregate spellings
    s = raw"(?i)\bAVERAGE\s*\(".r.replaceAllIn(s, "AVG(")
    s = raw"(?i)\bDISTINCTCOUNT\s*\(".r.replaceAllIn(s, "COUNT(DISTINCT ")
    Some(s.replaceAll(raw"\s+", " ").trim)
  }

  /** Rewrite every `fn(…)` call in `s` through `build` (case-
    * insensitive, balanced-paren arg extraction, top-level-comma arg
    * split). Re-scans after each replacement, so nested calls resolve
    * inner-to-outer. None when any occurrence fails to build — the
    * caller then keeps the measure as an opaque fidelity-noted stub
    * rather than emitting half-translated SQL. */
  private def rewriteCalls(s0: String,
      fn: String, build: Seq[String] => Option[String]): Option[String] = {
    val callRe = (raw"(?i)(?<![\w])" + fn + raw"\s*\(").r
    var s = s0
    var guard = 0
    var m = callRe.findFirstMatchIn(s)
    while (m.isDefined && guard < 64) {
      guard += 1
      val open = m.get.end - 1
      val close = matchingParen(s, open)
      if (close < 0) return None
      build(splitArgs(s.substring(open + 1, close))) match {
        case None => return None
        case Some(rep) =>
          s = s.substring(0, m.get.start) + rep + s.substring(close + 1)
      }
      m = callRe.findFirstMatchIn(s)
    }
    if (m.isDefined) None else Some(s)
  }
}
