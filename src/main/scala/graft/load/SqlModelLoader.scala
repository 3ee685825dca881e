package graft.load

import graft.model._

/** Loader for the reference's SQL model-definition formats
  * (reference: core/sql_definitions.py, core/dialect.py; fixtures
  * compact_sql_model, native_sql_definitions, sql_frontmatter_definitions,
  * mixed_yaml_sql_directory, embedded_sql_blocks):
  *
  *  1. Statement form — `MODEL (name orders, table orders, primary_key
  *     order_id); DIMENSION (...); METRIC (...); SEGMENT (...);` where
  *     child statements attach to the most recent MODEL.
  *  2. Frontmatter form — a `--- yaml ---` header holding the model map
  *     followed by statement-form METRIC/SEGMENT definitions.
  *  3. Compact block form — `model orders from orders ( primary key
  *     (order_id)  status  created_at as created_at : time grain day
  *     sum(amount) as total_revenue )`.
  *
  * Values are parsed with a paren/quote-aware splitter (a `sql NULLIF(a,
  * 0)` property must not split on its inner comma) — no sqlglot; the
  * grammar is line-oriented enough for a direct scan.
  */
object SqlModelLoader {

  /** Parsed fragments of a statement stream; `models` carry their attached
    * children, the loose fragments come from model-less METRIC/SEGMENT
    * streams (embedded_sql_blocks). */
  final case class Statements(
      models: Seq[Model] = Nil,
      dimensions: Seq[Dimension] = Nil,
      metrics: Seq[Metric] = Nil,
      segments: Seq[Segment] = Nil)

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Seq[Model] =
    parse(YamlTree.readText(path), resolve)

  def parse(content: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Seq[Model] = {
    val t = content.trim
    if (t.startsWith("---")) Seq(parseFrontmatter(t, resolve))
    else if (t.matches(raw"(?is)^\s*model\s+\w+\s+from\b.*")) parseCompact(t, resolve)
    else {
      val st = parseStatements(t, resolve)
      require(st.models.nonEmpty, "SQL model file contains no MODEL definition")
      st.models
    }
  }

  // ---- frontmatter: yaml model map + statement body ------------------

  private def parseFrontmatter(content: String,
      resolve: YamlLoader.TableResolver): Model = {
    val parts = content.split("---", 3)
    require(parts.length >= 3, "Frontmatter .sql file needs --- yaml --- body")
    val fm = YamlTree.parse(parts(1)).asInstanceOf[Map[String, Any]] - "version"
    val base = YamlLoader.parseModelMap(fm, resolve)
    val st = parseStatements(parts(2), resolve)
    base.copy(
      metrics = base.metrics ++ st.metrics,
      segments = base.segments ++ st.segments,
      dimensions = base.dimensions ++ st.dimensions)
  }

  // ---- statement form ------------------------------------------------

  /** Parse a stream of `KEYWORD ( k v, ... );` statements. Child
    * DIMENSION/METRIC/SEGMENT statements attach to the preceding MODEL;
    * with no MODEL in the stream they are returned loose. */
  def parseStatements(sql: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Statements = {
    val stmt = raw"(?is)\s*(MODEL|DIMENSION|METRIC|SEGMENT|RELATIONSHIP)\s*\((.*)\)\s*".r
    var models = Vector.empty[Model]
    var loose = Statements()
    def attach(f: Model => Model): Unit =
      if (models.nonEmpty) models = models.init :+ f(models.last)

    splitStatements(sql).foreach {
      case stmt(kw, body) =>
        val props = parseProps(body)
        kw.toUpperCase match {
          case "MODEL" =>
            val name = props("name")
            models :+= Model(
              name = name,
              source = props.get("table").map(resolve)
                .orElse(props.get("sql").map(ModelSource.SqlView(_)))
                .getOrElse(resolve(name)),
              primaryKey = props.get("primary_key").toSeq
                .flatMap(_.split(",").map(_.trim)))
          case "DIMENSION" =>
            val d = Dimension(
              name = props("name"),
              dimType = props.getOrElse("type", "categorical") match {
                case "time" => DimType.Time
                case "boolean" => DimType.Bool
                case "numeric" => DimType.Numeric
                case _ => DimType.Categorical
              },
              sql = props.get("sql").orElse(props.get("expr")),
              granularity = props.get("granularity"))
            if (models.nonEmpty) attach(m => m.copy(dimensions = m.dimensions :+ d))
            else loose = loose.copy(dimensions = loose.dimensions :+ d)
          case "METRIC" =>
            val met = Metric(
              name = props("name"),
              agg = props.get("agg"),
              sql = props.get("sql").orElse(props.get("expr"))
                .orElse(props.get("expression")),
              metricType = props.get("type"),
              filters = props.get("filters").orElse(props.get("filter"))
                .toSeq.flatMap(filterList),
              numerator = props.get("numerator"),
              denominator = props.get("denominator"),
              baseMetric = props.get("base_metric"),
              comparison = props.get("comparison_type"),
              fillNullsWith = props.get("fill_nulls_with"))
            if (models.nonEmpty) attach(m => m.copy(metrics = m.metrics :+ met))
            else loose = loose.copy(metrics = loose.metrics :+ met)
          case "SEGMENT" =>
            // `expression` is the spelling the reference's own SQL DDL
            // fixture uses (tests/fixtures/sql/orders.sql:79)
            val s = Segment(props("name"),
              props.get("sql").orElse(props.get("expr"))
                .orElse(props.get("expression")).getOrElse(
                  throw new IllegalArgumentException(
                    s"SEGMENT '${props("name")}' needs sql/expr/expression")))
            if (models.nonEmpty) attach(m => m.copy(segments = m.segments :+ s))
            else loose = loose.copy(segments = loose.segments :+ s)
          case "RELATIONSHIP" =>
            val r = Relationship(
              to = props("name"),
              relType = props.getOrElse("type", "many_to_one"),
              foreignKey = props.get("foreign_key").toSeq
                .flatMap(_.split(",").map(_.trim)),
              primaryKey = props.get("primary_key").toSeq
                .flatMap(_.split(",").map(_.trim)))
            attach(m => m.copy(relationships = m.relationships :+ r))
        }
      case other =>
        require(other.trim.isEmpty, s"Unparsed SQL model statement: $other")
    }
    loose.copy(models = models)
  }

  /** Split on top-level ';' (outside parens/quotes). */
  /** `filters "a = 1"` or `filters ["a = 1", "b = 2"]` → predicate list
    * (reference dialect: METRIC filters property). */
  private def filterList(v: String): Seq[String] = {
    val t = v.trim
    val inner = if (t.startsWith("[") && t.endsWith("]"))
      t.substring(1, t.length - 1) else t
    // split on commas outside quotes
    var out = Vector.empty[String]
    val cur = new StringBuilder
    var inStr = false; var q = ' '
    inner.foreach { c =>
      if (inStr) { cur.append(c); if (c == q) inStr = false }
      else if (c == '\'' || c == '"') { inStr = true; q = c; cur.append(c) }
      else if (c == ',') { out :+= cur.toString; cur.clear() }
      else cur.append(c)
    }
    if (cur.nonEmpty) out :+= cur.toString
    out.map(_.trim).map { f =>
      if (f.length >= 2 && (f.head == '"' || f.head == '\'') && f.last == f.head)
        f.substring(1, f.length - 1)
      else f
    }.filter(_.nonEmpty)
  }

  private def splitStatements(s: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    // quote state tracks WHICH quote opened: a `--` inside a
    // double-quoted identifier or backtick-quoted name (e.g.
    // CREATE VIEW "a--b") is part of the name, not a comment
    var depth = 0; var q: Char = 0; val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s(i)
      c match {
        case '\'' | '"' | '`' if q == 0 => q = c; cur += c; i += 1
        case _ if q != 0 => if (c == q) q = 0; cur += c; i += 1
        // `-- comment` to end of line (quote-aware): real .sql model
        // files open with comment banners
        case '-' if i + 1 < s.length && s(i + 1) == '-' =>
          while (i < s.length && s(i) != '\n') i += 1
        case '(' => depth += 1; cur += '('; i += 1
        case ')' => depth -= 1; cur += ')'; i += 1
        case ';' if depth == 0 =>
          out += cur.toString; cur.clear(); i += 1
        case _ => cur += c; i += 1
      }
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toList
  }

  /** `key value, key value` with paren/quote-aware comma splitting; the
    * value is everything after the first whitespace run (may itself hold
    * spaces, commas-in-parens, `{model}` placeholders, quotes). */
  private def parseProps(body: String): Map[String, String] = {
    val parts = scala.collection.mutable.ListBuffer[String]()
    var depth = 0; var inQ = false; val cur = new StringBuilder
    body.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case '(' if !inQ => depth += 1; cur += '('
      case ')' if !inQ => depth -= 1; cur += ')'
      case ',' if !inQ && depth == 0 => parts += cur.toString; cur.clear()
      case c => cur += c
    }
    if (cur.toString.trim.nonEmpty) parts += cur.toString
    parts.map(_.trim).filter(_.nonEmpty).map { p =>
      val i = p.indexWhere(_.isWhitespace)
      require(i > 0, s"Bad property '$p' (expected: key value)")
      p.substring(0, i).toLowerCase -> p.substring(i).trim
    }.toMap
  }

  // ---- compact block form --------------------------------------------

  private val aggNames = AggKind.All

  private def parseCompact(content: String,
      resolve: YamlLoader.TableResolver): Seq[Model] = {
    val block = raw"(?is)model\s+(\w+)\s+from\s+(\w+)\s*\(".r
    val starts = block.findAllMatchIn(content).toSeq
    starts.map { m =>
      val bodyStart = m.end // index just past '('
      var depth = 1; var i = bodyStart
      while (depth > 0 && i < content.length) {
        content.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ => ()
        }
        i += 1
      }
      parseCompactBody(m.group(1), m.group(2),
        content.substring(bodyStart, i - 1), resolve)
    }
  }

  private def parseCompactBody(name: String, table: String, body: String,
      resolve: YamlLoader.TableResolver): Model = {
    var model = Model(name = name, source = resolve(table))
    val pk = raw"(?i)primary\s+key\s*\(([^)]*)\)".r
    val timeDim = raw"(?i)(.+?)\s+as\s+(\w+)\s*:\s*time(?:\s+grain\s+(\w+))?".r
    val aggMetric = raw"(?i)(\w+)\s*\((.*)\)\s+as\s+(\w+)".r
    val aliased = raw"(?i)(.+?)\s+as\s+(\w+)".r
    body.linesIterator.map(_.trim).filter(_.nonEmpty).foreach {
      case pk(cols) =>
        model = model.copy(primaryKey = cols.split(",").map(_.trim).toSeq)
      case timeDim(sqlExpr, alias, grain) =>
        model = model.copy(dimensions = model.dimensions :+ Dimension(
          alias, DimType.Time, sql = Some(sqlExpr.trim),
          granularity = Option(grain).map(_.toLowerCase)))
      case aggMetric(agg, expr, alias) if aggNames(agg.toLowerCase) =>
        model = model.copy(metrics = model.metrics :+ Metric(
          alias, agg = Some(agg.toLowerCase), sql = Some(expr.trim)))
      case aliased(sqlExpr, alias) =>
        model = model.copy(dimensions = model.dimensions :+ Dimension(
          alias, sql = Some(sqlExpr.trim)))
      case bare if bare.matches(raw"\w+") =>
        model = model.copy(dimensions = model.dimensions :+ Dimension(bare))
      case other =>
        throw new IllegalArgumentException(
          s"Unparsed compact model line in '$name': $other")
    }
    model
  }
}
