package graft.adapters

import graft.load.{Brackets, Fidelity, YamlLoader, YamlTree}
import graft.model._

/** Importer for Holistics AML files (reference:
  * sidemantic/adapters/holistics.py + its AML grammar; fixtures
  * tests/fixtures/holistics/ and holistics_kitchen_sink/).
  *
  * AML is a brace-structured DSL:
  *   - `Model name { type table_name dimension{} measure{} }`;
  *     `definition: @sql … ;;` bodies with `{{ #SOURCE.col }}` /
  *     `{{ field }}` interpolation become plain SQL; `aggregation_type`
  *     maps through (stdev → stddev, custom → a derived metric over the
  *     referenced measures)
  *   - `PartialModel` blocks plus `Model x = y.extend(partial)` /
  *     `.extend({ inline })` merge field-wise, later wins
  *   - `Relationship name { type from: r(m.f) to: r(m.f) }` declares a
  *     named edge; `Dataset` blocks activate them (`relationship(name,
  *     active)`) or declare inline ones: `RelationshipConfig { rel:
  *     Relationship {…} }`, `rel(rel_expr: a.x > b.y)` (many_to_one) and
  *     `a.x - b.y` (one_to_one) shorthands; `active: false` entries are
  *     dropped
  *   - `use`/module imports resolve by loading the whole directory
  *     (modules included); constants/extensions metadata that has no
  *     engine equivalent is ignored
  */
object HolisticsAdapter {

  final case class Imported(models: Seq[Model])

  def loadDirectory(dir: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    def collect(d: java.io.File): Seq[java.io.File] = {
      val fs = Option(d.listFiles()).getOrElse(Array.empty)
      fs.filter(f => f.isFile && f.getName.endsWith(".aml")).toSeq ++
        fs.filter(_.isDirectory).flatMap(collect)
    }
    val files = collect(new java.io.File(dir)).sortBy(_.getName)
    val texts = files.map(f => YamlTree.readText(f.getPath))
    load(texts, resolve, files.map(_.getName))
  }

  def load(texts: Seq[String],
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver,
      fileNames: Seq[String] = Nil): Imported = {
    def origin(i: Int): String = fileNames.lift(i).getOrElse(s"aml#${i + 1}")
    val blocks = texts.zipWithIndex.flatMap { case (t, i) =>
      topBlocks(t, origin(i)) }

    // named relationships registry; a Relationship block whose from/to
    // refs do not parse declares an edge the import cannot carry
    val namedRels: Map[String, RelSpec] = blocks.collect {
      case b @ B("Relationship", name, body, _, _) =>
        val spec = relFromBody(body)
        if (spec.isEmpty)
          Fidelity.note("unparseable_relationship",
            s"Relationship '$name' has no parseable from/to r(model.field) " +
              "refs; edge dropped",
            source = Some("holistics"), location = Some(b.loc))
        spec.map(name -> _)
    }.flatten.toMap

    // top-level Metric blocks (cross-dataset AQL metrics) have no
    // importable form here — only Model measures become engine metrics
    blocks.foreach {
      case b @ B("Metric", name, _, _, _) =>
        Fidelity.note("top_level_metric",
          s"Metric '$name' (dataset-level AQL metric) is not imported; " +
            "declare it as a model measure or an engine graph metric",
          severity = "unsupported",
          source = Some("holistics"), location = Some(b.loc))
      case _ => ()
    }

    // partials for extend()
    val partials: Map[String, String] = blocks.collect {
      case B("PartialModel", name, body, _, _) => name -> body
    }.toMap

    var models: Map[String, Model] = blocks.collect {
      case B("Model", name, body, _, _) if !name.contains("=") =>
        name -> modelFromBody(name, body, resolve)
    }.toMap

    // Model x = y.extend(partial | { inline })
    val ExtendRe =
      raw"(?s)Model\s+(\w+)\s*=\s*(\w+)\.extend\(\s*(\{.*?\}|\w+)\s*\)".r
    texts.zipWithIndex.foreach { case (t, ti) =>
      ExtendRe.findAllMatchIn(stripComments(t)).foreach { m =>
        val (newName, baseName, arg) = (m.group(1), m.group(2), m.group(3))
        val loc = s"${origin(ti)}:${lineAt(t, m.start)}"
        models.get(baseName) match {
          case None =>
            Fidelity.note("extend_unknown_base",
              s"Model '$newName' extends '$baseName' which is not defined " +
                "in the loaded files; extension dropped",
              source = Some("holistics"), location = Some(loc))
          case Some(base) =>
            val extBody =
              if (arg.startsWith("{")) Some(arg.substring(1, arg.length - 1))
              else partials.get(arg)
            if (extBody.isEmpty)
              Fidelity.note("extend_unknown_partial",
                s"Model '$newName' extends with PartialModel '$arg' which " +
                  "is not defined; extension dropped",
                source = Some("holistics"), location = Some(loc))
            extBody.foreach { body =>
              val ext = modelFromBody(newName, body, resolve)
              models += (newName -> mergeModels(base.copy(name = newName), ext))
            }
        }
      }
    }

    // datasets: activate/declare relationships on their from-models
    blocks.collect { case b @ B("Dataset", _, body, _, _) => (b, body) }
        .foreach { case (b, body) =>
      datasetRels(body, namedRels, b.loc).foreach { r =>
        models.get(r.fromModel).foreach { m =>
          if (!m.relationships.exists(x => x.to == r.toModel &&
              x.foreignKey == Seq(r.fromField)))
            models += (m.name -> m.copy(relationships = m.relationships :+
              Relationship(r.toModel, r.relType,
                foreignKey = Seq(r.fromField), primaryKey = Seq(r.toField))))
        }
      }
    }

    Imported(models.values.toSeq.sortBy(_.name))
  }

  // ------------------------------------------------------------------
  // AML scanning
  // ------------------------------------------------------------------

  private final case class B(kind: String, name: String, body: String,
      src: String, line: Int) {
    def loc: String = s"$src:$line"
  }
  private final case class RelSpec(relType: String, fromModel: String,
      fromField: String, toModel: String, toField: String)

  /** 1-based line of a character offset (for fidelity locations). */
  private def lineAt(text: String, offset: Int): Int =
    text.substring(0, math.min(offset, text.length)).count(_ == '\n') + 1

  private def stripComments(text: String): String =
    text.split('\n').map { l =>
      val i = l.indexOf("//")
      if (i >= 0 && !l.substring(0, i).count(_ == '\'').isOdd) l.substring(0, i)
      else l
    }.mkString("\n")

  private implicit class IntOps(private val n: Int) extends AnyVal {
    def isOdd: Boolean = (n & 1) == 1
  }

  /** Top-level `Kind name { body }` blocks. */
  private def topBlocks(text0: String, src: String): Seq[B] = {
    val text = stripComments(text0)
    val Head = raw"(?m)^(Model|PartialModel|Dataset|Relationship|Metric)\s+(\w+)\s*\{".r
    Head.findAllMatchIn(text).flatMap { m =>
      val open = m.end - 1
      val close = Brackets.closing(text, open, '{', '}')
      if (close > 0) Some(B(m.group(1), m.group(2),
        text.substring(open + 1, close), src, lineAt(text, m.start)))
      else {
        Fidelity.note("unbalanced_block",
          s"${m.group(1)} '${m.group(2)}' has an unbalanced brace body; " +
            "block dropped",
          source = Some("holistics"),
          location = Some(s"$src:${lineAt(text, m.start)}"))
        None
      }
    }.toSeq
  }

  /** `key name { body }` sub-blocks of one kind inside a body. */
  private def subBlocks(body: String, kind: String): Seq[(String, String)] = {
    val Head = (raw"(?m)\b" + kind + raw"\s+(\w+)\s*\{").r
    Head.findAllMatchIn(body).flatMap { m =>
      val open = m.end - 1
      val close = Brackets.closing(body, open, '{', '}')
      if (close > 0) Some((m.group(1), body.substring(open + 1, close)))
      else None
    }.toSeq
  }

  private def prop(body: String, key: String): Option[String] = {
    // only at this block's own depth: strip nested braces first
    val flat = flatten(body)
    (raw"(?m)\b" + java.util.regex.Pattern.quote(key) + raw"\s*:\s*([^\n,}]+)").r
      .findFirstMatchIn(flat).map(_.group(1).trim)
      .map(v => v.stripPrefix("'").stripSuffix("'")
        .stripPrefix("\"").stripSuffix("\""))
  }

  /** Replace nested brace bodies with blanks so property scans only see
    * this block's own level. */
  private def flatten(body: String): String = {
    val sb = new StringBuilder
    var depth = 0
    body.foreach {
      case '{' => depth += 1; sb.append(' ')
      case '}' => depth -= 1; sb.append(' ')
      case c   => sb.append(if (depth > 0) ' ' else c)
    }
    sb.toString
  }

  /** `definition: @sql … ;;` (may span lines, braces interpolated). */
  private def definitionSql(body: String): Option[String] =
    raw"(?s)definition\s*:\s*@sql\s*(.*?);;".r.findFirstMatchIn(body)
      .map(_.group(1).trim)
      .map(_.replaceAll(raw"\{\{\s*#SOURCE\.(\w+)\s*\}\}", "$1")
        .replaceAll(raw"\{\{\s*([\w.]+)\s*\}\}", "$1")
        .replaceAll(raw"\s+", " ").trim)
      .orElse(
        raw"(?s)definition\s*:\s*@aql\s*(.*?);;".r.findFirstMatchIn(body)
          .map(m => translateAql(m.group(1).replaceAll(raw"\s+", " ").trim)))

  // ------------------------------------------------------------------
  // AQL (@aql) definitions — translated to SQL fragments the same way
  // the reference does (ref holistics.py:1910-2171): the pipeline
  // splits on top-level `|`, aggregation functions lower to their SQL
  // forms (two-arg sum(table, expr) aggregates expr; a piped base
  // becomes the argument), count_if becomes SUM(CASE WHEN …),
  // table-shaping functions (filter/group/select/where) pass the base
  // through (the surrounding aggregation produces the value), metric
  // modifiers (of_all/exclude/relative_period/…) preserve their inner
  // expression, and @now/@today macros lower to CURRENT_TIMESTAMP/
  // CURRENT_DATE. Unknown functions keep their name with the base
  // folded in as the first argument.
  // ------------------------------------------------------------------

  private val AqlAggSql = Map("count" -> "COUNT", "count_all" -> "COUNT",
    "sum" -> "SUM", "avg" -> "AVG", "average" -> "AVG", "min" -> "MIN",
    "max" -> "MAX", "median" -> "MEDIAN")
  private val AqlTableFuncs = Set("filter", "group", "select", "where")
  private val AqlMetricModifiers = Set("of_all", "exclude", "keep_grains",
    "relative_period", "period_to_date", "running_total")

  private def aqlMacros(s: String): String =
    s.replaceAll(raw"(?i)@now\b", "CURRENT_TIMESTAMP")
      .replaceAll(raw"(?i)@today\b", "CURRENT_DATE")

  /** Split on a delimiter at paren depth 0, outside quotes. */
  private def splitTop(expr: String, delim: Char): Seq[String] = {
    val parts = Vector.newBuilder[String]
    val buf = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < expr.length) {
      val c = expr(i)
      if (quote != 0) { buf.append(c); if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"' || c == '`') { quote = c; buf.append(c) }
      else if (c == '(') { depth += 1; buf.append(c) }
      else if (c == ')') { depth = math.max(0, depth - 1); buf.append(c) }
      else if (c == delim && depth == 0) { parts += buf.toString; buf.clear() }
      else buf.append(c)
      i += 1
    }
    parts += buf.toString
    parts.result().map(_.trim).filter(_.nonEmpty)
  }

  private def applyAqlFn(name: String, args: Seq[String],
      base: Option[String]): String = {
    val n = name.trim.toLowerCase
    val cleaned = args.map(a => aqlMacros(a.trim)).filter(_.nonEmpty)
    val target = cleaned.headOption.orElse(base).getOrElse("*")
    if (AqlAggSql.contains(n)) {
      if (base.isEmpty && cleaned.size >= 2) s"${AqlAggSql(n)}(${cleaned(1)})"
      else s"${AqlAggSql(n)}($target)"
    } else if (n == "count_distinct" || n == "countdistinct") {
      if (base.isEmpty && cleaned.size >= 2) s"COUNT(DISTINCT ${cleaned(1)})"
      else s"COUNT(DISTINCT $target)"
    } else if (n == "count_if" || n == "countif") {
      val cond = cleaned.headOption.orElse(base).getOrElse("")
      if (cond.isEmpty) "COUNT(*)"
      else s"SUM(CASE WHEN $cond THEN 1 ELSE 0 END)"
    } else if (AqlTableFuncs(n)) {
      base.orElse(cleaned.headOption).getOrElse("*")
    } else if (AqlMetricModifiers(n)) {
      base.orElse(cleaned.headOption).getOrElse("")
    } else {
      val all = base.toSeq ++ cleaned
      s"$name(${all.mkString(", ")})"
    }
  }

  /** Rewrite every function call in a non-piped expression. */
  private def translateAqlInline(expr0: String): String = {
    val expr = aqlMacros(expr0)
    val out = new StringBuilder
    var i = 0
    val Ident = raw"^[A-Za-z_][A-Za-z0-9_]*".r
    while (i < expr.length) {
      Ident.findFirstIn(expr.substring(i)) match {
        case Some(name) if i + name.length < expr.length &&
            expr(i + name.length) == '(' =>
          // find the matching close paren (quote-aware)
          var j = i + name.length
          var depth = 0
          var quote: Char = 0
          var close = -1
          while (close < 0 && j < expr.length) {
            val c = expr(j)
            if (quote != 0) { if (c == quote) quote = 0 }
            else if (c == '\'' || c == '"' || c == '`') quote = c
            else if (c == '(') depth += 1
            else if (c == ')') { depth -= 1; if (depth == 0) close = j }
            j += 1
          }
          if (close < 0) { out.append(name); i += name.length }
          else {
            val args = splitTop(expr.substring(i + name.length + 1, close), ',')
            out.append(applyAqlFn(name, args, base = None))
            i = close + 1
          }
        case Some(name) => out.append(name); i += name.length
        case None => out.append(expr(i)); i += 1
      }
    }
    out.toString
  }

  private val AqlPipeFn =
    raw"^([A-Za-z_][A-Za-z0-9_]*)\s*(?:\((.*)\))?\s*$$".r

  private[graft] def translateAql(expr: String): String = {
    val segments = splitTop(expr.trim, '|')
    segments match {
      case Seq() => expr.trim
      case Seq(one) => translateAqlInline(one)
      case base +: pipes =>
        pipes.foldLeft(translateAqlInline(base)) { (cur, seg) =>
          seg match {
            case AqlPipeFn(name, args) =>
              applyAqlFn(name, splitTop(Option(args).getOrElse(""), ','),
                base = Some(cur))
            case _ => cur
          }
        }
    }
  }

  // ------------------------------------------------------------------
  // model construction
  // ------------------------------------------------------------------

  // keys are NORMALIZED (lowercase, _/- → space): 'count distinct' and
  // 'count_distinct' are the same AML aggregation (ref holistics.py:2188)
  private val AggMap = Map("count" -> "count", "sum" -> "sum", "avg" -> "avg",
    "min" -> "min", "max" -> "max", "stdev" -> "stddev",
    "stddev" -> "stddev", "count distinct" -> "count_distinct",
    "median" -> "median")

  private def normalizeAgg(a: String): String =
    a.trim.toLowerCase.replace('_', ' ').replace('-', ' ')
      .replaceAll(raw"\s+", " ")

  // population/sample variants with no native engine aggregate import as
  // derived metrics over the plain SQL function (ref holistics.py:2193-2205)
  private val AggSqlFn = Map("stdevp" -> "STDDEV_POP",
    "stddev pop" -> "STDDEV_POP", "var" -> "VAR_SAMP",
    "variance" -> "VAR_SAMP", "varp" -> "VAR_POP",
    "variance pop" -> "VAR_POP")

  private def modelFromBody(name: String, body: String,
      resolve: YamlLoader.TableResolver): Model = {
    val table = prop(body, "table_name").getOrElse(name)
    var pk = Vector.empty[String]
    val dims = subBlocks(body, "dimension").map { case (dn, db) =>
      val sql = definitionSql(db)
      if (flatten(db).contains("primary_key: true")) pk :+= sql.getOrElse(dn)
      val dtype = prop(db, "type").getOrElse("text")
      Dimension(dn,
        if (Set("datetime", "date", "timestamp")(dtype)) DimType.Time
        else if (dtype == "number") DimType.Numeric
        else if (Set("truefalse", "boolean")(dtype)) DimType.Bool
        else DimType.Categorical,
        sql = sql.filter(_ != dn),
        granularity = if (dtype == "date") Some("day")
          else if (Set("datetime", "timestamp")(dtype)) Some("second") else None,
        label = prop(db, "label"))
    }
    val mets = subBlocks(body, "measure").flatMap { case (mn, mb) =>
      val sql = definitionSql(mb)
      prop(mb, "aggregation_type").getOrElse("custom") match {
        case "custom" =>
          // definition references other measures by name → derived
          if (sql.isEmpty)
            Fidelity.note("measure_without_definition",
              s"measure '$mn' on Model '$name' has neither an " +
                "aggregation_type nor a @sql definition; measure dropped",
              source = Some("holistics"))
          sql.map(s => Metric(mn, metricType = Some("derived"), sql = Some(s),
            label = prop(mb, "label")))
        case agg0 =>
          val agg = normalizeAgg(agg0)
          AggMap.get(agg) match {
            case Some(a) =>
              Some(Metric(mn, agg = Some(a), sql = sql,
                label = prop(mb, "label")))
            case None => sql match {
              case Some(e) => // population/sample variant → derived SQL
                val fn = AggSqlFn.getOrElse(agg, agg.replace(' ', '_'))
                Some(Metric(mn, metricType = Some("derived"),
                  sql = Some(s"$fn($e)"), label = prop(mb, "label")))
              case None =>
                Fidelity.note("unsupported_aggregation",
                  s"measure '$mn' on Model '$name' uses aggregation_type " +
                    s"'$agg0' and has no @sql definition to wrap; dropped",
                  source = Some("holistics"))
                None
            }
          }
      }
    }
    Model(name = name, source = resolve(table), primaryKey = pk,
      dimensions = dims, metrics = mets)
  }

  /** Field-wise merge for extend(): the extension's fields win. */
  private def mergeModels(base: Model, ext: Model): Model = {
    def merge[T](bs: Seq[T], es: Seq[T])(key: T => String): Seq[T] = {
      val eNames = es.map(key).toSet
      bs.filterNot(x => eNames(key(x))) ++ es
    }
    base.copy(
      dimensions = merge(base.dimensions, ext.dimensions)(_.name),
      metrics = merge(base.metrics, ext.metrics)(_.name),
      primaryKey = if (ext.primaryKey.nonEmpty) ext.primaryKey else base.primaryKey)
  }

  // ------------------------------------------------------------------
  // relationships
  // ------------------------------------------------------------------

  private val RRef = raw"r\(\s*(\w+)\.(\w+)\s*\)".r

  private def relFromBody(body: String): Option[RelSpec] = {
    val tpe = prop(body, "type").getOrElse("many_to_one")
    // `from: r(model.field)` shorthand, or the typed-block form
    // `from: FieldRef { model: 'm' field: 'f' }` (ref holistics.py:1796)
    def ref(side: String): Option[(String, String)] =
      (side + raw"\s*:\s*r\(\s*(\w+)\.(\w+)\s*\)").r.findFirstMatchIn(body)
        .map(m => (m.group(1), m.group(2)))
        .orElse {
          (side + raw"\s*:\s*FieldRef\s*\{").r.findFirstMatchIn(body)
            .flatMap { m =>
              val close = Brackets.closing(body, m.end - 1, '{', '}')
              if (close < 0) None else {
                val fb = body.substring(m.end, close)
                for (mo <- prop(fb, "model"); fi <- prop(fb, "field"))
                  yield (mo, fi)
              }
            }
        }
    for (f <- ref("from"); t <- ref("to"))
      yield RelSpec(tpe, f._1, f._2, t._1, t._2)
  }

  private def datasetRels(body: String,
      named: Map[String, RelSpec], loc: String): Seq[RelSpec] = {
    var out = Vector.empty[RelSpec]
    // inline Relationship blocks (inside RelationshipConfig or bare);
    // an enclosing `active: false` config drops the edge
    val RelBlock = raw"(?s)RelationshipConfig\s*\{".r
    RelBlock.findAllMatchIn(body).foreach { m =>
      val close = Brackets.closing(body, m.end - 1, '{', '}')
      if (close > 0) {
        val cfg = body.substring(m.end, close)
        val active = !flatten(cfg).contains("active: false")
        if (active)
          raw"(?s)Relationship\s*\{".r.findFirstMatchIn(cfg).foreach { rm =>
            val rclose = Brackets.closing(cfg, rm.end - 1, '{', '}')
            if (rclose > 0) {
              val spec = relFromBody(cfg.substring(rm.end, rclose))
              if (spec.isEmpty)
                Fidelity.note("unparseable_relationship",
                  "inline RelationshipConfig has no parseable from/to " +
                    "r(model.field) refs; edge dropped",
                  source = Some("holistics"), location = Some(loc))
              out ++= spec
            }
          }
      }
    }
    // relationship(name, active) references
    raw"relationship\(\s*(\w+)\s*(?:,\s*(\w+))?\s*\)".r.findAllMatchIn(body)
      .foreach { m =>
        val active = m.group(2) == null || m.group(2) == "true"
        if (active) named.get(m.group(1)) match {
          case Some(spec) => out :+= spec
          case None =>
            Fidelity.note("unknown_relationship_ref",
              s"Dataset activates relationship '${m.group(1)}' which is " +
                "not declared in the loaded files; edge dropped",
              source = Some("holistics"), location = Some(loc))
        }
      }
    // rel(rel_expr: a.x OP b.y, active: bool): `>` many_to_one, `-` one_to_one
    raw"rel\(\s*rel_expr\s*:\s*(\w+)\.(\w+)\s*([->])\s*(\w+)\.(\w+)\s*(?:,\s*active\s*:\s*(\w+))?\s*\)".r
      .findAllMatchIn(body).foreach { m =>
        val active = m.group(6) == null || m.group(6) == "true"
        if (active)
          out :+= RelSpec(if (m.group(3) == ">") "many_to_one" else "one_to_one",
            m.group(1), m.group(2), m.group(4), m.group(5))
      }
    out
  }
}
