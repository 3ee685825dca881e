package graft.adapters

import graft.load.{AggExtract, Brackets, Fidelity, YamlLoader, YamlTree}
import graft.model._

/** Importer for Graphene `.gsql` files (reference:
  * sidemantic/adapters/graphene.py; format exercised by
  * tests/adapters/graphene/test_parsing.py).
  *
  *   - `table NAME ( … )`: column lines `name TYPE [#annotations]`
  *     (first column is the primary key; TIMESTAMP/DATE or a
  *     `#timeGrain=` annotation type the time dimensions), join lines
  *     `join one|many TARGET [as ALIAS] on fk = target.pk` (an alias
  *     clones the target as a role-playing model), and computed entries:
  *     `name: expr` classifies as a metric when the expression contains
  *     an aggregate call, as a derived metric when it references other
  *     metrics (composition is order-independent), and as a dimension
  *     otherwise (boolean when it is a comparison); `agg(expr) as name`
  *     is the inline metric form. Computed dimensions inline into metric
  *     SQL so metrics stay evaluable over base rows
  *   - `table NAME as ( sql )`: a derived view model; gsql's from-first
  *     clause order rewrites to standard SELECT for execution, and the
  *     projection aliases of the LAST top-level select become dimensions
  *     (CTE selects are ignored)
  *   - `extend NAME ( … )` merges entries into the model; computed
  *     entries on a view model become (numeric) dimensions since the
  *     view's grain is already aggregated
  * `#annotations` (currency/unit/ratio) are formatting metadata with no
  * engine equivalent and are dropped.
  */
object GrapheneAdapter {

  final case class Imported(models: Seq[Model])

  def loadDirectory(dir: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".gsql")).sortBy(_.getName)
    load(files.toSeq.map(f => YamlTree.readText(f.getPath)), resolve)
  }

  def load(texts: Seq[String],
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    var models = Vector.empty[Model]
    var viewModels = Set.empty[String]
    var pendingRoles = Vector.empty[(String, String)] // (roleName, targetName)

    val blocks = texts.flatMap(gsqlBlocks)
    // tables first so extends and roles can resolve
    blocks.foreach {
      case ("table", name, body) if !name.contains(" as") =>
        val (m, roles) = tableModel(name, body, resolve)
        models :+= m
        pendingRoles ++= roles
      case ("tableAs", name, sql) =>
        models :+= viewModel(name, sql)
        viewModels += name
      case _ => ()
    }
    blocks.foreach {
      case ("extend", name, body) =>
        if (!models.exists(_.name == name))
          Fidelity.note("extend_unknown_table",
            s"extend '$name' targets a table not defined in the loaded " +
              "files; extension dropped",
            source = Some("graphene"))
        models = models.map(m =>
          if (m.name == name) extendModel(m, body, viewModels(name)) else m)
      case _ => ()
    }
    // role-playing aliases clone their target model
    pendingRoles.foreach { case (role, target) =>
      models.find(_.name == target) match {
        case Some(t) =>
          if (!models.exists(_.name == role)) models :+= t.copy(name = role)
        case None =>
          Fidelity.note("role_without_target",
            s"join alias '$role' targets table '$target' which is not " +
              "defined; role-playing model dropped",
            source = Some("graphene"))
      }
    }
    Imported(models)
  }

  // ------------------------------------------------------------------
  // block scanning
  // ------------------------------------------------------------------

  /** (kind, name, body): table / tableAs / extend. */
  private def gsqlBlocks(text0: String): Seq[(String, String, String)] = {
    val text = stripComments(text0)
    var out = Vector.empty[(String, String, String)]
    val Head = raw"(?m)^(table|extend)\s+(\w+)\s*(as\s*)?\(".r
    Head.findAllMatchIn(text).foreach { m =>
      val open = m.end - 1
      val close = Brackets.closing(text, open, '(', ')')
      if (close > 0) {
        val body = text.substring(open + 1, close)
        val kind =
          if (m.group(1) == "extend") "extend"
          else if (m.group(3) != null) "tableAs"
          else "table"
        out :+= ((kind, m.group(2), body))
      } else {
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        Fidelity.note("unbalanced_block",
          s"${m.group(1)} '${m.group(2)}' has an unbalanced paren body; " +
            "block dropped",
          source = Some("graphene"), location = Some(s"gsql:$line"))
      }
    }
    out
  }

  // ------------------------------------------------------------------
  // physical table blocks
  // ------------------------------------------------------------------

  private val ColTypes = Set("INT64", "INT32", "INT", "BIGINT", "SMALLINT",
    "FLOAT64", "FLOAT", "DOUBLE", "DECIMAL", "NUMERIC", "STRING", "VARCHAR",
    "TEXT", "BOOL", "BOOLEAN", "TIMESTAMP", "DATE", "DATETIME")

  private val AggFns =
    raw"(?i)\b(sum|count|avg|min|max|median|stddev|count_distinct|approx_count_distinct)\s*\(".r

  private def tableModel(name: String, body: String,
      resolve: YamlLoader.TableResolver): (Model, Seq[(String, String)]) = {
    var dims = Vector.empty[Dimension]
    var computedDims = Map.empty[String, String] // name → row-level sql
    var rawMetrics = Vector.empty[(String, String)] // name → expr (agg-bearing)
    var rels = Vector.empty[Relationship]
    var roles = Vector.empty[(String, String)]
    var pk = Vector.empty[String]

    val ColRe = raw"^(\w+)\s+([A-Z]\w+)\s*(#.*)?$$".r
    val JoinRe = raw"^join\s+(one|many)\s+(\w+)(?:\s+as\s+(\w+))?\s+on\s+(.*)$$".r
    val ComputedRe = raw"^(\w+)\s*:\s*(.*)$$".r
    val InlineAggRe = raw"^(.*)\s+as\s+(\w+)\s*(#.*)?$$".r

    entryLines(body).foreach { entry =>
      val noAnn = entry.replaceAll(raw"\s*#\S+", "").trim
      // currency/unit/ratio annotations are display formatting with no
      // engine equivalent; #timeGrain= is consumed by the column rule
      raw"#(?!timeGrain=)(\w+)".r.findAllMatchIn(entry).foreach(a =>
        Fidelity.note("formatting_annotation",
          s"annotation '#${a.group(1)}' on table '$name' is display " +
            "metadata; not imported",
          source = Some("graphene")))
      entry match {
        case JoinRe(kind, target, alias, on) =>
          val rel = alias match {
            case null => target
            case a    => roles :+= ((a, target)); a
          }
          val relType = if (kind == "many") "one_to_many" else "many_to_one"
          val Eq = (raw"^(\w+)\s*=\s*" + rel + raw"\.(\w+)\s*$$").r
          noAnn.replaceFirst(raw"^join\s+\w+\s+\w+(\s+as\s+\w+)?\s+on\s+", "") match {
            case Eq(fk, pkc) => rels :+= Relationship(rel, relType,
              foreignKey = Seq(fk), primaryKey = Seq(pkc))
            case other => rels :+= Relationship(rel, relType, sqlOn = Some(other))
          }
        case ColRe(cn, ctype, _) if ColTypes(ctype.toUpperCase) =>
          val grain = raw"#timeGrain=(\w+)".r.findFirstMatchIn(entry).map(_.group(1))
          val isTime = Set("TIMESTAMP", "DATE", "DATETIME")(ctype.toUpperCase) ||
            grain.isDefined
          if (pk.isEmpty) pk :+= cn
          dims :+= Dimension(cn,
            if (isTime) DimType.Time
            else if (Set("BOOL", "BOOLEAN")(ctype.toUpperCase)) DimType.Bool
            else if (Set("STRING", "VARCHAR", "TEXT")(ctype.toUpperCase))
              DimType.Categorical
            else DimType.Numeric,
            granularity = if (isTime)
              Some(grain.getOrElse(
                if (ctype.toUpperCase == "DATE") "day" else "second")) else None)
        case ComputedRe(cn, expr0) =>
          val expr = expr0.replaceAll(raw"\s*#\S+\s*$$", "").trim
          if (AggFns.findFirstIn(expr).isDefined) rawMetrics :+= ((cn, expr))
          else computedDims += (cn -> expr) // classified below vs derived
        case _ => noAnn match {
          case InlineAggRe(expr, mn, _) if AggFns.findFirstIn(expr).isDefined =>
            rawMetrics :+= ((mn, expr.trim))
          case other if other.nonEmpty =>
            Fidelity.note("unrecognized_entry",
              s"table '$name' entry '${other.take(60)}' matches no gsql " +
                "rule (column / join / computed / inline agg); dropped",
              source = Some("graphene"))
          case _ => ()
        }
      }
    }

    // order-independent composition: a computed entry without aggregates
    // that references metric names is a derived metric, not a dimension
    val metricNames = rawMetrics.map(_._1).toSet
    val (derivedEntries, dimEntries) = computedDims.partition { case (_, e) =>
      metricNames.exists(mn =>
        (raw"\b" + java.util.regex.Pattern.quote(mn) + raw"\b").r
          .findFirstIn(e).isDefined)
    }
    // computed dimensions inline into metric SQL (reference behavior:
    // metrics must evaluate over base rows)
    def inline(e: String): String = dimEntries.foldLeft(e) { case (s, (dn, de)) =>
      s.replaceAll(raw"\b" + java.util.regex.Pattern.quote(dn) + raw"\b",
        java.util.regex.Matcher.quoteReplacement(s"($de)"))
    }
    val mets =
      rawMetrics.map { case (mn, e) =>
        AggExtract.parse(inline(e)) match {
          case Some(x) => Metric(mn, agg = Some(x.agg), sql = x.inner,
            filters = x.filter.toSeq)
          case None => Metric(mn, metricType = Some("derived"),
            sql = Some(inline(e)))
        }
      } ++ derivedEntries.map { case (mn, e) =>
        Metric(mn, metricType = Some("derived"), sql = Some(e))
      }
    val compDims = dimEntries.map { case (dn, e) =>
      Dimension(dn,
        if (raw"(=|<|>|\bin\b|\blike\b)".r.findFirstIn(e.toLowerCase).isDefined)
          DimType.Bool
        else DimType.Categorical,
        sql = Some(e))
    }

    (Model(name = name, source = resolve(name), primaryKey = pk,
      dimensions = dims ++ compDims, metrics = mets,
      relationships = rels), roles)
  }

  // ------------------------------------------------------------------
  // view blocks (`table NAME as ( sql )`)
  // ------------------------------------------------------------------

  private def viewModel(name: String, sql0: String): Model = {
    val sql = sql0.trim
    // projection of the LAST top-level select (CTE selects are nested)
    val selects = topLevelSelects(sql)
    val dims = selects.lastOption.toSeq.flatMap(projectionNames)
      .map(n => Dimension(n))
    Model(name = name, source = ModelSource.SqlView(toRunnable(sql)),
      primaryKey = dims.headOption.map(_.name).toSeq, dimensions = dims)
  }

  /** gsql clause order (`from X where … select … order …`) → standard
    * SELECT; already-standard SQL passes through. */
  private[adapters] def toRunnable(sql: String): String = {
    val masked = maskParens(sql)
    val fromIdx = raw"(?i)\bfrom\b".r.findAllMatchIn(masked)
      .find(m => depthAt(masked, m.start) == 0).map(_.start)
    val selIdx = raw"(?i)\bselect\b".r.findAllMatchIn(masked)
      .find(m => depthAt(masked, m.start) == 0).map(_.start)
    (fromIdx, selIdx) match {
      case (Some(f), Some(s)) if f < s =>
        // from-first: move the select clause to the front; the rest of
        // the clauses keep their order (valid: FROM WHERE GROUP ORDER)
        val selEnd = Seq(raw"(?i)\border\s+by\b".r, raw"(?i)\blimit\b".r,
            raw"(?i)\bgroup\s+by\b".r)
          .flatMap(_.findAllMatchIn(masked).filter(m => m.start > s)
            .map(_.start)).sorted.headOption.getOrElse(sql.length)
        val selectClause = sql.substring(s, selEnd).trim
        val prefix = sql.substring(0, f) // CTEs stay in front
        val middle = sql.substring(f, s).trim
        val tail = sql.substring(selEnd).trim
        s"$prefix$selectClause $middle${if (tail.nonEmpty) s" $tail" else ""}"
          .replaceAll(raw"\s+", " ").trim
      case _ => sql
    }
  }

  private def topLevelSelects(sql: String): Seq[String] = {
    val masked = maskParens(sql)
    val starts = raw"(?i)\bselect\b".r.findAllMatchIn(masked)
      .filter(m => depthAt(masked, m.start) == 0).map(_.end).toSeq
    starts.map { st =>
      val stop = Seq(raw"(?i)\bfrom\b".r, raw"(?i)\bgroup\b".r,
          raw"(?i)\border\b".r, raw"(?i)\blimit\b".r, raw"(?i)\bwhere\b".r)
        .flatMap(_.findAllMatchIn(masked).filter(m => m.start > st).map(_.start))
        .sorted.headOption.getOrElse(sql.length)
      sql.substring(st, stop)
    }
  }

  private def projectionNames(proj: String): Seq[String] =
    splitTopLevel(proj, ',').map(_.trim).filter(_.nonEmpty).map { item =>
      raw"(?i)\s+as\s+(\w+)\s*$$".r.findFirstMatchIn(item).map(_.group(1))
        .getOrElse(item.split(raw"[\s.(]").last.replaceAll(raw"\W", ""))
    }.filter(_.nonEmpty)

  // ------------------------------------------------------------------
  // extend blocks
  // ------------------------------------------------------------------

  private def extendModel(m: Model, body: String, isView: Boolean): Model = {
    val ComputedRe = raw"^(\w+)\s*:\s*(.*)$$".r
    var out = m
    entryLines(body).foreach {
      case ComputedRe(cn, expr0) =>
        val expr = expr0.replaceAll(raw"\s*#\S+\s*$$", "").trim
        if (isView || AggFns.findFirstIn(expr).isEmpty &&
            !out.metrics.exists(mm => (raw"\b" + mm.name + raw"\b").r
              .findFirstIn(expr).isDefined)) {
          // view grain is already aggregated → computed dimension
          out = out.copy(dimensions = out.dimensions :+
            Dimension(cn, DimType.Numeric, sql = Some(expr)))
        } else if (AggFns.findFirstIn(expr).isDefined) {
          val met = AggExtract.parse(expr) match {
            case Some(x) => Metric(cn, agg = Some(x.agg), sql = x.inner,
              filters = x.filter.toSeq)
            case None => Metric(cn, metricType = Some("derived"), sql = Some(expr))
          }
          out = out.copy(metrics = out.metrics :+ met)
        } else {
          out = out.copy(metrics = out.metrics :+
            Metric(cn, metricType = Some("derived"), sql = Some(expr)))
        }
      case other if other.trim.nonEmpty =>
        Fidelity.note("unrecognized_entry",
          s"extend '${m.name}' entry '${other.take(60)}' is not a " +
            "computed `name: expr` entry; dropped",
          source = Some("graphene"))
      case _ => ()
    }
    out
  }

  // ------------------------------------------------------------------
  // text utilities
  // ------------------------------------------------------------------

  /** Body lines, logical entries only (continuations for case-when etc.
    * join onto the previous line while parens stay open). */
  private def entryLines(body: String): Seq[String] = {
    var out = Vector.empty[String]
    val cur = new StringBuilder
    body.split('\n').map(_.trim).filter(_.nonEmpty).foreach { l =>
      if (cur.nonEmpty) cur.append(' ')
      cur.append(l)
      val s = cur.toString
      if (s.count(_ == '(') == s.count(_ == ')')) { out :+= s; cur.clear() }
    }
    if (cur.nonEmpty) out :+= cur.toString
    out
  }

  private def stripComments(text: String): String =
    text.split('\n').map { l =>
      val i = l.indexOf("--")
      if (i >= 0 && (l.substring(0, i).count(_ == '\'') & 1) == 0) l.substring(0, i)
      else l
    }.mkString("\n")

  private def maskParens(s: String): String = {
    val sb = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; sb.append('(')
      case ')' => depth -= 1; sb.append(')')
      case c   => sb.append(if (depth > 0) ' ' else c)
    }
    sb.toString
  }

  private def depthAt(masked: String, idx: Int): Int =
    masked.substring(0, idx).count(_ == '(') -
      masked.substring(0, idx).count(_ == ')')

  private def splitTopLevel(s: String, sep: Char): Seq[String] = {
    var depth = 0
    var out = Vector.empty[String]
    var last = 0
    s.zipWithIndex.foreach { case (c, i) =>
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (c == sep && depth == 0) { out :+= s.substring(last, i); last = i + 1 }
    }
    out :+ s.substring(last)
  }
}
