package graft.adapters

import graft.load.{Brackets, Fidelity, YamlLoader, YamlTree}
import graft.load.YamlTree.{mapOf, seqOfMaps}
import graft.model._

/** Importer for Rill metrics-view YAML (reference:
  * sidemantic/adapters/rill.py; fixture corpus tests/fixtures/rill/).
  *
  * A Rill metrics view is one model over a named Rill model (table):
  *   - dimensions: `column` or `expression` (nameless entries skip, as
  *     the reference notes for the upstream policy fixture)
  *   - `timeseries` → a time dimension (created when not declared),
  *     `smallest_time_grain` → its granularity
  *   - measures are raw SQL aggregate expressions. A single-aggregate
  *     expression (`SUM(amount)`, `COUNT(DISTINCT user_id)`,
  *     `COUNT(CASE WHEN ... THEN 1 END)`) imports as that aggregate; a
  *     multi-aggregate formula (`SUM(a) / NULLIF(SUM(b), 0) * 1.0`)
  *     extracts each aggregate into a hidden measure and imports the
  *     formula as a derived metric over them — the Spark-side equivalent
  *     of the reference's sqlglot decomposition
  *   - `security:` → access gate + row filter, with Rill's
  *     `{{ .user.attr }}` Go-template refs rewritten to the native
  *     `{{ user.attr }}` form
  *   - `type: explore` files map onto [[Explore]] contracts (defaults,
  *     base metrics view); `'*'` wildcards mean unrestricted
  */
object RillAdapter {

  final case class Imported(models: Seq[Model], explores: Seq[Explore])

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported =
    loadString(YamlTree.readText(path), resolve,
      defaultName = baseName(path))

  def loadDirectory(dir: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver,
      dataDir: String = ""): Catalog = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".yml") || f.getName.endsWith(".yaml"))
      .sortBy(_.getName)
    val imps = files.map(f => loadFile(f.getPath, resolve))
    var models = imps.flatMap(_.models).toVector
    // parent (derived) metrics views resolve once the whole project is
    // parsed: the child selects inherited fields from its parent view
    files.foreach { f =>
      mapOf(Option(YamlTree.parse(YamlTree.readText(f.getPath)))).filter(r =>
        r.getOrElse("type", "metrics_view").toString == "metrics_view" &&
          r.contains("parent")).foreach { root =>
        resolveParentView(root, baseName(f.getPath), models) match {
          case Some(child) => models :+= child
          case None =>
            Fidelity.note("parent_view_unresolved",
              s"derived view '${baseName(f.getPath)}' inherits from " +
                s"'${root("parent")}' which is not among the loaded views; " +
                "view dropped",
              source = Some("rill"))
        }
      }
    }
    val cat = Catalog(dataDir = dataDir).add(models: _*)
    val (kept, orphaned) =
      imps.flatMap(_.explores).partition(e => cat.models.contains(e.model))
    orphaned.foreach(e =>
      Fidelity.note("explore_without_view",
        s"explore '${e.name}' targets metrics view '${e.model}' which is " +
          "not among the loaded views; explore dropped",
        source = Some("rill")))
    kept.foldLeft(cat)((c, e) => c.addExplore(e))
  }

  /** A `parent:` metrics view: the child points at the parent's data and
    * may only SELECT inherited fields via parent_dimensions /
    * parent_measures (Rill rejects own field definitions on a derived
    * view). A selected derived/comparison measure pulls the parent
    * measures it references along as non-public dependencies. */
  private def resolveParentView(root: Map[String, Any], defaultName: String,
      models: Seq[Model]): Option[Model] = {
    val parentName = root("parent").toString
    if (seqOfMaps(root.get("dimensions")).nonEmpty ||
        seqOfMaps(root.get("measures")).nonEmpty)
      Fidelity.note("derived_view_own_fields",
        s"derived view '$defaultName' defines its own dimensions/measures; " +
          "a derived view may only select inherited parent fields — own " +
          "definitions ignored",
        severity = "approximated", source = Some("rill"))
    models.find(_.name == parentName).map { p =>
      val name = root.get("name").map(_.toString).getOrElse(defaultName)
      val selDims = selection(root.get("parent_dimensions"))
      val selMets = selection(root.get("parent_measures"))
      val dims = if (selDims.isEmpty) p.dimensions
        else p.dimensions.filter(d => selDims.contains(d.name))
      var mets = if (selMets.isEmpty) p.metrics
        else p.metrics.filter(m => selMets.contains(m.name))
      // transitive closure over referenced parent measures
      var grew = true
      while (grew) {
        val names = mets.map(_.name).toSet
        val refTexts = mets.flatMap(m => m.sql.toSeq ++ m.baseMetric.toSeq)
        val pulled = p.metrics.filterNot(m => names(m.name)).filter(m =>
          refTexts.exists(t =>
            (raw"\b" + java.util.regex.Pattern.quote(m.name) + raw"\b").r
              .findFirstIn(t).isDefined))
        grew = pulled.nonEmpty
        mets ++= pulled.map(_.copy(public = false))
      }
      p.copy(name = name, dimensions = dims, metrics = mets,
        defaultTimeDimension =
          p.defaultTimeDimension.filter(t => dims.exists(_.name == t)))
    }
  }

  /** A derived view's field selection; empty selects every parent field,
    * and so does a scalar (`parent_dimensions: '*'`). */
  private def selection(v: Option[Any]): Seq[String] = v match {
    case Some(l: Seq[_]) => l.map(_.toString)
    case _               => Nil
  }

  private def baseName(path: String): String =
    new java.io.File(path).getName.replaceAll(raw"\.ya?ml$$", "")

  def loadString(yaml: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver,
      defaultName: String = "metrics_view"): Imported = {
    val root = Option(YamlTree.parse(yaml)).map(_.asInstanceOf[Map[String, Any]])
      .getOrElse(return Imported(Nil, Nil))
    root.getOrElse("type", "metrics_view").toString match {
      case "metrics_view" if root.contains("parent") =>
        // resolved against the sibling parent view by loadDirectory
        Imported(Nil, Nil)
      case "metrics_view" =>
        Imported(parseMetricsView(root, resolve, defaultName).toSeq, Nil)
      case "explore" => Imported(Nil, parseExplore(root, defaultName).toSeq)
      case other => // canvas / model / source resources
        Fidelity.note("non_semantic_resource",
          s"'$defaultName' is a '$other' resource (dashboard layout / data " +
            "plumbing), not a metrics view; nothing imported from it",
          severity = "unsupported", source = Some("rill"))
        Imported(Nil, Nil)
    }
  }

  // ------------------------------------------------------------------
  // metrics view → model
  // ------------------------------------------------------------------

  private def parseMetricsView(root: Map[String, Any],
      resolve: YamlLoader.TableResolver, defaultName: String): Option[Model] = {
    val table = root.get("model").orElse(root.get("table"))
      .map(_.toString).getOrElse {
        Fidelity.note("view_without_model",
          s"metrics view '$defaultName' names no model/table; view dropped",
          source = Some("rill"))
        return None
      }
    val name = root.get("name").map(_.toString).getOrElse(
      if (defaultName.nonEmpty) defaultName else table)

    var dims = seqOfMaps(root.get("dimensions")).zipWithIndex.flatMap { case (d, di) =>
      // nameless dimensions are skipped (matching upstream Rill, which
      // requires a name or column); a column-only entry names itself.
      // No `return` here — that would be a non-local return dropping the view.
      val dn0 = d.get("name").map(_.toString)
        .orElse(d.get("column").map(_.toString))
      if (dn0.isEmpty)
        Fidelity.note("nameless_dimension",
          s"dimension entry on view '$name' has neither name nor column; " +
            "dimension dropped",
          source = Some("rill"), location = Some(s"dimensions[$di]"))
      dn0.map { dn =>
        Dimension(
          name = dn,
          sql = d.get("expression").map(_.toString.trim)
            .orElse(d.get("column").map(_.toString)).filter(_ != dn),
          label = d.get("display_name").map(_.toString))
      }
    }

    // timeseries column → time dimension
    root.get("timeseries").map(_.toString).filter(_.nonEmpty).foreach { ts =>
      root.get("smallest_time_grain").map(_.toString).filter(_.nonEmpty)
        .filterNot(g => graft.plan.Grains.isGrain(g)).foreach(g =>
          Fidelity.note("unknown_time_grain",
            s"view '$name' declares smallest_time_grain '$g' which is not " +
              "a known grain; defaulting to day",
            severity = "approximated", source = Some("rill"),
            location = Some("smallest_time_grain")))
      val grain = root.get("smallest_time_grain").map(_.toString)
        .filter(g => graft.plan.Grains.isGrain(g)).getOrElse("day")
      dims = dims.filterNot(_.name == ts) :+
        Dimension(ts, DimType.Time, granularity = Some(grain))
    }

    val metrics = seqOfMaps(root.get("measures")).zipWithIndex.flatMap {
      case (m, mi) => parseMeasure(m, mi, name) }

    val security = parseSecurity(root.get("security"))

    Some(Model(
      name = name,
      source = resolve(table),
      dimensions = dims,
      metrics = metrics,
      security = security,
      defaultTimeDimension = root.get("timeseries").map(_.toString)
        .filter(ts => dims.exists(d => d.name == ts && d.dimType == DimType.Time))))
  }

  /** One Rill measure → engine metrics, mirroring Rill's own parser
    * semantics (runtime/parser/parse_metrics_view.go, via the reference
    * adapter rill.py:496-607):
    *   - `ignore: true` entries are skipped by design (user intent, not
    *     a fidelity loss); a missing `name` falls back to `measure_<i>`
    *   - `window:` (rolling frame) → a cumulative metric whose raw
    *     aggregate rides [[Metric.windowExpression]] with the declared
    *     order/frame passed through to Spark's window support
    *   - `type: time_comparison` → the engine's native prior-period
    *     comparison over the named base measure
    *   - `type: derived` (or `requires:`/`per:` on a non-plain-aggregate
    *     expression) → a derived metric; measure-name references resolve
    *     through the engine's derived-metric substitution
    *   - otherwise the expression decomposes via [[expressionToMetrics]]
    */
  private def parseMeasure(m: Map[String, Any], idx: Int,
      view: String): Seq[Metric] = {
    if (m.get("ignore").exists(v => v.toString == "true")) return Nil
    val mn = m.get("name").map(_.toString).getOrElse(s"measure_$idx")
    val label = m.get("display_name").orElse(m.get("label")).map(_.toString)
    val expr = m.get("expression").map(_.toString.trim).filter(_.nonEmpty)
      .getOrElse {
        Fidelity.note("measure_without_expression",
          s"measure '$mn' on view '$view' has no expression; dropped",
          source = Some("rill"), location = Some(s"measures[$idx]"))
        return Nil
      }
    val mtype = m.get("type").map(_.toString.toLowerCase).getOrElse("")
    val window = m.get("window").flatMap(Option(_))
    if (window.isDefined) {
      val wm = window.collect { case w: Map[_, _] =>
        w.asInstanceOf[Map[String, Any]] }.getOrElse(Map.empty[String, Any])
      Seq(Metric(mn, metricType = Some("cumulative"),
        windowExpression = Some(expr),
        windowOrder = wm.get("order").map(_.toString),
        windowFrame = wm.get("frame").map(_.toString), label = label))
    } else if (mtype == "time_comparison") {
      Seq(Metric(mn, metricType = Some("time_comparison"),
        baseMetric = Some(expr), comparison = Some("prior"), label = label))
    } else if (mtype == "derived" ||
        ((m.contains("requires") || m.contains("per")) &&
          !isWholeAggregate(expr))) {
      Seq(Metric(mn, metricType = Some("derived"), sql = Some(expr),
        label = label))
    } else expressionToMetrics(mn, expr, label)
  }

  /** Number of top-level aggregate calls in an expression (lets callers
    * decide whether [[expressionToMetrics]] would decompose before
    * invoking it — avoids a spurious fidelity note on plain SQL). */
  private[graft] def aggCallCount(expr: String): Int =
    findAggCalls(expr).length

  /** True when the expression is exactly one aggregate call. */
  private[graft] def isWholeAggregate(expr: String): Boolean = {
    val calls = findAggCalls(expr)
    calls.length == 1 && expr.substring(0, calls.head.start).trim.isEmpty &&
      expr.substring(calls.head.end).trim.isEmpty
  }

  // ------------------------------------------------------------------
  // aggregate expression decomposition
  // ------------------------------------------------------------------

  private val AggNames = Set("count", "sum", "avg", "min", "max", "median",
    "stddev", "variance", "approx_count_distinct")

  /** One extracted aggregate call: full span + classified metric pieces. */
  private final case class AggCall(start: Int, end: Int,
      agg: String, inner: String)

  /** Scan for top-level aggregate calls with balanced parens. */
  private def findAggCalls(e: String): Seq[AggCall] = {
    val out = Vector.newBuilder[AggCall]
    val re = raw"(?i)\b([a-z_]+)\s*\(".r
    var from = 0
    while (from < e.length) {
      re.findFirstMatchIn(e.substring(from)) match {
        case None => from = e.length
        case Some(m) =>
          val fn = m.group(1).toLowerCase
          val open = from + m.end - 1
          val close = Brackets.closing(e, open, '(', ')')
          if (AggNames(fn) && close > open) {
            val inner = e.substring(open + 1, close).trim
            out += AggCall(from + m.start, close + 1, fn, inner)
            from = close + 1
          } else {
            // not an aggregate (or unbalanced): continue after the name
            from = from + m.start + fn.length
          }
      }
    }
    out.result()
  }

  /** Classify one aggregate call into (aggKind, sqlExpr). */
  private def classify(c: AggCall): (String, Option[String]) = {
    val distinct = raw"(?i)^distinct\s+(.+)$$".r
    c.inner match {
      case "*" if c.agg == "count" => ("count", None)
      case distinct(x) if c.agg == "count" => ("count_distinct", Some(x.trim))
      case distinct(x) if c.agg == "approx_count_distinct" =>
        ("approx_count_distinct", Some(x.trim))
      case x => (c.agg, Some(x).map(_.trim).filter(_.nonEmpty))
    }
  }

  /** A measure expression → one simple metric, or hidden measures + a
    * derived formula. */
  private[graft] def expressionToMetrics(name: String, expr: String,
      label: Option[String]): Seq[Metric] = {
    val calls = findAggCalls(expr)
    if (calls.isEmpty) {
      // non-aggregate measure: no executable mapping (also the shared
      // decomposition path for the Snowflake/OSI importers)
      Fidelity.note("non_aggregate_measure",
        s"measure '$name' expression contains no aggregate call " +
          s"(${expr.take(60)}); no executable mapping, measure dropped")
      return Nil
    }

    val whole = calls.length == 1 &&
      expr.substring(0, calls.head.start).trim.isEmpty &&
      expr.substring(calls.head.end).trim.isEmpty
    if (whole) {
      val (agg, sql) = classify(calls.head)
      return Seq(Metric(name, agg = Some(agg), sql = sql, label = label))
    }

    // hidden measure per aggregate; formula references them by name
    val safe = name.replaceAll(raw"\W", "_")
    val hidden = calls.zipWithIndex.map { case (c, i) =>
      val (agg, sql) = classify(c)
      Metric(s"${safe}__agg$i", agg = Some(agg), sql = sql, public = false)
    }
    val sb = new StringBuilder
    var pos = 0
    calls.zipWithIndex.foreach { case (c, i) =>
      sb.append(expr.substring(pos, c.start)).append(s"${safe}__agg$i")
      pos = c.end
    }
    sb.append(expr.substring(pos))
    hidden :+ Metric(name, metricType = Some("derived"),
      sql = Some(sb.toString.replaceAll(raw"\s+", " ").trim), label = label)
  }

  // ------------------------------------------------------------------
  // security & explores
  // ------------------------------------------------------------------

  /** `{{ .user.attr }}` (Go template) → `{{ user.attr }}`. */
  private def userRefs(s: String): String =
    s.replaceAll(raw"\{\{\s*\.user\.(\w+)\s*\}\}", "{{ user.$1 }}")

  private def parseSecurity(v: Option[Any]): Option[SecurityPolicy] = {
    val sec = mapOf(v).getOrElse(return None)
    val access = sec.get("access").flatMap(Option(_)) match {
      case Some(b: java.lang.Boolean) => if (b) None else Some("FALSE")
      case Some(s) if s.toString.trim.nonEmpty =>
        val t = s.toString.trim
        if (t.equalsIgnoreCase("true")) None
        else Some(userRefs(t).replaceAll(raw"\{\{\s*user\.(\w+)\s*\}\}", "user.$1"))
      case _ => None
    }
    val rowFilter = sec.get("row_filter").flatMap(Option(_)).map(_.toString)
      .filter(_.trim.nonEmpty).map(userRefs)
    if (access.isEmpty && rowFilter.isEmpty) None
    else Some(SecurityPolicy(access = access, rowFilters = rowFilter.toSeq))
  }

  private def parseExplore(root: Map[String, Any],
      defaultName: String): Option[Explore] = {
    val mv = root.get("metrics_view").map(_.toString).getOrElse {
      Fidelity.note("explore_without_view",
        s"explore '$defaultName' names no metrics_view; explore dropped",
        source = Some("rill"))
      return None
    }
    val defaults = mapOf(root.get("defaults")).getOrElse(Map.empty)
    def starOrList(v: Option[Any]): Option[Seq[String]] =
      v match {
        case Some("*") => None // unrestricted
        case Some(l: Seq[_]) => Some(l.map(_.toString))
        case _ => None
      }
    Some(Explore(
      name = root.get("name").map(_.toString).getOrElse(defaultName),
      model = mv,
      label = root.get("title").map(_.toString),
      allowedDimensions = starOrList(root.get("dimensions")),
      allowedMetrics = starOrList(root.get("measures")),
      defaultDimensions = starOrList(defaults.get("dimensions")).getOrElse(Nil),
      defaultMetrics = starOrList(defaults.get("measures")).getOrElse(Nil)))
  }
}
