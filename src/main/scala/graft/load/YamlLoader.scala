package graft.load

import graft.load.YamlTree.strList
import graft.model._

/** Loader for the reference's native YAML model format (version 1 —
  * reference: docs/native-format.md, fixtures under tests/native-fixtures).
  * A user of the reference can point this at their existing model files.
  *
  * Unknown model-level fields and unsupported versions are hard errors
  * (matching the invalid_* fixture contract); `table:` resolution is
  * pluggable so the same YAML binds to catalog tables, parquet
  * directories, or test seeds.
  */
object YamlLoader {

  type TableResolver = String => ModelSource

  def defaultResolver: TableResolver = name => ModelSource.Table(name)

  /** Everything a native package can declare beyond its models: graph-level
    * metrics (`metrics:` at the top level, names may be namespaced like
    * "finance.revenue_per_order") and typed parameters with defaults
    * (reference: core/parameter.py). */
  final case class Loaded(
      models: Seq[Model],
      graphMetrics: Seq[Metric] = Nil,
      explores: Seq[Explore] = Nil,
      paramDefaults: Map[String, String] = Map.empty,
      paramTypes: Map[String, String] = Map.empty)

  def loadPackageString(yaml: String,
      resolve: TableResolver = defaultResolver): Loaded = {
    val root = YamlTree.parse(yaml).asInstanceOf[Map[String, Any]]
    val version = root.getOrElse("version", 1)
    require(version == 1, s"Unsupported native-format version: $version")
    Loaded(
      models = seqOfMaps(root.get("models")).map(parseModelMap(_, resolve)),
      graphMetrics = seqOfMaps(root.get("metrics")).map(parseMetric),
      explores = seqOfMaps(root.get("explores")).map(parseExplore),
      paramDefaults = seqOfMaps(root.get("parameters")).flatMap { p =>
        p.get("default_value").map(v =>
          p("name").toString -> graft.functions.Params.format(
            p.get("type").map(_.toString).getOrElse("string"), v.toString))
      }.toMap,
      paramTypes = seqOfMaps(root.get("parameters")).map(p =>
        p("name").toString ->
          p.get("type").map(_.toString).getOrElse("string")).toMap)
  }

  def loadString(yaml: String,
      resolve: TableResolver = defaultResolver): Seq[Model] =
    loadPackageString(yaml, resolve).models

  def loadPackageFile(path: String,
      resolve: TableResolver = defaultResolver): Loaded =
    loadPackageString(YamlTree.readText(path), resolve)

  def loadFile(path: String,
      resolve: TableResolver = defaultResolver): Seq[Model] =
    loadPackageFile(path, resolve).models

  /** Load every *.yml / *.yaml / *.sql in a directory into one catalog
    * (mixed directories are a supported layout — mixed_yaml_sql_directory
    * fixture; .sql files route through [[SqlModelLoader]]). */
  def loadDirectory(dir: String, resolve: TableResolver = defaultResolver,
      dataDir: String = ""): Catalog = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => Seq(".yml", ".yaml", ".sql").exists(f.getName.endsWith))
      .sortBy(_.getName)
    files.foldLeft(Catalog(dataDir = dataDir)) { (cat, f) =>
      if (f.getName.endsWith(".sql"))
        cat.add(SqlModelLoader.loadFile(f.getPath, resolve): _*)
      else {
        val pkg = loadPackageFile(f.getPath, resolve)
        cat.add(pkg.models: _*)
          .addGraphMetric(pkg.graphMetrics: _*)
          .addExplore(pkg.explores: _*)
          .withParamDefaults(pkg.paramDefaults)
          .withParamTypes(pkg.paramTypes)
      }
    }
  }

  // ------------------------------------------------------------------

  private val knownModelKeys = Set("name", "table", "sql", "source_uri",
    "primary_key", "primary_key_columns", "unique_keys", "dimensions",
    "metrics", "measures", "relationships", "segments", "pre_aggregations",
    "default_time_dimension", "default_grain", "extends", "description",
    "label", "security", "meta", "auto_dimensions",
    "sql_metrics", "sql_segments", "sql_dimensions",
    "owner", "domain", "category", "tags", "status", "certification",
    "visibility", "deprecation", "freshness")

  private[load] def parseModelMap(m: Map[String, Any],
      resolve: TableResolver): Model = {
    val unknown = m.keySet -- knownModelKeys
    require(unknown.isEmpty,
      s"Unknown field(s) ${unknown.mkString(", ")} in model '${m.getOrElse("name", "?")}'")
    val name = m("name").toString
    val source = (m.get("source_uri"), m.get("sql"), m.get("table")) match {
      case (Some(uri), _, _) => ModelSource.Parquet(uri.toString)
      case (_, Some(sql), _) => ModelSource.SqlView(sql.toString)
      case (_, _, Some(t))   => resolve(t.toString)
      case _                 => resolve(name)
    }
    // embedded SQL definition blocks inside YAML models
    // (embedded_sql_blocks fixture): parsed with the statement grammar
    val embedded = Seq("sql_dimensions", "sql_metrics", "sql_segments")
      .flatMap(k => m.get(k).map(v => SqlModelLoader.parseStatements(v.toString)))
    Model(
      name = name,
      source = source,
      primaryKey = strList(m.get("primary_key").orElse(m.get("primary_key_columns"))),
      dimensions = seqOfMaps(m.get("dimensions")).map(parseDimension) ++
        embedded.flatMap(_.dimensions),
      metrics = {
        val declared = seqOfMaps(m.get("metrics")) ++ seqOfMaps(m.get("measures"))
        val names = declared.map(_("name").toString).toSet
        declared.flatMap(mm => expandMetric(mm, names)) ++
          embedded.flatMap(_.metrics)
      },
      relationships = seqOfMaps(m.get("relationships")).map(parseRelationship),
      segments = seqOfMaps(m.get("segments")).map(s =>
        Segment(s("name").toString, s("sql").toString,
          public = s.get("public").forall(_.toString.toBoolean))) ++
        embedded.flatMap(_.segments),
      defaultTimeDimension = m.get("default_time_dimension").map(_.toString),
      defaultGrain = m.get("default_grain").map(_.toString),
      extendsModel = m.get("extends").map(_.toString),
      security = m.get("security").map(parseSecurity),
      governance = parseGovernance(m),
      freshness = parseFreshness(m, s"model '$name'"),
      preAggregations = seqOfMaps(m.get("pre_aggregations")).map(parsePreAgg))
  }

  /** `freshness:` block (reference: core/freshness.py + the sidemantic
    * adapter's FRESHNESS_FIELDS validation): `watermark` | `sql` (mutually
    * exclusive) + `ttl_seconds` (`ttlSeconds` accepted as an alias; a
    * conflicting double spelling is an error). Silently dropping this
    * block would erase a data contract, so unknown keys are hard errors. */
  private def parseFreshness(m: Map[String, Any], where: String): Option[Freshness] =
    m.get("freshness").flatMap(Option(_)).map { raw =>
      val f = raw match {
        case fm: Map[_, _] => fm.asInstanceOf[Map[String, Any]]
        case other => throw new IllegalArgumentException(
          s"$where freshness must be a mapping, got: $other")
      }
      val unknown = f.keySet -- Set("watermark", "sql", "ttl_seconds", "ttlSeconds")
      require(unknown.isEmpty,
        s"Unknown field(s) ${unknown.mkString(", ")} in $where freshness")
      val ttlA = f.get("ttl_seconds").flatMap(Option(_)).map(_.toString.toLong)
      val ttlB = f.get("ttlSeconds").flatMap(Option(_)).map(_.toString.toLong)
      require(ttlA.isEmpty || ttlB.isEmpty || ttlA == ttlB,
        s"$where freshness spells ttl_seconds and ttlSeconds with different values")
      try Freshness(
        watermark = f.get("watermark").flatMap(Option(_)).map(_.toString),
        sql = f.get("sql").flatMap(Option(_)).map(_.toString),
        ttlSeconds = ttlA.orElse(ttlB))
      catch {
        case e: IllegalArgumentException => throw new IllegalArgumentException(
          s"$where freshness: ${e.getMessage}")
      }
    }

  /** Governance metadata keys (reference: core/governance.py:22) shared by
    * models, metrics, and explores. */
  private def parseGovernance(m: Map[String, Any]): Option[Governance] = {
    val keys = Seq("owner", "domain", "category", "tags", "status",
      "certification", "visibility", "deprecation")
    if (!keys.exists(k => m.get(k).flatMap(Option(_)).isDefined)) None
    else {
      val dep = m.get("deprecation").flatMap(Option(_))
        .map(_.asInstanceOf[Map[String, Any]])
      Some(Governance(
        owner = m.get("owner").map(_.toString),
        domain = m.get("domain").map(_.toString),
        category = m.get("category").map(_.toString),
        tags = strList(m.get("tags")),
        status = m.get("status").map(_.toString),
        certification = m.get("certification").map(_.toString),
        visibility = m.get("visibility").map(_.toString).getOrElse("public"),
        deprecationMessage = dep.flatMap(_.get("message")).map(_.toString),
        replacedBy = dep.flatMap(_.get("replaced_by")).map(_.toString)))
    }
  }

  /** Top-level `explores:` (reference: core/consumption.py:100). */
  private def parseExplore(e: Map[String, Any]): Explore = {
    def optList(k: String): Option[Seq[String]] =
      e.get(k).flatMap(Option(_)).map(_ => strList(e.get(k)))
    Explore(
      name = e("name").toString,
      model = e("model").toString,
      label = e.get("label").map(_.toString),
      allowedDimensions = optList("allowed_dimensions"),
      allowedMetrics = optList("allowed_metrics"),
      allowedFilterFields = optList("allowed_filter_fields"),
      defaultDimensions = strList(e.get("default_dimensions")),
      defaultMetrics = strList(e.get("default_metrics")),
      filters = strList(e.get("filters")),
      defaultFilters = strList(e.get("default_filters")),
      defaultOrderBy = strList(e.get("default_order_by")),
      defaultLimit = e.get("default_limit").flatMap(Option(_)).map(_.toString.toInt),
      maxLimit = e.get("max_limit").flatMap(Option(_)).map(_.toString.toInt),
      governance = parseGovernance(e),
      freshness = parseFreshness(e, s"explore '${e("name")}'"))
  }

  /** `security:` block → SecurityPolicy (reference: core/security.py:40,
    * docs/security.md). The reference's Jinja boolean gate
    * (`"{{ user.role == 'admin' }}"`) normalizes to a SQL boolean
    * expression over `user.*`; literal `true` means no gate, literal
    * `false` denies outright. Silently dropping this block would load a
    * secured model as unrestricted, so unknown keys are hard errors. */
  private def parseSecurity(v: Any): SecurityPolicy = {
    val sm = v.asInstanceOf[Map[String, Any]]
    val unknown = sm.keySet -- Set("access", "row_filters")
    require(unknown.isEmpty,
      s"Unknown field(s) ${unknown.mkString(", ")} in security policy")
    val access = sm.get("access").flatMap {
      case b: java.lang.Boolean => if (b) None else Some("false")
      case other =>
        val s0 = other.toString.trim
        val inner =
          if (s0.startsWith("{{") && s0.endsWith("}}")) s0.drop(2).dropRight(2).trim
          else s0
        val sqlized = inner.replace("==", "=").replace("!=", "<>")
        if (sqlized.equalsIgnoreCase("true")) None else Some(sqlized)
    }
    SecurityPolicy(access = access, rowFilters = strList(sm.get("row_filters")))
  }

  private def parseDimension(d: Map[String, Any]): Dimension = {
    val dimType = d.getOrElse("type", "categorical").toString match {
      case "time"    => DimType.Time
      case "boolean" => DimType.Bool
      case "numeric" => DimType.Numeric
      case _         => DimType.Categorical
    }
    Dimension(
      name = d("name").toString,
      dimType = dimType,
      sql = d.get("sql").orElse(d.get("expr")).map(_.toString),
      granularity = d.get("granularity").map(_.toString),
      supportedGranularities = strList(d.get("supported_granularities")),
      label = d.get("label").map(_.toString),
      parent = d.get("parent").map(_.toString),
      public = d.get("public").forall(_.toString.toBoolean))
  }

  /** Model-level metric parse + composite-aggregate split (reference:
    * core/metric.py:68-226 recovers lone aggregates and keeps
    * `SUM(x) / SUM(y)` opaque; here the composite DECOMPOSES into hidden
    * single-aggregate metrics plus a derived formula over them, so each
    * component goes through the engine's fan-out-safety classification —
    * an opaque composite would aggregate naively over a fanned-out join
    * and silently double-count the one-side). */
  private def expandMetric(m: Map[String, Any],
      declaredNames: Set[String] = Set.empty): Seq[Metric] = {
    val parsed = parseMetric(m)
    // `type: cumulative, sql: SUM(amount)` — the reference's extraction
    // fires for cumulative too (core/metric.py:115 allows it, "to
    // support AVG/COUNT windows"); here the inline aggregate decomposes
    // into a hidden simple base metric so the window planner keeps its
    // named-base contract (and the base goes through fan-out safety).
    // Deliberately cumulative-ONLY, mirroring the reference's guard
    // (`not type_val or type_val == "cumulative"`): a time_comparison
    // with an inline aggregate is an error there and here — its sql is
    // a base-metric NAME by contract
    if (parsed.metricType.contains("cumulative") &&
        !skipExtraction(m) && parsed.baseMetric.exists(b =>
          AggExtract.parse(b).isDefined)) {
      val x = AggExtract.parse(parsed.baseMetric.get).get
      val baseName = s"${parsed.name}__base"
      // fail loudly rather than silently shadow/duplicate a user metric
      // that happens to carry the reserved hidden-base name
      if (declaredNames.contains(baseName))
        throw new IllegalArgumentException(
          s"metric '$baseName' collides with the hidden base metric " +
            s"synthesized for cumulative metric '${parsed.name}' — the " +
            "'__base' suffix is reserved; rename the declared metric")
      val base = Metric(name = baseName, agg = Some(x.agg),
        aggParam = x.param, sql = x.inner, filters = x.filter.toSeq,
        public = false)
      return Seq(base,
        parsed.copy(baseMetric = Some(base.name)))
    }
    val isPlain = parsed.agg.isEmpty && parsed.metricType.isEmpty &&
      parsed.numerator.isEmpty && parsed.steps.isEmpty
    parsed.sql match {
      // the extraction opt-outs cover composite decomposition too:
      // sql_is_complete means "preserve verbatim", and DAX is not this
      // grammar — neither may be split into hidden metrics
      case Some(sqlText) if isPlain && !skipExtraction(m) &&
          graft.adapters.RillAdapter.aggCallCount(sqlText) >= 1 =>
        // AggExtract already failed in parseMetric (agg is still empty),
        // so this is composite: >=1 aggregate call inside a larger formula
        val pieces = graft.adapters.RillAdapter.expressionToMetrics(
          parsed.name, sqlText, parsed.label)
        if (pieces.size <= 1) Seq(parsed)
        else {
          val hidden = pieces.init.map(_.copy(filters = parsed.filters))
          val outer = pieces.last.copy(fillNullsWith = parsed.fillNullsWith,
            public = parsed.public, governance = parsed.governance)
          hidden :+ outer
        }
      case _ => Seq(parsed)
    }
  }

  /** Extraction opt-outs (core/metric.py:104-117): `sql_is_complete`
    * marks the sql an opaque, complete aggregate expression (imported
    * Cube/Tesseract measures) that must be preserved verbatim with
    * agg=None; DAX expressions are a different grammar entirely.
    * `sql_is_complete` accepts YAML booleans AND the tolerant truthy
    * spellings (yes/no, on/off, 1/0) — the reference reads the field
    * as plain truthiness, so `sql_is_complete: yes` must opt out, not
    * throw. Unrecognized spellings raise with the accepted list. */
  private def skipExtraction(m: Map[String, Any]): Boolean =
    m.get("sql_is_complete").exists(truthy(_, "sql_is_complete")) ||
      m.get("expression_language").exists(_.toString == "dax")

  private def truthy(v: Any, field: String): Boolean = v match {
    case b: java.lang.Boolean => b.booleanValue()
    case other => other.toString.trim.toLowerCase match {
      case "true" | "yes" | "on" | "1"        => true
      case "false" | "no" | "off" | "0" | ""  => false
      case bad => throw new IllegalArgumentException(
        s"$field: expected a boolean (accepted spellings: true/false, " +
          s"yes/no, on/off, 1/0), got '$bad'")
    }
  }

  private def parseMetric(m: Map[String, Any]): Metric = {
    val parsed = parseMetric0(m)
    // Agg auto-extraction (reference: core/metric.py:68-226): a metric
    // written as `sql: SUM(amount)` IS a simple aggregation — recover
    // (agg, inner expr, FILTER clause) via Catalyst so it plans
    // identically to `agg: sum, sql: amount`. Composite expressions
    // (`SUM(a) / SUM(b)`) stay derived.
    if (parsed.agg.isEmpty && parsed.metricType.isEmpty &&
        !skipExtraction(m))
      parsed.sql.flatMap(AggExtract.parse) match {
        case Some(x) => parsed.copy(agg = Some(x.agg), aggParam = x.param,
          sql = x.inner, filters = parsed.filters ++ x.filter)
        case None => parsed
      }
    else parsed
  }

  private def parseMetric0(m: Map[String, Any]): Metric = {
    val mtype = m.get("type").map(_.toString)
    // `expr` (measures-style aliases) and `measure` (derived formula in the
    // native_aliases fixture) are accepted spellings of `sql`; both
    // spellings at once must agree (core/metric.py:89-91 raises)
    (m.get("sql"), m.get("expr")) match {
      case (Some(s), Some(e)) if s.toString != e.toString =>
        throw new IllegalArgumentException(
          s"metric '${m("name")}': cannot specify both sql='$s' and " +
            s"expr='$e' with different values")
      case _ => ()
    }
    val sql = m.get("sql").orElse(m.get("expr")).orElse(m.get("measure"))
      .map(_.toString)
    // `type: cumulative` uses `sql:` for its base metric reference in the
    // native format (advanced_metrics fixture)
    val isWindowType = mtype.exists(Set("cumulative", "time_comparison"))
    Metric(
      name = m("name").toString,
      agg = m.get("agg").map(_.toString).filter(_ => !mtype.contains("cohort")),
      sql = if (isWindowType) None
            else mtype match {
              case Some("cohort") => m.get("inner_metrics") match {
                case Some(im) =>
                  val inner = seqOfMaps(Some(im)).head
                  Some(innerAggSql(inner))
                case None => sql
              }
              case _ => sql
            },
      metricType = mtype,
      filters = strList(m.get("filters")),
      fillNullsWith = m.get("fill_nulls_with").map(_.toString),
      label = m.get("label").map(_.toString),
      public = m.get("public").forall(_.toString.toBoolean),
      steps = strList(m.get("steps")),
      numerator = m.get("numerator").map(_.toString),
      denominator = m.get("denominator").map(_.toString),
      offsetWindow = m.get("offset_window").map(_.toString),
      baseMetric = m.get("base_metric").map(_.toString)
        .orElse(if (isWindowType) sql else None),
      window = m.get("window").map(_.toString),
      grainToDate = m.get("grain_to_date").map(_.toString),
      windowExpression = m.get("window_expression").map(_.toString),
      windowFrame = m.get("window_frame").map(_.toString),
      windowOrder = m.get("window_order").map(_.toString),
      windowDomain = m.get("window_domain").map(_.toString),
      comparison = m.get("comparison_type").map(_.toString),
      calculation = m.get("calculation").map(_.toString),
      entity = m.get("entity").map(_.toString),
      baseFilter = m.get("base_event").map(eventFilter)
        .orElse(m.get("cohort_event").map(_.toString)),
      conversionFilter = m.get("conversion_event").map(eventFilter)
        .orElse(m.get("activity_event").map(_.toString)),
      conversionWindow = m.get("conversion_window").map(_.toString),
      retentionPeriods = m.get("periods").map(_.toString.toInt),
      retentionGrain = m.get("retention_granularity").map(_.toString),
      having = m.get("having").map { h =>
        // HAVING references the inner metric by name → planner calls it `value`
        seqOfMaps(m.get("inner_metrics")).headOption match {
          case Some(inner) =>
            h.toString.replaceAll(
              raw"\b" + java.util.regex.Pattern.quote(inner("name").toString) + raw"\b",
              "value")
          case None => h.toString
        }
      },
      outerAgg = if (mtype.contains("cohort")) m.get("agg").map(_.toString) else None,
      entityDimensions = strList(m.get("entity_dimensions")),
      governance = parseGovernance(m),
      nonAdditive = m.get("non_additive_dimension").map { nad =>
        val nm = nad.asInstanceOf[Map[String, Any]]
        NonAdditiveDimension(
          name = nm("name").toString,
          windowChoice = nm.getOrElse("window_choice", "max").toString,
          windowGroupings = strList(nm.get("window_groupings")))
      })
  }

  /** `base_event: signup` is shorthand for `event_type = 'signup'`;
    * expressions pass through. */
  private def eventFilter(v: Any): String = {
    val s = v.toString
    if (s.matches(raw"[A-Za-z_][A-Za-z0-9_]*")) s"event_type = '$s'" else s
  }

  private def innerAggSql(inner: Map[String, Any]): String = {
    val agg = inner.getOrElse("agg", "count").toString
    val target = inner.get("sql").map(_.toString).getOrElse("*")
    agg match {
      case "count_distinct" => s"count(distinct $target)"
      case "count"          => if (target == "*") "count(*)" else s"count($target)"
      case other            => s"$other($target)"
    }
  }

  private def parseRelationship(r: Map[String, Any]): Relationship =
    Relationship(
      to = r("name").toString,
      relType = r("type").toString,
      foreignKey = strList(r.get("foreign_key").orElse(r.get("foreign_key_columns"))),
      primaryKey = strList(r.get("primary_key").orElse(r.get("primary_key_columns"))),
      through = r.get("through").map(_.toString),
      throughForeignKey = strList(r.get("through_foreign_key")
        .orElse(r.get("through_foreign_key_columns"))),
      relatedForeignKey = strList(r.get("related_foreign_key")
        .orElse(r.get("related_foreign_key_columns"))),
      sqlOn = r.get("sql").map(_.toString))

  private def parsePreAgg(p: Map[String, Any]): PreAggregation =
    PreAggregation(
      name = p("name").toString,
      measures = strList(p.get("measures")),
      dimensions = strList(p.get("dimensions")),
      timeDimension = p.get("time_dimension").map(_.toString),
      granularity = p.get("granularity").map(_.toString),
      partitionGranularity = p.get("partition_granularity").map(_.toString))

  // ------------------------------------------------------------------

  /** Strict, unlike `YamlTree.seqOfMaps`: graft's own format fails loudly
    * on a list entry that is not a mapping. Empty still reads as empty. */
  private def seqOfMaps(v: Option[Any]): Seq[Map[String, Any]] =
    v.flatMap(Option(_)) match {
      case None => Nil
      case Some(l: Seq[_]) => l.map {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        case other => throw new IllegalArgumentException(
          s"Expected a mapping in the list, got: $other")
      }
      case Some(other) => throw new IllegalArgumentException(
        s"Expected a list of mappings, got: $other")
    }
}
