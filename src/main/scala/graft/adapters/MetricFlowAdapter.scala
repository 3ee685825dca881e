package graft.adapters

import graft.load.{YamlLoader, YamlTree}
import graft.load.YamlTree.{mapOf, seqOfMaps}
import graft.model._
import graft.plan.SemanticQuery

/** Importer for dbt MetricFlow semantic-layer YAML (reference:
  * sidemantic/adapters/metricflow.py; fixture corpus
  * tests/fixtures/metricflow/).
  *
  * Both specs are supported:
  *   - legacy: top-level `semantic_models:` (entities / dimensions /
  *     measures with `type_params`) + top-level `metrics:`
  *   - latest (dbt Core 1.12 / Fusion): top-level `models:` with a nested
  *     `semantic_model:` block, column-based `entity:` / `dimension:`
  *     declarations, measures folded into inline `type: simple` metrics,
  *     and promoted top-level metric keys (`input_metrics`,
  *     `input_metric`, `numerator`, ...).
  *
  * Mapping:
  *   - semantic models → models (`ref('x')` / config.meta table → source;
  *     primary entity → primary key; foreign entities → many_to_one
  *     relationships, resolved to model names post-parse via the primary-
  *     entity registry then plural/singular heuristics)
  *   - measures → model metrics (agg map; percentile flavors have no
  *     exact lowering and are dropped rather than silently coerced;
  *     `non_additive_dimension` → semi-additive config with entity-name
  *     groupings resolved to their backing columns)
  *   - top-level metrics: simple → a model-metric clone (carrying the
  *     metric's filter) plus a graph-level alias so the bare metric name
  *     stays queryable; ratio / derived / cumulative map 1:1 with measure
  *     references qualified to `model.measure`; derived input aliases
  *     rewrite to real metric names unless offset/filtered (those stay
  *     verbatim, non-queryable, as in the reference)
  *   - conversion metrics: the reference retains these as dead metadata
  *     because its funnel filters an `event_type` dimension by name. Here
  *     a `CASE WHEN <pred> THEN 1 ELSE 0 END` base/conversion measure
  *     lifts into a real conversion metric (baseFilter = <pred>), so the
  *     common dbt-docs shape imports queryable; anything else is retained
  *     non-queryable in [[Imported.retainedConversions]]
  *   - `{{ Dimension('entity__dim') }}` / `{{ TimeDimension(...) }}`
  *     jinja filters → `model.dim[__grain]` references
  *   - saved_queries → structured [[SemanticQuery]]s (metrics, group_by,
  *     where, limit)
  */
object MetricFlowAdapter {

  /** One parsed source (file or directory). Models still carry raw entity
    * names in relationships until [[toCatalog]] resolves them. */
  final case class Imported(
      models: Seq[ParsedModel] = Nil,
      graphMetrics: Seq[Metric] = Nil,
      savedQueries: Map[String, SemanticQuery] = Map.empty,
      /** Conversion metrics whose measures could not be lifted to
        * predicates — retained for round-tripping, never queryable. */
      retainedConversions: Map[String, Map[String, Any]] = Map.empty) {
    def ++(o: Imported): Imported = Imported(
      models ++ o.models, graphMetrics ++ o.graphMetrics,
      savedQueries ++ o.savedQueries,
      retainedConversions ++ o.retainedConversions)
  }

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported =
    loadString(YamlTree.readText(path), resolve)

  def loadDirectory(dir: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver,
      dataDir: String = ""): Catalog = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".yml") || f.getName.endsWith(".yaml"))
      .sortBy(_.getName)
    toCatalog(files.map(f => loadFile(f.getPath, resolve))
      .foldLeft(Imported())(_ ++ _), dataDir)
  }

  /** Resolve entity names to model names and register everything. */
  def toCatalog(imp: Imported, dataDir: String = ""): Catalog = {
    val names = imp.models.map(_.model.name).toSet
    // primary-entity registry: entity "customer" → model "customers"
    val byPrimaryEntity = imp.models.flatMap(m =>
      m.primaryEntityName.map(_ -> m.model.name)).toMap
    def resolveEntity(e: String): String =
      if (names(e)) e
      else byPrimaryEntity.getOrElse(e,
        if (names(e + "s")) e + "s"
        else if (e.endsWith("s") && names(e.dropRight(1))) e.dropRight(1)
        else names.find(_.equalsIgnoreCase(e)).getOrElse(e))
    val resolved = imp.models.map { pm =>
      pm.model.copy(relationships =
        pm.model.relationships.map(r => r.copy(to = resolveEntity(r.to))))
    }
    val cat = Catalog(dataDir = dataDir).add(resolved: _*)
      .addGraphMetric(imp.graphMetrics: _*)
    imp.savedQueries.foldLeft(cat) { case (c, (n, q)) => c.addSavedQuery(n, q) }
  }

  // ------------------------------------------------------------------
  // file parsing
  // ------------------------------------------------------------------

  /** Model plus parse-scope context needed by later passes. */
  final case class ParsedModel(model: Model, primaryEntityName: Option[String],
      entityColumns: Map[String, String])

  def loadString(yaml: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val root = Option(YamlTree.parse(yaml)).map(_.asInstanceOf[Map[String, Any]])
      .getOrElse(Map.empty[String, Any])

    val legacy = seqOfMaps(root.get("semantic_models"))
      .flatMap(parseSemanticModel(_, resolve))
    val latest = seqOfMaps(root.get("models"))
      .filter(_.get("semantic_model").exists(_.isInstanceOf[Map[_, _]]))
      .flatMap(parseModelSpec(_, resolve))
    var parsed = legacy ++ latest.map(_._1)

    // Inline latest-spec metrics fold a measure into the metric: attach to
    // the owning model directly.
    parsed = latest.foldLeft(parsed) { case (acc, (pm, inlineMetrics)) =>
      val folded = inlineMetrics.flatMap(foldedSimple(_, pm))
      acc.map(p => if (p.model.name == pm.model.name)
        p.copy(model = p.model.copy(metrics = p.model.metrics ++ folded)) else p)
    }

    // A simple metric whose name equals its measure but adds a filter /
    // fill_nulls_with must NOT replace the shared measure (other metrics
    // referencing the measure would silently inherit the filter). Rename
    // the raw measure up front; Ctx.resolveMeasure routes measure-typed
    // inputs to the raw one, the filtered clone takes the public name.
    val shadowed: Set[String] = seqOfMaps(root.get("metrics")).flatMap { md =>
      for {
        name <- md.get("name").map(_.toString)
        if md.getOrElse("type", "simple").toString == "simple"
        tp = mapOf(md.get("type_params")).getOrElse(Map.empty)
        measure <- tp.get("measure").orElse(md.get("measure")).flatMap(refName)
        if measure == name
        fill = tp.get("measure").orElse(md.get("measure")).flatMap {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
            .get("fill_nulls_with").flatMap(Option(_))
          case _ => None
        }
        if md.get("filter").flatMap(Option(_)).isDefined || fill.isDefined
      } yield name
    }.toSet
    // collision-proof rename targets: the internal name must never capture
    // (or be captured by) a user-defined measure, so extend until unique
    val existingMeasures = parsed.flatMap(_.model.metrics.map(_.name)).toSet
    val renames: Map[String, String] = shadowed.map { n =>
      var t = n + "__base"
      while (existingMeasures(t)) t += "_"
      n -> t
    }.toMap
    if (renames.nonEmpty)
      parsed = parsed.map(p => p.copy(model = p.model.copy(
        metrics = p.model.metrics.map(m =>
          renames.get(m.name).fold(m)(t => m.copy(name = t))))))

    // Context for reference resolution across this file's models.
    def ctx = Ctx(parsed, renames)

    // Top-level metrics (legacy and latest share the shape).
    var graphMetrics = Vector.empty[Metric]
    var retained = Map.empty[String, Map[String, Any]]
    seqOfMaps(root.get("metrics")).foreach { md =>
      parseTopMetric(md, ctx) match {
        case TopMetric.Graph(gm)        => graphMetrics :+= gm
        case TopMetric.OnModel(mn, met, alias) =>
          parsed = parsed.map(p => if (p.model.name == mn)
            p.copy(model = p.model.copy(metrics =
              p.model.metrics.filterNot(_.name == met.name) :+ met)) else p)
          alias.foreach(graphMetrics :+= _)
        case TopMetric.Retained(n, spec) => retained += (n -> spec)
        case TopMetric.Skip              => ()
      }
    }

    val saved = parseSavedQueries(seqOfMaps(root.get("saved_queries")), ctx,
      graphMetrics.map(_.name).toSet)
    Imported(parsed, graphMetrics, saved, retained)
  }

  /** Cross-model lookup tables for qualifying bare references.
    * `renames` maps a public metric name to the internal name its raw
    * measure was moved to when a filtered metric shadows it. */
  private final case class Ctx(parsed: Seq[ParsedModel],
      renames: Map[String, String] = Map.empty) {
    val measureOwner: Map[String, String] = parsed.flatMap(p =>
      p.model.metrics.map(_.name -> p.model.name)).toMap
    val dimensionOwner: Map[String, String] = {
      val all = parsed.flatMap(p => p.model.dimensions.map(_.name -> p.model.name))
      all.groupBy(_._1).collect { case (d, Seq((_, m))) => d -> m } // unique only
    }
    val entityModel: Map[String, String] = parsed.flatMap(p =>
      p.primaryEntityName.map(_ -> p.model.name)).toMap ++
      // a foreign entity also identifies its target by primary-entity name
      Map.empty
    val modelByName: Map[String, ParsedModel] =
      parsed.map(p => p.model.name -> p).toMap
    /** Resolve a MEASURE-typed reference (cumulative `measure:`,
      * conversion `base_measure`/`conversion_measure`) to its in-model
      * metric name. A top-level metric that shadows its same-named measure
      * (filter / fill_nulls_with) renamed the raw measure — tracked in
      * `renames`, never inferred from the name shape, so a user measure
      * literally named `foo__base` is never captured. Measure inputs keep
      * reading the raw, unfiltered one (ref adapters/metricflow.py keeps
      * measure and metric separate). */
    def resolveMeasure(name: String): Option[String] =
      renames.get(name).orElse(Some(name).filter(measureOwner.contains))
    def qualifyMeasure(name: String): Option[String] =
      resolveMeasure(name).map(m => s"${measureOwner(m)}.$m")
    /** METRIC references (ratio numerator/denominator, saved queries)
      * resolve to the PUBLIC metric name — when a filtered clone shadows
      * its measure, the clone takes the public name and the referencing
      * metric inherits its filter (ref semantic_graph
      * resolve_metric_reference: graph metrics first, raw measures as the
      * fallback). The clone may be attached later in the file, so forward
      * references resolve through `renames` to find the owner. */
    def qualifyMetric(name: String): Option[String] =
      if (measureOwner.contains(name)) Some(s"${measureOwner(name)}.$name")
      else renames.get(name).map(rn => s"${measureOwner(rn)}.$name")
  }

  // ------------------------------------------------------------------
  // legacy semantic model
  // ------------------------------------------------------------------

  private def parseSemanticModel(m: Map[String, Any],
      resolve: YamlLoader.TableResolver): Option[ParsedModel] = {
    val name = m.get("name").map(_.toString).getOrElse(return None)

    val refTable = m.get("model").map(_.toString).flatMap(r =>
      raw"""ref\(\s*['"]([^'"]+)['"]\s*\)""".r.findFirstMatchIn(r).map(_.group(1)))
    val metaTable = for {
      cfg <- mapOf(m.get("config")); meta <- mapOf(cfg.get("meta"))
      hex <- mapOf(meta.get("hex")); t <- hex.get("table")
    } yield t.toString
    val source = m.get("sql").flatMap(Option(_)) match {
      case Some(sql) => ModelSource.SqlView(sql.toString)
      case None      => resolve(metaTable.orElse(refTable).getOrElse(name))
    }

    var primaryKey = Seq.empty[String]
    var primaryEntity: Option[String] = None
    var entityColumns = Map.empty[String, String]
    var relationships = Vector.empty[Relationship]
    seqOfMaps(m.get("entities")).foreach { e =>
      val en = e.get("name").map(_.toString)
      val expr = e.get("expr").map(_.toString).orElse(en)
      en.zip(expr).foreach { case (n, x) => entityColumns += (n -> x) }
      e.getOrElse("type", "primary").toString match {
        case "primary" =>
          primaryKey = expr.toSeq; primaryEntity = en
        case "foreign" => en.foreach(n =>
          relationships :+= Relationship(n, "many_to_one",
            foreignKey = expr.toSeq))
        case _ => () // "unique"/"natural" keys carry no join semantics here
      }
    }

    val dims = seqOfMaps(m.get("dimensions")).flatMap(parseDimension)
    val dimNames = dims.map(_.name).toSet
    val measures = seqOfMaps(m.get("measures"))
      .flatMap(parseMeasure(_, dimNames, entityColumns))

    val meta = mapOf(m.get("meta")).getOrElse(Map.empty)
    val segments = seqOfMaps(meta.get("segments")).flatMap(s =>
      for (n <- s.get("name"); sql <- s.get("sql"))
        yield Segment(n.toString, sql.toString))

    val defaultTime = mapOf(m.get("defaults"))
      .flatMap(_.get("agg_time_dimension")).map(_.toString)
      .filter(td => dims.exists(d => d.name == td && d.dimType == DimType.Time))

    Some(ParsedModel(Model(
      name = name,
      source = source,
      primaryKey = primaryKey,
      dimensions = dims,
      metrics = measures,
      relationships = relationships,
      segments = segments,
      extendsModel = meta.get("extends").map(_.toString),
      defaultTimeDimension = defaultTime,
      defaultGrain = meta.get("default_grain").map(_.toString)),
      primaryEntity, entityColumns))
  }

  // ------------------------------------------------------------------
  // latest-spec model (`models:` + nested `semantic_model:`)
  // ------------------------------------------------------------------

  private def parseModelSpec(m: Map[String, Any],
      resolve: YamlLoader.TableResolver): Option[(ParsedModel, Seq[Map[String, Any]])] = {
    val sm = mapOf(m.get("semantic_model")).getOrElse(return None)
    if (sm.get("enabled").exists(_.toString == "false")) return None
    val dbtName = m.get("name").map(_.toString)
    val name = sm.get("name").map(_.toString).orElse(dbtName).getOrElse(return None)

    var primaryKey = Seq.empty[String]
    var primaryEntity: Option[String] = None
    var entityColumns = Map.empty[String, String]
    var relationships = Vector.empty[Relationship]
    var dims = Vector.empty[Dimension]

    seqOfMaps(m.get("columns")).foreach { c =>
      val colName = c.get("name").map(_.toString)
      c.get("entity").flatMap(Option(_)).foreach { ev =>
        val e = ev match {
          case s: String => Map[String, Any]("type" -> s)
          case mm: Map[_, _] => mm.asInstanceOf[Map[String, Any]]
          case _ => Map.empty[String, Any]
        }
        val en = e.get("name").map(_.toString).orElse(colName)
        val expr = e.get("expr").map(_.toString).orElse(colName)
        en.zip(expr).foreach { case (n, x) => entityColumns += (n -> x) }
        e.getOrElse("type", "primary").toString match {
          case "primary" => primaryKey = expr.toSeq; primaryEntity = en
          case "foreign" => en.foreach(n =>
            relationships :+= Relationship(n, "many_to_one", foreignKey = expr.toSeq))
          case _ => ()
        }
      }
      c.get("dimension").flatMap(Option(_)).foreach { dv =>
        val d = dv match {
          case s: String => Map[String, Any]("type" -> s)
          case mm: Map[_, _] => mm.asInstanceOf[Map[String, Any]]
          case _ => Map.empty[String, Any]
        }
        val dtype = d.getOrElse("type", "categorical").toString
        val grain = c.get("granularity").orElse(d.get("granularity")).map(_.toString)
        dims :+= Dimension(
          name = d.get("name").map(_.toString).orElse(colName).getOrElse("col"),
          dimType = if (dtype == "time") DimType.Time else DimType.Categorical,
          sql = d.get("expr").map(_.toString).orElse(colName),
          granularity = if (dtype == "time") grain.orElse(Some("day")) else None,
          label = d.get("label").map(_.toString))
      }
    }

    val aggTime = m.get("agg_time_dimension").orElse(sm.get("agg_time_dimension"))
      .map(_.toString)
      .filter(td => dims.exists(d => d.name == td && d.dimType == DimType.Time))

    Some((ParsedModel(Model(
      name = name,
      source = resolve(dbtName.getOrElse(name)),
      primaryKey = primaryKey,
      dimensions = dims,
      relationships = relationships,
      defaultTimeDimension = aggTime),
      primaryEntity, entityColumns),
      seqOfMaps(m.get("metrics"))))
  }

  /** Inline latest-spec `type: simple` metric (folded measure) → model
    * metric. A constant/`*` count anchors to the primary key — COUNT over a
    * non-null key equals COUNT(*). */
  private def foldedSimple(md: Map[String, Any], pm: ParsedModel): Option[Metric] = {
    if (md.getOrElse("type", "simple").toString != "simple") return None
    val name = md.get("name").map(_.toString).getOrElse(return None)
    percentileMetric(name, md).foreach(m => return Some(m))
    val agg = mapAggOrNote(name, md.get("agg").map(_.toString)).getOrElse(return None)
    val rawExpr = md.get("expr").flatMap(Option(_)).map(_.toString)
    val pk = pm.model.primaryKey.headOption
    val sql = agg match {
      case "count" =>
        rawExpr.filter(e => e != "1" && e != "*").orElse(pk)
      case _ => rawExpr.orElse(Some(name))
    }
    Some(Metric(name, agg = Some(agg), sql = sql,
      label = md.get("label").map(_.toString),
      filters = md.get("filter").map(_.toString).map(translateJinjaLocal(_, pm)).toSeq))
  }

  // ------------------------------------------------------------------
  // dimensions & measures
  // ------------------------------------------------------------------

  private def parseDimension(d: Map[String, Any]): Option[Dimension] = {
    val name = d.get("name").map(_.toString).getOrElse(return None)
    val dtype = d.getOrElse("type", "categorical").toString
    val grain = if (dtype == "time")
      Some(mapOf(d.get("type_params")).flatMap(_.get("time_granularity"))
        .map(_.toString).getOrElse("day"))
    else None
    val meta = mapOf(d.get("meta")).getOrElse(Map.empty)
    Some(Dimension(
      name = name,
      dimType = if (dtype == "time") DimType.Time else DimType.Categorical,
      sql = d.get("expr").flatMap(Option(_)).map(_.toString),
      granularity = grain,
      label = d.get("label").map(_.toString),
      parent = meta.get("parent").map(_.toString)))
  }

  private def mapAgg(a: Option[String]): Option[String] = a match {
    case None => Some("sum")
    case Some(s) => s.toLowerCase match {
      case "sum" | "sum_boolean" => Some("sum")
      case "count"               => Some("count")
      case "count_distinct"      => Some("count_distinct")
      case "average" | "avg"     => Some("avg")
      case "min"                 => Some("min")
      case "max"                 => Some("max")
      case "median"              => Some("median")
      case _                     => None // percentile etc. — drop, don't coerce
    }
  }

  /** `agg: percentile` + agg_params → the engine's first-class
    * percentile_cont / percentile_disc aggregations (ANSI inverse-
    * distribution semantics). The reference DROPS percentile measures
    * (its core cannot represent them — metricflow.py:544-546);
    * importing them is a strict extension, and the approximate_*
    * flavors lower to the exact form (the approximation choice is an
    * engine hint, recorded as an info note, not a semantic
    * difference). */
  private def percentileMetric(name: String,
      md: Map[String, Any]): Option[Metric] = {
    if (!md.get("agg").exists(_.toString == "percentile")) return None
    val params = mapOf(md.get("agg_params")).getOrElse(Map.empty)
    val p = params.get("percentile").map(_.toString).getOrElse("0.5")
    val discrete =
      params.get("use_discrete_percentile").exists(_.toString == "true")
    if (params.get("use_approximate_percentile").exists(_.toString == "true"))
      graft.load.Fidelity.note("approximate_percentile_hint",
        s"measure '$name': use_approximate_percentile is an engine hint; " +
          "lowered to the exact PERCENTILE form", severity = "info",
        source = Some("metricflow"))
    Some(Metric(name,
      agg = Some(if (discrete) "percentile_disc" else "percentile_cont"),
      aggParam = Some(p),
      sql = md.get("expr").flatMap(Option(_)).map(_.toString)
        .orElse(Some(name)),
      label = md.get("label").map(_.toString)))
  }

  /** mapAgg that records a fidelity note naming the measure when the
    * aggregation has no lowering. */
  private def mapAggOrNote(name: String, a: Option[String]): Option[String] =
    mapAgg(a).orElse {
      graft.load.Fidelity.note("unsupported_aggregation",
        s"measure '$name' aggregation '${a.getOrElse("?")}' has no lowering; " +
          "dropped rather than coerced",
        source = Some("metricflow"))
      None
    }

  private def parseMeasure(md: Map[String, Any], dimNames: Set[String],
      entityColumns: Map[String, String]): Option[Metric] = {
    val name = md.get("name").map(_.toString).getOrElse(return None)
    percentileMetric(name, md).foreach(m => return Some(m))
    val agg = mapAggOrNote(name, md.get("agg").map(_.toString)).getOrElse(return None)
    val meta = mapOf(md.get("meta")).getOrElse(Map.empty)
    val nonAdditive = mapOf(md.get("non_additive_dimension")).map { na =>
      NonAdditiveDimension(
        name = na.getOrElse("name", "").toString,
        windowChoice = na.get("window_choice").map(_.toString)
          .filter(Set("min", "max")).getOrElse("max"),
        // entity-name groupings resolve to their backing columns
        windowGroupings = nameList(na.get("window_groupings")).map(g =>
          if (dimNames(g)) g else entityColumns.getOrElse(g, g)))
    }
    Some(Metric(
      name = name,
      agg = Some(agg),
      // MetricFlow defaults expr to the measure name; anchoring to the
      // primary key would silently aggregate the wrong column
      // (ref adapters/metricflow.py:156-162)
      sql = md.get("expr").flatMap(Option(_)).map(_.toString)
        .orElse(if (agg != "count") Some(name) else None),
      label = md.get("label").map(_.toString),
      filters = nameList(meta.get("filters")),
      nonAdditive = nonAdditive))
  }

  // ------------------------------------------------------------------
  // top-level metrics
  // ------------------------------------------------------------------

  private sealed trait TopMetric
  private object TopMetric {
    /** Register graph-level. */
    final case class Graph(m: Metric) extends TopMetric
    /** Attach to a model (replacing same-named), plus optional bare-name alias. */
    final case class OnModel(model: String, m: Metric,
        alias: Option[Metric]) extends TopMetric
    /** Non-queryable round-trip metadata. */
    final case class Retained(name: String, spec: Map[String, Any]) extends TopMetric
    case object Skip extends TopMetric
  }

  /** A measure input may be a bare name or `{name:, alias:, fill_nulls_with:,
    * offset_window:, ...}`. */
  private def refName(v: Any): Option[String] = v match {
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]].get("name").map(_.toString)
    case null  => None
    case other => Some(other.toString)
  }

  private def parseTopMetric(md: Map[String, Any], ctx: Ctx): TopMetric = {
    val name = md.get("name").map(_.toString).getOrElse(return TopMetric.Skip)
    val tp = mapOf(md.get("type_params")).getOrElse(Map.empty)
    val label = md.get("label").map(_.toString)
    val filter = md.get("filter").flatMap(Option(_)).map(_.toString)

    md.getOrElse("type", "simple").toString match {
      case "simple" =>
        val measureRef = tp.get("measure").orElse(md.get("measure"))
          .flatMap(refName).getOrElse(return TopMetric.Skip)
        val measure = ctx.resolveMeasure(measureRef)
          .getOrElse(return TopMetric.Skip)
        val owner = ctx.measureOwner(measure)
        val base = ctx.modelByName(owner).model.metric(measure).get
        val pm = ctx.modelByName(owner)
        val fill = tp.get("measure").orElse(md.get("measure")).flatMap {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
            .get("fill_nulls_with").map(_.toString)
          case _ => None
        }
        val clone = base.copy(name = name, label = label.orElse(base.label),
          filters = base.filters ++ filter.map(translateJinjaLocal(_, pm)).toSeq,
          fillNullsWith = fill.orElse(base.fillNullsWith))
        val alias =
          if (name == measureRef) None
          else Some(Metric(name, metricType = Some("derived"),
            sql = Some(s"$owner.$name"), label = label))
        if (name == measureRef && filter.isEmpty && fill.isEmpty) TopMetric.Skip
        else TopMetric.OnModel(owner, clone, alias)

      case "ratio" =>
        // numerator/denominator are METRIC references in dbt MetricFlow:
        // a same-named filtered metric (not the raw measure) must win
        val num = tp.get("numerator").orElse(md.get("numerator")).flatMap(refName)
        val den = tp.get("denominator").orElse(md.get("denominator")).flatMap(refName)
        (num.flatMap(ctx.qualifyMetric), den.flatMap(ctx.qualifyMetric)) match {
          case (Some(n), Some(d)) => TopMetric.Graph(Metric(name,
            metricType = Some("ratio"), numerator = Some(n),
            denominator = Some(d), label = label))
          case _ => TopMetric.Skip
        }

      case "derived" =>
        val expr = tp.get("expr").orElse(md.get("expr")).map(_.toString)
          .getOrElse(return TopMetric.Skip)
        val inputs = seqOfMaps(tp.get("metrics").orElse(md.get("input_metrics")))
        // rewrite plain aliases (no offset/filter) back to real metric names
        val rewritten = inputs.foldLeft(expr) { (e, in) =>
          val alias = in.get("alias").map(_.toString)
          val real = in.get("name").map(_.toString)
          val modified = in.get("offset_window").orElse(in.get("offset_to_grain"))
            .orElse(in.get("filter")).isDefined
          (alias, real) match {
            case (Some(a), Some(r)) if a != r && !modified =>
              e.replaceAll(raw"\b" + java.util.regex.Pattern.quote(a) + raw"\b",
                java.util.regex.Matcher.quoteReplacement(r))
            case _ => e
          }
        }
        TopMetric.Graph(Metric(name, metricType = Some("derived"),
          sql = Some(rewritten), label = label))

      case "cumulative" =>
        val measure = tp.get("measure").orElse(md.get("input_metric"))
          .flatMap(refName).getOrElse(return TopMetric.Skip)
        val base = ctx.qualifyMeasure(measure).getOrElse(return TopMetric.Skip)
        val cum = mapOf(tp.get("cumulative_type_params")).getOrElse(Map.empty)
        val window = tp.get("window").orElse(cum.get("window"))
          .orElse(md.get("window")).map(v => normalizeWindow(v.toString))
        val g2d = tp.get("grain_to_date").orElse(cum.get("grain_to_date"))
          .orElse(md.get("grain_to_date")).map(_.toString)
        TopMetric.Graph(Metric(name, metricType = Some("cumulative"),
          baseMetric = Some(base), window = window, grainToDate = g2d,
          label = label))

      case "conversion" =>
        parseConversion(name, md, tp, ctx, label)

      case _ => TopMetric.Skip
    }
  }

  /** `CASE WHEN <pred> THEN 1 ELSE 0 END` (agg sum) — the standard
    * MetricFlow conversion-measure idiom; the predicate is recoverable. */
  private val CaseWhenPred =
    raw"(?is)^\s*case\s+when\s+(.+?)\s+then\s+1\s+else\s+0\s+end\s*$$".r

  private def parseConversion(name: String, md: Map[String, Any],
      tp: Map[String, Any], ctx: Ctx, label: Option[String]): TopMetric = {
    val conv = mapOf(tp.get("conversion_type_params")).getOrElse(Map.empty)
    val base = conv.get("base_measure").orElse(md.get("base_metric")).flatMap(refName)
    val conversion = conv.get("conversion_measure")
      .orElse(md.get("conversion_metric")).flatMap(refName)
    val entity = conv.get("entity").orElse(md.get("entity")).map(_.toString)
    val window = conv.get("window").orElse(md.get("window"))
      .map(v => normalizeWindow(v.toString))
    val calculation = conv.get("calculation").orElse(md.get("calculation"))
      .map(_.toString).getOrElse("conversion_rate")

    val spec = Map[String, Any]("name" -> name, "entity" -> entity.orNull,
      "base_measure" -> base.orNull, "conversion_measure" -> conversion.orNull,
      "window" -> window.orNull, "calculation" -> calculation)
    if (base.isEmpty || conversion.isEmpty || entity.isEmpty)
      return TopMetric.Skip

    // lift: rate-flavored, both measures on one model, CASE WHEN predicates
    val lifted = for {
      _ <- Option(()).filter(_ => calculation == "conversion_rate")
      baseName <- ctx.resolveMeasure(base.get)
      convName <- ctx.resolveMeasure(conversion.get)
      owner <- ctx.measureOwner.get(baseName)
      if ctx.measureOwner.get(convName).contains(owner)
      pm = ctx.modelByName(owner)
      baseM <- pm.model.metric(baseName) if baseM.agg.contains("sum")
      convM <- pm.model.metric(convName) if convM.agg.contains("sum")
      basePred <- baseM.sql.collect { case CaseWhenPred(p) => p }
      convPred <- convM.sql.collect { case CaseWhenPred(p) => p }
      entityCol = pm.entityColumns.getOrElse(entity.get, entity.get)
    } yield TopMetric.OnModel(owner,
      Metric(name, metricType = Some("conversion"),
        entity = Some(entityCol),
        baseFilter = Some(basePred), conversionFilter = Some(convPred),
        conversionWindow = window, label = label),
      alias = None)
    lifted.getOrElse(TopMetric.Retained(name, spec))
  }

  // ------------------------------------------------------------------
  // saved queries
  // ------------------------------------------------------------------

  private val GroupByRe =
    raw"""(?:TimeDimension|Dimension|Entity)\(\s*'([^']+)'\s*(?:,\s*'([^']+)'\s*)?\)""".r

  private def parseSavedQueries(sq: Seq[Map[String, Any]],
      ctx: Ctx, graphNames: Set[String]): Map[String, SemanticQuery] =
    sq.flatMap { s =>
      for {
        name <- s.get("name").map(_.toString)
        qp <- mapOf(s.get("query_params"))
      } yield {
        // a graph-level alias keeps the bare name queryable; otherwise the
        // metric lives on its owning model and needs qualification
        val metrics = nameList(qp.get("metrics")).map(m =>
          if (graphNames(m)) m else ctx.qualifyMetric(m).getOrElse(m))
        val dims = nameList(qp.get("group_by")).flatMap(g => parseGroupBy(g, ctx))
        val where = qp.get("where").flatMap(Option(_)) match {
          case Some(l: Seq[_]) => l.map(w => translateJinja(w.toString, ctx))
          case Some(w)         => Seq(translateJinja(w.toString, ctx))
          case None            => Nil
        }
        name -> SemanticQuery(metrics = metrics, dimensions = dims,
          filters = where,
          limit = qp.get("limit").map(_.toString.toInt))
      }
    }.toMap

  private def parseGroupBy(g: String, ctx: Ctx): Option[String] = {
    val (ref, grain) = GroupByRe.findFirstMatchIn(g) match {
      case Some(m) => (m.group(1), Option(m.group(2)))
      case None    => (g, None)
    }
    qualifyDimRef(ref, ctx).map(_ + grain.map("__" + _).getOrElse(""))
  }

  /** `entity__dim` → `model.dim`; bare `dim` → unique owner. */
  private def qualifyDimRef(ref: String, ctx: Ctx): Option[String] =
    ref.split("__") match {
      case Array(e, d) =>
        ctx.entityModel.get(e).orElse(
          ctx.parsed.find(p => p.model.name == e || p.primaryEntityName.contains(e))
            .map(_.model.name))
          .map(m => s"$m.$d")
      case Array(d) => ctx.dimensionOwner.get(d).map(m => s"$m.$d")
      case _ => None
    }

  /** `{{ Dimension('e__d') }}` / `{{ TimeDimension('e__d','g') }}` →
    * `model.d[__g]` inside an arbitrary SQL predicate. */
  private val JinjaRefRe =
    raw"""\{\{\s*(TimeDimension|Dimension|Entity)\(\s*'([^']+)'\s*(?:,\s*'([^']+)'\s*)?\)\s*\}\}""".r

  private def translateJinja(sql: String, ctx: Ctx): String =
    JinjaRefRe.replaceAllIn(sql, m => {
      val resolved = qualifyDimRef(m.group(2), ctx)
        .map(_ + Option(m.group(3)).map("__" + _).getOrElse(""))
        .getOrElse(m.group(2).replace("__", "."))
      java.util.regex.Matcher.quoteReplacement(resolved)
    })

  /** Model-local flavor for metric filters: self-model refs become
    * `{model}.col` so the generator scopes them to the owning frame. */
  private def translateJinjaLocal(sql: String, pm: ParsedModel): String =
    JinjaRefRe.replaceAllIn(sql, m => {
      val ref = m.group(2)
      val out = ref.split("__") match {
        case Array(_, d) => s"{model}.$d"
        case Array(d)    => s"{model}.$d"
        case _           => ref
      }
      java.util.regex.Matcher.quoteReplacement(out)
    })

  private def normalizeWindow(w: String): String = {
    val parts = w.trim.split(raw"\s+")
    if (parts.length == 2 && parts(1).endsWith("s"))
      s"${parts(0)} ${parts(1).dropRight(1)}"
    else w.trim
  }

  /** A list of strings or `{name: …}` entries, as names; a lone scalar is
    * a one-element list, and null entries and empty names drop out. */
  private def nameList(v: Option[Any]): Seq[String] =
    v.flatMap(Option(_)) match {
      case Some(l: Seq[_]) => l.flatMap(x => Option(x)).map {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
          .get("name").map(_.toString).getOrElse("")
        case other => other.toString
      }.filter(_.nonEmpty)
      case Some(s) => Seq(s.toString)
      case None    => Nil
    }
}
