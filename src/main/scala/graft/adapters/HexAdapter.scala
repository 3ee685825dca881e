package graft.adapters

import graft.load.{YamlLoader, YamlTree}
import graft.load.YamlTree.seqOfMaps
import graft.model._

/** Importer for Hex semantic-model YAML files (reference:
  * sidemantic/adapters/hex.py; fixture corpus tests/fixtures/hex/).
  * One file = one model:
  *
  *   - `id` / `base_sql_table` / `base_sql` → model + source
  *   - dimensions: `id`, `type` (number, string, date/datetime/timestamp
  *     variants, boolean), `expr_sql`/`expr_calc` → dimension SQL,
  *     `unique: true` → primary key
  *   - measures: `func` (the aggregation names map 1:1), `of` → the
  *     aggregated input (resolving dimension expressions), string
  *     `filters` reference boolean dimensions and become metric-level
  *     filters; `func_sql` ratios of the `AGG(x) / NULLIF(AGG(y), 0)`
  *     shape lift into a first-class ratio over two hidden measures;
  *     `semi_additive` → non-additive snapshot config
  *   - relations: `id`/`target`, `type`, `join_sql` simple equalities
  *     (`fk = ${other}.pk`) → structured join keys
  *
  * Custom `func_sql` outside the ratio shape has no executable equivalent
  * here (it would need raw-SQL aggregation mid-plan) and is dropped —
  * the import stays loadable, not lossless.
  */
object HexAdapter {

  /** A file may hold several `---`-separated documents (model + view
    * resources in the current Hex authoring format); only `type: model`
    * documents (the default) import. */
  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Seq[Model] =
    parseAll(YamlTree.readText(path), resolve)

  def parseAll(yaml: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Seq[Model] =
    YamlTree.parseAll(yaml).map(_.asInstanceOf[Map[String, Any]])
      .filter(_.get("type").forall(_.toString == "model"))
      .map(parseDoc(_, resolve))

  def loadDirectory(dir: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver,
      dataDir: String = ""): Catalog = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".yml") || f.getName.endsWith(".yaml"))
      .sortBy(_.getName)
    files.foldLeft(Catalog(dataDir = dataDir)) { (cat, f) =>
      cat.add(loadFile(f.getPath, resolve): _*)
    }
  }

  private def parseDoc(m: Map[String, Any],
      resolve: YamlLoader.TableResolver): Model = {
    val name = m("id").toString
    val source = (m.get("base_sql").flatMap(Option(_)),
        m.get("base_sql_table").flatMap(Option(_))) match {
      case (Some(sql), _) => ModelSource.SqlView(sql.toString)
      case (_, Some(t))   => resolve(t.toString)
      case _              => resolve(name)
    }
    val dimDefs = seqOfMaps(m.get("dimensions"))
    val dims = dimDefs.map(parseDimension)
    val primaryKey = dimDefs
      .filter(_.get("unique").exists(_.toString.toBoolean))
      .map(d => d.get("expr_sql").map(_.toString).getOrElse(d("id").toString))
      .take(1)
    val dimByName = dims.map(d => d.name -> d).toMap
    val metrics = seqOfMaps(m.get("measures"))
      .flatMap(parseMeasure(_, name, dimByName))
    Model(
      name = name,
      source = source,
      primaryKey = primaryKey,
      dimensions = dims,
      metrics = metrics,
      relationships = seqOfMaps(m.get("relations")).flatMap(parseRelation))
  }

  private def parseDimension(d: Map[String, Any]): Dimension = {
    val dtype = d.getOrElse("type", "string").toString
    Dimension(
      name = d("id").toString,
      dimType = dtype match {
        case "number" => DimType.Numeric
        case "boolean" => DimType.Bool
        case t if t.startsWith("date") || t.startsWith("time") => DimType.Time
        case _ => DimType.Categorical
      },
      sql = d.get("expr_sql").orElse(d.get("expr_calc")).map(_.toString),
      granularity =
        if (dtype.startsWith("date") || dtype.startsWith("time")) Some("day")
        else None,
      public = d.get("visibility").forall(_.toString == "public"))
  }

  private val FuncMap = Set("count", "count_distinct", "sum", "avg", "median",
    "min", "max", "stddev", "stddev_pop", "variance", "variance_pop")

  /** `AGG(x) / NULLIF(AGG(y), 0)` func_sql shape. */
  private val RatioSql =
    raw"(?is)^\s*(\w+)\s*\((.*?)\)\s*/\s*NULLIF\s*\(\s*(\w+)\s*\((.*?)\)\s*,\s*0\s*\)\s*$$".r

  private def parseMeasure(mm: Map[String, Any], model: String,
      dims: Map[String, Dimension]): Seq[Metric] = {
    val id = mm("id").toString
    val filters = seqOrStrings(mm.get("filters")).collect {
      case s: String => s"{model}.$s" // boolean dimension reference
    }
    val nonAdditive = mm.get("semi_additive").flatMap(Option(_)).flatMap {
      case s: String => // "last"/"first" over the model's time dimension
        dims.values.find(_.dimType == DimType.Time).map(td =>
          NonAdditiveDimension(td.name,
            if (s == "first") "min" else "max"))
      case v: Map[_, _] =>
        val sm = v.asInstanceOf[Map[String, Any]]
        sm.get("of").orElse(sm.get("dimension")).map(d =>
          NonAdditiveDimension(d.toString,
            if (sm.get("position").exists(_.toString == "first")) "min" else "max",
            windowGroupings = seqOrStrings(sm.get("window_groupings"))
              .collect { case s: String => s }))
      case _ => None
    }
    def ofExpr(of: String): String = dims.get(of).map(_.expr).getOrElse(of)

    (mm.get("func").flatMap(Option(_)).map(_.toString),
      mm.get("func_sql").flatMap(Option(_)).map(_.toString)) match {
      case (Some(f), _) if FuncMap(f) || f == "count_if" =>
        Seq(Metric(id,
          agg = Some(if (f == "count_if") "count" else f),
          sql = mm.get("of").flatMap(Option(_)).map(o => ofExpr(o.toString)),
          filters = filters,
          nonAdditive = nonAdditive,
          public = mm.get("visibility").forall(_.toString == "public")))
      case (_, Some(RatioSql(aggN, exprN, aggD, exprD)))
          if FuncMap(aggN.toLowerCase) && FuncMap(aggD.toLowerCase) =>
        // lift the ratio into two hidden measures + a first-class ratio
        Seq(
          Metric(s"${id}__num", agg = Some(aggN.toLowerCase),
            sql = Some(exprN), filters = filters, public = false),
          Metric(s"${id}__den", agg = Some(aggD.toLowerCase),
            sql = Some(exprD), filters = filters, public = false),
          Metric(id, metricType = Some("ratio"),
            numerator = Some(s"$model.${id}__num"),
            denominator = Some(s"$model.${id}__den")))
      case _ =>
        // custom func_sql/func_calc outside the aggregate/ratio map:
        // import as a DERIVED metric carrying the raw expression, the
        // way the reference does (ref hex.py:308-311 "Custom
        // aggregation - treat as derived metric"); the engine's agg
        // auto-extraction handles embedded aggregate calls downstream
        mm.get("func_sql").orElse(mm.get("func_calc")).flatMap(Option(_))
          .map(_.toString) match {
          case Some(expr) =>
            Seq(Metric(id, metricType = Some("derived"), sql = Some(expr),
              filters = filters,
              public = mm.get("visibility").forall(_.toString == "public")))
          case None =>
            graft.load.Fidelity.note("custom_measure_sql",
              s"measure '$id' has neither a recognized func nor a " +
                "func_sql/func_calc definition; dropped",
              severity = "unsupported", source = Some("hex"))
            Nil
        }
    }
  }

  private def parseRelation(r: Map[String, Any]): Option[Relationship] = {
    val id = r.get("id").map(_.toString).getOrElse(return None)
    val target = r.getOrElse("target", id).toString
    val relType = r.getOrElse("type", "many_to_one").toString
    val joinSql = r.get("join_sql").map(_.toString)
    // simple equality `left = ${target}.right`
    val eq = raw"(?s)^\s*([\w.]+)\s*=\s*\$$\{([\w]+)\}\.([\w]+)\s*$$".r
    joinSql match {
      case Some(eq(left, tgt, right)) if tgt == target =>
        relType match {
          case "many_to_one" | "one_to_one" =>
            Some(Relationship(target, relType,
              foreignKey = Seq(left), primaryKey = Seq(right)))
          case "one_to_many" | "many_to_many" =>
            // fk lives on the related model, local key on this one
            Some(Relationship(target, relType,
              foreignKey = Seq(right), primaryKey = Seq(left)))
          case other =>
            graft.load.Fidelity.note("unknown_relation_type",
              s"relation '$id' type '$other' is not a supported cardinality; " +
                "join dropped", source = Some("hex"))
            None
        }
      case Some(other) =>
        // non-equality condition: preserve with {from}/{to} placeholders
        val native = other.replace(s"$${$target}.", "{to}.")
        Some(Relationship(target, relType, sqlOn = Some(
          if (native.contains("{to}")) native else other)))
      case None =>
        Some(Relationship(target, relType, foreignKey = Seq(s"${target}_id")))
    }
  }

  // ------------------------------------------------------------------

  /** A list or a lone value, entries untyped: callers keep what they read. */
  private def seqOrStrings(v: Option[Any]): Seq[Any] =
    v.flatMap(Option(_)) match {
      case Some(s: Seq[_]) => s
      case Some(x)         => Seq(x)
      case None            => Nil
    }
}
