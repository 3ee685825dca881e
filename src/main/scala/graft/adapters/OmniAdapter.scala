package graft.adapters

import graft.load.{YamlLoader, YamlTree}
import graft.load.YamlTree.{mapOf, seqOfMaps}
import graft.model._

/** Importer for Omni Analytics model exports (reference:
  * sidemantic/adapters/omni.py; fixtures tests/fixtures/omni/).
  *
  * Export layout: `*.view.yaml` (or bare `*.yaml`) files under `views`
  * define views → models; `relationships.yaml` is a bare list of joins
  * (older exports nest `relationships:` inside `model.yaml`);
  * `*.topic.yaml` files under `topics` define a base view + nested join
  * tree → imported as [[Explore]]s with their edges realized as
  * many_to_one relationships.
  *
  *   - dimensions: `string/number/date/timestamp/yesno` → dim types;
  *     `${TABLE}.col` / `${view.col}` references simplify to the bare
  *     column (each model plans in its own projection scope);
  *     `timeframes` → granularity + supported grains; `primary_key: true`
  *     elects the model key
  *   - measures: `aggregate_type` maps 1:1 (`average`→avg); Omni
  *     percentile/list and `*_distinct_on` variants have NO sound
  *     aggregation mapping (collapsing them would drop their dedup
  *     semantics) so they import as derived/raw; `filters:` render to SQL
  *     fragments (is / is_not / comparisons / contains / between); the
  *     `date_offset_from_query` + `cancel_query_filter` idiom is Omni's
  *     time-comparison — imported as a comparison metric on the base
  *     measure (offset `2 years`→yoy, `1 month`→mom, …)
  *   - relationships: `join_from_view`/`join_to_view` + `on_sql`
  *     `${a.x} = ${b.y}` key extraction; for one_to_many/one_to_one the
  *     fk/pk swap sides (the related view holds the FK)
  */
object OmniAdapter {

  final case class Imported(models: Seq[Model], topics: Seq[Explore])

  private val DimTypeMap = Map(
    "string" -> DimType.Categorical, "number" -> DimType.Numeric,
    "date" -> DimType.Time, "timestamp" -> DimType.Time,
    "yesno" -> DimType.Bool)

  private val AggMap = Map(
    "count" -> "count", "count_distinct" -> "count_distinct",
    "sum" -> "sum", "average" -> "avg", "avg" -> "avg",
    "min" -> "min", "max" -> "max", "median" -> "median")

  private val TimeframeMap = Map(
    "date" -> "day", "day" -> "day", "week" -> "week", "month" -> "month",
    "quarter" -> "quarter", "year" -> "year", "hour" -> "hour",
    "minute" -> "minute", "second" -> "second")

  private val RelTypeMap = Map(
    "one_to_one" -> "one_to_one", "many_to_one" -> "many_to_one",
    "assumed_many_to_one" -> "many_to_one", "one_to_many" -> "one_to_many",
    "many_to_many" -> "many_to_many")

  // ---- public API ----

  /** Parse an Omni project directory (or a single view file). */
  def loadDirectory(dir: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val root = new java.io.File(dir)
    require(root.isDirectory, s"not a directory: $dir")

    def collect(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(collect)
      else Seq(f)

    val all = collect(root).filter(f =>
      f.getName.endsWith(".yaml") || f.getName.endsWith(".yml"))
    def isTopic(f: java.io.File) = {
      val n = f.getName.toLowerCase
      n.endsWith(".topic.yaml") || n.endsWith(".topic.yml")
    }
    def isRelationships(f: java.io.File) =
      Set("relationships.yaml", "relationships.yml")(f.getName.toLowerCase)
    def isModel(f: java.io.File) =
      Set("model.yaml", "model.yml")(f.getName.toLowerCase)

    val viewsDir = new java.io.File(root, "views")
    val viewFiles =
      (if (viewsDir.isDirectory)
         viewsDir.listFiles().sortBy(_.getName).toSeq
           .filter(f => f.getName.endsWith(".yaml") || f.getName.endsWith(".yml"))
       else all)
        .filterNot(f => isTopic(f) || isRelationships(f) || isModel(f))

    var models = viewFiles.flatMap(f => parseView(f, resolve))

    // relationships: bare list file, or nested under model.yaml (older layout)
    val relDefs =
      all.filter(isRelationships).flatMap(f => relList(tree(f))) ++
        all.filter(isModel).flatMap(f =>
          seqOfMaps(mapOf(Some(tree(f))).flatMap(_.get("relationships"))))
    models = attachRelationships(models, relDefs)

    // topics: base view + nested joins → Explore + realized edges
    var topics = Vector.empty[Explore]
    all.filter(isTopic).foreach { f =>
      tree(f) match {
        case m: Map[_, _] =>
          val topic = m.asInstanceOf[Map[String, Any]]
          topic.get("base_view").map(_.toString).foreach { base =>
            val topicName = f.getName.toLowerCase.split("\\.topic\\.")(0)
            if (models.exists(_.name == base))
              topics :+= Explore(name = topicName, model = base,
                label = topic.get("label").flatMap(Option(_)).map(_.toString))
            var edges = Vector.empty[(String, String)]
            def walk(parent: String, joins: Any): Unit = joins match {
              case jm: Map[_, _] =>
                jm.asInstanceOf[Map[String, Any]].foreach { case (child, nested) =>
                  edges :+= (parent -> child); walk(child, nested)
                }
              case _ => ()
            }
            walk(base, topic.getOrElse("joins", Map.empty))
            edges.foreach { case (parent, child) =>
              models = models.map { pm =>
                if (pm.name == parent && !pm.relationships.exists(_.to == child) &&
                    models.exists(_.name == child))
                  pm.copy(relationships = pm.relationships :+
                    Relationship(to = child, relType = "many_to_one",
                      primaryKey = Nil, foreignKey = Nil))
                else pm
              }
            }
          }
        case _ => ()
      }
    }
    Imported(models, topics)
  }

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Option[Model] =
    parseView(new java.io.File(path), resolve)

  // ---- views ----

  private def tree(f: java.io.File): Any = YamlTree.parse(YamlTree.readText(f.getPath))

  private def parseView(f: java.io.File,
      resolve: YamlLoader.TableResolver): Option[Model] = {
    val view = tree(f) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _            => return None
    }
    val schema = view.get("schema").flatMap(Option(_)).map(_.toString)
    val tableName = view.get("table_name").orElse(view.get("table"))
      .flatMap(Option(_)).map(_.toString)
    var table = (schema, tableName) match {
      case (Some(s), Some(t)) => Some(s"$s.$t")
      case (None, Some(t))    => Some(t)
      case _                  => None
    }
    // explicit name wins; schema-scoped views are referenced as
    // schema__table; otherwise the FILE STEM is the identifier topics and
    // relationships point at (ref omni.py:189-208)
    val name = view.get("name").flatMap(Option(_)).map(_.toString).getOrElse {
      (schema, tableName) match {
        case (Some(s), Some(t)) => s"${s}__$t"
        case _ =>
          Seq(".view.yaml", ".view.yml", ".yaml", ".yml")
            .find(f.getName.toLowerCase.endsWith)
            .map(suf => f.getName.substring(0, f.getName.length - suf.length))
            .getOrElse(f.getName)
      }
    }
    val sql = view.get("sql").flatMap(Option(_)).map(_.toString)
    if (sql.isEmpty)
      mapOf(view.get("query")).flatMap(_.get("base_view")).map(_.toString)
        .foreach(b => table = Some(b))

    var primaryKey = "id"
    val dims = mapOf(view.get("dimensions")).getOrElse(Map.empty).toSeq
      .map { case (dn, dd) =>
        val dimDef = mapOf(Some(dd)).getOrElse(Map.empty)
        if (dimDef.get("primary_key").exists(_.toString == "true")) primaryKey = dn
        parseDimension(dn, dimDef)
      }
    val mets = mapOf(view.get("measures")).getOrElse(Map.empty).toSeq
      .map { case (mn, md) => parseMeasure(mn, mapOf(Some(md)).getOrElse(Map.empty)) }

    val source = sql.map(ModelSource.SqlView)
      .getOrElse(resolve(table.getOrElse(name)))
    Some(Model(name = name, source = source, primaryKey = Seq(primaryKey),
      dimensions = dims, metrics = mets))
  }

  private def parseDimension(name: String, d: Map[String, Any]): Dimension = {
    val dimType = DimTypeMap.getOrElse(
      d.get("type").flatMap(Option(_)).map(_.toString).getOrElse("string"),
      DimType.Categorical)
    val sql = d.get("sql").flatMap(Option(_)).map(_.toString).map(simplifyRefs)
    val timeframes = d.get("timeframes").flatMap(Option(_)) match {
      case Some(s: Seq[_]) => s.map(_.toString)
      case Some(other)     => Seq(other.toString)
      case None            => Nil
    }
    val mapped = timeframes.flatMap(TimeframeMap.get).distinct
    Dimension(name = name, dimType = dimType, sql = sql,
      granularity = if (dimType == DimType.Time) mapped.headOption else None,
      supportedGranularities = if (dimType == DimType.Time) mapped else Nil,
      label = d.get("label").flatMap(Option(_)).map(_.toString))
  }

  private def parseMeasure(name: String, m: Map[String, Any]): Metric = {
    val label = m.get("label").flatMap(Option(_)).map(_.toString)
    val filterDefs = mapOf(m.get("filters")).getOrElse(Map.empty)

    // Omni time comparison: a filter with date_offset_from_query +
    // cancel_query_filter offsets the whole query window
    filterDefs.collectFirst {
      case (_, c: Map[_, _])
          if c.asInstanceOf[Map[String, Any]].contains("date_offset_from_query") &&
            c.asInstanceOf[Map[String, Any]].get("cancel_query_filter")
              .exists(_.toString == "true") =>
        c.asInstanceOf[Map[String, Any]]("date_offset_from_query").toString
    } match {
      case Some(offset) =>
        return Metric(name, metricType = Some("time_comparison"),
          baseMetric = Some(baseMetricName(name)),
          comparison = Some(offsetToComparison(offset)),
          calculation = Some("difference"), label = label)
      case None => ()
    }

    val aggType = m.get("aggregate_type").flatMap(Option(_)).map(_.toString).getOrElse("")
    val agg = AggMap.get(aggType)
    val sql = m.get("sql").flatMap(Option(_)).map(_.toString).map(simplifyRefs)
    val filters = filterDefs.toSeq.flatMap {
      case (field, c: Map[_, _]) =>
        c.asInstanceOf[Map[String, Any]].toSeq.flatMap { case (op, v) =>
          renderFilter(field, op, v)
        }
      case _ => Nil
    }
    Metric(name, agg = agg, sql = sql,
      // percentile / *_distinct_on aggregate types have no sound direct
      // aggregation — import as derived rather than mislabel (omni.py:394-400)
      metricType = if (agg.isEmpty && sql.isDefined) Some("derived") else None,
      filters = filters, label = label)
  }

  private def renderFilter(field: String, op: String, value: Any): Option[String] = {
    def quote(v: Any): String = v match {
      case b: java.lang.Boolean => if (b) "TRUE" else "FALSE"
      case n: java.lang.Number  => n.toString
      case other                => s"'$other'"
    }
    op match {
      case "is"                          => Some(s"$field = ${quote(value)}")
      case "is_not" | "not"              => Some(s"$field != ${quote(value)}")
      case "greater_than"                => Some(s"$field > ${quote(value)}")
      case "greater_than_or_equal_to"    => Some(s"$field >= ${quote(value)}")
      case "less_than"                   => Some(s"$field < ${quote(value)}")
      case "less_than_or_equal_to"       => Some(s"$field <= ${quote(value)}")
      case "contains"                    => Some(s"$field LIKE '%$value%'")
      case "starts_with"                 => Some(s"$field LIKE '$value%'")
      case "ends_with"                   => Some(s"$field LIKE '%$value'")
      case "between" =>
        value match {
          case s: Seq[_] if s.length == 2 =>
            Some(s"$field BETWEEN ${quote(s(0))} AND ${quote(s(1))}")
          case _ =>
            graft.load.Fidelity.note("malformed_between_filter",
              s"filter on '$field': between needs exactly two bounds; dropped",
              source = Some("omni"))
            None
        }
      case other =>
        graft.load.Fidelity.note("unsupported_filter_operator",
          s"filter operator '$other' on '$field' has no SQL lowering; dropped",
          source = Some("omni"))
        None
    }
  }

  private def offsetToComparison(offset: String): String = {
    val o = offset.toLowerCase
    if (o.contains("year")) "yoy"
    else if (o.contains("month")) "mom"
    else if (o.contains("week")) "wow"
    else if (o.contains("day")) "dod"
    else if (o.contains("quarter")) "qoq"
    else "prior"
  }

  private val ComparisonSuffixes = Seq(
    "_yoy", "_mom", "_wow", "_dod", "_qoq",
    "_same_time_two_years_previously", "_same_time_one_year_previously",
    "_same_time_last_month", "_same_time_last_week",
    "_previous_period", "_prior_period")

  private def baseMetricName(name: String): String =
    ComparisonSuffixes.find(name.endsWith)
      .map(suf => name.substring(0, name.length - suf.length))
      .getOrElse(name)

  // ---- relationships ----

  private def relList(loaded: Any): Seq[Map[String, Any]] = loaded match {
    case s: Seq[_] => s.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
    case m: Map[_, _] =>
      seqOfMaps(m.asInstanceOf[Map[String, Any]].get("relationships"))
    case _ => Nil
  }

  private def attachRelationships(models: Seq[Model],
      defs: Seq[Map[String, Any]]): Seq[Model] =
    defs.foldLeft(models) { (ms, rd) =>
      val fromView = rd.get("join_from_view").map(_.toString)
      val toView = rd.get("join_to_view").map(_.toString)
      (fromView, toView) match {
        case (Some(from), Some(to)) =>
          val relType = RelTypeMap.getOrElse(
            rd.getOrElse("relationship_type", "many_to_one").toString, "many_to_one")
          val (fk, pk) = keysFromOnSql(
            rd.get("on_sql").map(_.toString).getOrElse(""), from, to, relType)
          ms.map(m => if (m.name == from)
            m.copy(relationships = m.relationships :+ Relationship(
              to = to, relType = relType,
              foreignKey = fk.toSeq, primaryKey = pk.toSeq)) else m)
        case _ => ms
      }
    }

  /** `${from.col} = ${to.col}` → (fk, pk); one_to_many/one_to_one swap
    * sides because the related view holds the FK (ref omni.py:621-654). */
  private def keysFromOnSql(onSql: String, fromView: String, toView: String,
      relType: String): (Option[String], Option[String]) = {
    val refs = raw"\$$\{([^.}]+)\.([^}]+)\}".r.findAllMatchIn(onSql).toSeq
    val fromCol = refs.find(_.group(1) == fromView).map(_.group(2))
    val toCol = refs.find(_.group(1) == toView).map(_.group(2))
    if (relType == "one_to_many" || relType == "one_to_one") (toCol, fromCol)
    else (fromCol, toCol)
  }

  /** `${TABLE}.col` and `${view.col}` both simplify to the bare column —
    * dimension/measure SQL evaluates inside the owning model's scope. */
  private def simplifyRefs(sql: String): String =
    raw"\$$\{[^.}]+\.([^}]+)\}".r.replaceAllIn(
      sql.replace("${TABLE}.", ""), m => m.group(1))
}
