package graft.adapters

import graft.load.{YamlLoader, YamlTree}
import graft.load.YamlTree.seqOfMaps
import graft.model._

/** Importer for Superset dataset YAML exports (reference:
  * sidemantic/adapters/superset.py; fixtures tests/fixtures/superset/).
  * One dataset = one model over `table_name` (or a virtual `sql`):
  *
  *   - columns → dimensions: `is_dttm`/`main_dttm_col` → time (DATE types
  *     day grain, else hour), INT/NUMERIC/FLOAT/DOUBLE → numeric, BOOL →
  *     boolean; `expression` overrides the physical column
  *   - metrics → aggregates: `metric_type` maps 1:1 and the inner
  *     expression unwraps from `AGG(inner)`; when metric_type is absent
  *     the aggregation is recovered from the expression itself
  *     (COUNT(*), COUNT(DISTINCT x), SUM/AVG/MIN/MAX(x)); anything else
  *     has no executable mapping here and is dropped
  *
  * Superset datasets are single-table — there are no joins to import;
  * folders/d3format/currency are display metadata and are not modeled.
  */
object SupersetAdapter {

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Model =
    parse(YamlTree.readText(path), resolve)

  def loadDirectory(dir: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver,
      dataDir: String = ""): Catalog = {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".yml") || f.getName.endsWith(".yaml"))
      .sortBy(_.getName)
    files.foldLeft(Catalog(dataDir = dataDir)) { (cat, f) =>
      cat.add(loadFile(f.getPath, resolve))
    }
  }

  def parse(yaml: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Model = {
    val m = YamlTree.parse(yaml).asInstanceOf[Map[String, Any]]
    val name = m("table_name").toString
    val source = m.get("sql").flatMap(Option(_)) match {
      case Some(sql) => ModelSource.SqlView(sql.toString)
      case None      => resolve(name)
    }
    val mainDttm = m.get("main_dttm_col").flatMap(Option(_)).map(_.toString)
    Model(
      name = name,
      source = source,
      dimensions = seqOfMaps(m.get("columns"))
        .flatMap(parseColumn(_, mainDttm)),
      metrics = seqOfMaps(m.get("metrics")).flatMap(parseMetric),
      defaultTimeDimension = mainDttm)
  }

  private def parseColumn(c: Map[String, Any],
      mainDttm: Option[String]): Option[Dimension] = {
    val name = c.get("column_name").map(_.toString).getOrElse(return None)
    val sqlType = c.get("type").flatMap(Option(_)).map(_.toString).getOrElse("")
    val isDttm = c.get("is_dttm").flatMap(Option(_)).exists(_.toString.toBoolean) ||
      mainDttm.contains(name)
    val (dimType, grain) =
      if (isDttm)
        (DimType.Time,
          Some(if (sqlType.contains("DATE") && !sqlType.contains("TIME")) "day"
               else "hour"))
      else if (Seq("INT", "NUMERIC", "FLOAT", "DOUBLE").exists(sqlType.contains))
        (DimType.Numeric, None)
      else if (sqlType.contains("BOOL")) (DimType.Bool, None)
      else (DimType.Categorical, None)
    Some(Dimension(
      name = name,
      dimType = dimType,
      sql = c.get("expression").flatMap(Option(_)).map(_.toString),
      granularity = grain,
      label = c.get("verbose_name").flatMap(Option(_)).map(_.toString),
      public = c.get("is_active").flatMap(Option(_)).forall(_.toString != "false")))
  }

  private val AggRe =
    raw"(?is)^\s*(COUNT|SUM|AVG|MIN|MAX)\s*\(\s*(DISTINCT\s+)?(.*?)\s*\)\s*$$".r

  private def parseMetric(mm: Map[String, Any]): Option[Metric] = {
    val name = mm.get("metric_name").map(_.toString).getOrElse(return None)
    val declared = mm.get("metric_type").flatMap(Option(_)).map(_.toString)
      .filter(Set("count", "count_distinct", "sum", "avg", "min", "max"))
    val expression = mm.get("expression").flatMap(Option(_)).map(_.toString)
    val label = mm.get("verbose_name").flatMap(Option(_)).map(_.toString)
    // recover (agg, inner) from the expression; the declared type wins on
    // the aggregation name when both are present
    val recovered = expression.collect {
      case AggRe(fn, distinct, inner) =>
        val agg =
          if (fn.equalsIgnoreCase("count") && distinct != null) "count_distinct"
          else fn.toLowerCase
        (agg, if (inner.trim == "*") None else Some(inner.trim))
    }
    (declared, recovered) match {
      case (Some(agg), Some((_, inner))) =>
        Some(Metric(name, agg = Some(agg), sql = inner, label = label))
      case (Some(agg), None) =>
        // declared aggregation over a raw expression
        Some(Metric(name, agg = Some(agg), sql = expression, label = label))
      case (None, Some((agg, inner))) =>
        Some(Metric(name, agg = Some(agg), sql = inner, label = label))
      case (None, None) =>
        graft.load.Fidelity.note("unmapped_metric_expression",
          s"metric '$name' has neither a supported metric_type nor a " +
            "recoverable aggregate expression; dropped",
          severity = "unsupported", source = Some("superset"))
        None
    }
  }
}
