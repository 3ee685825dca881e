package graft.adapters

import graft.load.{YamlLoader, YamlTree}
import graft.load.YamlTree.{seqOfMaps, strList}
import graft.model._

/** Importer for AtScale SML repositories (reference:
  * sidemantic/adapters/atscale_sml.py; fixtures
  * tests/fixtures/atscale_sml/ and atscale_sml_kitchen_sink/).
  *
  * An SML repo is a directory of single-object YAML files keyed by
  * `object_type`:
  *   - `dataset` → a model over `table` (column data types inform
  *     dimension typing)
  *   - `dimension` → `level_attributes` become dimensions on the
  *     dataset they name (`name_column` as the SQL, `time_unit` or a
  *     date-typed column → time dimension); hierarchy level order gives
  *     the drill parent chain (coarsest first); metrical attributes
  *     embedded in hierarchy levels become metrics on their dataset
  *   - `metric` → an aggregation on its dataset via the
  *     calculation_method map (`count non-null` → count, `estimated
  *     count distinct` → count_distinct, stddev/var pop/samp variants,
  *     `percentile` + named/custom quantiles → median or a raw
  *     percentile expression, `sum distinct` → raw SUM(DISTINCT …))
  *   - `metric_calc` → a graph-level derived metric; MDX-style
  *     `[Measures].[name]` references qualify to `owner.name`
  *   - `model` → relationships: `from.dataset` + `join_columns` to the
  *     target dimension's level attribute (its dataset + key_columns)
  *   - catalog / connection / package / row_security / perspective
  *     objects don't affect the executable model and are skipped
  */
object AtScaleSmlAdapter {

  final case class Imported(models: Seq[Model], graphMetrics: Seq[Metric])

  def loadDirectory(dir: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && (f.getName.endsWith(".yml") || f.getName.endsWith(".yaml")))
      .sortBy(_.getName)
    load(files.toSeq.map(f => YamlTree.readText(f.getPath)), resolve)
  }

  def load(yamls: Seq[String],
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val objects = yamls.flatMap(y => YamlTree.mapOf(Option(YamlTree.parse(y))))
    def ofType(t: String) = objects.filter(_.get("object_type").map(_.toString).contains(t))

    // datasets → base models; remember column types for dimension typing
    var colTypes = Map.empty[(String, String), String] // (dataset, column) → type
    var models: Seq[Model] = ofType("dataset").flatMap { d =>
      d.get("unique_name").map(_.toString).map { n =>
        seqOfMaps(d.get("columns")).foreach { c =>
          for (cn <- c.get("name"); ct <- c.get("data_type"))
            colTypes += ((n, cn.toString) -> ct.toString.toLowerCase)
        }
        Model(name = n,
          source = resolve(d.get("table").map(_.toString).getOrElse(n)))
      }
    }
    def withDataset(ds: String)(f: Model => Model): Unit =
      models = models.map(m => if (m.name == ds) f(m) else m)

    // level_attribute unique_name → (dataset, key_columns) for joins
    var levelKey = Map.empty[String, (String, Seq[String])]
    // dimension unique_name → its level map
    var dimLevels = Map.empty[String, Map[String, (String, Seq[String])]]

    ofType("dimension").foreach { dim =>
      val dimName = dim.get("unique_name").map(_.toString).getOrElse("")
      val isTimeDim = dim.get("type").map(_.toString).contains("time")
      // hierarchy order → parent chain (coarsest first)
      val levelOrder = seqOfMaps(dim.get("hierarchies")).flatMap(h =>
        seqOfMaps(h.get("levels")).flatMap(_.get("unique_name")).map(_.toString))
      val parentOf: Map[String, String] =
        levelOrder.zip(levelOrder.drop(1)).map { case (p, c) => c -> p }.toMap

      var myLevels = Map.empty[String, (String, Seq[String])]
      seqOfMaps(dim.get("level_attributes")).foreach { la =>
        for (n <- la.get("unique_name").map(_.toString);
             ds <- la.get("dataset").map(_.toString)) {
          val nameCol = la.get("name_column").map(_.toString).getOrElse(n)
          val keys = strList(la.get("key_columns"))
          levelKey += (n -> (ds, if (keys.nonEmpty) keys else Seq(nameCol)))
          myLevels += (n -> (ds, if (keys.nonEmpty) keys else Seq(nameCol)))
          val colType = colTypes.getOrElse((ds, nameCol), "")
          val timeUnit = la.get("time_unit").map(_.toString)
          val isTime = timeUnit.isDefined || isTimeDim ||
            colType.contains("date") || colType.contains("time")
          val dimType =
            if (isTime) DimType.Time
            else if (colType == "boolean") DimType.Bool
            else if (Set("int", "integer", "long", "bigint", "tinyint",
                "float", "double").contains(colType) ||
                colType.startsWith("decimal") || colType.startsWith("numeric"))
              DimType.Numeric
            else DimType.Categorical
          withDataset(ds)(m => m.copy(dimensions = m.dimensions :+
            Dimension(n, dimType,
              sql = Some(nameCol).filter(_ != n),
              granularity = if (isTime) Some(timeUnit.getOrElse("day")) else None,
              label = la.get("label").map(_.toString),
              parent = parentOf.get(n))))
        }
      }
      if (dimName.nonEmpty) dimLevels += (dimName -> myLevels)

      // metrical attributes embedded in hierarchy levels
      seqOfMaps(dim.get("hierarchies")).foreach(h =>
        seqOfMaps(h.get("levels")).foreach(l =>
          seqOfMaps(l.get("metrics")).foreach { met =>
            for (mn <- met.get("unique_name").map(_.toString);
                 ds <- met.get("dataset").map(_.toString);
                 metric <- metricFrom(mn, met))
              withDataset(ds)(m => m.copy(metrics = m.metrics :+ metric))
          }))

      // dimension-to-dimension relationships
      seqOfMaps(dim.get("relationships")).foreach(attachRelationship(_, withDataset))
    }

    // metric objects
    ofType("metric").foreach { md =>
      for (n <- md.get("unique_name").map(_.toString);
           ds <- md.get("dataset").map(_.toString);
           metric <- metricFrom(n, md))
        withDataset(ds)(m => m.copy(metrics = m.metrics :+ metric))
    }

    // model objects: fact-to-dimension relationships
    ofType("model").foreach { mo =>
      seqOfMaps(mo.get("relationships")).foreach(attachRelationship(_, withDataset))
    }

    // resolve dimension-targeted relationships now that levels are known
    models = models.map { m =>
      m.copy(relationships = m.relationships.flatMap { r =>
        if (!r.to.startsWith("__dim:")) Some(r)
        else {
          val Array(_, dimName, level) = r.to.split(":", 3)
          dimLevels.get(dimName).flatMap(_.get(level)).map { case (ds, keys) =>
            r.copy(to = ds, primaryKey = keys)
          }
        }
      }.filter(r => r.to != m.name)) // self-joins from shared-dataset levels
    }

    // metric_calc → graph derived with [Measures].[x] qualified
    val owner: Map[String, String] = models.flatMap(m =>
      m.metrics.map(_.name -> m.name)).toMap
    val mdxRef = raw"\[Measures\]\.\[([^\]]+)\]".r
    val graph = ofType("metric_calc").flatMap { md =>
      for (n <- md.get("unique_name").map(_.toString);
           e <- md.get("expression").map(_.toString)) yield {
        val sql = mdxRef.replaceAllIn(e, m => {
          val ref = m.group(1)
          java.util.regex.Matcher.quoteReplacement(
            owner.get(ref).map(o => s"$o.$ref").getOrElse(ref))
        })
        Metric(n, metricType = Some("derived"), sql = Some(sql),
          label = md.get("label").map(_.toString))
      }
    }
    Imported(models.filter(m => m.dimensions.nonEmpty || m.metrics.nonEmpty ||
      models.exists(_.relationships.exists(_.to == m.name))), graph)
  }

  // ------------------------------------------------------------------

  /** Relationship: from.dataset + join_columns → to.dimension level
    * (resolved to its dataset later) or to.row_security (skipped). */
  private def attachRelationship(r: Map[String, Any],
      withDataset: String => (Model => Model) => Unit): Unit = {
    val from = r.get("from").collect { case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]] }.getOrElse(return)
    val to = r.get("to").collect { case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]] }.getOrElse(return)
    if (to.contains("row_security")) return
    for (ds <- from.get("dataset").map(_.toString);
         dimName <- to.get("dimension").map(_.toString);
         level <- to.get("level").map(_.toString)) {
      val fks = strList(from.get("join_columns"))
      if (fks.nonEmpty)
        withDataset(ds)(m => m.copy(relationships = m.relationships :+
          Relationship(s"__dim:$dimName:$level", "many_to_one",
            foreignKey = fks)))
    }
  }

  /** calculation_method (+ quantile fields) → a Metric. */
  private def metricFrom(name: String, md: Map[String, Any]): Option[Metric] = {
    val method = md.get("calculation_method").map(_.toString.trim.toLowerCase
      .split(raw"\s+").mkString(" ")).getOrElse(return None)
    val column = md.get("column").map(_.toString)
    val label = md.get("label").map(_.toString)
    val aggMap = Map(
      "sum" -> "sum", "average" -> "avg", "minimum" -> "min",
      "maximum" -> "max", "count distinct" -> "count_distinct",
      "count non-null" -> "count", "estimated count distinct" -> "approx_count_distinct",
      "stddev_pop" -> "stddev_pop", "stddev_samp" -> "stddev",
      "var_pop" -> "variance_pop", "var_samp" -> "variance")
    method match {
      case m if aggMap.contains(m) =>
        Some(Metric(name, agg = Some(aggMap(m)), sql = column, label = label))
      case "sum distinct" =>
        column.map(c => Metric(name, metricType = Some("derived"),
          sql = Some(s"SUM(DISTINCT $c)"), label = label))
      case "percentile" =>
        val q: Option[Double] = seqOfMaps(md.get("custom_quantiles")).headOption
          .flatMap(_.get("quantile")).map(_.toString.toDouble)
          .orElse(md.get("custom_quantiles").collect {
            case l: Seq[_] if l.nonEmpty && !l.head.isInstanceOf[Map[_, _]] =>
              l.head.toString.toDouble })
          .orElse(md.get("named_quantiles").map(_.toString.toLowerCase).collect {
            case "median" => 0.5
            case s if s.startsWith("p") && s.drop(1).forall(_.isDigit) =>
              s.drop(1).toDouble / 100.0
          })
        (q, column) match {
          case (Some(0.5), Some(c)) =>
            Some(Metric(name, agg = Some("median"), sql = Some(c), label = label))
          case (Some(p), Some(c)) =>
            Some(Metric(name, metricType = Some("derived"),
              sql = Some(s"percentile($c, $p)"), label = label))
          case _ =>
            graft.load.Fidelity.note("percentile_without_quantile",
              s"metric '$name' declares percentile without a resolvable " +
                "quantile/column; dropped", source = Some("atscale"))
            None
        }
      case other =>
        graft.load.Fidelity.note("unsupported_calculation_method",
          s"metric '$name' calculation_method '$other' has no lowering; dropped",
          source = Some("atscale"))
        None
    }
  }
}
