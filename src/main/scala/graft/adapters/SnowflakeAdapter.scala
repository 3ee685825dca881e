package graft.adapters

import graft.load.{AggExtract, Fidelity, YamlLoader, YamlTree}
import graft.load.YamlTree.{seqOfMaps, strList}
import graft.model._

/** Importer for Snowflake Cortex Analyst semantic models (reference:
  * sidemantic/adapters/snowflake.py; fixture corpus
  * tests/fixtures/snowflake/).
  *
  * One YAML file declares a whole semantic model:
  *   - `tables:` each with `base_table` (database.schema.table — the
  *     bare table name feeds the resolver), `dimensions`,
  *     `time_dimensions` (granularity from `data_type`), and
  *     `primary_key.columns`
  *   - `measures` / `facts` are row-level exprs with a
  *     `default_aggregation` (sum when omitted) — `revenue - cogs`
  *     stays a row-level expression under its aggregation
  *   - table-scoped `metrics` already contain aggregations: a lone
  *     aggregate imports natively via [[AggExtract]]; composite
  *     formulas decompose into hidden measures + a derived metric
  *     (same path as the Rill importer)
  *   - `filters` → segments; `access_modifier: private_access` →
  *     non-public fields
  *   - top-level `relationships` attach many_to_one/one_to_one edges to
  *     their left table on the declared column pairs
  *   - top-level `metrics` (graph-level, `model.field` refs) import as
  *     graph metrics
  * Cortex-specific retrieval metadata (synonyms, sample values, search
  * services, verified queries) has no engine-side equivalent and is
  * dropped, like the reference's metadata passthrough.
  */
object SnowflakeAdapter {

  final case class Imported(models: Seq[Model], graphMetrics: Seq[Metric])

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported =
    loadString(YamlTree.readText(path), resolve)

  def loadString(yaml: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val root = Option(YamlTree.parse(yaml)).map(_.asInstanceOf[Map[String, Any]])
      .getOrElse(return Imported(Nil, Nil))

    // Cortex retrieval surfaces (search services, verified queries,
    // instructions) steer the NL layer, not query execution
    Seq("cortex_search_services", "verified_queries", "custom_instructions",
        "module_custom_instructions")
      .filter(root.contains).foreach(k =>
        Fidelity.note("cortex_retrieval_metadata",
          s"'$k' configures Cortex Analyst retrieval, not the semantic " +
            "model; not imported",
          severity = "unsupported", source = Some("snowflake"),
          location = Some(k)))

    var models = seqOfMaps(root.get("tables")).zipWithIndex
      .flatMap { case (t, i) => parseTable(t, resolve, s"tables[$i]") }

    // relationships attach to their left table
    seqOfMaps(root.get("relationships")).zipWithIndex.foreach { case (r, ri) =>
      val rloc = s"relationships[$ri]"
      val left = r.get("left_table").map(_.toString)
      val right = r.get("right_table").map(_.toString)
      val cols = seqOfMaps(r.get("relationship_columns"))
      val fks = cols.flatMap(_.get("left_column").map(_.toString))
      val pks = cols.flatMap(_.get("right_column").map(_.toString))
      val relType = r.get("relationship_type").map(_.toString) match {
        case Some("one_to_one") => "one_to_one"
        case _                  => "many_to_one"
      }
      if (left.isEmpty || right.isEmpty || fks.isEmpty)
        Fidelity.note("incomplete_relationship",
          s"relationship '${r.getOrElse("name", "?")}' lacks " +
            "left_table/right_table/relationship_columns; edge dropped",
          source = Some("snowflake"), location = Some(rloc))
      for (l <- left; rt <- right if fks.nonEmpty) {
        if (!models.exists(_.name == l))
          Fidelity.note("unknown_relationship_table",
            s"relationship left_table '$l' is not a declared table; " +
              "edge dropped",
            source = Some("snowflake"), location = Some(rloc))
        models = models.map(m =>
          if (m.name == l)
            m.copy(relationships = m.relationships :+
              Relationship(rt, relType, foreignKey = fks, primaryKey = pks))
          else m)
      }
    }

    // top-level metrics are graph-level: expressions already reference
    // model.field — import as-is (lone aggregates still lower natively)
    val graph = seqOfMaps(root.get("metrics")).flatMap { md =>
      md.get("name").map(_.toString).map { n =>
        val expr = md.getOrElse("expr", "").toString
        AggExtract.parse(expr) match {
          case Some(x) => Metric(n, agg = Some(x.agg), sql = x.inner,
            filters = x.filter.toSeq)
          case None => Metric(n, metricType = Some("derived"), sql = Some(expr))
        }
      }
    }
    Imported(models, graph)
  }

  // ------------------------------------------------------------------

  private def parseTable(t: Map[String, Any],
      resolve: YamlLoader.TableResolver, loc: String): Option[Model] = {
    val name = t.get("name").map(_.toString).getOrElse {
      Fidelity.note("table_without_name",
        "table entry has no name; table dropped",
        source = Some("snowflake"), location = Some(loc))
      return None
    }
    val baseTable = t.get("base_table") match {
      case Some(bt: Map[_, _]) =>
        bt.asInstanceOf[Map[String, Any]].get("table").map(_.toString).getOrElse(name)
      case _ => name
    }
    val dims =
      seqOfMaps(t.get("dimensions")).flatMap(parseDim(_, time = false)) ++
        seqOfMaps(t.get("time_dimensions")).flatMap(parseDim(_, time = true))

    // measures + facts: row-level exprs under a default aggregation
    val measureMetrics =
      (seqOfMaps(t.get("measures")) ++ seqOfMaps(t.get("facts"))).flatMap { m =>
        m.get("name").map(_.toString).map { n =>
          Metric(n,
            agg = Some(aggOf(m.get("default_aggregation"),
              s"measure '$n' on table '$name'", loc)),
            sql = m.get("expr").map(_.toString),
            public = isPublic(m))
        }
      }
    // table-scoped metrics: aggregate-bearing expressions
    val scopedMetrics = seqOfMaps(t.get("metrics")).flatMap { m =>
      m.get("name").map(_.toString).toSeq.flatMap { n =>
        val expr = m.getOrElse("expr", "").toString
        AggExtract.parse(expr) match {
          case Some(x) => Seq(Metric(n, agg = Some(x.agg), sql = x.inner,
            filters = x.filter.toSeq, public = isPublic(m)))
          case None => RillAdapter.expressionToMetrics(n, expr, None)
        }
      }
    }
    val segments = seqOfMaps(t.get("filters")).flatMap { f =>
      for (n <- f.get("name").map(_.toString); e <- f.get("expr").map(_.toString))
        yield Segment(n, e, public = isPublic(f))
    }
    val pk = t.get("primary_key") match {
      case Some(p: Map[_, _]) =>
        strList(p.asInstanceOf[Map[String, Any]].get("columns"))
      case _ => Nil
    }

    Some(Model(
      name = name,
      source = resolve(baseTable),
      primaryKey = pk,
      dimensions = dims,
      metrics = measureMetrics ++ scopedMetrics,
      segments = segments,
      defaultTimeDimension = seqOfMaps(t.get("time_dimensions")).headOption
        .flatMap(_.get("name")).map(_.toString)))
  }

  private def parseDim(d: Map[String, Any], time: Boolean): Option[Dimension] = {
    val name = d.get("name").map(_.toString).getOrElse {
      Fidelity.note("dimension_without_name",
        "dimension entry has no name; dimension dropped",
        source = Some("snowflake"))
      return None
    }
    val dataType = d.get("data_type").map(_.toString.toLowerCase).getOrElse("")
    val (dimType, grain) =
      if (time || Set("date", "datetime", "timestamp", "timestamp_ntz",
          "timestamp_tz", "timestamp_ltz").contains(dataType))
        (DimType.Time, Some(if (dataType == "date") "day" else "second"))
      else if (dataType == "boolean") (DimType.Bool, None)
      else if (Set("number", "int", "integer", "float", "decimal")
          .contains(dataType)) (DimType.Numeric, None)
      else (DimType.Categorical, None)
    Some(Dimension(name, dimType,
      sql = d.get("expr").map(_.toString).filter(_ != name),
      granularity = grain,
      public = isPublic(d)))
  }

  private def aggOf(v: Option[Any], what: String, loc: String): String =
    v.map(_.toString.toLowerCase).getOrElse("sum") match {
      case "average"        => "avg"
      case "count_distinct" => "count_distinct"
      case a if Set("sum", "avg", "count", "min", "max", "median")(a) => a
      case other =>
        Fidelity.note("unsupported_aggregation",
          s"$what declares default_aggregation '$other' with no engine " +
            "aggregate; imported as sum",
          severity = "approximated", source = Some("snowflake"),
          location = Some(loc))
        "sum"
    }

  private def isPublic(m: Map[String, Any]): Boolean =
    !m.get("access_modifier").map(_.toString).contains("private_access")
}
