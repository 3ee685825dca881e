package graft.adapters

import graft.load.{Fidelity, YamlLoader, YamlTree}
import graft.load.YamlTree.{mapOf, seqOfMaps, strList}
import graft.model._

/** Importer for GoodData logical data models (reference:
  * sidemantic/adapters/gooddata.py; fixtures tests/fixtures/gooddata/ —
  * JSON parsed via SnakeYAML, same as the OSI JSON form).
  *
  * Two payload dialects:
  *   - cloud / SDK declarative (`ldm.datasets`): attributes →
  *     dimensions (sourceColumn + sourceColumnDataType typing, first
  *     label as fallback), facts → metrics (numeric facts default to
  *     sum, like the reference's aggregation inference), aggregatedFacts
  *     → the sourceFactReference operation, `grain` → primary key,
  *     `references` → many_to_one edges over source column / target
  *     attribute pairs, `dataSourceTableId` → the physical table
  *   - legacy (`projectModel.datasets[].dataset`): dataset-level
  *     `labels` carry the source columns; `anchor` is the primary key;
  *     `references` name target datasets. Identifiers are dotted
  *     (`dataset.orders`, `attr.orders.status`) — the engine uses the
  *     last segment since dots delimit model.field references here
  *     (divergence from the reference, which keeps full ids as opaque
  *     names)
  *
  * Analytics payloads (dashboards, MAQL metrics) are out of scope, as
  * in the reference adapter — only the LDM is executable.
  */
object GoodDataAdapter {

  final case class Imported(models: Seq[Model])

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported =
    loadString(YamlTree.readText(path), resolve)

  def loadString(text: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val root = mapOf(Option(YamlTree.parse(text))).getOrElse(return Imported(Nil))
    // analytics payloads (dashboards, MAQL metrics) are declarative UI
    // state, not an executable LDM — only the LDM is imported
    if (root.contains("analytics"))
      Fidelity.note("analytics_payload",
        "analytics section (dashboards / MAQL metrics) is not part of the " +
          "logical data model; not imported",
        severity = "unsupported", source = Some("gooddata"),
        location = Some("analytics"))
    root.get("ldm") match {
      case Some(ldm: Map[_, _]) =>
        Imported(seqOfMaps(ldm.asInstanceOf[Map[String, Any]].get("datasets"))
          .zipWithIndex.flatMap { case (d, i) =>
            cloudDataset(d, resolve, s"ldm.datasets[$i]") })
      case _ => root.get("projectModel") match {
        case Some(pm: Map[_, _]) =>
          Imported(seqOfMaps(pm.asInstanceOf[Map[String, Any]].get("datasets"))
            .zipWithIndex.flatMap { case (d, i) =>
              legacyDataset(d, resolve, s"projectModel.datasets[$i]") })
        case _ =>
          if (!root.contains("analytics"))
            Fidelity.note("unrecognized_payload",
              "document has neither an 'ldm' nor a 'projectModel' section; " +
                "nothing imported",
              severity = "unsupported", source = Some("gooddata"))
          Imported(Nil)
      }
    }
  }

  // ------------------------------------------------------------------
  // cloud / SDK declarative LDM
  // ------------------------------------------------------------------

  private def cloudDataset(d0: Map[String, Any],
      resolve: YamlLoader.TableResolver, loc: String): Option[Model] = {
    val d = unwrap(d0, "dataset")
    val id = d.get("id").orElse(d.get("identifier")).map(_.toString)
      .getOrElse {
        Fidelity.note("dataset_without_id",
          "dataset entry has no id/identifier; dataset dropped",
          source = Some("gooddata"), location = Some(loc))
        return None
      }
    val table = d.get("dataSourceTableId") match {
      case Some(t: Map[_, _]) =>
        val tm = t.asInstanceOf[Map[String, Any]]
        strList(tm.get("path")).lastOption
          .orElse(tm.get("id").map(_.toString)).getOrElse(id)
      case _ => id
    }

    // attribute id → source column, for grain/reference resolution
    var attrCol = Map.empty[String, String]
    val dims = seqOfMaps(d.get("attributes")).zipWithIndex.flatMap { case (a0, ai) =>
      val a = unwrap(a0, "attribute")
      val aidOpt = a.get("id").orElse(a.get("identifier")).map(_.toString)
      if (aidOpt.isEmpty)
        Fidelity.note("attribute_without_id",
          s"attribute entry on dataset '$id' has no id; dimension dropped",
          source = Some("gooddata"), location = Some(s"$loc.attributes[$ai]"))
      aidOpt.map { aid =>
        val label = seqOfMaps(a.get("labels")).headOption
        val col = a.get("sourceColumn").orElse(
          label.flatMap(_.get("sourceColumn"))).map(_.toString).getOrElse(aid)
        val dt = a.get("sourceColumnDataType").orElse(a.get("dataType"))
          .map(_.toString.toUpperCase).getOrElse("")
        attrCol += (aid -> col)
        val name = shortName(aid)
        Dimension(name, dimTypeOf(dt),
          sql = Some(col).filter(_ != name),
          granularity = if (dt.contains("DATE") || dt.contains("TIMESTAMP"))
            Some(if (dt == "DATE") "day" else "second") else None,
          label = a.get("title").map(_.toString))
      }
    }

    val mets =
      seqOfMaps(d.get("facts")).zipWithIndex.flatMap { case (f0, fi) =>
        val f = unwrap(f0, "fact")
        val fidOpt = f.get("id").orElse(f.get("identifier")).map(_.toString)
        if (fidOpt.isEmpty)
          Fidelity.note("fact_without_id",
            s"fact entry on dataset '$id' has no id; metric dropped",
            source = Some("gooddata"), location = Some(s"$loc.facts[$fi]"))
        fidOpt.map { fid =>
          val col = f.get("sourceColumn").map(_.toString).getOrElse(fid)
          Metric(shortName(fid),
            agg = Some(aggOf(f.get("aggregation"), "sum",
              s"fact '$fid'", s"$loc.facts[$fi]")),
            sql = Some(col), label = f.get("title").map(_.toString))
        }
      } ++
      seqOfMaps(d.get("aggregatedFacts")).zipWithIndex.flatMap { case (f0, fi) =>
        val f = unwrap(f0, "aggregatedFact")
        f.get("id").orElse(f.get("identifier")).map(_.toString).map { fid =>
          val col = f.get("sourceColumn").map(_.toString).getOrElse(fid)
          val op = f.get("sourceFactReference") match {
            case Some(r: Map[_, _]) =>
              r.asInstanceOf[Map[String, Any]].get("operation")
            case _ => None
          }
          Metric(shortName(fid),
            agg = Some(aggOf(op, "sum",
              s"aggregatedFact '$fid'", s"$loc.aggregatedFacts[$fi]")),
            sql = Some(col), label = f.get("title").map(_.toString))
        }
      }

    val pk = seqOfMaps(d.get("grain")).flatMap(g =>
      g.get("id").map(_.toString)).map(id => attrCol.getOrElse(id, id))

    val rels = seqOfMaps(d.get("references")).flatMap { r =>
      val target = r.get("identifier") match {
        case Some(t: Map[_, _]) =>
          t.asInstanceOf[Map[String, Any]].get("id").map(_.toString)
        case Some(s) => Some(s.toString)
        case None    => None
      }
      target.map { t =>
        val srcs = seqOfMaps(r.get("sources"))
        val fks = srcs.flatMap(_.get("column").map(_.toString))
        val pks = srcs.flatMap(_.get("target").collect {
          case tm: Map[_, _] => tm.asInstanceOf[Map[String, Any]]
            .get("id").map(_.toString) }.flatten)
        Relationship(shortName(t), "many_to_one",
          foreignKey = if (fks.nonEmpty) fks else Seq(s"${shortName(t)}_id"),
          primaryKey = pks)
      }
    }

    Some(Model(name = shortName(id), source = resolve(table),
      primaryKey = pk, dimensions = dims, metrics = mets,
      relationships = rels))
  }

  // ------------------------------------------------------------------
  // legacy projectModel
  // ------------------------------------------------------------------

  private def legacyDataset(d0: Map[String, Any],
      resolve: YamlLoader.TableResolver, loc: String): Option[Model] = {
    val d = unwrap(d0, "dataset")
    val id = d.get("identifier").orElse(d.get("id")).map(_.toString)
      .getOrElse {
        Fidelity.note("dataset_without_id",
          "dataset entry has no identifier; dataset dropped",
          source = Some("gooddata"), location = Some(loc))
        return None
      }
    // dataset-level labels carry source columns
    val labelMap: Map[String, Map[String, Any]] =
      seqOfMaps(d.get("labels")).map(unwrap(_, "label")).flatMap(l =>
        l.get("identifier").map(_.toString).map(_ -> l)).toMap

    def attrDim(a0: Map[String, Any]): Option[Dimension] = {
      val a = unwrap(a0, "attribute")
      a.get("identifier").orElse(a.get("id")).map(_.toString).map { aid =>
        val label = strList(a.get("labels")).headOption.flatMap(labelMap.get)
        val col = label.flatMap(_.get("sourceColumn")).map(_.toString)
        val dt = label.flatMap(_.get("dataType")).map(_.toString.toUpperCase)
          .getOrElse("")
        val name = shortName(aid)
        Dimension(name, dimTypeOf(dt), sql = col.filter(_ != name),
          label = a.get("title").map(_.toString))
      }
    }

    val anchor = d.get("anchor").collect { case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]] }.flatMap(attrDim)
    val dims = anchor.toSeq ++
      seqOfMaps(d.get("attributes")).flatMap(attrDim)
        .filterNot(x => anchor.exists(_.name == x.name))

    val mets = seqOfMaps(d.get("facts")).map(unwrap(_, "fact")).flatMap { f =>
      f.get("identifier").orElse(f.get("id")).map(_.toString).map { fid =>
        Metric(shortName(fid), agg = Some("sum"),
          sql = f.get("sourceColumn").map(_.toString)
            .orElse(Some(shortName(fid))),
          label = f.get("title").map(_.toString))
      }
    }

    val refs = d.get("references") match {
      case Some(l: Seq[_]) => l.map(_.toString)
      case _               => Nil
    }
    refs.filterNot(_.startsWith("dataset.")).foreach(ref =>
      Fidelity.note("non_dataset_reference",
        s"dataset '$id' references '$ref' which is not a dataset " +
          "(date dimensions import as plain time columns); edge dropped",
        source = Some("gooddata"), location = Some(s"$loc.references")))
    val rels = refs.filter(_.startsWith("dataset.")).map { ref =>
      val t = shortName(ref)
      Relationship(t, "many_to_one", foreignKey = Seq(s"${t}_id"))
    }

    Some(Model(name = shortName(id),
      source = resolve(d.get("table").map(_.toString).getOrElse(shortName(id))),
      primaryKey = anchor.map(a => a.sql.getOrElse(a.name)).toSeq,
      dimensions = dims, metrics = mets, relationships = rels))
  }

  // ------------------------------------------------------------------

  /** `dataset.orders` / `attr.orders.status` → last dotted segment. */
  private def shortName(id: String): String = id.split('.').last

  private def dimTypeOf(dt: String): DimType =
    if (dt.contains("DATE") || dt.contains("TIMESTAMP")) DimType.Time
    else if (Set("NUMERIC", "INT", "INTEGER", "DECIMAL").exists(dt.startsWith))
      DimType.Numeric
    else if (dt == "BOOLEAN") DimType.Bool
    else DimType.Categorical

  private def aggOf(v: Option[Any], default: String,
      what: String, loc: String): String =
    v.map(_.toString.toLowerCase.replace(' ', '_')).getOrElse(default) match {
      case "average"                       => "avg"
      case a if graft.model.AggKind.All(a) => a
      case other =>
        Fidelity.note("unsupported_aggregation",
          s"$what declares aggregation '$other' with no engine aggregate; " +
            s"imported as $default",
          severity = "approximated", source = Some("gooddata"),
          location = Some(loc))
        default
    }

  private def unwrap(m: Map[String, Any], key: String): Map[String, Any] =
    m.get(key) match {
      case Some(inner: Map[_, _]) => inner.asInstanceOf[Map[String, Any]]
      case _                      => m
    }
}
