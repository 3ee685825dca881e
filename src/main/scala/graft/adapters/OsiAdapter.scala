package graft.adapters

import graft.load.{Fidelity, YamlLoader, YamlTree}
import graft.load.YamlTree.{seqOfMaps, strList}
import graft.model._

/** Importer for OSI (Open Semantic Interchange) models (reference:
  * sidemantic/adapters/osi.py; fixtures tests/fixtures/osi/ — YAML and
  * the dbt-consumable JSON form, which SnakeYAML parses as YAML 1.2).
  *
  *   - `semantic_model[].datasets` → models; `source` is a dotted
  *     `db.schema.table` path — the last segment feeds the resolver
  *   - `fields` → dimensions; the ANSI_SQL dialect expression is the
  *     dimension SQL; `dimension.is_time: true` → time type
  *   - `relationships` → many_to_one edges on the `from` model over
  *     `from_columns`/`to_columns` (reference defaults the key to
  *     `{to}_id` when columns are omitted)
  *   - semantic-model-level `metrics` carry full aggregate expressions
  *     over `dataset.field` refs (`SUM(orders.amount)`): a lone
  *     aggregate referencing one dataset attaches to that model as a
  *     native aggregation; composite formulas decompose into hidden
  *     per-model measures plus a graph-level derived metric — the same
  *     strategy as the Rill importer's sqlglot-equivalent
  */
object OsiAdapter {

  final case class Imported(models: Seq[Model], graphMetrics: Seq[Metric])

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported =
    loadString(YamlTree.readText(path), resolve)

  def loadString(text: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val root = Option(YamlTree.parse(text)).map(_.asInstanceOf[Map[String, Any]])
      .getOrElse(return Imported(Nil, Nil))
    val sms = seqOfMaps(root.get("semantic_model")) ++
      seqOfMaps(root.get("ontology_mappings"))
        .flatMap(m => m.get("semantic_model").collect {
          case sm: Map[_, _] => sm.asInstanceOf[Map[String, Any]] })

    var models = Vector.empty[Model]
    var graph = Vector.empty[Metric]
    sms.foreach { sm =>
      var local = seqOfMaps(sm.get("datasets")).flatMap(parseDataset(_, resolve))

      seqOfMaps(sm.get("relationships")).zipWithIndex.foreach { case (r, ri) =>
        val from = r.get("from").map(_.toString)
        val to = r.get("to").map(_.toString)
        if (from.isEmpty || to.isEmpty)
          Fidelity.note("incomplete_relationship",
            "relationship entry lacks from/to datasets; edge dropped",
            source = Some("osi"), location = Some(s"relationships[$ri]"))
        for (f <- from; t <- to) {
          if (!local.exists(_.name == f))
            Fidelity.note("unknown_relationship_dataset",
              s"relationship 'from' dataset '$f' is not declared in this " +
                "semantic model; edge dropped",
              source = Some("osi"), location = Some(s"relationships[$ri]"))
          val fks = strList(r.get("from_columns")) match {
            case Nil  => Seq(s"${t}_id")
            case cols => cols
          }
          val pks = strList(r.get("to_columns"))
          local = local.map(m => if (m.name == f)
            m.copy(relationships = m.relationships :+
              Relationship(t, "many_to_one", foreignKey = fks, primaryKey = pks))
          else m)
        }
      }

      seqOfMaps(sm.get("metrics")).zipWithIndex.foreach { case (md, mi) =>
        val name = md.get("name").map(_.toString).getOrElse("")
        val expr = dialectExpr(md.get("expression"))
        if (name.nonEmpty && expr.nonEmpty) {
          val (updated, gm) = attachMetric(local, name, expr.get,
            s"metrics[$mi]")
          local = updated
          graph ++= gm
        } else
          Fidelity.note("metric_without_expression",
            s"metric '${if (name.isEmpty) "?" else name}' lacks a name or " +
              "a dialect expression; metric dropped",
            source = Some("osi"), location = Some(s"metrics[$mi]"))
      }
      models ++= local
    }
    Imported(models, graph)
  }

  // ------------------------------------------------------------------

  /** `SUM(orders.amount)` → native metric on `orders`; composite
    * formulas → hidden per-model measures + graph-level derived. */
  private def attachMetric(models: Seq[Model], name: String,
      expr: String, loc: String): (Seq[Model], Seq[Metric]) = {
    val names = models.map(_.name).toSet
    val qualRef = raw"(?i)\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\b".r

    def ownerOf(e: String): Option[String] = {
      val owners = qualRef.findAllMatchIn(e).map(_.group(1))
        .filter(names).toSeq.distinct
      if (owners.size == 1) Some(owners.head)
      else if (owners.isEmpty && models.size == 1) Some(models.head.name)
      else None
    }
    def strip(e: String, owner: String): String =
      e.replaceAll(raw"(?i)\b" + java.util.regex.Pattern.quote(owner) + raw"\.", "")

    graft.load.AggExtract.parse(expr) match {
      case Some(x) =>
        val innerOwner = x.inner.flatMap(ownerOf)
          .orElse(if (models.size == 1) Some(models.head.name) else None)
        innerOwner match {
          case Some(owner) =>
            val m = Metric(name, agg = Some(x.agg),
              sql = x.inner.map(strip(_, owner)),
              filters = x.filter.map(strip(_, owner)).toSeq)
            (withMetric(models, owner, m), Nil)
          case None => // cross-model lone agg: not expressible
            Fidelity.note("cross_model_aggregate",
              s"metric '$name' aggregates over fields of several datasets " +
                "in one call; no single owning model, metric dropped",
              severity = "unsupported", source = Some("osi"),
              location = Some(loc))
            (models, Nil)
        }
      case None =>
        // composite: hidden measure per aggregate call, derived on top
        val pieces = RillAdapter.expressionToMetrics(name, expr, None)
        if (pieces.isEmpty) return (models, Nil)
        val hidden = pieces.init
        val derived = pieces.last
        var out = models
        var refs = Map.empty[String, String] // hidden name → model.name ref
        hidden.foreach { h =>
          h.sql.flatMap(ownerOf) match {
            case Some(owner) =>
              out = withMetric(out, owner, h.copy(sql = h.sql.map(strip(_, owner))))
              refs += (h.name -> s"$owner.${h.name}")
            case None => // unattributable piece
              Fidelity.note("unattributable_aggregate",
                s"metric '$name': component '${h.sql.getOrElse("")}' " +
                  "references no single declared dataset; metric dropped",
                severity = "unsupported", source = Some("osi"),
                location = Some(loc))
              return (models, Nil)
          }
        }
        val gsql = refs.foldLeft(derived.sql.getOrElse("")) { case (s, (hn, ref)) =>
          s.replaceAll(raw"\b" + java.util.regex.Pattern.quote(hn) + raw"\b", ref)
        }
        (out, Seq(derived.copy(sql = Some(gsql))))
    }
  }

  private def withMetric(models: Seq[Model], owner: String, m: Metric): Seq[Model] =
    models.map(x => if (x.name == owner) x.copy(metrics = x.metrics :+ m) else x)

  private def parseDataset(d: Map[String, Any],
      resolve: YamlLoader.TableResolver): Option[Model] = {
    val name = d.get("name").map(_.toString).getOrElse {
      Fidelity.note("dataset_without_name",
        "dataset entry has no name; dataset dropped", source = Some("osi"))
      return None
    }
    val source = d.get("source").map(_.toString).getOrElse(name)
    val table = source.split('.').last
    val dims = seqOfMaps(d.get("fields")).flatMap { f =>
      f.get("name").map(_.toString).map { fn =>
        val sql = dialectExpr(f.get("expression")).filter(_ != fn)
        val isTime = f.get("dimension") match {
          case Some(dm: Map[_, _]) => dm.asInstanceOf[Map[String, Any]]
            .get("is_time").exists(_.toString.toBoolean)
          case _ => false
        }
        Dimension(fn,
          if (isTime) DimType.Time else DimType.Categorical,
          sql = sql,
          granularity = if (isTime) Some("day") else None)
      }
    }
    Some(Model(name = name, source = resolve(table),
      primaryKey = strList(d.get("primary_key")),
      dimensions = dims))
  }

  /** The ANSI_SQL dialect entry (first entry as fallback). */
  private def dialectExpr(v: Option[Any]): Option[String] = v match {
    case Some(m: Map[_, _]) =>
      val dialects = seqOfMaps(m.asInstanceOf[Map[String, Any]].get("dialects"))
      val ansi = dialects.find(
        _.get("dialect").map(_.toString).contains("ANSI_SQL"))
      if (ansi.isEmpty && dialects.nonEmpty)
        Fidelity.note("non_ansi_dialect",
          s"expression has no ANSI_SQL dialect entry; using the " +
            s"'${dialects.head.getOrElse("dialect", "?")}' form verbatim",
          severity = "approximated", source = Some("osi"))
      ansi.orElse(dialects.headOption)
        .flatMap(_.get("expression")).map(_.toString)
    case Some(s) => Some(s.toString)
    case None    => None
  }
}
