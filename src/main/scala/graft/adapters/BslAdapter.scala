package graft.adapters

import graft.load.{YamlLoader, YamlTree}
import graft.model._

/** Importer for BSL (boring-semantic-layer) YAML models (reference:
  * sidemantic/adapters/bsl.py + bsl_expr.py; fixtures
  * tests/fixtures/bsl/).
  *
  * Every top-level key except `profile` declares a model over `table`.
  * Expressions are ibis deferreds, translated through the subset the
  * corpus uses (the reference runs a full ibis expression compiler):
  *   - `_.col` → column, `_.a.b` → struct access, `_.col.year()` /
  *     `.month()` / `.day()` → the temporal extract
  *   - `_.count()` → count(*); `X.sum()/.mean()/.min()/.max()/
  *     .nunique()/.median()/.std()/.var()/.count()` over a column or a
  *     parenthesized arithmetic expression → the matching aggregation
  *   - a comparison under `.sum()`/`.mean()` (ibis boolean aggregation,
  *     `(_.cls == "emergency").sum()`) lowers to the CASE-WHEN count /
  *     rate form; `==`/`!=` and double-quoted literals translate to SQL
  *   - measures without any `_.` reference other measures by name →
  *     derived metrics
  *   - `is_time_dimension` + `smallest_time_grain: TIME_GRAIN_X` (or the
  *     model-level `time_dimension:`) type the time dimension
  *   - `joins:` entries (`left_on`/`right_on`, or the `with: _.fk`
  *     shorthand joining the target's primary key) → many_to_one /
  *     one_to_many edges; model-level `filter:` wraps the source
  */
object BslAdapter {

  final case class Imported(models: Seq[Model])

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported =
    loadString(YamlTree.readText(path), resolve)

  def loadString(yaml: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val root = YamlTree.mapOf(Option(YamlTree.parse(yaml))).getOrElse(return Imported(Nil))
    val modelDefs = root.collect {
      case (name, m: Map[_, _]) if name != "profile" &&
          m.asInstanceOf[Map[String, Any]].contains("table") =>
        name -> m.asInstanceOf[Map[String, Any]]
    }
    var models = modelDefs.toSeq.map { case (n, m) => parseModel(n, m, resolve) }
    // `with: _.fk` joins bind to the target's primary key once all
    // models are known
    models = models.map { m =>
      m.copy(relationships = m.relationships.map { r =>
        if (r.primaryKey.nonEmpty) r
        else models.find(_.name == r.to).map(t =>
          r.copy(primaryKey = t.primaryKey)).getOrElse(r)
      })
    }
    Imported(models)
  }

  // ------------------------------------------------------------------

  private def parseModel(name: String, m: Map[String, Any],
      resolve: YamlLoader.TableResolver): Model = {
    val table = m.get("table").map(_.toString).getOrElse(name)
    val timeDim = m.get("time_dimension").map(_.toString)

    val dims = entries(m.get("dimensions")).flatMap { case (dn, dv) =>
      val (expr, props) = exprAndProps(dv, s"_.$dn")
      val sql = deferredToSql(expr)
      val grain = props.get("smallest_time_grain").map(_.toString)
        .map(_.stripPrefix("TIME_GRAIN_").toLowerCase)
      val isTime = props.get("is_time_dimension").exists(_.toString.toBoolean) ||
        timeDim.contains(dn) || grain.isDefined
      sql.map(s => Dimension(dn,
        if (isTime) DimType.Time else DimType.Categorical,
        sql = Some(s).filter(_ != dn),
        granularity = if (isTime) Some(grain.getOrElse("day")) else None))
    }

    val measureDefs = entries(m.get("measures"))
    val measureNames = measureDefs.map(_._1).toSet
    val mets = measureDefs.flatMap { case (mn, mv) =>
      val (expr, _) = exprAndProps(mv, "")
      if (expr.isEmpty) None
      else if (!expr.contains("_.")) {
        // calc measure: references other measures by name
        Some(Metric(mn, metricType = Some("derived"), sql = Some(expr)))
      } else measureToMetric(mn, expr)
    }

    val rels = entries(m.get("joins")).flatMap { case (_, jv) =>
      val j = jv match {
        case jm: Map[_, _] => jm.asInstanceOf[Map[String, Any]]
        case _ => Map.empty[String, Any]
      }
      j.get("model").map(_.toString).map { target =>
        val relType = j.get("type").map(_.toString) match {
          case Some("many") => "one_to_many"
          case _            => "many_to_one"
        }
        (j.get("left_on").map(_.toString), j.get("right_on").map(_.toString),
            j.get("with").map(_.toString)) match {
          case (Some(l), Some(r), _) =>
            Relationship(target, relType, foreignKey = Seq(l), primaryKey = Seq(r))
          case (_, _, Some(w)) =>
            // shorthand: the FK column joins the target's primary key
            Relationship(target, relType,
              foreignKey = Seq(w.stripPrefix("_.")))
          case _ => Relationship(target, relType)
        }
      }
    }

    // model-level filter wraps the source
    val source0 = resolve(table)
    val source = m.get("filter").map(_.toString).flatMap(deferredToSql) match {
      case Some(cond) => source0 match {
        case ModelSource.Table(t)   => ModelSource.SqlView(s"SELECT * FROM $t WHERE $cond")
        case ModelSource.SqlView(s) => ModelSource.SqlView(s"SELECT * FROM ($s) WHERE $cond")
        case ModelSource.Parquet(p) =>
          ModelSource.SqlView(s"SELECT * FROM parquet.`$p` WHERE $cond")
      }
      case None => source0
    }

    Model(name = name, source = source,
      primaryKey = m.get("primary_key").map(_.toString).toSeq,
      dimensions = dims, metrics = mets, relationships = rels,
      defaultTimeDimension = timeDim.orElse(
        dims.find(_.dimType == DimType.Time).map(_.name)))
  }

  // ------------------------------------------------------------------
  // ibis deferred-expression subset
  // ------------------------------------------------------------------

  private val AggMethods = Map("sum" -> "sum", "mean" -> "avg", "min" -> "min",
    "max" -> "max", "nunique" -> "count_distinct", "median" -> "median",
    "std" -> "stddev", "var" -> "variance", "count" -> "count")

  /** `X.agg()` → a Metric; boolean inners lower to CASE WHEN. */
  private def measureToMetric(name: String, expr: String): Option[Metric] = {
    val t = expr.trim
    if (t == "_.count()") return Some(Metric(name, agg = Some("count")))
    val AggRe = raw"(?s)^(.*)\.(\w+)\(\)$$".r
    t match {
      case AggRe(prefix, method) if AggMethods.contains(method) =>
        val inner0 = prefix.trim match {
          case p if p.startsWith("(") && p.endsWith(")") => p.substring(1, p.length - 1)
          case p => p
        }
        deferredToSql(inner0).map { inner =>
          val isBool = raw"(==|!=|>=|<=|>|<)".r.findFirstIn(inner0).isDefined
          // ibis boolean aggregation: the CASE stays row-level under the
          // aggregation so the planner can push it into the main groupBy
          if (isBool && Set("sum", "mean")(method))
            Metric(name, agg = Some(AggMethods(method)),
              sql = Some(s"CASE WHEN $inner THEN 1 ELSE 0 END"))
          else Metric(name, agg = Some(AggMethods(method)), sql = Some(inner))
        }
      case _ => // untranslatable ibis construct
        graft.load.Fidelity.note("untranslatable_ibis",
          s"measure '$name' uses an ibis deferred expression outside the " +
            "translated subset; measure dropped",
          severity = "unsupported", source = Some("bsl"))
        None
    }
  }

  /** Row-level deferred → SQL: strip `_.`, lower temporal methods,
    * `==`→`=`, double-quoted literals → single-quoted. */
  private[adapters] def deferredToSql(e: String): Option[String] = {
    if (e.isEmpty) return None
    var s = e.trim
    // temporal extracts: _.col.year() → year(col)
    s = raw"_\.([A-Za-z_][\w.]*)\.(year|month|day|hour|minute|quarter)\(\)".r
      .replaceAllIn(s, m => s"${m.group(2)}(${m.group(1)})")
    if (s.contains("(") && raw"\.\w+\(\)".r.findFirstIn(s).isDefined)
      return None // other method calls are not translatable row-level
    s = s.replace("_.", "")
    s = s.replace("==", "=").replace("!=", "<>")
    s = raw""""([^"]*)"""".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(s"'${m.group(1)}'"))
    Some(s)
  }

  // ---- plain-map helpers ----

  /** `name: _.expr` shorthand or `name: {expr: ..., props...}`. */
  private def exprAndProps(v: Any, default: String): (String, Map[String, Any]) =
    v match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        (mm.get("expr").map(_.toString).getOrElse(default), mm)
      case s => (s.toString, Map.empty)
    }

  private def entries(v: Option[Any]): Seq[(String, Any)] = v match {
    case Some(m: Map[_, _]) =>
      m.asInstanceOf[Map[String, Any]].toSeq
    case _ => Nil
  }
}
