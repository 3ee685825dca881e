package graft.adapters

import graft.load.{YamlLoader, YamlTree}
import graft.load.YamlTree.{mapOf, seqOfMaps, strList}
import graft.model._

/** Importer for Cube.js YAML data models (reference:
  * sidemantic/adapters/cube.py; fixture corpus tests/fixtures/cube/).
  *
  * Translates the mechanical core of a Cube schema into the native model:
  *   - cubes → models (`sql_table` → table source, `sql` → derived table,
  *     `extends` → inheritance)
  *   - dimensions → dimensions (string/number/time/boolean/switch type map,
  *     `primary_key: true` flag, case/when blocks → CASE expressions,
  *     custom `granularities` → supported_granularities)
  *   - measures → metrics (count/sum/avg/min/max/count_distinct[_approx];
  *     `type: number` → derived, with the `${a} / NULLIF(${b}, 0)` ratio
  *     pattern lifted to a first-class ratio metric; measure `filters`;
  *     `rolling_window` → cumulative over a synthesized hidden base
  *     metric; `time_shift` prior intervals → time_comparison)
  *   - segments → segments (`${CUBE}` self-refs → `{model}` placeholder)
  *   - joins → relationships (belongsTo/hasMany/hasOne map; plain
  *     single-column equality conditions become structured keys, anything
  *     else is preserved as a `{from}`/`{to}` SQL condition)
  *   - pre_aggregations → rollup definitions (member prefixes stripped)
  *   - access_policy row_level filters → SecurityPolicy row filters
  *     (member/operator/values translated to SQL; dynamic
  *     security_context values are untranslatable and skipped)
  *
  * Features with no native equivalent (geo dimensions, sub_query, rank
  * measures, member_level policies) import as their closest executable
  * fallback — the import must stay loadable, not lossless.
  */
object CubeAdapter {

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Seq[Model] =
    loadString(YamlTree.readText(path), resolve)

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

  def loadString(yaml: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Seq[Model] = {
    val root = YamlTree.parse(yaml).asInstanceOf[Map[String, Any]]
    root.getOrElse("cubes", Seq.empty).asInstanceOf[Seq[Any]]
      .map(c => parseCube(c.asInstanceOf[Map[String, Any]], resolve))
  }

  // ------------------------------------------------------------------
  // ${...} member reference rewriting
  // ------------------------------------------------------------------

  /** `${X.col}` / `{X.col}` / `${X}.col` / `{X}.col` / `${X}`, X possibly
    * CUBE or the cube's own name. Group 1/3 = braced body, 2/4 = trailing. */
  private val MemberRe =
    raw"\$$\{([\w.]+)\}(?:\.(\w+))?|(?<!\$$)\{([\w.]+)\}(?:\.(\w+))?".r

  private def splitRef(inner: String, trailing: Option[String]): (String, Option[String]) =
    trailing match {
      case Some(t) => (inner, Some(t))
      case None if inner.contains(".") =>
        val Array(h, c) = inner.split("\\.", 2); (h, Some(c))
      case None => (inner, None)
    }

  /** Rewrite self-references of `cube` through `f(col)`; other refs via
    * `other(head, colOpt)`. */
  private def rewriteMembers(sql: String, cube: String)(
      self: Option[String] => String,
      other: (String, Option[String]) => String): String =
    MemberRe.replaceAllIn(sql, m => {
      val inner = Option(m.group(1)).getOrElse(m.group(3))
      val trailing = Option(m.group(2)).orElse(Option(m.group(4)))
      val (head, col) = splitRef(inner, trailing)
      val out = if (head == "CUBE" || head == cube) self(col) else other(head, col)
      java.util.regex.Matcher.quoteReplacement(out)
    })

  /** Model-local form: self refs become bare columns (dimension/measure
    * SQL parses in the model's own scope). */
  private def normalizeLocal(sql: String, cube: String): String =
    rewriteMembers(sql, cube)(
      self = col => col.getOrElse(""),
      other = (h, c) => c.map(cc => s"$h.$cc").getOrElse(h)).trim

  /** Query-scope form: self refs become `{model}.col` (segments and metric
    * filters substitute the placeholder before parsing). */
  private def normalizeScoped(sql: String, cube: String): String =
    rewriteMembers(sql, cube)(
      self = col => col.map(c => s"{model}.$c").getOrElse("{model}"),
      other = (h, c) => c.map(cc => s"$h.$cc").getOrElse(h)).trim

  // ------------------------------------------------------------------
  // cube → Model
  // ------------------------------------------------------------------

  private def parseCube(c: Map[String, Any],
      resolve: YamlLoader.TableResolver): Model = {
    val name = c("name").toString
    val source = (c.get("sql").flatMap(Option(_)), c.get("sql_table").flatMap(Option(_))) match {
      case (Some(sql), _) => ModelSource.SqlView(sql.toString)
      case (_, Some(t))   => resolve(t.toString)
      case _              => resolve(name)
    }
    val dimDefs = seqOfMaps(c.get("dimensions"))
    val primaryKey = dimDefs
      .filter(_.get("primary_key").exists(_.toString.toBoolean))
      .map(d => normalizeLocal(
        d.get("sql").map(_.toString).getOrElse(d("name").toString), name))

    val baseAndMetrics = seqOfMaps(c.get("measures")).flatMap(parseMeasure(_, name))

    Model(
      name = name,
      source = source,
      primaryKey = primaryKey,
      dimensions = dimDefs.map(parseDimension(_, name)),
      metrics = baseAndMetrics,
      segments = seqOfMaps(c.get("segments")).map(s =>
        Segment(s("name").toString,
          normalizeScoped(s("sql").toString, name),
          public = s.get("shown").orElse(s.get("public"))
            .forall(_.toString.toBoolean))),
      relationships = seqOfMaps(c.get("joins")).flatMap(parseJoin(_, name)),
      preAggregations = seqOfMaps(c.get("pre_aggregations")).map(parsePreAgg(_, name)),
      security = parseAccessPolicy(c.get("access_policy")),
      extendsModel = c.get("extends").map(_.toString))
  }

  private def parseDimension(d: Map[String, Any], cube: String): Dimension = {
    val dtype = d.getOrElse("type", "string").toString
    val dimType = dtype match {
      case "number"  => DimType.Numeric
      case "time"    => DimType.Time
      case "boolean" => DimType.Bool
      case _         => DimType.Categorical // string, switch, geo fallback
    }
    // case/when block → CASE expression (no sql present)
    val caseSql = d.get("case").flatMap(Option(_)).map { cv =>
      val cm = cv.asInstanceOf[Map[String, Any]]
      val whens = seqOfMaps(cm.get("when")).map { w =>
        val cond = normalizeLocal(w("sql").toString, cube)
        val lbl = w.getOrElse("label", "").toString.replace("'", "''")
        s"WHEN $cond THEN '$lbl'"
      }
      val els = cm.get("else").map(e =>
        s" ELSE '${e.asInstanceOf[Map[String, Any]]
          .getOrElse("label", "Unknown").toString.replace("'", "''")}'").getOrElse("")
      s"CASE ${whens.mkString(" ")}$els END"
    }
    Dimension(
      name = d("name").toString,
      dimType = dimType,
      sql = d.get("sql").map(s => normalizeLocal(s.toString, cube)).orElse(caseSql),
      granularity = if (dtype == "time") Some("day") else None,
      supportedGranularities = seqOfMaps(d.get("granularities"))
        .flatMap(_.get("name").map(_.toString)),
      label = d.get("title").map(_.toString),
      public = d.get("shown").orElse(d.get("public")).forall(_.toString.toBoolean))
  }

  private val AggMap = Map(
    "count" -> "count", "count_distinct" -> "count_distinct",
    "count_distinct_approx" -> "approx_count_distinct",
    "sum" -> "sum", "avg" -> "avg", "min" -> "min", "max" -> "max")

  /** Ratio pattern `${a}[::cast] / [NULLIF(]${b}[::cast][, 0)]`. */
  private val RatioRe =
    raw"(?i)^\s*\$$\{(\w+)\}(?:::[\w\s]+)?\s*/\s*(?:NULLIF\()?\$$\{(\w+)\}(?:::[\w\s]+)?(?:\s*,\s*0\s*\))?\s*$$".r

  /** One measure may yield two metrics: rolling-window cumulatives
    * synthesize a hidden base aggregate the cumulative references. */
  private def parseMeasure(m: Map[String, Any], cube: String): Seq[Metric] = {
    val name = m("name").toString
    val mtype = m.getOrElse("type", "count").toString
    val rawSql = m.get("sql").flatMap(Option(_)).map(_.toString)
    val filters = seqOfMaps(m.get("filters"))
      .flatMap(_.get("sql").map(f => normalizeScoped(f.toString, cube)))
    val public = m.get("shown").orElse(m.get("public")).forall(_.toString.toBoolean)
    val label = m.get("title").map(_.toString)

    def simple(agg: String, sql: Option[String], nm: String = name,
        pub: Boolean = public): Metric =
      Metric(nm, agg = Some(agg),
        sql = sql.map(normalizeLocal(_, cube)).filter(_.nonEmpty),
        filters = filters, label = label, public = pub)

    mapOf(m.get("rolling_window")) match {
      case Some(rw) =>
        // base aggregate as a hidden metric + cumulative referencing it
        val base = simple(AggMap.getOrElse(mtype, "sum"), rawSql,
          nm = s"${name}__base", pub = false)
        val toDate = rw.get("type").exists(_.toString == "to_date")
        Seq(base, Metric(name, metricType = Some("cumulative"),
          baseMetric = Some(base.name),
          window = rw.get("trailing").map(_.toString),
          grainToDate = if (toDate) rw.get("granularity").map(_.toString) else None,
          label = label, public = public))
      case None =>
        timeShift(m, cube, name, rawSql, label, public).getOrElse {
          if (mtype == "number") Seq(derived(name, rawSql.getOrElse(""), cube,
            filters, label, public))
          else AggMap.get(mtype) match {
            case Some(agg) => Seq(simple(agg, rawSql))
            case None => // rank and friends: executable COUNT fallback
              Seq(simple("count", None))
          }
        }
    }
  }

  /** `time_shift: [{type: prior, interval: 1 month}]` over a `${base}`
    * reference → time_comparison (reference: cube.py:976-996). */
  private def timeShift(m: Map[String, Any], cube: String, name: String,
      rawSql: Option[String], label: Option[String],
      public: Boolean): Option[Seq[Metric]] =
    for {
      ts <- seqOfMaps(m.get("time_shift")).headOption
      if ts.get("type").forall(_.toString == "prior")
      interval <- ts.get("interval").map(_.toString)
      sql <- rawSql
      base <- raw"^\s*\$$\{(\w+)\}\s*$$".r.findFirstMatchIn(sql).map(_.group(1))
    } yield {
      val comparison = Map(
        "1 year" -> "yoy", "1 month" -> "mom", "1 week" -> "wow",
        "1 day" -> "dod", "1 quarter" -> "qoq").getOrElse(interval, "prior")
      Seq(Metric(name, metricType = Some("time_comparison"),
        baseMetric = Some(s"$cube.$base"), comparison = Some(comparison),
        calculation = Some("difference"), label = label, public = public))
    }

  /** `type: number` measures: ratio pattern → first-class ratio, otherwise
    * a derived formula over bare member names. */
  private def derived(name: String, sql: String, cube: String,
      filters: Seq[String], label: Option[String], public: Boolean): Metric =
    sql match {
      case RatioRe(num, den) =>
        Metric(name, metricType = Some("ratio"),
          numerator = Some(s"$cube.$num"), denominator = Some(s"$cube.$den"),
          label = label, public = public)
      case _ =>
        Metric(name, metricType = Some("derived"),
          sql = Some(rewriteMembers(sql, cube)(
            self = col => col.getOrElse(cube),
            other = (h, c) => c.map(cc => s"$h.$cc").getOrElse(h)).trim),
          filters = filters, label = label, public = public)
    }

  private val RelMap = Map(
    "belongsTo" -> "many_to_one", "belongs_to" -> "many_to_one",
    "hasMany" -> "one_to_many", "has_many" -> "one_to_many",
    "hasOne" -> "one_to_one", "has_one" -> "one_to_one",
    "many_to_one" -> "many_to_one", "one_to_many" -> "one_to_many",
    "one_to_one" -> "one_to_one", "many_to_many" -> "many_to_many")

  private def parseJoin(j: Map[String, Any], cube: String): Option[Relationship] = {
    val to = j.get("name").map(_.toString).getOrElse(return None)
    val relType = RelMap.getOrElse(
      j.getOrElse("relationship", "many_to_one").toString, "many_to_one")
    val joinSql = j.getOrElse("sql", "").toString

    // collect member refs by side; rewrite to {from}/{to}
    var refs = Vector.empty[(String, Option[String])]
    var untranslatable = false
    val native = MemberRe.replaceAllIn(joinSql, m => {
      val inner = Option(m.group(1)).getOrElse(m.group(3))
      val trailing = Option(m.group(2)).orElse(Option(m.group(4)))
      val (head, col) = splitRef(inner, trailing)
      val side =
        if (head == "CUBE" || head == cube) "from"
        else if (head == to) "to"
        else { untranslatable = true; "" }
      if (side.isEmpty) java.util.regex.Matcher.quoteReplacement(m.group(0))
      else {
        refs :+= (side, col)
        java.util.regex.Matcher.quoteReplacement(
          col.map(c => s"{$side}.$c").getOrElse(s"{$side}"))
      }
    })
    if (untranslatable || refs.isEmpty)
      return Some(Relationship(to, relType, foreignKey = Seq(s"${to}_id")))

    val residual = MemberRe.replaceAllIn(joinSql, "@").replaceAll(raw"\s+", "")
    val simpleEq = residual == "@=@" && refs.size == 2 &&
      refs.map(_._1).toSet == Set("from", "to") && refs.forall(_._2.isDefined)

    if (simpleEq && Set("many_to_one", "one_to_many")(relType)) {
      val fromCol = refs.find(_._1 == "from").get._2.get
      val toCol = refs.find(_._1 == "to").get._2.get
      // many_to_one: FK on this cube; one_to_many: FK on the related cube
      if (relType == "many_to_one")
        Some(Relationship(to, relType, foreignKey = Seq(fromCol),
          primaryKey = Seq(toCol)))
      else
        Some(Relationship(to, relType, foreignKey = Seq(toCol),
          primaryKey = Seq(fromCol)))
    } else Some(Relationship(to, relType, sqlOn = Some(native)))
  }

  private def parsePreAgg(p: Map[String, Any], cube: String): PreAggregation = {
    def strip(s: String): String = {
      val last = s.split('.').last
      if (s.startsWith("CUBE.") || s.startsWith(s"$cube.")) last else s
    }
    PreAggregation(
      name = p("name").toString,
      measures = strList(p.get("measures")).map(strip),
      dimensions = strList(p.get("dimensions")).map(strip),
      timeDimension = p.get("time_dimension").map(v => strip(v.toString)),
      granularity = p.get("granularity").map(_.toString),
      partitionGranularity = p.get("partition_granularity").map(_.toString))
  }

  // ------------------------------------------------------------------
  // access_policy → SecurityPolicy (reference: cube.py:173-270)
  // ------------------------------------------------------------------

  private def sqlLiteral(v: Any): String = v match {
    case b: java.lang.Boolean => if (b) "TRUE" else "FALSE"
    case n: java.lang.Number  => n.toString
    case other => "'" + other.toString.replace("'", "''") + "'"
  }

  private def filterToSql(member: String, op: String, values: Any): Option[String] = {
    val col0 = member.replaceAll(raw"^\$$?\{[^}]*\}\.", "")
    val col = col0.split('.').last
    val vals: Seq[Any] = values match {
      case l: Seq[_] => l
      case null => Nil
      case _ if op == "set" || op == "notSet" => Nil
      case _ => return None // dynamic (security_context.*) value — untranslatable
    }
    def lits = vals.map(sqlLiteral)
    op match {
      case "equals" | "in" =>
        if (vals.size == 1) Some(s"$col = ${lits.head}")
        else if (vals.nonEmpty) Some(s"$col IN (${lits.mkString(", ")})") else None
      case "notEquals" | "notIn" =>
        if (vals.size == 1) Some(s"$col != ${lits.head}")
        else if (vals.nonEmpty) Some(s"$col NOT IN (${lits.mkString(", ")})") else None
      case "contains" if vals.nonEmpty =>
        Some(vals.map(v => s"$col LIKE ${sqlLiteral(s"%$v%")}").mkString(" OR "))
      case "notContains" if vals.nonEmpty =>
        Some(vals.map(v => s"$col NOT LIKE ${sqlLiteral(s"%$v%")}").mkString(" AND "))
      case "startsWith" if vals.nonEmpty =>
        Some(vals.map(v => s"$col LIKE ${sqlLiteral(s"$v%")}").mkString(" OR "))
      case "endsWith" if vals.nonEmpty =>
        Some(vals.map(v => s"$col LIKE ${sqlLiteral(s"%$v")}").mkString(" OR "))
      case "gt" | "gte" | "lt" | "lte" if vals.nonEmpty =>
        val sqlOp = Map("gt" -> ">", "gte" -> ">=", "lt" -> "<", "lte" -> "<=")(op)
        Some(s"$col $sqlOp ${lits.head}")
      case "set"    => Some(s"$col IS NOT NULL")
      case "notSet" => Some(s"$col IS NULL")
      case _ =>
        graft.load.Fidelity.note("unsupported_filter_operator",
          s"segment/pre-agg filter operator '$op' on '$col' has no SQL " +
            "lowering; filter dropped", source = Some("cube"))
        None
    }
  }

  private def parseAccessPolicy(ap: Option[Any]): Option[SecurityPolicy] = {
    val policies = seqOfMaps(ap)
    if (policies.isEmpty) return None
    val rowFilters = policies.flatMap { pol =>
      val rl = pol.get("row_level").flatMap(Option(_))
        .map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty[String, Any])
      val combine = rl.getOrElse("filters_type", "and").toString.toLowerCase
      val fragments = seqOfMaps(rl.get("filters")).flatMap { f =>
        if (f.contains("and") || f.contains("or")) None // nested — unmapped
        else filterToSql(f.getOrElse("member", "").toString,
          f.getOrElse("operator", "").toString, f.get("values").orNull)
          .map(s => if (s.contains(" OR ") || s.contains(" AND ")) s"($s)" else s)
      }
      if (fragments.isEmpty) None
      else if (fragments.size == 1) Some(fragments.head)
      else if (combine == "or") Some("(" + fragments.mkString(" OR ") + ")")
      else Some(fragments.mkString(" AND "))
    }
    if (rowFilters.isEmpty) None
    else Some(SecurityPolicy(rowFilters = rowFilters))
  }
}
