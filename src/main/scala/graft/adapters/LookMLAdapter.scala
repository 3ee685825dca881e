package graft.adapters

import graft.load.{Fidelity, YamlLoader, YamlTree}
import graft.model._
import LkmlParser._

/** Importer for LookML view/model files (reference:
  * sidemantic/adapters/lookml.py; fixture corpus tests/fixtures/lookml/).
  *
  * Covered core (the reference's remaining ~4k lines handle include-graph
  * scoping, refinement sequencing, and liquid templating edge cases that
  * have no bearing on the executable semantics):
  *
  *   - views → models: `sql_table_name` → table source, `derived_table`
  *     → derived view, `extends` → inheritance, `+view` refinements merge
  *     onto their base in file order
  *   - dimensions → dimensions (string/number/yesno/tier/date types;
  *     `primary_key: yes` collects the composite key; `${TABLE}.col` →
  *     col; `${other_dim}` references substitute the referenced
  *     dimension's SQL to fixpoint; `case:` blocks → CASE expressions;
  *     `hidden: yes` → non-public)
  *   - dimension_group `type: time` → one time dimension carrying the
  *     group's SQL, with `timeframes` mapped to supported granularities
  *     (native grain suffixes replace Looker's generated `_date`/`_month`
  *     field family)
  *   - measures → metrics (count/count_distinct/sum/average/min/max/
  *     median; `sum_distinct` imports as sum — the engine's fan-out
  *     symmetric-aggregate handling replaces Looker's `sql_distinct_key`
  *     mechanics; percentile drops rather than coercing; `type: number`
  *     lifts the `${a} / NULLIF(${b}, 0)` shape to a first-class ratio
  *     and otherwise imports as a derived formula when every `${ref}` is
  *     a measure; Looker filter expressions translate to SQL conditions)
  *   - `filter:` fields → segments (`{model}`-scoped)
  *   - explores → join edges on the *referenced* models (the sql_on side
  *     naming the joined view is the "to" side, so chained joins like
  *     order_items→products attach where they belong) and a graft
  *     [[Explore]] contract per explore (base model + mandatory
  *     `sql_always_where` filters)
  */
object LookMLAdapter {

  final case class Imported(models: Seq[Model], explores: Seq[Explore])

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported =
    loadFiles(Seq(path), resolve)

  def loadFiles(paths: Seq[String],
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val docs = paths.map(p => LkmlParser.parse(YamlTree.readText(p)))
    fromDocs(docs, resolve)
  }

  def loadString(text: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported =
    fromDocs(Seq(LkmlParser.parse(text)), resolve)

  /** Parse every .lkml under a directory into one catalog (refinements and
    * explores resolve across files). */
  def loadDirectory(dir: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver,
      dataDir: String = ""): Catalog = {
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".lkml")).sortBy(_.getName)
    val imp = loadFiles(files.map(_.getPath).toSeq, resolve)
    // an extends base missing from the corpus (its `include:` file is
    // not present) degrades to a note + no inherited fields instead of
    // failing the whole directory — instrumented partiality, like every
    // other adapter drop
    val known = imp.models.map(_.name).toSet
    val models = imp.models.map { m =>
      m.extendsModel match {
        case Some(self) if self == m.name =>
          // documentation-placeholder corpora contain `view: x
          // { extends: [x] }` — a degenerate cycle; inheritance from
          // oneself is the identity
          Fidelity.note("self_extends",
            s"view '${m.name}' extends itself; inheritance ignored",
            source = Some("lookml"))
          m.copy(extendsModel = None)
        case Some(missing) if !known(missing) =>
          Fidelity.note("unknown_extends_base",
            s"view '${m.name}' extends '$missing' which is not in the " +
              "loaded corpus (include target absent); imported without " +
              "inherited fields", source = Some("lookml"))
          m.copy(extendsModel = None)
        case _ => m
      }
    }
    // parents register before children: extends resolves on registration
    val cat = topoByExtends(models)
      .foldLeft(Catalog(dataDir = dataDir))((c, m) => c.add(m))
    imp.explores.filter(e => cat.models.contains(e.model))
      .foldLeft(cat) { (c, e) =>
        // an explore whose field lists reference views absent from the
        // corpus (documentation placeholders, missing includes) is
        // noted and skipped, not a directory-load failure
        try c.addExplore(e)
        catch {
          case ex: IllegalArgumentException =>
            Fidelity.note("unresolvable_explore",
              s"explore '${e.name}' failed validation against the loaded " +
                s"corpus (${ex.getMessage.take(80)}); explore dropped",
              source = Some("lookml"))
            c
        }
      }
  }

  /** Parents before children so `extends` resolves. */
  private[graft] def topoByExtends(ms: Seq[Model]): Seq[Model] = {
    val byName = ms.map(m => m.name -> m).toMap
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    def visit(m: Model, stack: Set[String]): Unit = {
      if (seen(m.name) || stack(m.name)) return
      m.extendsModel.flatMap(byName.get).foreach(visit(_, stack + m.name))
      seen += m.name
    }
    ms.foreach(visit(_, Set.empty))
    seen.toSeq.map(byName)
  }

  def fromDocs(docs: Seq[LObj],
      resolve: YamlLoader.TableResolver): Imported = {
    // collect views; `+name` refinements DEEP-merge onto the base:
    // same-named sub-blocks (dimension: x, measure: y) merge per field
    // with the refinement's properties winning — appending instead
    // would duplicate the field (node_lookml_refinement_merging.lkml's
    // deep_merging case) — and scalar keys override in place
    def refine(base: LObj, ref: LObj): LObj = {
      val merged = scala.collection.mutable.ArrayBuffer(base.entries: _*)
      ref.entries.foreach {
        case (k, o: LObj) if o.name.isDefined =>
          val i = merged.indexWhere {
            case (k2, o2: LObj) => k2 == k && o2.name == o.name
            case _ => false
          }
          if (i >= 0)
            merged(i) = (k, refine(merged(i)._2.asInstanceOf[LObj], o))
          else merged += ((k, o))
        case (k, value) =>
          val i = merged.indexWhere {
            case (k2, _: LObj) => false
            case (k2, _) => k2 == k
          }
          if (i >= 0) merged(i) = (k, value) else merged += ((k, value))
      }
      LObj(base.name, merged.toSeq)
    }
    var views = Vector.empty[LObj]
    docs.foreach(_.objs("view").foreach { v =>
      v.name match {
        case Some(n) if n.startsWith("+") =>
          val base = n.drop(1)
          views = views.map(b => if (b.name.contains(base))
            refine(b, LObj(b.name, v.entries)) else b)
        case _ => views :+= v
      }
    })
    var models = views.flatMap(viewToModel(_, resolve))
    val modelNames = models.map(_.name).toSet

    // explores: join edges + contracts
    var explores = Vector.empty[Explore]
    docs.foreach(_.objs("explore").foreach { ex =>
      val exName = ex.name.getOrElse("explore")
      val base = ex.str("view_name").orElse(ex.str("from")).getOrElse(exName)
      if (!modelNames(base))
        Fidelity.note("unknown_explore_base",
          s"explore '$exName' references view '$base' not present in the " +
            "imported files; explore dropped", source = Some("lookml"))
      if (modelNames(base)) {
        ex.objs("join").foreach { j =>
          parseJoin(j, base, modelNames).foreach { case (owner, rel) =>
            models = models.map(m =>
              if (m.name == owner && !m.relationships.exists(_.to == rel.to))
                m.copy(relationships = m.relationships :+ rel)
              else m)
          }
        }
        val mandatory = ex.str("sql_always_where").toSeq
          .map(rewriteQueryScope(_, base))
        explores :+= Explore(name = exName, model = base,
          label = ex.str("label"), filters = mandatory)
      }
    })
    Imported(models, explores)
  }

  // ------------------------------------------------------------------
  // view → model
  // ------------------------------------------------------------------

  private def viewToModel(v: LObj,
      resolve: YamlLoader.TableResolver): Option[Model] = {
    val name = v.name.getOrElse(return None)
    val source = v.str("sql_table_name") match {
      case Some(t) => resolve(t.trim)
      case None => v.objs("derived_table").headOption.flatMap(_.str("sql")) match {
        case Some(sql) => ModelSource.SqlView(sql)
        case None      => resolve(name)
      }
    }

    // dimension SQL lookup for ${ref} substitution (to fixpoint); Looker's
    // generated `<group>_<timeframe>` field family aliases the group's SQL
    val dimObjs = v.objs("dimension")
    val groupObjs = v.objs("dimension_group")
    var sqlByName: Map[String, String] = (dimObjs ++ groupObjs).flatMap(d =>
      d.name.map(n => n -> d.str("sql").getOrElse(n))).toMap ++
      groupObjs.flatMap(g => g.name.toSeq.flatMap(gn =>
        g.list("timeframes").collect { case LStr(tf) =>
          s"${gn}_$tf" -> g.str("sql").getOrElse(gn) })).toMap
    (1 to 4).foreach { _ =>
      sqlByName = sqlByName.map { case (n, sql) => n -> substitute(sql, sqlByName) }
    }

    var primaryKey = Vector.empty[String]
    val dims = dimObjs.flatMap { d =>
      d.name.map { dn =>
        val dim = parseDimension(d, dn, sqlByName)
        if (d.str("primary_key").contains("yes"))
          primaryKey :+= dim.sql.getOrElse(dn)
        if (dim.sql.contains(dim.name)) dim.copy(sql = None) else dim
      }
    } ++ groupObjs.flatMap(parseDimensionGroup(_, sqlByName))

    val measureNames = v.objs("measure").flatMap(_.name).toSet
    val metrics = v.objs("measure").flatMap(parseMeasure(_, sqlByName, measureNames))

    val segments = v.objs("filter").flatMap { f =>
      for (n <- f.name; sql <- f.str("sql"))
        yield Segment(n, rewriteModelScope(substitute(sql, sqlByName)),
          public = !f.str("hidden").contains("yes"))
    }

    Some(Model(
      name = name,
      source = source,
      primaryKey = primaryKey,
      dimensions = dims,
      metrics = metrics,
      segments = segments,
      extendsModel = v.list("extends").collectFirst { case LStr(s) => s }
        .orElse(v.str("extends"))))
  }

  /** `${TABLE}.x` → `x`; `${ref}` → looked-up SQL (dimension refs). */
  private def substitute(sql: String, lookup: Map[String, String]): String =
    raw"\$$\{([\w.]+)\}".r.replaceAllIn(sql, m => {
      val ref = m.group(1)
      val out =
        if (ref == "TABLE") "" // `${TABLE}.x` leaves `.x`; fixed below
        else lookup.getOrElse(ref, ref)
      java.util.regex.Matcher.quoteReplacement(out)
    }).replaceAll(raw"(?<![\w.`])\.(\w)", "$1").trim

  /** Query-scope rewrite for explore filters: `${view.field}` → `view.field`. */
  private def rewriteQueryScope(sql: String, base: String): String =
    raw"\$$\{([\w.]+)\}".r.replaceAllIn(sql, m => {
      val ref = m.group(1)
      java.util.regex.Matcher.quoteReplacement(
        if (ref == "TABLE") base
        else if (ref.contains(".")) ref
        else s"$base.$ref")
    }).trim

  /** Segment scope: physical columns already substituted; scope to model. */
  private def rewriteModelScope(sql: String): String =
    raw"(?<![\w.'\"])(\w+)(\s*(?:=|!=|<>|>=|<=|>|<|IS\b|IN\b|LIKE\b|BETWEEN\b))".r
      .replaceAllIn(sql, m => java.util.regex.Matcher.quoteReplacement(
        s"{model}.${m.group(1)}${m.group(2)}"))

  private def parseDimension(d: LObj, dn: String,
      lookup: Map[String, String]): Dimension = {
    val dtype = d.str("type").getOrElse("string")
    val caseSql = d.objs("case").headOption.map { c =>
      val whens = c.objs("when").flatMap(w =>
        w.str("sql").map(s => s"WHEN ${substitute(s, lookup)} THEN '" +
          w.str("label").getOrElse("").replace("'", "''") + "'"))
      val els = c.str("else").map(e =>
        s" ELSE '${e.replace("'", "''")}'").getOrElse("")
      s"CASE ${whens.mkString(" ")}$els END"
    }
    Dimension(
      name = dn,
      dimType = dtype match {
        case "number" | "tier" | "duration" => DimType.Numeric
        case "yesno"                        => DimType.Bool
        case "date" | "date_time"           => DimType.Time
        case _                              => DimType.Categorical
      },
      sql = d.str("sql").map(substitute(_, lookup)).orElse(caseSql),
      granularity = if (dtype.startsWith("date")) Some("day") else None,
      label = d.str("label"),
      public = !d.str("hidden").contains("yes"))
  }

  /** Looker timeframe → native grain (unsupported buckets drop). */
  private val TimeframeGrain = Map(
    "time" -> "second", "hour" -> "hour", "minute" -> "minute",
    "date" -> "day", "day" -> "day", "week" -> "week", "month" -> "month",
    "quarter" -> "quarter", "year" -> "year")

  private def parseDimensionGroup(g: LObj,
      lookup: Map[String, String]): Option[Dimension] = {
    val gn = g.name.getOrElse(return None)
    if (g.str("type").contains("duration")) { // sql_start/sql_end spans
      Fidelity.note("duration_dimension_group",
        s"dimension_group '$gn' of type duration (sql_start/sql_end span) " +
          "has no semantic-model equivalent", source = Some("lookml"))
      return None
    }
    val frames = g.list("timeframes").collect { case LStr(s) => s }
    frames.filterNot(TimeframeGrain.contains).foreach(tf =>
      Fidelity.note("unsupported_timeframe",
        s"dimension_group '$gn' timeframe '$tf' has no native grain; dropped",
        source = Some("lookml")))
    val grains = frames.flatMap(TimeframeGrain.get).distinct
    Some(Dimension(
      name = gn,
      dimType = DimType.Time,
      sql = g.str("sql").map(substitute(_, lookup)),
      granularity = Some(if (grains.contains("day")) "day"
        else grains.headOption.getOrElse("day")),
      supportedGranularities = grains,
      label = g.str("label"),
      public = !g.str("hidden").contains("yes")))
  }

  // ------------------------------------------------------------------
  // measures
  // ------------------------------------------------------------------

  private val AggMap = Map(
    "count" -> "count", "count_distinct" -> "count_distinct",
    "sum" -> "sum", "sum_distinct" -> "sum", "average" -> "avg",
    "avg" -> "avg", "average_distinct" -> "avg", "min" -> "min",
    "max" -> "max", "median" -> "median")

  /** `[1.0 *] ${a} / NULLIF(${b}, 0)` — the standard LookML ratio idiom. */
  private val RatioRe =
    raw"(?i)^\s*(?:1\.0\s*\*\s*)?\$$\{(\w+)\}\s*/\s*NULLIF\(\s*\$$\{(\w+)\}\s*,\s*0\s*\)\s*$$".r

  private def parseMeasure(m: LObj, lookup: Map[String, String],
      measureNames: Set[String]): Option[Metric] = {
    val name = m.name.getOrElse(return None)
    val mtype = m.str("type").getOrElse("count")
    val rawSql = m.str("sql")
    val public = !m.str("hidden").contains("yes")
    val label = m.str("label")
    val filters = measureFilters(m)

    mtype match {
      case "number" =>
        rawSql.getOrElse(return None) match {
          case RatioRe(a, b) if measureNames(a) && measureNames(b) =>
            Some(Metric(name, metricType = Some("ratio"),
              numerator = Some(a), denominator = Some(b),
              label = label, public = public))
          case formula =>
            // derived only when every ${ref} is a measure on this view
            val refs = raw"\$$\{(\w+)\}".r.findAllMatchIn(formula)
              .map(_.group(1)).toSeq
            if (refs.nonEmpty && refs.forall(measureNames)) {
              val bare = raw"\$$\{(\w+)\}".r.replaceAllIn(formula, mm =>
                java.util.regex.Matcher.quoteReplacement(mm.group(1)))
              Some(Metric(name, metricType = Some("derived"),
                sql = Some(bare), label = label, public = public))
            } else { // dimension-mixing formula: no executable mapping
              Fidelity.note("dimension_mixing_formula",
                s"measure '$name' (type: number) references non-measure " +
                  "fields; no executable mapping, measure dropped",
                source = Some("lookml"))
              None
            }
        }
      case t =>
        if (t == "sum_distinct" || t == "average_distinct")
          Fidelity.note("distinct_aggregate_remap",
            s"measure '$name' type $t imports as ${AggMap(t)}; the engine's " +
              "fan-out symmetric aggregates replace sql_distinct_key",
            severity = "approximated", source = Some("lookml"))
        val lifted = AggMap.get(t).map { agg =>
          Metric(name, agg = Some(agg),
            sql = rawSql.map(substitute(_, lookup)).filter(_.nonEmpty),
            filters = filters, label = label, public = public)
        } // percentile / yesno / date measures drop rather than coerce
        if (lifted.isEmpty)
          Fidelity.note("unsupported_measure_type",
            s"measure '$name' type '$t' has no aggregate mapping; dropped",
            source = Some("lookml"))
        lifted
    }
  }

  /** Measure `filters` — both the shorthand (`filters: [f: "v"]`) and the
    * legacy block form (`filters: { field: f value: "v" }`). */
  private def measureFilters(m: LObj): Seq[String] = {
    val shorthand = m.list("filters").collect {
      case LPair(f, LStr(v)) => (f, v)
    }
    val blocks = m.all("filters").collect { case o: LObj => o }.flatMap(o =>
      for (f <- o.str("field"); v <- o.str("value")) yield (f, v))
    (shorthand ++ blocks).map { case (f, v) => lookerFilterToSql(f, v) }
  }

  // ------------------------------------------------------------------
  // Looker filter expression subset → SQL
  // (reference: lookml.py:1579-1800, trimmed to the representable core)
  // ------------------------------------------------------------------

  private[graft] def lookerFilterToSql(field: String, value: String): String = {
    val col = s"{model}.${field.split('.').last}"
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    def isNum(s: String) = s.matches(raw"[+-]?(\d+\.?\d*|\.\d+)")

    def single(raw0: String): String = {
      val v = raw0.trim
      v.toUpperCase match {
        case "NULL"   => return s"$col IS NULL"
        case "-NULL"  => return s"$col IS NOT NULL"
        case "EMPTY"  => return s"($col IS NULL OR $col = '')"
        case "-EMPTY" => return s"($col IS NOT NULL AND $col <> '')"
        case _        => ()
      }
      if (v.equalsIgnoreCase("yes")) return s"$col = true"
      if (v.equalsIgnoreCase("no")) return s"$col = false"
      raw"^(>=|<=|!=|<>|>|<)\s*(.+)$$".r.findFirstMatchIn(v) match {
        case Some(mm) =>
          val operand = mm.group(2).trim
          return s"$col ${mm.group(1)} ${if (isNum(operand)) operand else q(operand)}"
        case None => ()
      }
      raw"(?i)^(\S+)\s+to\s+(\S+)$$".r.findFirstMatchIn(v) match {
        case Some(mm) if isNum(mm.group(1)) && isNum(mm.group(2)) =>
          return s"($col >= ${mm.group(1)} AND $col <= ${mm.group(2)})"
        case _ => ()
      }
      if (v.startsWith("-") && !isNum(v)) {
        val inner = v.drop(1)
        return if (inner.contains("%") || inner.contains("_"))
          s"$col NOT LIKE ${q(inner)}"
        else s"$col != ${if (isNum(inner)) inner else q(inner)}"
      }
      if (v.contains("%")) return s"$col LIKE ${q(v)}"
      if (isNum(v)) s"$col = $v" else s"$col = ${q(v)}"
    }

    val parts = value.split(",").map(_.trim).filter(_.nonEmpty)
    if (parts.length <= 1) single(value)
    else {
      val (excludes, includes) = parts.partition(p =>
        (p.startsWith("-") && !isNum(p)) || p.toUpperCase == "NULL")
      val simpleIncludes = includes.filter(p =>
        !p.exists("<>!%_".contains(_)) && !p.equalsIgnoreCase("yes") &&
          !p.equalsIgnoreCase("no") && p.toUpperCase != "NULL" &&
          p.toUpperCase != "EMPTY")
      if (excludes.isEmpty && simpleIncludes.length == parts.length) {
        val lits = parts.map(p => if (isNum(p)) p else q(p))
        s"$col IN (${lits.mkString(", ")})"
      } else {
        val inc = includes.map(single)
        val exc = excludes.map(single)
        val incSql = if (inc.isEmpty) None
          else Some(if (inc.length == 1) inc.head else inc.mkString("(", " OR ", ")"))
        val excSql = if (exc.isEmpty) None
          else Some(exc.mkString(" AND "))
        Seq(incSql, excSql).flatten.mkString(" AND ")
      }
    }
  }

  // ------------------------------------------------------------------
  // explores → relationships
  // ------------------------------------------------------------------

  /** `join: X { sql_on: ${A.a} = ${X.x} ;; relationship: many_to_one }` —
    * the side naming X is the "to" side; the other view owns the edge. */
  private def parseJoin(j: LObj, base: String,
      modelNames: Set[String]): Option[(String, Relationship)] = {
    val to = j.name.getOrElse(return None)
    val target = j.str("from").getOrElse(to)
    if (!modelNames(target)) return None
    val relType = j.str("relationship").getOrElse("many_to_one") match {
      case r @ ("many_to_one" | "one_to_many" | "one_to_one" | "many_to_many") => r
      case _ => "many_to_one"
    }
    val sqlOn = j.str("sql_on").getOrElse(return None)

    val refs = raw"\$$\{(\w+)\.(\w+)\}".r.findAllMatchIn(sqlOn)
      .map(m => (m.group(1), m.group(2))).toSeq
    val residual = raw"\$$\{[\w.]+\}".r.replaceAllIn(sqlOn, "@")
      .replaceAll(raw"\s+", "")
    val simpleEq = residual == "@=@" && refs.length == 2

    if (simpleEq) {
      val (toSide, fromSide) = refs.partition(_._1 == target)
      for {
        (_, toCol) <- toSide.headOption
        (fromView, fromCol) <- fromSide.headOption
        if modelNames(fromView)
      } yield {
        // many_to_one: FK on the owning view; one_to_many: FK on the
        // related view (same convention as the catalog's join planner)
        val rel =
          if (relType == "one_to_many")
            Relationship(target, relType,
              foreignKey = Seq(toCol), primaryKey = Seq(fromCol))
          else
            Relationship(target, relType,
              foreignKey = Seq(fromCol), primaryKey = Seq(toCol))
        (fromView, rel)
      }
    } else {
      // complex condition: keep as {from}/{to} SQL when only two views appear
      val viewsInvolved = refs.map(_._1).distinct
      viewsInvolved.filterNot(_ == target) match {
        case Seq(fromView) if modelNames(fromView) =>
          val native = raw"\$$\{(\w+)\.(\w+)\}".r.replaceAllIn(sqlOn, m => {
            val side = if (m.group(1) == target) "to" else "from"
            java.util.regex.Matcher.quoteReplacement(s"{$side}.${m.group(2)}")
          })
          Some((fromView, Relationship(target, relType, sqlOn = Some(native))))
        case _ =>
          Fidelity.note("multi_view_join_condition",
            s"join to '$to': sql_on spans ${viewsInvolved.size} views; a " +
              "relationship holds exactly two sides, join dropped",
            source = Some("lookml"))
          None
      }
    }
  }
}
