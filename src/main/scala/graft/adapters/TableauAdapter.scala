package graft.adapters

import graft.load.YamlLoader
import graft.model._
import scala.xml.{Node, XML}

/** Importer for Tableau datasource/workbook definitions — .tds, .twb, and
  * their zip-packaged forms .tdsx/.twbx (reference:
  * sidemantic/adapters/tableau.py; fixtures tests/fixtures/tableau/).
  *
  * One `<datasource>` = one model:
  *   - `<relation type='table'>` → base table; `type='join'` trees →
  *     derived join SQL + many_to_one relationships; `type='text'` →
  *     custom SQL; union / batch-union → UNION ALL; pivot → Spark
  *     `UNPIVOT` derived SQL; subquery / stored-proc / project /
  *     text-transform wrappers resolve through their child
  *   - `<column>` → dimension (datatype map, date/datetime grains) or
  *     metric (aggregation map; `attr`/`none`/`user` pass through as
  *     derived; `formula='1'` with no agg is Tableau's "Number of
  *     Records" = COUNT(*))
  *   - calc formulas translate to Spark SQL (ZN→COALESCE, IIF/IF→CASE,
  *     CONTAINS→LIKE, DATEADD→TIMESTAMPADD, COUNTD→COUNT(DISTINCT …),
  *     double-quoted strings→single, + concat→||). LOD expressions
  *     (`{FIXED/INCLUDE/EXCLUDE …}`) and table-calc/user functions have
  *     no per-row SQL equivalent: the field imports hidden with NULL sql
  *     so raw Tableau syntax can never reach generated queries
  *   - `<metadata-records>` backfill types/aggs and import uncustomized
  *     physical columns; `<drill-paths>` become dimension parent chains;
  *     `<group>` elements become segments (IN-list filters)
  *
  * The reference emits DuckDB SQL; here every derived/translated fragment
  * is Spark SQL because the Generator executes it with spark.sql.
  */
object TableauAdapter {

  // ---- type & aggregation maps (ref tableau.py:19-47) ----

  private val DatatypeMap: Map[String, DimType] = Map(
    "string" -> DimType.Categorical, "integer" -> DimType.Numeric,
    "real" -> DimType.Numeric, "date" -> DimType.Time,
    "datetime" -> DimType.Time, "boolean" -> DimType.Bool,
    "spatial" -> DimType.Categorical)

  private val DatatypeGranularity = Map("date" -> "day", "datetime" -> "hour")

  private val AggregationMap = Map(
    "sum" -> "sum", "avg" -> "avg", "count" -> "count",
    "countd" -> "count_distinct", "min" -> "min", "max" -> "max",
    "median" -> "median")

  private val PassthroughAggs = Set("attr", "none", "user")

  private val TableCalcFuncs = Set(
    "RUNNING_SUM", "RUNNING_AVG", "RUNNING_COUNT", "RUNNING_MIN",
    "RUNNING_MAX", "LOOKUP", "INDEX", "FIRST", "LAST", "SIZE",
    "WINDOW_SUM", "WINDOW_AVG", "WINDOW_MIN", "WINDOW_MAX", "WINDOW_COUNT",
    "WINDOW_MEDIAN", "WINDOW_STDEV", "WINDOW_VAR", "PREVIOUS_VALUE",
    "RANK", "RANK_DENSE", "RANK_MODIFIED", "RANK_PERCENTILE", "RANK_UNIQUE")

  private val TableauOnlyFuncs = Set(
    "ISMEMBEROF", "USERNAME", "USERDOMAIN", "FULLNAME", "ISFULLDATETIME",
    "RAWSQLAGG_REAL", "RAWSQLAGG_STR", "RAWSQL_REAL", "RAWSQL_STR",
    "RAWSQL_INT", "RAWSQL_BOOL", "RAWSQL_DATE", "RAWSQL_DATETIME")

  // ---- public API ----

  /** Parse one file (.tds/.twb/.tdsx/.twbx) or a directory of them. */
  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Seq[Model] = {
    val f = new java.io.File(path)
    val lower = f.getName.toLowerCase
    if (f.isDirectory)
      f.listFiles().sortBy(_.getName).toSeq
        .filter(x => Seq(".tds", ".twb", ".tdsx", ".twbx")
          .exists(x.getName.toLowerCase.endsWith))
        .flatMap(x => loadFile(x.getPath, resolve))
    else if (lower.endsWith(".tdsx") || lower.endsWith(".twbx"))
      parseZip(f, resolve)
    else parseXmlRoot(XML.loadFile(f), resolve)
  }

  def parseString(xml: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Seq[Model] =
    parseXmlRoot(XML.loadString(xml), resolve)

  /** .tdsx/.twbx packages: a .twbx prefers its workbook member over any
    * packaged datasource; a .tdsx the reverse (ref tableau.py:1466-1484). */
  private def parseZip(f: java.io.File,
      resolve: YamlLoader.TableResolver): Seq[Model] = {
    val zf = new java.util.zip.ZipFile(f)
    try {
      import scala.jdk.CollectionConverters._
      val entries = zf.entries().asScala.toSeq
        .filter(e => !e.isDirectory &&
          (e.getName.toLowerCase.endsWith(".tds") ||
            e.getName.toLowerCase.endsWith(".twb")))
        .sortBy(_.getName)
      val preferred =
        if (f.getName.toLowerCase.endsWith(".twbx")) Seq(".twb", ".tds")
        else Seq(".tds", ".twb")
      preferred.view.flatMap { suffix =>
        entries.find(_.getName.toLowerCase.endsWith(suffix)).map { e =>
          parseXmlRoot(XML.load(zf.getInputStream(e)), resolve)
        }
      }.headOption.getOrElse(Seq.empty)
    } finally zf.close()
  }

  private def parseXmlRoot(root: Node,
      resolve: YamlLoader.TableResolver): Seq[Model] =
    root.label match {
      case "datasource" => parseDatasource(root, resolve).toSeq
      case "workbook" =>
        (root \ "datasources" \ "datasource")
          // the synthetic Parameters datasource carries no model
          .filterNot(ds => dsName(ds).exists(_.equalsIgnoreCase("parameters")))
          .flatMap(parseDatasource(_, resolve))
      case _ => Seq.empty
    }

  private def dsName(ds: Node): Option[String] =
    attr(ds, "formatted-name").orElse(attr(ds, "name")).orElse(attr(ds, "caption"))

  // ---- datasource → Model ----

  private def parseDatasource(ds: Node,
      resolve: YamlLoader.TableResolver): Option[Model] = {
    val name = dsName(ds).getOrElse(return None)

    var table: Option[String] = None
    var sql: Option[String] = None
    var relationships: Seq[Relationship] = Nil

    (ds \ "connection").headOption
      .flatMap(conn => (conn \\ "relation").headOption).foreach { rel =>
        attr(rel, "type").getOrElse("") match {
          case "table" => table = extractTableName(rel)
          case "join" =>
            val (base, joins) = parseRelationTree(rel)
            if (joins.nonEmpty) {
              sql = buildJoinSql(base, joins)
              relationships = extractRelationships(joins)
            } else table = base
          case "text" =>
            sql = Some(rel.text.trim).filter(_.nonEmpty).orElse(attr(rel, "table"))
          case t if t == "union" || t == "batch-union" =>
            sql = buildUnionSql(rel)
          case "pivot" =>
            sql = buildPivotSql(rel)
            if (sql.isEmpty) table = parseRelationTree(rel)._1
          case "subquery" | "stored-proc" | "project" | "text-transform" =>
            val (base, joins) = parseRelationTree(rel)
            if (joins.nonEmpty) {
              sql = buildJoinSql(base, joins)
              relationships = extractRelationships(joins)
            } else base match {
              case Some(b) if b.startsWith("(") || b.contains(" ") =>
                sql = Some(stripDerivedAlias(b))
              case other => table = other
            }
          case _ => ()
        }
      }

    val metadata = buildMetadataLookup(ds)

    var dims = Vector.empty[Dimension]
    var mets = Vector.empty[Metric]
    var seen = Set.empty[String]
    (ds \ "column").foreach { c =>
      parseColumn(c, metadata).foreach {
        case Left(d)  => dims :+= d; seen += d.name
        case Right(m) => mets :+= m; seen += m.name
      }
    }

    // uncustomized physical columns exist only in metadata-records
    // (ref tableau.py:1404-1444)
    metadata.foreach { case (localName, info) =>
      val colName = normalizeColumnName(localName)
      if (!seen(colName)) {
        val aggLower = info.getOrElse("aggregation", "").toLowerCase
        val localType = info.get("local_type")
        val colSql = quoteIfNeeded(info.getOrElse("remote_alias", colName))
        if (Set("sum", "avg", "min", "max", "median")(aggLower) &&
            localType.exists(Set("real", "integer")))
          mets :+= Metric(colName, agg = AggregationMap.get(aggLower),
            sql = Some(colSql))
        else
          dims :+= Dimension(colName,
            dimType = DatatypeMap.getOrElse(localType.getOrElse(""), DimType.Categorical),
            sql = Some(colSql),
            granularity = localType.flatMap(DatatypeGranularity.get))
        seen += colName
      }
    }

    // drill paths → parent chains (ref tableau.py:1446-1464)
    val parents: Map[String, String] = (ds \ "drill-paths" \ "drill-path")
      .flatMap { dp =>
        val fields = (dp \ "field").map(f => normalizeColumnName(f.text)).filter(_.nonEmpty)
        fields.sliding(2).collect { case Seq(p, c) => c -> p }
      }.toMap
    dims = dims.map(d => parents.get(d.name).fold(d)(p => d.copy(parent = Some(p))))

    val segments = parseGroupsAsSegments(ds)
    val pk = inferPrimaryKey(dims.map(_.name) ++ mets.map(_.name))

    val source = sql.map(ModelSource.SqlView)
      .getOrElse(resolve(table.getOrElse(name)))
    Some(Model(name = name, source = source, primaryKey = Seq(pk),
      dimensions = dims, metrics = mets, relationships = relationships,
      segments = segments))
  }

  // ---- columns ----

  private def parseColumn(c: Node,
      metadata: Map[String, Map[String, String]]): Option[Either[Dimension, Metric]] = {
    val rawName = attr(c, "name").getOrElse(return None)
    val colName = normalizeColumnName(rawName)
    val role = attr(c, "role")
    val caption = attr(c, "caption")
    var hidden = attr(c, "hidden").exists(_.equalsIgnoreCase("true"))
    val meta = metadata.getOrElse(rawName, Map.empty)
    val datatype = attr(c, "datatype").orElse(meta.get("local_type"))
    val aggregation = attr(c, "aggregation").orElse(meta.get("aggregation"))
    val formula = (c \ "calculation").headOption.flatMap(attr(_, "formula"))

    val (sqlExpr, translatable) = formula match {
      case Some(f) => translateFormula(f)
      case None    => (None, true)
    }
    // untranslatable (LOD / table calc): non-queryable, never emit raw
    // Tableau syntax (ref tableau.py:1268-1272)
    val safeSql = if (!translatable) { hidden = true; Some("NULL") } else sqlExpr

    if (role.contains("measure"))
      Some(Right(buildMetric(colName, aggregation, safeSql, caption, hidden,
        translatable, formula)))
    else
      Some(Left(Dimension(colName,
        dimType = DatatypeMap.getOrElse(datatype.getOrElse(""), DimType.Categorical),
        sql = Some(safeSql.getOrElse(quoteIfNeeded(colName))),
        granularity = datatype.flatMap(DatatypeGranularity.get),
        label = caption, public = !hidden)))
  }

  private def buildMetric(name: String, aggregation: Option[String],
      sql: Option[String], caption: Option[String], hidden: Boolean,
      translatable: Boolean, formula: Option[String]): Metric = {
    val aggLower = aggregation.getOrElse("").toLowerCase
    val mapped = AggregationMap.get(aggLower)
    // "Number of Records": formula='1' with no aggregation = COUNT(*)
    if (formula.exists(_.trim == "1") && mapped.isEmpty && !PassthroughAggs(aggLower))
      return Metric(name, agg = Some("count"), label = caption, public = !hidden)
    val sqlOrName = sql.orElse(if (formula.isEmpty) Some(quoteIfNeeded(name)) else None)
    if (PassthroughAggs(aggLower) || !translatable)
      Metric(name, metricType = Some("derived"),
        sql = Some(if (!translatable) "NULL" else sqlOrName.getOrElse(name)),
        label = caption, public = !hidden)
    else
      Metric(name, agg = mapped, sql = sqlOrName, label = caption, public = !hidden)
  }

  // ---- metadata-records ----

  private def buildMetadataLookup(ds: Node): Map[String, Map[String, String]] =
    (ds \\ "metadata-record").filter(r => attr(r, "class").contains("column"))
      .flatMap { r =>
        (r \ "local-name").headOption.map(_.text).filter(_.nonEmpty).map { localName =>
          val info = Seq(
            "local_type" -> (r \ "local-type").headOption.map(_.text),
            "aggregation" -> (r \ "aggregation").headOption.map(_.text),
            "remote_alias" -> (r \ "remote-alias").headOption.map(_.text),
            "parent_name" -> (r \ "parent-name").headOption.map(_.text)
          ).collect { case (k, Some(v)) if v.nonEmpty => k -> v }.toMap
          localName -> info
        }
      }.toMap

  // ---- relations ----

  private def extractTableName(rel: Node): Option[String] =
    attr(rel, "table").map(stripBrackets).orElse(attr(rel, "name"))

  private final case class JoinInfo(rightTable: String, rightQualified: String,
      joinType: String, columnPairs: Seq[(String, String)])

  /** Recursive relation tree → (base source, joins) (ref tableau.py:1794). */
  private def parseRelationTree(rel: Node): (Option[String], Seq[JoinInfo]) =
    attr(rel, "type").getOrElse("") match {
      case "table" => (extractTableName(rel), Nil)
      case "text" | "subquery" =>
        val name = attr(rel, "name").getOrElse("")
        val body = rel.text.trim
        if (body.nonEmpty && name.nonEmpty)
          (Some(s"($body) AS ${quoteIfNeeded(name)}"), Nil)
        else (Some(name).filter(_.nonEmpty).orElse(Some(body).filter(_.nonEmpty)), Nil)
      case "stored-proc" =>
        val spName = (rel \ "actual-name").headOption.map(_.text)
          .orElse(attr(rel, "stored-proc")).orElse(attr(rel, "name"))
        (spName.map(stripBrackets), Nil)
      case t if t == "union" || t == "batch-union" =>
        buildUnionSql(rel) match {
          case Some(u) =>
            val name = attr(rel, "name").getOrElse("")
            val alias = if (name.nonEmpty) s" AS ${quoteIfNeeded(name)}" else ""
            (Some(s"($u)$alias"), Nil)
          case None => (None, Nil)
        }
      case "pivot" | "project" | "text-transform" =>
        childRelations(rel).headOption match {
          case Some(child) => parseRelationTree(child)
          case None        => (extractTableName(rel), Nil)
        }
      case "join" =>
        val joinType = Map("inner" -> "inner", "left" -> "left",
          "right" -> "right", "full" -> "full", "cross" -> "cross")
          .getOrElse(attr(rel, "join").getOrElse("inner").toLowerCase, "inner")
        val pairs = (rel \ "clause" \ "expression").headOption
          .map(extractJoinColumns).getOrElse(Nil)
        val children = childRelations(rel)
        if (children.length < 2) (None, Nil)
        else {
          val (leftTable, leftJoins) = parseRelationTree(children(0))
          val (rightTable, rightJoins) = parseRelationTree(children(1))
          val rightQualified = rightTable.getOrElse("")
          val rightName = rightTable.map(_.split('.').last).getOrElse("")
          (leftTable, leftJoins ++ rightJoins :+
            JoinInfo(rightName, rightQualified, joinType, pairs))
        }
      case _ => (None, Nil)
    }

  private def childRelations(rel: Node): Seq[Node] =
    rel.child.filter(_.label == "relation")

  /** `<expression op='='><expression op='[t].[c]'/>…</expression>` →
    * column pairs; AND nodes recurse (ref tableau.py:892). */
  private def extractJoinColumns(expr: Node): Seq[(String, String)] =
    attr(expr, "op").getOrElse("") match {
      case "=" =>
        val ops = (expr \ "expression").flatMap(attr(_, "op"))
        if (ops.length == 2) Seq((stripBrackets(ops(0)), stripBrackets(ops(1))))
        else Nil
      case "AND" => (expr \ "expression").flatMap(extractJoinColumns)
      case _     => Nil
    }

  private def buildJoinSql(base: Option[String], joins: Seq[JoinInfo]): Option[String] =
    base.filter(_ => joins.nonEmpty).map { b =>
      val parts = Seq(s"SELECT * FROM $b") ++ joins.filter(_.columnPairs.nonEmpty)
        .flatMap { j =>
          val on = j.columnPairs
            .map { case (l, r) => s"${quoteColRef(l)} = ${quoteColRef(r)}" }
            .mkString(" AND ")
          Seq(s"${j.joinType.toUpperCase} JOIN ${j.rightQualified}", s"ON $on")
        }
      parts.mkString("\n")
    }

  private def buildUnionSql(rel: Node): Option[String] = {
    val selects = childRelations(rel).flatMap { m =>
      parseRelationTree(m) match {
        case (Some(src), Nil) => Some(s"SELECT * FROM $src")
        case _                => None
      }
    }
    if (selects.length >= 2) Some(selects.mkString("\nUNION ALL\n"))
    else selects.headOption
  }

  /** Tableau pivots reshape wide columns into "Pivot Field Names"/"Pivot
    * Field Values"; Spark's UNPIVOT clause expresses this natively (the
    * reference emits DuckDB UNPIVOT — ref tableau.py:1930-1977). */
  private def buildPivotSql(rel: Node): Option[String] = {
    val child = childRelations(rel).headOption.getOrElse(return None)
    val (childTable, childJoins) = parseRelationTree(child)
    val base = childTable.getOrElse(return None)
    if (childJoins.nonEmpty || base.startsWith("(") || base.contains(" ")) return None
    val sourceCols = (rel \\ "pivot-source-column").map(_.text.trim).filter(_.nonEmpty)
      .map(normalizeColumnName)
    if (sourceCols.isEmpty) return None
    var nameCol = "Pivot Field Names"
    var valueCol = "Pivot Field Values"
    rel.child.filter(_.label == "pivot-column").flatMap(attr(_, "name"))
      .map(normalizeColumnName).foreach { out =>
        if (out.toLowerCase.contains("name")) nameCol = out
        else if (out.toLowerCase.contains("value")) valueCol = out
      }
    val onCols = sourceCols.map(quoteIdent).mkString(", ")
    Some(s"SELECT * FROM $base UNPIVOT (${quoteIdent(valueCol)} " +
      s"FOR ${quoteIdent(nameCol)} IN ($onCols))")
  }

  private def extractRelationships(joins: Seq[JoinInfo]): Seq[Relationship] =
    joins.filter(_.columnPairs.nonEmpty).map { j =>
      val (l, r) = j.columnPairs.head
      Relationship(
        to = j.rightTable,
        relType = if (j.joinType == "full") "many_to_many" else "many_to_one",
        foreignKey = Seq(l.split('.').last),
        primaryKey = Seq(r.split('.').last))
    }

  // ---- groups / primary key ----

  private def parseGroupsAsSegments(ds: Node): Seq[Segment] =
    (ds \ "group").flatMap { g =>
      val memberFilters = (g \\ "groupfilter")
        .filter(gf => attr(gf, "function").contains("member"))
      val members = memberFilters.flatMap(attr(_, "member"))
      val level = memberFilters.flatMap(attr(_, "level")).headOption
        .map(normalizeColumnName)
      (attr(g, "name"), members.headOption, level) match {
        case (Some(name), Some(_), Some(col)) =>
          val quoted = members.map(m => s"'${m.replace("'", "''")}'").mkString(", ")
          Some(Segment(name, s"${quoteIfNeeded(col)} IN ($quoted)"))
        case _ => None
      }
    }

  /** Name-shape ranking: id > rowid > *_id > *key (ref tableau.py:1721). */
  private def inferPrimaryKey(fields: Seq[String]): String = {
    def rank(f: String): Int = {
      val l = f.toLowerCase
      if (l == "id") 0
      else if (l == "row id" || l == "rowid") 1
      else if (l.endsWith("_id") || l.endsWith(" id")) 2
      else if (l.endsWith("key")) 3
      else 99
    }
    val scored = fields.filter(rank(_) < 99)
    if (scored.nonEmpty) scored.minBy(rank)
    else fields.headOption.getOrElse("id")
  }

  // ---- names & quoting ----

  private def attr(n: Node, name: String): Option[String] =
    n.attribute(name).map(_.text).filter(_.nonEmpty)

  private def stripBrackets(s: String): String =
    s.replace("[", "").replace("]", "")

  /** Strip a trailing `AS <alias>` from a derived-relation expression so
    * the generator's own `(sql) AS t` wrapping can't double-alias it. */
  private def stripDerivedAlias(s: String): String = {
    val m = raw"(?is)^\((.*)\)\s+AS\s+\S+\s*$$".r
    s match { case m(inner) => inner; case _ => s }
  }

  /** `[calc]`→calc; `[t].[c]`→c; `none:Name:nk`→Name (ref tableau.py:640). */
  private def normalizeColumnName(name: String): String = {
    val stripped = stripBrackets(name)
    val colonParts = stripped.split(':')
    val base =
      if (colonParts.length >= 2)
        (if (colonParts.length > 2) colonParts.slice(1, colonParts.length - 1).mkString(":")
         else colonParts(1))
      else stripped
    if (base.contains('.')) base.split('.').last else base
  }

  private val SimpleIdent = raw"^[A-Za-z_][A-Za-z0-9_]*$$".r

  private def quoteIdent(s: String): String = "`" + s.replace("`", "") + "`"

  private def quoteIfNeeded(s: String): String =
    if (SimpleIdent.matches(s)) s else quoteIdent(s)

  private def quoteColRef(qualified: String): String = {
    // drop the table qualifier: the generated SELECT * flattens the scope
    val col = qualified.split('.').last
    quoteIfNeeded(col)
  }

  // ================= formula translation =================

  /** Tableau calc → Spark SQL. Returns (sql, translatable): untranslatable
    * formulas (LOD, table calcs, user functions) keep (None, false). */
  def translateFormula(formula: String): (Option[String], Boolean) = {
    val stripped = stripComments(formula)
    val lexical = maskStrings(stripped)
    if (raw"(?i)\{\s*(FIXED|INCLUDE|EXCLUDE)\b".r.findFirstIn(lexical).isDefined) {
      graft.load.Fidelity.note("lod_expression",
        "LOD expression ({FIXED/INCLUDE/EXCLUDE ...}) has no per-row SQL " +
          "equivalent; field imported hidden with NULL sql",
        severity = "unsupported", source = Some("tableau"))
      return (None, false)
    }
    val called = raw"\b([A-Za-z_]+)\s*\(".r.findAllMatchIn(lexical)
      .map(_.group(1).toUpperCase).toSet
    val untranslatable = called.filter(f => TableCalcFuncs(f) || TableauOnlyFuncs(f))
    if (untranslatable.nonEmpty) {
      graft.load.Fidelity.note("table_calc_function",
        s"formula uses ${untranslatable.toSeq.sorted.mkString("/")} — no " +
          "per-row SQL equivalent; field imported hidden with NULL sql",
        severity = "unsupported", source = Some("tableau"))
      return (None, false)
    }

    var r = replaceFieldRefs(stripped.trim)
    r = replaceBalanced(r, "ZN", a => s"COALESCE($a, 0)")
    r = raw"(?i)\bIFNULL\s*\(".r.replaceAllIn(r, "COALESCE(")
    r = replaceBalanced(r, "ISNULL", a => s"($a IS NULL)")
    r = translateIif(r)
    r = translateIfThen(r)
    r = translateContains(r)
    r = raw"(?i)\bDATETRUNC\s*\(".r.replaceAllIn(r, "DATE_TRUNC(")
    r = replaceBalanced(r, "COUNTD", a => s"COUNT(DISTINCT $a)")
    r = raw"(?i)\bLEN\s*\(".r.replaceAllIn(r, "LENGTH(")
    r = replaceBalanced(r, "INT", a => s"CAST($a AS INT)")
    r = replaceBalanced(r, "FLOAT", a => s"CAST($a AS DOUBLE)")
    r = replaceBalanced(r, "STR", a => s"CAST($a AS STRING)")
    r = translateDateAdd(r)
    // simple renames to Spark function names
    r = raw"(?i)\bMID\s*\(".r.replaceAllIn(r, "SUBSTRING(")
    r = raw"(?i)\bFIND\s*\(".r.replaceAllIn(r, "INSTR(")
    r = raw"(?i)\bSTARTSWITH\s*\(".r.replaceAllIn(r, "STARTSWITH(")
    r = raw"(?i)\bENDSWITH\s*\(".r.replaceAllIn(r, "ENDSWITH(")
    r = raw"(?i)\bCHAR\s*\(".r.replaceAllIn(r, "CHR(")
    r = raw"(?i)\bMAKEDATETIME\s*\(".r.replaceAllIn(r, "MAKE_TIMESTAMP(")
    r = raw"(?i)\bMAKEDATE\s*\(".r.replaceAllIn(r, "MAKE_DATE(")
    r = convertDoubleQuotes(r)
    r = convertStringConcat(r)
    (Some(r), true)
  }

  /** Strip // comments, string-literal-aware (ref tableau.py:393). */
  private def stripComments(text: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < text.length) {
      val c = text(i)
      if (c == '\'' || c == '"') {
        out.append(c); i += 1
        var done = false
        while (i < text.length && !done) {
          if (text(i) == c) {
            if (i + 1 < text.length && text(i + 1) == c) {
              out.append(c).append(c); i += 2
            } else { out.append(c); i += 1; done = true }
          } else { out.append(text(i)); i += 1 }
        }
      } else if (c == '/' && i + 1 < text.length && text(i + 1) == '/') {
        while (i < text.length && text(i) != '\n') i += 1
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Blank out string literal contents so lexical checks can't be fooled
    * by Tableau syntax inside strings. */
  private def maskStrings(text: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < text.length) {
      val c = text(i)
      if (c == '\'' || c == '"') {
        out.append(c); i += 1
        while (i < text.length && text(i) != c) { out.append(' '); i += 1 }
        if (i < text.length) { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** `[Field]` / `[t].[c]` → column name, skipping string literals. */
  private def replaceFieldRefs(formula: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < formula.length) {
      val c = formula(i)
      if (c == '\'' || c == '"') {
        out.append(c); i += 1
        var done = false
        while (i < formula.length && !done) {
          out.append(formula(i))
          if (formula(i) == c &&
              !(i + 1 < formula.length && formula(i + 1) == c)) done = true
          i += 1
        }
      } else if (c == '[') {
        val end = formula.indexOf(']', i + 1)
        if (end < 0) { out.append(c); i += 1 }
        else {
          var field = formula.substring(i + 1, end)
          var next = end + 1
          if (end + 2 < formula.length && formula(end + 1) == '.' &&
              formula(end + 2) == '[') {
            val end2 = formula.indexOf(']', end + 3)
            if (end2 >= 0) { field = formula.substring(end + 3, end2); next = end2 + 1 }
          }
          out.append(quoteIfNeeded(normalizeColumnName(field)))
          i = next
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  // Not `Brackets.closing`: Tableau formulas escape a quote by doubling it.
  private def findMatchingParen(s: String, openPos: Int): Int = {
    var depth = 0; var i = openPos
    var inString = false; var stringChar = ' '
    while (i < s.length) {
      val c = s(i)
      if (inString) {
        if (c == stringChar) {
          if (i + 1 < s.length && s(i + 1) == stringChar) i += 1
          else inString = false
        }
      } else if (c == '\'' || c == '"') { inString = true; stringChar = c }
      else if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    -1
  }

  private def splitArgsBalanced(text: String): Seq[String] = {
    var args = Vector.empty[String]
    val cur = new StringBuilder
    var depth = 0; var inString = false; var stringChar = ' '
    text.foreach { c =>
      if (inString) { cur.append(c); if (c == stringChar) inString = false }
      else if (c == '\'' || c == '"') { inString = true; stringChar = c; cur.append(c) }
      else if (c == '(') { depth += 1; cur.append(c) }
      else if (c == ')') { depth -= 1; cur.append(c) }
      else if (c == ',' && depth == 0) { args :+= cur.toString.trim; cur.clear() }
      else cur.append(c)
    }
    if (cur.nonEmpty) args :+= cur.toString.trim
    args
  }

  /** Replace FUNC(arg) via balanced-paren matching, repeatedly. */
  private def replaceBalanced(text: String, func: String,
      render: String => String): String = {
    val re = raw"(?i)\b$func\s*\(".r
    var result = text
    var changed = true
    while (changed) {
      changed = false
      re.findFirstMatchIn(result).foreach { m =>
        val open = m.end - 1
        val close = findMatchingParen(result, open)
        if (close >= 0) {
          val arg = result.substring(open + 1, close).trim
          result = result.substring(0, m.start) + render(arg) +
            result.substring(close + 1)
          changed = true
        }
      }
    }
    result
  }

  private def translateIif(text: String): String =
    replaceArgsFunc(text, "IIF", args =>
      if (args.length >= 3)
        Some(s"CASE WHEN ${args(0)} THEN ${args(1)} ELSE ${args(2)} END")
      else None)

  private def translateContains(text: String): String =
    replaceArgsFunc(text, "CONTAINS", args =>
      if (args.length >= 2) Some(s"${args(0)} LIKE '%' || ${args(1)} || '%'")
      else None)

  private def translateDateAdd(text: String): String =
    replaceArgsFunc(text, "DATEADD", args =>
      if (args.length >= 3) {
        val unit = args(0).replaceAll("['\"]", "").toLowerCase
        Some(s"TIMESTAMPADD($unit, ${args(1)}, ${args(2)})")
      } else None)

  private def replaceArgsFunc(text: String, func: String,
      render: Seq[String] => Option[String]): String = {
    val re = raw"(?i)\b$func\s*\(".r
    var result = text
    var scan = true
    while (scan) {
      scan = false
      re.findFirstMatchIn(result).foreach { m =>
        val open = m.end - 1
        val close = findMatchingParen(result, open)
        if (close >= 0) {
          render(splitArgsBalanced(result.substring(open + 1, close))).foreach { rep =>
            result = result.substring(0, m.start) + rep + result.substring(close + 1)
            scan = true
          }
        }
      }
    }
    result
  }

  /** IF c THEN t [ELSEIF c2 THEN t2]* [ELSE e] END → CASE WHEN … */
  private def translateIfThen(text: String): String = {
    val ifRe = raw"(?is)\bIF\s+(.+?)\s+THEN\b".r
    var result = text
    var prev = ""
    while (prev != result) {
      prev = result
      result = ifRe.replaceAllIn(result,
        m => java.util.regex.Matcher.quoteReplacement(
          s"CASE WHEN ${m.group(1)} THEN"))
      result = raw"(?i)\bELSEIF\b".r.replaceAllIn(result, "WHEN")
    }
    result
  }

  /** Tableau "strings" → SQL 'strings' (ref tableau.py:344). */
  private def convertDoubleQuotes(text: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < text.length) {
      val c = text(i)
      if (c == '\'') {
        out.append(c); i += 1
        var done = false
        while (i < text.length && !done) {
          out.append(text(i))
          if (text(i) == '\'' &&
              !(i + 1 < text.length && text(i + 1) == '\'')) done = true
          i += 1
        }
      } else if (c == '"') {
        out.append('\''); i += 1
        var done = false
        while (i < text.length && !done) {
          if (text(i) == '"') {
            if (i + 1 < text.length && text(i + 1) == '"') {
              out.append('"'); i += 2
            } else { out.append('\''); i += 1; done = true }
          } else if (text(i) == '\'') { out.append("''"); i += 1 }
          else { out.append(text(i)); i += 1 }
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** `+` next to a string literal or STRING cast → `||`. */
  private def convertStringConcat(text: String): String = {
    var result = text
    var prev = ""
    while (prev != result) {
      prev = result
      result = result.replaceAll(raw"('\s*)\+(\s*)", "$1||$2")
      result = result.replaceAll(raw"(\s*)\+(\s*')", "$1||$2")
      result = result.replaceAll(raw"(?i)(AS\s+STRING\)\s*)\+(\s*)", "$1||$2")
    }
    result
  }
}
