package graft.adapters

import graft.load.{YamlLoader, YamlTree}
import graft.load.YamlTree.{mapOf, seqOfMaps}
import graft.model._

/** Importer for ThoughtSpot TML objects (reference:
  * sidemantic/adapters/thoughtspot.py; fixtures
  * tests/fixtures/thoughtspot/).
  *
  *   - `*.table.tml` → one model over `db_table`: ATTRIBUTE columns are
  *     dimensions (types from `data_type` or `db_column_properties`,
  *     `default_date_bucket` → granularity), MEASURE columns are
  *     aggregations via the TML aggregation map
  *   - `*.model.tml` (v2) / `*.worksheet.tml` → ONE model whose source
  *     is a derived join of the underlying tables — the reference's
  *     flattened-column strategy: every referenced `table::column`
  *     projects as `table__column`, measures and formulas evaluate over
  *     those flattened names. Role-playing `alias:`/`id:` table entries
  *     join the same physical table twice under different names;
  *     worksheet `table_paths` ids map back to their table; non-equi and
  *     range join conditions pass through into the ON clause verbatim
  *   - formulas inline recursively (a formula referencing another
  *     formula expands to physical columns — reference regression
  *     test_thoughtspot_nested_formula_ref_is_inlined_and_queryable);
  *     bare `[name]` references resolve formula-first, then through the
  *     TML column definitions; unbracketed `table.column` references
  *     flatten the same way
  * Liveboards carry no executable semantics and import as nothing.
  */
object ThoughtSpotAdapter {

  final case class Imported(models: Seq[Model])

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported =
    loadString(YamlTree.readText(path), resolve)

  def loadDirectory(dir: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".tml")).sortBy(_.getName)
    Imported(files.toSeq.flatMap(f => loadFile(f.getPath, resolve).models))
  }

  def loadString(yaml: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val root = mapOf(Option(YamlTree.parse(yaml))).getOrElse(return Imported(Nil))
    root.get("table") match {
      case Some(t: Map[_, _]) =>
        Imported(parseTable(t.asInstanceOf[Map[String, Any]], resolve).toSeq)
      case _ =>
        val ws = root.get("model").orElse(root.get("worksheet"))
        ws match {
          case Some(w: Map[_, _]) =>
            Imported(parseJoined(w.asInstanceOf[Map[String, Any]], resolve).toSeq)
          case _ => Imported(Nil) // liveboard / answer objects
        }
    }
  }

  // ------------------------------------------------------------------
  // physical table TML
  // ------------------------------------------------------------------

  private val AggMap = Map("SUM" -> "sum", "AVERAGE" -> "avg", "AVG" -> "avg",
    "COUNT" -> "count", "COUNT_DISTINCT" -> "count_distinct",
    "UNIQUE_COUNT" -> "count_distinct", "MIN" -> "min", "MAX" -> "max",
    "MEDIAN" -> "median", "STD_DEVIATION" -> "stddev", "VARIANCE" -> "variance")

  private val BucketGrain = Map("HOURLY" -> "hour", "DAILY" -> "day",
    "WEEKLY" -> "week", "MONTHLY" -> "month", "QUARTERLY" -> "quarter",
    "YEARLY" -> "year")

  private def parseTable(t: Map[String, Any],
      resolve: YamlLoader.TableResolver): Option[Model] = {
    val name = t.get("name").orElse(t.get("id")).map(_.toString)
      .getOrElse(return None)
    val table = t.get("db_table").map(_.toString).getOrElse(name)
    var dims = Vector.empty[Dimension]
    var mets = Vector.empty[Metric]
    seqOfMaps(t.get("columns")).foreach { c =>
      val cn = c.get("name").map(_.toString).getOrElse("")
      if (cn.nonEmpty) {
        val props = mapOf(c.get("properties")).getOrElse(Map.empty)
        val dbProps = mapOf(c.get("db_column_properties")).getOrElse(Map.empty)
        val dataType = c.get("data_type").orElse(dbProps.get("data_type"))
          .map(_.toString.toUpperCase).getOrElse("")
        val src = c.get("db_column_name").map(_.toString).getOrElse(cn)
        props.get("column_type").map(_.toString) match {
          case Some("MEASURE") =>
            val agg = props.get("aggregation").map(_.toString.toUpperCase)
              .flatMap(AggMap.get).getOrElse("sum")
            mets :+= Metric(cn, agg = Some(agg), sql = Some(src))
          case _ =>
            val bucket = props.get("default_date_bucket").map(_.toString)
            val isTime = Set("DATE", "DATETIME", "TIMESTAMP").contains(dataType)
            dims :+= Dimension(cn,
              if (isTime) DimType.Time
              else if (dataType == "BOOLEAN") DimType.Bool
              else if (Set("INT64", "INT32", "DOUBLE", "FLOAT", "DECIMAL")
                  .contains(dataType)) DimType.Numeric
              else DimType.Categorical,
              sql = Some(src).filter(_ != cn),
              granularity =
                if (isTime)
                  bucket.flatMap(BucketGrain.get)
                    .orElse(Some(if (dataType == "DATE") "day" else "hour"))
                else None)
        }
      }
    }
    // table-level joins_with → relationship edges on this table
    val EqOn = raw"^\s*\[[^:\]]+::([^\]]+)\]\s*=\s*\[[^:\]]+::([^\]]+)\]\s*$$".r
    val rels = seqOfMaps(t.get("joins_with")).flatMap { j =>
      val dest = j.get("destination") match {
        case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
          .get("name").map(_.toString)
        case Some(s2) => Some(s2.toString)
        case None => None
      }
      val oneToOne = j.get("is_one_to_one").exists(_.toString.toBoolean)
      for (dn <- dest; on <- onClause(j)) yield on match {
        case EqOn(fk, pk) => Relationship(dn,
          if (oneToOne) "one_to_one" else "many_to_one",
          foreignKey = Seq(fk), primaryKey = Seq(pk))
        case _ => Relationship(dn,
          if (oneToOne) "one_to_one" else "many_to_one", sqlOn = Some(on))
      }
    }
    Some(Model(name = name, source = resolve(table),
      dimensions = dims, metrics = mets, relationships = rels))
  }

  // ------------------------------------------------------------------
  // model / worksheet TML → one flattened joined model
  // ------------------------------------------------------------------

  private final case class TableRef(refName: String, physical: String,
      ids: Set[String])
  private final case class JoinDef(source: String, dest: String,
      joinType: String, on: String)

  /** YAML 1.1 reads a bare `on:` key as boolean true — SnakeYAML hands
    * us the key "true"; quoted exports keep "on". */
  private def onClause(j: Map[String, Any]): Option[String] =
    j.get("on").orElse(j.get("true")).map(_.toString)

  private def parseJoined(w: Map[String, Any],
      resolve: YamlLoader.TableResolver): Option[Model] = {
    val name = w.get("name").map(_.toString).getOrElse(return None)

    // underlying tables (model_tables with alias/id, or worksheet tables)
    val tableDefs = seqOfMaps(w.get("model_tables")) ++ seqOfMaps(w.get("tables"))
    if (tableDefs.isEmpty) return None
    val tables: Seq[TableRef] = tableDefs.flatMap { t =>
      // worksheets may declare tables by id + fqn without a name
      t.get("name").orElse(t.get("id")).map(_.toString).map { n =>
        val physical = t.get("fqn").map(_.toString.split('.').last).getOrElse(n)
        val alias = t.get("alias").map(_.toString)
        val id = t.get("id").map(_.toString)
        TableRef(alias.getOrElse(n), physical, Set(alias.getOrElse(n)) ++ id)
      }
    }
    val refByToken: Map[String, String] =
      tables.flatMap(t => t.ids.map(_ -> t.refName)).toMap ++
        // worksheet table_paths: path id → table name
        seqOfMaps(w.get("table_paths")).flatMap(p =>
          for (pid <- p.get("id").map(_.toString);
               pt <- p.get("table").map(_.toString)) yield pid -> pt).toMap

    // joins: model_tables[].joins (source = that table) or worksheet joins
    val joins: Seq[JoinDef] =
      tableDefs.flatMap { t =>
        val src = t.get("alias").orElse(t.get("name")).map(_.toString).getOrElse("")
        seqOfMaps(t.get("joins")).flatMap(j =>
          for (dest <- j.get("with").map(_.toString);
               on <- onClause(j))
            yield JoinDef(src, dest, j.get("type").map(_.toString)
              .getOrElse("INNER"), on))
      } ++
        seqOfMaps(w.get("joins")).flatMap(j =>
          for (src <- j.get("source").map(_.toString);
               dest <- j.get("destination").map(_.toString);
               on <- onClause(j))
            yield JoinDef(src, dest, j.get("type").map(_.toString)
              .getOrElse("INNER"), on))

    // formulas by id AND name (id is optional — name matches then)
    val formulaDefs = seqOfMaps(w.get("formulas"))
    val formulaByKey: Map[String, String] = formulaDefs.flatMap { f =>
      val expr = f.get("expr").map(_.toString)
      expr.toSeq.flatMap(e =>
        (f.get("id").map(_.toString).toSeq ++ f.get("name").map(_.toString))
          .map(_ -> e))
    }.toMap

    // columns: name → (token-qualified ref | formula)
    val colDefs = seqOfMaps(w.get("columns")) ++
      seqOfMaps(w.get("worksheet_columns"))
    // bare-name fallback: TML column name → its qualified source ref
    val colIdByName: Map[String, String] = colDefs.flatMap(c =>
      for (cn <- c.get("name").map(_.toString);
           cid <- c.get("column_id").map(_.toString)) yield cn -> cid).toMap

    var needed = Vector.empty[(String, String)] // (refName, column)
    def flat(token: String, col: String): String = {
      val ref = refByToken.getOrElse(token, token)
      if (!needed.contains((ref, col))) needed :+= ((ref, col))
      s"${ref}__$col"
    }

    // recursive formula/ref inlining
    val BrQual = raw"\[([^\]:\[]+)::([^\]]+)\]".r
    val BrBare = raw"\[([^\]:\[]+)\]".r
    def translate(expr: String, seen: Set[String]): String = {
      val q = BrQual.replaceAllIn(expr, m =>
        java.util.regex.Matcher.quoteReplacement(flat(m.group(1), m.group(2))))
      val b = BrBare.replaceAllIn(q, m => {
        val inner = m.group(1)
        java.util.regex.Matcher.quoteReplacement(
          if (formulaByKey.contains(inner) && !seen(inner))
            s"(${translate(formulaByKey(inner), seen + inner)})"
          else colIdByName.get(inner) match {
            case Some(cid) if cid.contains("::") =>
              val Array(tk, cl) = cid.split("::", 2)
              flat(tk, cl)
            case _ => inner
          })
      })
      // unbracketed table.column for known tables
      tables.foldLeft(b)((s, t) =>
        (raw"\b" + java.util.regex.Pattern.quote(t.refName) + raw"\.(\w+)").r
          .replaceAllIn(s, m =>
            java.util.regex.Matcher.quoteReplacement(flat(t.refName, m.group(1)))))
    }

    var dims = Vector.empty[Dimension]
    var mets = Vector.empty[Metric]
    colDefs.foreach { c =>
      val cn = c.get("name").map(_.toString).getOrElse("")
      if (cn.nonEmpty) {
        val props = mapOf(c.get("properties")).getOrElse(Map.empty)
        val isMeasure = props.get("column_type").map(_.toString).contains("MEASURE")
        val sql: Option[String] =
          c.get("column_id").map(_.toString).map { cid =>
            if (cid.contains("::")) {
              val Array(tk, cl) = cid.split("::", 2); flat(tk, cl)
            } else cid
          }.orElse(
            c.get("formula_id").map(_.toString).flatMap(fid =>
              formulaByKey.get(fid).map(e => translate(e, Set(fid)))))
        sql.foreach { sq =>
          if (isMeasure) {
            val agg = props.get("aggregation").map(_.toString.toUpperCase)
              .flatMap(AggMap.get).getOrElse("sum")
            mets :+= Metric(cn, agg = Some(agg), sql = Some(sq))
          } else {
            val dataType = c.get("data_type").map(_.toString.toUpperCase).getOrElse("")
            val bucket = props.get("default_date_bucket").map(_.toString)
            val isTime = Set("DATE", "DATETIME", "TIMESTAMP").contains(dataType) ||
              bucket.isDefined
            dims :+= Dimension(cn,
              if (isTime) DimType.Time
              else if (dataType == "BOOLEAN") DimType.Bool
              else DimType.Categorical,
              sql = Some(sq),
              granularity = if (isTime)
                bucket.flatMap(BucketGrain.get).orElse(Some("day")) else None)
          }
        }
      }
    }

    // derived source: join the physical tables, project flattened columns
    val ordered = tables.filter(t =>
      needed.exists(_._1 == t.refName) ||
        joins.exists(j => j.source == t.refName || j.dest == t.refName))
    if (ordered.isEmpty) return None
    val joined = ordered.filterNot(_.refName == ordered.head.refName)
    val onSql = (on: String) => BrQual.replaceAllIn(on, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"${refByToken.getOrElse(m.group(1), m.group(1))}.${m.group(2)}"))
    val fromSql = new StringBuilder(
      s"${ordered.head.physical} AS ${ordered.head.refName}")
    joined.foreach { t =>
      joins.find(_.dest == t.refName) match {
        case Some(j) =>
          val kind = if (j.joinType.toUpperCase.startsWith("LEFT")) "LEFT JOIN"
            else "JOIN"
          fromSql.append(s" $kind ${t.physical} AS ${t.refName} ON ${onSql(j.on)}")
        case None =>
          graft.load.Fidelity.note("missing_join_condition",
            s"worksheet table '${t.refName}' has no join spec; imported as " +
              "a CROSS JOIN (cardinality may differ from ThoughtSpot's)",
            severity = "approximated", source = Some("thoughtspot"))
          fromSql.append(s" CROSS JOIN ${t.physical} AS ${t.refName}")
      }
    }
    val projection = needed.map { case (ref, col) =>
      s"$ref.$col AS ${ref}__$col" }.distinct.mkString(", ")
    if (projection.isEmpty) return None
    val view = s"SELECT $projection FROM $fromSql"

    // bind each physical table through the resolver; Table sources embed
    // by name, SqlViews inline as subqueries
    val bound = ordered.foldLeft(view) { (sql, t) =>
      resolve(t.physical) match {
        case ModelSource.Table(n) if n == t.physical => sql
        case ModelSource.Table(n) =>
          sql.replace(s"${t.physical} AS ${t.refName}", s"$n AS ${t.refName}")
        case ModelSource.SqlView(s2) =>
          sql.replace(s"${t.physical} AS ${t.refName}", s"($s2) AS ${t.refName}")
        case ModelSource.Parquet(p) =>
          sql.replace(s"${t.physical} AS ${t.refName}",
            s"parquet.`$p` AS ${t.refName}")
      }
    }
    Some(Model(name = name, source = ModelSource.SqlView(bound),
      dimensions = dims, metrics = mets))
  }
}
