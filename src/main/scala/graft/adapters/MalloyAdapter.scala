package graft.adapters

import graft.load.{Brackets, YamlLoader, YamlTree}
import graft.model._

/** Importer for Malloy source files (reference:
  * sidemantic/adapters/malloy.py + its grammar; fixtures
  * tests/fixtures/malloy/).
  *
  * The executable subset of the Malloy surface:
  *   - `source: NAME is duckdb.table('path') extend { … }` → a model
  *     bound by the table path's basename; `source: A is B extend { … }`
  *     extends a previously declared source (field-wise merge)
  *   - `primary_key:`, `rename: new is old`
  *   - `dimension:` entries `name is expr` — Malloy scalar expressions
  *     are largely SQL already; `::type` casts become CAST, and
  *     `pick 'v' when cond … else d` chains become CASE WHEN
  *   - `measure:` entries — `count()`, `agg(expr)` for
  *     sum/avg/min/max/count_distinct/stddev/median, an optional
  *     `{ where: cond }` refinement → metric filter; anything else
  *     referencing other measures imports as a derived metric
  *   - `join_one: X with fk` (fk joins X's primary key) and
  *     `join_one/join_many: X on cond` (equi-conditions map to
  *     fk/pk pairs, anything else keeps the raw condition as sqlOn)
  *   - `where:` on the source wraps the base relation
  * `view:` blocks are query definitions (not schema) and import as
  * nothing, like annotations and imports; `duckdb.sql(…)` sources map
  * to derived SQL views.
  */
object MalloyAdapter {

  final case class Imported(models: Seq[Model])

  def loadFile(path: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported =
    loadString(YamlTree.readText(path), resolve)

  def loadDirectory(dir: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".malloy")).sortBy(_.getName)
    Imported(files.toSeq.flatMap(f =>
      try loadFile(f.getPath, resolve).models
      catch { case _: Exception => Nil }))
  }

  def loadString(text0: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver): Imported = {
    val text = stripComments(text0)
    var models = Vector.empty[Model]
    val SourceRe =
      raw"(?s)source:\s+(\w+)\s+is\s+([^{]+?)\s+extend\s*\{".r
    SourceRe.findAllMatchIn(text).foreach { m =>
      val name = m.group(1)
      val base = m.group(2).trim
      val open = m.end - 1
      val close = Brackets.closing(text, open, '{', '}')
      if (close > 0) {
        val body = text.substring(open + 1, close)
        val source: Option[ModelSource] = base match {
          case TablePat(path) =>
            Some(resolve(path.split('/').last.replaceAll(raw"\.\w+$$", "")))
          case SqlPat(sql) => Some(ModelSource.SqlView(sql))
          case ref if models.exists(_.name == ref) => None // extension
          case other => Some(resolve(other))
        }
        val extra = scala.collection.mutable.Buffer.empty[Model]
        val parsed = parseBody(name, body,
          source.getOrElse(ModelSource.Table(name)), resolve, extra)
        source match {
          case None =>
            val baseModel = models.find(_.name == base).get
            models :+= mergeModels(baseModel.copy(name = name), parsed)
          case Some(_) => models :+= parsed
        }
        extra.foreach(e =>
          if (!models.exists(_.name == e.name)) models :+= e)
      }
    }
    // `with fk` joins bind the target's primary key
    models = models.map(m => m.copy(relationships = m.relationships.map { r =>
      if (r.primaryKey.nonEmpty || r.sqlOn.isDefined) r
      else models.find(_.name == r.to).map(t =>
        r.copy(primaryKey = t.primaryKey)).getOrElse(r)
    }))
    Imported(models)
  }

  private val TablePat = raw"(?s)^\w+\.table\('([^']+)'\)$$".r
  private val SqlPat = raw"(?s)^\w+\.sql\(\s*(?:'''|\")(.*?)(?:'''|\")\s*\)$$".r

  // ------------------------------------------------------------------
  // source body
  // ------------------------------------------------------------------

  private def parseBody(name: String, body: String, source: ModelSource,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver,
      extra: scala.collection.mutable.Buffer[Model] =
        scala.collection.mutable.Buffer.empty): Model = {
    var pk = Vector.empty[String]
    var dims = Vector.empty[Dimension]
    var mets = Vector.empty[Metric]
    var rels = Vector.empty[Relationship]
    var whereCond: Option[String] = None

    val lines = body.split('\n').toVector
    var i = 0
    var section = ""
    val SectionRe = raw"^(dimension|measure|rename|join_one|join_many|view|primary_key|where)\s*:\s*(.*)$$".r
    val EntryRe = raw"^([\w`]+)\s+is\b\s*(.*)$$".r

    def handleEntry(sec: String, entry: String): Unit = entry match {
      case EntryRe(en, expr) =>
        val n = en.replace("`", "")
        sec match {
          case "rename" =>
            dims :+= Dimension(n, sql = Some(expr.trim))
          case "dimension" =>
            val sql = scalarToSql(expr.trim)
            dims :+= Dimension(n,
              if (raw"(?i)date_trunc|::date|::timestamp".r.findFirstIn(expr).isDefined)
                DimType.Time else DimType.Categorical,
              sql = Some(sql).filter(_ != n),
              granularity =
                if (raw"(?i)date_trunc\('month'".r.findFirstIn(expr).isDefined) Some("month")
                else if (raw"(?i)date_trunc|::date".r.findFirstIn(expr).isDefined) Some("day")
                else None)
          case "measure" => measureOf(n, expr.trim).foreach(mets :+= _)
          case _ => ()
        }
      case _ => ()
    }

    def entryLines(start: Int): (String, Int) = {
      // an entry's expression may continue on deeper lines until the next
      // `x is` entry or section header; inline { } refinements balance
      val sb = new StringBuilder(lines(start).trim)
      var j = start + 1
      while (j < lines.length && {
        val t = lines(j).trim
        val isNew = EntryRe.findFirstIn(t).isDefined &&
          braceDepth(sb.toString) == 0
        val isSection = SectionRe.findFirstIn(t).isDefined
        t.nonEmpty && !isNew && !isSection
      }) { sb.append(' ').append(lines(j).trim); j += 1 }
      (sb.toString, j)
    }

    while (i < lines.length) {
      val t = lines(i).trim
      t match {
        case "" => i += 1
        case SectionRe(sec, rest) =>
          section = sec
          sec match {
            case "primary_key" => pk :+= rest.trim; i += 1
            case "where" =>
              whereCond = Some(rest.trim).filter(_.nonEmpty); i += 1
            case "view" =>
              // skip the whole view block (query, not schema): advance
              // until this line's braces balance out
              var depth = braceDepth(lines(i))
              i += 1
              while (i < lines.length && depth > 0) {
                depth += braceDepth(lines(i)); i += 1
              }
            case "join_one" | "join_many" =>
              // gather the whole join block (a declaration's `on`
              // condition may wrap onto the following lines), then
              // regroup: a NEW declaration starts at `<name> with|on|is`;
              // anything else continues the previous one's condition
              val block = Vector.newBuilder[String]
              if (rest.trim.nonEmpty) block += rest.trim
              i += 1
              while (i < lines.length && lines(i).trim.nonEmpty &&
                  !lines(i).trim.startsWith("}") &&
                  SectionRe.findFirstIn(lines(i).trim).isEmpty) {
                block += lines(i).trim; i += 1
              }
              val DeclStart =
                raw"^[\w`]+\s+(?:(?:left|right|full|inner)\s+)?(with|on|is)\b.*".r
              // an INLINE-SOURCE join (`alias is conn.table('t') extend
              // { … } with fk`) also defines its target: synthesize the
              // aliased model the same way a top-level `source:` would
              // (the reference's _extract_inline_join_source,
              // malloy.py:1944-1950), then join against the alias
              val InlineSrc = (raw"^(\w+)\s+is\s+\w[\w.]*\.table\(" +
                raw"'([^']+)'\)\s*(?:extend\s*\{([^}]*)\})?\s+" +
                raw"((?:(?:left|right|full|inner)\s+)?(?:with|on)\s.*)$$").r
              def emit(decl: String): Unit = decl match {
                case InlineSrc(alias, path, extendBody, tail) =>
                  val src = resolve(
                    path.split('/').last.replaceAll(raw"\.\w+$$", ""))
                  val pk = Option(extendBody).toSeq.flatMap(b =>
                    raw"primary_key:\s*([\w`]+)".r.findAllMatchIn(b)
                      .map(_.group(1).replace("`", "")).toSeq)
                  if (!extra.exists(_.name == alias))
                    extra += Model(name = alias, source = src,
                      primaryKey = pk)
                  joinOf(sec, s"$alias $tail").foreach(rels :+= _)
                case d => joinOf(sec, d).foreach(rels :+= _)
              }
              var decl = ""
              (block.result() :+ "").foreach { ln =>
                if (ln.isEmpty || DeclStart.matches(ln)) {
                  if (decl.nonEmpty) emit(decl)
                  decl = ln
                } else decl = s"$decl $ln"
              }
            case _ =>
              if (rest.trim.nonEmpty) {
                val (entry, next) = entryLines(i)
                handleEntry(section, entry.replaceFirst(raw"^\w+\s*:\s*", ""))
                i = next
              } else i += 1
          }
        case EntryRe(_, _) if Set("dimension", "measure", "rename")(section) =>
          val (entry, next) = entryLines(i)
          handleEntry(section, entry)
          i = next
        case _ => i += 1
      }
    }

    val finalSource = whereCond.map(scalarToSql) match {
      case Some(cond) => source match {
        case ModelSource.Table(t)   => ModelSource.SqlView(s"SELECT * FROM $t WHERE $cond")
        case ModelSource.SqlView(s) => ModelSource.SqlView(s"SELECT * FROM ($s) WHERE $cond")
        case ModelSource.Parquet(p) =>
          ModelSource.SqlView(s"SELECT * FROM parquet.`$p` WHERE $cond")
      }
      case None => source
    }
    Model(name = name, source = finalSource, primaryKey = pk,
      dimensions = dims, metrics = mets, relationships = rels)
  }

  private def braceDepth(s: String): Int =
    s.count(_ == '{') - s.count(_ == '}')

  // ------------------------------------------------------------------
  // joins
  // ------------------------------------------------------------------

  private def joinOf(kind: String, text: String): Option[Relationship] = {
    val relType = if (kind == "join_many") "one_to_many" else "many_to_one"
    // the aliased form `alias is source with fk` / `alias is source on c`
    // joins under the ALIAS name, like the reference's joinNameDef
    // (ref malloy.py:1930-1935: the relationship is named by the alias);
    // an optional matrixOperation direction (left/right/full/inner)
    // may sit before with/on (ref malloy.py:1952-1958 keeps it as
    // metadata — the engine's join-type selection already picks
    // LEFT/INNER from the relationship type, so the keyword is
    // consumed, not dropped-with-a-note)
    val With = raw"^(\w+)\s+(?:is\s+\w+(?:\([^)]*\))?\s+)?(?:(?:left|right|full|inner)\s+)?with\s+([\w.]+)$$".r
    val On = raw"^(\w+)\s+(?:is\s+\w+(?:\([^)]*\))?\s+)?(?:(?:left|right|full|inner)\s+)?on\s+(.*)$$".r
    text match {
      case With(target, fk) =>
        Some(Relationship(target, relType, foreignKey = Seq(fk)))
      case On(target, cond) =>
        // an `and`-chain of equi-conditions `target.pk = fk` (either
        // orientation, in any mix) maps to composite key pairs
        // (ref malloy.py:1975-1990 extracts the key list the same way);
        // anything else keeps the raw condition
        val Eq1 = (raw"^" + target + raw"\.(\w+)\s*=\s*(\w+)$$").r
        val Eq2 = (raw"^(\w+)\s*=\s*" + target + raw"\.(\w+)$$").r
        val parts = cond.trim.split(raw"(?i)\s+and\s+").map(_.trim).toSeq
        val keyPairs = parts.map {
          case Eq1(pkc, fkc) => Some((fkc, pkc))
          case Eq2(fkc, pkc) => Some((fkc, pkc))
          case _ => None
        }
        if (keyPairs.nonEmpty && keyPairs.forall(_.isDefined)) {
          val ps = keyPairs.flatten
          Some(Relationship(target, relType,
            foreignKey = ps.map(_._1), primaryKey = ps.map(_._2)))
        } else if (parts.size == 1) Some(Relationship(target, relType,
          sqlOn = Some(s"{from}.${parts.head}"
            .replace(s"{from}.$target.", s"{to}.")
            .replaceFirst(raw"^\{from\}\.", "{from}."))))
        else {
          graft.load.Fidelity.note("unparseable_join",
            s"join condition '${cond.take(60)}' mixes non-equi terms in " +
              "an and-chain; join dropped", source = Some("malloy"))
          None
        }
      case other =>
        graft.load.Fidelity.note("unparseable_join",
          s"join declaration '${other.take(60)}' matches neither " +
            "'<target> with <fk>' nor '<target> on <cond>'; join dropped",
          source = Some("malloy"))
        None
    }
  }

  // ------------------------------------------------------------------
  // expressions
  // ------------------------------------------------------------------

  private val AggFns = Map("sum" -> "sum", "avg" -> "avg", "min" -> "min",
    "max" -> "max", "count_distinct" -> "count_distinct",
    "stddev" -> "stddev", "median" -> "median")

  /** A measure body → Metric: bare/filtered counts and aggregates; the
    * rest becomes derived SQL. */
  private def measureOf(name: String, expr0: String): Option[Metric] = {
    // optional { where: cond } refinement
    var expr = expr0
    var filters = Seq.empty[String]
    val Refine = raw"(?s)^(.*?)\s*\{\s*where:\s*(.*?)\s*\}\s*$$".r
    expr match {
      case Refine(e, cond) => expr = e.trim; filters = Seq(scalarToSql(cond))
      case _ => ()
    }
    if (expr == "count()")
      return Some(Metric(name, agg = Some("count"), filters = filters))
    val Agg = raw"(?s)^(\w+)\(\s*(.*?)\s*\)$$".r
    expr match {
      case Agg(fn, inner) if AggFns.contains(fn) && balanced(inner) =>
        Some(Metric(name, agg = Some(AggFns(fn)),
          sql = Some(scalarToSql(inner)), filters = filters))
      case Agg("count", inner) if balanced(inner) && inner.nonEmpty =>
        Some(Metric(name, agg = Some("count_distinct"),
          sql = Some(scalarToSql(inner)), filters = filters))
      case _ =>
        Some(Metric(name, metricType = Some("derived"),
          sql = Some(scalarToSql(expr)), filters = filters))
    }
  }

  private def balanced(s: String): Boolean =
    s.count(_ == '(') == s.count(_ == ')')

  /** Malloy scalar → SQL: `::type` casts, pick/when → CASE WHEN. */
  private[adapters] def scalarToSql(e0: String): String = {
    var e = e0.trim
    // pick 'v' when cond … pick … else d  →  CASE WHEN cond THEN 'v' … END
    if (raw"(?i)\bpick\b".r.findFirstIn(e).isDefined) {
      val Pick = raw"(?is)pick\s+(.*?)\s+when\s+(.*?)(?=\s+pick\s|\s+else\s|$$)".r
      val whens = Pick.findAllMatchIn(e).map(m =>
        s"WHEN ${m.group(2).trim} THEN ${m.group(1).trim}").mkString(" ")
      val elseCl = raw"(?is)\belse\s+(.*)$$".r.findFirstMatchIn(e)
        .map(m => s" ELSE ${m.group(1).trim}").getOrElse("")
      if (whens.nonEmpty) e = s"CASE $whens$elseCl END"
    }
    // `expr::type` cast
    e = raw"([\w.()']+)::(\w+)".r.replaceAllIn(e, m =>
      java.util.regex.Matcher.quoteReplacement(
        s"CAST(${m.group(1)} AS ${m.group(2).toUpperCase})"))
    e.replaceAll(raw"\s+", " ").trim
  }

  /** Field-wise merge for source extension (later wins). */
  private def mergeModels(base: Model, ext: Model): Model = {
    def merge[T](bs: Seq[T], es: Seq[T])(key: T => String): Seq[T] = {
      val eNames = es.map(key).toSet
      bs.filterNot(x => eNames(key(x))) ++ es
    }
    base.copy(
      dimensions = merge(base.dimensions, ext.dimensions)(_.name),
      metrics = merge(base.metrics, ext.metrics)(_.name),
      relationships = merge(base.relationships, ext.relationships)(_.to),
      primaryKey = if (ext.primaryKey.nonEmpty) ext.primaryKey else base.primaryKey)
  }

  private def stripComments(text: String): String =
    text.split('\n').filterNot(_.trim.startsWith("#")).map { l =>
      val i = l.indexOf("//")
      if (i >= 0 && (l.substring(0, i).count(_ == '\'') & 1) == 0) l.substring(0, i)
      else l
    }.mkString("\n")
}
