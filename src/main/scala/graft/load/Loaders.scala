package graft.load

import graft.adapters._
import graft.model.{Catalog, Explore, Metric, Model}
import scala.jdk.CollectionConverters._

/** Project-directory import with per-file format auto-detection
  * (reference: loaders.py:169 `load_from_directory`, detection helpers
  * :609-1040). One call walks a mixed real-world project tree —
  * native graft YAML/SQL next to Cube, LookML, MetricFlow, Hex, OSI,
  * Snowflake Cortex, TMDL, SML, Graphene, and the rest of the 19
  * adapter formats — sniffs each file, routes it to the right loader,
  * and merges everything into ONE catalog with per-file attribution.
  *
  * Architecture differs from the reference deliberately: instead of a
  * single sequential pass with special-case escapes, classification
  * and loading are SEPARATE phases. Phase 1 walks once and assigns
  * every file a format; phase 2 loads per format GROUP, so formats
  * with cross-file semantics (LookML `+view` refinements, MetricFlow
  * entity resolution, TMDL table directories, SML object graphs,
  * Graphene links, Holistics imports) parse all their files together
  * by construction rather than via deferred-fixup lists (loaders.py's
  * pending_table_metrics machinery); Snowflake sidecar metrics import
  * as graph metrics whose `model.field` refs resolve against the ONE
  * merged catalog, so split-file Cortex projects work without a fixup
  * pass. Models then register in extends-topological order so
  * cross-file inheritance resolves regardless of file-name order.
  *
  * Detection mirrors the reference's per-file decision chain
  * (loaders.py:361-500) including its precedence: MetricFlow's
  * `semantic_models` before native `models`, Snowflake's `base_table`
  * before the generic `metrics` + `type:` MetricFlow heuristic, and
  * OSI JSON only inside the project-root `OSI/` tree with
  * generated-artifact directories (`target/`, `dbt_packages/`)
  * skipped (loaders.py:754-787).
  */
object Loaders {

  /** Where one loaded file (or project-level root) was routed. */
  final case class Attribution(path: String, format: String,
      models: Seq[String])

  final case class ProjectLoad(
      catalog: Catalog,
      attributions: Seq[Attribution],
      skipped: Seq[Attribution], // format = skip reason
      warnings: Seq[String])

  /** Dependency / VCS / cache trees pruned from the walk
    * (loaders.py:136-154). */
  private val prunedDirNames = Set(".git", ".hg", ".svn", ".venv", "venv",
    "node_modules", "__pycache__", ".pytest_cache", ".ruff_cache",
    ".mypy_cache", ".tox", ".direnv", ".claude", ".idea", ".vscode")

  /** dbt writes compiled OSI copies under these (loaders.py:754). */
  private val generatedArtifactDirs = Set("target", "dbt_packages")

  // ------------------------------------------------------------------
  // phase 1: walk + classify
  // ------------------------------------------------------------------

  private def walk(root: java.io.File): Seq[java.io.File] = {
    // canonical-path guard: a cyclic directory symlink must terminate
    // the walk, not recurse forever (os.walk's default behavior)
    val seen = scala.collection.mutable.HashSet[String]()
    def go(d: java.io.File): Seq[java.io.File] = {
      if (!seen.add(d.getCanonicalPath)) return Nil
      val entries = Option(d.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
      val (dirs, files) = entries.partition(_.isDirectory)
      files.toSeq ++ dirs.filterNot(x => prunedDirNames(x.getName)).flatMap(go)
    }
    go(root)
  }

  private def rel(root: java.io.File, f: java.io.File): String =
    root.toPath.relativize(f.toPath).toString

  private def yamlMap(content: String): Option[Map[String, Any]] =
    try YamlTree.mapOf(Option(YamlTree.parse(content)))
    catch { case _: Exception => None }

  /** Exact key anywhere in the parsed YAML (loaders.py:993). */
  private def containsKeyDeep(v: Any, key: String): Boolean = v match {
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]].contains(key) ||
        m.values.exists(containsKeyDeep(_, key))
    case l: Seq[_] => l.exists(containsKeyDeep(_, key))
    case _ => false
  }

  /** BSL deferred-expression marker `_.col` anywhere (loaders.py:1004). */
  private def containsBslExpr(v: Any): Boolean = v match {
    case s: String => s.contains("_.")
    case m: Map[_, _] => m.values.exists(containsBslExpr)
    case l: Seq[_] => l.exists(containsBslExpr)
    case _ => false
  }

  private val nativeRootFields = Set("version", "models", "metrics",
    "explores", "parameters", "metadata")

  /** Native graft YAML without an explicit `models:` key
    * (loaders.py:870 `_looks_like_native_sidemantic_yaml`). */
  private def looksLikeNativeYaml(root: Map[String, Any]): Boolean = {
    val hasNativeSection = Seq("metrics", "parameters").exists(root.contains)
    if (!hasNativeSection) return false
    root.get("version") match {
      case Some(v) => v.toString == "1"
      case None => root.keySet.subsetOf(nativeRootFields)
    }
  }

  /** Snowflake Cortex split sidecar without a `tables:` section
    * (loaders.py:932 `_looks_like_snowflake_metrics_file`). */
  private def looksLikeSnowflakeSidecar(root: Map[String, Any]): Boolean = {
    if (root.contains("tables")) return false
    val snowflakeSections = Seq("verified_queries", "custom_instructions",
      "module_custom_instructions")
    val snowflakeMetricKeys = Seq("table", "access_modifier", "labels",
      "tags", "non_additive_dimensions", "using_relationships")
    val metrics = root.get("metrics") match {
      case Some(l: Seq[_]) => l.collect { case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]] }
      case _ => Nil
    }
    val cortexMetrics = metrics.nonEmpty && metrics.forall(m =>
      m.contains("expr") && !m.contains("type_params") && !m.contains("measure"))
    val snowflakeRels = root.get("relationships") match {
      case Some(l: Seq[_]) if l.nonEmpty => l.forall {
        case m: Map[_, _] =>
          val mm = m.asInstanceOf[Map[String, Any]]
          mm.contains("left_table") && mm.contains("right_table") &&
            mm.contains("relationship_columns")
        case _ => false
      }
      case _ => false
    }
    (cortexMetrics && metrics.exists(m => snowflakeMetricKeys.exists(m.contains))) ||
      snowflakeSections.exists(root.contains) ||
      (cortexMetrics && root.get("name").exists(_.isInstanceOf[String])) ||
      snowflakeRels
  }

  /** Hex Semantic Authoring resource (loaders.py:815). */
  private def isHexResource(root: Map[String, Any]): Boolean =
    (Seq("model", "view").contains(root.get("type").map(_.toString).orNull) &&
      root.contains("id")) ||
      (containsKeyDeep(root, "measures") &&
        (containsKeyDeep(root, "base_sql_table") ||
          containsKeyDeep(root, "base_sql_query")))

  /** Multi-document (`---`-separated) Hex file (loaders.py:835). */
  private def looksLikeHexMultiDoc(content: String): Boolean =
    try {
      YamlTree.parseAll(content).exists {
          case m: Map[_, _] => isHexResource(m.asInstanceOf[Map[String, Any]])
          case _ => false
        }
    } catch { case _: Exception => false }

  /** Malformed YAML that still names a semantic-layer section — a parse
    * error worth surfacing, not a silently-skipped file (loaders.py:849). */
  private def looksLikeSemanticText(content: String): Boolean = {
    val keys = Seq("base_sql_table", "cubes", "datasets", "dimensions",
      "measures", "metrics", "models", "semantic_model", "semantic_models",
      "table_name", "tables", "views", "worksheet")
    content.linesIterator.exists(l =>
      keys.exists(k => l.trim.startsWith(k + ":")))
  }

  /** AtScale SML object file (loaders.py:1381-1398). */
  private def looksLikeSmlYaml(content: String): Boolean =
    content.contains("object_type") && content.contains("unique_name") &&
      Seq("object_type: dataset", "object_type: dimension",
        "object_type: metric", "object_type: metric_calc",
        "object_type: model", "object_type: composite_model",
        "object_type: connection").exists(content.contains)

  /** Yardstick `AS MEASURE <alias>` SQL (loaders.py:1586). */
  private def looksLikeYardstickSql(content: String): Boolean =
    content.toLowerCase.contains("measure") &&
      "(?is)\\bAS\\s+MEASURE\\s+[\\w\"'`]".r.findFirstIn(content).isDefined

  private def isUnderOsiTree(root: java.io.File, f: java.io.File): Boolean = {
    val parts = root.toPath.relativize(f.toPath).iterator().asScala
      .map(_.toString).toSeq
    root.getName.equalsIgnoreCase("OSI") ||
      (parts.length >= 2 && parts.head.equalsIgnoreCase("OSI"))
  }

  private def isGeneratedArtifact(root: java.io.File, f: java.io.File): Boolean =
    root.toPath.relativize(f.toPath).iterator().asScala.map(_.toString)
      .toSeq.dropRight(1).exists(generatedArtifactDirs)

  /** Route one file to a format key, or Left(skip reason). The decision
    * chain and its precedence mirror loaders.py:361-500. */
  private def classify(root: java.io.File, f: java.io.File):
      Either[String, String] = {
    val name = f.getName.toLowerCase
    val suffix = name.drop(name.lastIndexOf('.') max 0)
    suffix match {
      case ".tmdl" => Right("tmdl")
      case ".lkml" => Right("lookml")
      case ".gsql" => Right("graphene")
      case ".malloy" => Right("malloy")
      case ".aml" => Right("holistics")
      case ".tml" => Right("thoughtspot")
      case ".tds" | ".twb" | ".tdsx" | ".twbx" => Right("tableau")
      case ".py" =>
        val content = try YamlTree.readText(f.getPath) catch { case _: Exception => "" }
        val semantic = name == "sidemantic.py" ||
          name.endsWith(".sidemantic.py") ||
          (content.toLowerCase.contains("sidemantic") &&
            Seq("Model(", "SemanticLayer(", "SemanticGraph(", "Dimension(",
              "Metric(").exists(content.contains))
        if (semantic)
          Left("python semantic definitions require executing Python " +
            "(loaders.py:1316) — declare the models in YAML/SQL instead")
        else Left("not a semantic file")
      case ".sql" =>
        if (looksLikeYardstickSql(YamlTree.readText(f.getPath))) Right("yardstick")
        else Right("native-sql")
      case ".json" =>
        val content = YamlTree.readText(f.getPath)
        if ((content.contains("\"ldm\"") && content.contains("\"datasets\"")) ||
            content.contains("\"projectModel\"") ||
            content.contains("\"dateInstances\"") ||
            content.contains("\"date_instances\"") ||
            content.contains("\"dateDimensions\"") ||
            (content.contains("\"datasets\"") &&
              (content.contains("\"dataSourceTableId\"") ||
                content.contains("\"data_source_table_id\""))))
          Right("gooddata")
        else if (content.contains("\"semantic_model\"") &&
            content.contains("\"datasets\"")) {
          if (isGeneratedArtifact(root, f))
            Left("generated artifact (target/ or dbt_packages/) — a dbt " +
              "compile copy must not shadow the real OSI/ sources")
          else if (!isUnderOsiTree(root, f))
            Left("OSI-shaped JSON outside the project-root OSI/ tree " +
              "(dbt's OSI consumer scans only OSI/)")
          else Right("osi")
        } else Left("not a semantic file")
      case ".yml" | ".yaml" =>
        val content = YamlTree.readText(f.getPath)
        if (looksLikeSmlYaml(content)) return Right("sml")
        yamlMap(content) match {
          case None =>
            if (looksLikeHexMultiDoc(content)) Right("hex")
            else if (looksLikeSemanticText(content))
              throw new IllegalArgumentException(
                s"${rel(root, f)}: malformed YAML in a semantic-layer file")
            else Left("not a semantic file")
          case Some(r) =>
            // MetricFlow before native: "semantic_models" ⊃ "models"
            if (r.contains("semantic_models")) Right("metricflow")
            else if (r.contains("semantic_model") && r.contains("datasets"))
              Right("osi")
            else if (r.contains("cubes") ||
                (r.contains("views") && containsKeyDeep(r, "measures")))
              Right("cube")
            else if (r.contains("models")) Right("native")
            else if (looksLikeNativeYaml(r)) Right("native")
            else if (r.contains("tables") && containsKeyDeep(r, "base_table"))
              Right("snowflake")
            else if (looksLikeSnowflakeSidecar(r)) Right("snowflake")
            // deliberate tightening vs loaders.py:459: a Superset
            // dataset export carries top-level `metrics:` AND column
            // `type: BIGINT` lines, so the reference's bare
            // `metrics` + "type: " heuristic would misroute it to
            // MetricFlow; MetricFlow manifests never have top-level
            // table_name/columns, so exclude those
            else if (r.contains("metrics") && content.contains("type: ") &&
                !r.contains("table_name") && !r.contains("columns"))
              Right("metricflow")
            else if (isHexResource(r)) Right("hex")
            else if (containsKeyDeep(r, "table") &&
                containsKeyDeep(r, "db_table") && containsKeyDeep(r, "columns"))
              Right("thoughtspot")
            else if (containsKeyDeep(r, "worksheet") &&
                containsKeyDeep(r, "worksheet_columns"))
              Right("thoughtspot")
            else if (containsKeyDeep(r, "model") &&
                containsKeyDeep(r, "model_tables") &&
                containsKeyDeep(r, "columns"))
              Right("thoughtspot")
            else if (looksLikeBslYaml(r)) Right("bsl")
            else if (content.contains("type: metrics_view")) Right("rill")
            else if (containsKeyDeep(r, "table_name") &&
                containsKeyDeep(r, "columns") && containsKeyDeep(r, "metrics"))
              Right("superset")
            else if (containsKeyDeep(r, "measures") &&
                containsKeyDeep(r, "dimensions") &&
                (containsKeyDeep(r, "table_name") ||
                  containsKeyDeep(r, "table") || containsKeyDeep(r, "schema")))
              Right("omni")
            else Left("unrecognized YAML (no semantic-layer signature)")
        }
      case _ => Left("not a semantic file")
    }
  }

  /** Boring-Semantic-Layer YAML (loaders.py:1015). */
  private def looksLikeBslYaml(root: Map[String, Any]): Boolean = {
    val sectionKeys = Set("calculated_measures", "database", "dimensions",
      "filter", "joins", "measures", "primary_key", "time_dimension")
    root.exists {
      case (name, d: Map[_, _]) if name != "profile" =>
        val dd = d.asInstanceOf[Map[String, Any]]
        dd.contains("table") &&
          (dd.keySet.exists(sectionKeys) || containsBslExpr(dd))
      case _ => false
    }
  }

  // ------------------------------------------------------------------
  // phase 2: load per format group, merge, register in extends order
  // ------------------------------------------------------------------

  private final case class Contribution(
      models: Seq[Model] = Nil,
      graphMetrics: Seq[Metric] = Nil,
      explores: Seq[Explore] = Nil,
      savedQueries: Map[String, graft.plan.SemanticQuery] = Map.empty,
      paramDefaults: Map[String, String] = Map.empty,
      paramTypes: Map[String, String] = Map.empty)

  /** Load a whole mixed-format project directory into one catalog.
    *
    * @param strict when true (default), a file that was POSITIVELY
    *   detected as a semantic format but fails to parse aborts the
    *   load; when false it becomes a warning and the rest of the
    *   project still loads (loaders.py `strict` contract). Files that
    *   match no format are never errors — they are attributed under
    *   `skipped`. */
  def loadProject(dir: String,
      resolve: YamlLoader.TableResolver = YamlLoader.defaultResolver,
      dataDir: String = "", strict: Boolean = true): ProjectLoad = {
    val root = new java.io.File(dir)
    require(root.isDirectory, s"Directory $dir does not exist")
    val files = walk(root)

    val warnings = scala.collection.mutable.ListBuffer[String]()
    val skipped = scala.collection.mutable.ListBuffer[Attribution]()
    val routed = scala.collection.mutable.ListBuffer[(java.io.File, String)]()
    files.foreach { f =>
      try classify(root, f) match {
        case Right(fmt) => routed += ((f, fmt))
        case Left(reason) => skipped += Attribution(rel(root, f), reason, Nil)
      } catch {
        case e: Exception if !strict =>
          warnings += s"${rel(root, f)}: ${e.getMessage}"
          skipped += Attribution(rel(root, f), s"parse error", Nil)
        case e: Exception => throw e
      }
    }

    // per-file loaders; project-level formats load their whole group at
    // once further below
    def loadOne(f: java.io.File, fmt: String): Contribution = fmt match {
      case "native" =>
        val pkg = YamlLoader.loadPackageFile(f.getPath, resolve)
        Contribution(pkg.models, pkg.graphMetrics, pkg.explores,
          paramDefaults = pkg.paramDefaults, paramTypes = pkg.paramTypes)
      case "native-sql" =>
        Contribution(SqlModelLoader.loadFile(f.getPath, resolve))
      case "yardstick" =>
        Contribution(YardstickAdapter.loadFile(f.getPath, resolve))
      case "cube" => Contribution(CubeAdapter.loadFile(f.getPath, resolve))
      case "hex" => Contribution(HexAdapter.loadFile(f.getPath, resolve))
      case "gooddata" =>
        Contribution(GoodDataAdapter.loadFile(f.getPath, resolve).models)
      case "osi" =>
        val i = OsiAdapter.loadFile(f.getPath, resolve)
        Contribution(i.models, i.graphMetrics)
      case "thoughtspot" =>
        Contribution(ThoughtSpotAdapter.loadFile(f.getPath, resolve).models)
      case "snowflake" =>
        val i = SnowflakeAdapter.loadFile(f.getPath, resolve)
        Contribution(i.models, i.graphMetrics)
      case "bsl" => Contribution(BslAdapter.loadFile(f.getPath, resolve).models)
      case "rill" =>
        val i = RillAdapter.loadFile(f.getPath, resolve)
        Contribution(i.models, explores = i.explores)
      case "superset" =>
        Contribution(Seq(SupersetAdapter.loadFile(f.getPath, resolve)))
      case "omni" =>
        Contribution(OmniAdapter.loadFile(f.getPath, resolve).toSeq)
      case "malloy" =>
        Contribution(MalloyAdapter.loadFile(f.getPath, resolve).models)
      case "tableau" =>
        Contribution(TableauAdapter.loadFile(f.getPath, resolve))
      case other => throw new IllegalStateException(
        s"format '$other' must load as a project-level group")
    }

    // every routed file gets an attribution row; a project-level group
    // (LookML, TMDL, …) parses once and its model names attribute to
    // every member file (cross-file refinements make per-file model
    // ownership genuinely ambiguous — the group IS the unit)
    val attributions = scala.collection.mutable.ListBuffer[Attribution]()
    // payloads keyed by the walk index of the contribution's first
    // member file: group formats (SML/TMDL/LookML/…) PARSE before the
    // per-file loop below, but duplicate-model resolution must follow
    // scan order like the reference's in-order merge (loaders.py
    // processes files strictly in walk order) — not loader-category
    // order
    val walkIdx = routed.iterator.map(_._1).zipWithIndex.toMap
    val payloads =
      scala.collection.mutable.ListBuffer[(Int, Contribution)]()
    def contribute(paths: Seq[java.io.File], fmt: String,
        load: () => Contribution): Unit =
      try {
        val c = load()
        paths.foreach(p =>
          attributions += Attribution(rel(root, p), fmt, c.models.map(_.name)))
        payloads += ((paths.map(walkIdx).min, c))
      } catch {
        case e: Exception if !strict =>
          warnings += s"$fmt (${paths.map(rel(root, _)).mkString(", ")}): " +
            s"${e.getMessage}"
        case e: Exception => throw e
      }

    val grouped = routed.toSeq.groupBy(_._2).map { case (k, v) =>
      k -> v.map(_._1) }

    // project-level groups: every file of the format parses together so
    // cross-file semantics (refinements, entity resolution, links)
    // resolve by construction
    grouped.get("sml").foreach(fs => contribute(fs, "sml", () =>
      Contribution(AtScaleSmlAdapter.load(
        fs.map(f => YamlTree.readText(f.getPath)), resolve).models)))
    grouped.get("tmdl").foreach { fs =>
      // a PBIP tree parses from its definition/ root; otherwise treat
      // each directory cluster of .tmdl files as one project
      val roots = fs.map { f =>
        val p = f.getParentFile
        val base = if (p.getName == "tables") p.getParentFile else p
        if (base.getName == "definition") base.getParentFile else base
      }.distinct
      roots.foreach { r =>
        val members = fs.filter(_.toPath.startsWith(r.toPath))
        contribute(members, "tmdl", () =>
          Contribution(TmdlAdapter.loadDirectory(r.getPath, resolve).models))
      }
    }
    grouped.get("lookml").foreach(fs => contribute(fs, "lookml", () => {
      val i = LookMLAdapter.loadFiles(fs.map(_.getPath), resolve)
      Contribution(i.models, explores = i.explores)
    }))
    grouped.get("graphene").foreach(fs => contribute(fs, "graphene", () =>
      Contribution(GrapheneAdapter.load(
        fs.map(f => YamlTree.readText(f.getPath)), resolve).models)))
    grouped.get("holistics").foreach(fs => contribute(fs, "holistics", () =>
      Contribution(HolisticsAdapter.load(
        fs.map(f => YamlTree.readText(f.getPath)), resolve,
        fs.map(rel(root, _))).models)))
    grouped.get("metricflow").foreach(fs => contribute(fs, "metricflow", () => {
      val imp = fs.map(f => MetricFlowAdapter.loadFile(f.getPath, resolve))
        .foldLeft(MetricFlowAdapter.Imported())(_ ++ _)
      val cat = MetricFlowAdapter.toCatalog(imp)
      Contribution(cat.models.values.toSeq, cat.graphMetrics.values.toSeq,
        savedQueries = cat.savedQueries)
    }))

    // per-file formats, in walk order
    val groupFormats = Set("sml", "tmdl", "lookml", "graphene", "holistics",
      "metricflow")
    routed.toSeq.filterNot(r => groupFormats(r._2)).foreach { case (f, fmt) =>
      contribute(Seq(f), fmt, () => loadOne(f, fmt))
    }

    // merge: later file wins on a duplicate model name, with a warning
    // (loaders.py:1082 _merge_models + _record_duplicate_model) —
    // "later" in WALK order, via the per-contribution walk keys above
    val orderedPayloads = payloads.sortBy(_._1).map(_._2)
    val mergedModels = scala.collection.mutable.LinkedHashMap[String, Model]()
    orderedPayloads.foreach { c =>
      c.models.foreach { m =>
        if (mergedModels.contains(m.name))
          warnings += s"model '${m.name}' defined more than once; " +
            "keeping the later definition"
        mergedModels(m.name) = m
      }
    }

    // register in extends-topological order so cross-file inheritance
    // resolves regardless of file order
    val ordered = LookMLAdapter.topoByExtends(mergedModels.values.toSeq)
    var catalog = Catalog(dataDir = dataDir)
    ordered.foreach { m =>
      try catalog = catalog.add(m)
      catch {
        case e: Exception if !strict =>
          warnings += s"model '${m.name}': ${e.getMessage}"
        case e: Exception => throw e
      }
    }
    orderedPayloads.foreach { c =>
      catalog = catalog.addGraphMetric(c.graphMetrics: _*)
      c.explores.foreach { e =>
        try catalog = catalog.addExplore(e)
        catch {
          case ex: Exception if !strict =>
            warnings += s"explore '${e.name}': ${ex.getMessage}"
          case ex: Exception => throw ex
        }
      }
      catalog = c.savedQueries.foldLeft(catalog) { case (cc, (n, q)) =>
        cc.addSavedQuery(n, q) }
      catalog = catalog.withParamDefaults(c.paramDefaults)
        .withParamTypes(c.paramTypes)
    }

    ProjectLoad(catalog, attributions.toSeq, skipped.toSeq, warnings.toSeq)
  }
}
