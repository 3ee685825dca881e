package graft.preagg

import graft.load.YamlTree
import graft.model.{Catalog, PreAggregation}
import org.apache.spark.sql.SparkSession
import org.yaml.snakeyaml.{DumperOptions, LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import scala.jdk.CollectionConverters._

/** Pre-aggregation management: apply recommender output back to the YAML
  * model definitions, then materialize and route — the recommend → patch
  * → materialize → serve loop (reference: core/preagg_management.py:1-212
  * + the `preagg apply/refresh` commands in cli.py:2848).
  *
  * YAML patching works on the raw parsed documents, not through the model
  * classes, so fields the loader does not model pass through untouched —
  * but a patched file IS re-serialized from the parse, which discards
  * comments, anchors/aliases, key ordering, and hand formatting in that
  * file (untouched files are never rewritten). Point it at
  * generated/tool-owned model files, or expect a reformat on first patch.
  * Writes are atomic (temp file + rename); an identical existing
  * definition is skipped, while a name collision with different content
  * is rejected instead of silently overwriting the user's definition. */
object PreAggApply {

  final case class ApplyResult(added: Int, skipped: Int, changedFiles: Seq[String])

  /** Patch `pre_aggregations:` into the YAML files under `dir` for each
    * recommendation. Model names must resolve to exactly one definition
    * across the directory's .yml/.yaml files. */
  def applyToYaml(dir: String, recs: Seq[(String, PreAggregation)],
      dryRun: Boolean = false): ApplyResult = {
    val root = new java.io.File(dir)
    require(root.isDirectory, s"Models directory does not exist: $dir")
    val files = root.listFiles()
      .filter(f => f.getName.endsWith(".yml") || f.getName.endsWith(".yaml"))
      .sortBy(_.getName).toSeq

    // parse every document once; remember (file, model-index) per model name
    // (the raw java tree, not YamlTree's: the documents are edited and dumped back)
    val yaml = new Yaml(new SafeConstructor(new LoaderOptions()))
    val docs = scala.collection.mutable.LinkedHashMap.empty[java.io.File, java.util.Map[String, Any]]
    var locations = Map.empty[String, Seq[(java.io.File, Int)]].withDefaultValue(Nil)
    files.foreach { f =>
      Option(yaml.load[Object](YamlTree.readText(f.getPath))).foreach {
        case m: java.util.Map[_, _] =>
          val doc = m.asInstanceOf[java.util.Map[String, Any]]
          docs(f) = doc
          Option(doc.get("models")).foreach {
            case l: java.util.List[_] =>
              l.asScala.zipWithIndex.foreach {
                case (md: java.util.Map[_, _], i) =>
                  Option(md.asInstanceOf[java.util.Map[String, Any]].get("name"))
                    .foreach(n => locations += (n.toString ->
                      (locations(n.toString) :+ (f -> i))))
                case _ => ()
              }
            case _ => ()
          }
        case _ => ()
      }
    }

    var added = 0; var skipped = 0
    var changed = Set.empty[java.io.File]
    // deterministic apply order, like the reference
    recs.sortBy { case (m, pa) => (m, pa.name) }.foreach { case (modelName, pa) =>
      val locs = locations(modelName)
      require(locs.nonEmpty,
        s"Could not find YAML definition for model '$modelName'")
      require(locs.size == 1,
        s"Model '$modelName' is defined more than once (" +
          locs.map(_._1.getName).mkString(", ") + "); refusing to choose a target")
      val (file, idx) = locs.head
      val modelDef = docs(file).get("models").asInstanceOf[java.util.List[Any]]
        .get(idx).asInstanceOf[java.util.Map[String, Any]]
      val existing = Option(modelDef.get("pre_aggregations")) match {
        case Some(l: java.util.List[_]) => l.asInstanceOf[java.util.List[Any]]
        case _ =>
          val l = new java.util.ArrayList[Any]()
          modelDef.put("pre_aggregations", l)
          l
      }
      val payload = payloadOf(pa)
      val sameName = existing.asScala.collect {
        case m: java.util.Map[_, _] =>
          m.asInstanceOf[java.util.Map[String, Any]]
      }.filter(m => Option(m.get("name")).exists(_.toString == pa.name))
      if (sameName.nonEmpty) {
        if (sameName.exists(m => canonical(m) == canonical(payload))) skipped += 1
        else throw new IllegalArgumentException(
          s"Pre-aggregation '$modelName.${pa.name}' already exists with a " +
            "different definition; refusing to overwrite it")
      } else {
        existing.add(payload)
        added += 1
        changed += file
      }
    }

    val changedFiles = changed.toSeq.map(_.getPath).sorted
    if (!dryRun) changed.foreach { f =>
      val opts = new DumperOptions()
      opts.setDefaultFlowStyle(DumperOptions.FlowStyle.BLOCK)
      val rendered = new Yaml(opts).dump(docs(f))
      val tmp = java.nio.file.Files.createTempFile(
        f.getParentFile.toPath, s".${f.getName}.", ".tmp")
      java.nio.file.Files.write(tmp, rendered.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, f.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    ApplyResult(added, skipped, changedFiles)
  }

  private def payloadOf(pa: PreAggregation): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("name", pa.name)
    m.put("measures", pa.measures.asJava)
    if (pa.dimensions.nonEmpty) m.put("dimensions", pa.dimensions.asJava)
    pa.timeDimension.foreach(m.put("time_dimension", _))
    pa.granularity.foreach(m.put("granularity", _))
    pa.partitionGranularity.foreach(m.put("partition_granularity", _))
    m
  }

  /** Normalize a raw definition through the model class so hand-written
    * and generated definitions compare equally. */
  private def canonical(m: java.util.Map[String, Any]): PreAggregation = {
    def strs(v: Any): Seq[String] = v match {
      case l: java.util.List[_] => l.asScala.map(_.toString).toSeq
      case null                 => Nil
      case s                    => Seq(s.toString)
    }
    PreAggregation(
      name = Option(m.get("name")).map(_.toString).getOrElse(""),
      measures = strs(m.get("measures")),
      dimensions = strs(m.get("dimensions")),
      timeDimension = Option(m.get("time_dimension")).map(_.toString),
      granularity = Option(m.get("granularity")).map(_.toString),
      partitionGranularity = Option(m.get("partition_granularity")).map(_.toString))
  }

  /** The full loop: mine the recommender's history, patch the YAML
    * directory, reload the catalog, materialize every newly added rollup,
    * and return a store that routes over them. */
  def applyAndMaterialize(spark: SparkSession, dir: String,
      recommender: PreAggRecommender, storeBase: String,
      resolve: graft.load.YamlLoader.TableResolver =
        graft.load.YamlLoader.defaultResolver,
      dataDir: String = "",
      minHits: Int = 2): (Catalog, PreAggStore, ApplyResult) = {
    val recs = recommender.recommend(minHits).map { case (pa, _) =>
      // recommended_<model> names carry the owning model
      (pa.name.stripPrefix("recommended_"), pa)
    }
    val result = applyToYaml(dir, recs)
    val cat = graft.load.YamlLoader.loadDirectory(dir, resolve, dataDir)
    val store = new PreAggStore(spark, cat, storeBase)
    recs.foreach { case (model, pa) =>
      if (cat.models.contains(model)) store.materializeIfAbsent(model, pa)
    }
    (cat, store, result)
  }
}
