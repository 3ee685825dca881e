package graft.sqlfront

import graft.GraftSession
import graft.model.{Catalog, ModelSource}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.{GraftSqlBridge, SparkSession, SparkSessionExtensions}

/** SparkSessionExtensions integration: semantic model names resolve inside
  * plain `spark.sql(...)` text (SURVEY §7.3 — the optional Catalyst piece).
  *
  *   spark-submit --conf spark.sql.extensions=graft.sqlfront.GraftExtensions \
  *                --conf spark.graft.modelsDir=/models \
  *                --conf spark.graft.dataDir=/data
  *
  * or programmatically: `GraftExtensions.register(spark, catalog)` after
  * building the session with `.withExtensions(new GraftExtensions)`.
  *
  * The injected resolution rule only fires when the plan's FROM names a
  * registered model and the whole scope is a shape the semantic front end
  * understands; everything else analyzes normally, so the rule is inert
  * for regular SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(session => new SemanticModelRule(session))
    // native kernel expressions as SQL functions (graft_dot,
    // graft_simhash, …) — same builders as GraftFunctions.install
    graft.functions.GraftFunctions.descriptions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Catalog]()

  /** Programmatic catalog registration for a session built with these
    * extensions. */
  def register(spark: SparkSession, cat: Catalog): Unit =
    registry.put(spark, cat)

  private[sqlfront] def catalogFor(spark: SparkSession): Option[Catalog] = {
    Option(registry.get(spark)).orElse {
      val modelsDir = spark.conf.get("spark.graft.modelsDir", "")
      if (modelsDir.isEmpty) None
      else {
        val dataDir = spark.conf.get("spark.graft.dataDir", "")
        val cat = graft.load.YamlLoader.loadDirectory(modelsDir,
          name => ModelSource.Parquet(s"$dataDir/$name.parquet"),
          dataDir = dataDir)
        registry.put(spark, cat)
        Some(cat)
      }
    }
  }
}

/** Analyzer rule: replace a whole semantic SELECT scope with the planner's
  * composed logical plan. */
class SemanticModelRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    GraftExtensions.catalogFor(session) match {
      case None => plan
      case Some(cat) =>
        val front = new SqlFront(session, cat, GraftSession.generator(session, cat))
        if (!front.referencesSemanticModel(plan)) plan
        else
          try front.rewritePlan(plan)
            .map(GraftSqlBridge.logicalPlan)
            .getOrElse(plan)
          catch {
            // lenient inside the analyzer: unsupported semantic shapes fall
            // through (the SqlFront API surface is where strictness lives)
            case _: IllegalArgumentException => plan
          }
    }
}
