package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.{CompletableFuture, CompletionException}

/** Explicit model registry (no global mutable context — reference's implicit
  * `with SemanticLayer()` registration, core/registry.py, is replaced by an
  * immutable catalog). Also hosts graph-level metrics (metrics defined over
  * other models' metrics, not owned by one model).
  */
final case class Catalog(
    models: Map[String, Model] = Map.empty,
    graphMetrics: Map[String, Metric] = Map.empty,
    savedQueries: Map[String, graft.plan.SemanticQuery] = Map.empty,
    explores: Map[String, Explore] = Map.empty,
    paramDefaults: Map[String, String] = Map.empty, // pre-formatted literals
    paramTypes: Map[String, String] = Map.empty, // declared type per parameter
    dataDir: String = ""
) {

  def withParamDefaults(ps: Map[String, String]): Catalog =
    copy(paramDefaults = paramDefaults ++ ps)

  def withParamTypes(ts: Map[String, String]): Catalog =
    copy(paramTypes = paramTypes ++ ts)

  def addExplore(es: Explore*): Catalog = {
    es.foreach(Validation.validateExplore(_, this))
    copy(explores = explores ++ es.map(e => e.name -> e))
  }

  def add(ms: Model*): Catalog =
    // incremental: each model resolves `extends` and validates against
    // the catalog INCLUDING its earlier siblings in this call, so a
    // multi-model file whose extender follows its base in one add()
    // works (cube extends_and_hierarchies.yml is exactly this shape)
    ms.foldLeft(this) { (cat, m) =>
      val r = cat.resolveExtends(m)
      Validation.validate(r, cat)
      cat.copy(models = cat.models + (r.name -> r))
    }

  def addGraphMetric(ms: Metric*): Catalog =
    copy(graphMetrics = graphMetrics ++ ms.map(m => m.name -> m))

  /** Curated stored queries (reference: core/consumption.py:100,168 —
    * Explores resolve to the same shape before planning). */
  def addSavedQuery(name: String, q: graft.plan.SemanticQuery): Catalog =
    copy(savedQueries = savedQueries + (name -> q))

  def model(name: String): Model =
    models.getOrElse(name, throw new IllegalArgumentException(
      s"Unknown model '$name'. Known: ${models.keys.toSeq.sorted.mkString(", ")}"))

  /** Field-level merge inheritance (reference: core/inheritance.py:11,94). */
  private def resolveExtends(m: Model): Model = m.extendsModel match {
    case None => m
    case Some(parentName) =>
      val p = model(parentName) // parent must already be registered (cycle-safe)
      m.copy(
        primaryKey = if (m.primaryKey.nonEmpty) m.primaryKey else p.primaryKey,
        dimensions = mergeByName(p.dimensions, m.dimensions)(_.name),
        metrics = mergeByName(p.metrics, m.metrics)(_.name),
        relationships = mergeByName(p.relationships, m.relationships)(_.to),
        segments = mergeByName(p.segments, m.segments)(_.name),
        defaultTimeDimension = m.defaultTimeDimension.orElse(p.defaultTimeDimension),
        freshness = m.freshness.orElse(p.freshness),
        extendsModel = None
      )
  }

  private def mergeByName[T](parent: Seq[T], child: Seq[T])(key: T => String): Seq[T] = {
    val childKeys = child.map(key).toSet
    parent.filterNot(x => childKeys(key(x))) ++ child
  }

  /** Physical scan for a model. Filters/pruning applied later compose into
    * this scan via Catalyst pushdown (PushedFilters/ReadSchema at the file
    * source), so the scan itself stays unprojected here.
    *
    * File-backed scans memoize driver-side: `spark.read.parquet` re-lists
    * files and re-reads footers on every call (~100 ms measured) — paid
    * per compile otherwise, which alone busts the tens-of-ms plan-build
    * contract. Table/temp-view sources are NOT cached (their definitions
    * can be replaced mid-session); SqlView caches only when file-backed. */
  def scan(spark: SparkSession, m: Model): DataFrame = m.source match {
    case ModelSource.Parquet(pattern) =>
      val path = pattern.replace("{dir}", dataDir)
      Catalog.cachedScan((spark, "parquet", path))(spark.read.parquet(path))
    case ModelSource.Table(t) => spark.table(t)
    case ModelSource.SqlView(s) =>
      if (s.contains("parquet.`"))
        Catalog.cachedScan((spark, "sql", s))(spark.sql(s))
      else spark.sql(s)
  }

  /** Schema-evolution diff against a prior catalog version (`migrate
    * check` analog): every removal or redefinition a downstream query
    * could observe is breaking; additions and metadata-only changes are
    * not. */
  def diff(prior: Catalog): Seq[SchemaChange] = {
    var out = Vector.empty[SchemaChange]
    def change(kind: String, path: String, breaking: Boolean, detail: String): Unit =
      out :+= SchemaChange(kind, path, breaking, detail)

    (prior.models.keySet -- models.keySet).toSeq.sorted.foreach(n =>
      change("model_removed", n, breaking = true, "model no longer defined"))
    (models.keySet -- prior.models.keySet).toSeq.sorted.foreach(n =>
      change("model_added", n, breaking = false, "new model"))

    (prior.models.keySet & models.keySet).toSeq.sorted.foreach { n =>
      val (p, c) = (prior.models(n), models(n))
      if (p.source != c.source)
        change("source_changed", n, breaking = true,
          s"${p.source} -> ${c.source}")
      if (p.primaryKey != c.primaryKey)
        change("primary_key_changed", n, breaking = true,
          s"${p.primaryKey.mkString(",")} -> ${c.primaryKey.mkString(",")}")

      def fieldDiff[A](kind: String, prev: Seq[A], cur: Seq[A], name: A => String,
          core: A => Any, visible: A => Boolean): Unit = {
        val pm = prev.map(f => name(f) -> f).toMap
        val cm = cur.map(f => name(f) -> f).toMap
        (pm.keySet -- cm.keySet).toSeq.sorted.foreach(f =>
          change(s"${kind}_removed", s"$n.$f", breaking = true,
            s"$kind no longer defined"))
        (cm.keySet -- pm.keySet).toSeq.sorted.foreach(f =>
          change(s"${kind}_added", s"$n.$f", breaking = false, s"new $kind"))
        (pm.keySet & cm.keySet).toSeq.sorted.foreach { f =>
          val (pf, cf) = (pm(f), cm(f))
          if (visible(pf) && !visible(cf))
            change(s"${kind}_hidden", s"$n.$f", breaking = true,
              "public field became non-public")
          else if (core(pf) != core(cf))
            change(s"${kind}_redefined", s"$n.$f", breaking = true,
              "definition changed (results may differ)")
          else if (pf != cf)
            change(s"${kind}_metadata", s"$n.$f", breaking = false,
              "label/governance-only change")
        }
      }

      fieldDiff[Dimension]("dimension", p.dimensions, c.dimensions, _.name,
        d => (d.dimType, d.sql, d.granularity, d.parent), _.public)
      fieldDiff[Metric]("metric", p.metrics, c.metrics, _.name,
        m => m.copy(label = None, governance = None), _.public)
      fieldDiff[Relationship]("relationship", p.relationships, c.relationships,
        _.to, identity, _ => true)
      fieldDiff[Segment]("segment", p.segments, c.segments, _.name,
        s => s.sql, _.public)
    }
    out
  }

  def breakingChanges(prior: Catalog): Seq[SchemaChange] =
    diff(prior).filter(_.breaking)

  /** Locate a metric by "model.metric", a graph-level bare name, or a
    * namespaced graph-level name ("finance.revenue_per_order" — top-level
    * metric contracts use dots without a backing model). */
  def resolveMetric(ref: String): (Option[Model], Metric) =
    graphMetrics.get(ref) match {
      case Some(gm) => (None, gm)
      case None => ref.split('.') match {
        case Array(mName, metName) =>
          val m = model(mName)
          (Some(m), m.metric(metName).getOrElse(throw new IllegalArgumentException(
            s"Unknown metric '$metName' on model '$mName'")))
        case Array(bare) =>
          throw new IllegalArgumentException(s"Unknown graph metric '$bare'")
        case _ => throw new IllegalArgumentException(s"Bad metric ref '$ref'")
      }
    }
}

/** One observed schema-evolution change (`migrate check` analog). */
final case class SchemaChange(kind: String, path: String, breaking: Boolean,
    detail: String)

object Catalog {
  /** Driver-side memo of file-backed scan frames, keyed by (session,
    * kind, path/sql). The underlying files in an analytics lake are
    * immutable partitions; call [[invalidateScans]] if a path is
    * rewritten in place (a dataDir change produces a different key, so it
    * needs no invalidation). LRU-bounded so a long-lived process hosting
    * many sessions cannot pin unbounded plans; [[invalidateScans(spark)]]
    * releases a closing session's entries (the cached frames hold their
    * session strongly, so eviction is what makes it collectable). */
  private val MaxScanEntries = 256
  private type ScanKey = (SparkSession, String, String)

  /** Each key holds the future its first miss completes, so the map's
    * lock is held only to look a key up: a cold scan lists its files or
    * analyses its view outside it, callers of the same key wait on its
    * future, and a cold scan of any other key never waits for it. */
  private val scanCache =
    new java.util.LinkedHashMap[ScanKey, CompletableFuture[DataFrame]](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[ScanKey, CompletableFuture[DataFrame]]): Boolean =
        size() > MaxScanEntries
    }

  /** The memoized scan for `key`, built by `build` on a miss. A failed
    * build leaves no entry. An invalidation that runs while a build is in
    * flight removes its future, so no caller after the invalidation is
    * served that build; callers before it planned under the older
    * [[scanEpoch]], whose plan-cache entries are then stale. */
  private def cachedScan(key: ScanKey)(build: => DataFrame): DataFrame = {
    val mine = new CompletableFuture[DataFrame]
    val slot = scanCache.synchronized {
      val cur = scanCache.get(key)
      if (cur != null) cur else { scanCache.put(key, mine); mine }
    }
    if (slot ne mine)
      try slot.join() catch { case e: CompletionException => throw e.getCause }
    else
      try { val df = build; mine.complete(df); df }
      catch { case e: Throwable =>
        scanCache.synchronized(scanCache.remove(key, mine))
        mine.completeExceptionally(e)
        throw e
      }
  }

  /** Bumped by both [[invalidateScans]] overloads, after the drop: a
    * generator's plan cache treats an entry built under an older epoch
    * as a miss, since its plan holds the dropped frames' file listings. */
  private val epoch = new java.util.concurrent.atomic.AtomicLong
  def scanEpoch: Long = epoch.get

  def invalidateScans(): Unit = {
    scanCache.synchronized(scanCache.clear())
    epoch.incrementAndGet()
  }

  /** Drop every cached scan belonging to one session (call on session close). */
  def invalidateScans(spark: SparkSession): Unit = {
    scanCache.synchronized {
      val it = scanCache.keySet.iterator()
      while (it.hasNext) if (it.next()._1 eq spark) it.remove()
    }
    epoch.incrementAndGet()
  }
}

/** Plan-time validation (reference: core/validation.py + security.py:61). */
object Validation {

  private def checkGovernance(g: Governance, where: String): Unit = {
    g.status.foreach(s => require(Set("draft", "active", "deprecated")(s),
      s"$where: unknown governance status '$s'"))
    g.certification.foreach(c => require(
      Set("certified", "verified", "uncertified")(c),
      s"$where: unknown certification '$c'"))
    require(Set("public", "internal", "private")(g.visibility),
      s"$where: unknown visibility '${g.visibility}'")
  }

  def validateExplore(e: Explore, cat: Catalog): Unit = {
    require(cat.models.contains(e.model),
      s"Explore '${e.name}': unknown base model '${e.model}'")
    e.governance.foreach(checkGovernance(_, s"Explore '${e.name}'"))
    // defaults must themselves be allowed (consumption.py:135-160)
    e.allowedDimensions.foreach { al =>
      val s = al.map(e.qualify).toSet
      e.defaultDimensions.map(e.qualify).foreach(d => require(s(d),
        s"Explore '${e.name}': default dimension '$d' is not allowed"))
    }
    e.allowedMetrics.foreach { al =>
      val s = al.map(e.qualify).toSet
      e.defaultMetrics.map(e.qualify).foreach(m => require(s(m),
        s"Explore '${e.name}': default metric '$m' is not allowed"))
    }
    (e.defaultLimit, e.maxLimit) match {
      case (Some(d), Some(mx)) => require(d <= mx,
        s"Explore '${e.name}': default_limit exceeds max_limit")
      case _ => ()
    }
  }

  def validate(m: Model, cat: Catalog): Unit = {
    m.governance.foreach(checkGovernance(_, s"Model '${m.name}'"))
    m.metrics.foreach(met => met.governance.foreach(
      checkGovernance(_, s"Metric '${m.name}.${met.name}'")))
    val dupDims = m.dimensions.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupDims.isEmpty, s"Model '${m.name}': duplicate dimensions ${dupDims.mkString(",")}")
    val dupMets = m.metrics.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupMets.isEmpty, s"Model '${m.name}': duplicate metrics ${dupMets.mkString(",")}")
    m.metrics.foreach { met =>
      met.agg.foreach(a => require(AggKind.All(a),
        s"Model '${m.name}' metric '${met.name}': unknown agg '$a'"))
      met.metricType.foreach(t => require(
        Set("ratio", "derived", "cumulative", "time_comparison",
          "conversion", "retention", "cohort", "funnel")(t),
        s"Model '${m.name}' metric '${met.name}': unknown type '$t'"))
    }
    m.defaultTimeDimension.foreach { td =>
      require(m.dimension(td).exists(_.dimType == DimType.Time),
        s"Model '${m.name}': default_time_dimension '$td' is not a time dimension")
    }
    // pre-aggregation references must resolve (invalid_preaggregation_reference)
    m.preAggregations.foreach { pa =>
      pa.measures.foreach(ms => require(m.metric(ms).isDefined,
        s"Model '${m.name}' pre_aggregation '${pa.name}': unknown measure '$ms'"))
      // stored dimensions may also be raw relationship foreign keys
      // (join-key routing stores the fk so joined queries can route) or
      // QUALIFIED joined-cube references ('other.dim' — cube's
      // multiplied rollups): those validate against the remote model
      // when it is already registered and stay late-bound otherwise
      // (cross-file load order must not decide validity; an unmatched
      // qualified dim just never routes)
      pa.dimensions.foreach { d =>
        if (d.contains('.')) {
          val Array(om, od) = d.split("\\.", 2)
          cat.models.get(om).foreach(o => require(o.dimension(od).isDefined,
            s"Model '${m.name}' pre_aggregation '${pa.name}': unknown dimension '$d'"))
        } else require(m.dimension(d).isDefined ||
          m.relationships.exists(_.foreignKey.contains(d)),
          s"Model '${m.name}' pre_aggregation '${pa.name}': unknown dimension '$d'")
      }
      pa.timeDimension.foreach(td => require(m.dimension(td).isDefined,
        s"Model '${m.name}' pre_aggregation '${pa.name}': unknown time_dimension '$td'"))
    }
  }
}
