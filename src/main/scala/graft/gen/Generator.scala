package graft.gen

import graft.functions.{DecimalKernels, Exprs}
import graft.graph.{JoinHop, SemanticGraph}
import graft.model._
import graft.plan.{FieldRef, Grains, SemanticQuery}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Distinct, GlobalLimit, Join, LocalLimit, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, GraftPlan, GraftSqlBridge, SparkSession}

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

/** Compiles a [[SemanticQuery]] into one logical plan, analysed once.
  *
  * Design (SURVEY §7.1): compose a declarative logical plan, never SQL
  * strings — Catalyst then handles predicate pushdown, column pruning, join
  * physical strategy (broadcast for small dims), and whole-stage codegen.
  * Our job is the *semantic* planning Catalyst cannot do: join-path
  * resolution, join pruning, fan-out-safe aggregation strategy, metric-type
  * lowering, security injection (reference pipeline:
  * sidemantic/sql/generator.py:961).
  *
  * Every route (standard, multi-fact, pre-aggregation, and the window
  * and funnel planners, [[WindowMetrics]] and [[Funnels]]) composes
  * through [[GraftPlan]], which adds plan nodes without analysing them,
  * so Spark's analyzer runs once per compile, in [[build]], over the
  * whole plan.
  *
  * Internal column naming: `<model>__<field>[__<grain>]`; metric inputs as
  * `<model>__<metric>__raw`. Final select renames to user-facing short names.
  */
final class Generator(spark: SparkSession, cat: Catalog,
    preagg: Option[graft.preagg.PreAggStore] = None) {

  val graph = new SemanticGraph(cat)

  import Exprs.{attr, conjuncts, parse => parseE, rewriteAttrs, toColumn}

  // ------------------------------------------------------------------
  // Reference resolution
  // ------------------------------------------------------------------

  private case class DimRef(model: String, dim: Dimension, grain: Option[String]) {
    def outName: String = dim.name + grain.map("__" + _).getOrElse("")
    def innerName: String = s"${model}__$outName"
  }

  private case class MetricRef(model: String, metric: Metric) {
    def rawName: String = s"${model}__${metric.name}__raw"
  }

  private def dimRef(ref: String): DimRef = {
    val fr = FieldRef.parse(ref)
    val m = cat.model(fr.model)
    val d = m.dimension(fr.field).getOrElse(throw new IllegalArgumentException(
      s"Unknown dimension '${fr.field}' on model '${fr.model}'"))
    require(d.public, s"Dimension '${ref}' is not public") // field visibility
    // supported_granularities contract (reference: dimension.py): a grain
    // outside the declared list is a compile error, not a silent truncation
    fr.grain.foreach { g =>
      require(d.supportedGranularities.isEmpty || d.supportedGranularities.contains(g),
        s"Dimension '$ref': granularity '$g' not in supported_granularities " +
          d.supportedGranularities.mkString("[", ", ", "]"))
    }
    DimRef(fr.model, d, fr.grain)
  }

  /** Merged parameter map: package-level defaults overridden per query.
    * Values for DECLARED parameters render through their type's SQL
    * formatting (quote+escape strings/dates, validate numbers and
    * identifiers — the injection boundary, reference parameter.py
    * format_value); undeclared ad-hoc parameters substitute verbatim. */
  private[gen] def mergedParams(q: SemanticQuery): Map[String, String] =
    cat.paramDefaults ++ q.parameters.map { case (k, v) =>
      k -> cat.paramTypes.get(k).map(t =>
        graft.functions.Params.format(t, v)).getOrElse(v)
    }

  /** Output column by metric name — namespaced graph metrics carry dots
    * ("finance.revenue_per_order"), which col() would parse as a struct
    * access without backticks. */
  private def outCol(name: String): org.apache.spark.sql.Column =
    if (name.contains(".")) col(s"`$name`") else col(name)

  private def metricRef(ref: String): MetricRef = {
    val (mOpt, met) = cat.resolveMetric(ref)
    require(met.public, s"Metric '$ref' is not public")
    MetricRef(mOpt.map(_.name).getOrElse(""), met)
  }

  /** Dependency resolution without the visibility gate: hidden metrics are
    * legal as internal inputs (ratio numerators, derived terms) — `public:
    * false` only blocks direct requests. */
  private def metricRefInternal(ref: String): MetricRef = {
    val (mOpt, met) = cat.resolveMetric(ref)
    MetricRef(mOpt.map(_.name).getOrElse(""), met)
  }

  /** Simple-aggregate dependencies of a metric (transitive through
    * derived/ratio/cumulative/time_comparison). `path` carries the
    * reference chain so a cycle raises the reference's circular-
    * dependency error (validation.py:752 _check_circular_dependencies)
    * instead of overflowing the stack. */
  private def simpleDeps(mr: MetricRef,
      path: List[String] = Nil): Seq[MetricRef] = {
    val key =
      if (mr.model.isEmpty) mr.metric.name else s"${mr.model}.${mr.metric.name}"
    if (path.contains(key)) throw new IllegalArgumentException(
      s"Circular metric dependency: ${(key :: path).reverse.mkString(" -> ")}")
    val p = key :: path
    mr.metric.kind match {
      case "simple" => Seq(mr)
      case "ratio" =>
        Seq(mr.metric.numerator, mr.metric.denominator).flatten
          .flatMap(r => simpleDeps(resolveDep(mr, r), p))
      case "derived" =>
        metricNameRefs(mr).flatMap(r => simpleDeps(r, p))
      case "cumulative" | "time_comparison" =>
        simpleDeps(resolveDep(mr, mr.metric.baseMetric.getOrElse(
          throw new IllegalArgumentException(
            s"Metric '${mr.metric.name}' needs base_metric"))), p)
      case _ => Nil // funnel kinds plan their own pipelines
    }
  }

  /** Resolve a dependency reference relative to the referring metric's model. */
  private def resolveDep(from: MetricRef, ref: String): MetricRef =
    if (ref.contains(".")) metricRefInternal(ref)
    else {
      val owner = cat.models.get(from.model)
      owner.flatMap(_.metric(ref)) match {
        case Some(met) => MetricRef(from.model, met)
        case None => metricRefInternal(ref) // graph-level
      }
    }

  /** Metric names referenced inside a derived formula. */
  private def metricNameRefs(mr: MetricRef): Seq[MetricRef] = {
    val formula = mr.metric.sql.getOrElse(throw new IllegalArgumentException(
      s"Derived metric '${mr.metric.name}' needs sql"))
    Exprs.refs(spark, formula).flatMap {
      case Seq(m, f) if cat.models.get(m).exists(_.metric(f).isDefined) =>
        Some(MetricRef(m, cat.model(m).metric(f).get))
      case Seq(f) =>
        cat.models.get(mr.model).flatMap(_.metric(f)).map(MetricRef(mr.model, _))
          .orElse(cat.graphMetrics.get(f).map(MetricRef("", _)))
      case _ => None
    }
  }

  // ------------------------------------------------------------------
  // Filter handling
  // ------------------------------------------------------------------

  /** A classified filter conjunct. */
  private sealed trait Where
  private case class PushDown(model: String, e: Expression) extends Where
  private case class OuterWhere(e: Expression) extends Where
  private case class HavingF(e: Expression) extends Where

  /** Two-part refs in an expression, as (model, fieldWithGrain). */
  private def fieldRefsIn(e: Expression): Seq[(String, String)] = {
    val out = scala.collection.mutable.ListBuffer[(String, String)]()
    e.foreach {
      case ua: UnresolvedAttribute if ua.nameParts.size == 2 =>
        out += ((ua.nameParts.head, ua.nameParts(1)))
      case _ => ()
    }
    out.toList
  }

  private def isMetricRefPair(m: String, f: String): Boolean =
    cat.models.get(m).exists(_.metric(f).isDefined)

  private def classify(q: SemanticQuery): Seq[Where] = {
    val segFilters = q.segments.map { ref =>
      val fr = FieldRef.parse(ref)
      val seg = cat.model(fr.model).segment(fr.field).getOrElse(
        throw new IllegalArgumentException(s"Unknown segment '$ref'"))
      seg.sql.replace("{model}", fr.model)
    }
    (q.filters ++ segFilters).flatMap { raw =>
      val interpolated = Exprs.interpolate(raw, mergedParams(q))
      val e0 = Exprs.rewriteRelativeDates(parseE(spark, interpolated), q.anchorDate)
      conjuncts(e0).map { c =>
        val refs = fieldRefsIn(c)
        require(refs.nonEmpty, s"Filter '$raw' must reference model.field")
        if (refs.exists { case (m, f) => isMetricRefPair(m, f) }) HavingF(c)
        else {
          val models = refs.map(_._1).distinct
          if (models.size == 1) PushDown(models.head, c) else OuterWhere(c)
        }
      }
    }
  }

  /** Rewrite a query-scope expression (`model.field` refs) to model-local
    * scope: dim refs become the dim's own SQL (with grain trunc), other
    * fields become bare physical columns. */
  /** Query-level timezone: time dimensions localize before any grain
    * truncation (reference: sql/generator.py:378-399; forces preagg
    * bypass there and here — see matchQuery). Data timestamps are UTC. */
  private val tzHolder = new ThreadLocal[Option[String]] {
    override def initialValue(): Option[String] = None
  }

  private def withTimezone[T](tz: Option[String])(f: => T): T = {
    val prev = tzHolder.get(); tzHolder.set(tz)
    try f finally tzHolder.set(prev)
  }

  private def localizeTime(model: Model, field: String, e: Expression): Expression =
    tzHolder.get() match {
      case Some(tz) if model.dimension(field).exists(_.dimType == DimType.Time) =>
        Exprs.fn("from_utc_timestamp", e, Exprs.strLit(tz))
      case _ => e
    }

  private[gen] def toModelScope(model: Model, e: Expression): Expression =
    rewriteAttrs(e) {
      case Seq(m, f) if m == model.name => Some(localField(model, f))
      case Seq(f) => Some(localField(model, f))
      case _ => None
    }

  private[gen] def localField(model: Model, fieldWithGrain: String): Expression = {
    val (field, grain) = splitGrain(model, fieldWithGrain)
    val base = localizeTime(model, field, model.dimension(field) match {
      case Some(d) => parseE(spark, d.expr)
      case None    => attr(field)
    })
    grain.map(g => Exprs.truncExpr(g, base)).getOrElse(base)
  }

  private[gen] def splitGrain(model: Model, f: String): (String, Option[String]) =
    f.split("__") match {
      case Array(base, g) if Grains.isGrain(g) && model.dimension(base).isDefined =>
        (base, Some(g.toLowerCase))
      case _ => (f, None)
    }

  /** Rewrite query-scope refs to joined-frame column names (`model__field`). */
  private def toJoinedScope(e: Expression, defaultModel: Option[String]): Expression =
    rewriteAttrs(e) {
      case Seq(m, f) if cat.models.contains(m) => Some(attr(s"${m}__$f"))
      case Seq(f) if defaultModel.isDefined => Some(attr(s"${defaultModel.get}__$f"))
      case _ => None
    }

  // ------------------------------------------------------------------
  // Per-model frame ("CTE"): scan → security → pushed filters → projection
  // ------------------------------------------------------------------

  private case class Needed(
      dims: Set[(String, Option[String])] = Set.empty, // (dimName, grain)
      raws: Set[String] = Set.empty,                   // metric names
      phys: Set[String] = Set.empty                    // passthrough phys cols
  ) {
    def ++(o: Needed): Needed = Needed(dims ++ o.dims, raws ++ o.raws, phys ++ o.phys)
  }

  /** Route a needed field to dim-vs-phys so projection names stay unique. */
  private def needField(model: Model, fieldWithGrain: String): Needed = {
    val (field, grain) = splitGrain(model, fieldWithGrain)
    if (model.dimension(field).isDefined) Needed(dims = Set((field, grain)))
    else Needed(phys = Set(fieldWithGrain))
  }

  /** Access-gate results cached per rendered expression: after user-literal
    * substitution the gate is a constant, so one driver-side evaluation per
    * (gate, user-values) pair serves every subsequent compile. */
  private val gateCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def evalGate(modelName: String, rendered: String): Boolean =
    gateCache.computeIfAbsent(rendered, _ =>
      try {
        // literal-only expression over a one-row local relation: analyzed +
        // constant-folded on the driver, no Spark job is launched
        val row = spark.sql(s"SELECT CAST(($rendered) AS BOOLEAN)").head()
        java.lang.Boolean.valueOf(!row.isNullAt(0) && row.getBoolean(0))
      } catch {
        case e: SecurityException => throw e
        case e: Exception => throw new SecurityException(
          s"Access gate for '$modelName' failed to evaluate: $rendered (${e.getMessage})")
      })

  /** The one enforcement point for every scan path — standard aggregation,
    * funnels/retention/cohorts, windows (reference: generator.py:879-960,
    * docs/security.md). Deny-by-default: a secured model queried with no
    * user attributes raises rather than running unscoped; the access gate
    * and row filters are applied before any join so fan-out cannot leak. */
  private[gen] def securedScan(model: Model,
      user: Option[Map[String, String]]): GraftPlan = {
    var df = GraftPlan(cat.scan(spark, model))
    model.security.foreach { pol =>
      val attrs = user.getOrElse(throw new SecurityException(
        s"Model '${model.name}' has a security policy; query supplied no user attributes"))
      pol.access.foreach { gate =>
        val rendered = Exprs.renderUserExpr(gate, attrs)
        if (!evalGate(model.name, rendered)) throw new SecurityException(
          s"Access denied to model '${model.name}'")
      }
      pol.rowFilters.foreach { f =>
        df = df.filter(toColumn(toModelScope(model, parseE(spark, Exprs.renderUser(f, attrs)))))
      }
    }
    df
  }

  private def modelFrame(model: Model, needed: Needed,
      pushed: Seq[Expression], user: Option[Map[String, String]]): GraftPlan = {
    var df = securedScan(model, user)
    pushed.foreach(e => df = df.filter(toColumn(toModelScope(model, e))))
    val dimCols = needed.dims.toSeq.sortBy(_._1).map { case (dn, grain) =>
      val d = model.dimension(dn).get
      val base = localizeTime(model, dn, parseE(spark, d.expr))
      val e = grain.map(g => Exprs.truncExpr(g, base)).getOrElse(base)
      toColumn(e).as(s"${model.name}__$dn${grain.map("__" + _).getOrElse("")}")
    }
    val rawCols = needed.raws.toSeq.sorted.flatMap { mn =>
      val met = model.metric(mn).get
      met.sql.map(s => toColumn(rawMetricExpr(model, s))
        .as(s"${model.name}__${mn}__raw"))
    }
    val physCols = needed.phys.toSeq.sorted.map(c =>
      col(c).as(s"${model.name}__$c"))
    df.select(dimCols ++ rawCols ++ physCols: _*)
  }

  /** Metric input expression. A top-level comma list ("a, b") is the
    * multi-argument COUNT(DISTINCT a, b) form: it materializes as a
    * null-guarded struct, so countDistinct counts distinct TUPLES and a
    * row with ANY null component is excluded (SQL semantics — a bare
    * struct would count null-bearing tuples). */
  private def rawMetricExpr(model: Model, s: String): Expression =
    try toModelScope(model, parseE(spark, s))
    catch {
      case _: Exception if s.contains(",") =>
        val parts = splitTopLevel(s)
        require(parts.size > 1, s"Unparseable metric sql: $s")
        val guarded = s"CASE WHEN ${parts.map(p => s"($p) IS NULL")
          .mkString(" OR ")} THEN NULL ELSE struct($s) END"
        toModelScope(model, parseE(spark, guarded))
    }

  /** Split on commas outside parens/quotes. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    var depth = 0; var inQ = false; val cur = new StringBuilder
    s.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case '(' if !inQ => depth += 1; cur += '('
      case ')' if !inQ => depth -= 1; cur += ')'
      case ',' if !inQ && depth == 0 => out += cur.toString.trim; cur.clear()
      case c => cur += c
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.toList
  }

  // ------------------------------------------------------------------
  // Aggregation lowering
  // ------------------------------------------------------------------

  /** Raw input column for a metric in the joined frame. count() without
    * sql counts the metric model's PRIMARY KEY, not literal rows — under a
    * LEFT join, rows of other models with no match must contribute zero
    * (composite_keys fixture: items without shipments count 0). */
  private def rawInput(mr: MetricRef): Column =
    if (mr.metric.sql.isDefined) col(mr.rawName)
    else cat.model(mr.model).primaryKey.headOption
      .map(pk => col(s"${mr.model}__$pk")).getOrElse(lit(1L))

  /** Metric-level filters → agg(CASE WHEN f THEN x END)
    * (reference: generator.py:4540-4577). */
  /** Metric filter with the `{model}` placeholder bound to the owner. */
  private def metricFilterE(mr: MetricRef, f: String): Expression =
    parseE(spark, f.replace("{model}", mr.model))

  private def filteredInput(mr: MetricRef): Column = {
    val raw = rawInput(mr)
    if (mr.metric.filters.isEmpty) raw
    else {
      val cond = mr.metric.filters
        .map(f => toColumn(toJoinedScope(metricFilterE(mr, f), Some(mr.model))))
        .reduce(_ && _)
      when(cond, raw)
    }
  }

  private def aggColumn(mr: MetricRef): Column = {
    val in = filteredInput(mr)
    val c = mr.metric.agg.get match {
      case "sum"            => sum(in)
      case "count"          => count(in)
      case "count_distinct" => countDistinct(in)
      case "approx_count_distinct" => approx_count_distinct(in)
      // sum/count in double, not avg(): over a decimal input the sum is
      // exact and order-independent, so the final double is deterministic
      // under any partitioning — avg(decimal) would yield an engine-
      // specific decimal scale, and avg(double) an order-dependent sum
      case "avg"            => sum(in).cast("double") / count(in).cast("double")
      case "min"            => min(in)
      case "max"            => max(in)
      case "median"         => median(in)
      case "stddev"         => stddev_samp(in)
      case "stddev_pop"     => stddev_pop(in)
      case "variance"       => var_samp(in)
      case "variance_pop"   => var_pop(in)
      // ANSI inverse-distribution aggregates: PERCENTILE_CONT/DISC(p)
      // WITHIN GROUP (ORDER BY expr)
      case p @ ("percentile_cont" | "percentile_disc") =>
        graft.functions.PercentileAgg.column(p, in, mr.metric.aggParam)
    }
    fillNulls(mr, c).as(mr.metric.name)
  }

  private def fillNulls(mr: MetricRef, c: Column): Column =
    mr.metric.fillNullsWith.map(v => coalesce(c, expr(v))).getOrElse(c)

  /** Fan-out-safe aggregation over a deduplicated frame: rows are distinct
    * (dims, pk, value) — matches the reference's symmetric-aggregate
    * semantics (SUM(DISTINCT hash·K + v), symmetric_aggregate.py:20-162)
    * without the hash-collision risk or decimal-overflow discipline. */
  private def symmetricAggColumn(mr: MetricRef, pkCols: Seq[String]): Column = {
    val in = filteredInput(mr)
    val pk = if (pkCols.size == 1) col(pkCols.head)
             else concat_ws("§", pkCols.map(col): _*)
    val c = mr.metric.agg.get match {
      case "sum"   => sum(in)
      case "count" => countDistinct(when(in.isNotNull, pk))
      case "avg"   => sum(in).cast("double") /
                      countDistinct(when(in.isNotNull, pk)).cast("double")
      case "min"   => min(in)
      case "max"   => max(in)
      case "count_distinct"        => countDistinct(in)
      case "approx_count_distinct" => approx_count_distinct(in)
      case other => throw new IllegalArgumentException(
        s"Metric '${mr.metric.name}': agg '$other' cannot be made fan-out safe " +
          "(no distributive decomposition) — reference raises here too " +
          "(symmetric_aggregate.py:147-159)")
    }
    fillNulls(mr, c).as(mr.metric.name)
  }

  // ------------------------------------------------------------------
  // Standard path
  // ------------------------------------------------------------------

  /** A composed plan as the compile cache keeps it: the analyzed
    * LOGICAL plan after the decimal kernels and the one-task gate, the
    * route that built it, the gate's decision, how many operators the
    * kernels replaced, the Dataset a hit returns again when
    * [[Generator.reusable]] allows it, and the scan epoch and rollup
    * store version it was built under. `derived` holds the steps
    * [[plan(q, step)]] built over `reused`, by step; they live and die
    * with the entry. */
  private final class Planned(val plan: LogicalPlan, val route: String,
      val shape: Generator.Shape, val kernels: DecimalKernels.Replaced,
      val reused: Option[DataFrame], val scanEpoch: Long,
      val storeVersion: Long) {
    val derived = new ConcurrentHashMap[Product, DataFrame]()
    def current(epoch: Long, version: Long): Boolean =
      scanEpoch == epoch && storeVersion == version
  }

  /** Compile cache: identical requests reuse the composed plan
    * (reference: generator.py:332-377,1041 — warm repeat compile).
    * A plan the one-task gate opened for (and [[Generator.reusable]]
    * admits) keeps the Dataset its miss returned, and a hit returns that
    * same Dataset: its physical plan, generated code, scan RDDs and
    * broadcast build sides carry over, while every action still runs its
    * own job over the files. What it pins is bounded: at most 256
    * entries, each over an input under the read budget, each with at
    * most [[Generator.MaxDerived]] derived steps. Any other plan
    * keeps only its LOGICAL plan and a hit returns a FRESH Dataset over
    * it: an executed Dataset pins its adaptive runtime state —
    * materialized broadcast hash tables, shuffle outputs — and a
    * long-lived layer serving hundreds of large queries would otherwise
    * accumulate pinned state until execution memory starves. An entry
    * built before a [[Catalog.invalidateScans]] or a write to this
    * generator's rollup store is a miss: its file listings may name
    * rewritten files.
    *
    * Each key holds the future its first miss completes, so the map's
    * lock is held only to look a key up: a miss composes outside it,
    * callers of the same key wait on that future, and a hit on any other
    * key never waits for a compose. */
  private val planCache =
    new java.util.LinkedHashMap[SemanticQuery, CompletableFuture[Planned]](
        64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[SemanticQuery,
          CompletableFuture[Planned]]): Boolean = size > 256
    }

  def plan(q: SemanticQuery): DataFrame = planned(q)._1

  /** A result-shaping step over `plan(q)` — a table calc, a rename, an
    * aggregate over the result — cached in q's own entry, so it is
    * evicted and invalidated with it. `step` is a value holding the
    * step's parameters (a tuple or case class, never a closure) and must
    * determine `f`. The derived Dataset is kept, and a hit returns it
    * again, only when q's entry holds a reused Dataset and the derived
    * plan passes [[Generator.derivable]]; otherwise every call returns
    * `f` over a fresh Dataset, as `f(plan(q))` would. */
  def plan(q: SemanticQuery, step: Product)(
      f: DataFrame => DataFrame): DataFrame = {
    val (df, p) = planned(q)
    if (p.reused.isEmpty) f(df)
    else Option(p.derived.get(step)).getOrElse {
      val out = f(df)
      if (p.derived.size >= Generator.MaxDerived || !Generator.derivable(out))
        out
      else Option(p.derived.putIfAbsent(step, out)).getOrElse(out)
    }
  }

  /** The route that plans `q` (preagg, standard, window, ...), read from
    * its cache entry, so concurrent plans cannot mislabel it. */
  def route(q: SemanticQuery): String = planned(q)._2.route

  /** The DataFrame for `q` together with the cache entry it was built
    * from. A hit returns the entry's Dataset; a stale entry (older scan
    * epoch or store version) is replaced; a miss is built by [[build]]
    * under its own key's future, which other callers of `q` wait on. */
  @annotation.tailrec
  private def planned(q: SemanticQuery): (DataFrame, Planned) = {
    // read before composing: an invalidation racing the compose then
    // leaves this entry stale, never a stale plan under a new epoch
    val epoch = Catalog.scanEpoch
    val version = preagg.fold(0L)(_.version)
    val mine = new CompletableFuture[Planned]
    val slot = planCache.synchronized {
      val cur = planCache.get(q)
      if (cur != null && (!cur.isDone || cur.join().current(epoch, version)))
        cur
      else { planCache.put(q, mine); mine }
    }
    if (slot eq mine) build(q, epoch, version, mine)
    else {
      val p = try slot.join()
        catch { case e: CompletionException => throw e.getCause }
      if (p.current(epoch, version))
        (p.reused.getOrElse(GraftSqlBridge.dataFrame(spark, p.plan)), p)
      else planned(q) // built under an epoch or version this call predates
    }
  }

  /** A miss: compose `q` and complete its slot. Every route (standard,
    * window, funnel, pre-agg, multi-fact, and SqlFront, which calls
    * [[plan]]) is rewritten here once: first [[DecimalKernels.rewrite]]
    * swaps double→decimal casts and decimal SUMs for their exact
    * long-backed kernels, then the one-task gate reshapes the plan. A
    * failed compose leaves no entry, so the next call composes again. */
  private def build(q: SemanticQuery, epoch: Long, version: Long,
      slot: CompletableFuture[Planned]): (DataFrame, Planned) =
    try {
      val (unanalysed, route) = compute(q)
      val df = unanalysed.toDF // the compile's one analysis
      val composed = GraftSqlBridge.logicalPlan(df)
      val (fast, kernels) = DecimalKernels.rewrite(composed)
      val (shaped, shape) = Generator.oneTask(spark, fast)
      val out =
        if (shaped eq composed) df else GraftSqlBridge.dataFrame(spark, shaped)
      val p = new Planned(shaped, route, shape, kernels,
        Some(out).filter(_ => Generator.reusable(shape, shaped)), epoch,
        version)
      slot.complete(p)
      (out, p)
    } catch { case e: Throwable =>
      planCache.synchronized(planCache.remove(q, slot))
      slot.completeExceptionally(e)
      throw e
    }

  /** True when any model the query touches declares a security policy —
    * the preagg-bypass predicate. Segments carry a model prefix too.
    * Filters are parsed as well (same `Exprs.refs` split
    * `PreAggStore.prepare` uses): prepare() accepts foreign-model filter
    * conjuncts and joins that model WITHOUT [[securedScan]], so a
    * filter-only reference to a secured model would otherwise route its
    * rows around the access gate, the deny-by-default no-user check, and
    * the row filters the base path enforces. Filter parsing only runs
    * when some model actually declares security, keeping the common
    * (unsecured) compile path parse-free. */
  private def referencesSecuredModel(q: SemanticQuery): Boolean = {
    def secured(m: String) = cat.models.get(m).exists(_.security.isDefined)
    if (!cat.models.values.exists(_.security.isDefined)) return false
    val fieldModels = (q.metrics ++ q.dimensions ++ q.segments).iterator
      .filter(_.contains('.')) // unprefixed graph metrics never route
      .map(r => FieldRef.parse(r).model) // through a (model-scoped) rollup
    val filterModels = q.filters.iterator.flatMap(f =>
      Exprs.refs(spark, Exprs.interpolate(f, mergedParams(q)))
        .collect { case Seq(m, _) => m })
    (fieldModels ++ filterModels).exists(secured)
  }

  /** The composed, unanalysed plan for `q` and the route that built it. */
  private def compute(q: SemanticQuery): (GraftPlan, String) =
      withTimezone(q.timezone) {
    // pre-aggregation routing first (reference route order,
    // generator.py:1258); timezone localization bypasses rollups, which
    // store UTC-truncated buckets (reference: generator.py:1038).
    // Secured models also bypass: rollups are materialized WITHOUT
    // per-user row scope, so serving one would leak rows the security
    // filter removes (reference: transport_security.py:135-140 —
    // "structured compile already disables them for active row filters")
    val rollup =
      if (q.usePreAggs && q.timezone.isEmpty && !referencesSecuredModel(q))
        preagg.flatMap(_.plan(q))
      else None
    rollup.map(_ -> "preagg").getOrElse {
      val requested = q.metrics.map(metricRef)
      val kinds = requested.map(_.metric.kind).toSet
      val offsetRatio = requested.exists(mr =>
        mr.metric.kind == "ratio" && mr.metric.offsetWindow.isDefined)
      if (kinds.exists(Set("cumulative", "time_comparison")) || offsetRatio)
        (new WindowMetrics(spark, this).plan(q), "window")
      else if (kinds.exists(Set("conversion", "retention", "cohort", "funnel"))) {
        require(requested.size == 1,
          "conversion/retention/cohort/funnel metrics must be queried alone")
        (new Funnels(spark, this).plan(q),
          kinds.intersect(Set("conversion", "retention", "cohort", "funnel")).head)
      } else aggregate(q, finalShape = true)
    }
  }

  /** Saved-query execution (reference: core/consumption.py SavedQuery). */
  def planSaved(name: String): DataFrame =
    plan(cat.savedQueries.getOrElse(name, throw new IllegalArgumentException(
      s"Unknown saved query '$name'")))

  /** Resolve a caller request through an Explore contract and plan it
    * (reference: core/consumption.py:100-210): bare names qualify against
    * the base model, defaults fill omitted selections, allowlists reject
    * out-of-contract fields, mandatory filters always apply, and the limit
    * clamps to max_limit. The explore's base model anchors the join graph. */
  def planExplore(name: String, q0: SemanticQuery = SemanticQuery()): DataFrame = {
    val ex = cat.explores.getOrElse(name, throw new IllegalArgumentException(
      s"Unknown explore '$name'"))
    val dims = (if (q0.dimensions.nonEmpty) q0.dimensions
                else ex.defaultDimensions).map(ex.qualify)
    val mets = (if (q0.metrics.nonEmpty) q0.metrics
                else ex.defaultMetrics).map(ex.qualify)
    ex.allowedDimensions.map(_.map(ex.qualify).toSet).foreach(s =>
      dims.foreach(d => require(s(d),
        s"Explore '$name': dimension '$d' is not allowed")))
    ex.allowedMetrics.map(_.map(ex.qualify).toSet).foreach(s =>
      mets.foreach(m => require(s(m),
        s"Explore '$name': metric '$m' is not allowed")))
    val callerFilters =
      if (q0.filters.nonEmpty) q0.filters else ex.defaultFilters
    ex.allowedFilterFields.map(_.map(ex.qualify).toSet).foreach { s =>
      callerFilters.foreach { f =>
        Exprs.refs(spark, Exprs.interpolate(f, mergedParams(q0))).collect {
          case Seq(m, fld) => s"$m.$fld"
        }.foreach(r => require(s(r),
          s"Explore '$name': filter field '$r' is not allowed"))
      }
    }
    val limit = (q0.limit.orElse(ex.defaultLimit), ex.maxLimit) match {
      case (Some(l), Some(mx)) => Some(math.min(l, mx))
      case (None, mx)          => mx
      case (l, None)           => l
    }
    plan(q0.copy(
      metrics = mets, dimensions = dims,
      filters = callerFilters ++ ex.filters,
      orderBy = if (q0.orderBy.nonEmpty) q0.orderBy else ex.defaultOrderBy,
      limit = limit,
      baseModel = q0.baseModel.orElse(Some(ex.model))))
  }

  /** Route + formatted physical plan, for debugging parity with the
    * reference's explain diagnostics (query_rewriter.py:331). */
  def explain(q: SemanticQuery): String = {
    val (df, p) = planned(q)
    // per-candidate rollup diagnostics (reference: core/query_plan.py) —
    // why each declared pre-aggregation matched or failed this query
    val preaggLines = preagg.map { st =>
      val ex = st.explainCandidates(q)
      if (!ex.eligible)
        s"preagg: ineligible — ${ex.reason.getOrElse("")}\n"
      else if (ex.candidates.isEmpty) "preagg: no candidates declared\n"
      else ex.candidates.map { c =>
        val status =
          if (c.selected) "SELECTED"
          else if (c.matched) "matched (narrower candidate selected)"
          else "rejected"
        val failed = c.checks.filterNot(_.passed)
        s"preagg candidate '${c.name}': $status" +
          failed.map(ch => s"\n  $ch").mkString
      }.mkString("", "\n", "\n")
    }.getOrElse("")
    val reuse =
      if (p.reused.isEmpty) "fresh Dataset per hit"
      else s"executed Dataset, ${p.derived.size} derived steps"
    s"route: ${p.route}\nmetrics: ${q.metrics.mkString(", ")}\n" +
      s"dimensions: ${q.dimensions.mkString(", ")}\n" + preaggLines +
      s"shape: ${p.shape}\nkernels: ${p.kernels}\nreuse: $reuse\n" +
      GraftSqlBridge.explainString(df, "formatted")
  }

  /** Aggregated plan at the requested dim grain, fan-out handled, with
    * the route it took. When finalShape, also applies derived/ratio
    * composition, HAVING, ordering, limit/offset and user-facing renames. */
  private[gen] def aggregate(q0: SemanticQuery,
      finalShape: Boolean): (GraftPlan, String) = {
    // default time dimension injection (reference: generator.py:1015):
    // a dimension-less query over a model declaring BOTH
    // default_time_dimension and default_grain groups by it implicitly
    val q = if (q0.dimensions.isEmpty && q0.metrics.nonEmpty &&
        q0.metrics.forall(_.contains("."))) { // graph-level metrics opt out
      val models = q0.metrics.map(FieldRef.parse(_).model).distinct
        .flatMap(cat.models.get)
      models match {
        case Seq(m) if m.defaultTimeDimension.isDefined && m.defaultGrain.isDefined =>
          q0.copy(dimensions = Seq(
            s"${m.name}.${m.defaultTimeDimension.get}__${m.defaultGrain.get}"))
        case _ => q0
      }
    } else q0
    val dims = q.dimensions.map(dimRef)
    // internal resolution: the user-facing visibility gate already ran at
    // plan() — inner replans (window metrics over hidden base metrics)
    // must not re-trip it
    val requested = q.metrics.map(metricRefInternal)

    val wheres = classify(q)
    val pushed = wheres.collect { case p: PushDown => p }
    val outer = wheres.collect { case o: OuterWhere => o }
    val having = wheres.collect { case h: HavingF => h }

    // metrics referenced only in HAVING still need computing (as hidden
    // columns — finish() projects just the requested ones)
    val havingMetrics = having.flatMap(h => fieldRefsIn(h.e))
      .filter { case (m, f) => isMetricRefPair(m, f) }
      .map { case (m, f) => metricRef(s"$m.$f") }
    val simples = (requested ++ havingMetrics).flatMap(simpleDeps(_))
      .distinctBy(m => (m.model, m.metric.name))
    require(simples.forall(_.model.nonEmpty),
      "Graph-level metrics must resolve to model metrics")

    val filterModels =
      (pushed.map(_.model) ++ outer.flatMap(o => fieldRefsIn(o.e).map(_._1))).distinct
    val metricFilterModels = simples
      .flatMap(mr => mr.metric.filters.map(mr -> _))
      .flatMap { case (mr, f) => fieldRefsIn(metricFilterE(mr, f)).map(_._1) }
    val allModels = (simples.map(_.model) ++ dims.map(_.model) ++
      filterModels ++ metricFilterModels ++ q.baseModel).distinct.filter(_.nonEmpty)
    require(allModels.nonEmpty, "Query references no models")

    // anchor: explicit base_model (reference: generator.py:84-101 —
    // Explores pin the join graph), else the first metric's model
    val base = q.baseModel
      .getOrElse(simples.headOption.map(_.model).getOrElse(dims.head.model))
    val hops = graph.joinPlan(base, allModels.filterNot(_ == base))
    val fanned = graph.fannedOutModels(base, hops)

    // semi-additive metrics interact badly with every fan-out strategy —
    // reference rejects the combination too (generator.py:1205-1210)
    simples.filter(_.metric.nonAdditive.isDefined).foreach { mr =>
      require(!fanned(mr.model),
        s"Semi-additive metric '${mr.metric.name}' cannot be queried across " +
          "a fan-out join")
    }

    val atRisk = simples.filter(mr =>
      mr.metric.nonAdditive.isEmpty &&
        fanned(mr.model) && !AggKind.FanoutSafe(mr.metric.agg.get))

    val (aggregated, route) =
      if (q.ungrouped)
        return (ungroupedSelect(q, dims, simples, pushed, outer, hops, base),
          "ungrouped")
      else if (atRisk.isEmpty)
        (singlePass(q, dims, simples, pushed, outer, hops, base, Set.empty),
          "standard")
      else if (multiFactLegal(q, dims, simples))
        (multiFactSplit(q, dims, simples), "multi-fact-split")
      else
        (singlePass(q, dims, simples, pushed, outer, hops, base,
          atRisk.map(_.model).toSet), "symmetric-dedup")

    (if (!finalShape) aggregated
     else finish(q, aggregated, dims, requested, simples, having), route)
  }

  /** True when every metric model can reach all dims without fan-out, so
    * each fact can aggregate independently at the shared grain
    * (reference: _needs_preaggregation_for_fanout, generator.py:2586-2651). */
  private def multiFactLegal(q: SemanticQuery, dims: Seq[DimRef],
      simples: Seq[MetricRef]): Boolean = {
    val metricModels = simples.map(_.model).distinct
    metricModels.size > 1 && metricModels.forall { m =>
      val others = dims.map(_.model).distinct.filterNot(_ == m)
      try {
        val hops = graph.joinPlan(m, others)
        val fanned = graph.fannedOutModels(m, hops)
        simples.filter(_.model == m).forall(mr =>
          !fanned(m) || AggKind.FanoutSafe(mr.metric.agg.get))
      } catch { case _: IllegalArgumentException => false }
    }
  }

  /** Join all model frames then aggregate once. Models in `dedupModels`
    * carry fan-out-unsafe metrics: their metrics aggregate over a frame
    * deduplicated on (dims, pk, value) — the symmetric-aggregate route. */
  private def singlePass(q: SemanticQuery, dims: Seq[DimRef],
      simples: Seq[MetricRef], pushed: Seq[PushDown], outer: Seq[OuterWhere],
      hops: Seq[JoinHop], base: String, dedupModels: Set[String]): GraftPlan = {

    val joined = buildJoined(q, dims, simples, pushed, outer, hops, base,
      extraPk = dedupModels)
    val dimCols = dims.map(d => col(d.innerName))

    def grouped(df: GraftPlan, aggs: Seq[Column]): GraftPlan =
      if (q.withTotals) {
        val flag = (if (dims.nonEmpty) grouping(dimCols.head).cast("int")
                    else lit(0)).as("_is_total")
        df.groupingSets(Seq(dimCols, Seq.empty[Column]), dimCols, aggs :+ flag)
      } else df.agg(dimCols, aggs)

    val (semiAdd, plain) = simples.partition(_.metric.nonAdditive.isDefined)

    if (dedupModels.isEmpty && semiAdd.isEmpty) {
      if (simples.isEmpty) return joined.select(dimCols: _*).distinct()
      grouped(joined, simples.map(aggColumn))
    } else {
      // partial aggregates per strategy class, then stitched back on the dims
      val safe = plain.filterNot(mr => dedupModels(mr.model))
      val partials = scala.collection.mutable.ListBuffer[GraftPlan]()
      if (safe.nonEmpty) partials += grouped(joined, safe.map(aggColumn))
      // detail+total union for strategies whose per-bucket input frame
      // depends on the grouping (dedup keys / snapshot windows include the
      // dims): the grand-total bucket must recompute its frame WITHOUT the
      // dims, or a pk appearing under k distinct dim values counts k times
      def detailPlusTotal(detailFrame: GraftPlan, totalFrame: GraftPlan,
          aggs: Seq[Column]): GraftPlan = {
        val detail = detailFrame.agg(dimCols, aggs)
          .withColumn("_is_total", lit(0))
        val total0 = totalFrame.agg(Nil, aggs)
          .withColumn("_is_total", lit(1))
        val total = dims.foldLeft(total0)((t, dm) =>
          t.withColumn(dm.innerName, lit(null)))
        detail.unionByName(total.select(detail.columns.map(col): _*))
      }
      // semi-additive: keep only rows at the min/max snapshot of the
      // non-additive time dim per (dims × groupings), then aggregate
      // (reference: sql/generator.py:147-274, :3391-3630)
      for (((model, na), ms) <- semiAdd
             .groupBy(mr => (mr.model, mr.metric.nonAdditive.get)).toSeq
             .sortBy(_._2.head.metric.name)) {
        val tCol = col(s"${model}__${na.name}")
        def snapFrame(partCols: Seq[String]): GraftPlan = {
          val w = Window.partitionBy(partCols.map(col): _*)
          val snap = (if (na.windowChoice == "min") min(tCol) else max(tCol)).over(w)
          joined.withColumn("__snap", snap).filter(tCol === col("__snap"))
        }
        val groupings = na.windowGroupings.map(g => s"${model}__$g")
        val detailFrame = snapFrame(dims.map(_.innerName) ++ groupings)
        if (!q.withTotals) partials += grouped(detailFrame, ms.map(aggColumn))
        else partials += detailPlusTotal(detailFrame, snapFrame(groupings),
          ms.map(aggColumn))
      }
      for (m <- dedupModels.toSeq.sorted) {
        val ms = plain.filter(_.model == m)
        val pkCols = cat.model(m).primaryKey.map(k => s"${m}__$k")
        require(pkCols.nonEmpty, s"Symmetric aggregation needs a primary_key on '$m'")
        val valueCols = ms.flatMap(mr =>
          if (mr.metric.sql.isDefined) Seq(mr.rawName) else Nil)
        val dedupKeys = (dims.map(_.innerName) ++ pkCols ++ valueCols).distinct
        val deduped = joined.dropDuplicates(dedupKeys)
        val aggs = ms.map(symmetricAggColumn(_, pkCols))
        if (!q.withTotals) partials += grouped(deduped, aggs)
        else partials += detailPlusTotal(deduped,
          joined.dropDuplicates((pkCols ++ valueCols).distinct), aggs)
      }
      stitch(partials.toSeq, dims.map(_.innerName) ++
        (if (q.withTotals) Seq("_is_total") else Nil))
    }
  }

  /** Full-outer join partial aggregates on the dim columns (null-safe),
    * coalescing the key columns. */
  private def stitch(partials: Seq[GraftPlan], keys: Seq[String]): GraftPlan =
    partials.reduce { (l, r) =>
      if (keys.isEmpty) l.crossJoin(r)
      else {
        // the right side's keys are renamed, so every name in the join's
        // output is unique and resolves by name alone
        val rr = keys.foldLeft(r)((df, k) => df.withColumnRenamed(k, s"__r_$k"))
        val cond = keys.map(k => outCol(k) <=> outCol(s"__r_$k")).reduce(_ && _)
        val j = l.join(rr, cond, "full_outer")
        val merged = keys.foldLeft(j)((df, k) =>
          df.withColumn(k, coalesce(outCol(k), outCol(s"__r_$k"))))
        merged.drop(keys.map(k => s"__r_$k"): _*)
      }
    }

  /** Each fact model aggregates to the shared dim grain independently, then
    * the grains are FULL-joined and COALESCEd
    * (reference: _generate_with_preaggregation, generator.py:2652-2921). */
  private def multiFactSplit(q: SemanticQuery, dims: Seq[DimRef],
      simples: Seq[MetricRef]): GraftPlan = {
    val byModel = simples.groupBy(_.model).toSeq.sortBy(_._1)
    val crossModelOuter = classify(q).collect { case o: OuterWhere => o }
    require(crossModelOuter.forall { o =>
      val ms = fieldRefsIn(o.e).map(_._1).toSet
      byModel.map(_._1).count(ms.contains) <= 1
    }, "Cross-fact filters are not supported with the multi-fact split route")
    // HAVING filters stay with the OUTER query (finish applies them once);
    // leaking them into sub-queries re-expands metrics across models and
    // recurses the split forever
    val nonHavingFilters = q.filters.filter { raw =>
      val e = parseE(spark, Exprs.interpolate(raw, mergedParams(q)))
      !fieldRefsIn(e).exists { case (m, f) => isMetricRefPair(m, f) }
    }
    // withTotals propagates into each per-fact sub-plan (each computes its
    // own grand-total bucket) and `_is_total` joins the stitch keys so the
    // total rows of every fact line up in the full-outer stitch
    val partials = byModel.map { case (m, ms) =>
      val sub = q.copy(
        metrics = ms.map(mr => s"$m.${mr.metric.name}"),
        filters = nonHavingFilters,
        orderBy = Nil, limit = None, offset = None)
      aggregate(sub, finalShape = false)._1
    }
    stitch(partials, dims.map(_.innerName) ++
      (if (q.withTotals) Seq("_is_total") else Nil))
  }

  /** Build the joined multi-model frame with everything later stages need. */
  private def buildJoined(q: SemanticQuery, dims: Seq[DimRef],
      simples: Seq[MetricRef], pushed: Seq[PushDown], outer: Seq[OuterWhere],
      hops: Seq[JoinHop], base: String, extraPk: Set[String]): GraftPlan = {

    val models = (base +: hops.map(_.toModel)).distinct
    var needed: Map[String, Needed] = models.map(_ -> Needed()).toMap
    def need(m: String, n: Needed): Unit =
      needed = needed.updated(m, needed(m) ++ n)

    dims.foreach(d => need(d.model, Needed(dims = Set((d.dim.name, d.grain)))))
    simples.foreach { mr =>
      need(mr.model, Needed(raws = Set(mr.metric.name)))
      // count() without sql aggregates the model's pk — project it
      if (mr.metric.sql.isEmpty)
        cat.model(mr.model).primaryKey.headOption.foreach(pk =>
          need(mr.model, Needed(phys = Set(pk))))
      mr.metric.filters.foreach { f =>
        val fe = metricFilterE(mr, f)
        fieldRefsIn(fe).foreach { case (m, fld) =>
          if (needed.contains(m)) need(m, needField(cat.model(m), fld)) }
        // bare refs default to the metric's own model (toJoinedScope rule)
        fe.foreach {
          case ua: UnresolvedAttribute if ua.nameParts.size == 1 =>
            need(mr.model, needField(cat.model(mr.model), ua.nameParts.head))
          case _ => ()
        }
      }
    }
    outer.foreach(o => fieldRefsIn(o.e).foreach { case (m, fld) =>
      if (needed.contains(m)) need(m, needField(cat.model(m), fld)) })
    hops.foreach { h =>
      need(h.fromModel, Needed(phys = h.fromKeys.toSet))
      need(h.toModel, Needed(phys = h.toKeys.toSet))
      h.sqlOn.foreach { on =>
        val e = parseE(spark,
          on.replace("{from}", h.fromModel).replace("{to}", h.toModel))
        fieldRefsIn(e).foreach { case (m, fld) =>
          if (needed.contains(m)) need(m, needField(cat.model(m), fld)) }
      }
    }
    extraPk.foreach(m => need(m, Needed(phys = cat.model(m).primaryKey.toSet)))
    // semi-additive metrics need their snapshot dim + window groupings
    simples.flatMap(mr => mr.metric.nonAdditive.map(mr.model -> _)).foreach {
      case (m, na) =>
        need(m, needField(cat.model(m), na.name))
        na.windowGroupings.foreach(g => need(m, needField(cat.model(m), g)))
    }

    val pushedByModel = pushed.groupBy(_.model)
    // a filtered join target must use INNER so filter semantics survive the
    // LEFT default (reference: generator.py:2549-2586)
    val filteredModels = pushedByModel.keySet

    val frames: Map[String, GraftPlan] = models.map { m =>
      m -> modelFrame(cat.model(m), needed(m),
        pushedByModel.getOrElse(m, Nil).map(_.e), q.user)
    }.toMap

    var joined = frames(base)
    for (h <- hops) {
      val right = frames(h.toModel)
      if (h.cross) joined = joined.crossJoin(right)
      else {
        val cond = h.sqlOn match {
          case Some(on) =>
            val e = parseE(spark,
              on.replace("{from}", h.fromModel).replace("{to}", h.toModel))
            toColumn(toJoinedScope(e, None))
          case None =>
            h.fromKeys.zip(h.toKeys).map { case (fk, tk) =>
              col(s"${h.fromModel}__$fk") === col(s"${h.toModel}__$tk")
            }.reduce(_ && _)
        }
        val joinType = if (filteredModels(h.toModel)) "inner" else "left"
        joined = joined.join(right, cond, joinType)
      }
    }
    outer.foldLeft(joined)((df, o) => df.filter(toColumn(toJoinedScope(o.e, None))))
  }

  /** Drill-to-detail: raw rows, PKs projected, no GROUP BY
    * (reference: generator.py:971,989). */
  private def ungroupedSelect(q: SemanticQuery, dims: Seq[DimRef],
      simples: Seq[MetricRef], pushed: Seq[PushDown], outer: Seq[OuterWhere],
      hops: Seq[JoinHop], base: String): GraftPlan = {
    val joined = buildJoined(q, dims, simples, pushed, outer, hops, base,
      extraPk = Set(base))
    val pkCols = cat.model(base).primaryKey.map(k =>
      col(s"${base}__$k").as(k))
    val dimCols = dims.map(d => col(d.innerName).as(d.outName))
    val rawCols = simples.filter(_.metric.sql.isDefined)
      .map(mr => col(mr.rawName).as(mr.metric.name))
    val out = joined.select(pkCols ++ dimCols ++ rawCols: _*)
    shape(q, out)
  }

  /** Compose derived/ratio metrics, apply HAVING, rename, order, limit. */
  private def finish(q: SemanticQuery, aggregated: GraftPlan, dims: Seq[DimRef],
      requested: Seq[MetricRef], simples: Seq[MetricRef],
      having: Seq[HavingF]): GraftPlan = {

    var df = aggregated
    // available metric output columns (by bare name and model.name)
    var avail: Map[String, String] =
      simples.flatMap(mr => Seq(mr.metric.name -> mr.metric.name,
        s"${mr.model}.${mr.metric.name}" -> mr.metric.name)).toMap

    // iterate ratio/derived until all requested are materialized
    var pending = requested.filterNot(mr => avail.contains(mr.metric.name))
      .filter(mr => Set("ratio", "derived")(mr.metric.kind))
    var progress = true
    while (pending.nonEmpty && progress) {
      progress = false
      pending.foreach { mr =>
        val depsReady = mr.metric.kind match {
          case "ratio" =>
            Seq(mr.metric.numerator.get, mr.metric.denominator.get)
              .forall(r => avail.contains(stripModel(r)) || avail.contains(r))
          case "derived" =>
            metricNameRefs(mr).forall(d => avail.contains(d.metric.name))
        }
        if (depsReady) {
          df = df.withColumn(mr.metric.name, computedColumn(mr, avail))
          avail += (mr.metric.name -> mr.metric.name)
          avail += (s"${mr.model}.${mr.metric.name}" -> mr.metric.name)
          progress = true
        }
      }
      pending = pending.filterNot(mr => avail.contains(mr.metric.name))
    }
    require(pending.isEmpty,
      s"Unresolvable metric dependencies: ${pending.map(_.metric.name)}")

    // fill_nulls on requested simple metrics must also cover nulls introduced
    // by the multi-fact full-outer stitch, so reapply post-aggregation
    requested.filter(_.metric.isSimple).foreach { mr =>
      mr.metric.fillNullsWith.foreach(v =>
        df = df.withColumn(mr.metric.name, coalesce(col(mr.metric.name), expr(v))))
    }

    having.foreach { h =>
      val e = rewriteAttrs(h.e) {
        case Seq(m, f) if isMetricRefPair(m, f) => Some(attr(f))
        case _ => None
      }
      df = df.filter(toColumn(e))
    }

    val dimOut = dims.map(d => col(d.innerName).as(d.outName))
    val metOut = requested.map(mr => outCol(mr.metric.name))
    val totalCol = if (q.withTotals) Seq(col("_is_total")) else Nil
    shape(q, df.select(dimOut ++ metOut ++ totalCol: _*))
  }

  private def stripModel(ref: String): String =
    if (ref.contains(".")) ref.split('.')(1) else ref

  /** Expand BSL-style `total(metric)` calls to all-rows window aggregates of
    * the post-aggregation result column (reference: generator.py:4358-4460
    * builds SUM(SUM(x)) OVER (); the inner aggregate is already a result
    * column here, so the outer collapses to <agg>(col) OVER ()). Only
    * aggregations with an exact two-level decomposition are legal. */
  private def expandAllCalls(owner: String, formula: String): String =
    raw"(?i)\btotal\(\s*([A-Za-z0-9_\.]+)\s*\)".r.replaceAllIn(formula, mm => {
      val ref = mm.group(1)
      val dep =
        if (ref.contains(".")) metricRef(ref)
        else cat.models.get(owner).flatMap(_.metric(ref))
          .map(MetricRef(owner, _)).getOrElse(metricRef(ref))
      val outer = dep.metric.agg match {
        case Some("sum") | Some("count") => "sum"
        case Some("min") => "min"
        case Some("max") => "max"
        case other => throw new IllegalArgumentException(
          s"total(${ref}): agg '${other.getOrElse(dep.metric.kind)}' has no " +
            "exact grand-total decomposition (sum/count/min/max only)")
      }
      java.util.regex.Matcher.quoteReplacement(
        s"$outer(${stripModel(ref)}) OVER ()")
    })

  private def computedColumn(mr: MetricRef, avail: Map[String, String]): Column = {
    val c = mr.metric.kind match {
      case "ratio" =>
        // double division on both operands: deterministic across engines
        // and avoids decimal-scale explosion; NULLIF(den, 0) safe divide
        // (reference: generator.py:4498)
        val num = col(avail(stripModel(mr.metric.numerator.get))).cast("double")
        val den = col(avail(stripModel(mr.metric.denominator.get))).cast("double")
        num / when(den =!= 0, den)
      case "derived" =>
        val expanded = expandAllCalls(mr.model, mr.metric.sql.get)
        val e = rewriteAttrs(parseE(spark, expanded)) { parts =>
          val key = parts.mkString(".")
          avail.get(key).orElse(avail.get(parts.last)).map(attr(_))
        }
        toColumn(e)
    }
    fillNulls(mr, c)
  }

  /** ORDER BY / LIMIT / OFFSET on the shaped output. */
  private[gen] def shape(q: SemanticQuery, df0: GraftPlan): GraftPlan = {
    var df = df0
    if (q.orderBy.nonEmpty) {
      val cols = q.orderBy.map { o =>
        if (o.startsWith("-")) col(o.drop(1)).desc else col(o).asc
      }
      df = df.orderBy(cols: _*)
    }
    q.offset.foreach(n => df = df.offset(n))
    q.limit.foreach(n => df = df.limit(n))
    df
  }

  // accessors for sibling planners
  private[gen] def catRef: Catalog = cat
  private[gen] def metricOf(ref: String): (String, Metric) = {
    val mr = metricRef(ref); (mr.model, mr.metric)
  }
}

object Generator {

  /** The one-task gate's decision for one composed plan: the summed
    * leaf-size estimate, the read budget it was tested against, how many
    * leaf scans Spark would split across several read tasks, and whether
    * the plan shuffles at all. `inputBytes` is None for a streaming plan,
    * which the gate never touches. */
  final case class Shape(inputBytes: Option[BigInt], budget: Long,
      splitLeaves: Int, shuffles: Boolean) {
    def fits: Boolean = inputBytes.exists(b =>
      graft.ops.IndexFiles.readTasks(b, budget) == 1)
    def oneTask: Boolean = fits && splitLeaves == 0 && shuffles

    override def toString: String = inputBytes match {
      case None => "as planned (streaming)"
      case Some(b) =>
        val under = s"inputs ${mib(b)} < ${mib(budget)}"
        if (!fits) s"as planned (inputs ${mib(b)} >= ${mib(budget)})"
        else if (splitLeaves > 0)
          s"as planned ($under, but $splitLeaves leaf scans span several " +
            "read splits)"
        else if (!shuffles) s"as planned ($under, no shuffle to remove)"
        else s"one-task ($under)"
    }
  }

  private def mib(b: BigInt): String = f"${b.toDouble / (1L << 20)}%.2f MiB"

  /** One-task gate. A small semantic query costs its job dispatch, not
    * its scan: over a few MB of input every exchange EnsureRequirements
    * plants (aggregate, window, HAVING, the ORDER BY range sample) adds a
    * job or stage of fixed cost. The gate opens when
    *  - the plan's whole input fits one read task: the summed
    *    `stats.sizeInBytes` of its leaves, known from the file listing
    *    without a job, is under the per-task budget
    *    [[graft.ops.IndexFiles.readShaped]] uses;
    *  - Spark already reads every leaf in one split, so no scan loses
    *    parallelism; and
    *  - the plan shuffles at all.
    * A no-shuffle coalesce to one partition then goes above every leaf,
    * union, grouping-set expand and full outer join: the operators whose
    * output is not one partition even over one-partition input. Every
    * other operator sees SinglePartition, which satisfies every
    * distribution but a broadcast, so it plans no shuffle; broadcast
    * joins stay as they are. A full outer join (the multi-fact stitch)
    * cannot broadcast and still shuffles its inputs, whose estimates
    * multiply past `spark.sql.maxSinglePartitionBytes` without CBO; the
    * coalesce above it keeps the operators after it shuffle-free. Other
    * joins get no coalesce, which would hide them from the optimizer's
    * outer-join elimination. Plans that fail the gate, and streaming
    * plans, come back untouched, so cluster-scale plans keep their shape.
    * A wrong estimate only moves work between tasks: slow, never wrong. */
  private[graft] def oneTask(spark: SparkSession,
      plan: LogicalPlan): (LogicalPlan, Shape) = {
    val budget = graft.ops.IndexFiles.readBudget(spark)
    if (plan.isStreaming) return (plan, Shape(None, budget, 0, false))
    val leaves = plan.collectLeaves()
    val shape = Shape(Some(leaves.map(_.stats.sizeInBytes).sum), budget,
      leaves.count(!readInOneSplit(spark, _)), shuffles(plan))
    (if (shape.oneTask) GraftSqlBridge.coalesceToOne(plan) else plan, shape)
  }

  /** Whether a plan-cache hit may return the Dataset its miss built,
    * executed state and all. The one-task gate must have opened, which
    * bounds what the entry pins by the read budget. Then nothing a
    * second action must redo may be in the plan:
    *  - a full outer join (the multi-fact stitch) shuffles, and a reused
    *    adaptive plan would read its materialized shuffle instead of the
    *    facts;
    *  - a subquery expression is evaluated once per physical plan;
    *  - a nondeterministic expression, or one that reads the clock (the
    *    CURRENT_LIKE expressions `ComputeCurrentTime` folds into
    *    literals at optimization), would repeat its first value.
    * Scans re-read their files on every action; their listings are
    * fixed when the plan is analyzed, reused or not. */
  private def reusable(shape: Shape, plan: LogicalPlan): Boolean =
    shape.oneTask && !repeatsFirstRun(plan)

  /** The expression rules of [[reusable]]: a full outer join, a
    * subquery, a nondeterministic or clock-reading expression. */
  private def repeatsFirstRun(plan: LogicalPlan): Boolean = plan.exists {
    case Join(_, _, FullOuter, _, _) => true
    case p => p.expressions.exists(e => !e.deterministic ||
      e.containsPattern(CURRENT_LIKE) || SubqueryExpression.hasSubquery(e))
  }

  /** Derived steps kept per plan-cache entry; further steps come back
    * fresh on every call. */
  private val MaxDerived = 16

  /** Whether a step derived from a reused Dataset may itself be reused:
    * its plan passes [[reusable]]'s expression rules and its physical
    * plan has no shuffle exchange, whose materialized output a reused
    * adaptive plan would read again instead of its input. The step
    * reads only the reused plan's input, so the read budget bounds what
    * it pins too. */
  private def derivable(df: DataFrame): Boolean =
    !repeatsFirstRun(GraftSqlBridge.logicalPlan(df)) &&
      PlanWalk.find(GraftSqlBridge.executedPlan(df))(
        _.isInstanceOf[ShuffleExchangeLike]).isEmpty

  /** Walks a physical plan into its adaptive and query-stage nodes. */
  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Whether planning `plan` shuffles: it has an aggregate, window,
    * distinct, join or global sort. A sort under a limit is a top-k that
    * gathers without a shuffle; with nothing else to remove, the coalesce
    * would only cost its codegen break. */
  private def shuffles(plan: LogicalPlan): Boolean = plan match {
    case GlobalLimit(_, LocalLimit(_, s: Sort)) => shuffles(s.child)
    case _: Aggregate | _: logical.Window | _: Deduplicate | _: Distinct |
        _: Join => true
    case s: Sort if s.global => true
    case p => p.children.exists(shuffles)
  }

  /** False for a file scan whose files exceed the split size Spark plans
    * for them (`FilePartition.maxSplitBytes`: at least
    * `spark.sql.files.openCostInBytes`), i.e. one it reads in several
    * tasks. The listing is the relation's own, already in memory. */
  private def readInOneSplit(spark: SparkSession, leaf: LogicalPlan): Boolean =
    leaf match {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation =>
          val dirs = fs.location.listFiles(Nil, Nil)
          dirs.iterator.flatMap(_.files).map(_.getLen).sum <=
            FilePartition.maxSplitBytes(spark, dirs)
        case _ => true
      }
      case _ => true
    }
}
