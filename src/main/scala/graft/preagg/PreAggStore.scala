package graft.preagg

import graft.functions.Exprs
import graft.model.{Catalog, Model, PreAggregation}
import graft.plan.{FieldRef, Grains, SemanticQuery}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, GraftPlan, SparkSession}

/** Materialized rollup store: build, refresh, match, and route
  * (reference: core/pre_aggregation.py:35,135 materialization;
  * core/preagg_matcher.py:43-432 matching; sql/generator.py:6861-7217
  * routing).
  *
  * Rollups are partitioned Parquet keyed on a time bucket at
  * `partition_granularity`, so partition pruning applies when a routed
  * query filters on time — at 100 TB the rollup read is the point, and a
  * pruned read of a pre-aggregated table is orders of magnitude less IO
  * than the fact scan.
  *
  * Measures are stored as additive components (`m__sum`, `m__count`,
  * `m__min`, `m__max`) so coarser grains re-derive exactly: sum→Σsum,
  * count→Σcount, avg→Σsum/Σcount, min/max→min/max.
  */
final class PreAggStore(spark: SparkSession, cat: Catalog, basePath: String) {

  private lazy val graph = new graft.graph.SemanticGraph(cat)

  def rollupPath(model: String, pa: PreAggregation): String =
    s"$basePath/${model}_preagg_${pa.name}"

  /** A rollup's resolved scan, with the store version and the
    * [[Catalog.scanEpoch]] it was resolved under. */
  private final case class Resolved(version: Long, epoch: Long,
      df: DataFrame)

  /** Resolved rollup scans by path. A routed compile reuses its rollup's
    * scan — no file listing, no schema inference, no analysis — for as
    * long as neither this store has written ([[written]], which also
    * drops the entry) nor
    * [[Catalog.invalidateScans]] has run since it was resolved. */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[String, Resolved]()

  /** Bumped after every rollup write ([[materialize]],
    * [[refreshIncremental]], streaming maintenance): a generator routing
    * through this store treats a plan built under an older version as a
    * miss, since a routed plan's file listing names the files the write
    * replaced. Per store, so one store's refreshes leave other plans
    * cached. */
  private val writes = new java.util.concurrent.atomic.AtomicLong
  def version: Long = writes.get

  /** Records a finished write to the rollup at `path`: its resolved scan
    * is dropped and the store version bumped. Every writer of this
    * store's rollups calls it after the write. */
  private[graft] def written(path: String): Unit = {
    resolved.remove(path)
    writes.incrementAndGet()
  }

  /** The rollup's scan, resolved again only when it is stale. The
    * version and epoch are read before resolving, so a scan that races a
    * write or an invalidation is stamped with the older value and is
    * resolved again by the next read. An invalidation alone leaves the
    * schema as it was (only this store's writes change it), so the scan
    * is re-listed without parquet schema inference, which would launch a
    * footer-merge job. */
  private def readRollup(path: String): DataFrame = {
    val (version, epoch) = (writes.get, Catalog.scanEpoch)
    val cur = resolved.get(path)
    if (cur != null && cur.version == version && cur.epoch == epoch) cur.df
    else {
      val schema = Option(cur).filter(_.version == version).map(_.df.schema)
      val df = graft.ops.IndexFiles.readShaped(spark, path, schema)
      resolved.put(path, Resolved(version, epoch, df))
      df
    }
  }

  /** A rollup exists when its directory holds parquet data — dynamic
    * partition overwrites don't leave a top-level _SUCCESS marker. Goes
    * through the Hadoop FileSystem API so the store works identically on
    * local disk, HDFS, and object stores (a java.io.File check is always
    * false off the local machine and would silently re-materialize or
    * fall back on every routed query in a real deployment). */
  def rollupExists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasParquet(dir: org.apache.hadoop.fs.Path, depth: Int): Boolean =
      fs.listStatus(dir).exists { st =>
        (st.isFile && st.getPath.getName.endsWith(".parquet")) ||
          (st.isDirectory && depth > 0 && hasParquet(st.getPath, depth - 1))
      }
    try fs.getFileStatus(p).isDirectory && hasParquet(p, 2)
    catch { case _: java.io.FileNotFoundException => false }
  }

  // ------------------------------------------------------------------
  // Materialization
  // ------------------------------------------------------------------

  private def components(m: graft.model.Model, metricName: String): Seq[Column] = {
    val met = m.metric(metricName).getOrElse(throw new IllegalArgumentException(
      s"Unknown measure '$metricName' in pre-aggregation for '${m.name}'"))
    require(met.isSimple && met.filters.isEmpty,
      s"Pre-aggregation measures must be unfiltered simple aggregates: '$metricName'")
    val in = met.sql.map(sql => Exprs.column(spark, sql)).getOrElse(lit(1L))
    met.agg.get match {
      case "sum"   => Seq(sum(in).as(s"${metricName}__sum"))
      case "count" => Seq(count(in).as(s"${metricName}__count"))
      case "avg"   => Seq(sum(in).as(s"${metricName}__sum"),
                          count(in).as(s"${metricName}__count"))
      case "min"   => Seq(min(in).as(s"${metricName}__min"))
      case "max"   => Seq(max(in).as(s"${metricName}__max"))
      case other => throw new IllegalArgumentException(
        s"Measure '$metricName': agg '$other' is not additively derivable " +
          "from a rollup (count_distinct/median/stddev need the raw rows)")
    }
  }

  /** Stored rollup dimensions may be declared dimensions OR raw join-key
    * columns (join-key routing stores the fk so joined queries can route —
    * reference: sql/generator.py:6581-6845). */
  private def dimCol(m: Model, dim: String): Column =
    Exprs.column(spark, m.dimension(dim).map(_.expr).getOrElse(dim)).as(dim)

  private def timeCols(m: Model, pa: PreAggregation): Seq[Column] =
    pa.timeDimension.toSeq.flatMap { td =>
      val grain = pa.granularity.getOrElse("day")
      val base = Exprs.column(spark, m.dimension(td).get.expr)
      val bucket = date_trunc(grain, base).as(s"${td}__$grain")
      pa.partitionGranularity match {
        case Some(pg) => Seq(bucket,
          date_format(date_trunc(pg, base), "yyyy-MM-dd").as("__part"))
        case None => Seq(bucket)
      }
    }

  /** Rollup aggregation of an arbitrary frame of the model's rows —
    * shared by batch materialization and streaming maintenance. */
  private[graft] def rollupOf(m: Model, pa: PreAggregation,
      df: DataFrame): DataFrame = {
    val dims = pa.dimensions.map(d => dimCol(m, d)) ++ timeCols(m, pa)
    val aggs = pa.measures.flatMap(components(m, _)) :+ count(lit(1L)).as("__rows")
    df.groupBy(dims: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge two component frames additively (Σsum, Σcount, min, max) —
    * legal because every stored measure is decomposable. */
  private[graft] def mergeComponents(pa: PreAggregation, m: Model,
      frames: DataFrame): DataFrame = {
    val keyCols = frames.columns.filterNot(c =>
      c.contains("__sum") || c.contains("__count") || c.contains("__min") ||
        c.contains("__max") || c == "__rows")
    val aggs = frames.columns.filterNot(keyCols.contains).map { c =>
      if (c.contains("__min")) min(col(c)).as(c)
      else if (c.contains("__max")) max(col(c)).as(c)
      else sum(col(c)).as(c)
    }.toSeq
    frames.groupBy(keyCols.map(col).toSeq: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Hash the rollup across the cluster on its partition bucket before a
    * partitionBy write: each task then owns whole `__part` dirs — one
    * file per dir, parquet-writer inits in parallel — and at scale an
    * unpartitioned write would emit tasks×dirs files instead. The
    * explicit partition count keeps AQE from re-coalescing to one task.
    *
    * The WIDTH is scale-adaptive ([[PreAggStore.writeWidth]]): a fixed
    * cluster-width pin paid ~32 tasks of exchange/deserialize/writer
    * fixed cost (~9 CPU·s profiled at sf0.1) to land a kilobyte-scale
    * rollup, while a 100 TB rollup wants every core. Deriving the width
    * from the optimizer's size estimate gives both ends: small rollups
    * land in 1-2 tasks, big ones saturate the cluster. */
  private def byPart(rollup: DataFrame): DataFrame =
    rollup.repartition(PreAggStore.writeWidth(rollup), col("__part"))

  /** Full rebuild: one aggregated write, partitioned on the time bucket. */
  def materialize(modelName: String, pa: PreAggregation): String = {
    val m = cat.model(modelName)
    val rollup = rollupOf(m, pa, cat.scan(spark, m))
    val path = rollupPath(modelName, pa)
    if (pa.partitionGranularity.isDefined)
      byPart(rollup).write.mode("overwrite").partitionBy("__part").parquet(path)
    else rollup.write.mode("overwrite").parquet(path)
    written(path)
    path
  }

  /** Build only when the rollup doesn't exist yet (source data is
    * immutable per directory here; production refresh goes through
    * [[refreshIncremental]]). */
  def materializeIfAbsent(modelName: String, pa: PreAggregation): String = {
    val path = rollupPath(modelName, pa)
    if (rollupExists(path)) path else materialize(modelName, pa)
  }

  /** Incremental refresh: recompute only partitions at/after the watermark
    * (reference: _refresh_incremental, pre_aggregation.py:718-789). The
    * lookback re-covers late-arriving data inside the window. */
  def refreshIncremental(modelName: String, pa: PreAggregation,
      watermark: String, lookback: Int = 1): String = {
    val m = cat.model(modelName)
    val pg = pa.partitionGranularity.getOrElse(throw new IllegalArgumentException(
      "Incremental refresh needs partition_granularity"))
    val td = pa.timeDimension.get
    val base = Exprs.column(spark, m.dimension(td).get.expr)
    val cutoff = date_trunc(pg, lit(watermark).cast("timestamp")) -
      expr(s"INTERVAL $lookback ${pg.toUpperCase}")
    val rollup = rollupOf(m, pa, cat.scan(spark, m).filter(base >= cutoff))
    val path = rollupPath(modelName, pa)
    // dynamic partition overwrite replaces only the recomputed buckets
    byPart(rollup).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__part").parquet(path)
    written(path)
    path
  }

  // ------------------------------------------------------------------
  // Matching (dimension subset / measure derivability / grain rollup /
  // filter-column availability — reference: preagg_matcher.py:120-378)
  // ------------------------------------------------------------------

  /** Grains a stored grain can roll up to via date_trunc. Week only comes
    * from day-or-finer (weeks cross month boundaries). */
  private def canRollup(stored: String, target: String): Boolean = {
    val fine = Seq("second", "minute", "hour", "day")
    if (stored == target) true
    else if (fine.contains(stored))
      Grains.All.indexOf(target) > Grains.All.indexOf(stored)
    else stored match {
      case "month"   => Seq("quarter", "year").contains(target)
      case "quarter" => Seq("year").contains(target)
      case _         => false
    }
  }

  private case class Match(model: Model, pa: PreAggregation, path: String,
      dims: Seq[FieldRef], ownFilters: Seq[String],
      hops: Seq[graft.graph.JoinHop], foreignFilters: Map[String, Seq[String]])

  /** Query-level routing context shared by [[matchQuery]] and
    * [[explainCandidates]] — or the reason no rollup can ever serve
    * this query. */
  private case class Prep(m: Model, dims: Seq[FieldRef],
      ownFilters: Seq[String], foreignFilters: Map[String, Seq[String]],
      hops: Seq[graft.graph.JoinHop])

  private def prepare(q: SemanticQuery): Either[String, Prep] = {
    if (q.ungrouped)
      return Left("ungrouped (drill-to-detail) queries read raw rows")
    if (q.withTotals)
      return Left("with_totals needs GROUPING SETS over raw rows")
    if (q.segments.nonEmpty)
      return Left("segment predicates are not stored in rollups")
    val metricRefs = q.metrics.map(FieldRef.parse)
    val models = metricRefs.map(_.model).distinct
    if (models.size != 1)
      return Left(s"metrics span models ${models.mkString(", ")}")
    val m = cat.models.getOrElse(models.head,
      return Left(s"unknown model '${models.head}'"))
    for (r <- metricRefs) {
      val met = m.metric(r.field).getOrElse(
        return Left(s"unknown metric '${r.field}' on '${m.name}'"))
      if (!(met.isSimple && met.filters.isEmpty && met.nonAdditive.isEmpty &&
          met.agg.exists(Seq("sum", "count", "avg", "min", "max").contains)))
        return Left(s"metric '${met.name}' is not derivable from additive " +
          "rollup components")
    }

    val dims = q.dimensions.map(FieldRef.parse)

    // filters split by referenced model: own-model conjuncts must hit
    // rolled-up columns; foreign conjuncts push into that model's frame
    var ownFilters = Seq.empty[String]
    var foreignFilters = Map.empty[String, Seq[String]].withDefaultValue(Nil)
    for (f <- q.filters) {
      val refModels = Exprs.refs(spark, Exprs.interpolate(f, q.parameters))
        .collect { case Seq(mm, _) => mm }.distinct
      refModels match {
        case Seq(mm) if mm == m.name => ownFilters :+= f
        case Seq(mm) if cat.models.contains(mm) =>
          foreignFilters += mm -> (foreignFilters(mm) :+ f)
        case _ => return Left(s"filter '$f' is cross-model or unqualified")
      }
    }
    val foreignModels = (dims.map(_.model) ++ foreignFilters.keys).distinct
      .filterNot(_ == m.name)

    // join-key routing (reference: generator.py:6581-6845): dims from other
    // models are reachable when the rollup stores the first-hop foreign
    // keys and the join path cannot multiply rollup rows (every hop is a
    // key-equality hop and the rollup's model never fans out)
    val hops: Seq[graft.graph.JoinHop] =
      if (foreignModels.isEmpty) Nil
      else try {
        val hs = graph.joinPlan(m.name, foreignModels)
        if (hs.exists(h => h.cross || h.sqlOn.isDefined))
          return Left("join path uses cross or custom-SQL hops")
        if (graph.fannedOutModels(m.name, hs)(m.name))
          return Left("join path fans out the rollup's model")
        hs
      } catch { case e: IllegalArgumentException => return Left(e.getMessage) }
    Right(Prep(m, dims, ownFilters, foreignFilters, hops))
  }

  /** The per-candidate compatibility checks, named and detailed —
    * [[matchQuery]] requires all of them to pass; [[explainCandidates]]
    * reports them verbatim. */
  private def candidateChecks(q: SemanticQuery, p: Prep,
      pa: PreAggregation): Seq[PreaggCheck] = {
    val m = p.m
    val badDims = p.dims.filter { d =>
      if (d.model != m.name) false // foreign dims come from the join
      else if (pa.dimensions.contains(d.field) && d.grain.isEmpty) false
      else !(pa.timeDimension.contains(d.field) && d.grain.exists(g =>
        canRollup(pa.granularity.getOrElse("day"), g)))
    }
    // every first-hop foreign key must be stored in the rollup
    val missingKeys = p.hops.filter(_.fromModel == m.name)
      .flatMap(_.fromKeys).filterNot(pa.dimensions.contains)
    val missingMeasures = q.metrics.map(FieldRef.parse(_).field)
      .filterNot(pa.measures.contains)
    // every own-model filter conjunct must reference only rolled-up columns
    val badFilters = p.ownFilters.filterNot { f =>
      Exprs.refs(spark, Exprs.interpolate(f, q.parameters)).forall {
        case Seq(mm, fld) =>
          mm == m.name && {
            val (b, g) = fld.split("__") match {
              case Array(x, gg) if Grains.isGrain(gg) => (x, Some(gg))
              case _ => (fld, None)
            }
            pa.dimensions.contains(b) ||
              (pa.timeDimension.contains(b) && g.exists(gg =>
                canRollup(pa.granularity.getOrElse("day"), gg)))
          }
        case _ => false
      }
    }
    val path = rollupPath(m.name, pa)
    val exists = rollupExists(path)
    Seq(
      PreaggCheck("dimensions", badDims.isEmpty,
        if (badDims.isEmpty) "query dims covered by stored dims / time grain"
        else s"not stored (or grain not reachable): ${badDims.map(_.outName).mkString(", ")}"),
      PreaggCheck("join_keys", missingKeys.isEmpty,
        if (missingKeys.isEmpty) "first-hop foreign keys stored"
        else s"missing stored keys: ${missingKeys.mkString(", ")}"),
      PreaggCheck("measures", missingMeasures.isEmpty,
        if (missingMeasures.isEmpty) "all metrics rolled up"
        else s"not rolled up: ${missingMeasures.mkString(", ")}"),
      PreaggCheck("filters", badFilters.isEmpty,
        if (badFilters.isEmpty) "own-model filters hit stored columns"
        else s"reference unrolled columns: ${badFilters.mkString("; ")}"),
      PreaggCheck("materialized", exists,
        if (exists) path else s"not materialized: $path"))
  }

  private def matchQuery(q: SemanticQuery): Option[Match] =
    prepare(q).toOption.flatMap { p =>
      p.m.preAggregations.view
        .filter(pa => candidateChecks(q, p, pa).forall(_.passed))
        // prefer the narrowest matching rollup (fewest stored dimensions)
        .toSeq.sortBy(_.dimensions.size).headOption
        .map(pa => Match(p.m, pa, rollupPath(p.m.name, pa), p.dims,
          p.ownFilters, p.hops, p.foreignFilters))
    }

  /** Structured routing explanation (reference: core/query_plan.py —
    * PreaggCheck / PreaggCandidate / QueryPlan): why each declared
    * candidate matched or failed, and which one routing would select.
    * `eligible = false` carries the query-level reason no rollup can
    * ever serve this query (ungrouped, multi-model metrics, …). */
  def explainCandidates(q: SemanticQuery): PreaggExplanation =
    prepare(q) match {
      case Left(reason) => PreaggExplanation(eligible = false,
        reason = Some(reason), candidates = Nil)
      case Right(p) =>
        val evald = p.m.preAggregations.map(pa =>
          (pa, candidateChecks(q, p, pa)))
        val selected = evald.filter(_._2.forall(_.passed))
          .sortBy(_._1.dimensions.size).headOption.map(_._1.name)
        PreaggExplanation(eligible = true, reason = None,
          candidates = evald.map { case (pa, cs) =>
            PreaggCandidate(pa.name, matched = cs.forall(_.passed),
              selected = selected.contains(pa.name), checks = cs)
          })
    }

  /** Column in rollup scope for a query field ref. */
  private def rollupCol(mt: Match, field: String, grain: Option[String]): Column =
    grain match {
      case Some(g) =>
        val stored = s"${field}__${mt.pa.granularity.getOrElse("day")}"
        if (mt.pa.granularity.contains(g)) col(stored)
        else date_trunc(g, col(stored))
      case None => col(field)
    }

  /** Local-scope rewrite for a dimension model's filters (pushed into the
    * dim frame before the routed join). */
  private def foreignScope(dm: Model,
      e: org.apache.spark.sql.catalyst.expressions.Expression) =
    Exprs.rewriteAttrs(e) {
      case Seq(mm, f) if mm == dm.name => Some(foreignField(dm, f))
      case Seq(f) => Some(foreignField(dm, f))
      case _ => None
    }

  private def foreignField(dm: Model, fieldWithGrain: String) = {
    val (field, grain) = fieldWithGrain.split("__") match {
      case Array(b, g) if Grains.isGrain(g) && dm.dimension(b).isDefined =>
        (b, Some(g))
      case _ => (fieldWithGrain, None)
    }
    val base = dm.dimension(field) match {
      case Some(d) => Exprs.parse(spark, d.expr)
      case None    => UnresolvedAttribute(Seq(field))
    }
    grain.map(g => Exprs.truncExpr(g, base)).getOrElse(base)
  }

  /** Try to serve the query from a rollup. None = no usable rollup; the
    * caller falls back to the base-table plan (the reference's fallback-
    * with-recompile, semantic_layer.py:798-849). */
  def plan(q: SemanticQuery): Option[GraftPlan] = matchQuery(q).map { mt =>
    var df = GraftPlan(readRollup(mt.path))
    // rewrite query filters into rollup scope
    mt.ownFilters.foreach { f =>
      val e = Exprs.rewriteRelativeDates(
        Exprs.parse(spark, Exprs.interpolate(f, q.parameters)), q.anchorDate)
      val rewritten = Exprs.rewriteAttrs(e) {
        case Seq(_, fld) => fld.split("__") match {
          case Array(b, g) if Grains.isGrain(g) =>
            Some(Exprs.truncExpr(g,
              UnresolvedAttribute(Seq(s"${b}__${mt.pa.granularity.getOrElse("day")}"))))
          case _ => Some(UnresolvedAttribute(Seq(fld)))
        }
        case _ => None
      }
      df = df.filter(Exprs.toColumn(rewritten))
    }
    // join-key routing: attach dimension models on the stored foreign keys
    // (dim frames are small — Catalyst broadcasts them; the rollup stays
    // partitioned, so the routed joined query still reads pre-aggregated
    // data instead of the fact table)
    mt.hops.foreach { h =>
      val dm = cat.model(h.toModel)
      var frame = GraftPlan(cat.scan(spark, dm))
      mt.foreignFilters(h.toModel).foreach { f =>
        val e = Exprs.rewriteRelativeDates(
          Exprs.parse(spark, Exprs.interpolate(f, q.parameters)), q.anchorDate)
        frame = frame.filter(Exprs.toColumn(foreignScope(dm, e)))
      }
      val laterKeys = mt.hops.filter(_.fromModel == h.toModel).flatMap(_.fromKeys)
      val keySel = (h.toKeys ++ laterKeys).distinct
        .map(k => col(k).as(s"${h.toModel}__$k"))
      val dimSel = mt.dims.filter(_.model == h.toModel).map { d =>
        val c = Exprs.toColumn(foreignField(dm,
          d.field + d.grain.map("__" + _).getOrElse("")))
        c.as(d.outName)
      }
      val cond = h.fromKeys.zip(h.toKeys).map { case (fk, tk) =>
        val left = if (h.fromModel == mt.model.name) col(fk)
                   else col(s"${h.fromModel}__$fk")
        left === col(s"${h.toModel}__$tk")
      }.reduce(_ && _)
      val joinType =
        if (mt.foreignFilters(h.toModel).nonEmpty) "inner" else "left"
      df = df.join(frame.select(keySel ++ dimSel: _*), cond, joinType)
    }
    val dimCols = mt.dims.map(d =>
      if (d.model == mt.model.name) rollupCol(mt, d.field, d.grain).as(d.outName)
      else col(d.outName))
    val aggCols = q.metrics.map { ref =>
      val name = FieldRef.parse(ref).field
      val met = mt.model.metric(name).get
      met.agg.get match {
        case "sum"   => sum(col(s"${name}__sum")).as(name)
        case "count" => sum(col(s"${name}__count")).as(name)
        case "avg"   => (sum(col(s"${name}__sum")).cast("double") /
                         sum(col(s"${name}__count")).cast("double")).as(name)
        case "min"   => min(col(s"${name}__min")).as(name)
        case "max"   => max(col(s"${name}__max")).as(name)
      }
    }
    val agg = df.agg(dimCols, aggCols)
    var out =
      if (dimCols.isEmpty) agg
      else agg.select(mt.dims.map(d => col(d.outName)) ++
        q.metrics.map(r => col(FieldRef.parse(r).field)): _*)
    if (q.orderBy.nonEmpty)
      out = out.orderBy(q.orderBy.map(o =>
        if (o.startsWith("-")) col(o.drop(1)).desc else col(o).asc): _*)
    q.offset.foreach(n => out = out.offset(n))
    q.limit.foreach(n => out = out.limit(n))
    out
  }
}

object PreAggStore {

  /** Scale-adaptive partition count for a partitioned-store write
    * (rollup materialization/refresh, streaming micro-batch deltas).
    *
    * Derived from the optimizer's plan-time size estimate — no job —
    * at one write task per `spark.graft.write.bytesPerTask` (default
    * 32 MiB of estimated in-memory bytes ≈ 64-512 MiB of task input at
    * typical parquet ratios), clamped to [1, defaultParallelism]:
    *
    *   - a kilobyte-scale rollup (one incremental refresh window, one
    *     streaming micro-batch at bench SFs) lands in min(8, cores)
    *     tasks — the previous fixed cluster-width pin paid 32 exchange
    *     tasks of ~100 ms deserialize + writer-init fixed cost each
    *     (profiled 9.4 CPU·s / 3.2 s deserialize at sf0.1) to write
    *     <1 MB. The floor stays PARALLEL on purpose: each task opens
    *     one zstd parquet writer per partition dir it owns, and that
    *     init chain is the wall-clock bottleneck of a small write — a
    *     width-1 A/B serialized ~80 writer inits and DOUBLED
    *     q_streaming_rollup (3.3 → 5.7 s) despite spending 8 CPU·s
    *     less;
    *   - a 100 TB-scale rollup clears the divisor and saturates the
    *     cluster exactly as before (the cap preserves the old width).
    *
    * The per-task divisor is a conf (`spark.graft.write.bytesPerTask`)
    * so cluster deployments can align it with their target output file
    * size; the default keeps local benches comparable. */
  private[graft] def writeWidth(rollup: DataFrame): Int = {
    val spark = rollup.sparkSession
    val perTask = math.max(1L,
      spark.conf.getOption("spark.graft.write.bytesPerTask")
        .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(32L << 20))
    val bytes = rollup.queryExecution.optimizedPlan.stats.sizeInBytes
    val par = spark.sparkContext.defaultParallelism
    // clamp in BigInt BEFORE converting: Spark's non-CBO join stats
    // multiply child sizes and routinely exceed Long range, and a
    // `.toInt + 1` on a capped Int.MaxValue wraps to Int.MinValue —
    // collapsing exactly the hugest-estimate rollups to the floor width
    ((bytes / perTask) + 1).min(BigInt(par))
      .max(BigInt(math.min(8, par))).toInt
  }
}

/** One named pre-aggregation compatibility check; formats as
  * `[pass|FAIL] name: detail` (reference: core/query_plan.py:7-17). */
final case class PreaggCheck(name: String, passed: Boolean, detail: String) {
  override def toString: String =
    s"[${if (passed) "pass" else "FAIL"}] $name: $detail"
}

/** Evaluation of one declared rollup candidate
  * (reference: core/query_plan.py:19-44). */
final case class PreaggCandidate(name: String, matched: Boolean,
    selected: Boolean, checks: Seq[PreaggCheck])

/** Structured pre-aggregation routing explanation
  * (reference: core/query_plan.py QueryPlan). */
final case class PreaggExplanation(eligible: Boolean,
    reason: Option[String], candidates: Seq[PreaggCandidate])
