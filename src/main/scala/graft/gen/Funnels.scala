package graft.gen

import graft.functions.Exprs
import graft.plan.{FieldRef, SemanticQuery}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, GraftPlan, SparkSession}

/** Conversion / retention / cohort / funnel metric generators —
  * multi-stage plans composed through [[GraftPlan]] over the secured scan,
  * analysed once with the rest of the compile (reference:
  * sql/generator.py:5210-5700 conversion, :4998-5209 retention,
  * :4694-4997 cohort).
  *
  * These operate on a single event-grain model; query dimensions must come
  * from that model. Every stage is a distributed groupBy/join — no driver
  * loops — so the plans scale with executors.
  */
final class Funnels(spark: SparkSession, gen: Generator) {

  private val cat = gen.catRef

  def plan(q: SemanticQuery): GraftPlan = {
    val (modelName, m) = gen.metricOf(q.metrics.head)
    val model = cat.model(modelName)

    // base frame: the shared enforcement point (deny-by-default, access
    // gate, row filters) + all query filters (single-model scope) — funnel
    // plans get exactly the same security semantics as the standard path
    var df = gen.securedScan(model, q.user)
    (q.filters ++ segmentSql(q)).foreach { f =>
      val e = Exprs.rewriteRelativeDates(
        Exprs.parse(spark, Exprs.interpolate(f, gen.mergedParams(q))), q.anchorDate)
      df = df.filter(Exprs.toColumn(gen.toModelScope(model, e)))
    }

    // cohort metrics may carry their own output dims (entity_dimensions,
    // reference: metric.py cohort contract) — appended to the query dims
    val metricDims =
      if (m.kind == "cohort") m.entityDimensions.map(d => s"$modelName.$d")
      else Nil
    val dims = (q.dimensions ++ metricDims).distinct.map { r =>
      val fr = FieldRef.parse(r)
      require(fr.model == modelName,
        s"Funnel-metric dimensions must come from '$modelName', got '$r'")
      fr
    }
    def dimCol(fr: FieldRef): Column =
      Exprs.toColumn(gen.localField(model, fr.outName)).as(fr.outName)
    def local(sql: String): Column =
      Exprs.toColumn(gen.toModelScope(model, Exprs.parse(spark, sql)))

    val entity = m.entity.getOrElse(throw new IllegalArgumentException(
      s"Metric '${m.name}' needs entity"))
    // default_time_dimension, falling back to the first time-typed dim
    // (reference: generator.py:5104-5110)
    val timeDim = model.defaultTimeDimension
      .orElse(model.dimensions.find(_.dimType == graft.model.DimType.Time).map(_.name))
      .getOrElse(throw new IllegalArgumentException(
        s"Model '$modelName' needs a time dimension for funnel metrics"))
    val ts = Exprs.toColumn(gen.localField(model, timeDim))

    m.kind match {
      case "conversion" =>
        conversion(q, df, m, dims, dimCol, local, col(entity), ts)
      case "retention" => retention(q, df, m, local, col(entity), ts)
      case "cohort" => cohort(q, df, m, dims, dimCol, local, col(entity))
      case "funnel" => gen.shape(q, funnelSteps(df, m, local, col(entity)))
    }
  }

  /** N-step funnel: per-entity BOOL_OR flags per step → sequential AND →
    * entities reached per step + rate vs step 0
    * (reference: sql/generator.py:5420-5700). */
  private def funnelSteps(df: GraftPlan, m: graft.model.Metric,
      local: String => Column, entity: Column): GraftPlan = {
    val n = m.steps.size
    require(n >= 2, s"Funnel metric '${m.name}' needs at least 2 steps")
    val flagAggs = m.steps.zipWithIndex.map { case (f, i) =>
      max(when(local(f), 1).otherwise(0)).as(s"__s$i") }
    val perEntity = df.agg(Seq(entity.as("__e")), flagAggs)
    // reached step i ⇔ every step ≤ i fired for the entity
    val reached = m.steps.indices.map(i =>
      (0 to i).map(j => col(s"__s$j") === 1).reduce(_ && _))
    val countAggs = m.steps.indices.map(i =>
      sum(when(reached(i), 1L).otherwise(0L)).as(s"__r$i"))
    val counts = perEntity.agg(Nil, countAggs)
    val stackArgs = m.steps.indices
      .map(i => s"cast($i as bigint), __r$i").mkString(", ")
    counts
      .select(expr(s"stack($n, $stackArgs) AS (step, entities)"), col("__r0"))
      .withColumn(m.name,
        col("entities").cast("double") / when(col("__r0") =!= 0, col("__r0")))
      .drop("__r0")
  }

  private def segmentSql(q: SemanticQuery): Seq[String] = q.segments.map { ref =>
    val fr = FieldRef.parse(ref)
    cat.model(fr.model).segment(fr.field).get.sql.replace("{model}", fr.model)
  }

  /** Entity-level conversion rate: of entities with a base event, the share
    * that fire a conversion event within the window after ANY base event. */
  private def conversion(q: SemanticQuery, df: GraftPlan, m: graft.model.Metric,
      dims: Seq[FieldRef], dimCol: FieldRef => Column, local: String => Column,
      entity: Column, ts: Column): GraftPlan = {

    val (n, unit) =
      WindowMetrics.parseWindow(m.conversionWindow.getOrElse("7 day"))
    val dimCols = dims.map(dimCol)
    val base = df.filter(local(m.baseFilter.get))
      .select((entity.as("__e") +: ts.as("__t") +: dimCols): _*)
    val conv = df.filter(local(m.conversionFilter.get))
      .select(entity.as("__ce"), ts.as("__ct"))

    val within = col("__ct") >= col("__t") &&
      col("__ct") <= col("__t") + expr(s"INTERVAL $n $unit")
    val j = base.join(conv, col("__ce") === col("__e") && within, "left")

    val perEntity = j.agg(col("__e") +: dims.map(d => col(d.outName)),
      Seq(max(when(col("__ct").isNotNull, 1).otherwise(0)).as("__conv")))
    val out = perEntity.agg(dims.map(d => col(d.outName)), Seq(
      count(lit(1)).as("base_entities"),
      sum(col("__conv")).as("converted_entities"),
      (sum(col("__conv")) / count(lit(1))).as(m.name)))
    gen.shape(q, out)
  }

  /** Cohort retention curve, on the reference's fixed output contract
    * (generator.py:5178-5205): cohort_date is a DATE, the period column is
    * `<grain>s_since`, and `retention_pct` = round(active·100/size, 1) —
    * these names hold regardless of the metric's own name. The base filter
    * picks cohort events, the conversion filter activity events. */
  private def retention(q: SemanticQuery, df: GraftPlan, m: graft.model.Metric,
      local: String => Column, entity: Column, ts: Column): GraftPlan = {

    val grain = m.retentionGrain.getOrElse("day")
    val periods = m.retentionPeriods.getOrElse(7)
    def trunc(c: Column): Column = grain match {
      case "day"   => to_date(c)
      case "week"  => to_date(date_trunc("week", c))
      case "month" => to_date(date_trunc("month", c))
    }
    val cohorts = df.filter(local(m.baseFilter.get))
      .agg(Seq(entity.as("__e")), Seq(min(trunc(ts)).as("cohort_date")))
    val activity = df.filter(local(m.conversionFilter.get))
      .select(entity.as("__ae"), trunc(ts).as("__ad"))
      .distinct()

    val periodsSince = grain match {
      case "day"   => datediff(col("__ad"), col("cohort_date"))
      case "week"  => (datediff(col("__ad"), col("cohort_date")) / 7).cast("int")
      case "month" => (year(col("__ad")) - year(col("cohort_date"))) * 12 +
                      (month(col("__ad")) - month(col("cohort_date")))
    }
    val label = grain match {
      case "day" => "days_since"; case "week" => "weeks_since"
      case "month" => "months_since"
    }
    val joined = cohorts
      .join(activity, col("__ae") === col("__e") && col("__ad") >= col("cohort_date"),
        "inner")
      .withColumn("__p", periodsSince)
      .filter(col("__p") <= periods)

    val sizes = cohorts.agg(Seq(col("cohort_date")),
      Seq(countDistinct(col("__e")).as("cohort_size")))
    val retained = joined.agg(Seq(col("cohort_date"), col("__p")),
      Seq(countDistinct(col("__e")).as("active_users")))

    val out = retained.join(sizes, Seq("cohort_date"))
      .select(col("cohort_date"), col("__p").cast("long").as(label),
        col("active_users"), col("cohort_size"),
        round(col("active_users") * lit(100.0) / col("cohort_size"), 1)
          .as("retention_pct"))
    // reference default ordering when the query specifies none
    gen.shape(q,
      if (q.orderBy.isEmpty) out.orderBy(col("cohort_date"), col(label)) else out)
  }

  /** Two-stage cohort metric: per-entity inner aggregate gated by HAVING,
    * then an outer aggregate over qualifying entities. */
  private def cohort(q: SemanticQuery, df: GraftPlan, m: graft.model.Metric,
      dims: Seq[FieldRef], dimCol: FieldRef => Column,
      local: String => Column, entity: Column): GraftPlan = {

    val dimCols = dims.map(dimCol)
    val inner = df.agg(entity.as("__e") +: dimCols,
      Seq(local(m.sql.getOrElse(throw new IllegalArgumentException(
        s"Cohort metric '${m.name}' needs sql (inner aggregate)"))).as("value")))
    val qualified = m.having match {
      case Some(h) => inner.filter(expr(h))
      case None    => inner
    }
    val outer = m.outerAgg.getOrElse("count") match {
      case "count" => count(lit(1))
      case "sum"   => sum(col("value"))
      case "avg"   => avg(col("value"))
    }
    gen.shape(q,
      qualified.agg(dims.map(d => col(d.outName)), Seq(outer.as(m.name))))
  }
}
