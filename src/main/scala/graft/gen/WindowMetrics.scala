package graft.gen

import graft.model.DimType
import graft.plan.{FieldRef, SemanticQuery}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, GraftPlan, SparkSession}

/** Lowers cumulative and time-comparison metric types to Spark window
  * functions over an inner aggregated query — the reference's two-stage
  * shape (sql/generator.py:5701, :6150-6210, :6326).
  *
  * Inner stage: base metrics aggregated at (dims × time grain) via the
  * standard path, left unanalysed. Outer stage: window functions and
  * self-joins composed onto the same [[GraftPlan]], so the whole query is
  * analysed once. Interval RANGE frames (Spark supports only numeric
  * range keys) are handled by ordering on an epoch-period key per grain
  * (SURVEY §7.4 hard spot #1).
  *
  * Scale note: the outer windows partition by the query's non-time dims
  * and order by the time bucket; with no other dims they are
  * partition-less, which is safe BY CONSTRUCTION here — the frame is the
  * inner aggregate at time-grain cardinality (≤ a few thousand rows for
  * a century of days), not fact-grain, so a single partition holds it at
  * any source scale. Fact-grain global windows live in TableCalcs, which
  * decomposes them into distributed prefix plans instead.
  */
final class WindowMetrics(spark: SparkSession, gen: Generator) {
  import WindowMetrics.parseWindow

  private val cat = gen.catRef

  def plan(q: SemanticQuery): GraftPlan = {
    val mets = q.metrics.map(r => (r, gen.metricOf(r)))
    val innerRefs = mets.flatMap { case (ref, (model, m)) =>
      m.kind match {
        case "cumulative" if m.windowExpression.isDefined =>
          // arbitrary window expression: its metric references become the
          // inner aggregates (reference: core/metric.py:299-308); an
          // explicit window_order may reference metrics too (a RANKX-
          // style rank orders by the base measure), so scan it as well
          // with any trailing direction keyword stripped
          val orderSrc = m.windowOrder.map(
            _.replaceAll(raw"(?i)\s+(ASC|DESC)\s*$$", ""))
          (m.windowExpression.get +: orderSrc.toSeq).flatMap(src =>
            graft.functions.Exprs.refs(spark, src).collect {
              case Seq(f) if cat.model(model).metric(f).isDefined =>
                s"$model.$f"
              case Seq(mm, f) if cat.models.get(mm).exists(_.metric(f).isDefined) =>
                s"$mm.$f"
            })
        case "cumulative" | "time_comparison" =>
          Seq(qualify(model, m.baseMetric.getOrElse(throw new IllegalArgumentException(
            s"Metric '${m.name}' needs base_metric"))))
        case "ratio" if m.offsetWindow.isDefined =>
          Seq(qualify(model, m.numerator.get), qualify(model, m.denominator.get))
        case _ => Seq(ref)
      }
    }.distinct
    val innerQ = q.copy(metrics = innerRefs, orderBy = Nil, limit = None,
      offset = None, withTotals = false)
    var df = gen.aggregate(innerQ, finalShape = true)._1

    // locate the time dimension in the requested dims
    val dimInfo = q.dimensions.map { r =>
      val fr = FieldRef.parse(r)
      (fr, cat.model(fr.model).dimension(fr.field).getOrElse(
        throw new IllegalArgumentException(s"Unknown dimension '$r'")))
    }
    val timeIdx = dimInfo.indexWhere { case (fr, d) =>
      fr.grain.isDefined || d.dimType == DimType.Time }
    // a windowExpression metric with its own explicit ORDER BY column
    // needs no time axis (e.g. a RANKX-style rank over the grouped
    // result, ordered by the base measure); every other WINDOW type
    // anchors on a time dimension. Plain metrics riding along in the
    // same query aggregate in the inner stage and don't care.
    val needsTime = mets.exists { case (_, (_, m)) =>
      (m.kind == "cumulative" && !(m.windowExpression.isDefined &&
        m.windowOrder.isDefined)) ||
      m.kind == "time_comparison" ||
      (m.kind == "ratio" && m.offsetWindow.isDefined) }
    require(timeIdx >= 0 || !needsTime,
      "cumulative/time_comparison metrics require a time dimension in the query")
    def timeName = dimInfo(timeIdx)._1.outName
    def queryGrain = {
      val (timeFr, timeDim) = dimInfo(timeIdx)
      timeFr.grain.orElse(timeDim.granularity).getOrElse("day")
    }
    val otherDims = dimInfo.zipWithIndex.collect {
      case ((fr, _), i) if i != timeIdx => fr.outName }

    mets.foreach { case (_, (model, m)) =>
      m.kind match {
        case "cumulative" if m.windowExpression.isDefined =>
          // raw window passthrough: expression + optional frame/order go to
          // Spark's window support verbatim (interval RANGE frames are not
          // supported by Spark and surface as analysis errors)
          val orderCol = m.windowOrder.getOrElse(timeName)
          // a pinned ranking domain (DAX RANKX(ALL(T[Col]), …)) is only
          // faithful when the query groups by exactly that column —
          // refuse loudly on any other grouping rather than silently
          // ranking a different domain
          m.windowDomain.foreach { dom =>
            val dims = dimInfo.map(_._1.field)
            require(dims.map(_.toLowerCase) == Seq(dom.toLowerCase),
              s"Metric '${m.name}' ranks over the values of '$dom'; " +
                s"query must group by exactly that column (got " +
                s"${if (dims.isEmpty) "none" else dims.mkString(", ")})")
          }
          // With a time axis the non-time dims partition and the window
          // runs along time inside each group. WITHOUT one (timeIdx < 0
          // — only legal when every window metric has an explicit
          // windowOrder), the grouped result itself is the ranking
          // domain: partitioning by every queried dim would put each
          // one-row group alone in its window and a RANKX-style rank
          // would return 1 for every row.
          val part = if (otherDims.isEmpty || timeIdx < 0) ""
                     else s"PARTITION BY ${otherDims.mkString(", ")} "
          val frame = m.windowFrame.map(" " + _).getOrElse("")
          df = df.withColumn(m.name, expr(
            s"${m.windowExpression.get} OVER (${part}ORDER BY $orderCol$frame)"))
        case "cumulative" =>
          val base = col(strip(m.baseMetric.get))
          val c = (m.window, m.grainToDate) match {
            case (Some(w), _) =>
              // `window: N grain` → trailing window; RANGE over an integer
              // epoch-period key (Spark has no interval range frames)
              val (n, unit) = parseWindow(w)
              val win = Window.partitionBy(otherDims.map(col): _*)
                .orderBy(periodKey(col(timeName), unit))
                .rangeBetween(-(n - 1L), 0L)
              sum(base).over(win)
            case (_, Some(g)) =>
              // grain_to_date (MTD/YTD): restart the running sum each grain
              val win = Window
                .partitionBy(otherDims.map(col) :+ date_trunc(g, col(timeName)): _*)
                .orderBy(col(timeName))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
              sum(base).over(win)
            case _ =>
              val win = Window.partitionBy(otherDims.map(col): _*)
                .orderBy(col(timeName))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
              sum(base).over(win)
          }
          df = df.withColumn(m.name, c)
        case "time_comparison" =>
          // exact-period lookup via self-join on the calendar-shifted period
          // (reference: generator.py:4112-4128) — NOT a row lag: a missing
          // period in a sparse series yields NULL instead of silently
          // comparing the wrong row, and yoy at day grain follows the
          // calendar across leap years
          val pn = s"__prior_${m.name}"
          df = priorJoin(df, strip(m.baseMetric.get), pn, otherDims, timeName,
            t => offsetTime(t, m.comparison.getOrElse("prior"), queryGrain))
          val base = col(strip(m.baseMetric.get))
          val prev = col(pn)
          val prevD = prev.cast("double")
          val c = m.calculation.getOrElse("percent_change") match {
            case "difference"     => base - prev
            // percent form ×100, the reference's contract (generator.py:6428)
            case "percent_change" =>
              (base.cast("double") - prevD) / when(prevD =!= 0, prevD) * 100
            case "ratio"          => base.cast("double") / when(prevD =!= 0, prevD)
            // the prior-period VALUE itself (DAX SAMEPERIODLASTYEAR shape)
            case "prior" | "prior_value" => prev
          }
          df = df.withColumn(m.name, c).drop(pn)
        case "ratio" if m.offsetWindow.isDefined =>
          // ratio with exact-period offset denominator (generator.py:6391)
          val (n, unit) = parseWindow(m.offsetWindow.get)
          val pn = s"__prior_${m.name}"
          df = priorJoin(df, strip(m.denominator.get), pn, otherDims, timeName,
            t => shiftBack(t, n, unit))
          val den = col(pn).cast("double")
          df = df.withColumn(m.name,
            col(strip(m.numerator.get)).cast("double") / when(den =!= 0, den))
            .drop(pn)
        case _ => ()
      }
    }

    val dimOut = dimInfo.map { case (fr, _) => col(fr.outName) }
    val metOut = mets.map { case (_, (_, m)) => col(m.name) }
    gen.shape(q, df.select(dimOut ++ metOut: _*))
  }

  private def strip(ref: String): String =
    if (ref.contains(".")) ref.split('.')(1) else ref

  private def qualify(model: String, ref: String): String =
    if (ref.contains(".")) ref else s"$model.$ref"

  /** Left-join the aggregated frame to itself on (otherDims, shifted time):
    * each row picks up `valueName` of its exact comparison period as
    * `outName` (NULL when that period has no row). Post-aggregation frames
    * are grain-cardinality small, so the extra shuffle join is cheap at any
    * data scale — and it is the only correct lookup on sparse series. */
  private def priorJoin(df: GraftPlan, valueName: String, outName: String,
      otherDims: Seq[String], timeName: String,
      shift: Column => Column): GraftPlan = {
    val prior = df.select(
      otherDims.map(n => col(n).as(s"__p_$n")) ++
        Seq(col(timeName).as("__p_t"), col(valueName).as(outName)): _*)
    val cond = (otherDims.map(n => col(n) <=> col(s"__p_$n")) :+
      (shift(col(timeName)).cast("timestamp") === col("__p_t").cast("timestamp")))
      .reduce(_ && _)
    df.join(prior, cond, "left")
      .drop("__p_t").drop(otherDims.map(n => s"__p_$n"): _*)
  }

  /** Calendar shift back by n units, preserving grain alignment. */
  private def shiftBack(t: Column, n: Int, unit: String): Column = unit match {
    case "day"     => t - expr(s"INTERVAL $n DAY")
    case "week"    => t - expr(s"INTERVAL ${n * 7} DAY")
    case "month"   => add_months(t, -n)
    case "quarter" => add_months(t, -3 * n)
    case "year"    => add_months(t, -12 * n)
  }

  /** The comparison period for a row's period: calendar arithmetic, exact
    * across leap years (reference: generator.py:4023-4128). */
  private def offsetTime(t: Column, comparison: String, grain: String): Column =
    (comparison.toLowerCase, grain) match {
      case ("prior", g)       => shiftBack(t, 1, g)
      case ("dod", "day")     => shiftBack(t, 1, "day")
      case ("wow", "day")     => shiftBack(t, 1, "week")
      case ("wow", "week")    => shiftBack(t, 1, "week")
      case ("mom", "month")   => shiftBack(t, 1, "month")
      case ("qoq", "month") | ("qoq", "quarter") => shiftBack(t, 1, "quarter")
      case ("yoy", "day")     => t - expr("INTERVAL 1 YEAR") // leap-aware
      case ("yoy", "week")    => shiftBack(t, 52, "week") // whole weeks keep alignment
      case ("yoy", g) if Set("month", "quarter", "year")(g) => shiftBack(t, 1, "year")
      case (c, g) => throw new IllegalArgumentException(
        s"time_comparison '$c' unsupported at grain '$g'")
    }

  /** Integer periods-since-epoch for a grain — the numeric RANGE key. */
  private def periodKey(t: Column, unit: String): Column = unit match {
    case "day"     => datediff(t, to_date(lit("1970-01-01"))).cast("long")
    case "week"    => floor(datediff(t, to_date(lit("1970-01-05"))) / 7).cast("long")
    case "month"   => (year(t) * 12 + month(t)).cast("long")
    case "quarter" => (year(t) * 4 + quarter(t)).cast("long")
    case "year"    => year(t).cast("long")
  }

}

object WindowMetrics {

  /** `"N unit"` (a trailing window, an offset, a conversion window) as
    * (N, unit), the unit singular and lower-case. */
  private[gen] def parseWindow(w: String): (Int, String) = {
    val m = raw"(?i)\s*(\d+)\s+(day|week|month|quarter|year)s?\s*".r
    w match {
      case m(n, unit) => (n.toInt, unit.toLowerCase)
      case _ => throw new IllegalArgumentException(s"Bad window spec '$w'")
    }
  }
}
