package graft.gen

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Post-query table calculations — window functions over the *result*
  * DataFrame of a semantic query (reference: core/table_calculation.py:14).
  *
  * Calls that carry a `partitionBy` compose ordinary partitioned windows.
  * Global calcs (no partition) are NOT funnelled through a single-partition
  * WindowExec; they decompose into distributed plans that stay parallel
  * even if a caller hands them a fact-grain frame instead of a result set:
  *
  *   - running_total / rank / row_number / percentile: range-partition by
  *     the ordering (equal keys share a partition, so ties never straddle
  *     a boundary), compute the window locally per partition, then add
  *     broadcast prefix offsets (Σ over preceding partitions — the offset
  *     frame is one row per partition, so the inequality self-join is
  *     noise).
  *   - percent_of_total / percentile: broadcast the global aggregate.
  *   - percent_of_previous / moving_average: global ordinal + running sum
  *     as above, then a self-join shifted by 1 / n on the ordinal —
  *     moving_average(i) = (S(i) − S(i−n)) / (C(i) − C(i−n)) where S and C
  *     are the cumulative sum and non-null count. No cross-partition row
  *     carry, so the plan survives skew and near-empty partitions.
  */
object TableCalcs {

  private val Pid = "__tc_pid"

  private def part(partitionBy: Seq[String]) =
    Window.partitionBy(partitionBy.map(col): _*)

  /** Global (no-partition) calcs take a plain single-partition
    * WindowExec when the input's optimizer size estimate is under
    * `spark.graft.tablecalc.globalWindowMaxBytes` (default 64 MiB,
    * plan-time, no job): a table calc runs over a semantic RESULT set —
    * a report-sized frame — and the decomposed prefix plans below pay
    * 5-8 extra exchanges (each an AQE stage job, ~40 ms of fixed launch
    * cost at any scale) to avoid a serial window that at this size
    * sorts in microseconds. Profiled at sf0.1: q_tablecalc_moving_avg
    * ran 11 jobs / 26 codegen stages for an 80-row frame, 0.17 CPU·s of
    * real work under 0.55 s of wall. Above the threshold the decomposed
    * distributed plans engage unchanged — a fact-grain frame never
    * rides one task, and a 64 MiB-estimate frame is safe on one: the
    * single-partition exchange moves less than one shuffle block.
    * Values are unchanged on both sides of the gate: the sums ride
    * decimals (exact) or the identical float expression, pinned by the
    * oracle battery at every SF. */
  private def smallGlobal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(globalWindowMaxBytes(df.sparkSession))

  /** The size gate of [[smallGlobal]], read from the session conf at
    * composition time. A malformed conf falls back to the default
    * instead of throwing at plan-construction time. */
  def globalWindowMaxBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.tablecalc.globalWindowMaxBytes")
      .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(64L << 20)

  private def globalWin(order: Seq[Column]) = Window.orderBy(order: _*)

  /** Range-partition by the global ordering and tag rows with the physical
    * partition id, so a global window decomposes into local windows plus
    * per-partition offsets. */
  private def ranged(df: DataFrame, order: Seq[Column]): DataFrame =
    df.repartitionByRange(order: _*).withColumn(Pid, spark_partition_id())

  /** offsets(p) = Σ aggCol over partitions < p (null when none precede).
    * `perPart` has one row per partition. */
  private def prefixOffsets(perPart: DataFrame, aggCols: Seq[String]): DataFrame =
    perPart.as("a").join(broadcast(perPart.as("b")),
        col(s"b.$Pid") < col(s"a.$Pid"), "left")
      .groupBy(col(s"a.$Pid").as(Pid))
      .agg(sum(col(s"b.${aggCols.head}")).as(s"${aggCols.head}_off"),
        aggCols.tail.map(c => sum(col(s"b.$c")).as(s"${c}_off")): _*)

  /** Global sum split as local-running + offset, null only when BOTH sides
    * are null (mirrors a window SUM over an all-null prefix). */
  private def offsetSum(local: Column, off: Column): Column =
    when(local.isNull && off.isNull, lit(null))
      .otherwise(coalesce(local, lit(0)) + coalesce(off, lit(0)))

  /** Append a global (long) ordinal by `order` without a single-partition
    * window. */
  private def globalOrdinal(df: DataFrame, order: Seq[Column], as: String): DataFrame = {
    val t = ranged(df, order)
    val local = t.withColumn(as,
      row_number().over(Window.partitionBy(Pid).orderBy(order: _*)).cast("long"))
    val counts = t.groupBy(Pid).agg(count(lit(1)).as("__tc_cnt"))
    local.join(broadcast(prefixOffsets(counts, Seq("__tc_cnt"))), Seq(Pid), "left")
      .withColumn(as, col(as) + coalesce(col("__tc_cnt_off"), lit(0L)))
      .drop(Pid, "__tc_cnt_off")
  }

  /** value·100 / sum(value) over the partition — percent form ×100, the
    * reference's contract (table_calc_processor.py:184). Double division
    * keeps the result type stable regardless of input scale. */
  def percentOfTotal(df: DataFrame, value: String, as: String,
      partitionBy: Seq[String] = Nil): DataFrame =
    if (partitionBy.nonEmpty)
      df.withColumn(as, col(value).cast("double") * 100 /
        sum(col(value)).over(part(partitionBy)).cast("double"))
    else if (smallGlobal(df))
      df.withColumn(as, col(value).cast("double") * 100 /
        sum(col(value)).over().cast("double"))
    else {
      val tot = df.agg(sum(col(value)).cast("double").as("__tc_tot"))
      df.crossJoin(broadcast(tot))
        .withColumn(as, col(value).cast("double") * 100 / col("__tc_tot"))
        .drop("__tc_tot")
    }

  /** value·100 / sum(value) over a *column* partition while partitioned
    * rows stay at row grain (percent_of_column_total). */
  def percentOfColumnTotal(df: DataFrame, value: String, columns: Seq[String],
      as: String): DataFrame =
    if (columns.isEmpty) percentOfTotal(df, value, as)
    else df.withColumn(as, col(value).cast("double") * 100 /
      sum(col(value)).over(part(columns)).cast("double"))

  /** (value − lag(value))·100 / lag(value) ordered by `orderBy`
    * (percent_of_previous, ×100 — table_calc_processor.py:197). */
  def percentOfPrevious(df: DataFrame, value: String, orderBy: Seq[String],
      as: String, partitionBy: Seq[String] = Nil): DataFrame =
    if (partitionBy.nonEmpty) {
      val w = part(partitionBy).orderBy(orderBy.map(col): _*)
      val prev = lag(col(value), 1).over(w).cast("double")
      df.withColumn(as,
        (col(value).cast("double") - prev) * 100 / when(prev =!= 0, prev))
    } else if (smallGlobal(df)) {
      val prev = lag(col(value), 1)
        .over(globalWin(orderBy.map(col))).cast("double")
      df.withColumn(as,
        (col(value).cast("double") - prev) * 100 / when(prev =!= 0, prev))
    } else {
      val rn = "__tc_rn"
      val base = globalOrdinal(df, orderBy.map(col), rn)
      val shifted = base.select((col(rn) + 1).as(rn),
        col(value).cast("double").as("__tc_prev"))
      val prev = col("__tc_prev")
      base.join(shifted, Seq(rn), "left")
        .withColumn(as,
          (col(value).cast("double") - prev) * 100 / when(prev =!= 0, prev))
        .drop(rn, "__tc_prev")
    }

  /** Running total ordered by `orderBy`. */
  def runningTotal(df: DataFrame, value: String, orderBy: Seq[String],
      as: String, partitionBy: Seq[String] = Nil): DataFrame =
    if (partitionBy.nonEmpty) {
      val w = part(partitionBy).orderBy(orderBy.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(as, sum(col(value)).over(w))
    } else if (smallGlobal(df)) {
      df.withColumn(as, sum(col(value)).over(globalWin(orderBy.map(col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    } else {
      val order = orderBy.map(col)
      val t = ranged(df, order)
      val w = Window.partitionBy(Pid).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = t.withColumn(as, sum(col(value)).over(w))
      val totals = t.groupBy(Pid).agg(sum(col(value)).as("__tc_sum"))
      // normalize to the single-window branch's exact output type: the
      // offset addition widens decimals (sum-of-sums precision), so
      // without the cast the SAME query would change column types when
      // the data crosses the size gate
      val sumType = df.select(sum(col(value))).schema.head.dataType
      local.join(broadcast(prefixOffsets(totals, Seq("__tc_sum"))), Seq(Pid), "left")
        .withColumn(as, offsetSum(col(as), col("__tc_sum_off")).cast(sumType))
        .drop(Pid, "__tc_sum_off")
    }

  /** Competition rank by `value` descending (ties share rank). */
  def rankBy(df: DataFrame, value: String, as: String,
      partitionBy: Seq[String] = Nil, ascending: Boolean = false): DataFrame = {
    val o = if (ascending) col(value).asc else col(value).desc
    if (partitionBy.nonEmpty)
      df.withColumn(as, rank().over(part(partitionBy).orderBy(o)))
    else if (smallGlobal(df))
      df.withColumn(as, rank().over(globalWin(Seq(o))))
    else {
      // range partitioning keeps equal values in one partition, so a
      // local rank plus preceding-partition row counts IS the global rank
      val t = ranged(df, Seq(o))
      val local = t.withColumn(as,
        rank().over(Window.partitionBy(Pid).orderBy(o)).cast("long"))
      val counts = t.groupBy(Pid).agg(count(lit(1)).as("__tc_cnt"))
      local.join(broadcast(prefixOffsets(counts, Seq("__tc_cnt"))), Seq(Pid), "left")
        .withColumn(as,
          (col(as) + coalesce(col("__tc_cnt_off"), lit(0L))).cast("int"))
        .drop(Pid, "__tc_cnt_off")
    }
  }

  /** Stable row number by the given ordering. */
  def rowNumberBy(df: DataFrame, orderBy: Seq[String], as: String,
      partitionBy: Seq[String] = Nil): DataFrame =
    if (partitionBy.nonEmpty)
      df.withColumn(as,
        row_number().over(part(partitionBy).orderBy(orderBy.map(col): _*)))
    else if (smallGlobal(df))
      df.withColumn(as, row_number().over(globalWin(orderBy.map(col))))
    else globalOrdinal(df, orderBy.map(col), as)
      .withColumn(as, col(as).cast("int"))

  /** The reference's `percentile` type (table_calc_processor.py:286):
    * the linearly interpolated p-quantile of `value` over the result
    * set, attached to every row as a CONSTANT column — the "compare
    * each row against the distribution" calc (p95 line on a chart).
    * Spark's `percentile` aggregate uses the same linear interpolation
    * as the reference's numpy-style formula (and DuckDB's
    * quantile_cont), so the value is oracle-exact cross-engine. The
    * global form is a window aggregate over the whole frame under the
    * size gate, else it broadcasts a one-row aggregate; the partitioned
    * form is a window aggregate per partition. */
  def percentileValue(df: DataFrame, value: String, p: Double, as: String,
      partitionBy: Seq[String] = Nil): DataFrame = {
    require(p >= 0 && p <= 1, s"percentile must be in [0, 1], got $p")
    if (partitionBy.nonEmpty)
      df.withColumn(as,
        percentile(col(value).cast("double"), lit(p)).over(part(partitionBy)))
    else if (smallGlobal(df))
      df.withColumn(as, percentile(col(value).cast("double"), lit(p)).over())
    else {
      val q = df.agg(
        percentile(col(value).cast("double"), lit(p)).as("__tc_q"))
      df.crossJoin(broadcast(q)).withColumn(as, col("__tc_q")).drop("__tc_q")
    }
  }

  /** percent_rank of `value` — the per-row position-in-distribution
    * companion to [[percentileValue]] (not a reference type; kept as a
    * named helper). */
  def percentileOf(df: DataFrame, value: String, as: String,
      partitionBy: Seq[String] = Nil): DataFrame =
    if (partitionBy.nonEmpty)
      df.withColumn(as, percent_rank().over(part(partitionBy).orderBy(col(value))))
    else if (smallGlobal(df))
      df.withColumn(as, percent_rank().over(globalWin(Seq(col(value).asc))))
    else {
      val o = col(value).asc
      val t = ranged(df, Seq(o))
      val local = t.withColumn("__tc_rank",
        rank().over(Window.partitionBy(Pid).orderBy(o)).cast("long"))
      val counts = t.groupBy(Pid).agg(count(lit(1)).as("__tc_cnt"))
      val n = df.agg(count(lit(1)).as("__tc_n"))
      local.join(broadcast(prefixOffsets(counts, Seq("__tc_cnt"))), Seq(Pid), "left")
        .withColumn("__tc_rank", col("__tc_rank") + coalesce(col("__tc_cnt_off"), lit(0L)))
        .crossJoin(broadcast(n))
        .withColumn(as, when(col("__tc_n") > 1,
          (col("__tc_rank") - 1).cast("double") / (col("__tc_n") - 1).cast("double"))
          .otherwise(0.0))
        .drop(Pid, "__tc_cnt_off", "__tc_rank", "__tc_n")
    }

  /** Trailing moving average over the previous `n` rows (inclusive). */
  def movingAverage(df: DataFrame, value: String, orderBy: Seq[String], n: Int,
      as: String, partitionBy: Seq[String] = Nil): DataFrame =
    if (partitionBy.nonEmpty) {
      val w = part(partitionBy).orderBy(orderBy.map(col): _*)
        .rowsBetween(-(n - 1L), Window.currentRow)
      df.withColumn(as, avg(col(value).cast("double")).over(w))
    } else if (smallGlobal(df)) {
      df.withColumn(as, avg(col(value).cast("double"))
        .over(globalWin(orderBy.map(col)).rowsBetween(-(n - 1L),
          Window.currentRow)))
    } else {
      // AVG over the trailing window = (S(i) − S(i−n)) / (C(i) − C(i−n))
      // on cumulative sum S and cumulative non-null count C — prefix
      // aggregates distribute; the i−n lookup is an equi-join on the
      // global ordinal, not a cross-partition row carry
      val order = orderBy.map(col)
      val rn = "__tc_rn"
      val t = ranged(df, order)
      val w = Window.partitionBy(Pid).orderBy(order: _*)
      val cw = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val v = col(value).cast("double")
      val local = t
        .withColumn(rn, row_number().over(w).cast("long"))
        .withColumn("__tc_s", sum(v).over(cw))
        .withColumn("__tc_c", count(v).over(cw))
      val stats = t.groupBy(Pid).agg(
        count(lit(1)).as("__tc_cnt"), sum(v).as("__tc_vsum"),
        count(v).as("__tc_vcnt"))
      val glob = local
        .join(broadcast(prefixOffsets(stats,
          Seq("__tc_cnt", "__tc_vsum", "__tc_vcnt"))), Seq(Pid), "left")
        .withColumn(rn, col(rn) + coalesce(col("__tc_cnt_off"), lit(0L)))
        .withColumn("__tc_s", offsetSum(col("__tc_s"), col("__tc_vsum_off")))
        .withColumn("__tc_c", col("__tc_c") + coalesce(col("__tc_vcnt_off"), lit(0L)))
        .drop(Pid, "__tc_cnt_off", "__tc_vsum_off", "__tc_vcnt_off")
      val shifted = glob.select((col(rn) + n).as(rn),
        col("__tc_s").as("__tc_s_prev"), col("__tc_c").as("__tc_c_prev"))
      val dc = col("__tc_c") - coalesce(col("__tc_c_prev"), lit(0L))
      glob.join(shifted, Seq(rn), "left")
        .withColumn(as, when(dc > 0,
          (coalesce(col("__tc_s"), lit(0.0)) - coalesce(col("__tc_s_prev"), lit(0.0))) /
            dc.cast("double")))
        .drop(rn, "__tc_s", "__tc_c", "__tc_s_prev", "__tc_c_prev")
    }

  /** Free-form expression calc (reference type `formula`,
    * core/table_calculation.py:14): evaluate a SQL expression over the
    * result frame's columns into a new column — the named API for what
    * `expr()` passthrough composes implicitly. Row-local by definition
    * (no window), so it never changes the plan's partitioning. */
  def formula(df: DataFrame, expression: String, as: String): DataFrame =
    df.withColumn(as, expr(expression))

  /** Top-N rows per partition by `value` (QUALIFY row_number() <= n shape,
    * reference: query_rewriter.py:1201-1478). The no-partition case is a
    * global sort-limit — Catalyst executes TakeOrderedAndProject, no full
    * sort and no single-partition window at any scale. */
  def topN(df: DataFrame, value: String, n: Int,
      partitionBy: Seq[String] = Nil, ascending: Boolean = false): DataFrame = {
    val o = if (ascending) col(value).asc else col(value).desc
    if (partitionBy.isEmpty) df.orderBy(o).limit(n)
    else df.withColumn("__rn", row_number().over(part(partitionBy).orderBy(o)))
      .filter(col("__rn") <= n).drop("__rn")
  }
}
