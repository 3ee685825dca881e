package graft

import graft.gen.{Generator, TableCalcs}
import graft.ops.{Bpe, Chunking, Dedup, DedupIndex, Embeddings, Fusion, IvfIndex, KeyProfile, Multimodal, Sampling, Sessionize, Similarity, Sketches, Skew, TextAnalysis, TextIndex}
import graft.plan.SemanticQuery
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data pipeline operators), each with an
  * equivalent DuckDB oracle in `oracleSql` where the operator is
  * SQL-expressible (hash-based ops get the weaker rows-only check).
  *
  * Cross-engine determinism rules used throughout:
  *   - money sums are DECIMAL(18,x) casts (exact, order-independent);
  *   - ratios/averages divide in double with identical expression shape;
  *   - avg/stddev/median outputs round(…, 4) on both sides (double
  *     summation order differs between engines);
  *   - integer outputs are BIGINT on both sides.
  */
object SparkEntry {

  /** The session's shared generator over the TPC-H catalog at `dir`:
    * a long-lived semantic layer whose plan cache stays warm across
    * requests ([[GraftSession.generator]]). */
  private def tpch(s: SparkSession, dir: String): Generator =
    GraftSession.generator(s, TpchCatalog.build(dir))

  private def q(s: SparkSession, dir: String)(query: SemanticQuery): DataFrame =
    tpch(s, dir).plan(query)

  /** A table calc over a TPC-H semantic query, kept as a derived step of
    * the query's plan-cache entry. `calc` names the TableCalcs function
    * with its arguments, the result ordering and the output cast; with
    * the calc's window size gate
    * ([[TableCalcs.globalWindowMaxBytes]]) it keys the step, since
    * together they determine `f`. */
  private def tableCalc(s: SparkSession, dir: String, query: SemanticQuery,
      calc: Product)(f: DataFrame => DataFrame): DataFrame =
    tpch(s, dir).plan(query, (calc, TableCalcs.globalWindowMaxBytes(s)))(f)

  /** 30 tokens no real corpus contains — the novel filler between the
    * planted contaminated passages of the span-decontamination pair. */
  private val spanNovel = (1 to 30).map(i => s"spanglyph$i").mkString(" ")

  /** Shared probe frame of the contamination-span pair (q_contam_spans /
    * q_decontam_surgical): four raw docs, one probe interleaving two
    * 20-token in-reference passages around [[spanNovel]], one all-novel. */
  private def contamProbe(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(col("doc_id") >= 434 && col("doc_id") < 438)
      .select(col("doc_id"), col("text"))
      .unionByName(docs(s, d).filter(col("doc_id") === 8)
        .select(lit(9100L).as("doc_id"),
          concat_ws(" ",
            expr("concat_ws(' ', slice(split(lower(text), '\\\\s+'), 1, 20))"),
            lit(spanNovel),
            expr("concat_ws(' ', slice(split(lower(text), '\\\\s+'), 21, 20))"))
            .as("text")))
      .unionByName(docs(s, d).filter(col("doc_id") === 8)
        .select(lit(9101L).as("doc_id"),
          lit(spanNovel.replace("spanglyph", "sologlyph")).as("text")))

  private def round4(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, round(col(c).cast("double"), 4)))

  private def asLong(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("long")))

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Fragmented Hive-bucketed corpus fixture shared by the three
    * corpus-maintenance queries: buckets doc_id%4, then buckets 0/1
    * each get three extra one-residue files (doc_id%100 = b+4k,
    * congruent with the bucket since 4 | 100). The fragment append is
    * ONE job — a single task whose output splits into exactly
    * per-residue-sized files via maxRecordsPerFile — instead of six
    * filter+write jobs; the resulting layout (4 files in buckets 0/1,
    * 1 elsewhere) is identical and the compaction receipts pin it. */
  private def fragmentedCorpusFixture(s: SparkSession, d: String,
      dir: String): Unit = {
    val base = docs(s, d).withColumn("bucket", pmod(col("doc_id"), lit(4)))
    base.repartition(col("bucket")).write.mode("overwrite")
      .partitionBy("bucket").parquet(dir)
    val perResidue = math.ceil(docs(s, d).count() / 100.0).toLong
    base.filter(pmod(col("doc_id"), lit(100)).isin(0, 1, 4, 5, 8, 9))
      .repartition(1)
      .write.mode("append").option("maxRecordsPerFile", perResidue)
      .partitionBy("bucket").parquet(dir)
  }

  /** Memoized pristine fragmented-corpus fixture (hive-bucketed form)
    * for the corpus-maintenance queries: built once per JVM, cloned per
    * pass by the mutating queries ([[workingCopy]]), read in place by
    * the listing-only profile. */
  private def fragmentedCorpusFixtureOnce(s: SparkSession, d: String): String = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_cfixparts_${math.abs(d.hashCode)}"
    buildOnce(base) {
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      fragmentedCorpusFixture(s, d, base)
    }
    base
  }

  /** Memoized pristine drip-ingested flat layout (12-file base + six
    * one-file appends in one maxRecordsPerFile-split job) for
    * q_corpus_compact. */
  private def flatCorpusFixtureOnce(s: SparkSession, d: String): String = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_cfixflat_${math.abs(d.hashCode)}"
    buildOnce(base) {
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      docs(s, d).repartition(12).write.mode("overwrite").parquet(base)
      docs(s, d).filter(col("doc_id") % 100 < 6).repartition(1)
        .write.mode("append")
        .option("maxRecordsPerFile",
          math.ceil(docs(s, d).count() / 100.0).toLong)
        .parquet(base)
    }
    base
  }

  /** Once-per-JVM index-build fixture: battery queries that PROBE a
    * persisted index (bm25/IVF/LSH) build it on first touch and reuse
    * it afterwards, so Bench's timed passes measure the probe/ingest
    * side — the build cost lands in the warmup pass, mirroring the
    * production split (indexes are maintained, queries are served).
    * Queries whose MEASURED operator is the build itself
    * (q_dedup_index) stay unmemoized, and queries that MUTATE the
    * index (q_dedup_ingest, q_ann_ivf_append) memoize a pristine base
    * and run against a [[workingCopy]] so repeated passes never see
    * their own prior appends. Correctness is unaffected: the
    * driver's Verify runs each query once per JVM, and a fresh JVM
    * always rebuilds (overwrite mode), so stale cross-run /tmp state
    * never leaks in. Only a SUCCESSFUL build marks the path built. */
  private val builtIndexes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def buildOnce(path: String)(build: => Unit): Unit =
    if (!builtIndexes.contains(path)) { build; builtIndexes.add(path) }

  /** Per-invocation working copy of a memoized base index: queries
    * that MUTATE an index (append / ingest) clone the pristine
    * memoized build to a working path first, so Bench's repeated
    * passes each see identical pre-mutation state — without the copy,
    * pass N would probe an index carrying N−1 prior appends, drifting
    * both the result set and the timed workload. The clone is a
    * local-FS directory copy, cheap next to the build it avoids
    * re-running; the refresh drops any plan cached against the
    * previous copy's files. */
  private def workingCopy(s: SparkSession, base: String, work: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(base)
    val fs = sp.getFileSystem(conf)
    val dp = new org.apache.hadoop.fs.Path(work)
    if (fs.exists(dp)) fs.delete(dp, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, sp, fs, dp, false, conf)
    s.catalog.refreshByPath(work)
  }

  /** events with `ts` surfaced as a session-zoned TimestampType column
    * `ts_t`. The file stores TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ);
    * older generations stored TIMESTAMP(NANOS), which Spark's reader
    * only admits as a nanos long via `nanosAsLong` — adapt to either so
    * a testdata regeneration can't silently break every events query. */
  private def eventsTs(s: SparkSession, dir: String): DataFrame = {
    val df = s.read.parquet(s"$dir/events.parquet")
    val t = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
      case _ => col("ts").cast("timestamp")
    }
    df.withColumn("ts_t", t)
  }

  /** Flagship: multi-hop star join, lineitem→orders→customer→nation→region. */
  def entry(spark: SparkSession): DataFrame =
    q(spark, "/root/testdata/sf0.001")(SemanticQuery(
      metrics = Seq("lineitem.net_revenue", "lineitem.quantity"),
      dimensions = Seq("region.name"),
      orderBy = Seq("name")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1/2.2/2.5 scans, projections, aggregations ----
    "q_simple_agg" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("lineitem.quantity", "lineitem.net_revenue", "lineitem.item_count"),
      dimensions = Seq("lineitem.returnflag", "lineitem.linestatus"),
      orderBy = Seq("returnflag", "linestatus")))),

    "q_agg_minmax" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.min_order_value", "orders.max_order_value", "orders.order_count"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority")))),

    "q_agg_avg" -> ((s, d) => round4(q(s, d)(SemanticQuery(
      metrics = Seq("orders.avg_order_value"),
      dimensions = Seq("orders.orderstatus"),
      orderBy = Seq("orderstatus"))), "avg_order_value")),

    "q_count_distinct" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.distinct_customers"),
      dimensions = Seq("orders.orderstatus"),
      orderBy = Seq("orderstatus")))),

    "q_count_distinct_multi" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.custkey_status_pairs"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority")))),

    "q_bsl_total" -> ((s, d) => round4(q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue", "orders.revenue_share_of_total"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority"))), "revenue_share_of_total")),

    "q_window_expr" -> ((s, d) => round4(q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_ma3m"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month"))), "revenue_ma3m")),

    // RANKX-style windowExpression metric queried by a NON-time
    // dimension: no time axis, so the rank's window spans the whole
    // grouped result — PARTITION BY the queried dims would rank every
    // one-row group 1 (the r16 ADVICE regression this oracle pins)
    "q_window_rank_dim" -> ((s, d) => asLong(q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue", "orders.revenue_rank"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority"))), "revenue_rank")),

    "q_stats" -> ((s, d) => round4(q(s, d)(SemanticQuery(
      metrics = Seq("lineitem.median_quantity", "lineitem.stddev_quantity",
        "lineitem.stddev_pop_quantity", "lineitem.var_quantity",
        "lineitem.var_pop_quantity"),
      dimensions = Seq("lineitem.returnflag"),
      orderBy = Seq("returnflag"))),
      "median_quantity", "stddev_quantity", "stddev_pop_quantity",
      "var_quantity", "var_pop_quantity")),

    // approx HLL sketch values differ from DuckDB's by design, but the
    // ACCURACY CONTRACT is oracle-checkable: emit the exact count plus a
    // within-5%-relative-error verdict; the oracle asserts the same exact
    // count and a literal true, so the hash gate fails iff the sketch
    // drifts past 5% (Spark's default HLL rsd is 5%)
    "q_approx_distinct" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      q(s, d)(SemanticQuery(
        metrics = Seq("lineitem.approx_parts", "lineitem.distinct_parts"),
        dimensions = Seq("lineitem.returnflag"),
        orderBy = Seq("returnflag")))
        .select(col("returnflag"), col("distinct_parts"),
          (abs(col("approx_parts") - col("distinct_parts")) <=
            col("distinct_parts") * 0.05).as("within_5pct"))
    }),

    // ---- §2.2 time grains, filters, segments, relative dates ----
    "q_time_grain_month" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")))),

    "q_time_grain_week" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("lineitem.quantity"),
      dimensions = Seq("lineitem.shipdate__week"),
      filters = Seq("lineitem.shipdate >= '1996-01-01'",
        "lineitem.shipdate < '1996-03-01'"),
      orderBy = Seq("shipdate__week")))),

    "q_filter_pushdown" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("lineitem.net_revenue"),
      dimensions = Seq("nation.name"),
      filters = Seq("orders.orderstatus = 'F'",
        "lineitem.shipdate >= '1997-01-01'"),
      orderBy = Seq("name")))),

    "q_metric_filter" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.open_revenue", "orders.revenue"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority")))),

    "q_having" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderpriority"),
      filters = Seq("orders.revenue > 70000000"),
      orderBy = Seq("orderpriority")))),

    "q_segment" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("customer.customer_count"),
      dimensions = Seq("nation.name"),
      segments = Seq("customer.automobile"),
      orderBy = Seq("name")))),

    "q_relative_date" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.order_count"),
      dimensions = Seq("orders.orderstatus"),
      filters = Seq("orders.order_date >= 'last 100 weeks'"),
      anchorDate = Some("1999-01-01"),
      orderBy = Seq("orderstatus")))),

    "q_parameter" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderstatus"),
      filters = Seq("orders.orderpriority = '{{prio}}'"),
      parameters = Map("prio" -> "1-URGENT"),
      orderBy = Seq("orderstatus")))),

    // the round-15 Jinja-subset extension under the oracle: a {% for %}
    // loop builds the IN list (loop.last separator — the reference's
    // canonical loop shape) and an UNBOUND parameter falls back through
    // `| default('3-MEDIUM')`
    "q_parameter_loop" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderstatus"),
      filters = Seq(
        "orders.orderpriority IN ({% for p in prios %}'{{ p }}'" +
          "{% if not loop.last %}, {% endif %}{% endfor %})",
        "orders.orderpriority != '{{ excl | default('3-MEDIUM') }}'",
        // compound condition: and/or at Jinja precedence (r16)
        "{% if mode == 'tight' and excl2 %}orders.orderpriority != " +
          "'{{ excl2 }}'{% else %}orders.orderpriority IS NOT NULL{% endif %}"),
      parameters = Map("prios" -> "1-URGENT,2-HIGH,3-MEDIUM",
        "mode" -> "tight", "excl2" -> "2-HIGH"),
      orderBy = Seq("orderstatus")))),

    // r17 Jinja increment: in / not in membership + parenthesized
    // grouping in template conditions
    "q_parameter_in" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderstatus"),
      filters = Seq(
        "{% if pri in ['1-URGENT', '2-HIGH'] %}orders.orderpriority = " +
          "'{{ pri }}'{% else %}orders.orderpriority IS NOT NULL{% endif %}",
        "{% if (mode == 'strict' or 'P' in allowed) and " +
          "pri not in ['5-LOW'] %}orders.orderstatus IN " +
          "({% for a in allowed %}'{{ a }}'{% if not loop.last %}, " +
          "{% endif %}{% endfor %}){% else %}1 = 1{% endif %}"),
      parameters = Map("pri" -> "2-HIGH", "mode" -> "loose",
        "allowed" -> "F,O,P"),
      orderBy = Seq("orderstatus")))),

    "q_bool_dimension" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.order_count"),
      dimensions = Seq("orders.is_high_value"),
      orderBy = Seq("is_high_value")))),

    // ---- §2.3 joins ----
    // orders→customer→nation→region: 3-hop chain with no shorter route
    "q_multi_hop" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("region.name"),
      orderBy = Seq("name")))),

    "q_many_to_many" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("supplier.supplier_count"),
      dimensions = Seq("part.brand"),
      orderBy = Seq("brand")))),

    // ---- §2.4 fan-out safety ----
    "q_fanout_symmetric" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("customer.total_acctbal", "customer.customer_count"),
      dimensions = Seq("orders.orderstatus"),
      orderBy = Seq("orderstatus")))),

    "q_fanout_avg" -> ((s, d) => round4(q(s, d)(SemanticQuery(
      metrics = Seq("customer.avg_acctbal"),
      dimensions = Seq("orders.orderstatus"),
      orderBy = Seq("orderstatus"))), "avg_acctbal")),

    "q_multifact" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue", "lineitem.quantity"),
      dimensions = Seq("customer.mktsegment"),
      orderBy = Seq("mktsegment")))),

    "q_semi_additive" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.last_value_total"),
      dimensions = Seq("events.ts__month"),
      orderBy = Seq("ts__month")))),

    // ---- §2.5 derived / ratio / fill_nulls / totals / ungrouped ----
    "q_ratio" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.aov", "orders.revenue_per_customer"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority")))),

    "q_derived" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.open_revenue_share"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority")))),

    "q_graph_metric" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("revenue_per_item")))),

    "q_fill_nulls" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.purchase_value"),
      dimensions = Seq("events.event_type"),
      orderBy = Seq("event_type")))),

    "q_with_totals" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderpriority"),
      withTotals = true,
      orderBy = Seq("_is_total", "orderpriority")))),

    // totals over a fan-out route: the grand-total bucket re-dedups on
    // (pk, value) only, so a customer spanning k order statuses counts once
    "q_totals_fanout" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("customer.total_acctbal"),
      dimensions = Seq("orders.orderstatus"),
      withTotals = true,
      orderBy = Seq("_is_total", "orderstatus")))),

    "q_ungrouped" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderstatus"),
      ungrouped = true,
      orderBy = Seq("o_orderkey"), limit = Some(10)))),

    "q_order_limit_offset" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("-revenue"), limit = Some(3), offset = Some(1)))),

    // ---- §2.6 window metrics ----
    "q_cumulative" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.cumulative_revenue", "orders.revenue"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")))),

    "q_cumulative_window" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_3m"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")))),

    "q_grain_to_date" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_ytd"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")))),

    "q_time_comparison" -> ((s, d) => round4(q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_mom"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month"))), "revenue_mom")),

    "q_yoy_difference" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_yoy_diff"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")))),

    // sparse series: all of 1995 filtered out — exact-period comparison
    // yields NULL for 1996 (no 1995 baseline); a row-lag would silently
    // compare 1996 months against 1994
    "q_yoy_sparse" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_yoy_diff"),
      dimensions = Seq("orders.order_date__month"),
      filters = Seq(
        "orders.order_date < '1995-01-01' OR orders.order_date >= '1996-01-01'"),
      orderBy = Seq("order_date__month")))),

    // ---- §2.7 funnels ----
    "q_conversion" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.signup_conversion")))),

    "q_retention" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.signup_retention"),
      orderBy = Seq("cohort_date", "days_since")))),

    "q_cohort" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.multi_type_users")))),

    "q_funnel_steps" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.signup_funnel"),
      orderBy = Seq("step")))),

    "q_offset_ratio" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_vs_prev_month"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")))),

    // ---- §2.8 top-n + §1.1 table calculations ----
    "q_topn" -> ((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.order_date__month")),
      ("topN", "revenue", 3, "order_date__month")) { df =>
      TableCalcs.topN(df, "revenue", 3).orderBy("order_date__month")
    }),

    "q_tablecalc_pct" -> ((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.orderstatus")),
      ("percentOfTotal", "revenue", "revenue_share", "orderstatus")) { df =>
      TableCalcs.percentOfTotal(df, "revenue", "revenue_share")
        .orderBy("orderstatus")
    }),

    "q_tablecalc_running" -> ((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.order_date__month")),
      ("runningTotal", "revenue", "running_revenue", "order_date__month")) {
      df => TableCalcs.runningTotal(df, "revenue", Seq("order_date__month"),
        "running_revenue").orderBy("order_date__month")
    }),

    "q_tablecalc_rank" -> ((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.orderpriority")),
      ("rankBy", "revenue", "revenue_rank", "orderpriority", "asLong")) { df =>
      asLong(TableCalcs.rankBy(df, "revenue", "revenue_rank")
        .orderBy("orderpriority"), "revenue_rank")
    }),

    "q_tablecalc_moving_avg" -> ((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.order_date__month")),
      ("movingAverage", "revenue", 3, "revenue_ma3", "order_date__month",
        "round4")) { df =>
      round4(TableCalcs.movingAverage(df, "revenue", Seq("order_date__month"),
        3, "revenue_ma3").orderBy("order_date__month"), "revenue_ma3")
    }),

    "q_tablecalc_prev" -> ((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.order_date__month")),
      ("percentOfPrevious", "revenue", "revenue_mom_pct", "order_date__month",
        "round4")) { df =>
      round4(TableCalcs.percentOfPrevious(df, "revenue",
        Seq("order_date__month"), "revenue_mom_pct")
        .orderBy("order_date__month"), "revenue_mom_pct")
    }),

    "q_tablecalc_coltotal" -> ((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.orderstatus", "orders.orderpriority")),
      ("percentOfColumnTotal", "revenue", "orderstatus",
        "revenue_status_share", "round4")) { df =>
      round4(TableCalcs.percentOfColumnTotal(df, "revenue", Seq("orderstatus"),
        "revenue_status_share").orderBy("orderstatus", "orderpriority"),
        "revenue_status_share")
    }),

    "q_tablecalc_percentile" -> ((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.orderpriority")),
      ("percentileOf", "revenue", "revenue_pctile", "orderpriority",
        "round4")) { df =>
      round4(TableCalcs.percentileOf(df, "revenue", "revenue_pctile")
        .orderBy("orderpriority"), "revenue_pctile")
    }),

    // the reference's percentile TYPE: a constant interpolated quantile
    // (p90 revenue over the monthly series) on every row — distinct
    // from q_tablecalc_percentile's percent_rank helper
    "q_tablecalc_pctvalue" -> ((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.order_date__month")),
      ("percentileValue", "revenue", 0.9, "revenue_p90", "order_date__month",
        "round4")) { df =>
      round4(TableCalcs.percentileValue(df, "revenue", 0.9, "revenue_p90")
        .orderBy("order_date__month"), "revenue_p90")
    }),

    "q_tablecalc_rownum" -> ((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.order_date__month")),
      ("rowNumberBy", "order_date__month", "row_num", "asLong")) { df =>
      asLong(TableCalcs.rowNumberBy(df, Seq("order_date__month"), "row_num")
        .orderBy("order_date__month"), "row_num")
    }),

    "q_tablecalc_formula" -> ((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue", "orders.order_count"),
        dimensions = Seq("orders.orderstatus")),
      ("formula", "cast(revenue as double) / nullif(order_count, 0)",
        "avg_order_value", "orderstatus", "round4")) { df =>
      round4(TableCalcs.formula(df,
        "cast(revenue as double) / nullif(order_count, 0)", "avg_order_value")
        .orderBy("orderstatus"), "avg_order_value")
    }),

    // structured graph introspection (reference introspection.py
    // describe_graph): the UI-facing catalog document round-trips
    // through Spark's JSON reader and must describe every model with
    // its exact field counts — golden-pinned per model. _drop_none
    // parity: an empty relationships list omits the key entirely
    // (reads back null → rels_omitted pins which models omit it)
    "q_describe_graph" -> ((s, d) => {
      import s.implicits._
      val doc = graft.model.Introspection.describeGraph(
        TpchCatalog.build(d))
      asLong(s.read.json(Seq(doc).toDS)
        .select(explode(col("models")).as("m"))
        .select(col("m.name").as("model"), col("m.kind").as("kind"),
          size(col("m.dimensions")).as("n_dims"),
          size(col("m.metrics")).as("n_metrics"),
          coalesce(size(col("m.relationships")), lit(0)).as("n_rels"),
          col("m.relationships").isNull.as("rels_omitted"))
        .orderBy("model"), "n_dims", "n_metrics", "n_rels")
    }),

    // ---- §2.2 timezone localization / §2.6 dimension window / saved query ----
    "q_timezone" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.order_count"),
      dimensions = Seq("orders.order_date__month"),
      timezone = Some("America/New_York"),
      orderBy = Seq("order_date__month")))),

    "q_dim_window" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.event_count"),
      dimensions = Seq("events.event_type", "events.next_event_type"),
      orderBy = Seq("event_type", "next_event_type")))),

    "q_saved_query" -> ((s, d) =>
      tpch(s, d).planSaved("revenue_by_priority")),

    // explore contract: defaults fill the selection, the mandatory
    // orderstatus filter always applies (reference: consumption.py:100)
    "q_explore" -> ((s, d) =>
      tpch(s, d).planExplore("fulfilled_orders")),

    // ---- §2.12 semantic SQL front end ----
    "q_sqlfront" -> ((s, d) => {
      val cat = TpchCatalog.build(d)
      new graft.sqlfront.SqlFront(s, cat, GraftSession.generator(s, cat)).sql(
        """SELECT customer.mktsegment, orders.revenue, orders.order_count
          |FROM orders
          |WHERE orders.orderstatus = 'F'
          |ORDER BY mktsegment""".stripMargin)
    }),

    "q_sqlfront_having" -> ((s, d) => {
      val cat = TpchCatalog.build(d)
      new graft.sqlfront.SqlFront(s, cat, GraftSession.generator(s, cat)).sql(
        """SELECT orders.orderpriority, orders.revenue FROM orders
          |GROUP BY orders.orderpriority
          |HAVING orders.revenue > 70000000
          |ORDER BY orderpriority""".stripMargin)
    }),

    // WITH query: semantic CTE planned by the generator, plain-SQL outer
    // shell over the materialized view (reference: query_rewriter.py:917)
    "q_sqlfront_cte" -> ((s, d) => {
      val cat = TpchCatalog.build(d)
      new graft.sqlfront.SqlFront(s, cat, GraftSession.generator(s, cat)).sql(
        """WITH seg AS (
          |  SELECT orders.orderpriority, orders.revenue FROM orders
          |)
          |SELECT orderpriority, revenue FROM seg
          |WHERE revenue > 70000000
          |ORDER BY orderpriority""".stripMargin)
    }),

    // cross-model `metrics` virtual table (reference: query_rewriter.py:2616)
    "q_sqlfront_metrics" -> ((s, d) => {
      val cat = TpchCatalog.build(d)
      new graft.sqlfront.SqlFront(s, cat, GraftSession.generator(s, cat)).sql(
        "SELECT orders.revenue, revenue_per_item FROM metrics")
    }),

    // declared cross relationship (SURVEY §2 row 22): every region paired
    // with the whole nation table; the count-distinct metric is fan-out
    // safe by construction
    "q_cross_join" -> ((s, d) => {
      import graft.model._
      val region = Model("region_x",
        source = ModelSource.Parquet(s"$d/region.parquet"),
        primaryKey = Seq("r_regionkey"),
        dimensions = Seq(Dimension("name", sql = Some("r_name"))),
        metrics = Seq(Metric("region_count", agg = Some("count"))),
        relationships = Seq(Relationship("nation_x", "cross")))
      val nation = Model("nation_x",
        source = ModelSource.Parquet(s"$d/nation.parquet"),
        primaryKey = Seq("n_nationkey"),
        metrics = Seq(Metric("nation_count",
          agg = Some("count_distinct"), sql = Some("n_nationkey"))))
      val cat = graft.model.Catalog().add(nation, region)
      GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("nation_x.nation_count"),
        dimensions = Seq("region_x.name"),
        orderBy = Seq("name")))
    }),

    // UNION / EXCEPT branches through the SQL front end (§2 row 52):
    // each branch plans independently, set semantics dedup the result
    "q_set_ops" -> ((s, d) => {
      val cat = TpchCatalog.build(d)
      new graft.sqlfront.SqlFront(s, cat, GraftSession.generator(s, cat)).sql(
        """SELECT customer.mktsegment FROM customer
          |EXCEPT
          |SELECT customer.mktsegment FROM customer
          |WHERE customer.mktsegment = 'BUILDING'
          |UNION
          |SELECT customer.mktsegment FROM customer
          |WHERE customer.mktsegment = 'MACHINERY'""".stripMargin)
        .orderBy("mktsegment")
    }),

    // `extends` inheritance (§2 row 61): the child keeps the parent's
    // dimensions/metrics and adds a filtered metric of its own
    "q_inheritance" -> ((s, d) => {
      import graft.model._
      val parent = Model("orders_base",
        source = ModelSource.Parquet(s"$d/orders.parquet"),
        primaryKey = Seq("o_orderkey"),
        dimensions = Seq(Dimension("orderstatus", sql = Some("o_orderstatus"))),
        metrics = Seq(Metric("revenue", agg = Some("sum"),
          sql = Some("cast(o_totalprice as decimal(18,2))"))))
      val child = Model("orders_urgent", source = parent.source,
        extendsModel = Some("orders_base"),
        metrics = Seq(Metric("urgent_revenue", agg = Some("sum"),
          sql = Some("cast(o_totalprice as decimal(18,2))"),
          filters = Seq("o_orderpriority = '1-URGENT'"))))
      val cat = graft.model.Catalog().add(parent).add(child)
      GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("orders_urgent.revenue", "orders_urgent.urgent_revenue"),
        dimensions = Seq("orders_urgent.orderstatus"),
        orderBy = Seq("orderstatus")))
    }),

    // visibility denial (§2 row 17) as a checkable result: planning a
    // `public: false` dimension must raise — the row encodes that it did
    "q_visibility" -> ((s, d) => {
      import graft.model._
      val m = Model("orders_vis",
        source = ModelSource.Parquet(s"$d/orders.parquet"),
        primaryKey = Seq("o_orderkey"),
        dimensions = Seq(
          Dimension("orderstatus", sql = Some("o_orderstatus")),
          Dimension("internal_code", sql = Some("o_clerk"), public = false)),
        metrics = Seq(Metric("order_count", agg = Some("count"))))
      val g = GraftSession.generator(s, graft.model.Catalog().add(m))
      val denied =
        try {
          g.plan(SemanticQuery(
            metrics = Seq("orders_vis.order_count"),
            dimensions = Seq("orders_vis.internal_code"))).collect()
          0
        } catch { case _: Exception => 1 }
      // the visible plan's group count, counted by the returned Dataset
      // itself, so the query function runs no job
      g.plan(SemanticQuery(
          metrics = Seq("orders_vis.order_count"),
          dimensions = Seq("orders_vis.orderstatus")),
        ("visible_groups", denied)) { visible =>
        visible.agg(count(lit(1)).as("visible_groups"))
          .select(lit(denied).cast("int").as("denied"), col("visible_groups"))
      }
    }),

    // ---- §4.1 pre-aggregation routing ----
    "q_preagg_route" -> ((s, d) => {
      val cat = TpchCatalog.build(d)
      val store = new graft.preagg.PreAggStore(s, cat,
        s"${System.getProperty("java.io.tmpdir")}/graft_preagg_${math.abs(d.hashCode)}")
      store.materializeIfAbsent("orders", cat.model("orders").preAggregations.head)
      val g2 = GraftSession.generator(s, cat, Some(store))
      round4(g2.plan(SemanticQuery(
        metrics = Seq("orders.revenue", "orders.order_count", "orders.avg_order_value"),
        dimensions = Seq("orders.orderstatus", "orders.order_date__month"),
        filters = Seq("orders.orderpriority = '1-URGENT'"),
        orderBy = Seq("orderstatus", "order_date__month"))), "avg_order_value")
    }),

    // structured routing diagnostics (reference: core/query_plan.py):
    // one row per (candidate, check) for a query only the wider rollup
    // can serve — the fk rollup must fail its dimensions check by name
    "q_preagg_explain" -> ((s, d) => {
      import s.implicits._
      val cat = TpchCatalog.build(d)
      val store = new graft.preagg.PreAggStore(s, cat,
        s"${System.getProperty("java.io.tmpdir")}/graft_preagg_${math.abs(d.hashCode)}")
      // materialize BOTH rollups so the `materialized` check is
      // deterministic regardless of which battery query ran first
      cat.model("orders").preAggregations
        .foreach(store.materializeIfAbsent("orders", _))
      val ex = store.explainCandidates(SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.orderstatus", "orders.order_date__month")))
      ex.candidates.flatMap(c => c.checks.map(ch =>
        (c.name, c.matched, c.selected, ch.name, ch.passed)))
        .toDF("candidate", "matched", "selected", "check", "passed")
        .orderBy("candidate", "check")
    }),

    // ---- §2.13 external adapters: Cube ----
    // the reference's own cube fixture, bound to the TPC-H orders table
    // through a derived view (sql_table resolution is pluggable)
    "q_adapter_cube" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = _ =>
        graft.model.ModelSource.SqlView(
          s"""SELECT o_orderkey AS id, o_orderstatus AS status,
             |  o_orderdate AS created_at, o_custkey AS customer_id,
             |  cast(o_totalprice as decimal(18,2)) AS amount
             |FROM parquet.`$d/orders.parquet`""".stripMargin)
      val models = graft.adapters.CubeAdapter.loadFile(
        "/root/reference/tests/fixtures/cube/orders.yml", resolve)
      val cat = graft.model.Catalog().add(models.filter(_.name == "orders"): _*)
      round4(GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("orders.revenue", "orders.count", "orders.avg_order_value"),
        dimensions = Seq("orders.status"),
        orderBy = Seq("status"))), "avg_order_value")
    }),

    // join-key routing: the orders rollup stores o_custkey, so a query
    // grouped by nation (orders→customer→nation) still reads the rollup
    // and joins the small dimension models instead of scanning the fact
    "q_preagg_join" -> ((s, d) => {
      val cat = TpchCatalog.build(d)
      val store = new graft.preagg.PreAggStore(s, cat,
        s"${System.getProperty("java.io.tmpdir")}/graft_preagg_${math.abs(d.hashCode)}")
      store.materializeIfAbsent("orders",
        cat.model("orders").preAggregations.find(_.name == "daily_by_customer").get)
      val g2 = GraftSession.generator(s, cat, Some(store))
      g2.plan(SemanticQuery(
        metrics = Seq("orders.revenue", "orders.order_count"),
        dimensions = Seq("nation.name"),
        orderBy = Seq("name")))
    }),

    // second external adapter: the reference's hex orders fixture bound
    // to the TPC-H orders table through a derived view
    "q_adapter_hex" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = _ =>
        graft.model.ModelSource.SqlView(
          s"""SELECT o_orderkey AS id, o_custkey AS customer_id,
             |  cast(o_totalprice as decimal(18,2)) AS amount,
             |  o_orderstatus AS status, o_orderdate AS created_at
             |FROM parquet.`$d/orders.parquet`""".stripMargin)
      val orders = graft.adapters.HexAdapter.loadFile(
        "/root/reference/tests/fixtures/hex/orders.yml", resolve)
      val cat = graft.model.Catalog().add(orders: _*)
      round4(GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("orders.revenue", "orders.order_count",
          "orders.completed_revenue", "orders.conversion_rate"),
        dimensions = Seq("orders.status"),
        orderBy = Seq("status"))), "conversion_rate")
    }),

    // third external adapter: the reference's superset orders dataset
    "q_adapter_superset" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = _ =>
        graft.model.ModelSource.SqlView(
          s"""SELECT o_orderkey AS id, o_orderstatus AS status,
             |  cast(o_totalprice as decimal(18,2)) AS amount,
             |  o_orderdate AS created_at
             |FROM parquet.`$d/orders.parquet`""".stripMargin)
      val m = graft.adapters.SupersetAdapter.loadFile(
        "/root/reference/tests/fixtures/superset/orders.yaml", resolve)
      val cat = graft.model.Catalog().add(m)
      round4(GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("orders.count", "orders.total_revenue",
          "orders.avg_order_value"),
        dimensions = Seq("orders.status"),
        orderBy = Seq("status"))), "avg_order_value")
    }),

    // sixth external adapter: the reference's Rill metrics view — raw SQL
    // aggregate expressions decomposed into native metrics (COUNT(*),
    // SUM, AVG, COUNT(CASE WHEN ...)); status recoded as for lookml
    "q_adapter_rill" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = _ =>
        graft.model.ModelSource.SqlView(
          s"""SELECT o_orderkey AS id, o_custkey AS customer_id,
             |  CASE WHEN o_orderstatus = 'F' THEN 'completed'
             |       ELSE 'pending' END AS status,
             |  cast(o_totalprice as decimal(18,2)) AS amount,
             |  o_orderdate AS created_at,
             |  'US' AS country, 'electronics' AS product_type
             |FROM parquet.`$d/orders.parquet`""".stripMargin)
      val imp = graft.adapters.RillAdapter.loadFile(
        "/root/reference/tests/fixtures/rill/orders.yaml", resolve)
      val cat = graft.model.Catalog().add(imp.models: _*)
      round4(GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("orders.total_orders", "orders.total_revenue",
          "orders.avg_order_value", "orders.completed_orders"),
        dimensions = Seq("orders.status"),
        orderBy = Seq("status"))), "avg_order_value")
    }),

    // fifth external adapter: the reference's LookML orders view — lkml
    // parsing, filtered measures (Looker filter expressions), and the
    // NULLIF ratio idiom lifted to a first-class ratio metric. TPC-H
    // status recodes to completed/pending so the filtered measure is
    // exercised on real rows.
    "q_adapter_lookml" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = _ =>
        graft.model.ModelSource.SqlView(
          s"""SELECT o_orderkey AS id, o_custkey AS customer_id,
             |  CASE WHEN o_orderstatus = 'F' THEN 'completed'
             |       ELSE 'pending' END AS status,
             |  cast(o_totalprice as decimal(18,2)) AS amount,
             |  o_orderdate AS created_at
             |FROM parquet.`$d/orders.parquet`""".stripMargin)
      val imp = graft.adapters.LookMLAdapter.loadFile(
        "/root/reference/tests/fixtures/lookml/orders.lkml", resolve)
      val cat = graft.model.Catalog().add(
        imp.models.filter(_.name == "orders"): _*)
      round4(GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("orders.count", "orders.revenue",
          "orders.completed_revenue", "orders.conversion_rate"),
        dimensions = Seq("orders.status"),
        orderBy = Seq("status"))), "conversion_rate")
    }),

    // fourth external adapter: the reference's dbt MetricFlow fixture —
    // entity-based joins (orders→customers via the "customer" entity) and
    // graph-level metrics (bare-name simple alias + measure-ref ratio)
    "q_adapter_metricflow" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = t =>
        graft.model.ModelSource.SqlView(
          if (t.endsWith("orders"))
            s"""SELECT o_orderkey AS order_id, o_custkey AS customer_id,
               |  o_orderdate AS created_at, o_orderstatus AS status,
               |  cast(o_totalprice as decimal(18,2)) AS order_amount
               |FROM parquet.`$d/orders.parquet`""".stripMargin
          else
            s"""SELECT c_custkey AS customer_id, c_mktsegment AS region,
               |  c_name AS tier
               |FROM parquet.`$d/customer.parquet`""".stripMargin)
      val imp = graft.adapters.MetricFlowAdapter.loadFile(
        "/root/reference/tests/fixtures/metricflow/semantic_models.yml", resolve)
      val cat = graft.adapters.MetricFlowAdapter.toCatalog(imp)
      round4(GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("orders.revenue", "orders.order_count",
          "average_order_value"),
        dimensions = Seq("customers.region"),
        orderBy = Seq("region"))), "average_order_value")
    }),

    // r17: percentile measures import as executable PERCENTILE_CONT /
    // PERCENTILE_DISC inverse-distribution aggregates (the reference
    // drops agg: percentile — this is a strict extension)
    "q_adapter_metricflow_pct" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = _ =>
        graft.model.ModelSource.SqlView(
          s"""SELECT o_orderkey AS order_id, o_orderstatus AS status,
             |  cast(o_totalprice as double) AS order_amount
             |FROM parquet.`$d/orders.parquet`""".stripMargin)
      val yaml =
        """semantic_models:
          |  - name: pct_orders
          |    model: ref('orders')
          |    entities:
          |      - name: order_id
          |        type: primary
          |    dimensions:
          |      - name: status
          |        type: categorical
          |    measures:
          |      - name: amount_p90
          |        expr: order_amount
          |        agg: percentile
          |        agg_params:
          |          percentile: 0.9
          |      - name: amount_med_disc
          |        expr: order_amount
          |        agg: percentile
          |        agg_params:
          |          percentile: 0.5
          |          use_discrete_percentile: true
          |""".stripMargin
      val imp = graft.adapters.MetricFlowAdapter.loadString(yaml, resolve)
      val cat = graft.adapters.MetricFlowAdapter.toCatalog(imp)
      round4(GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("pct_orders.amount_p90", "pct_orders.amount_med_disc"),
        dimensions = Seq("pct_orders.status"),
        orderBy = Seq("status"))), "amount_p90", "amount_med_disc")
    }),

    // seventh external adapter: the reference's Tableau orders.tds — XML
    // datasource parsing, aggregation attributes, calculated fields
    "q_adapter_tableau" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = _ =>
        graft.model.ModelSource.SqlView(
          s"""SELECT o_orderkey AS id, o_orderdate AS order_date,
             |  cast(o_totalprice as decimal(18,2)) AS amount
             |FROM parquet.`$d/orders.parquet`""".stripMargin)
      val m = graft.adapters.TableauAdapter.loadFile(
        "/root/reference/tests/fixtures/tableau/orders.tds", resolve).head
      val cat = graft.model.Catalog().add(m)
      GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("orders.amount", "orders.order_count"),
        dimensions = Seq("orders.order_date__month"),
        orderBy = Seq("order_date__month")))
    }),

    // eighth external adapter: the reference's Omni project — view YAML
    // maps, measure-level filters, and the relationships.yaml join list
    // (orders→customers many_to_one) exercised through a cross-model query
    "q_adapter_omni" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = t =>
        graft.model.ModelSource.SqlView(
          if (t.endsWith("orders"))
            s"""SELECT o_orderkey AS id, o_custkey AS customer_id,
               |  CASE WHEN o_orderstatus = 'F' THEN 'completed'
               |       ELSE 'pending' END AS status,
               |  cast(o_totalprice as decimal(18,2)) AS amount,
               |  o_orderdate AS created_at
               |FROM parquet.`$d/orders.parquet`""".stripMargin
          else
            s"""SELECT c_custkey AS id, c_name AS name,
               |  c_mktsegment AS country
               |FROM parquet.`$d/customer.parquet`""".stripMargin)
      val imp = graft.adapters.OmniAdapter.loadDirectory(
        "/root/reference/tests/fixtures/omni", resolve)
      val cat = graft.model.Catalog().add(imp.models: _*)
      round4(GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("orders.count", "orders.total_revenue",
          "orders.avg_order_value", "orders.completed_revenue"),
        dimensions = Seq("customers.country"),
        orderBy = Seq("country"))), "avg_order_value")
    }),

    // ninth external adapter: Snowflake Cortex Analyst semantic model —
    // base_table binding, measures with default_aggregation, a
    // table-scoped aggregate metric, and a many_to_one relationship
    "q_adapter_snowflake" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = t =>
        graft.model.ModelSource.SqlView(
          if (t == "orders")
            s"""SELECT o_orderkey, o_custkey, o_orderstatus,
               |  cast(o_totalprice as decimal(18,2)) AS price
               |FROM parquet.`$d/orders.parquet`""".stripMargin
          else
            s"""SELECT c_custkey, c_mktsegment
               |FROM parquet.`$d/customer.parquet`""".stripMargin)
      val imp = graft.adapters.SnowflakeAdapter.loadString(
        """name: tpch
          |tables:
          |  - name: sf_orders
          |    base_table: { database: d, schema: s, table: orders }
          |    primary_key: { columns: [o_orderkey] }
          |    dimensions:
          |      - name: status
          |        expr: o_orderstatus
          |        data_type: varchar
          |      - name: o_custkey
          |        data_type: number
          |    measures:
          |      - name: revenue
          |        expr: price
          |        default_aggregation: sum
          |    metrics:
          |      - name: order_count
          |        expr: COUNT(DISTINCT o_orderkey)
          |  - name: sf_customer
          |    base_table: { database: d, schema: s, table: customer }
          |    primary_key: { columns: [c_custkey] }
          |    dimensions:
          |      - name: segment
          |        expr: c_mktsegment
          |        data_type: varchar
          |relationships:
          |  - name: orders_to_customer
          |    left_table: sf_orders
          |    right_table: sf_customer
          |    relationship_columns:
          |      - left_column: o_custkey
          |        right_column: c_custkey
          |    relationship_type: many_to_one
          |""".stripMargin, resolve)
      val cat = graft.model.Catalog().add(imp.models: _*)
      GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("sf_orders.revenue", "sf_orders.order_count"),
        dimensions = Seq("sf_customer.segment"),
        orderBy = Seq("segment")))
    }),

    // tenth external adapter: OSI (Open Semantic Interchange) — dialect
    // expressions, dataset relationships, and graph-level aggregate
    // metrics attributed to their dataset
    "q_adapter_osi" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = t =>
        graft.model.ModelSource.SqlView(
          if (t == "orders")
            s"""SELECT o_orderkey AS order_id, o_custkey AS customer_id,
               |  cast(o_totalprice as decimal(18,2)) AS amount
               |FROM parquet.`$d/orders.parquet`""".stripMargin
          else
            s"""SELECT c_custkey AS customer_id, c_mktsegment AS segment
               |FROM parquet.`$d/customer.parquet`""".stripMargin)
      val imp = graft.adapters.OsiAdapter.loadString(
        """version: "0.2.0.dev0"
          |semantic_model:
          |  - name: tpch
          |    datasets:
          |      - name: osi_orders
          |        source: db.public.orders
          |        primary_key: [order_id]
          |        fields:
          |          - name: customer_id
          |            expression:
          |              dialects:
          |                - dialect: ANSI_SQL
          |                  expression: customer_id
          |      - name: osi_customers
          |        source: db.public.customers
          |        primary_key: [customer_id]
          |        fields:
          |          - name: segment
          |            expression:
          |              dialects:
          |                - dialect: ANSI_SQL
          |                  expression: segment
          |    relationships:
          |      - name: o2c
          |        from: osi_orders
          |        to: osi_customers
          |        from_columns: [customer_id]
          |        to_columns: [customer_id]
          |    metrics:
          |      - name: total_revenue
          |        expression:
          |          dialects:
          |            - dialect: ANSI_SQL
          |              expression: SUM(osi_orders.amount)
          |      - name: order_count
          |        expression:
          |          dialects:
          |            - dialect: ANSI_SQL
          |              expression: COUNT(DISTINCT osi_orders.order_id)
          |""".stripMargin, resolve)
      val cat = graft.model.Catalog().add(imp.models: _*)
      GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("osi_orders.total_revenue", "osi_orders.order_count"),
        dimensions = Seq("osi_customers.segment"),
        orderBy = Seq("segment")))
    }),

    // eleventh external adapter: AtScale SML — single-object YAML files,
    // level-attribute dimensions, calculation_method metrics, and a
    // model-object relationship resolved through the dimension's level
    "q_adapter_atscale" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = t =>
        graft.model.ModelSource.SqlView(
          if (t == "orders_t")
            s"""SELECT o_orderkey, o_custkey, o_orderpriority,
               |  cast(o_totalprice as decimal(18,2)) AS amount
               |FROM parquet.`$d/orders.parquet`""".stripMargin
          else
            s"""SELECT c_custkey, c_mktsegment
               |FROM parquet.`$d/customer.parquet`""".stripMargin)
      val imp = graft.adapters.AtScaleSmlAdapter.load(Seq(
        """unique_name: fact_orders
          |object_type: dataset
          |table: orders_t
          |columns:
          |  - name: o_orderkey
          |    data_type: int
          |  - name: amount
          |    data_type: decimal(18,2)
          |""".stripMargin,
        """unique_name: dim_cust
          |object_type: dataset
          |table: customer_t
          |columns:
          |  - name: c_custkey
          |    data_type: int
          |  - name: c_mktsegment
          |    data_type: string
          |""".stripMargin,
        """unique_name: customer_dimension
          |object_type: dimension
          |type: standard
          |hierarchies:
          |  - unique_name: h
          |    levels:
          |      - unique_name: cust_key
          |      - unique_name: segment
          |level_attributes:
          |  - unique_name: cust_key
          |    dataset: dim_cust
          |    name_column: c_custkey
          |    key_columns: [c_custkey]
          |  - unique_name: segment
          |    dataset: dim_cust
          |    name_column: c_mktsegment
          |    key_columns: [c_custkey]
          |""".stripMargin,
        """unique_name: total_amount
          |object_type: metric
          |calculation_method: sum
          |dataset: fact_orders
          |column: amount
          |""".stripMargin,
        """unique_name: order_count
          |object_type: metric
          |calculation_method: count non-null
          |dataset: fact_orders
          |column: o_orderkey
          |""".stripMargin,
        """unique_name: avg_order_value
          |object_type: metric_calc
          |expression: "[Measures].[total_amount] / [Measures].[order_count]"
          |""".stripMargin,
        """unique_name: sales_model
          |object_type: model
          |relationships:
          |  - unique_name: o2c
          |    from:
          |      dataset: fact_orders
          |      join_columns: [o_custkey]
          |    to:
          |      dimension: customer_dimension
          |      level: cust_key
          |""".stripMargin), resolve)
      val cat = graft.model.Catalog().add(imp.models: _*)
        .addGraphMetric(imp.graphMetrics: _*)
      round4(GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("fact_orders.total_amount", "fact_orders.order_count",
          "avg_order_value"),
        dimensions = Seq("dim_cust.segment"),
        orderBy = Seq("segment"))), "avg_order_value")
    }),

    // twelfth external adapter: GoodData declarative LDM — attributes,
    // facts, grain primary key, and a dataset reference join
    "q_adapter_gooddata" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = t =>
        graft.model.ModelSource.SqlView(
          if (t == "orders_t")
            s"""SELECT o_orderkey AS order_id, o_custkey AS customer_id,
               |  cast(o_totalprice as decimal(18,2)) AS amount
               |FROM parquet.`$d/orders.parquet`""".stripMargin
          else
            s"""SELECT c_custkey AS customer_id, c_mktsegment AS segment
               |FROM parquet.`$d/customer.parquet`""".stripMargin)
      val imp = graft.adapters.GoodDataAdapter.loadString(
        """{"ldm": {"datasets": [
          |  {"id": "gd_orders",
          |   "dataSourceTableId": {"id": "orders_t"},
          |   "grain": [{"id": "order_id", "type": "attribute"}],
          |   "attributes": [
          |     {"id": "order_id", "sourceColumn": "order_id",
          |      "sourceColumnDataType": "INT"},
          |     {"id": "customer_id", "sourceColumn": "customer_id",
          |      "sourceColumnDataType": "INT"}],
          |   "facts": [
          |     {"id": "amount", "sourceColumn": "amount",
          |      "sourceColumnDataType": "NUMERIC"}],
          |   "aggregatedFacts": [
          |     {"id": "max_amount", "sourceColumn": "amount",
          |      "sourceFactReference": {"operation": "MAX",
          |        "reference": {"id": "amount", "type": "fact"}}}],
          |   "references": [
          |     {"identifier": {"id": "gd_customers", "type": "dataset"},
          |      "sources": [{"column": "customer_id",
          |        "target": {"id": "customer_id", "type": "attribute"}}]}]},
          |  {"id": "gd_customers",
          |   "dataSourceTableId": {"id": "customer_t"},
          |   "grain": [{"id": "customer_id", "type": "attribute"}],
          |   "attributes": [
          |     {"id": "customer_id", "sourceColumn": "customer_id",
          |      "sourceColumnDataType": "INT"},
          |     {"id": "segment", "sourceColumn": "segment",
          |      "sourceColumnDataType": "STRING"}]}
          |]}}""".stripMargin, resolve)
      val cat = graft.model.Catalog().add(imp.models: _*)
      GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("gd_orders.amount", "gd_orders.max_amount"),
        dimensions = Seq("gd_customers.segment"),
        orderBy = Seq("segment")))
    }),

    // thirteenth external adapter: Power BI TMDL — indentation-parsed
    // tables, sourceColumn mapping, DAX measures (SUM/COUNTROWS/DIVIDE
    // with a measure-reference composition), and a relationship block
    "q_adapter_tmdl" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = t =>
        graft.model.ModelSource.SqlView(
          if (t == "Sales")
            s"""SELECT o_orderkey AS SaleID, o_custkey AS CustKey,
               |  cast(o_totalprice as decimal(18,2)) AS Amount
               |FROM parquet.`$d/orders.parquet`""".stripMargin
          else
            s"""SELECT c_custkey AS CustKey, c_mktsegment AS Segment
               |FROM parquet.`$d/customer.parquet`""".stripMargin)
      val imp = graft.adapters.TmdlAdapter.load(Seq(
        """table Sales
          |    column 'Sale ID'
          |        dataType: int64
          |        isKey
          |        sourceColumn: SaleID
          |    column CustKey
          |        dataType: int64
          |        sourceColumn: CustKey
          |    column Amount
          |        dataType: decimal
          |        sourceColumn: Amount
          |    measure total_sales = SUM(Sales[Amount])
          |    measure order_count = COUNTROWS(Sales)
          |    measure avg_sale = DIVIDE([total_sales], [order_count])
          |""".stripMargin,
        """table Customers
          |    column CustKey
          |        dataType: int64
          |        isKey
          |        sourceColumn: CustKey
          |    column Segment
          |        dataType: string
          |        sourceColumn: Segment
          |""".stripMargin,
        """relationship 'Sales-Customers'
          |    fromColumn: Sales[CustKey]
          |    toColumn: Customers[CustKey]
          |    fromCardinality: many
          |    toCardinality: one
          |""".stripMargin), resolve)
      val cat = graft.model.Catalog().add(imp.models: _*)
      round4(GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("Sales.total_sales", "Sales.order_count",
          "Sales.avg_sale"),
        dimensions = Seq("Customers.Segment"),
        orderBy = Seq("Segment"))), "avg_sale")
    }),

    // TMDL DAX time-intelligence depth: TOTALYTD → grain_to_date
    // cumulative, CALCULATE + SAMEPERIODLASTYEAR → prior-period
    // time comparison (crates/dax-parser's executable core)
    "q_adapter_tmdl_dax" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = _ =>
        graft.model.ModelSource.SqlView(
          s"""SELECT o_orderkey AS SaleID, o_orderdate AS OrderDate,
             |  cast(o_totalprice as decimal(18,2)) AS Amount
             |FROM parquet.`$d/orders.parquet`""".stripMargin)
      val imp = graft.adapters.TmdlAdapter.load(Seq(
        """table Sales
          |    column SaleID
          |        dataType: int64
          |        isKey
          |        sourceColumn: SaleID
          |    column OrderDate
          |        dataType: date
          |        sourceColumn: OrderDate
          |    column Amount
          |        dataType: decimal
          |        sourceColumn: Amount
          |    measure total_sales = SUM(Sales[Amount])
          |    measure sales_ytd = TOTALYTD(SUM(Sales[Amount]), Sales[OrderDate])
          |    measure sales_ly = CALCULATE([total_sales], SAMEPERIODLASTYEAR(Sales[OrderDate]))
          |    measure big_sales = CALCULATE(SUM(Sales[Amount]), FILTER(Sales, Sales[Amount] > 50000))
          |    measure sales_tier = SWITCH(TRUE(), [total_sales] > 50000000, "high", [total_sales] > 30000000, "mid", "low")
          |    measure safe_ratio = IF(ISBLANK([total_sales]), BLANK(), DIVIDE([big_sales], [total_sales]))
          |    measure sales_r3m = CALCULATE([total_sales], DATESINPERIOD(Sales[OrderDate], MAX(Sales[OrderDate]), -3, MONTH))
          |    measure sales_rank = RANKX(ALL(Sales), [total_sales])
          |    measure weighted_sales = SUMX(Sales, Sales[Amount] * 2)
          |""".stripMargin), resolve)
      val cat = graft.model.Catalog().add(imp.models: _*)
      round4(GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("Sales.total_sales", "Sales.sales_ytd",
          "Sales.sales_ly", "Sales.big_sales", "Sales.sales_tier",
          "Sales.safe_ratio", "Sales.sales_r3m", "Sales.sales_rank",
          "Sales.weighted_sales"),
        dimensions = Seq("Sales.OrderDate__month"),
        orderBy = Seq("OrderDate__month"))), "safe_ratio")
    }),

    // fourteenth external adapter: ThoughtSpot model TML — flattened
    // join source, formula inlining, and the TML aggregation map
    "q_adapter_thoughtspot" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = t =>
        graft.model.ModelSource.SqlView(
          if (t == "orders")
            s"""SELECT o_orderkey AS id, o_custkey AS customer_id,
               |  cast(o_totalprice as decimal(18,2)) AS amount
               |FROM parquet.`$d/orders.parquet`""".stripMargin
          else
            s"""SELECT c_custkey AS id, c_mktsegment AS segment
               |FROM parquet.`$d/customer.parquet`""".stripMargin)
      val imp = graft.adapters.ThoughtSpotAdapter.loadString(
        """guid: "m1"
          |export_schema_version: "2"
          |model:
          |  name: ts_sales
          |  model_tables:
          |    - name: orders
          |      fqn: DB.PUBLIC.orders
          |      joins:
          |        - with: customers
          |          on: "[orders::customer_id] = [customers::id]"
          |          type: LEFT_OUTER
          |          cardinality: MANY_TO_ONE
          |    - name: customers
          |      fqn: DB.PUBLIC.customers
          |  formulas:
          |    - name: double_amount
          |      expr: "[orders::amount] * 2"
          |      id: da
          |  columns:
          |    - name: segment
          |      column_id: customers::segment
          |      properties:
          |        column_type: ATTRIBUTE
          |    - name: revenue
          |      column_id: orders::amount
          |      properties:
          |        column_type: MEASURE
          |        aggregation: SUM
          |    - name: order_count
          |      column_id: orders::id
          |      properties:
          |        column_type: MEASURE
          |        aggregation: COUNT_DISTINCT
          |    - name: double_revenue
          |      formula_id: da
          |      properties:
          |        column_type: MEASURE
          |        aggregation: SUM
          |""".stripMargin, resolve)
      val cat = graft.model.Catalog().add(imp.models: _*)
      GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("ts_sales.revenue", "ts_sales.order_count",
          "ts_sales.double_revenue"),
        dimensions = Seq("ts_sales.segment"),
        orderBy = Seq("segment")))
    }),

    // fifteenth external adapter: BSL (boring-semantic-layer) — ibis
    // deferred expressions, boolean aggregation, with-shorthand join
    "q_adapter_bsl" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = t =>
        graft.model.ModelSource.SqlView(
          if (t == "orders_t")
            s"""SELECT o_orderkey AS id, o_custkey AS customer_id,
               |  o_orderstatus AS status,
               |  cast(o_totalprice as decimal(18,2)) AS amount
               |FROM parquet.`$d/orders.parquet`""".stripMargin
          else
            s"""SELECT c_custkey AS id, c_mktsegment AS segment
               |FROM parquet.`$d/customer.parquet`""".stripMargin)
      val imp = graft.adapters.BslAdapter.loadString(
        """bsl_orders:
          |  table: orders_t
          |  primary_key: id
          |  dimensions:
          |    status: _.status
          |    customer_id: _.customer_id
          |  measures:
          |    order_count: _.count()
          |    revenue: _.amount.sum()
          |    final_count: (_.status == "F").sum()
          |  joins:
          |    customer:
          |      model: bsl_customers
          |      type: one
          |      with: _.customer_id
          |bsl_customers:
          |  table: customer_t
          |  primary_key: id
          |  dimensions:
          |    id: _.id
          |    segment: _.segment
          |""".stripMargin, resolve)
      val cat = graft.model.Catalog().add(imp.models: _*)
      GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("bsl_orders.revenue", "bsl_orders.order_count",
          "bsl_orders.final_count"),
        dimensions = Seq("bsl_customers.segment"),
        orderBy = Seq("segment")))
    }),

    // sixteenth external adapter: Holistics AML — brace DSL, @sql
    // definitions, dataset-activated relationship
    "q_adapter_holistics" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = t =>
        graft.model.ModelSource.SqlView(
          if (t == "orders_t")
            s"""SELECT o_orderkey AS id, o_custkey AS user_id,
               |  cast(o_totalprice as decimal(18,2)) AS amount
               |FROM parquet.`$d/orders.parquet`""".stripMargin
          else
            s"""SELECT c_custkey AS id, c_mktsegment AS segment
               |FROM parquet.`$d/customer.parquet`""".stripMargin)
      val imp = graft.adapters.HolisticsAdapter.load(Seq(
        """Model h_orders {
          |  type: 'table'
          |  table_name: 'orders_t'
          |  dimension id {
          |    type: 'number'
          |    primary_key: true
          |  }
          |  dimension user_id {
          |    type: 'number'
          |  }
          |  measure order_count {
          |    type: 'number'
          |    definition: @sql {{ id }};;
          |    aggregation_type: 'count'
          |  }
          |  measure revenue {
          |    type: 'number'
          |    definition: @sql {{ amount }};;
          |    aggregation_type: 'sum'
          |  }
          |  measure aov {
          |    type: 'number'
          |    definition: @sql {{ revenue }} / NULLIF({{ order_count }}, 0);;
          |    aggregation_type: 'custom'
          |  }
          |}
          |Model h_users {
          |  type: 'table'
          |  table_name: 'customer_t'
          |  dimension id {
          |    type: 'number'
          |    primary_key: true
          |  }
          |  dimension segment {
          |    type: 'text'
          |  }
          |}
          |Dataset d {
          |  models: [h_orders, h_users]
          |  relationships: [
          |    RelationshipConfig {
          |      active: true
          |      rel: Relationship {
          |        type: 'many_to_one'
          |        from: r(h_orders.user_id)
          |        to: r(h_users.id)
          |      }
          |    }
          |  ]
          |}
          |""".stripMargin), resolve)
      val cat = graft.model.Catalog().add(imp.models: _*)
      round4(GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("h_orders.revenue", "h_orders.order_count",
          "h_orders.aov"),
        dimensions = Seq("h_users.segment"),
        orderBy = Seq("segment"))), "aov")
    }),

    // seventeenth external adapter: Malloy — source blocks, filtered
    // count refinement, join_one ... with
    "q_adapter_malloy" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = t =>
        graft.model.ModelSource.SqlView(
          if (t == "orders")
            s"""SELECT o_orderkey AS order_id, o_custkey AS customer_id,
               |  o_orderstatus AS status,
               |  cast(o_totalprice as decimal(18,2)) AS amount
               |FROM parquet.`$d/orders.parquet`""".stripMargin
          else
            s"""SELECT c_custkey AS customer_id, c_mktsegment AS region
               |FROM parquet.`$d/customer.parquet`""".stripMargin)
      val imp = graft.adapters.MalloyAdapter.loadString(
        """source: m_orders is duckdb.table('orders.parquet') extend {
          |  primary_key: order_id
          |  dimension:
          |    status is status
          |    customer_id is customer_id
          |  measure:
          |    order_count is count()
          |    revenue is sum(amount)
          |    final_orders is count() { where: status = 'F' }
          |  join_one: m_customers with customer_id
          |}
          |source: m_customers is duckdb.table('customers.parquet') extend {
          |  primary_key: customer_id
          |  dimension:
          |    customer_id is customer_id
          |    region is region
          |}
          |""".stripMargin, resolve)
      val cat = graft.model.Catalog().add(imp.models: _*)
      GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("m_orders.revenue", "m_orders.order_count",
          "m_orders.final_orders"),
        dimensions = Seq("m_customers.region"),
        orderBy = Seq("region")))
    }),

    // eighteenth external adapter: Graphene .gsql — typed columns,
    // computed-dimension inlining, order-independent derived composition
    "q_adapter_graphene" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = t =>
        graft.model.ModelSource.SqlView(
          if (t == "g_orders")
            s"""SELECT o_orderkey AS order_id, o_custkey AS user_id,
               |  o_orderstatus AS status,
               |  cast(o_totalprice as decimal(18,2)) AS amount
               |FROM parquet.`$d/orders.parquet`""".stripMargin
          else
            s"""SELECT c_custkey AS id, c_mktsegment AS segment
               |FROM parquet.`$d/customer.parquet`""".stripMargin)
      val imp = graft.adapters.GrapheneAdapter.load(Seq(
        """table g_orders (
          |  order_id INT64
          |  user_id INT64
          |  status STRING
          |  amount FLOAT64
          |
          |  join one g_users on user_id = g_users.id
          |
          |  is_final: status = 'F'
          |  revenue: sum(amount)
          |  final_revenue: sum(case when is_final then amount else 0 end)
          |)
          |""".stripMargin,
        """table g_users (
          |  id INT64
          |  segment STRING
          |)
          |""".stripMargin), resolve)
      val cat = graft.model.Catalog().add(imp.models: _*)
      GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("g_orders.revenue", "g_orders.final_revenue"),
        dimensions = Seq("g_users.segment"),
        orderBy = Seq("segment")))
    }),

    // Semantic SQL DDL (SURVEY §2 row 60): the MODEL/DIMENSION/METRIC
    // statement form loads through SqlModelLoader and plans normally
    "q_sql_ddl" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = _ =>
        graft.model.ModelSource.SqlView(
          s"""SELECT o_orderkey, o_orderstatus, o_orderpriority,
             |  cast(o_totalprice as decimal(18,2)) AS amount
             |FROM parquet.`$d/orders.parquet`""".stripMargin)
      val models = graft.load.SqlModelLoader.parse(
        """MODEL (name ddl_orders, table orders, primary_key o_orderkey);
          |DIMENSION (name orderstatus, sql o_orderstatus);
          |DIMENSION (name priority, sql o_orderpriority);
          |METRIC (name revenue, agg sum, sql amount);
          |METRIC (name order_count, agg count);
          |METRIC (name urgent_revenue, agg sum, sql amount,
          |  filters "o_orderpriority = '1-URGENT'");
          |""".stripMargin, resolve)
      val cat = graft.model.Catalog().add(models: _*)
      GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("ddl_orders.revenue", "ddl_orders.order_count",
          "ddl_orders.urgent_revenue"),
        dimensions = Seq("ddl_orders.orderstatus"),
        orderBy = Seq("orderstatus")))
    }),

    // ---- oracle coverage for the formerly ScalaTest-only §2 rows ----

    // §2 row 1: table scan through a registered (temp) table name
    "q_table_scan" -> ((s, d) => {
      import graft.model._
      s.read.parquet(s"$d/orders.parquet").createOrReplaceTempView("tv_orders")
      val m = Model("tv_orders_model", source = ModelSource.Table("tv_orders"),
        primaryKey = Seq("o_orderkey"),
        dimensions = Seq(Dimension("orderstatus", sql = Some("o_orderstatus"))),
        metrics = Seq(
          Metric("revenue", agg = Some("sum"),
            sql = Some("cast(o_totalprice as decimal(18,2))")),
          Metric("order_count", agg = Some("count"))))
      GraftSession.generator(s, Catalog().add(m)).plan(SemanticQuery(
        metrics = Seq("tv_orders_model.revenue", "tv_orders_model.order_count"),
        dimensions = Seq("tv_orders_model.orderstatus"),
        orderBy = Seq("orderstatus")))
    }),

    // §2 row 2: derived-table (inline sql) scan as the model source
    "q_derived_table" -> ((s, d) => {
      import graft.model._
      val m = Model("big_orders", source = ModelSource.SqlView(
        s"SELECT * FROM parquet.`$d/orders.parquet` WHERE o_totalprice > 150000"),
        primaryKey = Seq("o_orderkey"),
        dimensions = Seq(Dimension("priority", sql = Some("o_orderpriority"))),
        metrics = Seq(
          Metric("revenue", agg = Some("sum"),
            sql = Some("cast(o_totalprice as decimal(18,2))")),
          Metric("order_count", agg = Some("count"))))
      GraftSession.generator(s, Catalog().add(m)).plan(SemanticQuery(
        metrics = Seq("big_orders.revenue", "big_orders.order_count"),
        dimensions = Seq("big_orders.priority"),
        orderBy = Seq("priority")))
    }),

    // §2 row 62: hierarchy drill — the queried dims come from the model's
    // drillDown/hierarchyPath helpers, not a hand-written list
    "q_hierarchy_drill" -> ((s, d) => {
      import graft.model._
      val m = Model("h_orders",
        source = ModelSource.Parquet("{dir}/orders.parquet"),
        primaryKey = Seq("o_orderkey"),
        dimensions = Seq(
          Dimension("order_year", sql = Some("year(o_orderdate)")),
          Dimension("order_month", sql = Some("month(o_orderdate)"),
            parent = Some("order_year"))),
        metrics = Seq(Metric("revenue", agg = Some("sum"),
          sql = Some("cast(o_totalprice as decimal(18,2))"))))
      val drilled = m.drillDown("order_year").getOrElse(
        throw new IllegalStateException("no drill-down from order_year"))
      val path = m.hierarchyPath(drilled) // root→leaf: year, month
      GraftSession.generator(s, Catalog(dataDir = d).add(m)).plan(SemanticQuery(
        metrics = Seq("h_orders.revenue"),
        dimensions = path.map("h_orders." + _),
        orderBy = path))
    }),

    // §2 row 65: governance metadata listing — lifecycle filtering of the
    // catalog's field inventory, result encoded as data for the oracle
    "q_governance" -> ((s, d) => {
      import graft.model._
      val m = Model("gv_orders",
        source = ModelSource.Parquet("{dir}/orders.parquet"),
        primaryKey = Seq("o_orderkey"),
        governance = Some(Governance(owner = Some("finance-team"),
          status = Some("active"), certification = Some("certified"))),
        metrics = Seq(
          Metric("revenue", agg = Some("sum"), sql = Some("o_totalprice"),
            governance = Some(Governance(owner = Some("finance-team"),
              status = Some("active"), certification = Some("certified")))),
          Metric("legacy_revenue", agg = Some("sum"), sql = Some("o_totalprice"),
            governance = Some(Governance(status = Some("deprecated"),
              replacedBy = Some("revenue")))),
          Metric("draft_margin", agg = Some("sum"), sql = Some("o_totalprice"),
            governance = Some(Governance(status = Some("draft")))),
          Metric("internal_cost", agg = Some("sum"), sql = Some("o_totalprice"),
            governance = Some(Governance(status = Some("active"),
              visibility = "internal")))))
      val cat = Catalog(dataDir = d).add(m)
      import s.implicits._
      cat.models.values.toSeq.sortBy(_.name).flatMap { mm =>
        mm.metrics.map { met =>
          val g = met.governance
          (mm.name, met.name,
            g.flatMap(_.owner).getOrElse(""),
            g.flatMap(_.status).getOrElse("active"),
            g.flatMap(_.certification).getOrElse("uncertified"),
            g.map(_.visibility).getOrElse("public"))
        }
      }.toDF("model", "metric", "owner", "status", "certification", "visibility")
        .filter("status <> 'deprecated' AND visibility = 'public'")
        .orderBy("model", "metric")
    }),

    // Freshness policies (reference core/freshness.py): staleness encoded
    // as data — a fixed asOf makes the run reproducible; MAX(watermark)
    // probes are column-pruned single-aggregate scans, one union plan for
    // the whole catalog
    "q_freshness" -> ((s, d) => {
      import graft.model._
      val asOf = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
      val cat = Catalog(dataDir = d).add(
        Model("fr_orders",
          source = ModelSource.Parquet("{dir}/orders.parquet"),
          primaryKey = Seq("o_orderkey"),
          freshness = Some(Freshness(watermark = Some("o_orderdate"),
            ttlSeconds = Some(365L * 86400 * 30)))), // ~30y: orders end 2001 → fresh
        Model("fr_events",
          source = ModelSource.Parquet("{dir}/events.parquet"),
          primaryKey = Seq("event_id"),
          dimensions = Seq(Dimension("ts", DimType.Time,
            sql = Some("cast(ts as timestamp)"))),
          freshness = Some(Freshness(watermark = Some("ts"),
            ttlSeconds = Some(3600L))))) // 1h TTL vs ~1d age → stale
      graft.gen.FreshnessCheck.checkAll(s, cat, asOf)
        .orderBy("name")
    }),

    // §2 row 5: incremental pre-agg refresh converges to the full rollup —
    // build from pre-1997 data only, then refresh at the 1997-01-01
    // watermark against the full source; the routed query must equal the
    // full-data aggregate
    "q_incremental_refresh" -> ((s, d) => {
      val cat = TpchCatalog.build(d)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_increfresh_${math.abs(d.hashCode)}"
      val pa = cat.model("orders").preAggregations.head // daily, month parts
      // the STALE store (pre-1997 data only) is the fixture, built once
      // per JVM; the measured operation is the incremental refresh
      // itself, which is idempotent — it dynamic-overwrites every
      // partition at/after the watermark−lookback from the full source,
      // so re-running it on an already-refreshed store rewrites the same
      // partitions with the same content (the production steady state)
      buildOnce(base) {
        val stale = cat.add(cat.model("orders").copy(
          source = graft.model.ModelSource.SqlView(
            s"SELECT * FROM parquet.`$d/orders.parquet` WHERE o_orderdate < DATE'1997-01-01'")))
        new graft.preagg.PreAggStore(s, stale, base).materialize("orders", pa)
      }
      val store = new graft.preagg.PreAggStore(s, cat, base)
      store.refreshIncremental("orders", pa, "1997-01-01", lookback = 1)
      val g2 = GraftSession.generator(s, cat, Some(store))
      g2.plan(SemanticQuery(
        metrics = Seq("orders.revenue", "orders.order_count"),
        dimensions = Seq("orders.orderstatus", "orders.order_date__month"),
        orderBy = Seq("orderstatus", "order_date__month")))
    }),

    // §2 row 6: data-file bootstrap round-trip — introspected models
    // (auto dimensions, row_count + numeric sums) answer real queries
    "q_bootstrap" -> ((s, d) => round4(
      GraftSession.generator(s, graft.load.Bootstrap.fromParquetDir(s, d)).plan(
        SemanticQuery(
          metrics = Seq("customer.row_count", "customer.total_c_acctbal"),
          dimensions = Seq("customer.c_mktsegment"),
          orderBy = Seq("c_mktsegment"))), "total_c_acctbal")),

    // §2 rows 73/31: native YAML loader + agg auto-extraction — a metric
    // written as `sql: SUM(amount)` plans identically to `agg: sum`
    "q_yaml_load" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = _ =>
        graft.model.ModelSource.SqlView(
          s"""SELECT o_orderkey, o_orderstatus,
             |  cast(o_totalprice as decimal(18,2)) AS amount
             |FROM parquet.`$d/orders.parquet`""".stripMargin)
      val pkg = graft.load.YamlLoader.loadPackageString(
        """version: 1
          |models:
          |  - name: yl_orders
          |    table: orders
          |    primary_key: o_orderkey
          |    dimensions:
          |      - name: orderstatus
          |        sql: o_orderstatus
          |    metrics:
          |      - name: revenue
          |        sql: SUM(amount)
          |      - name: order_count
          |        agg: count
          |""".stripMargin, resolve)
      val cat = graft.model.Catalog().add(pkg.models: _*)
      GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("yl_orders.revenue", "yl_orders.order_count"),
        dimensions = Seq("yl_orders.orderstatus"),
        orderBy = Seq("orderstatus")))
    }),

    // Project-directory import with per-file format auto-detection
    // (reference loaders.py:169 load_from_directory): one call walks a
    // mixed tree — 9 formats incl. a nested LookML dir and an OSI/
    // JSON — sniffs each file, routes it to the right adapter, and
    // merges one catalog; a target/ generated-artifact decoy and
    // non-semantic files are skipped. Output: the per-file attribution
    // table the loader reports.
    "q_load_project" -> ((s, d) => {
      import s.implicits._
      val root =
        s"${System.getProperty("java.io.tmpdir")}/graft_project_fixture"
      buildOnce(root) {
        val rootF = new java.io.File(root)
        def wipe(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
          f.delete(); ()
        }
        wipe(rootF)
        def put(rel: String, c: String): Unit = {
          val f = new java.io.File(rootF, rel)
          f.getParentFile.mkdirs()
          java.nio.file.Files.write(f.toPath, c.getBytes("UTF-8")); ()
        }
        put("native_orders.yml",
          """version: 1
            |models:
            |  - name: lp_native
            |    table: orders
            |    primary_key: o_orderkey
            |    dimensions:
            |      - name: status
            |    metrics:
            |      - name: revenue
            |        agg: sum
            |        sql: amount
            |""".stripMargin)
        put("detail.sql",
          """-- native SQL DDL, comment-prefixed like real files
            |MODEL (
            |    name lp_sql,
            |    table orders,
            |    primary_key o_orderkey
            |);
            |DIMENSION (
            |    name status,
            |    type categorical,
            |    sql status
            |);
            |METRIC (
            |    name order_count,
            |    agg count
            |);
            |SEGMENT (
            |    name done,
            |    expression status = 'F'
            |);
            |""".stripMargin)
        put("measures.sql",
          """CREATE VIEW lp_measures AS
            |SELECT status,
            |  SUM(amount) AS MEASURE total_revenue,
            |  COUNT(*) AS MEASURE order_count
            |FROM orders
            |""".stripMargin)
        put("cube_sales.yml",
          """cubes:
            |  - name: lp_cube
            |    sql_table: orders
            |    measures:
            |      - name: count
            |        type: count
            |    dimensions:
            |      - name: status
            |        sql: status
            |        type: string
            |""".stripMargin)
        put("mf_models.yml",
          """semantic_models:
            |  - name: lp_mf
            |    model: ref('orders')
            |    measures:
            |      - name: order_count
            |        expr: 1
            |        agg: count
            |    dimensions:
            |      - name: status
            |        type: categorical
            |""".stripMargin)
        put("hex_model.yml",
          """id: lp_hex
            |base_sql_table: orders
            |dimensions:
            |  - id: status
            |    type: string
            |measures:
            |  - id: n
            |    func: count
            |""".stripMargin)
        put("rill_view.yaml",
          """type: metrics_view
            |table: orders
            |dimensions:
            |  - name: status
            |    column: status
            |measures:
            |  - name: total
            |    expression: count(*)
            |""".stripMargin)
        put("views/lp.lkml",
          """view: lp_look {
            |  sql_table_name: orders ;;
            |  dimension: status { sql: ${TABLE}.status ;; }
            |  measure: n { type: count }
            |}
            |""".stripMargin)
        val osi =
          """{"semantic_model": [{"name": "lp_osi_root", "datasets": [
            |  {"name": "lp_osi", "source": "orders",
            |   "primary_key": ["o_orderkey"],
            |   "dimensions": [{"name": "status"}],
            |   "metrics": [{"name": "n", "function": "count"}]}]}]}
            |""".stripMargin
        put("OSI/lp.json", osi)
        put("target/osi_document.json", osi) // dbt compile decoy
        put("README.md", "# not a semantic file\n")
      }
      val resolve: graft.load.YamlLoader.TableResolver = _ =>
        graft.model.ModelSource.SqlView(
          s"""SELECT o_orderkey, o_orderstatus AS status,
             |  cast(o_totalprice as decimal(18,2)) AS amount
             |FROM parquet.`$d/orders.parquet`""".stripMargin)
      val p = graft.load.Loaders.loadProject(root, resolve)
      val rows = (p.attributions.map(a =>
          (a.path, a.format, a.models.size.toLong)) ++
        p.skipped.map(sk => (sk.path, "skipped", 0L)))
        .sortBy(_._1)
      rows.toDF("path", "format", "n_models")
    }),

    // Composite agg auto-extraction: `sql: SUM(acct) / COUNT(*)` splits
    // into hidden single-aggregate metrics + a derived formula at load,
    // so BOTH components take the fan-out-safe (symmetric) route over the
    // one_to_many join — an opaque composite would sum the customer's
    // balance once per order and inflate the answer
    "q_composite_agg" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = {
        case "customer" => graft.model.ModelSource.SqlView(
          s"""SELECT c_custkey, cast(c_acctbal as decimal(18,2)) AS acct
             |FROM parquet.`$d/customer.parquet`""".stripMargin)
        case t => graft.model.ModelSource.Parquet(s"$d/$t.parquet")
      }
      val pkg = graft.load.YamlLoader.loadPackageString(
        """version: 1
          |models:
          |  - name: ylc_customer
          |    table: customer
          |    primary_key: c_custkey
          |    metrics:
          |      - name: bal_per_customer
          |        sql: SUM(acct) / COUNT(*)
          |    relationships:
          |      - name: ylc_orders
          |        type: one_to_many
          |        foreign_key: o_custkey
          |  - name: ylc_orders
          |    table: orders
          |    primary_key: o_orderkey
          |    dimensions:
          |      - name: orderstatus
          |        sql: o_orderstatus
          |""".stripMargin, resolve)
      val cat = graft.model.Catalog().add(pkg.models: _*)
      round4(GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("ylc_customer.bal_per_customer"),
        dimensions = Seq("ylc_orders.orderstatus"),
        orderBy = Seq("orderstatus"))), "bal_per_customer")
    }),

    // Agg auto-extraction parity (core/metric.py:68-226): `expr:` is an
    // accepted alias of `sql:`, and a FILTER (WHERE …) clause on the
    // aggregate extracts to a metric-level filter — both plan exactly
    // like the hand-split (agg, sql, filters) form
    "q_agg_extract" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = _ =>
        graft.model.ModelSource.SqlView(
          s"""SELECT o_orderkey, o_orderstatus, o_orderpriority,
             |  cast(o_totalprice as decimal(18,2)) AS amount
             |FROM parquet.`$d/orders.parquet`""".stripMargin)
      val pkg = graft.load.YamlLoader.loadPackageString(
        """version: 1
          |models:
          |  - name: ylx_orders
          |    table: orders
          |    primary_key: o_orderkey
          |    dimensions:
          |      - name: orderstatus
          |        sql: o_orderstatus
          |    metrics:
          |      - name: revenue
          |        expr: SUM(amount)
          |      - name: urgent_count
          |        sql: COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
          |""".stripMargin, resolve)
      val cat = graft.model.Catalog().add(pkg.models: _*)
      GraftSession.generator(s, cat).plan(SemanticQuery(
        metrics = Seq("ylx_orders.revenue", "ylx_orders.urgent_count"),
        dimensions = Seq("ylx_orders.orderstatus"),
        orderBy = Seq("orderstatus")))
    }),

    // §2 row 55: streaming pre-agg maintenance — the AvailableNow backlog
    // run over a staged copy of the source must converge to the batch
    // aggregate (idempotent per-batch deltas, re-aggregated on read)
    "q_streaming_rollup" -> ((s, d) => {
      import java.nio.file._
      val cat = TpchCatalog.build(d)
      val base = Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_stream_${math.abs(d.hashCode)}")
      def rmrf(p: Path): Unit = if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach((f: Path) => Files.delete(f))
      rmrf(base) // fresh checkpoint → deterministic backlog replay
      val src = base.resolve("src")
      Files.createDirectories(src)
      // the source table may be one parquet file (driver testdata) or a
      // directory of part files (the scale artifacts); stage whichever
      val srcTable = Paths.get(s"$d/orders.parquet")
      if (Files.isDirectory(srcTable)) {
        val it = Files.list(srcTable).iterator()
        while (it.hasNext) {
          val f = it.next()
          if (f.getFileName.toString.endsWith(".parquet"))
            Files.copy(f, src.resolve(f.getFileName.toString))
        }
      } else Files.copy(srcTable, src.resolve("orders.parquet"))
      val store = new graft.preagg.PreAggStore(s, cat,
        base.resolve("rollups").toString)
      val pa = cat.model("orders").preAggregations.head
      new graft.streaming.StreamingRollup(s, cat, store)
        .maintain("orders", pa, src.toString, base.resolve("ckpt").toString)
        .awaitTermination(180000)
      GraftSession.generator(s, cat, Some(store)).plan(SemanticQuery(
        metrics = Seq("orders.revenue", "orders.order_count"),
        dimensions = Seq("orders.orderstatus", "orders.order_date__month"),
        orderBy = Seq("orderstatus", "order_date__month")))
    }),

    // §2 rows 18/19: join-graph BFS — the unique shortest multi-hop path
    // emitted as data (orders → customer → nation → region; from lineitem
    // the graph would legitimately prefer the shorter supplier chain)
    "q_join_path" -> ((s, d) => {
      import s.implicits._
      val g = new graft.graph.SemanticGraph(TpchCatalog.build(d))
      g.path("orders", "region", Set("orders", "region")).zipWithIndex
        .map { case (h, i) =>
          (i + 1, h.fromModel, h.toModel,
            h.fromKeys.mkString(","), h.toKeys.mkString(","), h.fanOut)
        }
        .toDF("step", "from_model", "to_model", "from_key", "to_key", "fan_out")
        .orderBy("step")
    }),

    // §2 row 71: explain diagnostics — the planner's chosen route per
    // query shape, encoded as data
    "q_explain_route" -> ((s, d) => {
      import s.implicits._
      val g = tpch(s, d)
      Seq(
        ("simple_agg", g.route(SemanticQuery(
          metrics = Seq("orders.revenue"),
          dimensions = Seq("orders.orderstatus")))),
        ("fanout_symmetric", g.route(SemanticQuery(
          metrics = Seq("orders.revenue"),
          dimensions = Seq("lineitem.linestatus")))),
        ("cumulative", g.route(SemanticQuery(
          metrics = Seq("orders.cumulative_revenue"),
          dimensions = Seq("orders.order_date__month")))),
        ("multi_fact", g.route(SemanticQuery(
          metrics = Seq("orders.revenue", "lineitem.quantity"),
          dimensions = Seq("customer.mktsegment"))))
      ).toDF("query_shape", "route").orderBy("query_shape")
    }),

    // §2 row 68: pre-agg recommender — repeated shapes produce a rollup
    // candidate covering their union, emitted as data
    "q_recommender" -> ((s, d) => {
      import s.implicits._
      val rec = new graft.preagg.PreAggRecommender(TpchCatalog.build(d))
      rec.record(SemanticQuery(metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.orderstatus", "orders.order_date__day")))
      rec.record(SemanticQuery(
        metrics = Seq("orders.revenue", "orders.order_count"),
        dimensions = Seq("orders.orderpriority", "orders.order_date__month")))
      rec.record(SemanticQuery(metrics = Seq("orders.open_revenue"),
        dimensions = Seq("orders.orderstatus"))) // filtered → not recordable
      rec.recommend(minHits = 2).map { case (pa, hits) =>
        (pa.name, pa.measures.sorted.mkString(","),
          pa.dimensions.sorted.mkString(","),
          pa.timeDimension.getOrElse(""), pa.granularity.getOrElse(""), hits)
      }.toDF("name", "measures", "dimensions", "time_dimension",
        "granularity", "hits")
    }),

    // Yardstick AS MEASURE mode (SURVEY §2 row 59; reference
    // sql/query_rewriter.py:3186-4530): the view declares measures
    // inline in SQL; the query exercises AGGREGATE() expansion,
    // AT (ALL dim) context removal, and AT (SET) context transfer
    "q_yardstick" -> ((s, d) => {
      val resolve: graft.load.YamlLoader.TableResolver = _ =>
        graft.model.ModelSource.SqlView(
          s"""SELECT year(o_orderdate) AS oyear, o_orderpriority,
             |  cast(o_totalprice as decimal(18,2)) AS amount
             |FROM parquet.`$d/orders.parquet`""".stripMargin)
      val m = graft.adapters.YardstickAdapter.loadString(
        """CREATE VIEW orders_yv AS
          |SELECT oyear, o_orderpriority,
          |  SUM(amount) AS MEASURE revenue,
          |  COUNT(*) AS MEASURE order_count
          |FROM orders_base;""".stripMargin, resolve).head
      val cat = graft.model.Catalog().add(m)
      new graft.sqlfront.Yardstick(s, cat).sql(
        """SEMANTIC SELECT oyear, o_orderpriority,
          |  AGGREGATE(revenue) AS revenue,
          |  AGGREGATE(order_count) AS order_count,
          |  AGGREGATE(revenue) AT (ALL o_orderpriority) AS year_total,
          |  AGGREGATE(revenue) AT (SET oyear = oyear - 1) AS prior_year
          |FROM orders_yv
          |ORDER BY oyear, o_orderpriority""".stripMargin)
    }),

    // ---- §1.1 security ----
    "q_security" -> ((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders_secured.revenue", "orders_secured.order_count"),
      dimensions = Seq("orders_secured.orderstatus"),
      user = Some(Map("role" -> "analyst", "status" -> "F")),
      orderBy = Seq("orderstatus")))),

    // ---- pipeline ops: dedup ----
    // Bloom pre-gate: corpus members must probe maybe_dup (no false
    // negatives by construction); fresh probes route past the exact
    // path. The md5-derived hashes replay bit-for-bit in DuckDB, so the
    // oracle rebuilds the ENTIRE word table and re-derives every verdict
    "q_bloom_gate" -> ((s, d) => {
      val corpus = docs(s, d).filter(col("doc_id") < 400)
      val bloom = ops.BloomGate.build(corpus, "text",
        mBitsPerBucket = 1 << 12, kHashes = 3, nBuckets = 8)
      val batch = docs(s, d).filter(col("doc_id") < 10)
        .select(col("doc_id"), col("text"))
        .unionByName(docs(s, d).filter(col("doc_id") < 10)
          .select((col("doc_id") + 9000).as("doc_id"),
            concat(col("text"), lit(" fresh tail")).as("text")))
      ops.BloomGate.probe(bloom, batch, "doc_id", "text",
          mBitsPerBucket = 1 << 12, kHashes = 3, nBuckets = 8)
        .orderBy("doc_id")
    }),

    // the filter's occupancy dial (FP ≈ fill^k), replayed exactly
    "q_bloom_occupancy" -> ((s, d) => {
      val bloom = ops.BloomGate.build(docs(s, d).filter(col("doc_id") < 400),
        "text", mBitsPerBucket = 1 << 12, kHashes = 3, nBuckets = 8)
      ops.BloomGate.occupancy(bloom, 1 << 12, 8)
    }),

    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(docs(s, d), "doc_id", "text")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .orderBy("source")),

    // the routing receipt behind every collapse-routed pair-former:
    // the family-map shape is oracle-checkable SQL; the Spark-planner
    // columns (routed / input_bytes / gate_bytes) are spec-gated in
    // FamilyRouteSpec instead
    "q_route_receipt" -> ((s, d) =>
      Dedup.describeRoute(docs(s, d), "doc_id", "text", maxFamily = 2)
        .select("n_rows", "families", "max_family", "dup_rows",
          "overcap_families", "overcap_rows_dropped")),

    // the vector-content twin: the SAME receipt over an embedding
    // column (Similarity.describeRoute — cosineNearDupPairs/semDedup
    // ride the same gate). Exact copies of vec_id < 20 are planted at
    // +100000 so the family map has 20 two-member families; with
    // maxFamily = 1 those are the over-cap blast radius
    "q_route_receipt_vec" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val copies = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 100000)
      Similarity.describeRoute(emb.unionByName(copies), "vec_id",
          "embedding", maxFamily = 1)
        .select("n_rows", "families", "max_family", "dup_rows",
          "overcap_families", "overcap_rows_dropped")
    }),

    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minHashLSH(docs(s, d), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.4)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")),

    // the production collapse-first composition: plant exact copies
    // (gate data has none) so the collapse itself is under the oracle —
    // copies of docs < 30 at +200000 collapse onto their min-id
    // originals, so the pair set equals q_dedup_minhash's among
    // representatives while dups_* records the family sizes
    "q_dedup_minhash_collapsed" -> ((s, d) => {
      val base = docs(s, d)
      val copies = base.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 200000)
      Dedup.minHashLSHCollapsed(base.unionByName(copies), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.4)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    }),

    "q_dedup_simhash" -> ((s, d) =>
      asLong(Dedup.simHashPairs(docs(s, d), "doc_id", "text", maxDistance = 3)
        .orderBy("id_a", "id_b"), "hamming")),

    // image-content near-dup (round 15): PNG originals + their JPEG
    // re-saves (the classic crawl-corpus recompressed twin) must pair by
    // perceptual average-hash — and ONLY with their own twin (distinct
    // pattern images are ~32 hamming bits apart by construction). The
    // oracle derives the expected pair set from the planting rule; the
    // hamming value itself stays out of the gate (JPEG quantization is
    // codec-version-dependent, retrieval is the contract)
    "q_image_neardup" -> ((s, d) => {
      val base = docs(s, d).filter(col("doc_id") < 40).select(col("doc_id"))
      val orig = ops.Multimodal.syntheticPatternImage(base, "doc_id", "png")
      val twins = ops.Multimodal.syntheticPatternImage(base, "doc_id", "jpg",
        idOffset = 100000L)
      ops.Multimodal.imageNearDupPairs(orig.unionByName(twins),
          "media_id", "content")
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // collapse-first simhash twin (planted exact copies, as the other
    // collapsed gates): pairs among distinct texts with family sizes
    "q_dedup_simhash_collapsed" -> ((s, d) => {
      val base = docs(s, d)
      val copies = base.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 200000)
      asLong(Dedup.simHashPairsCollapsed(base.unionByName(copies),
          "doc_id", "text", maxDistance = 3)
        .orderBy("id_a", "id_b"), "hamming")
    }),

    "q_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardWithinBlocks(
        docs(s, d).filter(col("doc_id") < 200), "doc_id", "text", "source",
        n = 4, threshold = 0.25)
        .orderBy("block", "id_a", "id_b")),

    // connected components over the Jaccard pair graph: every chained
    // family of near-duplicates collapses to one cluster_id (the min
    // member id); the oracle recomputes the same closure with a
    // recursive CTE over the identical DuckDB pair list
    "q_dup_clusters" -> ((s, d) =>
      Dedup.duplicateClusters(
        Dedup.ngramJaccardWithinBlocks(
          docs(s, d).filter(col("doc_id") < 200), "doc_id", "text", "source",
          n = 4, threshold = 0.25))
        .orderBy("id")),

    // cluster-aware dedup applied end-to-end: keep each family's min-id
    // representative, pass untouched docs through, count survivors
    "q_dedup_apply" -> ((s, d) =>
      Dedup.dedupByClusters(
        docs(s, d).filter(col("doc_id") < 200), "doc_id",
        Dedup.ngramJaccardWithinBlocks(
          docs(s, d).filter(col("doc_id") < 200), "doc_id", "text", "source",
          n = 4, threshold = 0.25))
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .orderBy("source")),

    // the full collapse-first dedup pipeline end-to-end: collapse →
    // near-dup pairs among representatives → union exact-family star
    // edges → connected components → keep each cluster's min id. The
    // planted exact copies must ALL be dropped (their families' reps
    // survive or fall with the near-dup graph), at collapsed pair cost
    "q_dedup_apply_collapsed" -> ((s, d) => {
      val base = docs(s, d)
      val all = base.unionByName(base.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 200000))
      val pairs = Dedup.minHashLSHCollapsed(all, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.4)
        .select("id_a", "id_b")
        .unionByName(Dedup.exactFamilyEdges(all, "doc_id", "text"))
      Dedup.dedupByClusters(all, "doc_id", pairs)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .orderBy("source")
    }),

    // corpus-wide boilerplate line removal: a nav banner on every doc and
    // a copyright footer on every even doc are planted so the gate sees
    // real cross-document line repetition; unique body lines survive
    "q_line_dedup" -> ((s, d) =>
      Dedup.lineDedup(
        docs(s, d).filter(col("doc_id") < 60)
          .withColumn("t", concat(
            lit("NAVIGATION MENU HOME ABOUT CONTACT\n"), col("text"),
            when(col("doc_id") % 2 === 0,
              lit("\nCopyright Example Corp All Rights Reserved 2024"))
              .otherwise(lit("")))),
        "doc_id", "t", maxOccurrences = 2, minLineChars = 10)
        .select(col("doc_id"), col("clean_text"), col("n_lines"),
          col("n_dropped"))
        .orderBy("doc_id")),

    // incremental-ingest dedup: Bloom prefilter + exact confirm must
    // equal a plain anti-join — 40 docs re-enter under new ids (planted
    // dupes the filter must reject) alongside genuinely new docs
    "q_incremental_new" -> ((s, d) => {
      val corpus = docs(s, d).filter(col("doc_id") < 800)
      val batch = docs(s, d).filter(col("doc_id") >= 800)
        .unionByName(docs(s, d).filter(col("doc_id") < 40)
          .withColumn("doc_id", col("doc_id") + 10000))
      Dedup.incrementalNew(corpus, batch, "doc_id", "text",
        expectedItems = 10000L)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // per-domain corpus profile over planted URLs (7 rotating hosts +
    // one shared mirror) — the input to per-domain crawl caps
    "q_domain_profile" -> ((s, d) =>
      TextAnalysis.domainProfile(
        docs(s, d).filter(col("doc_id") < 200)
          .withColumn("t", concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" see https://site"),
                (col("doc_id") % 7).cast("string"),
                lit(".example.com/page/"), col("doc_id").cast("string"),
                lit(" and http://mirror.example.org/x ok")))
              .otherwise(lit("")))),
        "doc_id", "t")
        .orderBy("domain")),

    // PII redaction twin of q_pii_scan: same planted markers, same
    // regexes — redacted text and its length are oracle-exact
    "q_redact" -> ((s, d) =>
      docs(s, d).filter(col("doc_id") < 60)
        .withColumn("raw", concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" see https://example.org/d/"),
              col("doc_id").cast("string"), lit(" ok")))
            .otherwise(lit(""))))
        .select(col("doc_id"),
          TextAnalysis.redactPii(col("raw")).as("clean"),
          length(TextAnalysis.redactPii(col("raw"))).as("n_clean"))
        .orderBy("doc_id")),

    // domain blocklist filtering: two of the seven planted hosts are
    // blocked; docs mentioning them (and only those) must drop
    "q_domain_filter" -> ((s, d) => {
      import s.implicits._
      val withUrls = docs(s, d).filter(col("doc_id") < 200)
        .withColumn("t", concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" via https://site"),
              (col("doc_id") % 7).cast("string"),
              lit(".example.com/p/"), col("doc_id").cast("string")))
            .otherwise(lit(""))))
      val blocked = Seq("site1.example.com", "site4.example.com")
        .toDF("domain")
      TextAnalysis.filterBlockedDomains(withUrls, "doc_id", "t", blocked)
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
    }),

    // deterministic training-order shuffle: the md5 permutation is a
    // pure function of (seed, id), so the oracle recomputes every
    // position — the full permutation is gated, not just its size
    "q_shuffle" -> ((s, d) =>
      Sampling.deterministicShuffle(
          docs(s, d).filter(col("doc_id") < 80), "doc_id", seed = "epoch0")
        .select(col("doc_id"), col("train_pos"))
        .orderBy("doc_id")),

    // the two halves composed: a semantic-layer model OVER the corpus
    // pipeline's quality signals — metrics/dimensions planned by the
    // Generator against a derived view computing the quality score
    "q_semantic_docs" -> ((s, d) => {
      import graft.model._
      val view =
        s"""SELECT doc_id, lang, source,
           |  size(split(lower(text), '\\\\s+')) AS n_tokens,
           |  least(1.0, cast(size(split(lower(text), '\\\\s+')) as double) / 20) * 0.4
           |    + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[\\\\p{Punct}]', '')) as double) / length(text)) * 5)) * 0.2
           |    + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[0-9]', '')) as double) / length(text)) * 5)) * 0.2
           |    + least(1.0, (cast(size(array_intersect(array_distinct(split(lower(text), '\\\\s+')), array('the','and','of','to','a','in','is','it','you','that'))) as double) / size(array_distinct(split(lower(text), '\\\\s+')))) * 4) * 0.2
           |    AS quality_score
           |FROM parquet.`$d/documents.parquet`""".stripMargin
      val m = Model("docs", source = ModelSource.SqlView(view),
        primaryKey = Seq("doc_id"),
        dimensions = Seq(
          Dimension("lang"), Dimension("source"),
          Dimension("quality_score", DimType.Numeric)),
        metrics = Seq(
          Metric("doc_count", agg = Some("count")),
          Metric("total_tokens", agg = Some("sum"), sql = Some("n_tokens")),
          Metric("avg_quality", agg = Some("avg"), sql = Some("quality_score")),
          Metric("high_quality_docs", agg = Some("count"),
            filters = Seq("docs.quality_score >= 0.8"))))
      round4(GraftSession.generator(s, graft.model.Catalog().add(m)).plan(SemanticQuery(
        metrics = Seq("docs.doc_count", "docs.total_tokens",
          "docs.avg_quality", "docs.high_quality_docs"),
        dimensions = Seq("docs.lang"),
        orderBy = Seq("lang"))), "avg_quality")
    }),

    // character-level near-dups: blocked Levenshtein with the bounded
    // early-abandon variant; the twin recomputes every surviving pair's
    // exact distance, so the -1 sentinel handling is itself under test
    "q_edit_distance" -> ((s, d) =>
      asLong(Dedup.editDistancePairs(
          docs(s, d).filter(col("doc_id") < 150), "doc_id", "text",
          "source", maxDist = 40)
        .orderBy("id_a", "id_b"), "edit_distance")),

    // corpus snapshot diff: 100 removed, 100 added, 50 edited in place,
    // 350 untouched — hash-compared Spark-side, text-compared by the twin
    "q_corpus_diff" -> ((s, d) => {
      val v1 = docs(s, d).filter(col("doc_id") < 500)
      val v2 = docs(s, d).filter(col("doc_id") >= 100 && col("doc_id") < 600)
        .withColumn("text", when(col("doc_id").between(150, 199),
          concat(col("text"), lit(" edited in v2"))).otherwise(col("text")))
      graft.ops.CorpusDiff.summary(v1, v2, "doc_id", "text")
        .orderBy("status")
    }),

    // jsonl ingestion with corrupt-line quarantine: 50 docs round-trip
    // through json lines with a malformed line planted after every 6th —
    // good rows must reconcile exactly, corrupt lines must all quarantine
    "q_jsonl_ingest" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_${math.abs(d.hashCode)}"
      // fixture authoring (bounded 50-row collect + file write) runs
      // ONCE per JVM under buildOnce, so timed Bench passes contain no
      // collect at all — they measure the jsonl read + quarantine path
      buildOnce(tmp) {
        val lines = docs(s, d).filter(col("doc_id") < 50).orderBy("doc_id")
          .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
            col("n_chars"))).as("j"))
          .collect().map(_.getString(0))
        val all = lines.zipWithIndex.flatMap { case (l, i) =>
          if (i % 6 == 5) Seq(l, s"{corrupt json line $i") else Seq(l) }
        new java.io.File(tmp).mkdirs()
        val pw = new java.io.PrintWriter(s"$tmp/docs.jsonl", "UTF-8")
        try all.foreach(pw.println) finally pw.close()
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      val (good, quarantine) = graft.sources.JsonlSource.readDocuments(
        s, s"$tmp/docs.jsonl", schema)
      good.agg(count(lit(1)).as("n_good"), sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars")).as("sum_chars"))
        .crossJoin(broadcast(
          quarantine.agg(count(lit(1)).as("n_quarantined"))))
    }),

    // quality-score distribution: exact interpolated percentiles (both
    // engines sort-and-interpolate identically on the parity-validated
    // score) plus a within-2% verdict on the approx_percentile sketch —
    // same gate pattern as q_approx_distinct's HLL row: sketch drift
    // flips the boolean and turns the row red
    "q_quality_quantiles" -> ((s, d) => {
      val q = TextAnalysis.qualityFeatures(docs(s, d), "text")
        .select(col("quality_score").as("qs"))
      q.agg(
        count(lit(1)).as("n_docs"),
        round(expr("percentile(qs, 0.5)"), 4).as("p50"),
        round(expr("percentile(qs, 0.9)"), 4).as("p90"),
        round(expr("percentile(qs, 0.99)"), 4).as("p99"),
        (abs(expr("approx_percentile(qs, 0.5, 1000)")
            - expr("percentile(qs, 0.5)"))
          <= lit(0.02) * abs(expr("percentile(qs, 0.5)")))
          .as("sketch_p50_ok"))
    }),

    // one-row corpus triage report: a single full-pass aggregation (dup
    // pressure via hashed distinct, token mass, language mix, PII) plus
    // the modal-language rollup
    "q_corpus_report" -> ((s, d) =>
      graft.ops.CorpusReport.summarize(docs(s, d), "doc_id", "text", "lang")
        .select(col("n_docs"), col("n_distinct_texts"),
          col("exact_dup_ratio"), col("total_ws_tokens"), col("avg_chars"),
          col("n_langs"), col("n_pii_docs"), col("top_lang"),
          col("top_lang_docs"))),

    // TF-IDF keyword extraction: tf/df ride one (doc, token) aggregation,
    // smoothed idf, per-doc rank window — ties break on the token so the
    // top-5 cut is oracle-stable
    "q_tfidf" -> ((s, d) =>
      asLong(TextAnalysis.tfidfTopTerms(
          docs(s, d).filter(col("doc_id") < 30), "doc_id", "text", 5)
        .withColumn("tfidf", round(col("tfidf"), 6))
        .orderBy("doc_id", "term_rank"), "term_rank", "tf", "doc_freq")),

    // BM25 keyword top-k: literal-term scoring entirely map-side (no
    // corpus shuffle — one stats row broadcast + TakeOrderedAndProject);
    // the oracle replays the full Okapi formula
    "q_bm25" -> ((s, d) =>
      asLong(TextAnalysis.bm25TopK(docs(s, d), "doc_id", "text",
          Seq("spark", "vector", "customer"), k = 10)
        .withColumn("bm25", round(col("bm25"), 6))
        .orderBy(col("bm25").desc, col("doc_id")), "doc_len")),

    // the persisted inverted-index route to the SAME answer: build the
    // bucket-partitioned postings, query via static partition pruning
    // (1 of 32 bucket dirs read per term) — operational round-trip, the
    // text twin of the IVF index; oracle = the full-scan BM25 formula
    "q_bm25_index" -> ((s, d) => {
      val path = s"/tmp/graft_text_index_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      buildOnce(path) {
        TextIndex.build(docs(s, d), "doc_id", "text", path, nBuckets = 32) }
      TextIndex.bm25TopK(s, path, Seq("spark", "vector", "customer"),
          k = 10)
        .withColumn("bm25", round(col("bm25"), 6))
        .orderBy(col("bm25").desc, col("doc_id"))
    }),

    // substring-level dedup: 8-token sliding windows shared by >= 2
    // documents (boilerplate spans inside otherwise-distinct docs); the
    // planted near-dup families make the gate non-vacuous (1000+ shared
    // windows at sf0.01)
    "q_window_dedup" -> ((s, d) =>
      Dedup.duplicateWindows(docs(s, d), "doc_id", "text",
          n = 8, minDocs = 2)
        .orderBy(col("n_docs").desc, col("window"))
        .limit(25)),

    // collapse-first twin: planted exact copies (gate data has none)
    // must be weighted by family size, yielding the same output the
    // uncollapsed operator computes on the raw frame — the DuckDB
    // oracle replays the raw-frame semantics directly
    "q_window_dedup_collapsed" -> ((s, d) => {
      val base = docs(s, d)
      val aug = base.select(col("doc_id"), col("text")).unionByName(
        base.filter(col("doc_id") < 40)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      Dedup.duplicateWindowsCollapsed(aug, "doc_id", "text",
          n = 8, minDocs = 2)
        .orderBy(col("n_docs").desc, col("window"))
        .limit(25)
    }),

    // distributed BPE merge learning over the word-frequency table (the
    // corpus is never re-scanned after the word count); the learned merge
    // sequence is deterministic (count desc, pair asc) and golden-pinned
    "q_bpe_merges" -> ((s, d) =>
      Bpe.learnMerges(docs(s, d).filter(col("doc_id") < 300), "text", 12)
        .orderBy("merge_rank")),

    // the learned merge chain applied to fresh text: per-doc BPE token
    // counts (n_words is independently oracle-checkable; n_bpe_tokens is
    // pinned — DuckDB cannot replay the iterative learn)
    "q_bpe_encode" -> ((s, d) => {
      val merges = Bpe.learnMerges(
          docs(s, d).filter(col("doc_id") < 300), "text", 12)
        .orderBy("merge_rank").collect()
        .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
      Bpe.encodeTokenCount(docs(s, d).filter(col("doc_id") < 30),
        "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // near-dup decontamination across corpora: 20 benchmark docs re-enter
    // training with a one-token suffix — exact matching misses them, the
    // cross-corpus LSH pass must report every one
    "q_decontaminate" -> ((s, d) => {
      val corpus = docs(s, d).filter(col("doc_id") < 800)
      val probe = docs(s, d).filter(col("doc_id") < 20)
        .withColumn("text",
          concat(col("text"), lit(" benchmark answer key token")))
      asLong(Dedup.crossCorpusNearDups(corpus, probe, "doc_id", "text")
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("probe_id", "corpus_id"), "corpus_id", "probe_id")
    }),

    // Bloom-gated decontamination: identical verdicts to q_decontaminate
    // (the gate has no false negatives — a shared shingle always hits),
    // with the shingle/minhash machinery running only over the suspects.
    // The oracle pins the SAME rows as q_decontaminate: a gate that
    // drops a true pair fails the hash
    "q_decontaminate_gated" -> ((s, d) => {
      val corpus = docs(s, d).filter(col("doc_id") < 800)
      val probe = docs(s, d).filter(col("doc_id") < 20)
        .withColumn("text",
          concat(col("text"), lit(" benchmark answer key token")))
      asLong(Dedup.decontaminateGated(corpus, probe, "doc_id", "text")
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("probe_id", "corpus_id"), "corpus_id", "probe_id")
    }),

    // leakage-safe split: exact-dup groups co-assigned to one split
    // (per-doc hashing would strand copies across train/test); the
    // spanning-group count is computed from the assignment itself and
    // must be zero, and the oracle replays group ids + md5 assignment
    "q_leakage_split" -> ((s, d) => {
      val a = Sampling.leakageSafeSplit(docs(s, d), "doc_id", "text",
        Seq("train" -> 800, "val" -> 100, "test" -> 100))
      val spanning = a.groupBy(col("group_id"))
        .agg(countDistinct(col("split")).as("__ns"))
        .agg(sum(when(col("__ns") > 1, 1L).otherwise(0L))
          .as("n_spanning_groups"))
      a.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("group_id")).as("n_groups"))
        .crossJoin(broadcast(spanning))
        .orderBy("split")
    }),

    // token-budget mixture: per-language sampling until a character
    // budget is met (mix recipes are written in tokens per source, not
    // doc counts); unbudgeted strata drop, the last doc overshoots
    "q_token_budget" -> ((s, d) =>
      Sampling.tokenBudgetSample(docs(s, d), "lang", "doc_id", "n_chars",
          Seq("en" -> 20000L, "de" -> 8000L))
        .select(col("lang"), col("doc_id"), col("n_chars"),
          col("stratum_tokens"))
        .orderBy("lang", "stratum_tokens")),

    // graded contamination: per probe doc, the fraction of its 8-token
    // windows that occur anywhere in the training corpus — planted
    // full copy (1.0), half copy (~0.5), and clean synthetic (0.0)
    // probes pin the scale; family near-dups land in between
    "q_ngram_overlap" -> ((s, d) => {
      val ref = docs(s, d).filter(col("doc_id") < 400)
      val probe = docs(s, d).filter(col("doc_id") >= 430 && col("doc_id") < 440)
        .select(col("doc_id"), col("text"))
        .unionByName(docs(s, d).filter(col("doc_id") === 0)
          .select(lit(9000L).as("doc_id"), col("text")))
        .unionByName(docs(s, d).filter(col("doc_id") === 1)
          .select(lit(9001L).as("doc_id"),
            concat_ws(" ",
              expr("concat_ws(' ', slice(split(lower(text), '\\\\s+'), 1, 20))"),
              lit((1 to 20).map(i => s"novelglyph$i").mkString(" ")))
              .as("text")))
      asLong(Dedup.ngramOverlap(ref, probe, "doc_id", "text", n = 8)
        .withColumn("overlap_pct", round(col("overlap_pct"), 6))
        .orderBy("doc_id"))
    }),

    // token-level contamination SPANS: the planted probe interleaves two
    // 20-token passages of an in-reference doc around a novel block, so
    // the merged intervals must be exactly [0,20) and [50,70); an
    // all-novel probe and raw probe docs ride along. The oracle replays
    // windows → hits → lag/gap merge with the identical rules
    "q_contam_spans" -> ((s, d) => {
      val ref = docs(s, d).filter(col("doc_id") < 300)
      val probe = contamProbe(s, d)
      Dedup.contaminationSpans(ref, probe, "doc_id", "text", n = 8)
        .orderBy("doc_id", "span_start")
    }),

    // surgical decontamination end-to-end: cut exactly the contaminated
    // spans, keep everything else — the planted probe must come back as
    // its novel middle block alone, the all-novel probe untouched
    "q_decontam_surgical" -> ((s, d) => {
      val ref = docs(s, d).filter(col("doc_id") < 300)
      val probe = contamProbe(s, d)
      val spans = Dedup.contaminationSpans(ref, probe, "doc_id", "text",
        n = 8)
      Dedup.removeSpans(probe, "doc_id", "text", spans)
        .select(col("doc_id"), col("clean_text"), col("n_removed"))
        .orderBy("doc_id")
    }),

    // deterministic sharded export with a verification manifest: shard
    // membership and the order-independent id checksum are pure
    // functions of (seed, md5(id)) — the oracle recomputes both
    "q_export_shards" -> ((s, d) =>
      Sampling.exportShards(docs(s, d), "doc_id",
          s"/tmp/graft_shards_${d.replaceAll("[^a-zA-Z0-9]", "_")}",
          nShards = 8, seed = "r9")
        .orderBy("shard")),

    // batched search-join BM25 over the persisted index: one plan for a
    // whole query workload, per-query top-k via a partitioned rank
    // window; the oracle replays each query against the full formula
    // append-then-search round trip on the persisted text index: the
    // appended doc must be immediately findable through the pruned scan
    // with exact stats-aware scoring (n=301, df=1) — golden-pinned like
    // q_ann_ivf_append; the build is part of the operation (no memo),
    // so every pass exercises build → append → query
    "q_bm25_append" -> ((s, d) => {
      import s.implicits._
      val path = s"/tmp/graft_text_append_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      TextIndex.build(docs(s, d).filter(col("doc_id") < 300),
        "doc_id", "text", path, nBuckets = 16)
      TextIndex.append(
        Seq((90001L, "appendglyph spark index maintenance words"))
          .toDF("doc_id", "text"),
        "doc_id", "text", path)
      asLong(TextIndex.bm25TopK(s, path, Seq("appendglyph"), k = 3)
        .withColumn("bm25", round(col("bm25"), 6)), "doc_id", "doc_len")
    }),

    "q_bm25_batch" -> ((s, d) => {
      import s.implicits._
      val path = s"/tmp/graft_text_index_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      buildOnce(path) {
        TextIndex.build(docs(s, d), "doc_id", "text", path, nBuckets = 32) }
      val queries = Seq((1L, "spark vector"), (2L, "customer order data"),
        (3L, "window agg join")).toDF("query_id", "qtext")
      asLong(TextIndex.bm25BatchTopK(s, path, queries, "query_id", "qtext",
          k = 5)
        .withColumn("bm25", round(col("bm25"), 6))
        .orderBy("query_id", "rank"), "rank", "doc_len")
    }),

    // staged curation funnel in one corpus pass: language gate, token
    // floor, PII gate (emails planted on every 7th doc), length cap —
    // each stage's in/dropped/out counts are ordered (a doc dropped at
    // stage i never reaches stage i+1), the oracle replays the same
    // cumulative flags
    "q_filter_funnel" -> ((s, d) =>
      asLong(graft.ops.CorpusReport.filterFunnel(
        docs(s, d).withColumn("raw", concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" reach admin"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")))),
        Seq(
          "lang_en" -> (col("lang") === "en"),
          "min_tokens" -> (TextAnalysis.wsTokenCount(col("text")) >= 40),
          "no_pii" -> (TextAnalysis.emailCount(col("raw")) === 0),
          "max_chars" -> (col("n_chars") <= 300)))
        .orderBy("stage_idx"), "stage_idx")),

    // persisted LSH dedup index: build once over the corpus, then dedup
    // an incoming batch against it reading only the batch's own key
    // partitions (DPP) — operational round-trip like q_bm25_index; the
    // 10 planted near-dups (one-token suffix on corpus docs 0..9) must
    // each match their source; est_jaccard is the deterministic
    // signature-agreement estimate, golden-pinned
    "q_dedup_index" -> ((s, d) => {
      val path = s"/tmp/graft_dedup_index_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      DedupIndex.build(docs(s, d).filter(col("doc_id") < 800),
        "doc_id", "text", path)
      val batch = docs(s, d).filter(col("doc_id") < 10)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" trailing probe token")).as("text"))
      DedupIndex.query(s, path, batch, "doc_id", "text")
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("batch_id", "corpus_id")
    }),

    // dedupe-and-append ingest loop over the persisted LSH index: two
    // planted corpus near-dups drop as corpus_dup, the in-batch twin
    // drops as batch_dup against its smaller-id sibling, the two fresh
    // docs append — and a follow-up probe proves the appended doc is
    // immediately findable through the updated index
    "q_dedup_ingest" -> ((s, d) => {
      import s.implicits._
      val base = s"/tmp/graft_dedup_ingest_base_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      val path = s"/tmp/graft_dedup_ingest_work_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      buildOnce(base) {
        DedupIndex.build(docs(s, d).filter(col("doc_id") < 800),
          "doc_id", "text", base) }
      workingCopy(s, base, path)
      val syn = (1 to 60).map(i => s"synthtok$i").mkString(" ")
      val synVar = ((1 to 30).map(i => s"synthtok$i") ++
        Seq("variantglyph") ++ (32 to 60).map(i => s"synthtok$i"))
        .mkString(" ")
      val fresh = (1 to 60).map(i => s"freshglyph$i").mkString(" ")
      val batch = docs(s, d).filter(col("doc_id") < 2)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" trailing ingest token")).as("text"))
        .unionByName(Seq((20002L, syn), (20003L, synVar), (20004L, fresh))
          .toDF("doc_id", "text"))
      val st = DedupIndex.ingest(s, path, batch, "doc_id", "text")
      val probe = Seq((30000L, syn + " probe tail glyph"))
        .toDF("doc_id", "text")
      val found = DedupIndex.query(s, path, probe, "doc_id", "text")
        .select(col("batch_id"), lit("probe_match").as("status"),
          col("corpus_id").as("ref_id"), col("est_jaccard"))
      st.unionByName(found)
        .withColumn("est_jaccard", round(col("est_jaccard"), 6))
        .orderBy("batch_id", "status", "ref_id")
    }),

    // SemDeDup-style semantic pruning: k-means cells (the IVF trainer)
    // scope the pairwise check; 20 planted twins must drop against
    // their smaller-id bases while every base stays kept
    "q_semdedup" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val twins = emb.filter(col("vec_id") < 20).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      Similarity.semDedup(aug, "vec_id", "embedding",
          threshold = 0.9, nCells = 8)
        .filter(col("id") < 20 || col("id") >= 100000)
        .select(col("id"), col("cell_capped"), col("kept"), col("dup_of"))
        .orderBy("id")
    }),

    // key-distribution skew profiler: the pre-shuffle diagnostic for
    // picking salting/broadcast strategy — per column one histogram
    // shuffle yields counts, hottest key + share, skew ratio vs the
    // mean key, and distribution entropy
    "q_key_profile" -> ((s, d) =>
      KeyProfile.keyProfile(s.read.parquet(s"$d/orders.parquet"),
        Seq("o_custkey", "o_orderpriority", "o_orderstatus"))
        .orderBy("column")),

    // explicit hot-key salted join: hot custkeys (> 15 orders) take the
    // (key, salt) path, cold keys join plainly — the union must be
    // row-identical to the plain join the oracle runs
    "q_skew_join" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
      val c = s.read.parquet(s"$d/customer.parquet")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      asLong(Skew.skewAwareJoin(o, c, "o_custkey",
          hotThreshold = 15, salts = 4)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
        .orderBy("c_mktsegment"), "n_orders")
    }),

    // IVF index ingest: append planted twins to the persisted cell
    // layout WITHOUT retraining; each query must retrieve its appended
    // twin through the shared partition-pruned probe path
    "q_ann_ivf_append" -> ((s, d) => {
      val base = s"/tmp/graft_ivf_append_base_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      val path = s"/tmp/graft_ivf_append_work_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      buildOnce(base) {
        IvfIndex.build(emb.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", base, nCells = 16) }
      workingCopy(s, base, path)
      val twins = emb.filter(col("vec_id") < 5).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      IvfIndex.append(twins, "vec_id", "embedding", path)
      val queries = emb.filter(col("vec_id") < 5)
      val ivf = IvfIndex.topK(s, path, queries, "vec_id", "embedding",
        "vec_id", k = 5, nprobe = 4)
      asLong(queries.select(col("vec_id").as("query_id"))
        .join(ivf.filter(col("neighbor_id") === col("query_id") + 100000)
          .select(col("query_id"), lit(true).as("twin_found")),
          Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("twin_found"), lit(false)).as("twin_found"))
        .orderBy("query_id"), "query_id")
    }),

    // contrastive hard negatives: top-k similar-but-below-the-dup-gate
    // neighbors; the planted twins (cosine ≈ 0.97) must be EXCLUDED,
    // the oracle replays the gate + ranking exactly
    "q_hard_negatives" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val twins = emb.filter(col("vec_id") < 5).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      asLong(Similarity.hardNegatives(aug, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", "vec_id", k = 5, dupThreshold = 0.9)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank"), "rank")
    }),

    // the PRODUCTION hard-negative path: same data and gate as
    // q_hard_negatives, but candidates come from the persisted IVF
    // index's pruned scan (over-fetch k'=20, then gate + re-rank to 5)
    // instead of a full-corpus cross product; golden-pinned (IVF recall
    // is deliberate — the exact brute-force twin q_hard_negatives stays
    // the verify primitive)
    "q_hard_negatives_ivf" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val twins = emb.filter(col("vec_id") < 5).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      val path = s"/tmp/graft_ivf_hn_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      buildOnce(path) {
        IvfIndex.build(aug, "vec_id", "embedding", path, nCells = 16) }
      asLong(IvfIndex.hardNegatives(s, path, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", "vec_id", k = 5, dupThreshold = 0.9,
        overfetch = 20, nprobe = 6)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank"), "rank")
    }),

    // curriculum ordering: equal-count difficulty bins over n_chars,
    // md5-shuffled within bin, global feed position — the oracle
    // replays rank, cut formula, and shuffle key
    "q_curriculum" -> ((s, d) =>
      Sampling.curriculum(docs(s, d), "doc_id", "n_chars",
          nBuckets = 4, seed = "r9")
        .orderBy("position")),

    // split-balance audit: per (split, stratum) the within-split share
    // vs the corpus share — the post-split distribution parity check;
    // every pair materializes even at zero count
    "q_split_balance" -> ((s, d) =>
      asLong(Sampling.splitBalance(
        Sampling.split(docs(s, d), "doc_id",
          Seq("train" -> 800, "val" -> 100, "test" -> 100)),
        "split", "lang")
        .orderBy("split", "stratum"), "n")),

    // winsorized clipping with exact interpolated percentiles — the
    // oracle replays quantile_cont (same linear-interpolation
    // definition as Spark's percentile)
    "q_winsorize" -> ((s, d) =>
      asLong(TextAnalysis.winsorize(
          docs(s, d).select(col("doc_id"), col("n_chars")),
          "n_chars", exact = true)
        .select(col("doc_id"), col("n_chars"),
          round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"),
          round(col("clipped"), 6).as("clipped"))
        .orderBy("doc_id"), "n_chars")),

    // hybrid retrieval: per query, fuse the lexical BM25 ranking with
    // the vector ANN ranking over the shared doc-id space via RRF —
    // rank-only fusion, no score calibration; golden-pinned (both input
    // rankings are individually SQL-gated by q_bm25 / q_ann_cosine)
    "q_rrf" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val termSets = Seq(1L -> Seq("spark", "vector"),
        2L -> Seq("customer", "order", "data"),
        3L -> Seq("window", "agg", "join"))
      // one tokenization + stats pass for all three queries (was one
      // corpus scan pair PER query — the exact battery's 13× ceiling
      // over its index twin); scores bit-identical to the per-query form
      val lexical = TextAnalysis.bm25TopKBatch(docs(s, d), "doc_id",
          "text", termSets, k = 20)
        .select(col("query_id"), col("doc_id"), col("bm25"))
      val lexRanked = lexical.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("bm25").desc, col("doc_id"))))
      val vec = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id").isin(1L, 2L, 3L)),
          "vec_id", "embedding", "vec_id", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      asLong(Fusion.rrf(Seq(lexRanked, vec), topK = 10)
        .orderBy("query_id", "fused_rank"), "fused_rank")
    }),

    // the PRODUCTION hybrid-retrieval path: both fused lists come from
    // persisted indexes — lexical from the bucket-pruned text index's
    // batched BM25, vector from the IVF index's pruned scan — instead
    // of full-corpus scans; golden-pinned (the exact twins q_rrf /
    // q_bm25 / q_ann_cosine stay the verify primitives)
    "q_rrf_ivf" -> ((s, d) => {
      import s.implicits._
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val tpath = s"/tmp/graft_text_index_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      buildOnce(tpath) {
        TextIndex.build(docs(s, d), "doc_id", "text", tpath, nBuckets = 32) }
      val ipath = s"/tmp/graft_ivf_rrf_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      buildOnce(ipath) {
        IvfIndex.build(emb.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", ipath, nCells = 16) }
      val qtext = Seq((1L, "spark vector"), (2L, "customer order data"),
        (3L, "window agg join")).toDF("query_id", "qtext")
      val lexical = TextIndex.bm25BatchTopK(s, tpath, qtext,
        "query_id", "qtext", k = 20)
      val vec = IvfIndex.topK(s, ipath,
          emb.filter(col("vec_id").isin(1L, 2L, 3L)),
          "vec_id", "embedding", "vec_id", k = 20, nprobe = 6)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      asLong(Fusion.rrf(Seq(lexical, vec), topK = 10)
        .orderBy("query_id", "fused_rank"), "fused_rank")
    }),

    // chunk→document embedding pooling: decimal-summed per-dimension
    // means, bit-stable across layouts; the comparator takes scalars,
    // so the pooled vectors are emitted as (group, dim, value) rows —
    // every element oracle-exact
    "q_mean_pool" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      asLong(Embeddings.meanPool(
          emb.withColumn("group_id", pmod(col("vec_id"), lit(25L))),
          "group_id", "embedding")
        .select(col("group_id"),
          posexplode(col("pooled")).as(Seq("dim", "value")))
        .orderBy("group_id", "dim"), "dim")
    }),

    // sharded HLL distinct: per-shard sketches union to the global
    // estimate (the mergeable-state pattern that replaces full-corpus
    // count-distinct rescans); the verdict gate is q_approx_distinct's
    "q_hll_shards" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
      Sketches.shardedDistinct(li, "l_partkey")
        .crossJoin(broadcast(
          li.agg(countDistinct(col("l_partkey")).as("distinct_parts"))))
        .select(col("n_shards"), col("distinct_parts"),
          (abs(col("approx_distinct") - col("distinct_parts")) <=
            col("distinct_parts") * 0.05).as("within_5pct"))
    }),

    // LEFT-join variant of the salted split: a customer gap (every 3rd
    // key removed) forces unmatched hot orders to null-fill exactly
    // once into the null segment row — the union must be row-identical
    // to the plain left join the oracle runs
    "q_skew_join_left" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
      val c = s.read.parquet(s"$d/customer.parquet")
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      asLong(Skew.skewAwareJoin(o, c, Seq("o_custkey"),
          hotThreshold = 15, salts = 4, joinType = "left")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
        .orderBy("c_mktsegment"), "n_orders")
    }),

    // FULL-outer variant: the customer gap leaves unmatched hot orders
    // (null segment) AND order-less customers (null order columns) —
    // both must survive the hot/cold split exactly once; n_orders
    // counts non-null order keys so the customer-only rows are visible
    "q_skew_join_full" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
      val c = s.read.parquet(s"$d/customer.parquet")
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      asLong(Skew.skewAwareJoin(o, c, Seq("o_custkey"),
          hotThreshold = 15, salts = 4, joinType = "full")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_orderkey")).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
        .orderBy("c_mktsegment"), "n_rows", "n_orders")
    }),

    // index-maintenance round trip: build → ingest tail → compact; the
    // compaction must shrink the file count while preserving every band
    // key (rows is the full post-ingest key count, golden-pinned)
    "q_dedup_compact" -> ((s, d) => {
      import s.implicits._
      val path = s"/tmp/graft_dedup_compact_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      DedupIndex.build(docs(s, d).filter(col("doc_id") < 400),
        "doc_id", "text", path)
      DedupIndex.ingest(s, path,
        (0 until 5).map(i => (70000L + i,
            (0 until 40).map(j => s"cpq${i}z$j").mkString(" ")))
          .toDF("doc_id", "text"),
        "doc_id", "text")
      DedupIndex.compact(s, path)
        .select((col("files_after") < col("files_before"))
          .as("files_reduced"), col("rows"))
    }),

    // corpus-level small-file compaction (CorpusFiles.compactBySize):
    // a drip-ingested layout (12-file base + 6 one-file appends, so
    // files_before is exact), compacted to 64 MB targets with a doc_id
    // range layout; returns the receipt. rows = base + appended. The
    // pristine fragmented layout is a memoized fixture ([[buildOnce]]);
    // compaction MUTATES it, so each pass clones it ([[workingCopy]])
    // — the measured operation is the compact-and-swap itself.
    "q_corpus_compact" -> ((s, d) => {
      val work = s"/tmp/graft_corpus_compact_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      workingCopy(s, flatCorpusFixtureOnce(s, d), s"$work/docs")
      ops.CorpusFiles.compactBySize(s, s"$work/docs", 64L << 20, Seq("doc_id"))
        .select(col("rows"), col("files_before"),
          (col("files_after") < col("files_before")).as("files_reduced"))
    }),

    // partition-scoped compaction (the 100 TB form: rewrite only the
    // ingest-fragmented partitions, never the settled ones). Hive layout
    // bucketed by doc_id%4; buckets 0/1 get three one-file appends each
    // (slices doc_id%100 = b+4k, congruent with the bucket since
    // 4 | 100), so exactly those two partitions exceed maxFiles and the
    // receipt (rows, 4 files -> 1) is fully derivable.
    "q_corpus_compact_parts" -> ((s, d) => {
      val work = s"/tmp/graft_corpus_parts_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      workingCopy(s, fragmentedCorpusFixtureOnce(s, d), s"$work/docs")
      ops.CorpusFiles.compactPartitionsBySize(s, s"$work/docs", 64L << 20)
        .orderBy("partition")
    }),

    // one-call maintenance policy (heal → profile → compact fragmented
    // only → re-profile): the receipt pins that ONLY the fragmented
    // buckets were rewritten and that they came out whole
    "q_corpus_maintain" -> ((s, d) => {
      val work = s"/tmp/graft_corpus_maint_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      workingCopy(s, fragmentedCorpusFixtureOnce(s, d), s"$work/docs")
      ops.CorpusFiles.maintain(s, s"$work/docs", 64L << 20)
    }),

    // listing-only layout profile (partitionProfile): the scheduler's
    // decision input for partition-scoped compaction — no data read, so
    // byte columns are dropped from the gate (not SQL-derivable) and the
    // derivable (files, fragmented) receipt is oracle-checked.
    // the profile is read-only, so it runs against the memoized
    // pristine fixture directly — no per-pass clone needed
    "q_corpus_layout" -> ((s, d) =>
      ops.CorpusFiles.partitionProfile(s, fragmentedCorpusFixtureOnce(s, d))
        .select(col("partition"), col("files"), col("fragmented"))
        .orderBy("partition")),

    // pre-flight self-join sizing on the customer key: exact output
    // cardinality and hot-key concentration from the histograms alone
    "q_join_card" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
      asLong(Skew.joinCardinality(o, o, "o_custkey", "o_custkey"),
        "n_join_keys")
    }),

    // embedding-distribution drift: the new snapshot doubles the mass
    // near the first 50 vectors' cells (planted twins); those cells
    // must show positive delta under the frozen baseline centroids
    "q_embedding_drift" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val twins = emb.filter(col("vec_id") < 50).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val newer = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 8)
      asLong(Embeddings.cellDrift(emb, newer, "vec_id", "embedding", cents)
        .orderBy("cell"), "cell")
    }),

    // content-defined chunking dedup: boundaries are a pure function of
    // local token content, so the shift-planted copy (one token
    // prepended to doc 0) re-aligns and still shares its chunks —
    // fixed-offset chunking would match nothing past the edit
    "q_cdc_chunks" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
        .unionByName(docs(s, d).filter(col("doc_id") === 0)
          .select(lit(1000000L).as("doc_id"),
            concat(lit("shiftglyph "), col("text")).as("text")))
      asLong(Dedup.sharedChunks(base, "doc_id", "text")
        .orderBy("chunk_hash"), "n_docs", "n_tokens")
    }),

    // collapse-first twin of q_cdc_chunks: same shiftglyph probe plus
    // planted exact copies; the rolling-hash boundary scan runs once
    // per distinct text and the doc counts are family-size weighted —
    // output must equal the raw-frame semantics the oracle replays
    "q_cdc_chunks_collapsed" -> ((s, d) => {
      val raw = docs(s, d).select(col("doc_id"), col("text"))
      val base = raw
        .unionByName(docs(s, d).filter(col("doc_id") === 0)
          .select(lit(1000000L).as("doc_id"),
            concat(lit("shiftglyph "), col("text")).as("text")))
        .unionByName(raw.filter(col("doc_id") < 40)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      asLong(Dedup.sharedChunksCollapsed(base, "doc_id", "text")
        .orderBy("chunk_hash"), "n_docs", "n_tokens")
    }),

    // date-spine densification: one customer's 25 orders over 84 months
    // leave gaps at month grain; every missing month must materialize
    // with the zero fills while observed months pass through unchanged
    "q_date_spine" -> ((s, d) => {
      val m = s.read.parquet(s"$d/orders.parquet")
        .filter(col("o_custkey") === 605)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"),
          count(lit(1)).as("n_orders"))
      asLong(graft.ops.TimeSpine.densify(m, "month", "1 month",
          fills = Map("revenue" -> lit(0), "n_orders" -> lit(0)))
        .orderBy("month"), "n_orders")
    }),

    // stupid-backoff bigram LM quality score: model trained on the 80%
    // hash-stable slice, scored docs include planted gibberish (reversed
    // tokens) that must score measurably lower than in-distribution text
    "q_lm_score" -> ((s, d) => {
      val train = docs(s, d).filter(col("doc_id") % 10 < 8)
      TextAnalysis.bigramLmScore(
        docs(s, d).filter(col("doc_id") < 40), train, "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_log10_p"), 4).as("avg_log10_p"))
        .orderBy("doc_id")
    }),

    // ---- pipeline ops: similarity search ----
    "q_ann_cosine" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      asLong(Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", "vec_id", 5)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank"), "rank")
    }),

    "q_ann_lsh" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      asLong(Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", "vec_id", 5, bands = 16, planesPerBand = 3)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank"), "rank")
    }),

    // the native vector kernels through the SQL surface: graft_dot /
    // graft_l2norm registered as SQL functions (GraftFunctions — same
    // builders the GraftExtensions route injects) and driven from plain
    // spark.sql text; the one-row q0 side broadcasts. Oracle replays
    // with DuckDB's list_dot_product over DOUBLE[] (identical fold
    // order: ascending index, double accumulation)
    "q_sql_kernels" -> ((s, d) => {
      graft.functions.GraftFunctions.install(s)
      s.read.parquet(s"$d/embeddings.parquet")
        .createOrReplaceTempView("emb_sql_kernels")
      s.sql("""SELECT e.vec_id,
        |  round(graft_dot(e.embedding, e.embedding), 6) AS self_dot,
        |  round(graft_l2norm(e.embedding), 6) AS norm,
        |  round(graft_dot(e.embedding, q.embedding)
        |    / nullif(graft_l2norm(e.embedding) * graft_l2norm(q.embedding),
        |             0.0d), 6) AS cos_q0
        |FROM emb_sql_kernels e
        |CROSS JOIN (SELECT embedding FROM emb_sql_kernels
        |            WHERE vec_id = 0) q
        |WHERE e.vec_id < 20
        |ORDER BY e.vec_id""".stripMargin)
    }),

    // IVF in its design regime: planted near-twins (cos ≈ 0.97) must be
    // retrieved through centroid-cell probing. twin_found is fully
    // deterministic (hash-seeded centroids, decimal-summed means), so
    // the oracle pins it literally — a centroid/probe regression flips
    // booleans and fails the hash. This verify twin retrains IN-MEMORY
    // every pass by design (the persisted production path is
    // q_ann_ivfpq); trainSampleMod=4 applies the trainer's own
    // documented cap so the per-pass Lloyd rounds aggregate a 1/4
    // hash-sample instead of the full corpus — the 100 TB arrangement
    // (train on a slice, assign everything once)
    "q_ann_ivf" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val twins = emb.filter(col("vec_id") < 5).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      val queries = emb.filter(col("vec_id") < 5)
      val ivf = Similarity.ivfTopK(aug, queries, "vec_id", "embedding",
        "vec_id", k = 5, nCells = 16, nprobe = 4, trainSampleMod = 4)
      asLong(queries.select(col("vec_id").as("query_id"))
        .join(ivf.filter(col("neighbor_id") === col("query_id") + 100000)
          .select(col("query_id"), lit(true).as("twin_found")),
          Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("twin_found"), lit(false)).as("twin_found"))
        .orderBy("query_id"), "query_id")
    }),

    // persisted IVFADC index (IVF partition pruning × PQ scan
    // compression): planted twins must come back at rank 1 through the
    // cell-pruned, codes-only candidate scan + id-IN vector fetch. The
    // index is read-only after build (topK never mutates), so the
    // memoized build needs no working copy
    "q_ann_ivfpq" -> ((s, d) => {
      val path = s"/tmp/graft_ivfpq_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val twins = emb.filter(col("vec_id") < 5).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      buildOnce(path) {
        ops.PqIndex.build(aug, "vec_id", "embedding", path, dim = 64,
          nCells = 16, m = 16, kCodes = 32, iters = 2) }
      val queries = emb.filter(col("vec_id") < 5)
      val res = ops.PqIndex.topK(s, path, queries, "vec_id", "embedding",
        "vec_id", k = 1, nprobe = 4, shortlist = 20)
      asLong(queries.select(col("vec_id").as("query_id"))
        .join(res.filter(col("neighbor_id") === col("query_id") + 100000
            && col("rank") === 1)
          .select(col("query_id"), lit(true).as("twin_first")),
          Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("twin_first"), lit(false)).as("twin_first"))
        .orderBy("query_id"), "query_id")
    }),

    // product quantization end-to-end (codebooks → m-byte codes → ADC
    // scan → exact re-rank): planted near-twins must come back at rank 1
    // through the compressed path. Codebook training is hash-seeded and
    // decimal-summed, so twin_found booleans are deterministic and the
    // oracle pins them literally — a codebook/ADC regression flips the
    // booleans and fails the hash (same contract as q_ann_ivf)
    "q_ann_pq" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val twins = emb.filter(col("vec_id") < 5).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      val queries = emb.filter(col("vec_id") < 5)
      val pq = ops.Pq.pqTopK(aug, queries, "vec_id", "embedding",
        "vec_id", k = 5, dim = 64, m = 8, kCodes = 16, shortlist = 20,
        iters = 2)
      asLong(queries.select(col("vec_id").as("query_id"))
        .join(pq.filter(col("neighbor_id") === col("query_id") + 100000
            && col("rank") === 1)
          .select(col("query_id"), lit(true).as("twin_first")),
          Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("twin_first"), lit(false)).as("twin_first"))
        .orderBy("query_id"), "query_id")
    }),

    // PQ codebook fitness receipt: 32x-compression reconstruction error
    // vs signal energy, plus per-subspace codeword usage — the dial a
    // 100 TB embedding store reads before committing to a codebook.
    // Deterministic training → golden-pinned literals
    "q_pq_recon" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val books = ops.Pq.trainCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, kCodes = 16, iters = 2)
      val usage = ops.Pq.encode(emb, "vec_id", "embedding", books)
        .select(posexplode(col("__codes")).as(Seq("s", "c")))
        .agg(countDistinct(col("s"), col("c")).as("used_codewords"))
      ops.Pq.reconstructionError(emb, "vec_id", "embedding", books)
        .crossJoin(usage)
        .select(col("rows"), round(col("mean_sq_err"), 6).as("mean_sq_err"),
          round(col("max_sq_err"), 6).as("max_sq_err"),
          round(col("mean_norm_sq"), 6).as("mean_norm_sq"),
          col("used_codewords"))
    }),

    // OPQ-lite receipt: on banded-energy vectors the variance-balancing
    // permutation must quantize strictly better than the contiguous
    // split — the golden pin locks the deterministic MSEs of both
    "q_pq_opq" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val scaled = emb.select(col("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "cast(x * (1.0 + 3.0 * cast(i div 8 as double)) as double))")
          .as("v"))
      // training on the 1/4 hash-slice (the q_ann_ivf-documented 100 TB
      // arrangement — train on a sample, evaluate EVERYTHING): the twin
      // trains two codebook sets + the permutation, so the cap is what
      // keeps this verify row from dominating the sf1 battery
      def err(df: org.apache.spark.sql.DataFrame, name: String) =
        ops.Pq.reconstructionError(df, "vec_id", "v",
            ops.Pq.trainCodebooks(df, "vec_id", "v", 64, 8, 16, 2,
              trainSampleMod = 4))
          .select(round(col("mean_sq_err"), 6).as(name))
      // the two trainer chains are INDEPENDENT driver-coordinated job
      // sequences (contiguous codebooks; permutation -> permuted
      // codebooks) — overlap them from driver threads (guide §2.6) so
      // the second chain's jobs back-fill the first's single-task
      // trainer stages; each chain is deterministic on its own, so the
      // result is unchanged
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fContig = Future(err(scaled, "mse_contiguous"))
      val fPerm = Future {
        val perm = ops.Pq.trainPermutation(scaled, "vec_id", "v", 64, 8,
          trainSampleMod = 4)
        err(scaled.select(col("vec_id"),
          ops.Pq.permute(col("v"), perm).as("v")), "mse_permuted")
      }
      Await.result(fContig, Duration.Inf)
        .crossJoin(Await.result(fPerm, Duration.Inf))
        .select(col("mse_contiguous"), col("mse_permuted"),
          (col("mse_permuted") < col("mse_contiguous")).as("improved"))
    }),

    // full parametric OPQ rotation (PCA + eigenvalue allocation) on
    // CROSS-SUBSPACE correlated pairs (dim i mixed with dim i+32) —
    // the case both the permutation (equal per-coordinate variance)
    // and within-subspace k-means are blind to: golden MSE receipt
    // for contiguous vs permuted vs rotated
    "q_pq_rotate" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val mixed = emb.select(col("vec_id"), expr(
        "transform(embedding, (x, i) -> CASE WHEN i < 32 " +
          "THEN cast(5.5d * x + 4.5d * element_at(embedding, cast(i + 33 as int)) as double) " +
          "ELSE cast(4.5d * element_at(embedding, cast(i - 31 as int)) + 5.5d * x as double) END)")
        .as("v"))
      // all training on the 1/4 hash-slice (train-on-sample, evaluate
      // everything): this twin trains THREE codebook sets plus the
      // rotation's covariance moment pass, so the cap is what keeps it
      // from dominating the sf1 battery; reconstruction error is still
      // measured over the FULL corpus
      def err(df: org.apache.spark.sql.DataFrame, name: String) =
        ops.Pq.reconstructionError(df, "vec_id", "v",
            ops.Pq.trainCodebooks(df, "vec_id", "v", 64, 8, 16, 2,
              trainSampleMod = 4))
          .select(round(col("mean_sq_err"), 6).as(name))
      // three INDEPENDENT trainer chains (contiguous; permutation ->
      // permuted books; rotation -> rotated books), each a deterministic
      // sequence of driver-coordinated jobs — overlapped from driver
      // threads (guide §2.6) so one chain's jobs back-fill another's
      // single-task trainer stages; wall ~ the longest chain instead of
      // the sum of all three
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fContig = Future(err(mixed, "mse_contiguous"))
      val fPerm = Future {
        val perm = ops.Pq.trainPermutation(mixed, "vec_id", "v", 64, 8,
          trainSampleMod = 4)
        err(mixed.select(col("vec_id"),
          ops.Pq.permute(col("v"), perm).as("v")), "mse_permuted")
      }
      val fRot = Future {
        val rot = ops.Pq.trainRotation(mixed, "vec_id", "v", 64, 8,
          trainSampleMod = 4)
        err(mixed.select(col("vec_id"),
          ops.Pq.rotate(col("v"), rot).as("v")), "mse_rotated")
      }
      Await.result(fContig, Duration.Inf)
        .crossJoin(Await.result(fPerm, Duration.Inf))
        .crossJoin(Await.result(fRot, Duration.Inf))
        .select(col("mse_contiguous"), col("mse_permuted"),
          col("mse_rotated"),
          (col("mse_rotated") < col("mse_contiguous") &&
            col("mse_rotated") < col("mse_permuted")).as("rotation_wins"))
    }),

    "q_embedding_neardup" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      // the synthetic embeddings are near-uniform (max pairwise cosine
      // ≈ 0.6), so plant deterministic near-duplicate twins
      // (v + 0.25·rotate(v), cosine ≈ 0.97) and run the operator in its
      // design regime: high-threshold near-dup detection, where banded
      // LSH prunes candidates instead of degenerating to all-pairs
      val twins = emb.filter(col("vec_id") < 50).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      // bands=16 is right AT THIS n (~10k at sf1): keying cost ∝ bands×p
      // dominates here, so the corpus-size lever (raise bands → fewer
      // random candidates; cosineNearDupPairs scaladoc) only pays when
      // n² collision volume overtakes keying — measured: bands=32 is
      // ~2 s SLOWER at sf1, identical found pairs
      Similarity.cosineNearDupPairs(aug, "vec_id", "embedding",
        threshold = 0.9, bands = 16) // planesPerBand auto-tunes to t=0.9
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    }),

    // collapse-first twin of q_embedding_neardup: the same planted
    // near-dup twins PLUS exact vector copies (vec_id < 25 at +200000)
    // that must collapse onto their min-id originals before banding —
    // pair set matches q_embedding_neardup's, dups_* carries family size
    "q_embedding_neardup_collapsed" -> ((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val twins = emb.filter(col("vec_id") < 50).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val copies = emb.filter(col("vec_id") < 25)
        .select((col("vec_id") + 200000).as("vec_id"), col("embedding"))
      val aug = emb.select(col("vec_id"), col("embedding"))
        .unionByName(twins).unionByName(copies)
      Similarity.cosineNearDupPairsCollapsed(aug, "vec_id", "embedding",
        threshold = 0.9, bands = 16)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    }),

    // ---- pipeline ops: text analysis ----
    "q_lang_id" -> ((s, d) =>
      docs(s, d).withColumn("predicted", TextAnalysis.langId(col("text")))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "predicted")),

    "q_quality" -> ((s, d) =>
      asLong(TextAnalysis.qualityFeatures(
        docs(s, d).filter(col("doc_id") < 20), "text")
        .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
          col("digit_ratio"), col("stopword_ratio"), col("quality_score"))
        .orderBy("doc_id"), "n_tokens")),

    "q_token_count" -> ((s, d) =>
      asLong(docs(s, d).filter(col("doc_id") < 20)
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"))
        .orderBy("doc_id"), "ws_tokens", "bpeish_tokens")),

    "q_fingerprint" -> ((s, d) =>
      docs(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"), TextAnalysis.fingerprint("text").as("fingerprint"))
        .orderBy("doc_id")),

    // corpus vocabulary: two partial-agg shuffles ((doc, token) counts,
    // then per-token totals) + TakeOrderedAndProject top-k; ties break
    // on the token for a deterministic, oracle-stable cut
    "q_vocab" -> ((s, d) =>
      TextAnalysis.vocabulary(docs(s, d), "doc_id", "text", 20)
        .orderBy(col("term_freq").desc, col("token"))),

    // ---- pipeline ops: chunking (RAG / training-example prep) ----
    // token-window chunking is a single codegen'd projection (split +
    // explode(sequence) + slice) — no shuffle, scan speed at 100 TB; the
    // oracle re-derives every window with generate_series + list slices
    "q_chunk" -> ((s, d) =>
      asLong(Chunking.chunkByTokens(
          docs(s, d).filter(col("doc_id") < 20), "doc_id", "text",
          chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_idx"),
        "chunk_idx", "start_token", "n_tokens")),

    "q_chunk_stats" -> ((s, d) =>
      asLong(Chunking.chunkStats(
          Chunking.chunkByTokens(docs(s, d).filter(col("doc_id") < 50),
            "doc_id", "text", chunkTokens = 32, overlapTokens = 8),
          "doc_id")
        .orderBy("doc_id"), "doc_tokens")),

    // ---- pipeline ops: embedding int8 quantization ----
    // map-side projection (transform/zip_with/aggregate, no shuffle);
    // the oracle recomputes codes + reconstruction error per vector and
    // pins code checksums and rounded rmse/max_err
    "q_quantize" -> ((s, d) =>
      Embeddings.quantizeWithError(
          s.read.parquet(s"$d/embeddings.parquet").filter(col("vec_id") < 20),
          "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          aggregate(col("codes"), lit(0L), (acc, c) => acc + c)
            .as("sum_codes"),
          aggregate(col("codes"), lit(0L), (acc, c) => acc + abs(c))
            .as("l1_codes"),
          col("rmse"), col("max_err"))
        .orderBy("vec_id")),

    // ---- pipeline ops: multimodal plumbing (stubbed codec) ----
    // real codec roundtrip: PNG-encode a solid-gray tile per document
    // (geometry + shade derived from doc_id), decode through
    // javax.imageio, and emit analytically-checkable values — the DuckDB
    // oracle recomputes width/height/mean-luma/resize plan from doc_id
    "q_multimodal" -> ((s, d) => {
      val media = Multimodal.syntheticPng(
        docs(s, d).filter(col("doc_id") < 50), "doc_id")
      val decoded = Multimodal.decodeAndFeaturize(media, "media_id", "content")
      Multimodal.resizePlan(decoded, "width", "height", 16)
        .select(col("media_id"), col("width"), col("height"),
          round(element_at(col("features"), 8).cast("double"), 4).as("mean_gray"),
          col("target_width"), col("target_height"), col("needs_resize"))
        .orderBy("media_id")
    }),

    // header-only sniff over the WHOLE corpus (vs q_multimodal's 50-row
    // full decode): O(header) per row, codegen'd, no codec — the catalog
    // pass that scales to any payload size. Media bytes are real encodes
    // (ImageIO png/jpeg, hand-built RIFF wav) with id-analytic geometry,
    // so the sniffed struct has a pure-SQL oracle.
    "q_media_sniff" -> ((s, d) => {
      // corpus PERSISTED once per JVM (the q_media_profile lesson from
      // round 12): a real catalog pass scans stored objects, so timed
      // passes measure scan + codegen'd sniff — ImageIO encoding is
      // fixture cost, and timing it made this row an encoder lottery
      val path = s"/tmp/graft_media_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      buildOnce(path) {
        Multimodal.syntheticMixedMedia(
            docs(s, d).repartition(col("doc_id")), "doc_id")
          .write.mode("overwrite").parquet(path)
      }
      val media = s.read.parquet(path)
      media.select(col("media_id"),
          Multimodal.sniffMedia(col("content")).as("m"))
        .select(col("media_id"), col("m.format").as("format"),
          col("m.width").as("width"), col("m.height").as("height"),
          col("m.duration_ms").as("duration_ms"),
          col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"))
        .orderBy("media_id")
    }),

    // round-12 container additions (WebP/MP4/M4A/OGG/FLAC): every field
    // is id-math the oracle replays — a parser regression in any of the
    // new byte walks flips a value and fails the hash
    "q_media_sniff_ext" -> ((s, d) => {
      val media = Multimodal.syntheticMixedMediaExt(docs(s, d), "doc_id")
      media.select(col("media_id"),
          Multimodal.sniffMedia(col("content")).as("m"))
        .select(col("media_id"), col("m.format").as("format"),
          col("m.width").as("width"), col("m.height").as("height"),
          col("m.duration_ms").as("duration_ms"),
          col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"))
        .orderBy("media_id")
    }),

    // TIFF sniff (scanned-document corpora): both byte orders, both
    // BitsPerSample storage forms (count-1 inline / count-N at offset),
    // SamplesPerPixel → channels — every field id-replayable math
    "q_media_sniff_tiff" -> ((s, d) => {
      val media = Multimodal.syntheticTiffMedia(docs(s, d), "doc_id")
      media.select(col("media_id"),
          Multimodal.sniffMedia(col("content")).as("m"))
        .select(col("media_id"), col("m.format").as("format"),
          col("m.width").as("width"), col("m.height").as("height"),
          col("m.channels").as("channels"),
          col("m.bits_per_sample").as("bits_per_sample"))
        .orderBy("media_id")
    }),

    // corpus-scale media profile: the sniff output aggregated per format
    // (count, total pixels = decode-cost plan, total audio duration) —
    // what a 100 TB media catalog pass produces before scheduling decode.
    // The synthetic bytes are PERSISTED once per JVM (buildOnce): a real
    // catalog pass scans stored objects, so the timed passes measure
    // scan + codegen'd header parse + aggregate — ImageIO encoding is
    // fixture cost, and timing it made this row a straggler lottery
    // (3-6 s pass swings from the encoder's JVM-global contention)
    "q_media_profile" -> ((s, d) => {
      val path = s"/tmp/graft_media_${d.replaceAll("[^a-zA-Z0-9]", "_")}"
      buildOnce(path) {
        Multimodal.syntheticMixedMedia(
            docs(s, d).repartition(col("doc_id")), "doc_id")
          .write.mode("overwrite").parquet(path)
      }
      s.read.parquet(path)
        .select(Multimodal.sniffMedia(col("content")).as("m"))
        .groupBy(col("m.format").as("format"))
        .agg(count(lit(1)).as("n"),
          sum(col("m.width").cast("long") * col("m.height")).as("total_pixels"),
          sum(col("m.duration_ms")).as("total_ms"))
        .orderBy("format")
    }),

    // ---- pipeline ops: sessionization ----
    // declarative route: built-in session_window aggregation; the DuckDB
    // oracle re-derives the same sessions via lag + running-sum, pinning
    // the boundary rule (a gap of exactly 12 h still merges; only > gap splits)
    "q_sessionize" -> ((s, d) =>
      Sessionize.summarize(
        eventsTs(s, d).filter(col("user_id") < 30),
        "user_id", "ts_t", gapSec = 43200, valueCol = Some("value"))
        .orderBy("user_id", "session_start")),

    // per-event labels (lag + running count); ties break by event_id so
    // the labeling is total — oracle is the identical window program
    "q_session_assign" -> ((s, d) =>
      Sessionize.assign(
        eventsTs(s, d).filter(col("user_id") < 5),
        "user_id", "ts_t", "event_id", gapMicros = 43200000000L)
        .select(col("user_id"), col("event_id"), col("session_idx"))
        .orderBy("user_id", "event_id")),

    // corpus-wide session shape: integer aggregates are exact in double
    // accumulation (< 2^53), so avg is order-independent on both engines
    "q_session_stats" -> ((s, d) => {
      val sess = Sessionize.summarize(eventsTs(s, d), "user_id", "ts_t",
        gapSec = 43200, valueCol = Some("value"))
      sess.agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events_total"),
        max(col("n_events")).as("max_events"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_singletons"),
        round(avg(col("n_events")), 4).as("avg_events"),
        round(avg(unix_micros(col("session_end"))
          - unix_micros(col("session_start"))) / 1000000.0, 4)
          .as("avg_duration_sec"))
    }),

    // ---- pipeline ops: deterministic sampling / splitting ----
    // the split is a pure function of md5(doc_id) — the oracle recomputes
    // the exact per-document bucket, so assignment itself is gated, not
    // just the counts
    "q_train_split" -> ((s, d) =>
      Sampling.split(docs(s, d), "doc_id",
        Seq("train" -> 800, "val" -> 100, "test" -> 100))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy("split")),

    "q_stratified_sample" -> ((s, d) =>
      asLong(Sampling.stratifiedTopN(docs(s, d), "lang", "doc_id", n = 5)
        .select(col("lang"), col("sample_rank"), col("doc_id"), col("source"))
        .orderBy("lang", "sample_rank"), "sample_rank")),

    // weighted sampling without replacement (Efraimidis–Spirakis keys
    // from portable md5 uniforms, weight = n_chars); the oracle replays
    // the identical key computation, so the selected SET and its order
    // are both gated — no float column crosses the compare
    "q_weighted_sample" -> ((s, d) =>
      asLong(Sampling.weightedSample(docs(s, d), "doc_id", "n_chars", 25)
        .select(col("sample_rank"), col("doc_id"), col("lang"),
          col("n_chars"))
        .orderBy("sample_rank"), "sample_rank")),

    // concat-and-split pretraining sequence index: global token-offset
    // cumsum (distributed range-partition plan) cut into 512-token
    // sequences; per-doc offsets and first/last sequence ids are gated
    "q_seq_pack" -> ((s, d) =>
      Sampling.sequenceIndex(
          docs(s, d).filter(col("doc_id") < 200)
            .withColumn("n_tok", TextAnalysis.wsTokenCount(col("text"))),
          "doc_id", "n_tok", seqLen = 512)
        .select(col("doc_id"), col("n_tokens"), col("start_offset"),
          col("first_seq"), col("last_seq"))
        .orderBy("doc_id")),

    // normalization exercised on synthetically marked-up text (tags +
    // ragged whitespace wrapped around the real docs) so the gate is
    // non-vacuous; the oracle applies the identical regex chain
    // WARC record splitting → HTML extraction: the complete
    // CommonCrawl-style WARC→WET front as ONE declarative plan. Each doc
    // becomes a 3-record archive blob (warcinfo + response wrapping the
    // doc text in HTML + metadata, with junk padding between records);
    // the kernel splits records byte-exactly on Content-Length, response
    // payloads run through htmlToText. The oracle rebuilds the expected
    // records from first principles — it serialized the archive, so it
    // knows every field without parsing.
    "q_warc_extract" -> ((s, d) => {
      val payload = concat(lit("<html><body><p>"), col("text"),
        lit("</p></body></html>"))
      val blob = concat(
        lit("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
          "Content-Length: 4\r\n\r\ninfo\r\n\r\n"),
        lit("junk padding line\r\n"),
        lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: https://example.com/doc/"), col("doc_id"),
        lit("\r\nContent-Type: text/html\r\nContent-Length: "),
        octet_length(payload).cast("string"),
        lit("\r\n\r\n"), payload, lit("\r\n\r\n"),
        lit("WARC/1.0\r\nWARC-Type: metadata\r\n" +
          "Content-Length: 2\r\n\r\nok\r\n\r\n"))
      asLong(docs(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          explode(graft.functions.WarcExprs.warcRecords(blob)).as("r"))
        .select(col("doc_id"), col("r.rec_idx").as("rec_idx"),
          col("r.rec_type").as("rec_type"),
          col("r.target_uri").as("target_uri"),
          col("r.content_type").as("content_type"),
          col("r.content_length").as("content_length"),
          when(col("r.rec_type") === "response",
            TextAnalysis.htmlToText(col("r.payload")))
            .otherwise(col("r.payload")).as("clean_payload"))
        .orderBy("doc_id", "rec_idx"), "rec_idx")
    }),

    // the same archive shipped the way crawls actually ship it:
    // .warc.gz with ONE GZIP MEMBER PER RECORD (seekable); gunzipText
    // reads the concatenated members in one compiled call and feeds the
    // same record splitter — compress → decompress → parse round-trips
    // to the identical field rows, which the oracle again rebuilds from
    // first principles
    "q_warc_gz" -> ((s, d) => {
      import graft.functions.WarcExprs.{gzipBytes, gunzipText, warcRecords}
      val payload = concat(lit("<html><body><p>"), col("text"),
        lit("</p></body></html>"))
      val gz = concat(
        gzipBytes(lit("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
          "Content-Length: 4\r\n\r\ninfo\r\n\r\n")),
        gzipBytes(concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\n" +
            "WARC-Target-URI: https://example.com/doc/"), col("doc_id"),
          lit("\r\nContent-Type: text/html\r\nContent-Length: "),
          octet_length(payload).cast("string"),
          lit("\r\n\r\n"), payload, lit("\r\n\r\n"))),
        gzipBytes(lit("WARC/1.0\r\nWARC-Type: metadata\r\n" +
          "Content-Length: 2\r\n\r\nok\r\n\r\n")))
      asLong(docs(s, d).filter(col("doc_id") >= 100 && col("doc_id") < 180)
        .select(col("doc_id"),
          explode(warcRecords(gunzipText(gz))).as("r"))
        .select(col("doc_id"), col("r.rec_idx").as("rec_idx"),
          col("r.rec_type").as("rec_type"),
          col("r.target_uri").as("target_uri"),
          col("r.content_length").as("content_length"),
          when(col("r.rec_type") === "response",
            TextAnalysis.htmlToText(col("r.payload")))
            .otherwise(col("r.payload")).as("clean_payload"))
        .orderBy("doc_id", "rec_idx"), "rec_idx")
    }),

    // HTML → text extraction (WET-style): script/style/comment bodies
    // dropped, tags collapsed, the six common entities decoded
    // (&amp; last — single-decode), whitespace collapsed. The raw page
    // is built in-query around the real doc text so the oracle can
    // assemble the identical input and replay the identical regex chain.
    "q_html_extract" -> ((s, d) =>
      asLong(docs(s, d).filter(col("doc_id") < 200)
        .withColumn("raw", concat(
          lit("<html><head><title>T</title><style type=\"text/css\">" +
            "p { color: red }\n.x{margin:0}</style>"),
          lit("<script>var x = 1 < 2 && \"</p>\"; // <div>\n" +
            "alert('hi');</script></head>\n<body><!-- hidden\nnote -->"),
          lit("<p class=\"main\">"), col("text"),
          lit("</p>\n<div>footer &amp;amp; &lt;tag&gt; &quot;q&quot; " +
            "&#39;s&#39;&nbsp;end</div></body></html>")))
        .select(col("doc_id"),
          TextAnalysis.htmlToText(col("raw")).as("clean"),
          length(TextAnalysis.htmlToText(col("raw"))).as("n_clean"))
        .orderBy("doc_id"), "n_clean")),

    // the complete crawl front door in ONE call: .warc.gz archive blobs
    // → gunzip → record split → response filter → WET text extraction →
    // URL canonicalization → language id → size features
    // (StreamingWarcIngest.extract — the batch core the streaming
    // maintainer reuses per micro-batch). The oracle knows the archive
    // construction, so it states the canonical URL/host directly and
    // replays extraction + lang-id + counts over the embedded doc text
    "q_warc_pipeline" -> ((s, d) => {
      import graft.functions.WarcExprs.gzipBytes
      val payload = concat(lit("<html><body><p>"), col("text"),
        lit("</p></body></html>"))
      val gz = concat(
        gzipBytes(lit("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
          "Content-Length: 4\r\n\r\ninfo\r\n\r\n")),
        gzipBytes(concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\n" +
            "WARC-Target-URI: HTTP://Example.COM:80/doc/"), col("doc_id"),
          lit("?b=2&a=1&utm_k=v#f"),
          lit("\r\nContent-Type: text/html\r\nContent-Length: "),
          octet_length(payload).cast("string"),
          lit("\r\n\r\n"), payload, lit("\r\n\r\n"))),
        gzipBytes(lit("WARC/1.0\r\nWARC-Type: metadata\r\n" +
          "Content-Length: 2\r\n\r\nok\r\n\r\n")))
      asLong(graft.streaming.StreamingWarcIngest.extract(
          docs(s, d).filter(col("doc_id") < 80).select(gz.as("blob")),
          "blob")
        .select(col("url"), col("host"), col("text"), col("lang"),
          col("n_chars"), col("n_tokens"))
        .orderBy("url"), "n_chars", "n_tokens")
    }),

    // URL canonicalization: the synthetic frontier covers every rule —
    // mixed-case scheme/host, default vs explicit ports, tracking
    // params, unsorted params, fragments, bare '?', non-URL junk — and
    // the oracle replays the identical rule chain in SQL
    "q_url_canon" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val m = col("doc_id") % 6
      val url =
        when(m === 0, concat(lit("HTTP://Example.COM:80/Path/"), id,
          lit("?utm_source=x&b=2&a=1#frag")))
        .when(m === 1, concat(lit("https://CDN.Example.com:443/asset/"), id,
          lit("#top")))
        .when(m === 2, concat(lit("http://example.com/p/"), id,
          lit("?utm_a=1&utm_b=2")))
        .when(m === 3, concat(lit("http://example.com:8080/p/"), id,
          lit("?z=1&&y=2&gclid=abc&")))
        .when(m === 4, concat(lit("  https://mirror.example.com/x/"), id,
          lit("?  ")))
        .otherwise(concat(lit("not a url "), id))
      docs(s, d).select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          ops.UrlOps.canonicalizeUrl(col("url")).as("canonical"))
        .withColumn("host", ops.UrlOps.urlHost(col("canonical")))
        .orderBy("doc_id")
    }),

    // URL-level dedup end-to-end: two raw spellings per logical URL
    // (param order swapped, tracking decoration, default port, fragment)
    // must collapse to ONE survivor per canonical; null-URL rows pass
    // through. The oracle knows the construction, so it replays winners
    // from the generating key — if canonicalization failed to collapse
    // the spellings, the survivor counts diverge
    "q_url_dedup" -> ((s, d) => {
      val k = (col("doc_id") % 40).cast("string")
      // spelling variant keyed on doc_id/40 (NOT doc_id%2, which is
      // constant within a %40 group) so every logical URL really does
      // arrive under both spellings
      val variant = pmod(floor(col("doc_id") / 40).cast("long"), lit(2L))
      val url = when(col("doc_id") % 7 === 0, lit(null).cast("string"))
        .when(variant === 0,
          concat(lit("http://Shop.example.com/item/"), k, lit("?a=1&b=2")))
        .otherwise(concat(lit("HTTP://shop.example.COM:80/item/"), k,
          lit("?b=2&a=1&utm_c=9#x")))
      ops.UrlOps.urlDedup(
          docs(s, d).withColumn("url", url), "doc_id", "url")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("url")).as("n_with_url"))
        .orderBy("source")
    }),

    "q_normalize" -> ((s, d) =>
      asLong(docs(s, d).filter(col("doc_id") < 20)
        .withColumn("raw", concat(lit("<p> "), col("text"),
          lit(" </p>\t<br/>  end")))
        .select(col("doc_id"),
          TextAnalysis.normalize(col("raw")).as("clean"),
          length(TextAnalysis.normalize(col("raw"))).as("n_clean"),
          round(TextAnalysis.nonAsciiRatio(col("text")), 6)
            .as("non_ascii_ratio"))
        .orderBy("doc_id"), "n_clean")),

    // mixture re-weighting: per-language quotas, unlisted languages
    // dropped — the oracle recomputes the identical quota-ranked sample
    "q_mixture" -> ((s, d) =>
      asLong(Sampling.mixtureSample(docs(s, d), "lang", "doc_id",
        Seq("en" -> 30, "de" -> 20, "fr" -> 10))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy("lang"), "total_chars")),

    // Gopher-style duplicate-3-gram fraction; every 4th doc is doubled
    // so the gate sees real repetition, not just zeros
    "q_repetition" -> ((s, d) =>
      TextAnalysis.ngramRepetition(
        docs(s, d).filter(col("doc_id") < 40)
          .withColumn("t", when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" "), col("text")))
            .otherwise(col("text"))),
        "t", n = 3)
        .select(col("doc_id"), col("n_grams"), col("n_distinct_grams"),
          round(col("dup_gram_ratio"), 6).as("dup_gram_ratio"))
        .orderBy("doc_id")),

    // PII surface scan over synthetically planted emails/URLs — the
    // regexes are engine-portable, so counts are oracle-exact
    "q_pii_scan" -> ((s, d) =>
      docs(s, d).filter(col("doc_id") < 60)
        .withColumn("raw", concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" see https://example.org/d/"),
              col("doc_id").cast("string"), lit(" ok")))
            .otherwise(lit(""))))
        .select(col("doc_id"),
          TextAnalysis.emailCount(col("raw")).as("n_emails"),
          TextAnalysis.urlCount(col("raw")).as("n_urls"))
        .withColumn("has_pii", (col("n_emails") + col("n_urls")) > 0)
        .orderBy("doc_id")),

    // decontamination: 40 docs re-enter the corpus under new ids, the
    // md5 split scatters them, and every test doc whose exact text also
    // landed in train must be reported
    "q_contamination" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val leaked = base.filter(col("doc_id") < 40)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      val sp = Sampling.split(base.unionByName(leaked), "doc_id",
        Seq("train" -> 900, "test" -> 100))
      Dedup.crossSplitLeakage(sp, "doc_id", "text", "split",
        probe = "test", reference = "train")
        .orderBy("doc_id")
    }),

    // greedy token-budget packing: path-dependent bin assignment — the
    // oracle replays the identical greedy recurrence as a recursive CTE
    "q_token_pack" -> ((s, d) => {
      val t = docs(s, d).select(col("source"), col("doc_id"),
        TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("tokens"))
      Sampling.packGreedy(t, "source", "doc_id", "tokens", budget = 512)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("total_tokens"))
        .orderBy("source", "bin")
    })
  )

  def oracleSql: Map[String, String] = Map(
    // the PNG tiles are generated from doc_id (solid gray, geometry
    // id-derived), so the decode results recompute arithmetically
    "q_multimodal" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    cast(8 + (doc_id % 16) as int) AS width,
        |    cast(8 + ((doc_id // 16) % 16) as int) AS height,
        |    doc_id % 256 AS gray
        |  FROM documents WHERE doc_id < 50)
        |SELECT media_id, width, height,
        |  round(gray / 255.0, 4) AS mean_gray,
        |  cast(floor(width * least(1.0, 16.0 / greatest(width, height))) as int)
        |    AS target_width,
        |  cast(floor(height * least(1.0, 16.0 / greatest(width, height))) as int)
        |    AS target_height,
        |  least(1.0, 16.0 / greatest(width, height)) < 1.0 AS needs_resize
        |FROM m ORDER BY media_id""".stripMargin,

    // the compaction receipt is fully derivable: 12 base + 6 append files,
    // rows = corpus + the six appended doc_id%100 slices
    "q_corpus_compact" ->
      """SELECT
        |  (SELECT count(*) FROM documents) +
        |    (SELECT count(*) FROM documents WHERE doc_id % 100 < 6) AS rows,
        |  CAST(18 AS BIGINT) AS files_before,
        |  true AS files_reduced""".stripMargin,

    // two receipt rows, one per fragmented partition: base bucket rows +
    // the three appended congruent slices; 4 files compact to 1
    "q_corpus_compact_parts" ->
      """SELECT 'bucket=' || CAST(t.b AS VARCHAR) AS "partition",
        |  (SELECT count(*) FROM documents WHERE doc_id % 4 = t.b) +
        |  (SELECT count(*) FROM documents
        |     WHERE doc_id % 100 IN (t.b, t.b + 4, t.b + 8)) AS rows,
        |  CAST(4 AS BIGINT) AS files_before,
        |  CAST(1 AS BIGINT) AS files_after
        |FROM (VALUES (0), (1)) AS t(b)
        |ORDER BY 1""".stripMargin,

    "q_corpus_maintain" ->
      """SELECT 'bucket=' || CAST(t.b AS VARCHAR) AS "partition",
        |  CAST(CASE WHEN t.b < 2 THEN 4 ELSE 1 END AS BIGINT)
        |    AS files_before,
        |  t.b < 2 AS was_fragmented,
        |  t.b < 2 AS compacted,
        |  CAST(1 AS BIGINT) AS files_after,
        |  false AS still_fragmented
        |FROM (VALUES (0), (1), (2), (3)) AS t(b)
        |ORDER BY 1""".stripMargin,

    // four layout rows: buckets 0/1 fragmented (4 files), 2/3 settled
    "q_corpus_layout" ->
      """SELECT 'bucket=' || CAST(t.b AS VARCHAR) AS "partition",
        |  CAST(CASE WHEN t.b < 2 THEN 4 ELSE 1 END AS BIGINT) AS files,
        |  t.b < 2 AS fragmented
        |FROM (VALUES (0), (1), (2), (3)) AS t(b)
        |ORDER BY 1""".stripMargin,

    // per-format rollup of the analytic sniff formulas; sums go HUGEINT
    // in DuckDB, cast back to BIGINT
    "q_media_profile" ->
      """WITH m AS (
        |  SELECT
        |    CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav'
        |      END AS format,
        |    CASE WHEN doc_id % 3 < 2 THEN
        |        (8 + (doc_id % 16)) * (8 + ((doc_id // 16) % 16)) END AS px,
        |    CASE WHEN doc_id % 3 = 2 THEN
        |        ((((doc_id % 200) + 1) * 16) * 1000)
        |          // (16000 * (1 + doc_id % 2)) END AS ms
        |  FROM documents)
        |SELECT format, count(*) AS n,
        |  CAST(sum(px) AS BIGINT) AS total_pixels,
        |  CAST(sum(ms) AS BIGINT) AS total_ms
        |FROM m GROUP BY format ORDER BY format""".stripMargin,

    // sniffed metadata is analytic in the id (see syntheticMixedMedia):
    // images carry the tile geometry, wav rows the RIFF fmt/data math
    "q_media_sniff" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav'
        |    END AS format,
        |  CASE WHEN doc_id % 3 < 2 THEN cast(8 + (doc_id % 16) as int)
        |    END AS width,
        |  CASE WHEN doc_id % 3 < 2 THEN cast(8 + ((doc_id // 16) % 16) as int)
        |    END AS height,
        |  CASE WHEN doc_id % 3 = 2 THEN
        |      ((((doc_id % 200) + 1) * 16) * 1000) // (16000 * (1 + doc_id % 2))
        |    END AS duration_ms,
        |  CASE WHEN doc_id % 3 = 2 THEN cast(1 + doc_id % 2 as int)
        |    END AS channels,
        |  CASE WHEN doc_id % 3 = 2 THEN 8000 END AS sample_rate
        |FROM documents ORDER BY media_id""".stripMargin,

    "q_media_sniff_ext" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN 'webp'
        |    WHEN 1 THEN CASE (doc_id // 4) % 2 WHEN 1 THEN 'm4a' ELSE 'mp4' END
        |    WHEN 2 THEN 'ogg' ELSE 'flac' END AS format,
        |  CASE WHEN doc_id % 4 = 0 THEN cast(8 + (doc_id % 16) as int)
        |       WHEN doc_id % 4 = 1 THEN cast(320 + (doc_id % 8) * 16 as int)
        |    END AS width,
        |  CASE WHEN doc_id % 4 = 0 THEN cast(8 + ((doc_id // 16) % 16) as int)
        |       WHEN doc_id % 4 = 1 THEN 240
        |    END AS height,
        |  CASE WHEN doc_id % 4 = 1 THEN ((doc_id % 300) + 1) * 100
        |       WHEN doc_id % 4 = 3 THEN ((doc_id % 100) + 1) * 100
        |    END AS duration_ms,
        |  CASE WHEN doc_id % 4 = 2 THEN cast(1 + doc_id % 2 as int)
        |       WHEN doc_id % 4 = 3 THEN 2 END AS channels,
        |  CASE WHEN doc_id % 4 IN (2, 3) THEN 44100 END AS sample_rate
        |FROM documents ORDER BY media_id""".stripMargin,

    "q_media_sniff_tiff" ->
      """SELECT doc_id AS media_id, 'tiff' AS format,
        |  cast(8 + (doc_id % 16) as int) AS width,
        |  cast(8 + ((doc_id // 16) % 16) as int) AS height,
        |  cast(1 + doc_id % 3 as int) AS channels,
        |  cast(CASE WHEN doc_id % 3 = 0 THEN 8 * (1 + doc_id % 2)
        |       ELSE 8 END as int) AS bits_per_sample
        |FROM documents ORDER BY media_id""".stripMargin,

    "q_simple_agg" ->
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
        |  sum(l_quantity) AS quantity,
        |  sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) AS net_revenue,
        |  count(*) AS item_count
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_agg_minmax" ->
      """SELECT o_orderpriority AS orderpriority,
        |  min(o_totalprice) AS min_order_value,
        |  max(o_totalprice) AS max_order_value,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // avg = exact decimal sum / count in double: deterministic under any
    // partitioning on both engines (avg(double) is order-dependent)
    "q_agg_avg" ->
      """SELECT o_orderstatus AS orderstatus,
        |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(o_totalprice) as double), 4) AS avg_order_value
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_count_distinct" ->
      """SELECT o_orderstatus AS orderstatus,
        |  count(DISTINCT o_custkey) AS distinct_customers
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_count_distinct_multi" ->
      """SELECT o_orderpriority AS orderpriority,
        |  count(DISTINCT CASE WHEN o_custkey IS NULL OR o_orderstatus IS NULL
        |    THEN NULL ELSE (o_custkey, o_orderstatus) END) AS custkey_status_pairs
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // HLL accuracy contract: the oracle pins the exact distinct count and
    // asserts the sketch stays within 5% relative error of it
    "q_approx_distinct" ->
      """SELECT l_returnflag AS returnflag,
        |  count(DISTINCT l_partkey) AS distinct_parts,
        |  true AS within_5pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_bsl_total" ->
      """SELECT orderpriority, revenue,
        |  round(cast(revenue as double) / cast(total as double), 4)
        |    AS revenue_share_of_total
        |FROM (SELECT o_orderpriority AS orderpriority,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |        sum(sum(cast(o_totalprice as decimal(18,2)))) OVER () AS total
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin,

    "q_window_expr" ->
      """SELECT order_date__month,
        |  round(avg(cast(revenue as double)) OVER (ORDER BY order_date__month
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS revenue_ma3m
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin,

    "q_window_rank_dim" ->
      """SELECT orderpriority, revenue,
        |  CAST(rank() OVER (ORDER BY revenue DESC) AS BIGINT) AS revenue_rank
        |FROM (SELECT o_orderpriority AS orderpriority,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin,

    "q_stats" ->
      """SELECT l_returnflag AS returnflag,
        |  round(median(l_quantity), 4) AS median_quantity,
        |  round(stddev_samp(l_quantity), 4) AS stddev_quantity,
        |  round(stddev_pop(l_quantity), 4) AS stddev_pop_quantity,
        |  round(var_samp(l_quantity), 4) AS var_quantity,
        |  round(var_pop(l_quantity), 4) AS var_pop_quantity
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_time_grain_month" ->
      """SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_time_grain_week" ->
      """SELECT date_trunc('week', l_shipdate) AS shipdate__week,
        |  sum(l_quantity) AS quantity
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-03-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // lineitem reaches nation via the supplier shortcut (2 hops — the BFS
    // unique-shortest path, since part↔supplier junction edges exist);
    // the orders join is only pulled in for its filter
    "q_filter_pushdown" ->
      """SELECT n.n_name AS name,
        |  sum(cast(l.l_extendedprice * (1 - l.l_discount) as decimal(18,4))) AS net_revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE o.o_orderstatus = 'F' AND l.l_shipdate >= '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_metric_filter" ->
      """SELECT o_orderpriority AS orderpriority,
        |  sum(CASE WHEN o_orderstatus = 'O'
        |      THEN cast(o_totalprice as decimal(18,2)) END) AS open_revenue,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_having" ->
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders GROUP BY 1
        |HAVING sum(cast(o_totalprice as decimal(18,2))) > 70000000
        |ORDER BY 1""".stripMargin,

    "q_segment" ->
      """SELECT n.n_name AS name, count(*) AS customer_count
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_mktsegment = 'AUTOMOBILE'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_relative_date" ->
      """SELECT o_orderstatus AS orderstatus, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= DATE '1999-01-01' - INTERVAL 700 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_parameter" ->
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_parameter_loop" ->
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
        |  AND o_orderpriority != '3-MEDIUM'
        |  AND o_orderpriority != '2-HIGH'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_parameter_in" ->
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders
        |WHERE o_orderpriority = '2-HIGH'
        |  AND o_orderstatus IN ('F', 'O', 'P')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_bool_dimension" ->
      """SELECT o_totalprice > 200000 AS is_high_value, count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_multi_hop" ->
      """SELECT r.r_name AS name,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_many_to_many" ->
      """SELECT p.p_brand AS brand, count(DISTINCT s.s_suppkey) AS supplier_count
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_fanout_symmetric" ->
      """SELECT orderstatus,
        |  sum(acct) AS total_acctbal, count(DISTINCT ck) AS customer_count
        |FROM (SELECT DISTINCT o.o_orderstatus AS orderstatus,
        |        c.c_custkey AS ck, cast(c.c_acctbal as decimal(18,2)) AS acct
        |      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_fanout_avg" ->
      """SELECT orderstatus,
        |  round(cast(sum(acct) as double)
        |    / cast(count(DISTINCT ck) as double), 4) AS avg_acctbal
        |FROM (SELECT DISTINCT o.o_orderstatus AS orderstatus,
        |        c.c_custkey AS ck, cast(c.c_acctbal as decimal(18,2)) AS acct
        |      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_multifact" ->
      """SELECT COALESCE(a.mktsegment, b.mktsegment) AS mktsegment,
        |  a.revenue, b.quantity
        |FROM (SELECT c.c_mktsegment AS mktsegment,
        |        sum(cast(o.o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |      GROUP BY 1) a
        |FULL JOIN (SELECT c.c_mktsegment AS mktsegment, sum(l.l_quantity) AS quantity
        |      FROM lineitem l
        |      JOIN orders o ON l.l_orderkey = o.o_orderkey
        |      JOIN customer c ON o.o_custkey = c.c_custkey
        |      GROUP BY 1) b ON a.mktsegment = b.mktsegment
        |ORDER BY 1""".stripMargin,

    "q_semi_additive" ->
      """SELECT month AS ts__month, sum(v) AS last_value_total
        |FROM (SELECT date_trunc('month', ts) AS month, user_id,
        |        cast(value as decimal(18,2)) AS v, ts,
        |        max(ts) OVER (PARTITION BY date_trunc('month', ts), user_id) AS mx
        |      FROM events)
        |WHERE ts = mx GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ratio" ->
      """SELECT o_orderpriority AS orderpriority,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(*) as double) AS aov,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(DISTINCT o_custkey) as double) AS revenue_per_customer
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_derived" ->
      """SELECT o_orderpriority AS orderpriority,
        |  cast(sum(CASE WHEN o_orderstatus = 'O'
        |        THEN cast(o_totalprice as decimal(18,2)) END) as double)
        |    / cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    AS open_revenue_share
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_graph_metric" ->
      """SELECT cast((SELECT sum(cast(o_totalprice as decimal(18,2))) FROM orders) as double)
        |  / cast((SELECT count(*) FROM lineitem) as double) AS revenue_per_item""".stripMargin,

    "q_fill_nulls" ->
      """SELECT event_type,
        |  COALESCE(sum(CASE WHEN event_type = 'purchase'
        |      THEN cast(value as decimal(18,2)) END), 0.0) AS purchase_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_with_totals" ->
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS _is_total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), ())
        |ORDER BY 3, 1""".stripMargin,

    "q_totals_fanout" ->
      """SELECT orderstatus, sum(acct) AS total_acctbal, 0 AS _is_total
        |FROM (SELECT DISTINCT o.o_orderstatus AS orderstatus, c.c_custkey AS ck,
        |        cast(c.c_acctbal as decimal(18,2)) AS acct
        |      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
        |GROUP BY 1
        |UNION ALL
        |SELECT NULL AS orderstatus, sum(acct) AS total_acctbal, 1 AS _is_total
        |FROM (SELECT DISTINCT c.c_custkey AS ck,
        |        cast(c.c_acctbal as decimal(18,2)) AS acct
        |      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
        |ORDER BY 3, 1""".stripMargin,

    "q_yoy_sparse" ->
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |    sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |  FROM orders
        |  WHERE o_orderdate < '1995-01-01' OR o_orderdate >= '1996-01-01'
        |  GROUP BY 1)
        |SELECT a.order_date__month, a.revenue - b.revenue AS revenue_yoy_diff
        |FROM m a LEFT JOIN m b
        |  ON b.order_date__month = a.order_date__month - INTERVAL 1 YEAR
        |ORDER BY 1""".stripMargin,

    "q_ungrouped" ->
      """SELECT o_orderkey, o_orderstatus AS orderstatus,
        |  cast(o_totalprice as decimal(18,2)) AS revenue
        |FROM orders ORDER BY o_orderkey LIMIT 10""".stripMargin,

    "q_order_limit_offset" ->
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders GROUP BY 1
        |ORDER BY revenue DESC LIMIT 3 OFFSET 1""".stripMargin,

    "q_cumulative" ->
      """SELECT order_date__month,
        |  sum(revenue) OVER (ORDER BY order_date__month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumulative_revenue,
        |  revenue
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin,

    "q_cumulative_window" ->
      """SELECT order_date__month,
        |  sum(revenue) OVER (ORDER BY mkey
        |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS revenue_3m
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        year(date_trunc('month', o_orderdate)) * 12
        |          + month(date_trunc('month', o_orderdate)) AS mkey,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1, 2)
        |ORDER BY 1""".stripMargin,

    "q_grain_to_date" ->
      """SELECT order_date__month,
        |  sum(revenue) OVER (PARTITION BY date_trunc('year', order_date__month)
        |    ORDER BY order_date__month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue_ytd
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin,

    "q_time_comparison" ->
      """SELECT order_date__month,
        |  round((cast(revenue as double) - cast(prev as double))
        |    / NULLIF(cast(prev as double), 0) * 100, 4) AS revenue_mom
        |FROM (SELECT order_date__month, revenue,
        |        lag(revenue, 1) OVER (ORDER BY order_date__month) AS prev
        |      FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |              sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |            FROM orders GROUP BY 1))
        |ORDER BY 1""".stripMargin,

    "q_yoy_difference" ->
      """SELECT order_date__month,
        |  revenue - lag(revenue, 12) OVER (ORDER BY order_date__month)
        |    AS revenue_yoy_diff
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin,

    "q_conversion" ->
      """SELECT CAST(count(*) AS BIGINT) AS base_entities,
        |  CAST(sum(conv) AS BIGINT) AS converted_entities,
        |  cast(sum(conv) as double) / cast(count(*) as double) AS signup_conversion
        |FROM (SELECT e1.user_id,
        |        max(CASE WHEN e2.event_id IS NOT NULL THEN 1 ELSE 0 END) AS conv
        |      FROM events e1
        |      LEFT JOIN events e2 ON e2.user_id = e1.user_id
        |        AND e2.event_type = 'purchase'
        |        AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL 7 DAY
        |      WHERE e1.event_type = 'signup'
        |      GROUP BY 1)""".stripMargin,

    // reference retention contract: fixed column names + retention_pct ×100
    // (generator.py:5178-5205)
    "q_retention" ->
      """WITH cohorts AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |activity AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_date
        |  FROM events WHERE event_type IN ('click','view','purchase')),
        |joined AS (
        |  SELECT c.cohort_date,
        |    date_diff('day', c.cohort_date, a.active_date) AS p, c.user_id
        |  FROM cohorts c JOIN activity a ON a.user_id = c.user_id
        |    AND a.active_date >= c.cohort_date
        |  WHERE date_diff('day', c.cohort_date, a.active_date) <= 7),
        |sizes AS (
        |  SELECT cohort_date, count(DISTINCT user_id) AS cohort_size
        |  FROM cohorts GROUP BY 1),
        |ret AS (
        |  SELECT cohort_date, p, count(DISTINCT user_id) AS active_users
        |  FROM joined GROUP BY 1, 2)
        |SELECT r.cohort_date, CAST(r.p AS BIGINT) AS days_since,
        |  CAST(r.active_users AS BIGINT) AS active_users,
        |  CAST(s.cohort_size AS BIGINT) AS cohort_size,
        |  round(r.active_users * 100.0 / s.cohort_size, 1) AS retention_pct
        |FROM ret r JOIN sizes s ON r.cohort_date = s.cohort_date
        |ORDER BY 1, 2""".stripMargin,

    "q_cohort" ->
      """SELECT CAST(count(*) AS BIGINT) AS multi_type_users
        |FROM (SELECT user_id, count(DISTINCT event_type) AS value
        |      FROM events GROUP BY 1)
        |WHERE value >= 4""".stripMargin,

    "q_funnel_steps" ->
      """WITH flags AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s0,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s1,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s2
        |  FROM events GROUP BY 1),
        |counts AS (
        |  SELECT CAST(sum(CASE WHEN s0 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r0,
        |    CAST(sum(CASE WHEN s0 = 1 AND s1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |    CAST(sum(CASE WHEN s0 = 1 AND s1 = 1 AND s2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r2
        |  FROM flags)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS step, r0 AS entities,
        |    cast(r0 as double) / NULLIF(cast(r0 as double), 0) AS signup_funnel FROM counts
        |  UNION ALL SELECT 1, r1, cast(r1 as double) / NULLIF(cast(r0 as double), 0) FROM counts
        |  UNION ALL SELECT 2, r2, cast(r2 as double) / NULLIF(cast(r0 as double), 0) FROM counts)
        |ORDER BY step""".stripMargin,

    "q_offset_ratio" ->
      """SELECT order_date__month,
        |  cast(revenue as double)
        |    / NULLIF(cast(lag(revenue, 1) OVER (ORDER BY order_date__month) as double), 0)
        |    AS revenue_vs_prev_month
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin,

    "q_topn" ->
      """SELECT order_date__month, revenue FROM (
        |  SELECT order_date__month, revenue,
        |    row_number() OVER (ORDER BY revenue DESC, order_date__month) AS rn
        |  FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |          sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |        FROM orders GROUP BY 1))
        |WHERE rn <= 3 ORDER BY 1""".stripMargin,

    "q_tablecalc_pct" ->
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) * 100
        |    / cast(sum(sum(cast(o_totalprice as decimal(18,2)))) OVER () as double)
        |    AS revenue_share
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_tablecalc_running" ->
      """SELECT order_date__month, revenue,
        |  sum(revenue) OVER (ORDER BY order_date__month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_revenue
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin,

    "q_tablecalc_rank" ->
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  CAST(rank() OVER (ORDER BY sum(cast(o_totalprice as decimal(18,2))) DESC)
        |    AS BIGINT) AS revenue_rank
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_tablecalc_moving_avg" ->
      """SELECT order_date__month, revenue,
        |  round(avg(cast(revenue as double)) OVER (ORDER BY order_date__month
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS revenue_ma3
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin,

    "q_tablecalc_prev" ->
      """SELECT order_date__month, revenue,
        |  round((cast(revenue as double) - lag(cast(revenue as double))
        |      OVER (ORDER BY order_date__month)) * 100
        |    / nullif(lag(cast(revenue as double))
        |      OVER (ORDER BY order_date__month), 0), 4) AS revenue_mom_pct
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin,

    "q_tablecalc_coltotal" ->
      """SELECT orderstatus, orderpriority, revenue,
        |  round(cast(revenue as double) * 100
        |    / cast(sum(revenue) OVER (PARTITION BY orderstatus) as double), 4)
        |    AS revenue_status_share
        |FROM (SELECT o_orderstatus AS orderstatus,
        |        o_orderpriority AS orderpriority,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1, 2)
        |ORDER BY 1, 2""".stripMargin,

    "q_tablecalc_percentile" ->
      """SELECT orderpriority, revenue,
        |  round(percent_rank() OVER (ORDER BY revenue), 4) AS revenue_pctile
        |FROM (SELECT o_orderpriority AS orderpriority,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY orderpriority""".stripMargin,

    "q_tablecalc_pctvalue" ->
      """SELECT order_date__month, revenue,
        |  round(quantile_cont(cast(revenue as double), 0.9) OVER (), 4)
        |    AS revenue_p90
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin,

    "q_tablecalc_rownum" ->
      """SELECT order_date__month, revenue,
        |  CAST(row_number() OVER (ORDER BY order_date__month) AS BIGINT)
        |    AS row_num
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin,

    "q_tablecalc_formula" ->
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / nullif(count(*), 0), 4) AS avg_order_value
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // golden catalog-introspection document: per-model field counts
    // after the JSON round trip
    "q_describe_graph" ->
      """SELECT model, kind, CAST(n_dims AS BIGINT) AS n_dims,
        |  CAST(n_metrics AS BIGINT) AS n_metrics,
        |  CAST(n_rels AS BIGINT) AS n_rels, rels_omitted
        |FROM (VALUES
        |('customer', 'table', 3, 4, 2, false),
        |('events', 'table', 5, 11, 0, true),
        |('events_secured', 'table', 3, 2, 0, true),
        |('lineitem', 'table', 3, 11, 3, false),
        |('nation', 'table', 2, 1, 1, false),
        |('orders', 'table', 5, 20, 1, false),
        |('orders_secured', 'table', 2, 2, 0, true),
        |('part', 'table', 3, 2, 1, false),
        |('region', 'table', 2, 1, 0, true),
        |('supplier', 'table', 1, 2, 1, false)
        |) AS t(model, kind, n_dims, n_metrics, n_rels, rels_omitted)
        |ORDER BY model""".stripMargin,

    "q_timezone" ->
      """SELECT date_trunc('month',
        |    timezone('America/New_York', o_orderdate AT TIME ZONE 'UTC'))
        |    AS order_date__month,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dim_window" ->
      """SELECT event_type, next_event_type, count(*) AS event_count
        |FROM (SELECT event_type,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts)
        |          AS next_event_type
        |      FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_saved_query" ->
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_cross_join" ->
      """SELECT r.r_name AS name,
        |  count(DISTINCT n.n_nationkey) AS nation_count
        |FROM region r CROSS JOIN nation n
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_set_ops" ->
      """(SELECT c_mktsegment AS mktsegment FROM customer
        | EXCEPT
        | SELECT c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING')
        |UNION
        |SELECT c_mktsegment FROM customer WHERE c_mktsegment = 'MACHINERY'
        |ORDER BY mktsegment""".stripMargin,

    "q_inheritance" ->
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  sum(CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN cast(o_totalprice as decimal(18,2)) END) AS urgent_revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_visibility" ->
      """SELECT cast(1 as int) AS denied,
        |  cast((SELECT count(DISTINCT o_orderstatus) FROM orders) as bigint)
        |    AS visible_groups""".stripMargin,

    "q_sqlfront" ->
      """SELECT c.c_mktsegment AS mktsegment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sqlfront_having" ->
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders GROUP BY 1
        |HAVING sum(cast(o_totalprice as decimal(18,2))) > 70000000
        |ORDER BY 1""".stripMargin,

    "q_explore" ->
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sqlfront_cte" ->
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders GROUP BY 1
        |HAVING sum(cast(o_totalprice as decimal(18,2))) > 70000000
        |ORDER BY 1""".stripMargin,

    "q_sqlfront_metrics" ->
      """SELECT
        |  (SELECT sum(cast(o_totalprice as decimal(18,2))) FROM orders) AS revenue,
        |  cast((SELECT sum(cast(o_totalprice as decimal(18,2))) FROM orders) as double)
        |    / cast((SELECT count(*) FROM lineitem) as double) AS revenue_per_item""".stripMargin,

    "q_preagg_route" ->
      """SELECT o_orderstatus AS orderstatus,
        |  date_trunc('month', o_orderdate) AS order_date__month,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(o_totalprice) as double), 4) AS avg_order_value
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_preagg_explain" ->
      """SELECT candidate, CAST(matched AS BOOLEAN) AS matched,
        |  CAST(selected AS BOOLEAN) AS selected, "check",
        |  CAST(passed AS BOOLEAN) AS passed
        |FROM (VALUES
        |('daily', true, true, 'dimensions', true),
        |('daily', true, true, 'filters', true),
        |('daily', true, true, 'join_keys', true),
        |('daily', true, true, 'materialized', true),
        |('daily', true, true, 'measures', true),
        |('daily_by_customer', false, false, 'dimensions', false),
        |('daily_by_customer', false, false, 'filters', true),
        |('daily_by_customer', false, false, 'join_keys', true),
        |('daily_by_customer', false, false, 'materialized', true),
        |('daily_by_customer', false, false, 'measures', true)
        |) AS t(candidate, matched, selected, "check", passed)
        |ORDER BY candidate, "check"""".stripMargin,

    "q_preagg_join" ->
      """SELECT n.n_name AS name,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_cube" ->
      """SELECT o_orderstatus AS status,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS "count",
        |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(o_totalprice) as double), 4) AS avg_order_value
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_hex" ->
      """SELECT o_orderstatus AS status,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  sum(CASE WHEN o_orderstatus = 'completed'
        |      THEN cast(o_totalprice as decimal(18,2)) END) AS completed_revenue,
        |  round(cast(sum(IF(o_orderstatus = 'completed',
        |        cast(o_totalprice as decimal(18,2)), 0)) as double)
        |    / cast(sum(cast(o_totalprice as decimal(18,2))) as double), 4)
        |    AS conversion_rate
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_superset" ->
      """SELECT o_orderstatus AS status,
        |  count(*) AS "count",
        |  sum(cast(o_totalprice as decimal(18,2))) AS total_revenue,
        |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(cast(o_totalprice as decimal(18,2))) as double), 4)
        |    AS avg_order_value
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_rill" ->
      """SELECT CASE WHEN o_orderstatus = 'F' THEN 'completed'
        |            ELSE 'pending' END AS status,
        |  count(*) AS total_orders,
        |  sum(cast(o_totalprice as decimal(18,2))) AS total_revenue,
        |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(o_totalprice) as double), 4) AS avg_order_value,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS completed_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_lookml" ->
      """SELECT CASE WHEN o_orderstatus = 'F' THEN 'completed'
        |            ELSE 'pending' END AS status,
        |  count(*) AS "count",
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  sum(CASE WHEN o_orderstatus = 'F'
        |      THEN cast(o_totalprice as decimal(18,2)) END) AS completed_revenue,
        |  round(cast(sum(CASE WHEN o_orderstatus = 'F'
        |        THEN cast(o_totalprice as decimal(18,2)) END) as double)
        |    / cast(sum(cast(o_totalprice as decimal(18,2))) as double), 4)
        |    AS conversion_rate
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_tableau" ->
      """SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |  sum(cast(o_totalprice as decimal(18,2))) AS amount,
        |  count(o_orderkey) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_omni" ->
      """SELECT c.c_mktsegment AS country,
        |  count(*) AS "count",
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS total_revenue,
        |  round(cast(sum(cast(o.o_totalprice as decimal(18,2))) as double)
        |    / cast(count(cast(o.o_totalprice as decimal(18,2))) as double), 4)
        |    AS avg_order_value,
        |  sum(CASE WHEN o.o_orderstatus = 'F'
        |      THEN cast(o.o_totalprice as decimal(18,2)) END)
        |    AS completed_revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_metricflow" ->
      """SELECT c.c_mktsegment AS region,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  round(cast(sum(cast(o.o_totalprice as decimal(18,2))) as double)
        |    / cast(count(*) as double), 4) AS average_order_value
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_metricflow_pct" ->
      """SELECT o_orderstatus AS status,
        |  round(percentile_cont(0.9) WITHIN GROUP
        |    (ORDER BY cast(o_totalprice as double)), 4) AS amount_p90,
        |  round(percentile_disc(0.5) WITHIN GROUP
        |    (ORDER BY cast(o_totalprice as double)), 4) AS amount_med_disc
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_snowflake" ->
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(DISTINCT o.o_orderkey) AS order_count
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_osi" ->
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS total_revenue,
        |  count(DISTINCT o.o_orderkey) AS order_count
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_atscale" ->
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS total_amount,
        |  count(o.o_orderkey) AS order_count,
        |  round(cast(sum(cast(o.o_totalprice as decimal(18,2))) as double)
        |    / cast(count(o.o_orderkey) as double), 4) AS avg_order_value
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_gooddata" ->
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS amount,
        |  max(cast(o.o_totalprice as decimal(18,2))) AS max_amount
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_tmdl" ->
      """SELECT c.c_mktsegment AS Segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS total_sales,
        |  count(*) AS order_count,
        |  round(cast(sum(cast(o.o_totalprice as decimal(18,2))) as double)
        |    / cast(count(*) as double), 4) AS avg_sale
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_tmdl_dax" ->
      """SELECT OrderDate__month, total_sales,
        |  sum(total_sales) OVER (PARTITION BY date_trunc('year', OrderDate__month)
        |    ORDER BY OrderDate__month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sales_ytd,
        |  lag(total_sales, 12) OVER (ORDER BY OrderDate__month) AS sales_ly,
        |  big_sales,
        |  CASE WHEN total_sales > 50000000 THEN 'high'
        |       WHEN total_sales > 30000000 THEN 'mid'
        |       ELSE 'low' END AS sales_tier,
        |  round(CAST(CASE WHEN total_sales IS NULL THEN NULL
        |        ELSE big_sales / NULLIF(total_sales, 0) END AS DOUBLE), 4)
        |    AS safe_ratio,
        |  sum(total_sales) OVER (ORDER BY mkey
        |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS sales_r3m,
        |  rank() OVER (ORDER BY total_sales DESC) AS sales_rank,
        |  weighted_sales
        |FROM (SELECT date_trunc('month', o_orderdate) AS OrderDate__month,
        |        year(date_trunc('month', o_orderdate)) * 12
        |          + month(date_trunc('month', o_orderdate)) AS mkey,
        |        sum(cast(o_totalprice as decimal(18,2))) AS total_sales,
        |        sum(CASE WHEN cast(o_totalprice as decimal(18,2)) > 50000
        |            THEN cast(o_totalprice as decimal(18,2)) END) AS big_sales,
        |        sum(cast(o_totalprice as decimal(18,2)) * 2) AS weighted_sales
        |      FROM orders GROUP BY 1, 2)
        |ORDER BY 1""".stripMargin,

    "q_adapter_thoughtspot" ->
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(DISTINCT o.o_orderkey) AS order_count,
        |  sum(cast(o.o_totalprice as decimal(18,2)) * 2) AS double_revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_bsl" ->
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  count(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS final_count
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_holistics" ->
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(o.o_orderkey) AS order_count,
        |  round(cast(sum(cast(o.o_totalprice as decimal(18,2))) as double)
        |    / cast(nullif(count(o.o_orderkey), 0) as double), 4) AS aov
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_malloy" ->
      """SELECT c.c_mktsegment AS region,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  count(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS final_orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_adapter_graphene" ->
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  sum(CASE WHEN o.o_orderstatus = 'F'
        |      THEN cast(o.o_totalprice as decimal(18,2)) ELSE 0 END)
        |    AS final_revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sql_ddl" ->
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  sum(CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN cast(o_totalprice as decimal(18,2)) END) AS urgent_revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_table_scan" ->
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_derived_table" ->
      """SELECT o_orderpriority AS priority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM (SELECT * FROM orders WHERE o_totalprice > 150000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_hierarchy_drill" ->
      """SELECT year(o_orderdate) AS order_year,
        |  month(o_orderdate) AS order_month,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // metadata listing — the governance-filtered inventory is data; the
    // oracle pins the expected surviving rows literally
    "q_governance" ->
      """SELECT * FROM (VALUES
        |  ('gv_orders', 'draft_margin', '', 'draft', 'uncertified', 'public'),
        |  ('gv_orders', 'revenue', 'finance-team', 'active', 'certified', 'public'))
        |AS t(model, metric, owner, status, certification, visibility)
        |ORDER BY model, metric""".stripMargin,

    // freshness probes: MAX(watermark) age vs ttl at a fixed asOf
    "q_freshness" ->
      """SELECT * FROM (
        |  SELECT 'fr_events' AS name, max(ts) AS watermark,
        |    date_diff('second', max(ts), TIMESTAMP '2024-02-01 00:00:00') AS age_seconds,
        |    CAST(3600 AS BIGINT) AS ttl_seconds,
        |    date_diff('second', max(ts), TIMESTAMP '2024-02-01 00:00:00') <= 3600 AS is_fresh
        |  FROM events
        |  UNION ALL
        |  SELECT 'fr_orders' AS name, max(o_orderdate) AS watermark,
        |    date_diff('second', max(o_orderdate), TIMESTAMP '2024-02-01 00:00:00') AS age_seconds,
        |    CAST(365 * 86400 * 30 AS BIGINT) AS ttl_seconds,
        |    date_diff('second', max(o_orderdate), TIMESTAMP '2024-02-01 00:00:00') <= 365 * 86400 * 30 AS is_fresh
        |  FROM orders
        |) ORDER BY name""".stripMargin,

    "q_incremental_refresh" ->
      """SELECT o_orderstatus AS orderstatus,
        |  date_trunc('month', o_orderdate) AS order_date__month,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_bootstrap" ->
      """SELECT c_mktsegment,
        |  count(*) AS row_count,
        |  round(sum(c_acctbal), 4) AS total_c_acctbal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_yaml_load" ->
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // static golden: the fixture tree is authored by the query itself,
    // so the attribution table is a deterministic constant
    "q_load_project" ->
      """SELECT * FROM (VALUES
        |  ('OSI/lp.json', 'osi', CAST(1 AS BIGINT)),
        |  ('README.md', 'skipped', 0),
        |  ('cube_sales.yml', 'cube', 1),
        |  ('detail.sql', 'native-sql', 1),
        |  ('hex_model.yml', 'hex', 1),
        |  ('measures.sql', 'yardstick', 1),
        |  ('mf_models.yml', 'metricflow', 1),
        |  ('native_orders.yml', 'native', 1),
        |  ('rill_view.yaml', 'rill', 1),
        |  ('target/osi_document.json', 'skipped', 0),
        |  ('views/lp.lkml', 'lookml', 1)
        |) AS t(path, format, n_models) ORDER BY path""".stripMargin,

    "q_composite_agg" ->
      """SELECT orderstatus,
        |  round(cast(sum(acct) as double)
        |    / cast(count(DISTINCT ck) as double), 4) AS bal_per_customer
        |FROM (SELECT DISTINCT o.o_orderstatus AS orderstatus,
        |        c.c_custkey AS ck, cast(c.c_acctbal as decimal(18,2)) AS acct
        |      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_extract" ->
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
        |    AS urgent_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_streaming_rollup" ->
      """SELECT o_orderstatus AS orderstatus,
        |  date_trunc('month', o_orderdate) AS order_date__month,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // graph/diagnostics/recommender queries emit metadata as data; their
    // oracles pin the expected rows literally
    "q_join_path" ->
      """SELECT * FROM (VALUES
        |  (1, 'orders', 'customer', 'o_custkey', 'c_custkey', false),
        |  (2, 'customer', 'nation', 'c_nationkey', 'n_nationkey', false),
        |  (3, 'nation', 'region', 'n_regionkey', 'r_regionkey', false))
        |AS t(step, from_model, to_model, from_key, to_key, fan_out)
        |ORDER BY step""".stripMargin,

    "q_explain_route" ->
      """SELECT * FROM (VALUES
        |  ('cumulative', 'window'),
        |  ('fanout_symmetric', 'symmetric-dedup'),
        |  ('multi_fact', 'multi-fact-split'),
        |  ('simple_agg', 'standard'))
        |AS t(query_shape, route)
        |ORDER BY query_shape""".stripMargin,

    "q_recommender" ->
      """SELECT * FROM (VALUES
        |  ('recommended_orders', 'order_count,revenue',
        |   'orderpriority,orderstatus', 'order_date', 'day', 2))
        |AS t(name, measures, dimensions, time_dimension, granularity, hits)""".stripMargin,

    "q_yardstick" ->
      """WITH g AS (
        |  SELECT year(o_orderdate) AS oyear, o_orderpriority,
        |    sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |    count(*) AS order_count
        |  FROM orders GROUP BY 1, 2)
        |SELECT g.oyear, g.o_orderpriority, g.revenue, g.order_count,
        |  (SELECT sum(g2.revenue) FROM g g2
        |     WHERE g2.oyear = g.oyear) AS year_total,
        |  (SELECT g3.revenue FROM g g3
        |     WHERE g3.oyear = g.oyear - 1
        |       AND g3.o_orderpriority = g.o_orderpriority) AS prior_year
        |FROM g ORDER BY oyear, o_orderpriority""".stripMargin,

    "q_security" ->
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // full Bloom replay: rebuild the word table from md5 hashes, rejoin
    // the probes, re-derive every verdict — nothing is pinned
    "q_bloom_gate" ->
      """WITH corpus AS (SELECT text FROM documents WHERE doc_id < 400),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 10
        |  UNION ALL
        |  SELECT doc_id + 9000, text || ' fresh tail'
        |  FROM documents WHERE doc_id < 10),
        |cbits AS (
        |  SELECT ('0x'||substr(md5('b:'||text),1,8))::BIGINT % 8 AS bucket,
        |    ('0x'||substr(md5(i||':'||text),1,8))::BIGINT % 4096 AS pos
        |  FROM corpus, unnest([0,1,2]) AS u(i)),
        |bloom AS (
        |  SELECT bucket, pos // 63 AS word,
        |    bit_or(1::BIGINT << (pos % 63)::INT) AS bits
        |  FROM cbits GROUP BY 1, 2),
        |pbits AS (
        |  SELECT doc_id,
        |    ('0x'||substr(md5('b:'||text),1,8))::BIGINT % 8 AS bucket,
        |    ('0x'||substr(md5(i||':'||text),1,8))::BIGINT % 4096 AS pos
        |  FROM batch, unnest([0,1,2]) AS u(i))
        |SELECT p.doc_id, bool_and(
        |    (coalesce(b.bits, 0) & (1::BIGINT << (p.pos % 63)::INT)) <> 0)
        |  AS maybe_dup
        |FROM pbits p LEFT JOIN bloom b
        |  ON b.bucket = p.bucket AND b.word = p.pos // 63
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // occupancy re-derived from the same replayed word table
    "q_bloom_occupancy" ->
      """WITH cbits AS (
        |  SELECT ('0x'||substr(md5('b:'||text),1,8))::BIGINT % 8 AS bucket,
        |    ('0x'||substr(md5(i||':'||text),1,8))::BIGINT % 4096 AS pos
        |  FROM (SELECT text FROM documents WHERE doc_id < 400),
        |    unnest([0,1,2]) AS u(i)),
        |bloom AS (
        |  SELECT bucket, pos // 63 AS word,
        |    bit_or(1::BIGINT << (pos % 63)::INT) AS bits
        |  FROM cbits GROUP BY 1, 2)
        |SELECT CAST(count(DISTINCT bucket) AS BIGINT) AS buckets,
        |  CAST(count(*) AS BIGINT) AS words,
        |  CAST(sum(bit_count(bits)) AS BIGINT) AS set_bits,
        |  round(sum(bit_count(bits)) / (4096.0 * 8), 6) AS fill_ratio
        |FROM bloom""".stripMargin,

    "q_route_receipt" ->
      """SELECT cast(sum(c) AS BIGINT) AS n_rows,
        |  cast(count(*) AS BIGINT) AS families,
        |  cast(max(c) AS BIGINT) AS max_family,
        |  cast(sum(c - 1) AS BIGINT) AS dup_rows,
        |  cast(sum(CASE WHEN c > 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS overcap_families,
        |  cast(sum(CASE WHEN c > 2 THEN c - 1 ELSE 0 END) AS BIGINT)
        |    AS overcap_rows_dropped
        |FROM (SELECT count(*) AS c FROM documents
        |      WHERE text IS NOT NULL GROUP BY text)""".stripMargin,

    "q_route_receipt_vec" ->
      """SELECT cast(sum(c) AS BIGINT) AS n_rows,
        |  cast(count(*) AS BIGINT) AS families,
        |  cast(max(c) AS BIGINT) AS max_family,
        |  cast(sum(c - 1) AS BIGINT) AS dup_rows,
        |  cast(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS overcap_families,
        |  cast(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
        |    AS overcap_rows_dropped
        |FROM (SELECT count(*) AS c FROM (
        |        SELECT embedding FROM embeddings WHERE embedding IS NOT NULL
        |        UNION ALL
        |        SELECT embedding FROM embeddings
        |        WHERE embedding IS NOT NULL AND vec_id < 20)
        |      GROUP BY embedding)""".stripMargin,

    "q_dedup_exact" ->
      """SELECT source, count(*) AS n_docs
        |FROM (SELECT * FROM (
        |        SELECT *, row_number() OVER (PARTITION BY sha256(text)
        |          ORDER BY doc_id) AS rn
        |        FROM documents)
        |      WHERE rn = 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH grams AS (
        |  SELECT source AS block, doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(length(text) - 3, 1) + 1),
        |      i -> substr(text, i, 4))) AS g
        |  FROM documents WHERE doc_id < 200)
        |SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b,
        |  cast(len(list_intersect(a.g, b.g)) as double)
        |    / cast(len(list_distinct(list_concat(a.g, b.g))) as double) AS jaccard
        |FROM grams a JOIN grams b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE cast(len(list_intersect(a.g, b.g)) as double)
        |    / cast(len(list_distinct(list_concat(a.g, b.g))) as double) >= 0.25
        |ORDER BY 1, 2, 3""".stripMargin,

    // golden pins for the four pairwise-approximate ops: banded-LSH
    // candidate sets have no tractable DuckDB twin, but the outputs are
    // fully deterministic (xxhash64 hash families, decimal/rounded
    // scores), so each oracle pins the expected sf0.01 result literally
    // -- silent drift in any LSH path turns the row red
    "q_dup_clusters" ->
      """WITH RECURSIVE grams AS (
        |  SELECT source AS block, doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(length(text) - 3, 1) + 1),
        |      i -> substr(text, i, 4))) AS g
        |  FROM documents WHERE doc_id < 200),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM grams a JOIN grams b ON a.block = b.block AND a.doc_id < b.doc_id
        |  WHERE cast(len(list_intersect(a.g, b.g)) as double)
        |      / cast(len(list_distinct(list_concat(a.g, b.g))) as double) >= 0.25),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id)
        |SELECT CAST(id AS BIGINT) AS id,
        |  CAST(min(label) AS BIGINT) AS cluster_id
        |FROM walk GROUP BY id ORDER BY id""".stripMargin,

    "q_dedup_apply" ->
      """WITH RECURSIVE grams AS (
        |  SELECT source AS block, doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(length(text) - 3, 1) + 1),
        |      i -> substr(text, i, 4))) AS g
        |  FROM documents WHERE doc_id < 200),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM grams a JOIN grams b ON a.block = b.block AND a.doc_id < b.doc_id
        |  WHERE cast(len(list_intersect(a.g, b.g)) as double)
        |      / cast(len(list_distinct(list_concat(a.g, b.g))) as double) >= 0.25),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id)
        |SELECT source, count(*) AS n_docs
        |FROM documents
        |WHERE doc_id < 200 AND doc_id NOT IN (
        |  SELECT id FROM walk GROUP BY id HAVING id <> min(label))
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_dedup_apply_collapsed" ->
      """SELECT source, CAST(n_docs AS BIGINT) AS n_docs
        |FROM (VALUES
        |('src0', 24),
        |('src1', 24),
        |('src10', 23),
        |('src11', 25),
        |('src12', 24),
        |('src13', 23),
        |('src14', 23),
        |('src15', 24),
        |('src16', 25),
        |('src17', 23),
        |('src18', 24),
        |('src19', 25),
        |('src2', 24),
        |('src3', 23),
        |('src4', 25),
        |('src5', 23),
        |('src6', 23),
        |('src7', 22),
        |('src8', 25),
        |('src9', 24)
        |) AS t(source, n_docs)
        |ORDER BY source""".stripMargin,

    "q_line_dedup" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    concat('NAVIGATION MENU HOME ABOUT CONTACT', chr(10), text,
        |      CASE WHEN doc_id % 2 = 0
        |        THEN concat(chr(10), 'Copyright Example Corp All Rights Reserved 2024')
        |        ELSE '' END) AS t
        |  FROM documents WHERE doc_id < 60),
        |ls AS (SELECT doc_id, string_split(t, chr(10)) AS arr FROM raw),
        |lines AS (
        |  SELECT doc_id, pos, arr[pos] AS line FROM (
        |    SELECT doc_id, arr,
        |      unnest(generate_series(1, len(arr))) AS pos
        |    FROM ls)),
        |offenders AS (
        |  SELECT trim(line) AS k FROM lines
        |  WHERE len(trim(line)) >= 10
        |  GROUP BY 1 HAVING count(*) > 2),
        |tagged AS (
        |  SELECT l.*,
        |    (len(trim(l.line)) >= 10 AND trim(l.line) IN (SELECT k FROM offenders)) AS dropped
        |  FROM lines l)
        |SELECT doc_id,
        |  coalesce(string_agg(line, chr(10) ORDER BY pos)
        |    FILTER (WHERE NOT dropped), '') AS clean_text,
        |  count(*) AS n_lines,
        |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM tagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_incremental_new" ->
      """WITH corpus AS (SELECT text FROM documents WHERE doc_id < 800),
        |batch AS (
        |  SELECT doc_id, text, n_chars FROM documents WHERE doc_id >= 800
        |  UNION ALL
        |  SELECT doc_id + 10000, text, n_chars FROM documents WHERE doc_id < 40)
        |SELECT b.doc_id, b.n_chars FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
        |ORDER BY doc_id""".stripMargin,

    "q_domain_profile" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    concat(text, CASE WHEN doc_id % 3 = 0
        |      THEN concat(' see https://site', cast(doc_id % 7 AS VARCHAR),
        |        '.example.com/page/', cast(doc_id AS VARCHAR),
        |        ' and http://mirror.example.org/x ok')
        |      ELSE '' END) AS t
        |  FROM documents WHERE doc_id < 200),
        |urls AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(t, 'https?://[^\s]+')) AS u
        |  FROM raw),
        |hosts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(u, 'https?://([^/:?#\s]+)', 1)) AS domain
        |  FROM urls),
        |dd AS (
        |  SELECT doc_id, domain, count(*) AS m FROM hosts
        |  WHERE len(domain) > 0 GROUP BY 1, 2)
        |SELECT domain, count(*) AS n_docs, CAST(sum(m) AS BIGINT) AS n_mentions
        |FROM dd GROUP BY domain ORDER BY domain""".stripMargin,

    "q_redact" ->
      """WITH raw AS (
        |  SELECT doc_id, concat(text,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN concat(' contact user', cast(doc_id AS VARCHAR), '@example.com now')
        |      ELSE '' END,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN concat(' see https://example.org/d/', cast(doc_id AS VARCHAR), ' ok')
        |      ELSE '' END) AS t
        |  FROM documents WHERE doc_id < 60)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g') AS clean,
        |  len(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g')) AS n_clean
        |FROM raw ORDER BY doc_id""".stripMargin,

    "q_lm_score" ->
      """WITH tok AS (
        |  SELECT doc_id, pos, arr[pos] AS w FROM (
        |    SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0) AS arr,
        |      unnest(generate_series(1, len(list_filter(
        |        string_split_regex(lower(text), '\s+'), x -> len(x) > 0)))) AS pos
        |    FROM documents WHERE doc_id % 10 < 8)),
        |train_bi AS (
        |  SELECT doc_id, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |    w AS w2
        |  FROM tok QUALIFY w1 IS NOT NULL),
        |bi AS (SELECT w1, w2, count(*) AS cb FROM train_bi GROUP BY 1, 2),
        |uni AS (SELECT w1 AS w, count(*) AS cu FROM train_bi GROUP BY 1),
        |tot AS (SELECT count(*) AS t FROM train_bi),
        |stok AS (
        |  SELECT doc_id, pos, arr[pos] AS w FROM (
        |    SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '\s+'),
        |        x -> len(x) > 0) AS arr,
        |      unnest(generate_series(1, len(list_filter(
        |        string_split_regex(lower(text), '\s+'), x -> len(x) > 0)))) AS pos
        |    FROM documents WHERE doc_id < 40)),
        |score_bi AS (
        |  SELECT doc_id, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |    w AS w2
        |  FROM stok QUALIFY w1 IS NOT NULL),
        |scored AS (
        |  SELECT s.doc_id,
        |    log10(CASE WHEN b.cb IS NOT NULL
        |      THEN cast(b.cb AS DOUBLE) / u1.cu
        |      ELSE 0.4 * (cast(coalesce(u2.cu, 0) AS DOUBLE) + 1.0) / tot.t
        |      END) AS p10
        |  FROM score_bi s
        |  LEFT JOIN bi b ON b.w1 = s.w1 AND b.w2 = s.w2
        |  LEFT JOIN uni u1 ON u1.w = s.w1
        |  LEFT JOIN uni u2 ON u2.w = s.w2
        |  CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(cast(sum(cast(p10 AS DECIMAL(30,12))) / count(*) AS DOUBLE), 4)
        |    AS avg_log10_p
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_domain_filter" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    concat(text, CASE WHEN doc_id % 3 = 0
        |      THEN concat(' via https://site', cast(doc_id % 7 AS VARCHAR),
        |        '.example.com/p/', cast(doc_id AS VARCHAR))
        |      ELSE '' END) AS t
        |  FROM documents WHERE doc_id < 200),
        |hosts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(u, 'https?://([^/:?#\s]+)', 1)) AS domain
        |  FROM (SELECT doc_id,
        |          unnest(regexp_extract_all(t, 'https?://[^\s]+')) AS u
        |        FROM raw)),
        |bad AS (
        |  SELECT DISTINCT doc_id FROM hosts
        |  WHERE domain IN ('site1.example.com', 'site4.example.com'))
        |SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM raw WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,

    "q_shuffle" ->
      """SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY md5(concat('epoch0', ':', cast(doc_id AS VARCHAR))),
        |      doc_id) - 1 AS train_pos
        |FROM documents WHERE doc_id < 80 ORDER BY doc_id""".stripMargin,

    "q_semantic_docs" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(lower(text), '\s+')) AS n_tokens,
        |    least(1.0, cast(len(string_split_regex(lower(text), '\s+')) as double) / 20) * 0.4
        |      + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) as double) / length(text)) * 5)) * 0.2
        |      + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) as double) / length(text)) * 5)) * 0.2
        |      + least(1.0, (cast(len(list_intersect(list_distinct(string_split_regex(lower(text), '\s+')), ['the','and','of','to','a','in','is','it','you','that'])) as double) / len(list_distinct(string_split_regex(lower(text), '\s+')))) * 4) * 0.2
        |      AS quality_score
        |  FROM documents)
        |SELECT lang, count(*) AS doc_count,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(avg(quality_score), 4) AS avg_quality,
        |  count(*) FILTER (WHERE quality_score >= 0.8) AS high_quality_docs
        |FROM q GROUP BY lang ORDER BY lang""".stripMargin,

    "q_edit_distance" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance
        |FROM documents a JOIN documents b
        |  ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE a.doc_id < 150 AND b.doc_id < 150
        |  AND levenshtein(a.text, b.text) <= 40
        |ORDER BY id_a, id_b""".stripMargin,

    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
        |n AS (SELECT doc_id,
        |        CASE WHEN doc_id BETWEEN 150 AND 199
        |          THEN text || ' edited in v2' ELSE text END AS text
        |      FROM documents WHERE doc_id >= 100 AND doc_id < 600),
        |d AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
        |               WHEN n.doc_id IS NULL THEN 'removed'
        |               WHEN o.text <> n.text THEN 'changed'
        |               ELSE 'unchanged' END AS status
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT status, count(*) AS n_docs FROM d
        |GROUP BY status ORDER BY status""".stripMargin,

    // 8 corrupt lines planted (after docs 5,11,17,23,29,35,41,47); the
    // good-row aggregates must reconcile against the source table exactly
    "q_jsonl_ingest" ->
      """SELECT count(*) AS n_good, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, CAST(8 AS BIGINT) AS n_quarantined
        |FROM documents WHERE doc_id < 50""".stripMargin,

    "q_quality_quantiles" ->
      """WITH q AS (
        |  SELECT least(1.0, cast(len(string_split_regex(lower(text), '\s+')) as double) / 20) * 0.4
        |    + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) as double) / length(text)) * 5)) * 0.2
        |    + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) as double) / length(text)) * 5)) * 0.2
        |    + least(1.0, (cast(len(list_intersect(list_distinct(string_split_regex(lower(text), '\s+')), ['the','and','of','to','a','in','is','it','you','that'])) as double) / len(list_distinct(string_split_regex(lower(text), '\s+')))) * 4) * 0.2
        |    AS qs
        |  FROM documents)
        |SELECT count(*) AS n_docs,
        |  round(quantile_cont(qs, 0.5), 4) AS p50,
        |  round(quantile_cont(qs, 0.9), 4) AS p90,
        |  round(quantile_cont(qs, 0.99), 4) AS p99,
        |  TRUE AS sketch_p50_ok
        |FROM q""".stripMargin,

    // count(DISTINCT text) in the twin equals the engine's hashed
    // distinct unless xxhash64 collides on this corpus — an exact-match
    // gate, so a collision would turn the row red, not hide
    "q_corpus_report" ->
      """WITH feats AS (
        |  SELECT doc_id, text, lang,
        |    len(string_split_regex(lower(text), '\s+')) AS toks,
        |    (len(regexp_extract_all(text,
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
        |     OR len(regexp_extract_all(text, 'https?://[^\s]+')) > 0)
        |      AS pii
        |  FROM documents),
        |g AS (
        |  SELECT count(*) AS n_docs,
        |    count(DISTINCT text) AS n_distinct_texts,
        |    CAST(sum(toks) AS BIGINT) AS total_ws_tokens,
        |    round(avg(len(text)), 4) AS avg_chars,
        |    count(DISTINCT lang) AS n_langs,
        |    CAST(sum(CASE WHEN pii THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs
        |  FROM feats),
        |top AS (
        |  SELECT lang AS top_lang, count(*) AS top_lang_docs
        |  FROM feats GROUP BY 1
        |  ORDER BY count(*) DESC, lang LIMIT 1)
        |SELECT n_docs, n_distinct_texts,
        |  round(1.0 - cast(n_distinct_texts AS DOUBLE) / n_docs, 6)
        |    AS exact_dup_ratio,
        |  total_ws_tokens, avg_chars, n_langs, n_pii_docs,
        |  top_lang, top_lang_docs
        |FROM g CROSS JOIN top""".stripMargin,

    "q_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS token
        |  FROM documents WHERE doc_id < 30),
        |dt AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS doc_freq FROM dt GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS nd
        |      FROM documents WHERE doc_id < 30),
        |scored AS (
        |  SELECT dt.doc_id, dt.token, dt.tf, dfq.doc_freq,
        |    dt.tf * ln((n.nd + 1.0) / (dfq.doc_freq + 1.0)) AS raw
        |  FROM dt JOIN dfq USING (token) CROSS JOIN n)
        |SELECT doc_id, term_rank, token, tf, doc_freq,
        |  round(raw, 6) AS tfidf
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY raw DESC, token) AS term_rank
        |      FROM scored)
        |WHERE term_rank <= 5 ORDER BY doc_id, term_rank""".stripMargin,

    // golden pin: the learn loop is iterative (argmax per round) — no
    // closed-form SQL twin exists; the sequence is deterministic by the
    // (count desc, pair asc) tie-break, so any drift turns this red
    "q_bpe_merges" ->
      """SELECT CAST(merge_rank AS INT) AS merge_rank,
        |  CAST(l AS VARCHAR) AS "left", CAST(r AS VARCHAR) AS "right",
        |  CAST(pair_count AS BIGINT) AS pair_count FROM (VALUES
        |(1, 'e', 'r', 2761),
        |(2, 'o', 'w', 1620),
        |(3, 'i', 'n', 1619),
        |(4, 'o', 'r', 1601),
        |(5, 's', 't', 1599),
        |(6, 'a', 'l', 1125),
        |(7, 'a', 't', 1115),
        |(8, 'm', 'er', 1112),
        |(9, 'a', 'r', 1036),
        |(10, 'p', 'ar', 1036),
        |(11, 'a', 's', 592),
        |(12, 'as', 'h', 592)
        |) AS t(merge_rank, l, r, pair_count)
        |ORDER BY merge_rank""".stripMargin,

    "q_bpe_encode" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens FROM (VALUES
        |(0, 32, 100), (1, 72, 265), (2, 45, 167), (3, 27, 95),
        |(4, 45, 163), (5, 56, 211), (6, 15, 53), (7, 72, 257),
        |(8, 84, 307), (9, 74, 248), (10, 39, 138), (11, 58, 183),
        |(12, 65, 216), (13, 60, 220), (14, 87, 325), (15, 41, 151),
        |(16, 16, 64), (17, 77, 277), (18, 75, 277), (19, 11, 40),
        |(20, 68, 251), (21, 37, 132), (22, 81, 305), (23, 30, 107),
        |(24, 97, 333), (25, 94, 320), (26, 12, 43), (27, 64, 236),
        |(28, 60, 222), (29, 34, 128)
        |) AS t(doc_id, n_words, n_bpe_tokens)
        |ORDER BY doc_id""".stripMargin,

    // golden pin: 20 planted one-token-suffix re-entries (probe 0..19 →
    // corpus twin) plus the one organic corpus near-dup (8, 245)
    "q_decontaminate" ->
      """SELECT CAST(corpus_id AS BIGINT) AS corpus_id,
        |  CAST(probe_id AS BIGINT) AS probe_id,
        |  CAST(jaccard AS DOUBLE) AS jaccard FROM (VALUES
        |(0, 0, 0.882353), (1, 1, 0.945946), (2, 2, 0.914894),
        |(3, 3, 0.862069), (4, 4, 0.914894), (5, 5, 0.931034),
        |(6, 6, 0.764706), (7, 7, 0.945946), (8, 8, 0.953488),
        |(245, 8, 0.94186), (9, 9, 0.947368), (10, 10, 0.902439),
        |(11, 11, 0.933333), (12, 12, 0.940299), (13, 13, 0.935484),
        |(14, 14, 0.955056), (15, 15, 0.906977), (16, 16, 0.777778),
        |(17, 17, 0.949367), (18, 18, 0.948052), (19, 19, 0.692308)
        |) AS t(corpus_id, probe_id, jaccard)
        |ORDER BY probe_id, corpus_id""".stripMargin,

    "q_decontaminate_gated" ->
      """SELECT CAST(corpus_id AS BIGINT) AS corpus_id,
        |  CAST(probe_id AS BIGINT) AS probe_id,
        |  CAST(jaccard AS DOUBLE) AS jaccard FROM (VALUES
        |(0, 0, 0.882353), (1, 1, 0.945946), (2, 2, 0.914894),
        |(3, 3, 0.862069), (4, 4, 0.914894), (5, 5, 0.931034),
        |(6, 6, 0.764706), (7, 7, 0.945946), (8, 8, 0.953488),
        |(245, 8, 0.94186), (9, 9, 0.947368), (10, 10, 0.902439),
        |(11, 11, 0.933333), (12, 12, 0.940299), (13, 13, 0.935484),
        |(14, 14, 0.955056), (15, 15, 0.906977), (16, 16, 0.777778),
        |(17, 17, 0.949367), (18, 18, 0.948052), (19, 19, 0.692308)
        |) AS t(corpus_id, probe_id, jaccard)
        |ORDER BY probe_id, corpus_id""".stripMargin,

    "q_dedup_minhash" ->
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(jaccard AS DOUBLE) AS jaccard
        |FROM (VALUES
        |(8, 245, 0.9878),
        |(26, 455, 0.9),
        |(31, 383, 0.9762),
        |(44, 446, 0.9565),
        |(45, 267, 0.974),
        |(45, 413, 0.987),
        |(58, 293, 0.9857),
        |(61, 185, 0.9825),
        |(70, 447, 0.9891),
        |(72, 377, 0.9756),
        |(87, 134, 0.9545),
        |(92, 450, 0.9583),
        |(98, 290, 0.9891),
        |(107, 387, 0.9737),
        |(120, 332, 0.9714),
        |(152, 178, 0.973),
        |(166, 323, 0.9833),
        |(267, 413, 0.9868),
        |(285, 301, 0.9891),
        |(295, 374, 0.9667),
        |(310, 389, 0.9615),
        |(326, 457, 0.9714),
        |(393, 420, 0.9873),
        |(435, 486, 0.9667),
        |(458, 462, 0.9828))
        |t(id_a, id_b, jaccard)""".stripMargin,

    "q_image_neardup" ->
      """SELECT CAST(doc_id AS BIGINT) AS id_a,
        |       CAST(doc_id + 100000 AS BIGINT) AS id_b
        |FROM documents WHERE doc_id < 40 ORDER BY 1, 2""".stripMargin,

    "q_dedup_minhash_collapsed" ->
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(jaccard AS DOUBLE) AS jaccard, CAST(dups_a AS BIGINT) AS dups_a, CAST(dups_b AS BIGINT) AS dups_b
        |FROM (VALUES
        |(8, 245, 0.9878, 2, 1),
        |(26, 455, 0.9, 2, 1),
        |(31, 383, 0.9762, 1, 1),
        |(44, 446, 0.9565, 1, 1),
        |(45, 267, 0.974, 1, 1),
        |(45, 413, 0.987, 1, 1),
        |(58, 293, 0.9857, 1, 1),
        |(61, 185, 0.9825, 1, 1),
        |(70, 447, 0.9891, 1, 1),
        |(72, 377, 0.9756, 1, 1),
        |(87, 134, 0.9545, 1, 1),
        |(92, 450, 0.9583, 1, 1),
        |(98, 290, 0.9891, 1, 1),
        |(107, 387, 0.9737, 1, 1),
        |(120, 332, 0.9714, 1, 1),
        |(152, 178, 0.973, 1, 1),
        |(166, 323, 0.9833, 1, 1),
        |(267, 413, 0.9868, 1, 1),
        |(285, 301, 0.9891, 1, 1),
        |(295, 374, 0.9667, 1, 1),
        |(310, 389, 0.9615, 1, 1),
        |(326, 457, 0.9714, 1, 1),
        |(393, 420, 0.9873, 1, 1),
        |(435, 486, 0.9667, 1, 1),
        |(458, 462, 0.9828, 1, 1)
        |) AS t(id_a, id_b, jaccard, dups_a, dups_b)
        |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_simhash" ->
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(hamming AS BIGINT) AS hamming
        |FROM (VALUES
        |(8, 245, 2),
        |(45, 413, 3),
        |(58, 293, 0),
        |(61, 185, 0),
        |(70, 447, 1),
        |(76, 102, 2),
        |(98, 290, 2),
        |(107, 387, 1),
        |(120, 332, 3),
        |(166, 323, 3),
        |(251, 473, 3),
        |(267, 413, 2),
        |(285, 301, 0),
        |(326, 457, 2),
        |(393, 420, 0),
        |(435, 486, 3),
        |(458, 462, 2))
        |t(id_a, id_b, hamming)""".stripMargin,

    "q_dedup_simhash_collapsed" ->
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(hamming AS BIGINT) AS hamming, CAST(dups_a AS BIGINT) AS dups_a, CAST(dups_b AS BIGINT) AS dups_b
        |FROM (VALUES
        |(8, 245, 2, 2, 1),
        |(45, 413, 3, 1, 1),
        |(58, 293, 0, 1, 1),
        |(61, 185, 0, 1, 1),
        |(70, 447, 1, 1, 1),
        |(76, 102, 2, 1, 1),
        |(98, 290, 2, 1, 1),
        |(107, 387, 1, 1, 1),
        |(120, 332, 3, 1, 1),
        |(166, 323, 3, 1, 1),
        |(251, 473, 3, 1, 1),
        |(267, 413, 2, 1, 1),
        |(285, 301, 0, 1, 1),
        |(326, 457, 2, 1, 1),
        |(393, 420, 0, 1, 1),
        |(435, 486, 3, 1, 1),
        |(458, 462, 2, 1, 1)
        |) AS t(id_a, id_b, hamming, dups_a, dups_b)
        |ORDER BY id_a, id_b""".stripMargin,

    "q_ann_lsh" ->
      """SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id, CAST(cosine AS DOUBLE) AS cosine, CAST(rank AS BIGINT) AS rank
        |FROM (VALUES
        |(0, 73, 0.295434, 5),
        |(0, 334, 0.362722, 2),
        |(0, 365, 0.369994, 1),
        |(0, 387, 0.331139, 3),
        |(0, 423, 0.296934, 4),
        |(1, 27, 0.348208, 2),
        |(1, 64, 0.316374, 5),
        |(1, 195, 0.322744, 4),
        |(1, 386, 0.371485, 1),
        |(1, 407, 0.32701, 3),
        |(2, 117, 0.318143, 1),
        |(2, 145, 0.263494, 3),
        |(2, 188, 0.263272, 4),
        |(2, 320, 0.255043, 5),
        |(2, 450, 0.266344, 2),
        |(3, 130, 0.399872, 1),
        |(3, 149, 0.329934, 2),
        |(3, 174, 0.303548, 4),
        |(3, 231, 0.298788, 5),
        |(3, 343, 0.308472, 3),
        |(4, 114, 0.398513, 1),
        |(4, 280, 0.279826, 5),
        |(4, 408, 0.322753, 3),
        |(4, 482, 0.313897, 4),
        |(4, 496, 0.341212, 2))
        |t(query_id, neighbor_id, cosine, rank)""".stripMargin,

    "q_embedding_neardup" ->
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(cosine AS DOUBLE) AS cosine
        |FROM (VALUES
        |(0, 100000, 0.969705),
        |(1, 100001, 0.969725),
        |(2, 100002, 0.970326),
        |(3, 100003, 0.969653),
        |(4, 100004, 0.969105),
        |(5, 100005, 0.968575),
        |(6, 100006, 0.970227),
        |(7, 100007, 0.969181),
        |(8, 100008, 0.969561),
        |(9, 100009, 0.970363),
        |(10, 100010, 0.968742),
        |(11, 100011, 0.969786),
        |(12, 100012, 0.9689),
        |(13, 100013, 0.970666),
        |(14, 100014, 0.968255),
        |(15, 100015, 0.974368),
        |(16, 100016, 0.97135),
        |(17, 100017, 0.974004),
        |(18, 100018, 0.971629),
        |(19, 100019, 0.969662),
        |(20, 100020, 0.972679),
        |(21, 100021, 0.971748),
        |(22, 100022, 0.969297),
        |(23, 100023, 0.968892),
        |(24, 100024, 0.969105),
        |(25, 100025, 0.974723),
        |(26, 100026, 0.970916),
        |(27, 100027, 0.968246),
        |(28, 100028, 0.969175),
        |(29, 100029, 0.96874),
        |(30, 100030, 0.968746),
        |(31, 100031, 0.970923),
        |(32, 100032, 0.972739),
        |(33, 100033, 0.97165),
        |(34, 100034, 0.969667),
        |(35, 100035, 0.969258),
        |(36, 100036, 0.969808),
        |(37, 100037, 0.970317),
        |(38, 100038, 0.969184),
        |(39, 100039, 0.969921),
        |(40, 100040, 0.972178),
        |(41, 100041, 0.970957),
        |(42, 100042, 0.968843),
        |(43, 100043, 0.969823),
        |(44, 100044, 0.968543),
        |(45, 100045, 0.97054),
        |(46, 100046, 0.971812),
        |(47, 100047, 0.970022),
        |(48, 100048, 0.970178),
        |(49, 100049, 0.970463))
        |t(id_a, id_b, cosine)""".stripMargin,

    "q_embedding_neardup_collapsed" ->
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(cosine AS DOUBLE) AS cosine, CAST(dups_a AS BIGINT) AS dups_a, CAST(dups_b AS BIGINT) AS dups_b
        |FROM (VALUES
        |(0, 100000, 0.969705, 2, 1),
        |(1, 100001, 0.969725, 2, 1),
        |(2, 100002, 0.970326, 2, 1),
        |(3, 100003, 0.969653, 2, 1),
        |(4, 100004, 0.969105, 2, 1),
        |(5, 100005, 0.968575, 2, 1),
        |(6, 100006, 0.970227, 2, 1),
        |(7, 100007, 0.969181, 2, 1),
        |(8, 100008, 0.969561, 2, 1),
        |(9, 100009, 0.970363, 2, 1),
        |(10, 100010, 0.968742, 2, 1),
        |(11, 100011, 0.969786, 2, 1),
        |(12, 100012, 0.9689, 2, 1),
        |(13, 100013, 0.970666, 2, 1),
        |(14, 100014, 0.968255, 2, 1),
        |(15, 100015, 0.974368, 2, 1),
        |(16, 100016, 0.97135, 2, 1),
        |(17, 100017, 0.974004, 2, 1),
        |(18, 100018, 0.971629, 2, 1),
        |(19, 100019, 0.969662, 2, 1),
        |(20, 100020, 0.972679, 2, 1),
        |(21, 100021, 0.971748, 2, 1),
        |(22, 100022, 0.969297, 2, 1),
        |(23, 100023, 0.968892, 2, 1),
        |(24, 100024, 0.969105, 2, 1),
        |(25, 100025, 0.974723, 1, 1),
        |(26, 100026, 0.970916, 1, 1),
        |(27, 100027, 0.968246, 1, 1),
        |(28, 100028, 0.969175, 1, 1),
        |(29, 100029, 0.96874, 1, 1),
        |(30, 100030, 0.968746, 1, 1),
        |(31, 100031, 0.970923, 1, 1),
        |(32, 100032, 0.972739, 1, 1),
        |(33, 100033, 0.97165, 1, 1),
        |(34, 100034, 0.969667, 1, 1),
        |(35, 100035, 0.969258, 1, 1),
        |(36, 100036, 0.969808, 1, 1),
        |(37, 100037, 0.970317, 1, 1),
        |(38, 100038, 0.969184, 1, 1),
        |(39, 100039, 0.969921, 1, 1),
        |(40, 100040, 0.972178, 1, 1),
        |(41, 100041, 0.970957, 1, 1),
        |(42, 100042, 0.968843, 1, 1),
        |(43, 100043, 0.969823, 1, 1),
        |(44, 100044, 0.968543, 1, 1),
        |(45, 100045, 0.97054, 1, 1),
        |(46, 100046, 0.971812, 1, 1),
        |(47, 100047, 0.970022, 1, 1),
        |(48, 100048, 0.970178, 1, 1),
        |(49, 100049, 0.970463, 1, 1)
        |) AS t(id_a, id_b, cosine, dups_a, dups_b)
        |ORDER BY id_a, id_b""".stripMargin,

    "q_ann_cosine" ->
      """SELECT query_id, neighbor_id, round(sim, 6) AS cosine,
        |  CAST(rn AS BIGINT) AS rank
        |FROM (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS rn
        |      FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |              list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[])
        |                / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
        |                   * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])))
        |                AS sim
        |            FROM embeddings c, embeddings q
        |            WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id))
        |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_sql_kernels" ->
      """SELECT e.vec_id,
        |  round(list_dot_product(e.emb, e.emb), 6) AS self_dot,
        |  round(sqrt(list_dot_product(e.emb, e.emb)), 6) AS norm,
        |  round(list_dot_product(e.emb, q.emb)
        |    / nullif(sqrt(list_dot_product(e.emb, e.emb))
        |             * sqrt(list_dot_product(q.emb, q.emb)), 0.0), 6)
        |    AS cos_q0
        |FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) e,
        |     (SELECT embedding::DOUBLE[] AS emb FROM embeddings
        |      WHERE vec_id = 0) q
        |WHERE e.vec_id < 20
        |ORDER BY e.vec_id""".stripMargin,

    // argmax by (score, lang) with ties to the lexicographically larger
    // lang — same rule as Spark's greatest() over (score, lang) structs
    "q_lang_id" ->
      """SELECT lang,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |       WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
        |       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |       WHEN s_en >= s_de THEN 'en'
        |       ELSE 'de' END AS predicted,
        |  count(*) AS n_docs
        |FROM (SELECT lang,
        |    len(list_intersect(list_distinct(string_split_regex(lower(text), '\s+')),
        |      ['der','die','das','und','ist','nicht','ein','ich','zu','mit'])) AS s_de,
        |    len(list_intersect(list_distinct(string_split_regex(lower(text), '\s+')),
        |      ['the','and','of','to','a','in','is','it','you','that'])) AS s_en,
        |    len(list_intersect(list_distinct(string_split_regex(lower(text), '\s+')),
        |      ['el','la','los','y','es','no','un','una','que','en'])) AS s_es,
        |    len(list_intersect(list_distinct(string_split_regex(lower(text), '\s+')),
        |      ['le','la','les','et','est','pas','un','une','je','dans'])) AS s_fr
        |  FROM documents)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_quality" ->
      """SELECT doc_id,
        |  len(string_split_regex(lower(text), '\s+')) AS n_tokens,
        |  cast(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
        |    as double) / length(text) AS punct_ratio,
        |  cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |    as double) / length(text) AS digit_ratio,
        |  cast(len(list_intersect(
        |      list_distinct(string_split_regex(lower(text), '\s+')),
        |      ['the','and','of','to','a','in','is','it','you','that'])) as double)
        |    / len(list_distinct(string_split_regex(lower(text), '\s+')))
        |    AS stopword_ratio,
        |  least(1.0, cast(len(string_split_regex(lower(text), '\s+')) as double) / 20) * 0.4
        |    + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) as double) / length(text)) * 5)) * 0.2
        |    + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) as double) / length(text)) * 5)) * 0.2
        |    + least(1.0, (cast(len(list_intersect(list_distinct(string_split_regex(lower(text), '\s+')), ['the','and','of','to','a','in','is','it','you','that'])) as double) / len(list_distinct(string_split_regex(lower(text), '\s+')))) * 4) * 0.2
        |    AS quality_score
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
        |    AS bpeish_tokens
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin,

    "q_vocab" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS token
        |  FROM documents
        |), dt AS (
        |  SELECT doc_id, token, count(*) AS c FROM toks GROUP BY 1, 2
        |)
        |SELECT token, cast(sum(c) AS BIGINT) AS term_freq,
        |  count(*) AS doc_freq
        |FROM dt GROUP BY token
        |ORDER BY term_freq DESC, token LIMIT 20""".stripMargin,

    "q_chunk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)
        |      AS toks
        |  FROM documents WHERE doc_id < 20
        |), c AS (
        |  SELECT doc_id, toks,
        |    greatest(1, cast(ceil((len(toks) - 8) / 24.0) AS INT)) AS nc
        |  FROM t
        |)
        |, g AS (
        |  SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS i
        |  FROM c
        |)
        |SELECT doc_id, i AS chunk_idx, i * 24 AS start_token,
        |  array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_text,
        |  len(toks[i*24+1 : i*24+32]) AS n_tokens
        |FROM g
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_chunk_stats" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)
        |      AS toks
        |  FROM documents WHERE doc_id < 50
        |), c AS (
        |  SELECT doc_id, toks,
        |    greatest(1, cast(ceil((len(toks) - 8) / 24.0) AS INT)) AS nc
        |  FROM t
        |), g AS (
        |  SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS i
        |  FROM c
        |), ch AS (
        |  SELECT doc_id, i,
        |    len(toks[i*24+1 : i*24+32]) AS n_tokens,
        |    i * 24 + len(toks[i*24+1 : i*24+32]) AS covered
        |  FROM g
        |)
        |SELECT doc_id, count(*) AS n_chunks,
        |  cast(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  cast(max(covered) AS BIGINT) AS doc_tokens
        |FROM ch GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_quantize" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> cast(x AS DOUBLE)) AS vd
        |  FROM embeddings WHERE vec_id < 20
        |), s AS (
        |  SELECT vec_id, vd,
        |    list_max(list_transform(vd, x -> abs(x))) AS sc
        |  FROM v
        |), q AS (
        |  SELECT vec_id, vd, sc,
        |    list_transform(vd, x -> CASE WHEN sc > 0
        |      THEN round(x / sc * 127) ELSE 0 END) AS codes,
        |    list_transform(vd, x -> CASE WHEN sc > 0
        |      THEN abs(x - round(x / sc * 127) * sc / 127) ELSE abs(x) END)
        |      AS errs
        |  FROM s
        |)
        |SELECT vec_id, round(sc, 6) AS scale,
        |  cast(list_sum(codes) AS BIGINT) AS sum_codes,
        |  cast(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT)
        |    AS l1_codes,
        |  round(sqrt(list_sum(list_transform(errs, x -> x * x))
        |    / len(codes)), 6) AS rmse,
        |  round(list_max(errs), 6) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,

    // golden checksums: xxhash64-rolling fingerprints have no DuckDB
    // twin, so the oracle pins the 50 expected values literally (the
    // testdata generator is deterministic; any fingerprint change is a
    // real semantic change)
    "q_fingerprint" ->
      """SELECT * FROM (VALUES (0, -9069096456167067718), (1,
        |-9222749834179949182), (2, -9202040969939530932), (3,
        |-9036974435857716035), (4, -9212793374060268516), (5,
        |-9143978081462755932), (6, -9097862115378427569), (7,
        |-9222749834179949182), (8, -9110609709679002831), (9,
        |-9169475112056636256), (10, -9222749834179949182), (11,
        |-9110609709679002831), (12, -9222749834179949182), (13,
        |-9215354702169894683), (14, -9110609709679002831), (15,
        |-9110609709679002831), (16, -9169815902519024114), (17,
        |-9215354702169894683), (18, -9202040969939530932), (19,
        |-9110609709679002831), (20, -9215354702169894683), (21,
        |-9110609709679002831), (22, -9153980523233458364), (23,
        |-9110609709679002831), (24, -9118217338485724881), (25,
        |-9132699031751305753), (26, -8829390834146296584), (27,
        |-9110609709679002831), (28, -9215354702169894683), (29,
        |-9169815902519024114), (30, -9069096456167067718), (31,
        |-9169475112056636256), (32, -9217632715610698515), (33,
        |-9110609709679002831), (34, -9222749834179949182), (35,
        |-9110609709679002831), (36, -8968773793585045691), (37,
        |-9175934915022071779), (38, -9175934915022071779), (39,
        |-9110609709679002831), (40, -9222749834179949182), (41,
        |-9110609709679002831), (42, -9109028298628323156), (43,
        |-9143978081462755932), (44, -9110609709679002831), (45,
        |-9166377500334973907), (46, -9175934915022071779), (47,
        |-9110609709679002831), (48, -9112893721245672858), (49,
        |-9132699031751305753)) AS t(doc_id, fingerprint) ORDER BY doc_id""".stripMargin,

    // IVF gate: the planted twins are unambiguous nearest neighbors, so
    // retrieval through 4-of-16 cell probing must find all five
    "q_ann_ivf" ->
      """SELECT CAST(query_id AS BIGINT) AS query_id, twin_found
        |FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
        |  AS t(query_id, twin_found)
        |ORDER BY query_id""".stripMargin,

    // codebook training is hash-seeded + decimal-summed → bit-stable
    // recon report; golden-pinned (8x16 books on sf0.01: 57% of signal
    // energy quantized away — the documented worst case for uniform
    // random vectors; all 128 codewords in use)
    "q_pq_recon" ->
      """SELECT CAST(500 AS BIGINT) AS rows,
        |  0.573641 AS mean_sq_err, 0.730931 AS max_sq_err,
        |  1.0 AS mean_norm_sq, CAST(128 AS BIGINT) AS used_codewords"""
        .stripMargin,

    "q_pq_opq" ->
      """SELECT 110.261844 AS mse_contiguous, 75.934478 AS mse_permuted,
        |  true AS improved""".stripMargin,

    // golden (hash-seeded training + exact decimal moments + fixed
    // Jacobi sweeps → bit-stable across runs and layouts)
    "q_pq_rotate" ->
      """SELECT 30.701739 AS mse_contiguous, 29.090978 AS mse_permuted,
        |  20.145815 AS mse_rotated, true AS rotation_wins""".stripMargin,

    // IVFADC gate: twins retrieved at rank 1 through the persisted
    // cell-pruned compressed path — deterministic booleans, pinned
    "q_ann_ivfpq" ->
      """SELECT CAST(query_id AS BIGINT) AS query_id, twin_first
        |FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
        |  AS t(query_id, twin_first)
        |ORDER BY query_id""".stripMargin,

    // the compressed (8-byte-code) path must put each planted twin at
    // rank 1 — deterministic booleans, pinned literally
    "q_ann_pq" ->
      """SELECT CAST(query_id AS BIGINT) AS query_id, twin_first
        |FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
        |  AS t(query_id, twin_first)
        |ORDER BY query_id""".stripMargin,

    // sessionization: re-derive session_window's merge rule via lag +
    // running sum; boundary pinned as `diff >= gap ⇒ new session`
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts::TIMESTAMP AS t,
        |         CAST(value AS DECIMAL(18,2)) AS v,
        |         CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
        |                OR epoch_us(ts::TIMESTAMP)
        |                   - epoch_us(lag(ts::TIMESTAMP) OVER w) > 43200000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE user_id < 30
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT user_id, min(t) AS session_start, max(t) AS session_end,
        |       count(*) AS n_events, sum(v) AS total_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_session_assign" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
        |                OR epoch_us(ts::TIMESTAMP)
        |                   - epoch_us(lag(ts::TIMESTAMP) OVER w) > 43200000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE user_id < 5
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id,
        |       CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |         AS session_idx
        |FROM e ORDER BY user_id, event_id""".stripMargin,

    "q_session_stats" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts::TIMESTAMP AS t,
        |         CASE WHEN lag(ts::TIMESTAMP) OVER w IS NULL
        |                OR epoch_us(ts::TIMESTAMP)
        |                   - epoch_us(lag(ts::TIMESTAMP) OVER w) > 43200000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e),
        |s AS (
        |  SELECT user_id, sid, count(*) AS n_events,
        |         epoch_us(max(t)) - epoch_us(min(t)) AS dur_us
        |  FROM g GROUP BY user_id, sid)
        |SELECT count(*) AS n_sessions,
        |       CAST(sum(n_events) AS BIGINT) AS n_events_total,
        |       max(n_events) AS max_events,
        |       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_singletons,
        |       round(avg(n_events), 4) AS avg_events,
        |       round(avg(dur_us) / 1000000.0, 4) AS avg_duration_sec
        |FROM s""".stripMargin,

    // deterministic md5 split: the oracle recomputes the exact bucket
    // ( '0x'||hex parses as the same unsigned 32-bit value conv() yields )
    "q_train_split" ->
      """WITH b AS (
        |  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |            % 1000 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 800 THEN 'train'
        |            WHEN bucket < 900 THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_warc_gz" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |              WHERE doc_id >= 100 AND doc_id < 180),
        |resp AS (
        |  SELECT doc_id,
        |    '<html><body><p>' || text || '</p></body></html>' AS payload
        |  FROM base),
        |rows_all AS (
        |  SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS rec_type,
        |    CAST(NULL AS VARCHAR) AS target_uri,
        |    CAST(4 AS BIGINT) AS content_length, 'info' AS clean_payload
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, 1, 'response',
        |    'https://example.com/doc/' || doc_id,
        |    CAST(strlen(payload) AS BIGINT),
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(payload, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |            '(?s)<!--.*?-->', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |        '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
        |      '\s+', ' ', 'g'))
        |  FROM resp
        |  UNION ALL
        |  SELECT doc_id, 2, 'metadata', NULL, CAST(2 AS BIGINT), 'ok'
        |  FROM base)
        |SELECT doc_id, CAST(rec_idx AS BIGINT) AS rec_idx, rec_type,
        |  target_uri, content_length, clean_payload
        |FROM rows_all ORDER BY doc_id, rec_idx""".stripMargin,

    "q_warc_extract" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |resp AS (
        |  SELECT doc_id,
        |    '<html><body><p>' || text || '</p></body></html>' AS payload
        |  FROM base),
        |rows_all AS (
        |  SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS rec_type,
        |    CAST(NULL AS VARCHAR) AS target_uri,
        |    CAST(NULL AS VARCHAR) AS content_type,
        |    CAST(4 AS BIGINT) AS content_length, 'info' AS clean_payload
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, 1, 'response',
        |    'https://example.com/doc/' || doc_id, 'text/html',
        |    CAST(strlen(payload) AS BIGINT),
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(payload, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |            '(?s)<!--.*?-->', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |        '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
        |      '\s+', ' ', 'g'))
        |  FROM resp
        |  UNION ALL
        |  SELECT doc_id, 2, 'metadata', NULL, NULL, CAST(2 AS BIGINT), 'ok'
        |  FROM base)
        |SELECT doc_id, CAST(rec_idx AS BIGINT) AS rec_idx, rec_type,
        |  target_uri, content_type, content_length, clean_payload
        |FROM rows_all ORDER BY doc_id, rec_idx""".stripMargin,

    "q_html_extract" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    '<html><head><title>T</title><style type="text/css">p { color: red }'
        |    || chr(10) || '.x{margin:0}</style>'
        |    || '<script>var x = 1 < 2 && "</p>"; // <div>' || chr(10)
        |    || 'alert(''hi'');</script></head>' || chr(10)
        |    || '<body><!-- hidden' || chr(10) || 'note -->'
        |    || '<p class="main">' || text || '</p>' || chr(10)
        |    || '<div>footer &amp;amp; &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div></body></html>'
        |    AS r
        |  FROM documents WHERE doc_id < 200),
        |c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(r, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |            '(?s)<!--.*?-->', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |        '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM raw)
        |SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_clean
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_warc_pipeline" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    '<html><body><p>' || text || '</p></body></html>' AS r
        |  FROM documents WHERE doc_id < 80),
        |c AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(r, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |            '(?s)<!--.*?-->', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |        '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM raw),
        |s AS (
        |  SELECT doc_id, clean,
        |    len(list_intersect(list_distinct(string_split_regex(lower(clean), '\s+')),
        |      ['der','die','das','und','ist','nicht','ein','ich','zu','mit'])) AS s_de,
        |    len(list_intersect(list_distinct(string_split_regex(lower(clean), '\s+')),
        |      ['the','and','of','to','a','in','is','it','you','that'])) AS s_en,
        |    len(list_intersect(list_distinct(string_split_regex(lower(clean), '\s+')),
        |      ['el','la','los','y','es','no','un','una','que','en'])) AS s_es,
        |    len(list_intersect(list_distinct(string_split_regex(lower(clean), '\s+')),
        |      ['le','la','les','et','est','pas','un','une','je','dans'])) AS s_fr
        |  FROM c)
        |SELECT 'http://example.com/doc/' || doc_id || '?a=1&b=2' AS url,
        |  'example.com' AS host, clean AS text,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
        |       WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
        |       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |       WHEN s_en >= s_de THEN 'en'
        |       ELSE 'de' END AS lang,
        |  CAST(length(clean) AS BIGINT) AS n_chars,
        |  CAST(len(string_split_regex(lower(clean), '\s+')) AS BIGINT)
        |    AS n_tokens
        |FROM s ORDER BY url""".stripMargin,

    "q_url_canon" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE doc_id % 6
        |      WHEN 0 THEN 'HTTP://Example.COM:80/Path/' || doc_id
        |                  || '?utm_source=x&b=2&a=1#frag'
        |      WHEN 1 THEN 'https://CDN.Example.com:443/asset/' || doc_id
        |                  || '#top'
        |      WHEN 2 THEN 'http://example.com/p/' || doc_id
        |                  || '?utm_a=1&utm_b=2'
        |      WHEN 3 THEN 'http://example.com:8080/p/' || doc_id
        |                  || '?z=1&&y=2&gclid=abc&'
        |      WHEN 4 THEN '  https://mirror.example.com/x/' || doc_id
        |                  || '?  '
        |      ELSE 'not a url ' || doc_id END AS url
        |  FROM documents),
        |s1 AS (SELECT doc_id, url,
        |         regexp_replace(trim(url), '#.*', '', 'g') AS nofrag
        |       FROM raw),
        |s2 AS (SELECT *, regexp_extract(nofrag,
        |         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0) AS pfx FROM s1),
        |s3 AS (SELECT *, CASE WHEN length(pfx) > 0
        |         THEN lower(pfx) || substring(nofrag, length(pfx) + 1)
        |         ELSE nofrag END AS lowered FROM s2),
        |s4 AS (SELECT *, regexp_replace(regexp_replace(lowered,
        |         '^(http://[^/?#:]+):80([/?]|$)', '\1\2'),
        |         '^(https://[^/?#:]+):443([/?]|$)', '\1\2') AS noport
        |       FROM s3),
        |s5 AS (SELECT *, regexp_extract(noport, '\?(.*)', 1) AS q FROM s4),
        |s6 AS (SELECT *,
        |         CASE WHEN length(q) > 0
        |           THEN substring(noport, 1, length(noport) - length(q) - 1)
        |           ELSE noport END AS base,
        |         regexp_replace(regexp_replace(q,
        |           '(?:^|&)(?:utm_[^=&#]*|gclid|fbclid|msclkid)=[^&#]*',
        |           '', 'g'), '^&', '') AS cleaned
        |       FROM s5),
        |s7 AS (SELECT *, array_to_string(list_sort(list_filter(
        |         string_split(cleaned, '&'), s -> length(s) > 0)), '&')
        |         AS sortedq FROM s6),
        |c AS (SELECT doc_id, url,
        |        CASE WHEN strpos(noport, '?') = 0 THEN noport
        |             WHEN length(sortedq) > 0 THEN base || '?' || sortedq
        |             WHEN length(q) > 0 THEN base
        |             ELSE substring(noport, 1, length(noport) - 1)
        |        END AS canonical
        |      FROM s7)
        |SELECT doc_id, url, canonical,
        |  lower(regexp_extract(canonical,
        |    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_url_dedup" ->
      """WITH nn AS (
        |  SELECT doc_id, source FROM documents WHERE doc_id % 7 <> 0),
        |w AS (
        |  SELECT doc_id % 40 AS k, min(doc_id) AS keep
        |  FROM nn GROUP BY 1),
        |survivors AS (
        |  SELECT source, 0 AS has_url FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT nn.source, 1 AS has_url FROM nn JOIN w ON nn.doc_id = w.keep)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(has_url) AS BIGINT) AS n_with_url
        |FROM survivors GROUP BY source ORDER BY source""".stripMargin,

    "q_normalize" ->
      """WITH raw AS (
        |  SELECT doc_id, text,
        |         '<p> ' || text || ' </p>' || chr(9) || '<br/>  end' AS r
        |  FROM documents WHERE doc_id < 20),
        |n AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(regexp_replace(r, '<[^>]*>', ' ', 'g'),
        |              '\s+', ' ', 'g')) AS clean
        |  FROM raw)
        |SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_clean,
        |       round(CASE WHEN length(text) = 0 THEN 0.0
        |             ELSE CAST(length(regexp_replace(text, '[ -~]', '', 'g'))
        |                  AS DOUBLE) / length(text) END, 6) AS non_ascii_ratio
        |FROM n ORDER BY doc_id""".stripMargin,

    "q_mixture" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |         row_number() OVER (
        |           PARTITION BY lang
        |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |                    % 1000000, doc_id) AS rk,
        |         CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 20
        |                   WHEN 'fr' THEN 10 END AS quota
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM r WHERE rk <= quota GROUP BY lang ORDER BY lang""".stripMargin,

    "q_repetition" ->
      """WITH raw AS (
        |  SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN text || ' ' || text
        |                      ELSE text END AS t
        |  FROM documents WHERE doc_id < 40),
        |w AS (SELECT doc_id, string_split_regex(t, '\s+') AS ws FROM raw),
        |g AS (SELECT doc_id,
        |        [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |         FOR i IN generate_series(1, len(ws) - 2)] AS grams
        |      FROM w)
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
        |       round(CASE WHEN len(grams) = 0 THEN 0.0
        |             ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
        |                  / len(grams) END, 6) AS dup_gram_ratio
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_pii_scan" ->
      """WITH raw AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
        |            || CAST(doc_id AS VARCHAR) || '@example.com now'
        |            ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' see https://example.org/d/'
        |            || CAST(doc_id AS VARCHAR) || ' ok' ELSE '' END AS r
        |  FROM documents WHERE doc_id < 60),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(r,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |      AS n_emails,
        |    CAST(len(regexp_extract_all(r, 'https?://[^\s]+')) AS BIGINT)
        |      AS n_urls
        |  FROM raw)
        |SELECT doc_id, n_emails, n_urls, (n_emails + n_urls) > 0 AS has_pii
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_contamination" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 40),
        |sp AS (
        |  SELECT *, CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |                       1, 8))::BIGINT % 1000 < 900
        |                 THEN 'train' ELSE 'test' END AS split
        |  FROM corpus),
        |ref AS (SELECT DISTINCT md5(text) AS h FROM sp WHERE split = 'train')
        |SELECT p.doc_id, true AS contaminated
        |FROM sp p JOIN ref ON md5(p.text) = ref.h
        |WHERE p.split = 'test'
        |ORDER BY p.doc_id""".stripMargin,

    // greedy packing truth: the recursive CTE advances one row per
    // group per step, carrying (fill, bin) — the exact greedy recurrence
    "q_token_pack" ->
      """WITH RECURSIVE s AS (
        |  SELECT source, doc_id,
        |         CAST(len(regexp_extract_all(text,
        |           '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS tokens,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |r AS (
        |  SELECT source, rn, tokens, tokens AS fill, CAST(0 AS BIGINT) AS bin
        |  FROM s WHERE rn = 1
        |  UNION ALL
        |  SELECT s.source, s.rn, s.tokens,
        |         CASE WHEN r.fill + s.tokens <= 512
        |              THEN r.fill + s.tokens ELSE s.tokens END,
        |         CASE WHEN r.fill + s.tokens <= 512
        |              THEN r.bin ELSE r.bin + 1 END
        |  FROM s JOIN r ON s.source = r.source AND s.rn = r.rn + 1)
        |SELECT source, bin, count(*) AS n_docs,
        |       CAST(sum(tokens) AS BIGINT) AS total_tokens
        |FROM r GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    "q_stratified_sample" ->
      """WITH r AS (
        |  SELECT lang, doc_id, source,
        |         row_number() OVER (
        |           PARTITION BY lang
        |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |                    % 1000000, doc_id) AS sample_rank
        |  FROM documents)
        |SELECT lang, sample_rank, doc_id, source
        |FROM r WHERE sample_rank <= 5
        |ORDER BY lang, sample_rank""".stripMargin,

    // Efraimidis–Spirakis replay: identical md5 uniform, identical key
    // exponentiation; only ints/strings cross the compare (the key's
    // cross-libm pow jitter ~1e-16 cannot reorder draws spaced ~1e-5)
    "q_weighted_sample" ->
      """WITH k AS (
        |  SELECT doc_id, lang, n_chars,
        |    pow(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
        |          + 0.5) / 4294967296.0,
        |        1.0 / CAST(n_chars AS DOUBLE)) AS wk
        |  FROM documents WHERE n_chars > 0)
        |SELECT row_number() OVER (ORDER BY wk DESC, doc_id) AS sample_rank,
        |       doc_id, lang, n_chars
        |FROM k ORDER BY wk DESC, doc_id LIMIT 25""".stripMargin,

    "q_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE doc_id < 200),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens,
        |  CAST(cum - n_tokens AS BIGINT) AS start_offset,
        |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS first_seq,
        |  CAST(floor((cum - 1) / 512.0) AS BIGINT) AS last_seq
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, len(t) AS doc_len,
        |    len(list_filter(t, x -> x = 'spark')) AS tf0,
        |    len(list_filter(t, x -> x = 'vector')) AS tf1,
        |    len(list_filter(t, x -> x = 'customer')) AS tf2
        |  FROM tok),
        |s AS (
        |  SELECT count(*) AS n, avg(doc_len) AS avglen,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM d)
        |SELECT doc_id, CAST(doc_len AS BIGINT) AS doc_len,
        |  round(score, 6) AS bm25
        |FROM (
        |  SELECT d.doc_id, d.doc_len,
        |      ln(1 + (s.n - s.df0 + 0.5) / (s.df0 + 0.5))
        |        * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * doc_len / s.avglen))
        |    + ln(1 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5))
        |        * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * doc_len / s.avglen))
        |    + ln(1 + (s.n - s.df2 + 0.5) / (s.df2 + 0.5))
        |        * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * doc_len / s.avglen))
        |      AS score
        |  FROM d CROSS JOIN s)
        |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_leakage_split" ->
      """WITH g AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS group_id
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, group_id,
        |    CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT *,
        |    ('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 1000 AS b FROM g)),
        |sp AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_spanning_groups FROM (
        |    SELECT group_id FROM a GROUP BY group_id
        |    HAVING count(DISTINCT split) > 1))
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups,
        |  (SELECT n_spanning_groups FROM sp) AS n_spanning_groups
        |FROM a GROUP BY split ORDER BY split""".stripMargin,

    "q_token_budget" ->
      """WITH b AS (
        |  SELECT lang, doc_id, n_chars,
        |    CASE WHEN lang = 'en' THEN 20000
        |         WHEN lang = 'de' THEN 8000 END AS budget,
        |    sum(n_chars) OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |               doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents
        |  WHERE lang IN ('en', 'de'))
        |SELECT lang, doc_id, n_chars, CAST(cum AS BIGINT) AS stratum_tokens
        |FROM b WHERE cum - n_chars < budget
        |ORDER BY lang, stratum_tokens""".stripMargin,

    "q_ngram_overlap" ->
      ("""WITH reft AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE doc_id < 400),
        |refw AS (
        |  SELECT DISTINCT array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS w
        |  FROM reft, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8),
        |probe AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 430 AND doc_id < 440
        |  UNION ALL SELECT 9000, text FROM documents WHERE doc_id = 0
        |  UNION ALL SELECT 9001,
        |    array_to_string(list_slice(string_split_regex(lower(text), '\s+'),
        |      1, 20), ' ') || ' NOVELTOKENS' FROM documents WHERE doc_id = 1),
        |pt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM probe),
        |pw AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS w
        |  FROM pt, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8),
        |hits AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |    CAST(sum(CASE WHEN w IN (SELECT w FROM refw) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_overlapping
        |  FROM pw GROUP BY 1)
        |SELECT p.doc_id, coalesce(n_windows, 0) AS n_windows,
        |  coalesce(n_overlapping, 0) AS n_overlapping,
        |  round(n_overlapping * 1.0 / n_windows, 6) AS overlap_pct
        |FROM (SELECT doc_id FROM probe) p LEFT JOIN hits USING (doc_id)
        |ORDER BY doc_id""".stripMargin
        .replace("NOVELTOKENS", (1 to 20).map(i => s"novelglyph$i").mkString(" "))),

    "q_contam_spans" ->
      ("""WITH reft AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE doc_id < 300),
        |refw AS (
        |  SELECT DISTINCT array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS w
        |  FROM reft, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8),
        |probe AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 434 AND doc_id < 438
        |  UNION ALL SELECT 9100,
        |    array_to_string(list_slice(string_split_regex(lower(text), '\s+'),
        |      1, 20), ' ') || ' NOVEL30 ' ||
        |    array_to_string(list_slice(string_split_regex(lower(text), '\s+'),
        |      21, 40), ' ')
        |    FROM documents WHERE doc_id = 8
        |  UNION ALL SELECT 9101, 'SOLO30'),
        |pt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM probe),
        |pw AS (
        |  SELECT doc_id, s.i - 1 AS pos,
        |    array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS w
        |  FROM pt, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8),
        |hits AS (SELECT doc_id, pos FROM pw WHERE w IN (SELECT w FROM refw)),
        |g AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |         THEN 1 ELSE 0 END AS gap
        |  FROM hits),
        |gg AS (
        |  SELECT doc_id, pos,
        |    sum(gap) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM g),
        |pl AS (SELECT doc_id, len(t) AS tlen FROM pt)
        |SELECT gg.doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(least(max(pos) + 8, any_value(pl.tlen)) AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_windows
        |FROM gg JOIN pl ON gg.doc_id = pl.doc_id
        |GROUP BY gg.doc_id, grp
        |ORDER BY gg.doc_id, span_start""".stripMargin
        .replace("NOVEL30", (1 to 30).map(i => s"spanglyph$i").mkString(" "))
        .replace("SOLO30", (1 to 30).map(i => s"sologlyph$i").mkString(" "))),

    "q_decontam_surgical" ->
      ("""WITH reft AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE doc_id < 300),
        |refw AS (
        |  SELECT DISTINCT array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS w
        |  FROM reft, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8),
        |probe AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 434 AND doc_id < 438
        |  UNION ALL SELECT 9100,
        |    array_to_string(list_slice(string_split_regex(lower(text), '\s+'),
        |      1, 20), ' ') || ' NOVEL30 ' ||
        |    array_to_string(list_slice(string_split_regex(lower(text), '\s+'),
        |      21, 40), ' ')
        |    FROM documents WHERE doc_id = 8
        |  UNION ALL SELECT 9101, 'SOLO30'),
        |pt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM probe),
        |pw AS (
        |  SELECT doc_id, s.i - 1 AS pos,
        |    array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS w
        |  FROM pt, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8),
        |hits AS (SELECT doc_id, pos FROM pw WHERE w IN (SELECT w FROM refw)),
        |g AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |         THEN 1 ELSE 0 END AS gap
        |  FROM hits),
        |gg AS (
        |  SELECT doc_id, pos,
        |    sum(gap) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM g),
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
        |  FROM gg GROUP BY doc_id, grp),
        |ot AS (
        |  SELECT doc_id, text, list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM probe),
        |otp AS (
        |  SELECT doc_id, s.i - 1 AS pos, t[s.i] AS tok
        |  FROM ot, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) s),
        |kept AS (
        |  SELECT o.doc_id, o.pos, o.tok FROM otp o
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.doc_id = o.doc_id
        |      AND o.pos >= sp.span_start AND o.pos < sp.span_end)),
        |cleaned AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS joined,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT ot.doc_id,
        |  CASE WHEN ot.doc_id IN (SELECT DISTINCT doc_id FROM spans)
        |       THEN coalesce(c.joined, '') ELSE ot.text END AS clean_text,
        |  CAST(CASE WHEN ot.doc_id IN (SELECT DISTINCT doc_id FROM spans)
        |       THEN len(ot.t) - coalesce(c.n_kept, 0) ELSE 0 END AS BIGINT)
        |    AS n_removed
        |FROM ot LEFT JOIN cleaned c ON ot.doc_id = c.doc_id
        |ORDER BY ot.doc_id""".stripMargin
        .replace("NOVEL30", (1 to 30).map(i => s"spanglyph$i").mkString(" "))
        .replace("SOLO30", (1 to 30).map(i => s"sologlyph$i").mkString(" "))),

    "q_export_shards" ->
      """WITH s AS (
        |  SELECT ('0x' || substr(md5('r9:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |           % 8 AS shard,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM documents)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(h) AS BIGINT) AS id_checksum
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,

    // golden append-then-search receipt: the appended doc found with
    // exact stats-aware scoring (n=301 docs, df=1, tf=1, len 5)
    "q_bm25_append" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(doc_len AS BIGINT) AS doc_len, CAST(bm25 AS DOUBLE) AS bm25
        |FROM (VALUES (90001, 5, 8.439854)) AS t(doc_id, doc_len, bm25)""".stripMargin,

    "q_bm25_batch" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |d AS (SELECT doc_id, len(t) AS doc_len FROM tok),
        |dt AS (
        |  SELECT doc_id, unnest(t) AS token FROM tok),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM dt GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS n, avg(doc_len) AS avglen FROM d),
        |q(query_id, token) AS (VALUES
        |  (1, 'spark'), (1, 'vector'),
        |  (2, 'customer'), (2, 'order'), (2, 'data'),
        |  (3, 'window'), (3, 'agg'), (3, 'join')),
        |sc AS (
        |  SELECT q.query_id, tf.doc_id, d.doc_len,
        |    sum(ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
        |      * tf.tf * 2.2
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * d.doc_len / st.avglen))) AS score
        |  FROM q JOIN tf USING (token)
        |  JOIN dfq USING (token)
        |  JOIN d ON d.doc_id = tf.doc_id
        |  CROSS JOIN st
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id,
        |  CAST(doc_len AS BIGINT) AS doc_len, round(score, 6) AS bm25
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, doc_id) AS rank
        |  FROM sc WHERE score > 0)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_filter_funnel" ->
      """WITH f AS (
        |  SELECT *,
        |    text || CASE WHEN doc_id % 7 = 0
        |      THEN ' reach admin' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      ELSE '' END AS raw
        |  FROM documents),
        |p AS (
        |  SELECT
        |    (lang = 'en') AS p1,
        |    (lang = 'en') AND len(string_split_regex(text, '\s+')) >= 40 AS p2,
        |    (lang = 'en') AND len(string_split_regex(text, '\s+')) >= 40
        |      AND len(regexp_extract_all(raw,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) = 0 AS p3,
        |    (lang = 'en') AND len(string_split_regex(text, '\s+')) >= 40
        |      AND len(regexp_extract_all(raw,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) = 0
        |      AND n_chars <= 300 AS p4
        |  FROM f),
        |c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS s0,
        |    CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
        |    CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
        |    CAST(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS s4
        |  FROM p)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'lang_en' AS stage,
        |    s0 AS n_in, s0 - s1 AS n_dropped, s1 AS n_out FROM c
        |  UNION ALL SELECT 2, 'min_tokens', s1, s1 - s2, s2 FROM c
        |  UNION ALL SELECT 3, 'no_pii', s2, s2 - s3, s3 FROM c
        |  UNION ALL SELECT 4, 'max_chars', s3, s3 - s4, s4 FROM c)
        |ORDER BY stage_idx""".stripMargin,

    // golden pin: signature-agreement estimates are deterministic
    // (xxhash64/murmur chains), but no closed-form SQL twin exists for
    // the banded index probe — any drift in shingling, signatures,
    // banding, or the estimate turns a row red. Note 10008→245: doc 8's
    // planted near-dup FAMILY member, found through the index
    "q_dedup_index" ->
      """SELECT CAST(batch_id AS BIGINT) AS batch_id,
        |  CAST(corpus_id AS BIGINT) AS corpus_id,
        |  CAST(est_jaccard AS DOUBLE) AS est_jaccard FROM (VALUES
        |(10000, 0, 0.90625),
        |(10001, 1, 0.953125),
        |(10002, 2, 0.96875),
        |(10003, 3, 0.921875),
        |(10004, 4, 0.96875),
        |(10005, 5, 0.9375),
        |(10006, 6, 0.796875),
        |(10007, 7, 0.9375),
        |(10008, 8, 1.0),
        |(10008, 245, 0.953125),
        |(10009, 9, 0.921875)) AS t(batch_id, corpus_id, est_jaccard)
        |ORDER BY batch_id, corpus_id""".stripMargin,

    // same formula as KeyProfile: H = log2(n) − Σ c·log2(c) / n, top key
    // ties to the largest key string (max over a (count, key) struct on
    // the Spark side, DESC/DESC row_number here)
    "q_key_profile" ->
      """WITH prof AS (
        |  SELECT 'o_custkey' AS col_name, CAST(o_custkey AS VARCHAR) AS key FROM orders
        |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
        |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders),
        |c AS (SELECT col_name, key, count(*) AS cnt FROM prof GROUP BY 1, 2),
        |a AS (SELECT col_name, sum(cnt) AS n_rows, count(*) AS n_distinct,
        |        sum(cnt * log2(cnt)) AS slc
        |      FROM c GROUP BY 1),
        |t AS (SELECT col_name, key AS top_key, cnt AS top_count FROM (
        |        SELECT *, row_number() OVER (PARTITION BY col_name
        |          ORDER BY cnt DESC, key DESC) AS rn FROM c)
        |      WHERE rn = 1)
        |SELECT a.col_name AS "column", CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_distinct AS BIGINT) AS n_distinct, top_key,
        |  CAST(top_count AS BIGINT) AS top_count,
        |  round(top_count / n_rows, 6) AS top_share,
        |  round(top_count / (n_rows / n_distinct), 6) AS skew_ratio,
        |  round(log2(n_rows) - slc / n_rows, 6) AS entropy_bits
        |FROM a JOIN t USING (col_name) ORDER BY "column"""".stripMargin,

    // deterministic ingest verdicts (md5-seeded minhash + greedy drop
    // policy), golden-pinned: corpus near-dups drop with their source's
    // id+estimate, the in-batch twin drops against its sibling, and the
    // post-append probe must find the appended doc — a regression in
    // the receipt barrier flips 20003 to corpus_dup and fails the hash
    "q_dedup_ingest" ->
      """SELECT CAST(batch_id AS BIGINT) AS batch_id, status,
        |  CAST(ref_id AS BIGINT) AS ref_id,
        |  CAST(est_jaccard AS DOUBLE) AS est_jaccard FROM (VALUES
        |(20000, 'corpus_dup', 0, 0.921875),
        |(20001, 'corpus_dup', 1, 0.953125),
        |(20002, 'appended', NULL, NULL),
        |(20003, 'batch_dup', 20002, 0.90625),
        |(20004, 'appended', NULL, NULL),
        |(30000, 'probe_match', 20002, 0.921875)
        |) AS t(batch_id, status, ref_id, est_jaccard)
        |ORDER BY batch_id, status, ref_id""".stripMargin,

    // deterministic SemDeDup verdicts (hash-seeded centroids), golden-
    // pinned: every base keeps, 19/20 twins drop against exactly their
    // base; twin 100002 straddles a cell boundary away from doc 2 and
    // survives — the documented recall loss of cell-scoped pairing
    "q_semdedup" ->
      """SELECT CAST(id AS BIGINT) AS id,
        |  CAST(cell_capped AS BOOLEAN) AS cell_capped,
        |  CAST(kept AS BOOLEAN) AS kept, CAST(dup_of AS BIGINT) AS dup_of
        |FROM (VALUES
        |(0, false, true, NULL), (1, false, true, NULL),
        |(2, false, true, NULL), (3, false, true, NULL),
        |(4, false, true, NULL), (5, false, true, NULL),
        |(6, false, true, NULL), (7, false, true, NULL),
        |(8, false, true, NULL), (9, false, true, NULL),
        |(10, false, true, NULL), (11, false, true, NULL),
        |(12, false, true, NULL), (13, false, true, NULL),
        |(14, false, true, NULL), (15, false, true, NULL),
        |(16, false, true, NULL), (17, false, true, NULL),
        |(18, false, true, NULL), (19, false, true, NULL),
        |(100000, false, false, 0), (100001, false, false, 1),
        |(100002, false, true, NULL), (100003, false, false, 3),
        |(100004, false, false, 4), (100005, false, false, 5),
        |(100006, false, false, 6), (100007, false, false, 7),
        |(100008, false, false, 8), (100009, false, false, 9),
        |(100010, false, false, 10), (100011, false, false, 11),
        |(100012, false, false, 12), (100013, false, false, 13),
        |(100014, false, false, 14), (100015, false, false, 15),
        |(100016, false, false, 16), (100017, false, false, 17),
        |(100018, false, false, 18), (100019, false, false, 19)
        |) AS t(id, cell_capped, kept, dup_of)
        |ORDER BY id""".stripMargin,

    // deterministic append-then-probe retrieval (hash-seeded centroids,
    // decimal-summed means), golden-pinned like q_ann_ivf: every query
    // must retrieve its appended twin or the boolean flips the hash
    "q_ann_ivf_append" ->
      """SELECT CAST(query_id AS BIGINT) AS query_id,
        |  CAST(twin_found AS BOOLEAN) AS twin_found FROM (VALUES
        |(0, true), (1, true), (2, true), (3, true), (4, true)
        |) AS t(query_id, twin_found) ORDER BY query_id""".stripMargin,

    // deterministic gate+rank output, golden-pinned: the planted twins
    // (cosine ≈ 0.97 ≥ 0.9) never appear as negatives; rows match
    // q_ann_cosine's sub-gate neighborhood exactly
    "q_hard_negatives" ->
      """SELECT CAST(query_id AS BIGINT) AS query_id,
        |  CAST(neighbor_id AS BIGINT) AS neighbor_id,
        |  CAST(cosine AS DOUBLE) AS cosine, CAST(rank AS BIGINT) AS rank
        |FROM (VALUES
        |(0, 73, 0.295434, 5), (0, 334, 0.362722, 2), (0, 365, 0.369994, 1),
        |(0, 387, 0.331139, 3), (0, 423, 0.296934, 4), (1, 27, 0.348208, 2),
        |(1, 64, 0.316374, 5), (1, 195, 0.322744, 4), (1, 386, 0.371485, 1),
        |(1, 407, 0.32701, 3), (2, 117, 0.318143, 1), (2, 145, 0.263494, 3),
        |(2, 188, 0.263272, 4), (2, 320, 0.255043, 5), (2, 450, 0.266344, 2),
        |(3, 130, 0.399872, 1), (3, 149, 0.329934, 2), (3, 174, 0.303548, 4),
        |(3, 231, 0.298788, 5), (3, 343, 0.308472, 3), (4, 114, 0.398513, 1),
        |(4, 280, 0.279826, 5), (4, 408, 0.322753, 3), (4, 482, 0.313897, 4),
        |(4, 496, 0.341212, 2)
        |) AS t(query_id, neighbor_id, cosine, rank)
        |ORDER BY query_id, rank""".stripMargin,

    // the salted union must be row-identical to the plain join
    "q_skew_join" ->
      """SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // replays the md5 bucket split, then the share arithmetic over the
    // complete (split, stratum) scaffold
    "q_split_balance" ->
      """WITH b AS (
        |  SELECT lang AS stratum,
        |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 800 THEN 'train'
        |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 900 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |cells AS (SELECT split, stratum, count(*) AS n FROM b GROUP BY 1, 2),
        |sp AS (SELECT split, sum(n) AS ns FROM cells GROUP BY 1),
        |st AS (SELECT stratum, sum(n) AS nt FROM cells GROUP BY 1),
        |tot AS (SELECT sum(n) AS t FROM cells),
        |scaffold AS (SELECT split, stratum FROM sp, st)
        |SELECT s.split, s.stratum, CAST(coalesce(n, 0) AS BIGINT) AS n,
        |  round(coalesce(n, 0) / ns, 6) AS share_in_split,
        |  round(nt / t, 6) AS share_overall,
        |  round(coalesce(n, 0) / ns - nt / t, 6) AS delta
        |FROM scaffold s
        |LEFT JOIN cells USING (split, stratum)
        |JOIN sp USING (split) JOIN st USING (stratum) CROSS JOIN tot
        |ORDER BY split, stratum""".stripMargin,

    // exact interpolated percentiles: quantile_cont == Spark percentile
    "q_winsorize" ->
      """WITH q AS (
        |  SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS lo,
        |         quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS hi
        |  FROM documents)
        |SELECT doc_id, n_chars, round(lo, 6) AS lo, round(hi, 6) AS hi,
        |  round(least(greatest(CAST(n_chars AS DOUBLE), lo), hi), 6)
        |    AS clipped
        |FROM documents, q ORDER BY doc_id""".stripMargin,

    // deterministic rank fusion over two individually-gated rankings
    // (q_bm25's formula, q_ann_cosine's cosine), golden-pinned: docs
    // 128 and 174 fuse contributions from BOTH retrievers and take the
    // per-query head — single-list docs cap at 1/61
    "q_rrf" ->
      """SELECT CAST(query_id AS BIGINT) AS query_id,
        |  CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(rrf_score AS DOUBLE) AS rrf_score,
        |  CAST(fused_rank AS BIGINT) AS fused_rank FROM (VALUES
        |(1, 146, 0.016393, 1), (1, 386, 0.016393, 2),
        |(1, 27, 0.016129, 3), (1, 97, 0.016129, 4),
        |(1, 337, 0.015873, 5), (1, 407, 0.015873, 6),
        |(1, 22, 0.015625, 7), (1, 195, 0.015625, 8),
        |(1, 64, 0.015385, 9), (1, 153, 0.015385, 10),
        |(2, 128, 0.026334, 1), (2, 7, 0.016393, 2),
        |(2, 117, 0.016393, 3), (2, 21, 0.016129, 4),
        |(2, 450, 0.016129, 5), (2, 118, 0.015873, 6),
        |(2, 145, 0.015873, 7), (2, 126, 0.015625, 8),
        |(2, 188, 0.015625, 9), (2, 250, 0.015385, 10),
        |(3, 174, 0.03101, 1), (3, 444, 0.026316, 2),
        |(3, 13, 0.016393, 3), (3, 130, 0.016393, 4),
        |(3, 149, 0.016129, 5), (3, 309, 0.016129, 6),
        |(3, 42, 0.015873, 7), (3, 343, 0.015873, 8),
        |(3, 394, 0.015625, 9), (3, 231, 0.015385, 10)
        |) AS t(query_id, doc_id, rrf_score, fused_rank)
        |ORDER BY query_id, fused_rank""".stripMargin,

    // deterministic index-composed hard negatives (hash-seeded IVF
    // centroids), golden-pinned: candidates from the pruned cells scan,
    // twin-gated and re-ranked — vs q_hard_negatives' exact baseline,
    // query 0/1/2/3 swap tail ranks where IVF probing skips a cell (the
    // documented recall trade); top-1 agrees for every query
    "q_hard_negatives_ivf" ->
      """SELECT CAST(query_id AS BIGINT) AS query_id,
        |  CAST(neighbor_id AS BIGINT) AS neighbor_id,
        |  CAST(cosine AS DOUBLE) AS cosine,
        |  CAST(rank AS BIGINT) AS rank FROM (VALUES
        |(0, 365, 0.369994, 1), (0, 387, 0.331139, 2),
        |(0, 423, 0.296934, 3), (0, 73, 0.295434, 4),
        |(0, 190, 0.281795, 5),
        |(1, 27, 0.348208, 1), (1, 407, 0.32701, 2),
        |(1, 195, 0.322744, 3), (1, 220, 0.289782, 4),
        |(1, 363, 0.263306, 5),
        |(2, 117, 0.318143, 1), (2, 450, 0.266344, 2),
        |(2, 145, 0.263494, 3), (2, 320, 0.255043, 4),
        |(2, 418, 0.254029, 5),
        |(3, 343, 0.308472, 1), (3, 174, 0.303548, 2),
        |(3, 207, 0.291702, 3), (3, 192, 0.290803, 4),
        |(3, 474, 0.276738, 5),
        |(4, 114, 0.398513, 1), (4, 496, 0.341212, 2),
        |(4, 408, 0.322753, 3), (4, 482, 0.313897, 4),
        |(4, 280, 0.279826, 5)
        |) AS t(query_id, neighbor_id, cosine, rank)
        |ORDER BY query_id, rank""".stripMargin,

    // deterministic index-composed hybrid fusion, golden-pinned: both
    // lists come from persisted indexes (text-bucket BM25 + IVF ANN);
    // per-query heads match q_rrf's exact twin (370/128/174 lead) with
    // tail swaps where IVF probing reorders the vector list
    "q_rrf_ivf" ->
      """SELECT CAST(query_id AS BIGINT) AS query_id,
        |  CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(rrf_score AS DOUBLE) AS rrf_score,
        |  CAST(fused_rank AS BIGINT) AS fused_rank FROM (VALUES
        |(1, 370, 0.027313, 1), (1, 146, 0.016393, 2),
        |(1, 386, 0.016393, 3), (1, 27, 0.016129, 4),
        |(1, 97, 0.016129, 5), (1, 337, 0.015873, 6),
        |(1, 407, 0.015873, 7), (1, 22, 0.015625, 8),
        |(1, 195, 0.015625, 9), (1, 64, 0.015385, 10),
        |(2, 128, 0.027212, 1), (2, 7, 0.016393, 2),
        |(2, 117, 0.016393, 3), (2, 21, 0.016129, 4),
        |(2, 450, 0.016129, 5), (2, 118, 0.015873, 6),
        |(2, 145, 0.015873, 7), (2, 126, 0.015625, 8),
        |(2, 320, 0.015625, 9), (2, 250, 0.015385, 10),
        |(3, 174, 0.031514, 1), (3, 13, 0.016393, 2),
        |(3, 343, 0.016393, 3), (3, 309, 0.016129, 4),
        |(3, 42, 0.015873, 5), (3, 207, 0.015873, 6),
        |(3, 192, 0.015625, 7), (3, 394, 0.015625, 8),
        |(3, 363, 0.015385, 9), (3, 396, 0.015152, 10)
        |) AS t(query_id, doc_id, rrf_score, fused_rank)
        |ORDER BY query_id, fused_rank""".stripMargin,

    // replays the decimal-mean pooling per (group, dimension) with
    // ordinality-ordered reassembly
    "q_mean_pool" ->
      """WITH e AS (
        |  SELECT vec_id % 25 AS group_id, unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS p
        |  FROM embeddings),
        |m AS (
        |  SELECT group_id, p,
        |    CAST(sum(CAST(x AS DECIMAL(30,12))) / count(*) AS DOUBLE) AS m
        |  FROM e GROUP BY 1, 2)
        |SELECT group_id, CAST(p - 1 AS BIGINT) AS dim,
        |  round(m, 6) AS value
        |FROM m ORDER BY group_id, dim""".stripMargin,

    // the HLL union holds within 5% at any cardinality (near-exact in
    // sparse mode); the gate is the same verdict form as q_approx_distinct
    "q_hll_shards" ->
      """SELECT CAST(32 AS BIGINT) AS n_shards,
        |  count(DISTINCT l_partkey) AS distinct_parts,
        |  true AS within_5pct
        |FROM lineitem""".stripMargin,

    // golden-pinned maintenance receipt: compaction strictly shrinks
    // the post-ingest file count and preserves all 6480 band keys
    // ((400 docs − capped) × 16 bands + 5 ingested × 16)
    "q_dedup_compact" ->
      """SELECT CAST(files_reduced AS BOOLEAN) AS files_reduced,
        |  CAST(rows AS BIGINT) AS rows
        |FROM (VALUES (true, 6480)) AS t(files_reduced, rows)""".stripMargin,

    // the salted left-join union must be row-identical to the plain
    // left join, unmatched orders landing in the NULL segment row
    "q_skew_join_left" ->
      """SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders LEFT JOIN
        |  (SELECT * FROM customer WHERE c_custkey % 3 <> 0) c
        |  ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // both unmatched sides of the salted full join, replayed plainly
    "q_skew_join_full" ->
      """SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(o_orderkey) AS BIGINT) AS n_orders,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders FULL JOIN
        |  (SELECT * FROM customer WHERE c_custkey % 3 <> 0) c
        |  ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // replays join_rows = Σ cnt²  over the custkey histogram exactly
    "q_join_card" ->
      """WITH c AS (SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS n
        |           FROM orders GROUP BY 1),
        |t AS (SELECT k AS top_key, n * n AS top_key_rows FROM (
        |        SELECT *, row_number() OVER (ORDER BY n * n DESC, k DESC)
        |          AS rn FROM c) WHERE rn = 1)
        |SELECT (SELECT count(*) FROM orders) AS n_left,
        |  (SELECT count(*) FROM orders) AS n_right,
        |  CAST((SELECT count(*) FROM c) AS BIGINT) AS n_join_keys,
        |  CAST((SELECT sum(n * n) FROM c) AS DECIMAL(38,0)) AS join_rows,
        |  top_key, CAST(top_key_rows AS DECIMAL(38,0)) AS top_key_rows,
        |  round(CAST(top_key_rows AS DOUBLE)
        |    / CAST((SELECT sum(n * n) FROM c) AS DOUBLE), 6) AS top_share
        |FROM t""".stripMargin,

    // deterministic cell assignment (hash-seeded centroids), golden-
    // pinned per cell: counts, shares, and the signed drift delta
    "q_embedding_drift" ->
      """SELECT CAST(cell AS BIGINT) AS cell,
        |  CAST(n_base AS BIGINT) AS n_base, CAST(n_new AS BIGINT) AS n_new,
        |  CAST(share_base AS DOUBLE) AS share_base,
        |  CAST(share_new AS DOUBLE) AS share_new,
        |  CAST(delta AS DOUBLE) AS delta FROM (VALUES
        |(0, 66, 72, 0.132, 0.130909, -0.001091),
        |(1, 65, 71, 0.13, 0.129091, -0.000909),
        |(2, 78, 86, 0.156, 0.156364, 0.000364),
        |(3, 53, 61, 0.106, 0.110909, 0.004909),
        |(4, 61, 69, 0.122, 0.125455, 0.003455),
        |(5, 59, 62, 0.118, 0.112727, -0.005273),
        |(6, 63, 70, 0.126, 0.127273, 0.001273),
        |(7, 55, 59, 0.11, 0.107273, -0.002727)
        |) AS t(cell, n_base, n_new, share_base, share_new, delta)
        |ORDER BY cell""".stripMargin,

    // replays the full CDC cut: md5-derived boundary hash (the
    // engine-portable conv/0x form), chunk spans, chunk md5 identity
    "q_cdc_chunks" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 1000000 AS doc_id, 'shiftglyph ' || text FROM documents WHERE doc_id = 0),
        |tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM base),
        |nn AS (SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0),
        |bnd AS (
        |  SELECT doc_id, t, n,
        |    list_sort(list_distinct(list_append(
        |      CASE WHEN n >= 8 THEN
        |        list_filter(list_transform(range(8, n + 1), p ->
        |          CASE WHEN ('0x' || substr(md5(array_to_string(t[p-7:p], ' ')), 1, 8))::BIGINT % 16 = 0
        |               THEN p ELSE -1 END), x -> x >= 0)
        |      ELSE [] END, n))) AS b
        |  FROM nn),
        |ch AS (
        |  SELECT doc_id,
        |    md5(array_to_string(t[(CASE WHEN j = 1 THEN 1 ELSE b[j-1] + 1 END):(b[j])], ' ')) AS chunk_hash,
        |    b[j] - (CASE WHEN j = 1 THEN 1 ELSE b[j-1] + 1 END) + 1 AS n_tokens
        |  FROM bnd, unnest(range(1, len(b) + 1)) AS u(j)),
        |d AS (SELECT DISTINCT doc_id, chunk_hash, n_tokens FROM ch)
        |SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(n_tokens) AS BIGINT) AS n_tokens
        |FROM d GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY chunk_hash""".stripMargin,

    "q_cdc_chunks_collapsed" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 1000000 AS doc_id, 'shiftglyph ' || text FROM documents WHERE doc_id = 0
        |  UNION ALL
        |  SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id < 40),
        |tok AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM base),
        |nn AS (SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0),
        |bnd AS (
        |  SELECT doc_id, t, n,
        |    list_sort(list_distinct(list_append(
        |      CASE WHEN n >= 8 THEN
        |        list_filter(list_transform(range(8, n + 1), p ->
        |          CASE WHEN ('0x' || substr(md5(array_to_string(t[p-7:p], ' ')), 1, 8))::BIGINT % 16 = 0
        |               THEN p ELSE -1 END), x -> x >= 0)
        |      ELSE [] END, n))) AS b
        |  FROM nn),
        |ch AS (
        |  SELECT doc_id,
        |    md5(array_to_string(t[(CASE WHEN j = 1 THEN 1 ELSE b[j-1] + 1 END):(b[j])], ' ')) AS chunk_hash,
        |    b[j] - (CASE WHEN j = 1 THEN 1 ELSE b[j-1] + 1 END) + 1 AS n_tokens
        |  FROM bnd, unnest(range(1, len(b) + 1)) AS u(j)),
        |d AS (SELECT DISTINCT doc_id, chunk_hash, n_tokens FROM ch)
        |SELECT chunk_hash, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(n_tokens) AS BIGINT) AS n_tokens
        |FROM d GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY chunk_hash""".stripMargin,

    // generate_series replays the sequence(min, max, interval) spine
    "q_date_spine" ->
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS month,
        |    sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |    count(*) AS n_orders
        |  FROM orders WHERE o_custkey = 605 GROUP BY 1),
        |s AS (
        |  SELECT unnest(generate_series((SELECT min(month) FROM m),
        |                                (SELECT max(month) FROM m),
        |                                INTERVAL 1 MONTH)) AS month)
        |SELECT s.month, coalesce(revenue, 0) AS revenue,
        |  CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders
        |FROM s LEFT JOIN m USING (month) ORDER BY month""".stripMargin,

    // replays the engine-portable cut: 0-based score rank (ties by id),
    // bucket = min(floor(rank·4/n), 3), md5-keyed within-bucket shuffle
    "q_curriculum" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY CAST(n_chars AS DOUBLE), doc_id) - 1
        |      AS score_rank,
        |    count(*) OVER () AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, score_rank,
        |    least(CAST(floor(score_rank * 4 / n) AS BIGINT), 3) AS bucket
        |  FROM r)
        |SELECT doc_id, CAST(score_rank AS BIGINT) AS score_rank, bucket,
        |  row_number() OVER (ORDER BY bucket,
        |    md5(concat('r9', ':', CAST(doc_id AS VARCHAR))), doc_id) - 1
        |    AS position
        |FROM b ORDER BY position""".stripMargin,

    // identical formula to q_bm25 — the index route must reproduce the
    // full-scan scorer exactly (score association differs by ~1e-15,
    // far under the 1e-6 rounding)
    "q_bm25_index" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, len(t) AS doc_len,
        |    len(list_filter(t, x -> x = 'spark')) AS tf0,
        |    len(list_filter(t, x -> x = 'vector')) AS tf1,
        |    len(list_filter(t, x -> x = 'customer')) AS tf2
        |  FROM tok),
        |s AS (
        |  SELECT count(*) AS n, avg(doc_len) AS avglen,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM d)
        |SELECT doc_id, CAST(doc_len AS BIGINT) AS doc_len,
        |  round(score, 6) AS bm25
        |FROM (
        |  SELECT d.doc_id, d.doc_len,
        |      ln(1 + (s.n - s.df0 + 0.5) / (s.df0 + 0.5))
        |        * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * doc_len / s.avglen))
        |    + ln(1 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5))
        |        * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * doc_len / s.avglen))
        |    + ln(1 + (s.n - s.df2 + 0.5) / (s.df2 + 0.5))
        |        * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * doc_len / s.avglen))
        |      AS score
        |  FROM d CROSS JOIN s)
        |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_window_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |w AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS "window"
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8)
        |SELECT "window", count(*) AS n_docs
        |FROM w GROUP BY "window" HAVING count(*) >= 2
        |ORDER BY n_docs DESC, "window" LIMIT 25""".stripMargin,

    "q_window_dedup_collapsed" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM (SELECT doc_id, text FROM documents
        |        UNION ALL
        |        SELECT doc_id + 500000, text FROM documents WHERE doc_id < 40)),
        |w AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS "window"
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8)
        |SELECT "window", count(*) AS n_docs
        |FROM w GROUP BY "window" HAVING count(*) >= 2
        |ORDER BY n_docs DESC, "window" LIMIT 25""".stripMargin
  )
}
