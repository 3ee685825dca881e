package graft
package battery

import graft.gen.TableCalcs
import graft.plan.SemanticQuery
import org.apache.spark.sql.functions._

/** The semantic layer's rows: SURVEY.md §2.1-§2.12 (aggregations, time
  * grains, joins, fan-out, derived metrics, windows, funnels, table
  * calculations, semantic SQL) and §4.1 pre-aggregation routing. */
object SemanticQueries {
  import Battery._

  val all: Seq[BatteryQuery] = Seq(
    // ---- §2.1/2.2/2.5 scans, projections, aggregations ----
    BatteryQuery("q_simple_agg",
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
        |  sum(l_quantity) AS quantity,
        |  sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4))) AS net_revenue,
        |  count(*) AS item_count
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("lineitem.quantity", "lineitem.net_revenue", "lineitem.item_count"),
      dimensions = Seq("lineitem.returnflag", "lineitem.linestatus"),
      orderBy = Seq("returnflag", "linestatus")))),

    BatteryQuery("q_agg_minmax",
      """SELECT o_orderpriority AS orderpriority,
        |  min(o_totalprice) AS min_order_value,
        |  max(o_totalprice) AS max_order_value,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.min_order_value", "orders.max_order_value", "orders.order_count"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority")))),

    BatteryQuery("q_agg_avg",
      // avg = exact decimal sum / count in double: deterministic under any
      // partitioning on both engines (avg(double) is order-dependent)
      """SELECT o_orderstatus AS orderstatus,
        |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(o_totalprice) as double), 4) AS avg_order_value
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => round4(q(s, d)(SemanticQuery(
      metrics = Seq("orders.avg_order_value"),
      dimensions = Seq("orders.orderstatus"),
      orderBy = Seq("orderstatus"))), "avg_order_value")),

    BatteryQuery("q_count_distinct",
      """SELECT o_orderstatus AS orderstatus,
        |  count(DISTINCT o_custkey) AS distinct_customers
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.distinct_customers"),
      dimensions = Seq("orders.orderstatus"),
      orderBy = Seq("orderstatus")))),

    BatteryQuery("q_count_distinct_multi",
      """SELECT o_orderpriority AS orderpriority,
        |  count(DISTINCT CASE WHEN o_custkey IS NULL OR o_orderstatus IS NULL
        |    THEN NULL ELSE (o_custkey, o_orderstatus) END) AS custkey_status_pairs
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.custkey_status_pairs"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority")))),

    BatteryQuery("q_bsl_total",
      """SELECT orderpriority, revenue,
        |  round(cast(revenue as double) / cast(total as double), 4)
        |    AS revenue_share_of_total
        |FROM (SELECT o_orderpriority AS orderpriority,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |        sum(sum(cast(o_totalprice as decimal(18,2)))) OVER () AS total
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin
    )((s, d) => round4(q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue", "orders.revenue_share_of_total"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority"))), "revenue_share_of_total")),

    BatteryQuery("q_window_expr",
      """SELECT order_date__month,
        |  round(avg(cast(revenue as double)) OVER (ORDER BY order_date__month
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS revenue_ma3m
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin
    )((s, d) => round4(q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_ma3m"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month"))), "revenue_ma3m")),

    // RANKX-style windowExpression metric queried by a NON-time
    // dimension: no time axis, so the rank's window spans the whole
    // grouped result — PARTITION BY the queried dims would rank every
    // one-row group 1 (the r16 ADVICE regression this oracle pins)
    BatteryQuery("q_window_rank_dim",
      """SELECT orderpriority, revenue,
        |  CAST(rank() OVER (ORDER BY revenue DESC) AS BIGINT) AS revenue_rank
        |FROM (SELECT o_orderpriority AS orderpriority,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin
    )((s, d) => asLong(q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue", "orders.revenue_rank"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority"))), "revenue_rank")),

    BatteryQuery("q_stats",
      """SELECT l_returnflag AS returnflag,
        |  round(median(l_quantity), 4) AS median_quantity,
        |  round(stddev_samp(l_quantity), 4) AS stddev_quantity,
        |  round(stddev_pop(l_quantity), 4) AS stddev_pop_quantity,
        |  round(var_samp(l_quantity), 4) AS var_quantity,
        |  round(var_pop(l_quantity), 4) AS var_pop_quantity
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => round4(q(s, d)(SemanticQuery(
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
    BatteryQuery("q_approx_distinct",
      // HLL accuracy contract: the oracle pins the exact distinct count and
      // asserts the sketch stays within 5% relative error of it
      """SELECT l_returnflag AS returnflag,
        |  count(DISTINCT l_partkey) AS distinct_parts,
        |  true AS within_5pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_time_grain_month",
      """SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")))),

    BatteryQuery("q_time_grain_week",
      """SELECT date_trunc('week', l_shipdate) AS shipdate__week,
        |  sum(l_quantity) AS quantity
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-03-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("lineitem.quantity"),
      dimensions = Seq("lineitem.shipdate__week"),
      filters = Seq("lineitem.shipdate >= '1996-01-01'",
        "lineitem.shipdate < '1996-03-01'"),
      orderBy = Seq("shipdate__week")))),

    BatteryQuery("q_filter_pushdown",
      // lineitem reaches nation via the supplier shortcut (2 hops — the BFS
      // unique-shortest path, since part↔supplier junction edges exist);
      // the orders join is only pulled in for its filter
      """SELECT n.n_name AS name,
        |  sum(cast(l.l_extendedprice * (1 - l.l_discount) as decimal(18,4))) AS net_revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE o.o_orderstatus = 'F' AND l.l_shipdate >= '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("lineitem.net_revenue"),
      dimensions = Seq("nation.name"),
      filters = Seq("orders.orderstatus = 'F'",
        "lineitem.shipdate >= '1997-01-01'"),
      orderBy = Seq("name")))),

    BatteryQuery("q_metric_filter",
      """SELECT o_orderpriority AS orderpriority,
        |  sum(CASE WHEN o_orderstatus = 'O'
        |      THEN cast(o_totalprice as decimal(18,2)) END) AS open_revenue,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.open_revenue", "orders.revenue"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority")))),

    BatteryQuery("q_having",
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders GROUP BY 1
        |HAVING sum(cast(o_totalprice as decimal(18,2))) > 70000000
        |ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderpriority"),
      filters = Seq("orders.revenue > 70000000"),
      orderBy = Seq("orderpriority")))),

    BatteryQuery("q_segment",
      """SELECT n.n_name AS name, count(*) AS customer_count
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_mktsegment = 'AUTOMOBILE'
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("customer.customer_count"),
      dimensions = Seq("nation.name"),
      segments = Seq("customer.automobile"),
      orderBy = Seq("name")))),

    BatteryQuery("q_relative_date",
      """SELECT o_orderstatus AS orderstatus, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= DATE '1999-01-01' - INTERVAL 700 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.order_count"),
      dimensions = Seq("orders.orderstatus"),
      filters = Seq("orders.order_date >= 'last 100 weeks'"),
      anchorDate = Some("1999-01-01"),
      orderBy = Seq("orderstatus")))),

    BatteryQuery("q_parameter",
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderstatus"),
      filters = Seq("orders.orderpriority = '{{prio}}'"),
      parameters = Map("prio" -> "1-URGENT"),
      orderBy = Seq("orderstatus")))),

    // the round-15 Jinja-subset extension under the oracle: a {% for %}
    // loop builds the IN list (loop.last separator — the reference's
    // canonical loop shape) and an UNBOUND parameter falls back through
    // `| default('3-MEDIUM')`
    BatteryQuery("q_parameter_loop",
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
        |  AND o_orderpriority != '3-MEDIUM'
        |  AND o_orderpriority != '2-HIGH'
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
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
    BatteryQuery("q_parameter_in",
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders
        |WHERE o_orderpriority = '2-HIGH'
        |  AND o_orderstatus IN ('F', 'O', 'P')
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
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

    BatteryQuery("q_bool_dimension",
      """SELECT o_totalprice > 200000 AS is_high_value, count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.order_count"),
      dimensions = Seq("orders.is_high_value"),
      orderBy = Seq("is_high_value")))),

    // ---- §2.3 joins ----
    // orders→customer→nation→region: 3-hop chain with no shorter route
    BatteryQuery("q_multi_hop",
      """SELECT r.r_name AS name,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("region.name"),
      orderBy = Seq("name")))),

    BatteryQuery("q_many_to_many",
      """SELECT p.p_brand AS brand, count(DISTINCT s.s_suppkey) AS supplier_count
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("supplier.supplier_count"),
      dimensions = Seq("part.brand"),
      orderBy = Seq("brand")))),

    // ---- §2.4 fan-out safety ----
    BatteryQuery("q_fanout_symmetric",
      """SELECT orderstatus,
        |  sum(acct) AS total_acctbal, count(DISTINCT ck) AS customer_count
        |FROM (SELECT DISTINCT o.o_orderstatus AS orderstatus,
        |        c.c_custkey AS ck, cast(c.c_acctbal as decimal(18,2)) AS acct
        |      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("customer.total_acctbal", "customer.customer_count"),
      dimensions = Seq("orders.orderstatus"),
      orderBy = Seq("orderstatus")))),

    BatteryQuery("q_fanout_avg",
      """SELECT orderstatus,
        |  round(cast(sum(acct) as double)
        |    / cast(count(DISTINCT ck) as double), 4) AS avg_acctbal
        |FROM (SELECT DISTINCT o.o_orderstatus AS orderstatus,
        |        c.c_custkey AS ck, cast(c.c_acctbal as decimal(18,2)) AS acct
        |      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => round4(q(s, d)(SemanticQuery(
      metrics = Seq("customer.avg_acctbal"),
      dimensions = Seq("orders.orderstatus"),
      orderBy = Seq("orderstatus"))), "avg_acctbal")),

    BatteryQuery("q_multifact",
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
        |ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue", "lineitem.quantity"),
      dimensions = Seq("customer.mktsegment"),
      orderBy = Seq("mktsegment")))),

    BatteryQuery("q_semi_additive",
      """SELECT month AS ts__month, sum(v) AS last_value_total
        |FROM (SELECT date_trunc('month', ts) AS month, user_id,
        |        cast(value as decimal(18,2)) AS v, ts,
        |        max(ts) OVER (PARTITION BY date_trunc('month', ts), user_id) AS mx
        |      FROM events)
        |WHERE ts = mx GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.last_value_total"),
      dimensions = Seq("events.ts__month"),
      orderBy = Seq("ts__month")))),

    // ---- §2.5 derived / ratio / fill_nulls / totals / ungrouped ----
    BatteryQuery("q_ratio",
      """SELECT o_orderpriority AS orderpriority,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(*) as double) AS aov,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(DISTINCT o_custkey) as double) AS revenue_per_customer
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.aov", "orders.revenue_per_customer"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority")))),

    BatteryQuery("q_derived",
      """SELECT o_orderpriority AS orderpriority,
        |  cast(sum(CASE WHEN o_orderstatus = 'O'
        |        THEN cast(o_totalprice as decimal(18,2)) END) as double)
        |    / cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    AS open_revenue_share
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.open_revenue_share"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority")))),

    BatteryQuery("q_graph_metric",
      """SELECT cast((SELECT sum(cast(o_totalprice as decimal(18,2))) FROM orders) as double)
        |  / cast((SELECT count(*) FROM lineitem) as double) AS revenue_per_item""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("revenue_per_item")))),

    BatteryQuery("q_fill_nulls",
      """SELECT event_type,
        |  COALESCE(sum(CASE WHEN event_type = 'purchase'
        |      THEN cast(value as decimal(18,2)) END), 0.0) AS purchase_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.purchase_value"),
      dimensions = Seq("events.event_type"),
      orderBy = Seq("event_type")))),

    BatteryQuery("q_with_totals",
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS _is_total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), ())
        |ORDER BY 3, 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderpriority"),
      withTotals = true,
      orderBy = Seq("_is_total", "orderpriority")))),

    // totals over a fan-out route: the grand-total bucket re-dedups on
    // (pk, value) only, so a customer spanning k order statuses counts once
    BatteryQuery("q_totals_fanout",
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
        |ORDER BY 3, 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("customer.total_acctbal"),
      dimensions = Seq("orders.orderstatus"),
      withTotals = true,
      orderBy = Seq("_is_total", "orderstatus")))),

    BatteryQuery("q_ungrouped",
      """SELECT o_orderkey, o_orderstatus AS orderstatus,
        |  cast(o_totalprice as decimal(18,2)) AS revenue
        |FROM orders ORDER BY o_orderkey LIMIT 10""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderstatus"),
      ungrouped = true,
      orderBy = Seq("o_orderkey"), limit = Some(10)))),

    BatteryQuery("q_order_limit_offset",
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders GROUP BY 1
        |ORDER BY revenue DESC LIMIT 3 OFFSET 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("-revenue"), limit = Some(3), offset = Some(1)))),

    // ---- §2.6 window metrics ----
    BatteryQuery("q_cumulative",
      """SELECT order_date__month,
        |  sum(revenue) OVER (ORDER BY order_date__month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumulative_revenue,
        |  revenue
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.cumulative_revenue", "orders.revenue"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")))),

    BatteryQuery("q_cumulative_window",
      """SELECT order_date__month,
        |  sum(revenue) OVER (ORDER BY mkey
        |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS revenue_3m
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        year(date_trunc('month', o_orderdate)) * 12
        |          + month(date_trunc('month', o_orderdate)) AS mkey,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1, 2)
        |ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_3m"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")))),

    BatteryQuery("q_grain_to_date",
      """SELECT order_date__month,
        |  sum(revenue) OVER (PARTITION BY date_trunc('year', order_date__month)
        |    ORDER BY order_date__month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS revenue_ytd
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_ytd"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")))),

    BatteryQuery("q_time_comparison",
      """SELECT order_date__month,
        |  round((cast(revenue as double) - cast(prev as double))
        |    / NULLIF(cast(prev as double), 0) * 100, 4) AS revenue_mom
        |FROM (SELECT order_date__month, revenue,
        |        lag(revenue, 1) OVER (ORDER BY order_date__month) AS prev
        |      FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |              sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |            FROM orders GROUP BY 1))
        |ORDER BY 1""".stripMargin
    )((s, d) => round4(q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_mom"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month"))), "revenue_mom")),

    BatteryQuery("q_yoy_difference",
      """SELECT order_date__month,
        |  revenue - lag(revenue, 12) OVER (ORDER BY order_date__month)
        |    AS revenue_yoy_diff
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_yoy_diff"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")))),

    // sparse series: all of 1995 filtered out — exact-period comparison
    // yields NULL for 1996 (no 1995 baseline); a row-lag would silently
    // compare 1996 months against 1994
    BatteryQuery("q_yoy_sparse",
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |    sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |  FROM orders
        |  WHERE o_orderdate < '1995-01-01' OR o_orderdate >= '1996-01-01'
        |  GROUP BY 1)
        |SELECT a.order_date__month, a.revenue - b.revenue AS revenue_yoy_diff
        |FROM m a LEFT JOIN m b
        |  ON b.order_date__month = a.order_date__month - INTERVAL 1 YEAR
        |ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_yoy_diff"),
      dimensions = Seq("orders.order_date__month"),
      filters = Seq(
        "orders.order_date < '1995-01-01' OR orders.order_date >= '1996-01-01'"),
      orderBy = Seq("order_date__month")))),

    // ---- §2.7 funnels ----
    BatteryQuery("q_conversion",
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
        |      GROUP BY 1)""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.signup_conversion")))),

    BatteryQuery("q_retention",
      // reference retention contract: fixed column names + retention_pct ×100
      // (generator.py:5178-5205)
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
        |ORDER BY 1, 2""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.signup_retention"),
      orderBy = Seq("cohort_date", "days_since")))),

    BatteryQuery("q_cohort",
      """SELECT CAST(count(*) AS BIGINT) AS multi_type_users
        |FROM (SELECT user_id, count(DISTINCT event_type) AS value
        |      FROM events GROUP BY 1)
        |WHERE value >= 4""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.multi_type_users")))),

    BatteryQuery("q_funnel_steps",
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
        |ORDER BY step""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.signup_funnel"),
      orderBy = Seq("step")))),

    BatteryQuery("q_offset_ratio",
      """SELECT order_date__month,
        |  cast(revenue as double)
        |    / NULLIF(cast(lag(revenue, 1) OVER (ORDER BY order_date__month) as double), 0)
        |    AS revenue_vs_prev_month
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.revenue_vs_prev_month"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")))),

    // ---- §2.8 top-n + §1.1 table calculations ----
    BatteryQuery("q_topn",
      """SELECT order_date__month, revenue FROM (
        |  SELECT order_date__month, revenue,
        |    row_number() OVER (ORDER BY revenue DESC, order_date__month) AS rn
        |  FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |          sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |        FROM orders GROUP BY 1))
        |WHERE rn <= 3 ORDER BY 1""".stripMargin
    )((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.order_date__month")),
      ("topN", "revenue", 3, "order_date__month")) { df =>
      TableCalcs.topN(df, "revenue", 3).orderBy("order_date__month")
    }),

    BatteryQuery("q_tablecalc_pct",
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  cast(sum(cast(o_totalprice as decimal(18,2))) as double) * 100
        |    / cast(sum(sum(cast(o_totalprice as decimal(18,2)))) OVER () as double)
        |    AS revenue_share
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.orderstatus")),
      ("percentOfTotal", "revenue", "revenue_share", "orderstatus")) { df =>
      TableCalcs.percentOfTotal(df, "revenue", "revenue_share")
        .orderBy("orderstatus")
    }),

    BatteryQuery("q_tablecalc_running",
      """SELECT order_date__month, revenue,
        |  sum(revenue) OVER (ORDER BY order_date__month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_revenue
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin
    )((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.order_date__month")),
      ("runningTotal", "revenue", "running_revenue", "order_date__month")) {
      df => TableCalcs.runningTotal(df, "revenue", Seq("order_date__month"),
        "running_revenue").orderBy("order_date__month")
    }),

    BatteryQuery("q_tablecalc_rank",
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  CAST(rank() OVER (ORDER BY sum(cast(o_totalprice as decimal(18,2))) DESC)
        |    AS BIGINT) AS revenue_rank
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.orderpriority")),
      ("rankBy", "revenue", "revenue_rank", "orderpriority", "asLong")) { df =>
      asLong(TableCalcs.rankBy(df, "revenue", "revenue_rank")
        .orderBy("orderpriority"), "revenue_rank")
    }),

    BatteryQuery("q_tablecalc_moving_avg",
      """SELECT order_date__month, revenue,
        |  round(avg(cast(revenue as double)) OVER (ORDER BY order_date__month
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS revenue_ma3
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin
    )((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.order_date__month")),
      ("movingAverage", "revenue", 3, "revenue_ma3", "order_date__month",
        "round4")) { df =>
      round4(TableCalcs.movingAverage(df, "revenue", Seq("order_date__month"),
        3, "revenue_ma3").orderBy("order_date__month"), "revenue_ma3")
    }),

    BatteryQuery("q_tablecalc_prev",
      """SELECT order_date__month, revenue,
        |  round((cast(revenue as double) - lag(cast(revenue as double))
        |      OVER (ORDER BY order_date__month)) * 100
        |    / nullif(lag(cast(revenue as double))
        |      OVER (ORDER BY order_date__month), 0), 4) AS revenue_mom_pct
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin
    )((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.order_date__month")),
      ("percentOfPrevious", "revenue", "revenue_mom_pct", "order_date__month",
        "round4")) { df =>
      round4(TableCalcs.percentOfPrevious(df, "revenue",
        Seq("order_date__month"), "revenue_mom_pct")
        .orderBy("order_date__month"), "revenue_mom_pct")
    }),

    BatteryQuery("q_tablecalc_coltotal",
      """SELECT orderstatus, orderpriority, revenue,
        |  round(cast(revenue as double) * 100
        |    / cast(sum(revenue) OVER (PARTITION BY orderstatus) as double), 4)
        |    AS revenue_status_share
        |FROM (SELECT o_orderstatus AS orderstatus,
        |        o_orderpriority AS orderpriority,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1, 2)
        |ORDER BY 1, 2""".stripMargin
    )((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.orderstatus", "orders.orderpriority")),
      ("percentOfColumnTotal", "revenue", "orderstatus",
        "revenue_status_share", "round4")) { df =>
      round4(TableCalcs.percentOfColumnTotal(df, "revenue", Seq("orderstatus"),
        "revenue_status_share").orderBy("orderstatus", "orderpriority"),
        "revenue_status_share")
    }),

    BatteryQuery("q_tablecalc_percentile",
      """SELECT orderpriority, revenue,
        |  round(percent_rank() OVER (ORDER BY revenue), 4) AS revenue_pctile
        |FROM (SELECT o_orderpriority AS orderpriority,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY orderpriority""".stripMargin
    )((s, d) => tableCalc(s, d, SemanticQuery(
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
    BatteryQuery("q_tablecalc_pctvalue",
      """SELECT order_date__month, revenue,
        |  round(quantile_cont(cast(revenue as double), 0.9) OVER (), 4)
        |    AS revenue_p90
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin
    )((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.order_date__month")),
      ("percentileValue", "revenue", 0.9, "revenue_p90", "order_date__month",
        "round4")) { df =>
      round4(TableCalcs.percentileValue(df, "revenue", 0.9, "revenue_p90")
        .orderBy("order_date__month"), "revenue_p90")
    }),

    BatteryQuery("q_tablecalc_rownum",
      """SELECT order_date__month, revenue,
        |  CAST(row_number() OVER (ORDER BY order_date__month) AS BIGINT)
        |    AS row_num
        |FROM (SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |        sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |      FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin
    )((s, d) => tableCalc(s, d, SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.order_date__month")),
      ("rowNumberBy", "order_date__month", "row_num", "asLong")) { df =>
      asLong(TableCalcs.rowNumberBy(df, Seq("order_date__month"), "row_num")
        .orderBy("order_date__month"), "row_num")
    }),

    BatteryQuery("q_tablecalc_formula",
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / nullif(count(*), 0), 4) AS avg_order_value
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => tableCalc(s, d, SemanticQuery(
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
    BatteryQuery("q_describe_graph",
      // golden catalog-introspection document: per-model field counts
      // after the JSON round trip
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
        |ORDER BY model""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_timezone",
      """SELECT date_trunc('month',
        |    timezone('America/New_York', o_orderdate AT TIME ZONE 'UTC'))
        |    AS order_date__month,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders.order_count"),
      dimensions = Seq("orders.order_date__month"),
      timezone = Some("America/New_York"),
      orderBy = Seq("order_date__month")))),

    BatteryQuery("q_dim_window",
      """SELECT event_type, next_event_type, count(*) AS event_count
        |FROM (SELECT event_type,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts)
        |          AS next_event_type
        |      FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("events.event_count"),
      dimensions = Seq("events.event_type", "events.next_event_type"),
      orderBy = Seq("event_type", "next_event_type")))),

    BatteryQuery("q_saved_query",
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) =>
      tpch(s, d).planSaved("revenue_by_priority")),

    // explore contract: defaults fill the selection, the mandatory
    // orderstatus filter always applies (reference: consumption.py:100)
    BatteryQuery("q_explore",
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) =>
      tpch(s, d).planExplore("fulfilled_orders")),

    // ---- §2.12 semantic SQL front end ----
    BatteryQuery("q_sqlfront",
      """SELECT c.c_mktsegment AS mktsegment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
      val cat = TpchCatalog.build(d)
      new graft.sqlfront.SqlFront(s, cat, GraftSession.generator(s, cat)).sql(
        """SELECT customer.mktsegment, orders.revenue, orders.order_count
          |FROM orders
          |WHERE orders.orderstatus = 'F'
          |ORDER BY mktsegment""".stripMargin)
    }),

    BatteryQuery("q_sqlfront_having",
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders GROUP BY 1
        |HAVING sum(cast(o_totalprice as decimal(18,2))) > 70000000
        |ORDER BY 1""".stripMargin
    )((s, d) => {
      val cat = TpchCatalog.build(d)
      new graft.sqlfront.SqlFront(s, cat, GraftSession.generator(s, cat)).sql(
        """SELECT orders.orderpriority, orders.revenue FROM orders
          |GROUP BY orders.orderpriority
          |HAVING orders.revenue > 70000000
          |ORDER BY orderpriority""".stripMargin)
    }),

    // WITH query: semantic CTE planned by the generator, plain-SQL outer
    // shell over the materialized view (reference: query_rewriter.py:917)
    BatteryQuery("q_sqlfront_cte",
      """SELECT o_orderpriority AS orderpriority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders GROUP BY 1
        |HAVING sum(cast(o_totalprice as decimal(18,2))) > 70000000
        |ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_sqlfront_metrics",
      """SELECT
        |  (SELECT sum(cast(o_totalprice as decimal(18,2))) FROM orders) AS revenue,
        |  cast((SELECT sum(cast(o_totalprice as decimal(18,2))) FROM orders) as double)
        |    / cast((SELECT count(*) FROM lineitem) as double) AS revenue_per_item""".stripMargin
    )((s, d) => {
      val cat = TpchCatalog.build(d)
      new graft.sqlfront.SqlFront(s, cat, GraftSession.generator(s, cat)).sql(
        "SELECT orders.revenue, revenue_per_item FROM metrics")
    }),

    // declared cross relationship (SURVEY §2 row 22): every region paired
    // with the whole nation table; the count-distinct metric is fan-out
    // safe by construction
    BatteryQuery("q_cross_join",
      """SELECT r.r_name AS name,
        |  count(DISTINCT n.n_nationkey) AS nation_count
        |FROM region r CROSS JOIN nation n
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_set_ops",
      """(SELECT c_mktsegment AS mktsegment FROM customer
        | EXCEPT
        | SELECT c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING')
        |UNION
        |SELECT c_mktsegment FROM customer WHERE c_mktsegment = 'MACHINERY'
        |ORDER BY mktsegment""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_inheritance",
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  sum(CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN cast(o_totalprice as decimal(18,2)) END) AS urgent_revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_visibility",
      """SELECT cast(1 as int) AS denied,
        |  cast((SELECT count(DISTINCT o_orderstatus) FROM orders) as bigint)
        |    AS visible_groups""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_preagg_route",
      """SELECT o_orderstatus AS orderstatus,
        |  date_trunc('month', o_orderdate) AS order_date__month,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(o_totalprice) as double), 4) AS avg_order_value
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    )((s, d) => {
      val cat = TpchCatalog.build(d)
      val store = new graft.preagg.PreAggStore(s, cat,
        Battery.store(d, "preagg"))
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
    BatteryQuery("q_preagg_explain",
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
        |ORDER BY candidate, "check"""".stripMargin
    )((s, d) => {
      import s.implicits._
      val cat = TpchCatalog.build(d)
      val store = new graft.preagg.PreAggStore(s, cat,
        Battery.store(d, "preagg"))
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

    // join-key routing: the orders rollup stores o_custkey, so a query
    // grouped by nation (orders→customer→nation) still reads the rollup
    // and joins the small dimension models instead of scanning the fact
    BatteryQuery("q_preagg_join",
      """SELECT n.n_name AS name,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
      val cat = TpchCatalog.build(d)
      val store = new graft.preagg.PreAggStore(s, cat,
        Battery.store(d, "preagg"))
      store.materializeIfAbsent("orders",
        cat.model("orders").preAggregations.find(_.name == "daily_by_customer").get)
      val g2 = GraftSession.generator(s, cat, Some(store))
      g2.plan(SemanticQuery(
        metrics = Seq("orders.revenue", "orders.order_count"),
        dimensions = Seq("nation.name"),
        orderBy = Seq("name")))
    })
  )
}
