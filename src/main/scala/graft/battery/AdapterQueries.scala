package graft
package battery

import graft.plan.SemanticQuery
import org.apache.spark.sql.functions._

/** §2.13 external adapters: each imports a foreign model format, binds
  * it to the TPC-H tables and queries it through the generator. */
object AdapterQueries {
  import Battery._

  val all: Seq[BatteryQuery] = Seq(
    // ---- §2.13 external adapters: Cube ----
    // the reference's own cube fixture, bound to the TPC-H orders table
    // through a derived view (sql_table resolution is pluggable)
    BatteryQuery("q_adapter_cube",
      """SELECT o_orderstatus AS status,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS "count",
        |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(o_totalprice) as double), 4) AS avg_order_value
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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

    // second external adapter: the reference's hex orders fixture bound
    // to the TPC-H orders table through a derived view
    BatteryQuery("q_adapter_hex",
      """SELECT o_orderstatus AS status,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  sum(CASE WHEN o_orderstatus = 'completed'
        |      THEN cast(o_totalprice as decimal(18,2)) END) AS completed_revenue,
        |  round(cast(sum(IF(o_orderstatus = 'completed',
        |        cast(o_totalprice as decimal(18,2)), 0)) as double)
        |    / cast(sum(cast(o_totalprice as decimal(18,2))) as double), 4)
        |    AS conversion_rate
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_superset",
      """SELECT o_orderstatus AS status,
        |  count(*) AS "count",
        |  sum(cast(o_totalprice as decimal(18,2))) AS total_revenue,
        |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(cast(o_totalprice as decimal(18,2))) as double), 4)
        |    AS avg_order_value
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_rill",
      """SELECT CASE WHEN o_orderstatus = 'F' THEN 'completed'
        |            ELSE 'pending' END AS status,
        |  count(*) AS total_orders,
        |  sum(cast(o_totalprice as decimal(18,2))) AS total_revenue,
        |  round(cast(sum(cast(o_totalprice as decimal(18,2))) as double)
        |    / cast(count(o_totalprice) as double), 4) AS avg_order_value,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS completed_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_lookml",
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
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_metricflow",
      """SELECT c.c_mktsegment AS region,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  round(cast(sum(cast(o.o_totalprice as decimal(18,2))) as double)
        |    / cast(count(*) as double), 4) AS average_order_value
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_metricflow_pct",
      """SELECT o_orderstatus AS status,
        |  round(percentile_cont(0.9) WITHIN GROUP
        |    (ORDER BY cast(o_totalprice as double)), 4) AS amount_p90,
        |  round(percentile_disc(0.5) WITHIN GROUP
        |    (ORDER BY cast(o_totalprice as double)), 4) AS amount_med_disc
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_tableau",
      """SELECT date_trunc('month', o_orderdate) AS order_date__month,
        |  sum(cast(o_totalprice as decimal(18,2))) AS amount,
        |  count(o_orderkey) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_omni",
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
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_snowflake",
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(DISTINCT o.o_orderkey) AS order_count
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_osi",
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS total_revenue,
        |  count(DISTINCT o.o_orderkey) AS order_count
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_atscale",
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS total_amount,
        |  count(o.o_orderkey) AS order_count,
        |  round(cast(sum(cast(o.o_totalprice as decimal(18,2))) as double)
        |    / cast(count(o.o_orderkey) as double), 4) AS avg_order_value
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_gooddata",
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS amount,
        |  max(cast(o.o_totalprice as decimal(18,2))) AS max_amount
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_tmdl",
      """SELECT c.c_mktsegment AS Segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS total_sales,
        |  count(*) AS order_count,
        |  round(cast(sum(cast(o.o_totalprice as decimal(18,2))) as double)
        |    / cast(count(*) as double), 4) AS avg_sale
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_tmdl_dax",
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
        |ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_thoughtspot",
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(DISTINCT o.o_orderkey) AS order_count,
        |  sum(cast(o.o_totalprice as decimal(18,2)) * 2) AS double_revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_bsl",
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  count(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS final_count
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_holistics",
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(o.o_orderkey) AS order_count,
        |  round(cast(sum(cast(o.o_totalprice as decimal(18,2))) as double)
        |    / cast(nullif(count(o.o_orderkey), 0) as double), 4) AS aov
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_malloy",
      """SELECT c.c_mktsegment AS region,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  count(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS final_orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_adapter_graphene",
      """SELECT c.c_mktsegment AS segment,
        |  sum(cast(o.o_totalprice as decimal(18,2))) AS revenue,
        |  sum(CASE WHEN o.o_orderstatus = 'F'
        |      THEN cast(o.o_totalprice as decimal(18,2)) ELSE 0 END)
        |    AS final_revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_sql_ddl",
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count,
        |  sum(CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN cast(o_totalprice as decimal(18,2)) END) AS urgent_revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    })
  )
}
