package graft
package battery

import graft.plan.SemanticQuery
import org.apache.spark.sql.functions._

/** Oracle coverage for the §2 rows that were once ScalaTest-only
  * (loaders, governance, freshness, incremental and streaming pre-agg
  * maintenance, routing diagnostics) plus §1.1 security. */
object ModelQueries {
  import Battery._

  val all: Seq[BatteryQuery] = Seq(
    // ---- oracle coverage for the formerly ScalaTest-only §2 rows ----

    // §2 row 1: table scan through a registered (temp) table name
    BatteryQuery("q_table_scan",
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_derived_table",
      """SELECT o_orderpriority AS priority,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM (SELECT * FROM orders WHERE o_totalprice > 150000)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_hierarchy_drill",
      """SELECT year(o_orderdate) AS order_year,
        |  month(o_orderdate) AS order_month,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_governance",
      // metadata listing — the governance-filtered inventory is data; the
      // oracle pins the expected surviving rows literally
      """SELECT * FROM (VALUES
        |  ('gv_orders', 'draft_margin', '', 'draft', 'uncertified', 'public'),
        |  ('gv_orders', 'revenue', 'finance-team', 'active', 'certified', 'public'))
        |AS t(model, metric, owner, status, certification, visibility)
        |ORDER BY model, metric""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_freshness",
      // freshness probes: MAX(watermark) age vs ttl at a fixed asOf
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
        |) ORDER BY name""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_incremental_refresh",
      """SELECT o_orderstatus AS orderstatus,
        |  date_trunc('month', o_orderdate) AS order_date__month,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    )((s, d) => {
      val cat = TpchCatalog.build(d)
      val base = Battery.store(d, "increfresh")
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
    BatteryQuery("q_bootstrap",
      """SELECT c_mktsegment,
        |  count(*) AS row_count,
        |  round(sum(c_acctbal), 4) AS total_c_acctbal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => round4(
      GraftSession.generator(s, graft.load.Bootstrap.fromParquetDir(s, d)).plan(
        SemanticQuery(
          metrics = Seq("customer.row_count", "customer.total_c_acctbal"),
          dimensions = Seq("customer.c_mktsegment"),
          orderBy = Seq("c_mktsegment"))), "total_c_acctbal")),

    // §2 rows 73/31: native YAML loader + agg auto-extraction — a metric
    // written as `sql: SUM(amount)` plans identically to `agg: sum`
    BatteryQuery("q_yaml_load",
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_load_project",
      // static golden: the fixture tree is authored by the query itself,
      // so the attribution table is a deterministic constant
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
        |) AS t(path, format, n_models) ORDER BY path""".stripMargin
    )((s, d) => {
      import s.implicits._
      val root =
        Battery.store(d, "project_fixture")
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
    BatteryQuery("q_composite_agg",
      """SELECT orderstatus,
        |  round(cast(sum(acct) as double)
        |    / cast(count(DISTINCT ck) as double), 4) AS bal_per_customer
        |FROM (SELECT DISTINCT o.o_orderstatus AS orderstatus,
        |        c.c_custkey AS ck, cast(c.c_acctbal as decimal(18,2)) AS acct
        |      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_agg_extract",
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
        |    AS urgent_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_streaming_rollup",
      """SELECT o_orderstatus AS orderstatus,
        |  date_trunc('month', o_orderdate) AS order_date__month,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    )((s, d) => {
      import java.nio.file._
      val cat = TpchCatalog.build(d)
      val base = Paths.get(Battery.store(d, "stream"))
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
    BatteryQuery("q_join_path",
      // graph/diagnostics/recommender queries emit metadata as data; their
      // oracles pin the expected rows literally
      """SELECT * FROM (VALUES
        |  (1, 'orders', 'customer', 'o_custkey', 'c_custkey', false),
        |  (2, 'customer', 'nation', 'c_nationkey', 'n_nationkey', false),
        |  (3, 'nation', 'region', 'n_regionkey', 'r_regionkey', false))
        |AS t(step, from_model, to_model, from_key, to_key, fan_out)
        |ORDER BY step""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_explain_route",
      """SELECT * FROM (VALUES
        |  ('cumulative', 'window'),
        |  ('fanout_symmetric', 'symmetric-dedup'),
        |  ('multi_fact', 'multi-fact-split'),
        |  ('simple_agg', 'standard'))
        |AS t(query_shape, route)
        |ORDER BY query_shape""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_recommender",
      """SELECT * FROM (VALUES
        |  ('recommended_orders', 'order_count,revenue',
        |   'orderpriority,orderstatus', 'order_date', 'day', 2))
        |AS t(name, measures, dimensions, time_dimension, granularity, hits)""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_yardstick",
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
        |FROM g ORDER BY oyear, o_orderpriority""".stripMargin
    )((s, d) => {
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
    BatteryQuery("q_security",
      """SELECT o_orderstatus AS orderstatus,
        |  sum(cast(o_totalprice as decimal(18,2))) AS revenue,
        |  count(*) AS order_count
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => q(s, d)(SemanticQuery(
      metrics = Seq("orders_secured.revenue", "orders_secured.order_count"),
      dimensions = Seq("orders_secured.orderstatus"),
      user = Some(Map("role" -> "analyst", "status" -> "F")),
      orderBy = Seq("orderstatus"))))
  )
}
