package graft

import graft.migrate.Migrator
import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** Migration tooling (reference: core/migrator.py + `sidemantic migrate
  * generate/check`): raw-SQL coverage analysis, model generation from
  * observed query patterns, and the schema-evolution diff. */
class MigrationSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val corpus = Seq(
    """SELECT o_orderstatus, date_trunc('month', o_orderdate) AS m,
      |  sum(o_totalprice) AS revenue, count(*) AS order_count
      |FROM orders GROUP BY o_orderstatus, date_trunc('month', o_orderdate)""".stripMargin,
    """SELECT c.c_mktsegment, sum(o.o_totalprice) AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_mktsegment""".stripMargin,
    """SELECT date_trunc('day', o_orderdate) AS d, avg(o_totalprice) AS aov
      |FROM orders GROUP BY date_trunc('day', o_orderdate)""".stripMargin)

  test("statement splitting is literal-aware") {
    val stmts = Migrator.splitSqlStatements(
      "SELECT 'a;b' AS x; -- c;d\nSELECT 2;")
    assert(stmts == Seq("SELECT 'a;b' AS x", "-- c;d\nSELECT 2"))
  }

  test("generate: query corpus produces queryable models") {
    val report = Migrator.analyzeQueries(corpus)
    assert(report.parseableQueries == 3)
    val models = Migrator.generateModels(report)
    val orders = models.find(_.name == "orders").get
    // group-by columns became dimensions; date_trunc grains became time
    // dims at the FINEST observed grain (day beats month)
    assert(orders.dimension("o_orderstatus").isDefined)
    val od = orders.dimension("o_orderdate").get
    assert(od.dimType == DimType.Time && od.granularity.contains("day"))
    // aggregates became metrics named by their query alias
    assert(orders.metric("revenue").exists(m =>
      m.agg.contains("sum") && m.sql.contains("o_totalprice")))
    assert(orders.metric("order_count").exists(_.agg.contains("count")))
    assert(orders.metric("aov").exists(_.agg.contains("avg")))
    // the equi-join became a relationship
    assert(orders.relationships.exists(r =>
      r.to == "customer" && r.foreignKey == Seq("o_custkey")))
    // generated models actually answer the original question
    spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
      .createOrReplaceTempView("orders")
    val df = new graft.gen.Generator(spark, Catalog().add(orders)).plan(
      graft.plan.SemanticQuery(
        metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.o_orderstatus")))
    assert(df.collect().nonEmpty)
  }

  test("join attribution: unqualified count(*) lands on the FROM table") {
    // pre-order traversal puts the FROM (left-most) relation first, so the
    // unqualified aggregate belongs to orders, not the last-joined dim
    val a = Migrator.analyzeQuery(
      """SELECT c.c_mktsegment, count(*) AS order_count
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment""".stripMargin)
    assert(a.aggregations == Seq(
      Migrator.Agg("count", "*", "orders", Some("order_count"))))
  }

  test("fk direction flips when only the right column is key-like") {
    // customer listed FIRST: the fk column o_custkey sits on the RIGHT, so
    // the relationship must still run orders -> customer
    val a = Migrator.analyzeQuery(
      """SELECT c.c_mktsegment, sum(o.o_totalprice) AS revenue
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_mktsegment""".stripMargin)
    assert(a.relationships == Seq(("orders", "customer", "o_custkey", "c_custkey")))
    val models = Migrator.generateModels(Migrator.analyzeQueries(Seq(a.query)))
    val orders = models.find(_.name == "orders").get
    assert(orders.relationships.exists(r =>
      r.to == "customer" && r.relType == "many_to_one" &&
        r.foreignKey == Seq("o_custkey")))
    assert(models.find(_.name == "customer").get.relationships.isEmpty)
  }

  test("non-key equality emits no relationship") {
    // ON a.status = b.state: neither column names the other table's key —
    // arbitrary col=col equality is not evidence of a relationship
    val a = Migrator.analyzeQuery(
      "SELECT count(*) FROM shipments a JOIN depots b ON a.status = b.state")
    assert(a.relationships.isEmpty, a.relationships.toString)
    // degenerate short table core ("s" -> "") must not fabricate a match
    val b = Migrator.analyzeQuery(
      "SELECT count(*) FROM s JOIN warehouses w ON s.location = w.region")
    assert(b.relationships.isEmpty, b.relationships.toString)
  }

  test("check: coverage against an existing catalog flags the gaps") {
    val cat = Catalog().add(Model(
      name = "orders",
      source = ModelSource.Table("orders"),
      dimensions = Seq(Dimension("o_orderstatus"),
        Dimension("o_orderdate", DimType.Time, granularity = Some("day"))),
      metrics = Seq(Metric("revenue", agg = Some("sum"), sql = Some("o_totalprice")))))
    val covered = Migrator.analyzeQuery(
      "SELECT o_orderstatus, sum(o_totalprice) FROM orders GROUP BY o_orderstatus", cat)
    assert(covered.canRewrite, covered.toString)
    val missingMetric = Migrator.analyzeQuery(
      "SELECT o_orderstatus, max(o_shippriority) FROM orders GROUP BY o_orderstatus", cat)
    assert(!missingMetric.canRewrite)
    assert(missingMetric.missingMetrics ==
      Set(("orders", "max", "o_shippriority")))
    val missingModel = Migrator.analyzeQuery(
      "SELECT count(*) FROM invoices", cat)
    assert(missingModel.missingModels == Set("invoices"))
    val report = Migrator.analyzeQueries(Seq(
      "SELECT o_orderstatus, sum(o_totalprice) FROM orders GROUP BY o_orderstatus",
      "SELECT count(*) FROM invoices"), cat)
    assert(report.rewritableQueries == 1)
    assert(report.coveragePercentage == 50.0)
  }

  test("diff: breaking vs non-breaking evolution") {
    val v1 = Catalog().add(Model(
      name = "orders",
      source = ModelSource.Table("orders"),
      primaryKey = Seq("o_orderkey"),
      dimensions = Seq(Dimension("status", sql = Some("o_orderstatus")),
        Dimension("priority", sql = Some("o_orderpriority"))),
      metrics = Seq(
        Metric("revenue", agg = Some("sum"), sql = Some("o_totalprice")),
        Metric("order_count", agg = Some("count")))))
    // non-breaking: new metric, label-only change
    val v2ok = Catalog().add(v1.model("orders").copy(
      metrics = v1.model("orders").metrics.map(m =>
        if (m.name == "revenue") m.copy(label = Some("Revenue")) else m) :+
        Metric("aov", agg = Some("avg"), sql = Some("o_totalprice"))))
    val okChanges = v2ok.diff(v1)
    assert(okChanges.nonEmpty && v2ok.breakingChanges(v1).isEmpty,
      okChanges.mkString("; "))
    assert(okChanges.exists(c => c.kind == "metric_added" && c.path == "orders.aov"))
    assert(okChanges.exists(c => c.kind == "metric_metadata" && c.path == "orders.revenue"))
    // breaking: removed dimension, redefined metric, retyped dimension
    val v2bad = Catalog().add(v1.model("orders").copy(
      dimensions = Seq(Dimension("status", DimType.Numeric, sql = Some("o_orderstatus"))),
      metrics = Seq(
        Metric("revenue", agg = Some("sum"), sql = Some("o_totalprice * 2")),
        Metric("order_count", agg = Some("count")))))
    val bad = v2bad.breakingChanges(v1).map(c => c.kind -> c.path).toSet
    assert(bad == Set(
      ("dimension_removed", "orders.priority"),
      ("dimension_redefined", "orders.status"),
      ("metric_redefined", "orders.revenue")), bad.toString)
    // breaking: model removed
    assert(Catalog().breakingChanges(v1).map(_.kind) == Seq("model_removed"))
  }
}
