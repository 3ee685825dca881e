package graft

import graft.gen.Generator
import graft.load.YamlLoader
import graft.model._
import graft.plan.SemanticQuery
import org.scalatest.funsuite.AnyFunSuite

/** Hierarchy drill helpers, governance metadata, and Explore contracts
  * (reference: core/model.py:132-196, core/governance.py:22,
  * core/consumption.py:100). */
class GovernanceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("hierarchy path and drill helpers walk the parent chain") {
    val geo = Model("geo", ModelSource.Table("geo"),
      dimensions = Seq(
        Dimension("country"),
        Dimension("state", parent = Some("country")),
        Dimension("city", parent = Some("state"))))
    assert(geo.hierarchyPath("city") == Seq("country", "state", "city"))
    assert(geo.hierarchyPath("country") == Seq("country"))
    assert(geo.drillDown("country").contains("state"))
    assert(geo.drillDown("city").isEmpty)
    assert(geo.drillUp("city").contains("state"))
    assert(geo.drillUp("country").isEmpty)
    // cycle-safe
    val loop = Model("loop", ModelSource.Table("t"),
      dimensions = Seq(
        Dimension("a", parent = Some("b")),
        Dimension("b", parent = Some("a"))))
    assert(loop.hierarchyPath("a") == Seq("b", "a"))
  }

  test("YAML governance metadata loads on models, metrics, and explores") {
    val pkg = YamlLoader.loadPackageString(
      """version: 1
        |models:
        |  - name: orders
        |    table: orders
        |    owner: finance-team
        |    domain: revenue
        |    tags: [core, certified-source]
        |    status: active
        |    certification: certified
        |    dimensions:
        |      - name: status
        |    metrics:
        |      - name: revenue
        |        agg: sum
        |        sql: amount
        |        owner: finance-team
        |        status: deprecated
        |        deprecation:
        |          message: use net_revenue
        |          replaced_by: orders.net_revenue
        |explores:
        |  - name: finance_orders
        |    model: orders
        |    owner: finance-team
        |    default_metrics: [revenue]
        |    filters: ["orders.status = 'paid'"]
        |""".stripMargin)
    val m = pkg.models.head
    assert(m.governance.exists(g => g.owner.contains("finance-team") &&
      g.tags == Seq("core", "certified-source") &&
      g.certification.contains("certified")))
    val met = m.metric("revenue").get
    assert(met.governance.exists(g => g.status.contains("deprecated") &&
      g.replacedBy.contains("orders.net_revenue")))
    assert(pkg.explores.head.governance.exists(_.owner.contains("finance-team")))
    // invalid lifecycle values are load errors
    intercept[IllegalArgumentException] {
      Catalog().add(YamlLoader.loadString(
        """version: 1
          |models:
          |  - name: m
          |    table: m
          |    status: retired
          |""".stripMargin): _*)
    }
  }

  test("explore contract: defaults, allowlists, mandatory filters, limit clamp") {
    val cat = TpchCatalog.build(TestSpark.sfDir)
    val gen = new Generator(spark, cat)

    // defaults + mandatory filter
    val df = gen.planExplore("fulfilled_orders")
    assert(df.columns.toSeq == Seq("orderpriority", "revenue", "order_count"))
    val want = gen.plan(SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("orders.orderpriority"),
      filters = Seq("orders.orderstatus = 'F'"),
      orderBy = Seq("orderpriority"), limit = Some(1000)))
    assert(df.collect().toSeq.map(_.toSeq) == want.collect().toSeq.map(_.toSeq))

    // out-of-contract dimension rejects
    intercept[IllegalArgumentException] {
      gen.planExplore("fulfilled_orders",
        SemanticQuery(dimensions = Seq("customer.mktsegment")))
    }
    // limit clamps to max_limit
    val clamped = gen.planExplore("fulfilled_orders",
      SemanticQuery(limit = Some(100000)))
    assert(clamped.count() <= 1000)
    // the mandatory filter applies even when the caller supplies filters
    val withCaller = gen.planExplore("fulfilled_orders",
      SemanticQuery(filters = Seq("orders.orderpriority = '1-URGENT'")))
    assert(withCaller.count() == 1)
  }

  test("explore validation rejects defaults outside the allowlists") {
    val cat = TpchCatalog.build(TestSpark.sfDir)
    intercept[IllegalArgumentException] {
      cat.addExplore(Explore(name = "bad", model = "orders",
        allowedMetrics = Some(Seq("revenue")),
        defaultMetrics = Seq("max_order_value")))
    }
    intercept[IllegalArgumentException] {
      cat.addExplore(Explore(name = "bad2", model = "nope"))
    }
  }

  test("empty list sections in a native package read as empty lists") {
    // `key:` with nothing after it parses as an explicit null
    val pkg = YamlLoader.loadPackageString(
      """version: 1
        |models:
        |  - name: orders
        |    table: orders
        |    owner: finance
        |    tags:
        |    metrics:
        |    dimensions:
        |      - name: status
        |metrics:
        |""".stripMargin)
    val m = pkg.models.head
    assert(m.dimensions.map(_.name) == Seq("status"))
    assert(m.metrics.isEmpty)
    assert(m.governance.map(_.tags).contains(Nil))
    assert(m.governance.flatMap(_.owner).contains("finance"))
    assert(pkg.graphMetrics.isEmpty)
  }
}
