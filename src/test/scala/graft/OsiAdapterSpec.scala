package graft

import graft.adapters.OsiAdapter
import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** OSI (Open Semantic Interchange) importer against the reference's
  * fixture corpus (tests/fixtures/osi/ — YAML + dbt JSON form). */
class OsiAdapterSpec extends AnyFunSuite {
  private val dir = "/root/reference/tests/fixtures/osi"

  test("every fixture parses into models") {
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".yaml") || f.getName.endsWith(".json"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val imp = OsiAdapter.loadFile(f.getPath)
      assert(imp.models.nonEmpty, s"${f.getName} produced no models")
    }
  }

  test("ecommerce: datasets, time dims, relationships, metric attribution") {
    val imp = OsiAdapter.loadFile(s"$dir/ecommerce.yaml")
    val byName = imp.models.map(m => m.name -> m).toMap
    assert(byName.contains("orders") && byName.contains("customers"))

    val orders = byName("orders")
    assert(orders.source == ModelSource.Table("orders"))
    assert(orders.primaryKey == Seq("order_id"))
    assert(orders.dimension("order_date").exists(_.dimType == DimType.Time))
    assert(orders.relationships.exists(r =>
      r.to == "customers" && r.foreignKey == Seq("customer_id")))

    // SUM(orders.amount) attached to orders with the qualifier stripped
    val rev = orders.metric("total_revenue").get
    assert(rev.agg == Some("sum") && rev.sql == Some("amount"))
    val cc = orders.metric("customer_count").get
    assert(cc.agg == Some("count_distinct") && cc.sql == Some("customer_id"))
  }

  test("query end-to-end over an OSI model bound to TPC-H") {
    val spark = TestSpark.spark
    val resolve: graft.load.YamlLoader.TableResolver = t =>
      ModelSource.SqlView(
        if (t == "orders")
          s"""SELECT o_orderkey AS order_id, o_custkey AS customer_id,
             |  o_orderstatus AS status,
             |  cast(o_totalprice as decimal(18,2)) AS amount
             |FROM parquet.`${TestSpark.sfDir}/orders.parquet`""".stripMargin
        else
          s"""SELECT c_custkey AS customer_id, c_mktsegment AS segment
             |FROM parquet.`${TestSpark.sfDir}/customer.parquet`""".stripMargin)
    val imp = OsiAdapter.loadString(
      """version: "0.2.0.dev0"
        |semantic_model:
        |  - name: tpch
        |    datasets:
        |      - name: orders
        |        source: db.public.orders
        |        primary_key: [order_id]
        |        fields:
        |          - name: status
        |            expression:
        |              dialects:
        |                - dialect: ANSI_SQL
        |                  expression: status
        |      - name: customers
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
        |        from: orders
        |        to: customers
        |        from_columns: [customer_id]
        |        to_columns: [customer_id]
        |    metrics:
        |      - name: total_revenue
        |        expression:
        |          dialects:
        |            - dialect: ANSI_SQL
        |              expression: SUM(orders.amount)
        |""".stripMargin, resolve)
    val cat = Catalog().add(imp.models: _*)
    val out = new graft.gen.Generator(spark, cat).plan(graft.plan.SemanticQuery(
      metrics = Seq("orders.total_revenue"),
      dimensions = Seq("customers.segment"),
      orderBy = Seq("segment"))).collect()
    assert(out.length == 5)
  }

  test("empty sections read as empty lists") {
    // `key:` with nothing after it parses as an explicit null
    val imp = OsiAdapter.loadString(
      """semantic_model:
        |  - name: shop
        |    datasets:
        |      - name: orders
        |        source: db.public.orders
        |        primary_key:
        |        fields:
        |          - name: status
        |            expression:
        |              dialects:
        |                - dialect: ANSI_SQL
        |                  expression: status
        |    relationships:
        |      - name: orders_customers
        |        from: orders
        |        to: customers
        |        from_columns:
        |        to_columns:
        |""".stripMargin)
    val m = imp.models.head
    assert(m.name == "orders" && m.primaryKey == Nil)
    assert(m.dimensions.map(_.name) == Seq("status"))
    // no from_columns: the key defaults to <to>_id
    assert(m.relationships == Seq(Relationship("customers", "many_to_one",
      foreignKey = Seq("customers_id"), primaryKey = Nil)))
  }
}
