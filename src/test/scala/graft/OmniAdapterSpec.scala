package graft

import graft.adapters.OmniAdapter
import graft.gen.Generator
import graft.model._
import graft.plan.SemanticQuery
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's Omni adapter tests
  * (tests/adapters/omni/test_parsing.py, test_estore.py) against the same
  * fixture corpus. */
class OmniAdapterSpec extends AnyFunSuite {

  private val fixtures = "/root/reference/tests/fixtures/omni"
  private def session() = TestSpark.spark

  test("basic project: views, dims, measures, model.yaml relationships") {
    val imp = OmniAdapter.loadDirectory(fixtures)
    assert(imp.models.map(_.name).toSet == Set("orders", "customers"))
    val orders = imp.models.find(_.name == "orders").get
    assert(orders.source == ModelSource.Table("public.orders"))
    assert(orders.primaryKey == Seq("id"))

    val created = orders.dimension("created_at").get
    assert(created.dimType == DimType.Time)
    assert(created.granularity.contains("day")) // first timeframe 'date'
    assert(created.supportedGranularities == Seq("day", "week", "month", "year"))
    assert(orders.dimension("amount").get.dimType == DimType.Numeric)
    assert(orders.dimension("status").get.sql.contains("status"))

    assert(orders.metric("count").get.agg.contains("count"))
    val rev = orders.metric("total_revenue").get
    assert(rev.agg.contains("sum") && rev.sql.contains("amount"))
    assert(orders.metric("avg_order_value").get.agg.contains("avg"))
    val comp = orders.metric("completed_revenue").get
    assert(comp.filters == Seq("status = 'completed'"))

    val rel = orders.relationships.head
    assert(rel.to == "customers" && rel.relType == "many_to_one")
    assert(rel.foreignKey == Seq("customer_id") && rel.primaryKey == Seq("id"))
  }

  test("estore corpus: schema-scoped names, relationships, topics") {
    val imp = OmniAdapter.loadDirectory(s"$fixtures/estore")
    val names = imp.models.map(_.name).toSet
    assert(names.contains("omni_dbt_marts__fct_sessions"))
    assert(names.contains("omni_dbt_marts__dim_products"))

    val events = imp.models.find(_.name == "omni_dbt_marts__fct_events").get
    val toProducts = events.relationships
      .find(_.to == "omni_dbt_marts__dim_products").get
    assert(toProducts.relType == "many_to_one")
    assert(toProducts.foreignKey == Seq("product_id"))
    assert(toProducts.primaryKey == Seq("product_id"))

    // one_to_one: the RELATED view holds the FK (keys swap sides)
    val users = imp.models.find(_.name == "omni_dbt_marts__dim_users").get
    val toRfm = users.relationships
      .find(_.to == "omni_dbt_marts__dim_user_rfm").get
    assert(toRfm.relType == "one_to_one")

    // topics import as explores anchored at their base view
    val topicNames = imp.topics.map(_.name).toSet
    assert(topicNames.contains("sessions"))
    assert(imp.topics.find(_.name == "sessions").get.model ==
      "omni_dbt_marts__fct_sessions")
  }

  test("end-to-end: omni orders + customers query through the Generator") {
    val spark = session()
    import spark.implicits._
    Seq((1, 10, "completed", 10.0), (2, 10, "pending", 20.0),
      (3, 20, "completed", 5.0))
      .toDF("id", "customer_id", "status", "amount")
      .createOrReplaceTempView("omni_orders_tbl")
    Seq((10, "US"), (20, "DE"))
      .toDF("id", "country")
      .createOrReplaceTempView("omni_customers_tbl")
    val resolve: graft.load.YamlLoader.TableResolver = t =>
      if (t.endsWith("orders")) ModelSource.Table("omni_orders_tbl")
      else ModelSource.Table("omni_customers_tbl")
    val imp = OmniAdapter.loadDirectory(fixtures, resolve)
    val cat = Catalog().add(imp.models: _*)
    val out = new Generator(spark, cat).plan(SemanticQuery(
      metrics = Seq("orders.total_revenue", "orders.completed_revenue"),
      dimensions = Seq("customers.country"),
      orderBy = Seq("country"))).collect()
    assert(out.length == 2)
    // DE: 5.0 total, 5.0 completed; US: 30.0 total, 10.0 completed
    assert(out(0).getString(0) == "DE" && out(0).getDouble(1) == 5.0)
    assert(out(1).getString(0) == "US" && out(1).getDouble(2) == 10.0)
  }

  test("inline omni project: views, measures, filter and relationship " +
      "from the grammar") {
    val dir = java.nio.file.Files.createTempDirectory("graft_omni_pin")
    def write(rel: String, text: String): Unit = {
      val p = dir.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, text.stripMargin.getBytes("UTF-8"))
    }
    write("views/orders.view.yaml",
      """table_name: orders
        |dimensions:
        |  id:
        |    primary_key: true
        |    type: number
        |  status:
        |    sql: ${TABLE}.status
        |  created_at:
        |    type: timestamp
        |    timeframes: [date, week, month]
        |measures:
        |  count:
        |    aggregate_type: count
        |  total_revenue:
        |    aggregate_type: sum
        |    sql: ${orders.amount}
        |  completed_revenue:
        |    aggregate_type: sum
        |    sql: ${TABLE}.amount
        |    filters:
        |      status:
        |        is: completed
        |""")
    write("views/customers.view.yaml",
      """table_name: customers
        |dimensions:
        |  id:
        |    primary_key: true
        |  city:
        |measures:
        |  count:
        |    aggregate_type: count
        |""")
    write("relationships.yaml",
      """- join_from_view: orders
        |  join_to_view: customers
        |  relationship_type: many_to_one
        |  on_sql: ${orders.customer_id} = ${customers.id}
        |""")
    val imp = OmniAdapter.loadDirectory(dir.toString)
    val byName = imp.models.map(m => m.name -> m).toMap
    assert(byName.keySet == Set("orders", "customers"))
    val orders = byName("orders")
    assert(orders.source == ModelSource.Table("orders"))
    assert(orders.primaryKey == Seq("id"))
    assert(orders.dimensions.map(_.name).toSet == Set("id", "status", "created_at"))
    assert(orders.dimension("id").get.dimType == DimType.Numeric)
    assert(orders.dimension("status").get.sql.contains("status"))
    val created = orders.dimension("created_at").get
    assert(created.dimType == DimType.Time && created.granularity.contains("day"))
    assert(created.supportedGranularities == Seq("day", "week", "month"))
    assert(orders.metrics.map(_.name).toSet ==
      Set("count", "total_revenue", "completed_revenue"))
    assert(orders.metric("count").get.agg.contains("count"))
    val rev = orders.metric("total_revenue").get
    assert(rev.agg.contains("sum") && rev.sql.contains("amount"))
    assert(orders.metric("completed_revenue").get.filters ==
      Seq("status = 'completed'"))
    assert(orders.relationships == Seq(Relationship("customers", "many_to_one",
      foreignKey = Seq("customer_id"), primaryKey = Seq("id"))))
    val customers = byName("customers")
    assert(customers.dimensions.map(_.name).toSet == Set("id", "city"))
    assert(customers.dimension("city").get.dimType == DimType.Categorical)
    assert(customers.relationships.isEmpty)
  }
}
