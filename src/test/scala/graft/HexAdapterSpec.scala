package graft

import graft.adapters.HexAdapter
import graft.gen.Generator
import graft.model.{Catalog, DimType, ModelSource, Relationship}
import graft.plan.SemanticQuery
import org.scalatest.funsuite.AnyFunSuite

/** Hex adapter conformance against the reference's fixture corpus
  * (/root/reference/tests/fixtures/hex/) plus seeded end-to-end queries. */
class HexAdapterSpec extends AnyFunSuite {

  private val fixtures = "/root/reference/tests/fixtures/hex"

  test("the whole hex fixture corpus parses") {
    val files = new java.io.File(fixtures).listFiles()
      .filter(_.getName.endsWith(".yml"))
    assert(files.length >= 9)
    files.foreach { f =>
      val ms = HexAdapter.loadFile(f.getPath)
      assert(ms.nonEmpty && ms.forall(_.name.nonEmpty), f.getName)
    }
  }

  test("orders fixture: funcs, boolean-dimension filters, ratio lift, joins") {
    val m = HexAdapter.loadFile(s"$fixtures/orders.yml").head
    assert(m.primaryKey == Seq("id")) // unique: true
    assert(m.dimension("is_completed").exists(_.sql.contains("status = 'completed'")))
    assert(m.metric("revenue").exists(mm =>
      mm.agg.contains("sum") && mm.sql.contains("amount")))
    // string filters reference boolean dimensions
    assert(m.metric("completed_revenue").exists(
      _.filters == Seq("{model}.is_completed")))
    // func_sql AGG/NULLIF(AGG, 0) lifts into hidden measures + ratio
    val ratio = m.metric("conversion_rate").get
    assert(ratio.kind == "ratio")
    assert(m.metric("conversion_rate__num").exists(h =>
      !h.public && h.agg.contains("sum")))
    // simple-equality join_sql becomes structured keys
    val rel = m.relationships.find(_.to == "customers").get
    assert(rel.relType == "many_to_one")
    assert(rel.foreignKey == Seq("customer_id") && rel.primaryKey == Seq("id"))
  }

  test("one_to_many join_sql puts the fk on the related model") {
    val org = HexAdapter.loadFile(s"$fixtures/organizations.yml").head
    val rel = org.relationships.find(_.to == "users").get
    assert(rel.relType == "one_to_many")
    assert(rel.foreignKey == Seq("org_id") && rel.primaryKey == Seq("id"))
  }

  test("imported models execute end to end with filters and the lifted ratio") {
    val spark = TestSpark.spark.newSession()
    import spark.implicits._
    Seq(
      (1L, 10L, 100.0, "completed"), (2L, 10L, 300.0, "completed"),
      (3L, 20L, 100.0, "pending"))
      .toDF("id", "customer_id", "amount", "status")
      .withColumn("created_at",
        org.apache.spark.sql.functions.expr("timestamp'2024-01-01 00:00:00'"))
      .createOrReplaceTempView("hex_orders")
    val orders = HexAdapter.loadFile(s"$fixtures/orders.yml",
      _ => ModelSource.Table("hex_orders")).head
    val gen = new Generator(spark, Catalog().add(orders))
    val got = gen.plan(SemanticQuery(
      metrics = Seq("orders.revenue", "orders.completed_revenue",
        "orders.high_value_orders", "orders.conversion_rate"))).collect()(0)
    assert(got.getDouble(0) == 500.0)
    assert(got.getDouble(1) == 400.0) // is_completed filter
    assert(got.getLong(2) == 0L)      // is_high_value: amount >= 500
    assert(got.getDouble(3) == 0.8)   // SUM(IF(completed))/NULLIF(SUM, 0)
  }

  test("custom func_sql/func_calc measures import as derived metrics " +
      "(ref hex.py:308-311)") {
    val emp = HexAdapter.loadFile(s"$fixtures/employees.yml").head
    // func_calc referencing sibling measures → derived over metric names
    assert(emp.metric("avg_tenure").exists(m =>
      m.metricType == Some("derived") &&
        m.sql == Some("total_salary / headcount")))
    // agg/NULLIF(agg, 0) func_sql stays the lifted first-class ratio
    assert(emp.metric("cost_per_head").exists(m =>
      m.metricType == Some("ratio")))
  }

  test("inline hex documents: dimensions, measures, filter and relation " +
      "from the grammar") {
    val ms = HexAdapter.parseAll(
      """id: orders
        |base_sql_table: public.orders
        |dimensions:
        |  - id: id
        |    type: number
        |    unique: true
        |  - id: status
        |    type: string
        |  - id: created_at
        |    type: timestamp_tz
        |  - id: is_completed
        |    type: boolean
        |    expr_sql: status = 'completed'
        |measures:
        |  - id: order_count
        |    func: count
        |  - id: revenue
        |    func: sum
        |    of: amount
        |  - id: completed_revenue
        |    func: sum
        |    of: amount
        |    filters:
        |      - is_completed
        |relations:
        |  - id: customers
        |    type: many_to_one
        |    join_sql: customer_id = ${customers}.id
        |---
        |---
        |type: view
        |id: orders_view
        |""".stripMargin)
    assert(ms.map(_.name) == Seq("orders")) // the view document is skipped
    val m = ms.head
    assert(m.source == ModelSource.Table("public.orders"))
    assert(m.primaryKey == Seq("id"))
    assert(m.dimensions.map(d => (d.name, d.dimType, d.sql)) == Seq(
      ("id", DimType.Numeric, None),
      ("status", DimType.Categorical, None),
      ("created_at", DimType.Time, None),
      ("is_completed", DimType.Bool, Some("status = 'completed'"))))
    assert(m.metrics.map(x => (x.name, x.agg, x.sql, x.filters)) == Seq(
      ("order_count", Some("count"), None, Nil),
      ("revenue", Some("sum"), Some("amount"), Nil),
      ("completed_revenue", Some("sum"), Some("amount"),
        Seq("{model}.is_completed"))))
    assert(m.relationships == Seq(Relationship("customers", "many_to_one",
      foreignKey = Seq("customer_id"), primaryKey = Seq("id"))))
  }
}
