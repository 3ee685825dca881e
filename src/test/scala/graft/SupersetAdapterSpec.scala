package graft

import graft.adapters.SupersetAdapter
import graft.gen.Generator
import graft.model.{Catalog, DimType, ModelSource}
import graft.plan.SemanticQuery
import org.scalatest.funsuite.AnyFunSuite

/** Superset adapter conformance against the reference's fixture corpus
  * (/root/reference/tests/fixtures/superset/). */
class SupersetAdapterSpec extends AnyFunSuite {

  private val fixtures = "/root/reference/tests/fixtures/superset"

  test("the whole superset fixture corpus parses") {
    val files = new java.io.File(fixtures).listFiles()
      .filter(f => f.getName.endsWith(".yaml") || f.getName.endsWith(".yml"))
    assert(files.length >= 10)
    files.foreach { f =>
      val m = SupersetAdapter.loadFile(f.getPath)
      assert(m.name.nonEmpty, f.getName)
      Catalog().add(m) // must validate
    }
  }

  test("orders dataset: column types, main_dttm_col, metric unwrapping") {
    val m = SupersetAdapter.loadFile(s"$fixtures/orders.yaml")
    assert(m.name == "orders")
    assert(m.defaultTimeDimension.contains("created_at"))
    assert(m.dimension("created_at").exists(_.dimType == DimType.Time))
    // COUNT(*) → count of rows; SUM(amount) unwraps to sql=amount
    assert(m.metric("count").exists(mm =>
      mm.agg.contains("count") && mm.sql.isEmpty))
    assert(m.metric("total_revenue").exists(mm =>
      mm.agg.contains("sum") && mm.sql.contains("amount")))
    assert(m.metric("avg_order_value").exists(_.agg.contains("avg")))
  }

  test("imported dataset executes end to end") {
    val spark = TestSpark.spark.newSession()
    import spark.implicits._
    Seq((1, "a", 100.0), (2, "a", 300.0), (3, "b", 100.0))
      .toDF("id", "status", "amount")
      .withColumn("created_at",
        org.apache.spark.sql.functions.expr("timestamp'2024-01-01 00:00:00'"))
      .createOrReplaceTempView("ss_orders")
    val m = SupersetAdapter.loadFile(s"$fixtures/orders.yaml",
      _ => ModelSource.Table("ss_orders"))
    val gen = new Generator(spark, Catalog().add(m))
    val got = gen.plan(SemanticQuery(
      metrics = Seq("orders.count", "orders.total_revenue"),
      dimensions = Seq("orders.status"),
      orderBy = Seq("status"))).collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("a", 2L, 400.0), ("b", 1L, 100.0)))
  }

  test("inline superset dataset: columns, metrics and virtual source " +
      "from the grammar") {
    // a Superset dataset is one table: no joins or filters to import,
    // so the virtual `sql` source and main_dttm_col stand in for them
    val m = SupersetAdapter.parse(
      """table_name: orders
        |main_dttm_col: created_at
        |sql: SELECT * FROM raw.orders
        |columns:
        |  - column_name: id
        |    type: BIGINT
        |  - column_name: status
        |    type: VARCHAR
        |    verbose_name: Order status
        |  - column_name: created_at
        |    type: TIMESTAMP WITHOUT TIME ZONE
        |    is_dttm: true
        |  - column_name: is_big
        |    type: BOOLEAN
        |    expression: amount > 100
        |metrics:
        |  - metric_name: count
        |    metric_type: count
        |    expression: COUNT(*)
        |  - metric_name: total_revenue
        |    expression: SUM(amount)
        |  - metric_name: customers
        |    expression: COUNT(DISTINCT customer_id)
        |""".stripMargin)
    assert(m.name == "orders")
    assert(m.source == ModelSource.SqlView("SELECT * FROM raw.orders"))
    assert(m.defaultTimeDimension.contains("created_at"))
    assert(m.dimensions.map(d => (d.name, d.dimType, d.sql, d.granularity)) == Seq(
      ("id", DimType.Numeric, None, None),
      ("status", DimType.Categorical, None, None),
      ("created_at", DimType.Time, None, Some("hour")),
      ("is_big", DimType.Bool, Some("amount > 100"), None)))
    assert(m.dimension("status").get.label.contains("Order status"))
    assert(m.metrics.map(x => (x.name, x.agg, x.sql)) == Seq(
      ("count", Some("count"), None),
      ("total_revenue", Some("sum"), Some("amount")),
      ("customers", Some("count_distinct"), Some("customer_id"))))
  }
}
