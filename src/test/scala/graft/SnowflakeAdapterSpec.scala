package graft

import graft.adapters.SnowflakeAdapter
import graft.model._
import org.scalatest.funsuite.AnyFunSuite

/** Snowflake Cortex Analyst semantic-model importer, exercised against
  * the reference's own fixture corpus (tests/fixtures/snowflake/). */
class SnowflakeAdapterSpec extends AnyFunSuite {
  private val dir = "/root/reference/tests/fixtures/snowflake"

  test("every fixture file parses into models") {
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".yaml"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val imp = SnowflakeAdapter.loadFile(f.getPath)
      assert(imp.models.nonEmpty, s"${f.getName} produced no models")
    }
  }

  test("revenue_timeseries: tables, aggregations, time dim, relationships") {
    val imp = SnowflakeAdapter.loadFile(s"$dir/revenue_timeseries.yaml")
    val byName = imp.models.map(m => m.name -> m).toMap
    assert(byName.keySet == Set("daily_revenue", "product", "region",
      "product_dimension"))

    val dr = byName("daily_revenue")
    assert(dr.source == ModelSource.Table("daily_revenue"))
    assert(dr.primaryKey == Seq("date", "product_id", "region_id"))
    val rev = dr.metric("daily_revenue").get
    assert(rev.agg == Some("sum") && rev.sql == Some("revenue"))
    // row-level expr measure keeps its expr under the default agg
    val profit = dr.metric("daily_profit").get
    assert(profit.agg == Some("sum") && profit.sql == Some("revenue - cogs"))
    val err = dr.metric("daily_forecast_abs_error").get
    assert(err.agg == Some("avg"))
    val dateDim = dr.dimension("date").get
    assert(dateDim.dimType == DimType.Time && dateDim.granularity == Some("day"))
    assert(dr.defaultTimeDimension == Some("date"))

    val rels = dr.relationships.map(r => (r.to, r.relType, r.foreignKey)).toSet
    assert(rels == Set(("product", "many_to_one", Seq("product_id")),
      ("region", "many_to_one", Seq("region_id"))))
  }

  test("cortex_features: table-scoped aggregate metric imports natively") {
    val imp = SnowflakeAdapter.loadFile(s"$dir/cortex_features.yaml")
    val orders = imp.models.find(_.metric("distinct_orders").isDefined)
    assert(orders.isDefined, "distinct_orders metric not found")
    val m = orders.get.metric("distinct_orders").get
    assert(m.agg == Some("count_distinct") && m.sql == Some("order_id"))
  }

  test("query end-to-end over a cortex model bound to TPC-H orders") {
    val spark = TestSpark.spark
    val resolve: graft.load.YamlLoader.TableResolver = _ =>
      ModelSource.SqlView(
        s"""SELECT o_orderkey, o_orderstatus, o_orderdate,
           |  cast(o_totalprice as decimal(18,2)) AS price
           |FROM parquet.`${TestSpark.sfDir}/orders.parquet`""".stripMargin)
    val imp = SnowflakeAdapter.loadString(
      """name: orders_model
        |tables:
        |  - name: sf_orders
        |    base_table: { database: d, schema: s, table: orders }
        |    primary_key: { columns: [o_orderkey] }
        |    dimensions:
        |      - name: status
        |        expr: o_orderstatus
        |        data_type: varchar
        |    time_dimensions:
        |      - name: o_orderdate
        |        data_type: date
        |    measures:
        |      - name: revenue
        |        expr: price
        |        default_aggregation: sum
        |    metrics:
        |      - name: order_count
        |        expr: COUNT(DISTINCT o_orderkey)
        |""".stripMargin, resolve)
    val cat = Catalog().add(imp.models: _*)
    val out = new graft.gen.Generator(spark, cat).plan(graft.plan.SemanticQuery(
      metrics = Seq("sf_orders.revenue", "sf_orders.order_count"),
      dimensions = Seq("sf_orders.status"),
      orderBy = Seq("status"))).collect()
    assert(out.length == 3) // F, O, P
    assert(out.map(_.getLong(2)).sum > 0)
  }

  test("empty sections read as empty lists") {
    // `key:` with nothing after it parses as an explicit null
    val imp = SnowflakeAdapter.loadString(
      """name: shop
        |tables:
        |  - name: orders
        |    base_table: {database: db, schema: s, table: orders}
        |    primary_key:
        |      columns:
        |    dimensions:
        |      - name: status
        |        expr: status
        |        data_type: varchar
        |    measures:
        |      - name: amount
        |        expr: amount
        |        default_aggregation: sum
        |    filters:
        |relationships:
        |""".stripMargin)
    val m = imp.models.head
    assert(m.primaryKey == Nil)
    assert(m.dimensions.map(_.name) == Seq("status"))
    assert(m.metrics.map(x => (x.name, x.agg)) == Seq(("amount", Some("sum"))))
    assert(m.segments.isEmpty && m.relationships.isEmpty)
  }
}
