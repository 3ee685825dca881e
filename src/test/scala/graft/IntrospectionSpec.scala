package graft

import graft.load.Fidelity
import graft.model._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IntrospectionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def cat: Catalog = TpchCatalog.build(TestSpark.sfDir)

  private def parse(json: String) = {
    import spark.implicits._
    spark.read.json(Seq(json).toDS)
  }

  test("document is valid JSON with every catalog model described") {
    val doc = parse(Introspection.describeGraph(cat))
    assert(doc.columns.toSet == Set("models", "metrics", "import_warnings"))
    val names = doc.select(explode(col("models")).as("m"))
      .select(col("m.name")).collect().map(_.getString(0)).toSet
    assert(names == cat.models.keySet)
    // every model row carries kind + arrays; spot-check a known model
    val orders = doc.select(explode(col("models")).as("m"))
      .filter(col("m.name") === "orders")
      .select(col("m.kind"), size(col("m.dimensions")), size(col("m.metrics")))
      .collect()(0)
    assert(orders.getString(0) == "table")
    assert(orders.getInt(1) == cat.models("orders").dimensions.size)
    assert(orders.getInt(2) == cat.models("orders").metrics.size)
  }

  test("enforceVisibility drops private fields; modelNames filters") {
    val c = cat.add(Model("secretive", ModelSource.Table("t"),
      primaryKey = Seq("id"),
      dimensions = Seq(Dimension("id"), Dimension("hidden", public = false)),
      metrics = Seq(Metric("m1", agg = Some("count")),
        Metric("m2", agg = Some("count"), public = false))))
    val doc = parse(Introspection.describeGraph(c, Seq("secretive"),
      enforceVisibility = true))
    val m = doc.select(explode(col("models")).as("m"))
      .select(col("m.name"), col("m.dimensions.name"), col("m.metrics.name"))
      .collect()
    assert(m.length == 1, "modelNames filter must keep only the requested model")
    assert(m(0).getSeq[String](1) == Seq("id"))
    assert(m(0).getSeq[String](2) == Seq("m1"))
  }

  test("graph metrics scope to the requested owner model") {
    val c = cat
      .addGraphMetric(Metric("orders_yoy", metricType = Some("time_comparison"),
        baseMetric = Some("orders.revenue"), comparison = Some("yoy")))
      .addGraphMetric(Metric("free_floating", metricType = Some("derived"),
        sql = Some("1")))
    val forOrders = parse(Introspection.describeGraph(c, Seq("orders")))
      .select(explode(col("metrics")).as("g")).select(col("g.name"))
      .collect().map(_.getString(0)).toSet
    assert(forOrders.contains("orders_yoy") && forOrders.contains("free_floating"))
    val forCustomer = parse(Introspection.describeGraph(c, Seq("customer")))
      .select(explode(col("metrics")).as("g")).select(col("g.name"))
      .collect().map(_.getString(0)).toSet
    assert(!forCustomer.contains("orders_yoy"),
      "owner-scoped graph metric leaked into another model's view")
    assert(forCustomer.contains("free_floating"))
  }

  test("import warnings serialize with their location") {
    val notes = Seq(Fidelity.Note("dropped_thing", "detail \"quoted\"",
      "dropped", Some("x.yml"), Some("x.yml:12")))
    val doc = parse(Introspection.describeGraph(cat, importWarnings = notes))
    val w = doc.select(explode(col("import_warnings")).as("w"))
      .select(col("w.construct"), col("w.detail"), col("w.location"))
      .collect()(0)
    assert(w.getString(0) == "dropped_thing")
    assert(w.getString(1) == "detail \"quoted\"")
    assert(w.getString(2) == "x.yml:12")
  }

  test("document is deterministic byte-for-byte") {
    assert(Introspection.describeGraph(cat) == Introspection.describeGraph(cat))
  }

  test("_drop_none parity: empty lists omitted except metric filters/drill_fields") {
    val c = Catalog().add(Model("bare", ModelSource.Table("t"),
      primaryKey = Seq("id"),
      dimensions = Seq(Dimension("id")),
      metrics = Seq(Metric("m1", agg = Some("count")))))
    val doc = Introspection.describeGraph(c)
    // a model with no relationships/segments omits the keys entirely
    // (reference _drop_none drops empty lists, introspection.py:330)
    assert(!doc.contains("\"relationships\""))
    assert(!doc.contains("\"segments\""))
    // but metric filters + drill_fields are setdefault'd back as []
    // (introspection.py:150-151)
    assert(doc.contains("\"filters\":[]"))
    assert(doc.contains("\"drill_fields\":[]"))
    // top-level keys always present, even when empty
    assert(doc.contains("\"metrics\":[]") || doc.contains("\"metrics\":["))
    assert(doc.contains("\"import_warnings\":[]"))
  }
}
