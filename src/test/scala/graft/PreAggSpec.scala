package graft

import graft.gen.Generator
import graft.plan.SemanticQuery
import graft.preagg.PreAggStore
import org.scalatest.funsuite.AnyFunSuite

class PreAggSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val cat = TpchCatalog.build(TestSpark.sfDir)
  private lazy val base =
    java.nio.file.Files.createTempDirectory("graft_preagg_test").toString
  private lazy val store = new PreAggStore(spark, cat, base)
  private lazy val pa = cat.model("orders").preAggregations.head

  private def collectSorted(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("§"))

  test("routed rollup query matches the base-table plan exactly") {
    store.materialize("orders", pa)
    val q = SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count", "orders.max_order_value"),
      dimensions = Seq("orders.orderstatus", "orders.order_date__month"),
      filters = Seq("orders.orderpriority = '1-URGENT'"))
    val routed = store.plan(q)
    assert(routed.isDefined, "query should match the daily rollup")
    val fromBase = new Generator(spark, cat).plan(q.copy(usePreAggs = false))
    assert(collectSorted(routed.get.toDF) == collectSorted(fromBase))
  }

  test("join-key routing: foreign dims served from the fk-bearing rollup") {
    val paJoin = cat.model("orders").preAggregations
      .find(_.name == "daily_by_customer").get
    store.materialize("orders", paJoin)
    // two-hop dim (orders→customer→nation) with a foreign filter
    val q = SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("nation.name"),
      filters = Seq("customer.mktsegment = 'AUTOMOBILE'"))
    val routed = store.plan(q)
    assert(routed.isDefined, "joined query should route via the stored fk")
    val fromBase = new Generator(spark, cat).plan(q.copy(usePreAggs = false))
    assert(collectSorted(routed.get.toDF) == collectSorted(fromBase))
    // a rollup without the fk cannot serve the joined query
    val qUnrouteable = SemanticQuery(
      metrics = Seq("orders.max_order_value"),
      dimensions = Seq("nation.name"))
    assert(store.plan(qUnrouteable).isEmpty)
  }

  test("generator auto-routes through the store") {
    store.materialize("orders", pa)
    val g = new Generator(spark, cat, Some(store))
    val q = SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderstatus"))
    assert(collectSorted(g.plan(q)) ==
      collectSorted(g.plan(q.copy(usePreAggs = false))))
  }

  test("week grain cannot roll up from a day-truncated month store — but day store can serve week") {
    store.materialize("orders", pa)
    // day-grain store CAN serve week queries
    val weekQ = SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.order_date__week"))
    assert(store.plan(weekQ).isDefined)
  }

  test("non-derivable metrics fall back to the base table") {
    store.materialize("orders", pa)
    val q = SemanticQuery(
      metrics = Seq("orders.distinct_customers"), // count_distinct: no rollup
      dimensions = Seq("orders.orderstatus"))
    assert(store.plan(q).isEmpty)
    // and the generator still answers it from base
    val g = new Generator(spark, cat, Some(store))
    assert(g.plan(q).count() == 3)
  }

  test("filters on non-rolled-up columns fall back") {
    store.materialize("orders", pa)
    val q = SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderstatus"),
      filters = Seq("orders.totalprice > 1000")) // not a rollup dim
    assert(store.plan(q).isEmpty)
  }

  test("incremental refresh converges to the full rebuild") {
    store.materialize("orders", pa)
    val full = collectSorted(store.plan(SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("orders.order_date__month"))).get.toDF)
    // re-run an incremental pass over the tail; totals must be unchanged
    store.refreshIncremental("orders", pa, "2000-01-15", lookback = 2)
    val after = collectSorted(store.plan(SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("orders.order_date__month"))).get.toDF)
    assert(after == full)
  }

  test("explainCandidates reports named per-candidate checks and selection") {
    store.materialize("orders", pa)
    val ex = store.explainCandidates(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderstatus", "orders.order_date__month")))
    assert(ex.eligible && ex.reason.isEmpty)
    assert(ex.candidates.map(_.name).toSet == Set("daily", "daily_by_customer"))
    val daily = ex.candidates.find(_.name == "daily").get
    assert(daily.matched && daily.selected)
    assert(daily.checks.map(_.name) ==
      Seq("dimensions", "join_keys", "measures", "filters", "materialized"))
    assert(daily.checks.forall(_.passed))
    // the fk rollup does not store orderstatus: dimensions check fails
    val byCust = ex.candidates.find(_.name == "daily_by_customer").get
    assert(!byCust.matched && !byCust.selected)
    val dimCheck = byCust.checks.find(_.name == "dimensions").get
    assert(!dimCheck.passed && dimCheck.detail.contains("orderstatus"))
    assert(dimCheck.toString.startsWith("[FAIL] dimensions:"))
  }

  test("explainCandidates carries the query-level ineligibility reason") {
    val ex = store.explainCandidates(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderstatus"), ungrouped = true))
    assert(!ex.eligible && ex.candidates.isEmpty)
    assert(ex.reason.exists(_.contains("ungrouped")))
    val multi = store.explainCandidates(SemanticQuery(
      metrics = Seq("orders.revenue", "customer.total_acctbal")))
    assert(!multi.eligible && multi.reason.exists(_.contains("span models")))
  }

  test("writeWidth scales with the plan's size estimate, floored parallel") {
    import org.apache.spark.sql.functions._
    val par = spark.sparkContext.defaultParallelism
    // a kilobyte frame floors at min(8, par): small rollup writes keep
    // parallel writer inits (the wall bottleneck) without paying
    // cluster-width exchange tasks (~100 ms fixed each, 9 CPU·s at 32)
    val tiny = spark.range(10).select(col("id"),
      col("id").cast("string").as("__part"))
    assert(PreAggStore.writeWidth(tiny) == math.min(8, par))
    // a frame whose estimate clears width*bytesPerTask caps at
    // defaultParallelism — a 100 TB rollup saturates the cluster
    spark.conf.set("spark.graft.write.bytesPerTask", "1")
    try {
      val big = spark.range(1000000).select(col("id"),
        col("id").cast("string").as("__part"))
      assert(PreAggStore.writeWidth(big) == par)
      // estimates beyond Long range (non-CBO join stats multiply child
      // sizes) must still saturate the cluster, not wrap to the floor —
      // the (bytes / perTask).toInt + 1 form overflowed to Int.MinValue
      val huge = big.crossJoin(big.select(col("id").as("id2")))
      assert(huge.queryExecution.optimizedPlan.stats.sizeInBytes >
        BigInt(Int.MaxValue), "fixture must exercise the wrap range")
      assert(PreAggStore.writeWidth(huge) == par)
    } finally spark.conf.unset("spark.graft.write.bytesPerTask")
    // a malformed conf falls back to the default instead of throwing at
    // plan-construction time
    spark.conf.set("spark.graft.write.bytesPerTask", "not-a-number")
    try assert(PreAggStore.writeWidth(tiny) == math.min(8, par))
    finally spark.conf.unset("spark.graft.write.bytesPerTask")
  }

  test("writeShaped pins the scale-adaptive width into the exchange") {
    import org.apache.spark.sql.functions._
    val tiny = spark.range(10).select(col("id"),
      (col("id") % 3).cast("string").as("__pb"))
    val shaped = graft.ops.IndexFiles.writeShaped(tiny, col("__pb"))
    // REPARTITION_BY_NUM with the writeWidth count: AQE may not coalesce
    // it back to one task, so small-index writer inits stay parallel
    assert(shaped.rdd.getNumPartitions == PreAggStore.writeWidth(tiny))
  }
}
