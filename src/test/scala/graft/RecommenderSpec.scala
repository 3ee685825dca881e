package graft

import graft.gen.Generator
import graft.plan.SemanticQuery
import graft.preagg.{PreAggRecommender, PreAggStore}
import org.scalatest.funsuite.AnyFunSuite

class RecommenderSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val cat = TpchCatalog.build(TestSpark.sfDir)

  test("repeated query shapes yield a rollup that actually serves them") {
    val rec = new PreAggRecommender(cat)
    val q1 = SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("orders.orderstatus", "orders.order_date__month"))
    val q2 = SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderpriority", "orders.order_date__day"))
    rec.record(q1); rec.record(q1); rec.record(q2)
    // non-recommendable shapes are ignored, not crashes
    rec.record(SemanticQuery(metrics = Seq("orders.distinct_customers")))
    rec.record(SemanticQuery(metrics = Seq("lineitem.quantity", "orders.revenue")))

    val recs = rec.recommend(minHits = 2)
    assert(recs.nonEmpty)
    val (pa, hits) = recs.head
    assert(hits == 3)
    assert(pa.measures.toSet == Set("revenue", "order_count"))
    assert(pa.dimensions.toSet == Set("orderstatus", "orderpriority"))
    assert(pa.granularity.contains("day")) // finest requested grain

    // close the loop: materialize the recommendation and verify both
    // recorded shapes route through it with identical results
    val base = java.nio.file.Files.createTempDirectory("graft_rec").toString
    val orders = cat.model("orders").copy(preAggregations = Seq(pa))
    val cat2 = cat.add(orders)
    val store = new PreAggStore(spark, cat2, base)
    store.materialize("orders", pa)
    for (q <- Seq(q1, q2)) {
      val routed = store.plan(q)
      assert(routed.isDefined, s"recommended rollup must serve $q")
      val direct = new Generator(spark, cat2).plan(q.copy(usePreAggs = false))
      assert(routed.get.toDF.collect().map(_.toSeq).toSet ==
        direct.collect().map(_.toSeq).toSet)
    }
  }
}
