package graft

import graft.graph.SemanticGraph
import org.scalatest.funsuite.AnyFunSuite

/** Join-graph resolution: pure metadata, no Spark session needed. */
class GraphSpec extends AnyFunSuite {

  private val cat = TpchCatalog.build(TestSpark.sfDir)
  private val g = new SemanticGraph(cat)

  test("multi-hop BFS: orders → region via customer and nation") {
    val hops = g.path("orders", "region", Set("orders", "region"))
    assert(hops.map(h => (h.fromModel, h.toModel)) ==
      Seq("orders" -> "customer", "customer" -> "nation", "nation" -> "region"))
    assert(hops.forall(!_.fanOut))
  }

  test("inverse edge fans out: customer → orders") {
    val hops = g.path("customer", "orders", Set("customer", "orders"))
    assert(hops.size == 1 && hops.head.fanOut)
  }

  test("many_to_many expands through the junction") {
    val hops = g.path("part", "supplier", Set("part", "supplier"))
    assert(hops.map(_.toModel) == Seq("lineitem", "supplier"))
    assert(hops.head.fanOut && !hops.last.fanOut)
  }

  test("join plan dedups shared prefixes") {
    val plan = g.joinPlan("lineitem", Seq("orders", "customer"))
    assert(plan.map(_.toModel) == Seq("orders", "customer"))
  }

  test("no path is an error") {
    val lonely = graft.model.Model("lonely",
      graft.model.ModelSource.Parquet("{dir}/region.parquet"),
      primaryKey = Seq("r_regionkey"))
    val cat2 = cat.add(lonely)
    val g2 = new SemanticGraph(cat2)
    val e = intercept[IllegalArgumentException](
      g2.path("orders", "lonely", Set("orders", "lonely")))
    assert(e.getMessage.contains("No join path"))
  }

  test("fan-out marks the multiplied side, not the grain leaf") {
    val hops = g.path("customer", "orders", Set("customer", "orders"))
    val fanned = g.fannedOutModels("customer", hops)
    assert(fanned == Set("customer"))
  }

  test("many_to_one dimension hop repeats the dimension model") {
    val hops = g.path("orders", "customer", Set("orders", "customer"))
    val fanned = g.fannedOutModels("orders", hops)
    assert(fanned == Set("customer")) // customer rows repeat across orders
  }

  test("fan-out then m2o chain: only the leaf stays unique") {
    val hops = g.joinPlan("customer", Seq("orders", "nation"))
    val fanned = g.fannedOutModels("customer", hops)
    assert(!fanned.contains("orders"))
    assert(fanned.contains("customer"))
  }
}
