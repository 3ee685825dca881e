package graft

import graft.gen.Generator
import graft.model._
import graft.plan.SemanticQuery
import graft.preagg.PreAggStore
import graft.TestSpark.jobsOf
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Repartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.scalatest.funsuite.AnyFunSuite

/** The generator's one-task gate is "slow, never wrong": a plan whose
  * whole input fits one read task runs without shuffles, and the same
  * query with the gate forced shut (read budget 0, in its own session)
  * returns identical rows through the plan shape it always had. */
class OneTaskGateSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  /** A session over the same context whose read budget no input fits. */
  private lazy val shut: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.read.bytesPerTask", "0")
    s
  }

  /** Battery semantic shapes: aggregate, 3-hop join, cumulative, funnel,
    * table calc, SqlFront HAVING, multi-fact and symmetric fan-out. */
  private val shapes = Seq("q_simple_agg", "q_multi_hop", "q_cumulative",
    "q_funnel_steps", "q_tablecalc_rank", "q_sqlfront_having", "q_multifact",
    "q_fanout_symmetric")
  private lazy val queries = SparkEntry.queries

  private def physical(df: DataFrame): SparkPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(physical(df)) { case e: ShuffleExchangeExec => e }

  private def broadcasts(df: DataFrame): Int =
    collect(physical(df)) { case e: BroadcastExchangeExec => e }.size

  /** Leaves the gate put under a no-shuffle one-partition coalesce. */
  private def coalescedLeaves(df: DataFrame): Int =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.collect {
      case Repartition(1, false, _: LeafNode) => 1
    }.size

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("open and shut gates return identical rows on every battery shape") {
    shapes.foreach { name =>
      val open = rows(queries(name)(spark, dir))
      val closed = rows(queries(name)(shut, dir))
      assert(open.nonEmpty, s"$name returned no rows")
      assert(open == closed, s"$name: gate changed the result")
    }
  }

  test("an open gate plans no shuffle and runs one job plus broadcasts") {
    // a fresh session has a cold plan cache, so every broadcast builds
    // here (a warm hit reuses them: PlanReuseSpec)
    val cold = spark.newSession()
    shapes.foreach { name =>
      val df = queries(name)(cold, dir)
      val (_, jobs) = jobsOf(cold)(df.collect())
      assert(coalescedLeaves(df) > 0, s"$name: the gate did not open")
      // the one exception: the multi-fact stitch is a full outer join,
      // which cannot broadcast, so its two inputs are shuffled (see
      // Generator.oneTask); every operator after it stays shuffle-free
      val joinInputs = if (name == "q_multifact") 2 else 0
      assert(shuffles(df).size == joinInputs,
        s"$name plans a shuffle:\n${physical(df).treeString}")
      val expected = 1 + broadcasts(df) + joinInputs
      assert(jobs == expected, s"$name ran $jobs jobs, expected $expected")
    }
  }

  test("a shut gate keeps the plan as composed") {
    shapes.foreach { name =>
      val df = queries(name)(shut, dir)
      assert(coalescedLeaves(df) == 0, s"$name: the shut gate reshaped")
      assert(shuffles(df).nonEmpty, s"$name: expected its exchanges")
    }
  }

  test("explain shows the decision and the numbers it was made with") {
    val q = SemanticQuery(metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderpriority"))
    val cat = TpchCatalog.build(dir)
    val open = new Generator(spark, cat).explain(q)
    assert(open.linesIterator.exists(l =>
      l.startsWith("shape: one-task (inputs ") && l.endsWith(" < 8.00 MiB)")),
      open)
    val closed = new Generator(shut, cat).explain(q)
    assert(closed.linesIterator.exists(l =>
      l.startsWith("shape: as planned (inputs ") && l.endsWith(" >= 0.00 MiB)")),
      closed)
  }

  test("a plan with no shuffle to remove comes back untouched") {
    // drill-to-detail top-k: no aggregate, and the sort under the limit
    // gathers without a shuffle
    val q = SemanticQuery(metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderstatus"), ungrouped = true,
      orderBy = Seq("o_orderkey"), limit = Some(10))
    val g = new Generator(spark, TpchCatalog.build(dir))
    assert(coalescedLeaves(g.plan(q)) == 0)
    assert(g.explain(q).linesIterator.exists(l =>
      l.startsWith("shape: as planned (") &&
        l.endsWith(", no shuffle to remove)")))
  }

  test("a streaming plan comes back untouched") {
    val s = spark.newSession()
    s.readStream.format("rate").load().createOrReplaceTempView("gate_ticks")
    val cat = Catalog().add(Model("ticks",
      source = ModelSource.Table("gate_ticks"),
      dimensions = Seq(Dimension("parity", sql = Some("value % 2"))),
      metrics = Seq(Metric("n", agg = Some("count")))))
    val g = new Generator(s, cat)
    val q = SemanticQuery(metrics = Seq("ticks.n"),
      dimensions = Seq("ticks.parity"))
    val df = g.plan(q)
    assert(df.isStreaming)
    assert(coalescedLeaves(df) == 0)
    assert(g.explain(q).linesIterator.contains("shape: as planned (streaming)"))
  }

  /** A one-model catalog over a temp view the test can redefine, with a
    * rollup on `kind`. */
  private def ledger(s: SparkSession, amount: String): Catalog = {
    s.sql(s"""SELECT o_orderkey AS id, o_orderpriority AS kind,
             |  $amount AS amount
             |FROM parquet.`$dir/orders.parquet`""".stripMargin)
      .createOrReplaceTempView("gate_ledger")
    Catalog().add(Model("ledger", source = ModelSource.Table("gate_ledger"),
      primaryKey = Seq("id"),
      dimensions = Seq(Dimension("kind", sql = Some("kind"))),
      metrics = Seq(Metric("amount", agg = Some("sum"), sql = Some("amount"))),
      preAggregations = Seq(PreAggregation("by_kind",
        measures = Seq("amount"), dimensions = Seq("kind")))))
  }

  test("routing to an existing rollup launches no job at plan time and " +
      "sees a rebuild") {
    val s = spark.newSession()
    val base =
      java.nio.file.Files.createTempDirectory("graft_gate_preagg").toString
    // integer amounts first, then decimal ones: the rebuild changes both
    // the rows and the rollup's schema, under ONE store
    val cat = ledger(s, "o_orderkey % 7")
    val store = new PreAggStore(s, cat, base)
    val pa = cat.model("ledger").preAggregations.head
    val q = SemanticQuery(metrics = Seq("ledger.amount"),
      dimensions = Seq("ledger.kind"), orderBy = Seq("kind"))
    def routed(): (Seq[String], Int) = {
      val g = new Generator(s, cat, Some(store))
      val (df, jobs) = jobsOf(s)(g.plan(q))
      assert(g.route(q) == "preagg")
      (rows(df), jobs)
    }
    Seq("o_orderkey % 7", "o_totalprice").foldLeft(Seq.empty[String]) {
      (prior, amount) =>
        ledger(s, amount)
        store.materialize("ledger", pa)
        // the first routed read learns the schema; later compiles reuse it
        val (first, _) = routed()
        val (again, jobs) = routed()
        assert(jobs == 0, s"routed compile launched $jobs jobs")
        assert(again == first)
        assert(first != prior, s"rebuild over '$amount' is not visible")
        assert(first == rows(new Generator(s, cat)
          .plan(q.copy(usePreAggs = false))), "rollup disagrees with base")
        val closed = ledger(shut, amount)
        assert(first == rows(new Generator(shut, closed,
          Some(new PreAggStore(shut, closed, base))).plan(q)),
          "gate changed routed rows")
        first
    }
  }
}
