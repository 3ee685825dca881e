package graft

import graft.model._
import graft.plan.SemanticQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** The shared generator's plan cache locks per key: a cold compose of
  * one query never holds up a warm hit on another, and concurrent
  * requests through `GraftSession.generator` get the rows and routes a
  * serial run gets. */
class PlanCacheConcurrencySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  /** The dashboard's seven battery tiles. */
  private val tiles = Seq("q_agg_minmax", "q_multi_hop", "q_cumulative",
    "q_funnel_steps", "q_tablecalc_rank", "q_sqlfront_having",
    "q_visibility")
  private lazy val queries = SparkEntry.queries

  private val routed = Seq(
    SemanticQuery(metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("region.name"), orderBy = Seq("name")),
    SemanticQuery(metrics = Seq("orders.cumulative_revenue", "orders.revenue"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")),
    SemanticQuery(metrics = Seq("events.signup_funnel"), orderBy = Seq("step")),
    SemanticQuery(metrics = Seq("orders.revenue", "lineitem.quantity"),
      dimensions = Seq("customer.mktsegment"), orderBy = Seq("mktsegment")))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def pool[A](threads: Int)(body: ExecutionContext => A): A = {
    val p = Executors.newFixedThreadPool(threads)
    try body(ExecutionContext.fromExecutor(p)) finally p.shutdown()
  }

  test("a slow cold compile does not delay a warm hit on the same generator") {
    // a model over a 40-way union of fresh parquet reads: its first
    // compose analyses every branch (listing and schema per read)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val union = (1 to 40).map(i =>
      s"SELECT o_orderkey AS id, o_orderstatus AS kind, $i AS part, " +
        s"'$nonce' AS tag FROM parquet.`$dir/orders.parquet`")
      .mkString(" UNION ALL ")
    val cat = TpchCatalog.build(dir).add(Model("slow_union",
      source = ModelSource.SqlView(union), primaryKey = Seq("id"),
      dimensions = Seq(Dimension("kind", sql = Some("kind"))),
      metrics = Seq(Metric("parts", agg = Some("count_distinct"),
        sql = Some("part")))))
    val g = GraftSession.generator(spark, cat)
    val warm = routed.head
    val expected = rows(g.plan(warm))
    val slow = SemanticQuery(metrics = Seq("slow_union.parts"),
      dimensions = Seq("slow_union.kind"))
    pool(1) { implicit ec =>
      val t0 = System.nanoTime()
      val cold = Future(g.plan(slow))
      Thread.sleep(200)
      val h0 = System.nanoTime()
      val hit = g.plan(warm)
      val hitMs = (System.nanoTime() - h0) / 1e6
      val coldStillRunning = !cold.isCompleted
      Await.result(cold, Duration.Inf)
      val coldMs = (System.nanoTime() - t0) / 1e6
      assert(coldMs > 1000, s"the cold compile took only $coldMs ms")
      assert(coldStillRunning,
        s"the warm hit ($hitMs ms) returned only after the cold compile " +
          s"($coldMs ms)")
      assert(hitMs < 100, s"the warm hit took $hitMs ms")
      assert(rows(hit) == expected)
    }
  }

  test("a slow cold scan does not hold up a cold compose on another " +
      "generator") {
    // the slow scan: a SqlView over a 40-way union, analysed on its
    // first use; the other compose reads orders on a new session, so its
    // scans are cold too
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val union = (1 to 40).map(i =>
      s"SELECT o_orderkey AS id, o_orderstatus AS kind, $i AS part, " +
        s"'$nonce' AS tag FROM parquet.`$dir/orders.parquet`")
      .mkString(" UNION ALL ")
    val slowCat = TpchCatalog.build(dir).add(Model("slow_scan",
      source = ModelSource.SqlView(union), primaryKey = Seq("id"),
      dimensions = Seq(Dimension("kind", sql = Some("kind"))),
      metrics = Seq(Metric("parts", agg = Some("count_distinct"),
        sql = Some("part")))))
    val slow = new graft.gen.Generator(spark, slowCat)
    val other = new graft.gen.Generator(spark.newSession(),
      TpchCatalog.build(dir))
    pool(1) { implicit ec =>
      val t0 = System.nanoTime()
      val cold = Future(slow.plan(SemanticQuery(
        metrics = Seq("slow_scan.parts"), dimensions = Seq("slow_scan.kind"))))
      Thread.sleep(300)
      val c0 = System.nanoTime()
      other.plan(SemanticQuery(metrics = Seq("orders.revenue"),
        dimensions = Seq("orders.orderstatus"), orderBy = Seq("orderstatus")))
      val composeMs = (System.nanoTime() - c0) / 1e6
      val slowStillRunning = !cold.isCompleted
      Await.result(cold, Duration.Inf)
      val slowMs = (System.nanoTime() - t0) / 1e6
      assert(slowMs > 1000, s"the slow scan took only $slowMs ms")
      assert(slowStillRunning,
        s"the cold compose ($composeMs ms) returned only after the slow " +
          s"scan ($slowMs ms)")
    }
  }

  test("8 threads serving the dashboard tiles through the factory match a " +
      "serial run") {
    def routes(s: SparkSession): Seq[String] = {
      val g = GraftSession.generator(s, TpchCatalog.build(dir))
      routed.map(g.route)
    }
    val serial = tiles.map(n => n -> rows(queries(n)(spark, dir))).toMap
    val serialRoutes = routes(spark)
    assert(serial.values.forall(_.nonEmpty))
    // a session of its own, so the eight threads start on cold generators
    val s = spark.newSession()
    val requests = scala.util.Random.shuffle(
      Seq.fill(5)(tiles).flatten ++ Seq.fill(8)("routes"))
    val served = pool(8) { implicit ec =>
      Await.result(Future.traverse(requests) { n =>
        Future(n -> (if (n == "routes") routes(s) else rows(queries(n)(s, dir))))
      }, Duration.Inf)
    }
    served.foreach {
      case ("routes", r) => assert(r == serialRoutes)
      case (n, r) => assert(r == serial(n), s"$n differs from its serial run")
    }
  }
}
