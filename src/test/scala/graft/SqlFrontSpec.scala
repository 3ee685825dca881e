package graft

import graft.gen.Generator
import graft.plan.SemanticQuery
import graft.sqlfront.SqlFront
import org.scalatest.funsuite.AnyFunSuite

class SqlFrontSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val cat = TpchCatalog.build(TestSpark.sfDir)
  private lazy val gen = new Generator(spark, cat)
  private lazy val front = new SqlFront(spark, cat, gen)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(_.toSeq)

  test("WITH: semantic CTE + plain-SQL outer shell") {
    val viaSql = front.sql(
      """WITH seg AS (
        |  SELECT orders.orderpriority, orders.revenue FROM orders
        |)
        |SELECT orderpriority, revenue FROM seg
        |WHERE revenue > 70000000 ORDER BY orderpriority""".stripMargin)
    val viaApi = gen.plan(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderpriority"),
      filters = Seq("orders.revenue > 70000000"),
      orderBy = Seq("orderpriority")))
    assert(rows(viaSql) == rows(viaApi))
  }

  test("WITH: CTE registrations are scoped — a colliding user temp view " +
      "is restored and fresh CTE names don't outlive the query") {
    val s = spark; import s.implicits._
    Seq(41).toDF("n").createOrReplaceTempView("cte_scope_probe")
    val got = front.sql(
      """WITH cte_scope_probe AS (SELECT 1 AS n),
        |     seg AS (SELECT orders.revenue FROM orders)
        |SELECT n FROM cte_scope_probe""".stripMargin).collect()
    assert(got(0).getInt(0) == 1, "query must see its own CTE")
    // the user's view is back, not the CTE's shadow
    assert(spark.table("cte_scope_probe").collect()(0).getInt(0) == 41)
    // and a name the query introduced is gone afterwards
    assert(!spark.catalog.tableExists("seg"))
    spark.catalog.dropTempView("cte_scope_probe")
  }

  test("WITH: plain CTE feeding a second plain CTE, no semantic refs — passthrough") {
    val s = spark; import s.implicits._
    Seq((1, "a"), (2, "b")).toDF("n", "s").createOrReplaceTempView("plain_rows")
    val got = front.sql(
      """WITH a AS (SELECT n FROM plain_rows),
        |     b AS (SELECT n + 1 AS m FROM a)
        |SELECT sum(m) AS total FROM b""".stripMargin).collect()
    assert(got(0).getLong(0) == 5L)
  }

  test("metrics virtual table: cross-model fields and graph metrics") {
    val viaSql = front.sql(
      "SELECT orders.revenue, revenue_per_item FROM metrics")
    val viaApi = gen.plan(SemanticQuery(
      metrics = Seq("orders.revenue", "revenue_per_item")))
    assert(rows(viaSql) == rows(viaApi))
    // SELECT * is refused on the metrics scope, like the reference
    intercept[IllegalArgumentException] {
      front.sql("SELECT * FROM metrics")
    }
  }

  test("SELECT * expands to the model's dimensions and metrics") {
    val df = front.sql("SELECT * FROM region")
    assert(df.columns.toSeq == Seq("name", "regionkey", "region_count"))
    assert(df.count() == 5)
  }

  test("subquery in FROM: semantic inner scope under a plain outer query") {
    val got = front.sql(
      """SELECT upper(orderpriority) AS p, revenue
        |FROM (SELECT orders.orderpriority, orders.revenue FROM orders) t
        |WHERE revenue > 70000000 ORDER BY p""".stripMargin)
    assert(got.columns.toSeq == Seq("p", "revenue"))
    assert(got.count() >= 1)
    assert(got.collect().forall(_.getString(0).head.isDigit))
  }

  test("simple semantic select compiles to the structured query") {
    val viaSql = front.sql(
      "SELECT orders.orderstatus, orders.revenue FROM orders ORDER BY orderstatus")
    val viaApi = gen.plan(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderstatus"),
      orderBy = Seq("orderstatus")))
    assert(rows(viaSql) == rows(viaApi))
  }

  test("cross-model select joins automatically") {
    val viaSql = front.sql(
      "SELECT customer.mktsegment, orders.revenue FROM orders ORDER BY mktsegment")
    assert(viaSql.columns.toSeq == Seq("mktsegment", "revenue"))
    assert(viaSql.count() == 5)
  }

  test("WHERE splits into pushdown and HAVING automatically") {
    val viaSql = front.sql(
      """SELECT orders.orderpriority, orders.revenue FROM orders
        |WHERE orders.orderstatus = 'F' AND orders.revenue > 1000
        |ORDER BY orderpriority""".stripMargin)
    val viaApi = gen.plan(SemanticQuery(
      metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderpriority"),
      filters = Seq("orders.orderstatus = 'F'", "orders.revenue > 1000"),
      orderBy = Seq("orderpriority")))
    assert(rows(viaSql) == rows(viaApi))
  }

  test("HAVING clause routes to post-aggregation filter") {
    val viaSql = front.sql(
      """SELECT orders.orderpriority, orders.revenue FROM orders
        |GROUP BY orders.orderpriority HAVING orders.revenue > 75000000
        |ORDER BY orderpriority""".stripMargin)
    assert(viaSql.count() < 5)
  }

  test("time grain suffix works in SQL") {
    val viaSql = front.sql(
      "SELECT orders.order_date__month, orders.revenue FROM orders ORDER BY order_date__month LIMIT 3")
    assert(viaSql.columns.toSeq == Seq("order_date__month", "revenue"))
    assert(viaSql.count() == 3)
  }

  test("GROUP BY must echo dimensions") {
    val e = intercept[IllegalArgumentException](front.sql(
      "SELECT orders.orderstatus, orders.revenue FROM orders GROUP BY orders.orderpriority"))
    assert(e.getMessage.contains("echo"))
  }

  test("aliases rename output columns") {
    val df = front.sql(
      "SELECT orders.orderstatus AS status, orders.revenue AS total FROM orders ORDER BY status")
    assert(df.columns.toSeq == Seq("status", "total"))
  }

  test("non-semantic SQL passes through to Spark") {
    spark.read.parquet(s"${TestSpark.sfDir}/region.parquet")
      .createOrReplaceTempView("raw_region")
    val df = front.sql("SELECT count(*) AS n FROM raw_region")
    assert(df.collect()(0).getLong(0) == 5)
  }

  test("strict mode rejects non-semantic SQL") {
    intercept[IllegalArgumentException](
      front.sqlStrict("SELECT count(*) FROM raw_region"))
  }

  test("UNION of semantic branches") {
    val df = front.sql(
      """SELECT orders.orderstatus, orders.revenue FROM orders WHERE orders.orderstatus = 'F'
        |UNION ALL
        |SELECT orders.orderstatus, orders.revenue FROM orders WHERE orders.orderstatus = 'O'""".stripMargin)
    assert(df.count() == 2)
  }

  test("ungrouped metrics-only select returns the global aggregate") {
    val df = front.sql("SELECT orders.revenue, orders.order_count FROM orders")
    assert(df.count() == 1)
  }

  test("two threads compiling WITH queries on one session never see each " +
      "other's CTEs and match a serial run") {
    // the same CTE name with different bodies: a session-level name (a
    // temp view) would let one thread read or drop the other's `seg`
    val texts = Seq(
      """WITH seg AS (SELECT orders.orderpriority, orders.revenue FROM orders)
        |SELECT orderpriority, revenue FROM seg
        |ORDER BY orderpriority""".stripMargin,
      """WITH seg AS (SELECT customer.mktsegment, orders.order_count FROM orders)
        |SELECT mktsegment, order_count FROM seg
        |ORDER BY mktsegment""".stripMargin)
    val serial = texts.map(t => rows(front.sql(t)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val runs = texts.zip(serial).map { case (t, want) =>
        pool.submit(() => (1 to 200).count(_ =>
          scala.util.Try(rows(front.sql(t))).toOption.contains(want)))
      }
      assert(runs.map(_.get()) == Seq(200, 200),
        "some compiles failed or differ from the serial run")
    } finally pool.shutdown()
    assert(!spark.catalog.tableExists("seg"))
  }
}
