package graft

import graft.gen.Generator
import graft.model._
import graft.plan.SemanticQuery
import graft.preagg.PreAggStore
import graft.sqlfront.SqlFront
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftPlan, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicLong

/** The generator composes one logical plan per compile: Spark's analyzer
  * runs once for a standard, a multi-fact, a routed pre-aggregation, a
  * symmetric-dedup, a window, a conversion, a retention, a cohort, a
  * funnel and a semantic-SQL compile, an error in the plan still
  * surfaces inside `plan()`, and a routed plan's memoized rollup scan is
  * re-resolved after every change to its files. */
class ComposeOnceSpec extends AnyFunSuite {

  private val dir = TestSpark.sfDir
  private lazy val spark = ComposeOnceSpec.counting
  private lazy val cat = TpchCatalog.build(dir)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val shapes = Seq(
    // the 3-hop join to region; left to the base tables, as
    // daily_by_customer could serve it
    "standard" -> SemanticQuery(metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("region.name"), orderBy = Seq("name"), usePreAggs = false),
    "multi-fact-split" -> SemanticQuery(
      metrics = Seq("orders.revenue", "lineitem.quantity"),
      dimensions = Seq("customer.mktsegment"), orderBy = Seq("mktsegment")),
    "preagg" -> SemanticQuery(metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("nation.name"), orderBy = Seq("name")),
    // a fan-out-unsafe sum over the orders join: deduplicated partials,
    // and with totals a detail-plus-total union
    "symmetric-dedup" -> SemanticQuery(metrics = Seq("customer.total_acctbal"),
      dimensions = Seq("orders.orderstatus"), orderBy = Seq("orderstatus")),
    "symmetric-dedup" -> SemanticQuery(metrics = Seq("customer.total_acctbal"),
      dimensions = Seq("orders.orderstatus"), orderBy = Seq("orderstatus"),
      withTotals = true),
    // cumulative, time comparison and offset ratio: window steps and
    // self-joins over the inner aggregate
    "window" -> SemanticQuery(
      metrics = Seq("orders.cumulative_revenue", "orders.revenue"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")),
    "window" -> SemanticQuery(metrics = Seq("orders.revenue_mom"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")),
    "window" -> SemanticQuery(metrics = Seq("orders.revenue_vs_prev_month"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month")),
    "conversion" -> SemanticQuery(metrics = Seq("events.signup_conversion")),
    "retention" -> SemanticQuery(metrics = Seq("events.signup_retention"),
      orderBy = Seq("cohort_date", "days_since")),
    "cohort" -> SemanticQuery(metrics = Seq("events.multi_type_users")),
    "funnel" -> SemanticQuery(metrics = Seq("events.signup_funnel"),
      orderBy = Seq("step")))

  test("a standard, a multi-fact, a routed pre-agg and a symmetric-dedup " +
      "compile each run the analyzer once") {
    val store = new PreAggStore(spark, cat, tmp("graft_compose_once"))
    store.materialize("orders",
      cat.model("orders").preAggregations.find(_.name == "daily_by_customer").get)
    // the first compile of each shape resolves its scans and the rollup's
    // scan; every later compile, on any generator, reuses them
    shapes.foreach { case (_, q) => new Generator(spark, cat, Some(store)).plan(q) }
    shapes.foreach { case (route, q) =>
      val g = new Generator(spark, cat, Some(store))
      val (df, n) = ComposeOnceSpec.analysesOf(g.plan(q))
      assert(g.route(q) == route)
      assert(n == 1, s"$route: $n analyses in one compile")
      assert(rows(df) ==
        rows(new Generator(spark, cat).plan(q.copy(usePreAggs = false))))
    }
  }

  test("semantic SQL: a single scope analyses once, a CTE over one scope " +
      "twice (the scope, then the shell around it)") {
    val simple = """SELECT customer.mktsegment, orders.revenue, orders.order_count
                   |FROM orders WHERE orders.orderstatus = 'F'
                   |ORDER BY mktsegment""".stripMargin
    val cte = """WITH seg AS (
                |  SELECT orders.orderpriority, orders.revenue FROM orders
                |)
                |SELECT orderpriority, revenue FROM seg
                |WHERE revenue > 70000000 ORDER BY orderpriority""".stripMargin
    Seq(simple, cte).foreach(t =>
      new SqlFront(spark, cat, new Generator(spark, cat)).sql(t))
    Seq(simple -> 1, cte -> 2).foreach { case (text, expected) =>
      val front = new SqlFront(spark, cat, new Generator(spark, cat))
      val (_, n) = ComposeOnceSpec.analysesOf(front.sql(text))
      assert(n == expected, s"$n analyses for\n$text")
    }
  }

  test("a dimension naming a missing column fails inside plan() with an " +
      "AnalysisException naming it, and leaves no plan-cache entry") {
    val s = TestSpark.spark
    val view = s"compose_once_${java.util.UUID.randomUUID().toString.take(8)}"
    s.range(4).selectExpr("id").createOrReplaceTempView(view)
    try {
      val c = Catalog().add(Model("facts", source = ModelSource.Table(view),
        primaryKey = Seq("id"),
        dimensions = Seq(Dimension("label", sql = Some("zz_label"))),
        metrics = Seq(Metric("n", agg = Some("count"), sql = Some("id")),
          // a window over the grouped result naming a column it lacks
          Metric("weighted_rank", metricType = Some("cumulative"),
            windowExpression = Some("sum(n * zz_weight)"),
            windowOrder = Some("label")))))
      val g = new Generator(s, c)
      val q = SemanticQuery(metrics = Seq("facts.n"),
        dimensions = Seq("facts.label"), orderBy = Seq("label"))
      val e = intercept[AnalysisException](g.plan(q))
      assert(e.getMessage.contains("zz_label"), e.getMessage)
      // the failed compose cached nothing: once the column exists, the
      // same generator composes the query again and plans it
      s.range(4).selectExpr("id", "cast(id % 2 AS string) AS zz_label")
        .createOrReplaceTempView(view)
      assert(rows(g.plan(q)) == Seq("[0,2]", "[1,2]"))
      // the window route fails the same way; each call composes again,
      // so the second raises its own exception, not a cached one
      val w = q.copy(metrics = Seq("facts.n", "facts.weighted_rank"))
      val errors = Seq.fill(2)(intercept[AnalysisException](g.plan(w)))
      errors.foreach(e => assert(e.getMessage.contains("zz_weight"), e.getMessage))
      assert(errors.head ne errors.last)
    } finally s.catalog.dropTempView(view)
  }

  test("GraftPlan names a multi-alias and a using join as the analyzer " +
      "does, and refuses a select item with no name when composed") {
    val s = TestSpark.spark
    val scan = GraftPlan(s.range(3).selectExpr("id", "id * 10 AS v"))
    val stacked = scan.select(expr("stack(2, id, v, v, id) AS (a, b)"), col("id"))
    val sizes = scan.agg(Seq(col("id")), Seq(expr("count(v)").as("n")))
    val joined = stacked.join(sizes, Seq("id"))
    Seq(stacked, joined).foreach(p =>
      assert(p.columns == p.toDF.columns.toSeq, p.columns))
    assert(joined.columns == Seq("id", "a", "b", "n"))
    val e = intercept[IllegalArgumentException](scan.select(col("id") + 1))
    assert(e.getMessage.contains("no name"), e.getMessage)
  }

  test("after materialize, refreshIncremental or Catalog.invalidateScans, " +
      "a routed plan reads the new file listing") {
    val s = TestSpark.spark
    val view = s"compose_ledger_${java.util.UUID.randomUUID().toString.take(8)}"
    def ledger(amount: String): Unit =
      s.sql(s"""SELECT o_orderkey AS id, o_orderpriority AS kind,
               |  o_orderdate AS day, $amount AS amount
               |FROM parquet.`$dir/orders.parquet`""".stripMargin)
        .createOrReplaceTempView(view)
    val pa = PreAggregation("by_kind_day", measures = Seq("amount"),
      dimensions = Seq("kind"), timeDimension = Some("day"),
      granularity = Some("day"), partitionGranularity = Some("month"))
    val c = Catalog().add(Model("ledger", source = ModelSource.Table(view),
      primaryKey = Seq("id"),
      dimensions = Seq(Dimension("kind", sql = Some("kind")),
        Dimension("day", DimType.Time, sql = Some("day"))),
      metrics = Seq(Metric("amount", agg = Some("sum"), sql = Some("amount"))),
      preAggregations = Seq(pa)))
    val base = tmp("graft_compose_memo")
    val store = new PreAggStore(s, c, base)
    val q = SemanticQuery(metrics = Seq("ledger.amount"),
      dimensions = Seq("ledger.kind"), orderBy = Seq("kind"))
    def fromBase: Seq[String] =
      rows(new Generator(s, c).plan(q.copy(usePreAggs = false)))
    def routed(g: Generator): Seq[String] = {
      val out = rows(g.plan(q))
      assert(g.route(q) == "preagg")
      out
    }
    try {
      ledger("o_orderkey % 7")
      store.materialize("ledger", pa)
      val g = new Generator(s, c, Some(store))
      val first = routed(g)
      assert(first == fromBase)

      ledger("o_orderkey % 5")
      store.materialize("ledger", pa)
      val rebuilt = routed(new Generator(s, c, Some(store)))
      assert(rebuilt != first && rebuilt == fromBase, "materialize")

      // only the months from the watermark's lookback are recomputed
      ledger("CASE WHEN o_orderdate >= DATE'1998-07-01' THEN o_orderkey % 3 " +
        "ELSE o_orderkey % 5 END")
      store.refreshIncremental("ledger", pa, "1998-08-01")
      val refreshed = routed(new Generator(s, c, Some(store)))
      assert(refreshed != rebuilt && refreshed == fromBase, "refreshIncremental")

      // another writer rewrites the rollup; this store learns of it only
      // through the scan invalidation
      ledger("o_orderkey % 11")
      new PreAggStore(s, c, base).materialize("ledger", pa)
      Catalog.invalidateScans()
      val relisted = routed(new Generator(s, c, Some(store)))
      assert(relisted != refreshed && relisted == fromBase, "invalidateScans")
    } finally s.catalog.dropTempView(view)
  }
}

object ComposeOnceSpec {

  private val analyses = new AtomicLong

  /** A session with `GraftSession.create`'s confs and a check rule that
    * counts every analysis run on it. It shares the test JVM's
    * SparkContext; the default and active sessions stay the shared test
    * session. */
  lazy val counting: SparkSession = {
    val shared = TestSpark.spark
    val s = GraftSession.builder(4)
      .withExtensions(_.injectCheckRule(_ => _ => analyses.incrementAndGet()))
      .create()
    SparkSession.setDefaultSession(shared)
    SparkSession.setActiveSession(shared)
    s
  }

  /** `body`'s result and the analyses it ran on [[counting]]. */
  def analysesOf[A](body: => A): (A, Long) = {
    val before = analyses.get
    val out = body
    (out, analyses.get - before)
  }
}
