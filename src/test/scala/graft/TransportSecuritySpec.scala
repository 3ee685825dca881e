package graft

import graft.gen.Generator

import graft.sqlfront.{SqlFront, TransportSecurity}
import org.scalatest.funsuite.AnyFunSuite

/** Fail-closed SQL-transport gates (reference: core/transport_security.py).
  * The TPC-H catalog carries `orders_secured` (a row policy) and hidden
  * fields, so controls are ACTIVE on it by construction. */
class TransportSecuritySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val cat = TpchCatalog.build(TestSpark.sfDir)
  private lazy val gen = new Generator(spark, cat)
  private lazy val front = new SqlFront(spark, cat, gen)

  private def refused(body: => Any): String =
    intercept[SecurityException](body).getMessage

  test("controls are active on the secured catalog") {
    assert(TransportSecurity.hasDeclaredSecurity(cat))
    assert(TransportSecurity.controlsAreActive(cat))
  }

  test("transport refuses raw source reads while controls are active") {
    val msg = refused(front.transportSql(
      "SELECT * FROM parquet.`/root/testdata/sf0.01/orders.parquet`",
      transport = "test_transport"))
    assert(msg.contains("test_transport") && msg.contains("non-semantic"))
    // an unregistered temp-view name is equally unprovable
    assert(refused(front.transportSql("SELECT * FROM some_view"))
      .contains("non-semantic source(s) some_view"))
  }

  test("transport refuses expression subqueries under controls") {
    val msg = refused(front.transportSql(
      "SELECT orders.revenue FROM orders " +
        "WHERE orders.orderpriority IN (SELECT p FROM orders)"))
    assert(msg.contains("expression subquery"))
  }

  test("transport refuses Yardstick AS MEASURE text under controls") {
    assert(refused(front.transportSql(
      "SELECT orderpriority, AGGREGATE(revenue) FROM orders GROUP BY 1"))
      .contains("Yardstick"))
  }

  test("projection-only SQL stays available; semantic SQL plans normally") {
    assert(front.transportSql("SELECT 1 AS one").collect()(0).getInt(0) == 1)
    val df = front.transportSql(
      "SELECT orders.orderpriority, orders.revenue FROM orders " +
        "ORDER BY orderpriority")
    assert(df.count() > 0)
  }

  test("transport threads user attributes into secured semantic queries " +
      "(deny-by-default without them)") {
    val denied = refused(front.transportSql(
      "SELECT orders_secured.revenue FROM orders_secured"))
    assert(denied.toLowerCase.contains("user"))
    val allowed = front.transportSql(
      "SELECT orders_secured.revenue FROM orders_secured",
      user = Some(Map("role" -> "analyst", "status" -> "F")))
    assert(allowed.count() == 1)
  }

  test("CTE references are recognized, but under controls a non-semantic " +
      "passthrough that reads anything is refused (reference conservatism)") {
    val msg = refused(front.transportSql(
      "WITH t AS (SELECT 1 AS n) SELECT n FROM t"))
    assert(msg.contains("left untouched"))
  }

  test("CTE visibility is per-scope: a name shadowed by a CTE but read " +
      "where that CTE is not in scope is refused (self/forward reference)") {
    // inner `FROM t` sits inside t's own definition — there it is a
    // physical/temp-view read, and SqlFront would compile it via plain
    // Spark SQL; a global CTE-name whitelist would leak raw rows
    val self = refused(front.transportSql(
      "WITH m AS (SELECT orders.revenue FROM orders), " +
        "t AS (SELECT * FROM t) SELECT * FROM t"))
    assert(self.contains("non-semantic source(s) t"))
    // a CTE sees only EARLIER siblings: forward references are physical
    val fwd = refused(front.transportSql(
      "WITH a AS (SELECT * FROM b), b AS (SELECT 1 AS n) SELECT * FROM a"))
    assert(fwd.contains("non-semantic source(s) b"))
    // earlier-sibling chains stay recognized (refused later only as a
    // non-semantic passthrough, NOT as an unrecognized source)
    val chain = refused(front.transportSql(
      "WITH a AS (SELECT 1 AS n), b AS (SELECT n FROM a) SELECT n FROM b"))
    assert(chain.contains("left untouched"))
  }

  test("case-mismatched model names are refused: the gate recognizes no " +
      "more than the rewriter claims (a case-insensitive gate over a " +
      "case-sensitive rewriter would leak raw reads via the WITH fallback)") {
    import org.apache.spark.sql.GraftSqlBridge
    val plan = GraftSqlBridge.parser(spark)
      .parsePlan("SELECT Orders.revenue FROM Orders")
    assert(TransportSecurity.unrecognizedSources(plan, cat) == Seq("Orders"))
    // the end-to-end exploit shape: a semantic CTE engages the WITH
    // compiler, whose main-body fallback is plain Spark SQL (case-
    // insensitive resolution) — the gate must refuse it up front
    val s = spark; import s.implicits._
    Seq((1, "x")).toDF("o_orderkey", "o_orderstatus")
      .createOrReplaceTempView("ts_shadow_probe")
    val msg = refused(front.transportSql(
      "WITH seg AS (SELECT orders.revenue FROM orders) " +
        "SELECT * FROM TS_SHADOW_PROBE"))
    assert(msg.contains("non-semantic source(s) TS_SHADOW_PROBE"))
    spark.catalog.dropTempView("ts_shadow_probe")
  }

  test("filter-only reference to a secured model bypasses preagg routing") {
    // a rollup join-routes foreign-model filters WITHOUT securedScan, so
    // a secured model referenced only in a filter must force the base path
    import graft.plan.SemanticQuery
    import graft.preagg.PreAggStore
    val securedCustomer = cat.copy(models = cat.models.map {
      case (n, m) if n == "customer" =>
        n -> m.copy(security = Some(graft.model.SecurityPolicy(
          access = Some("user.role IN ('analyst', 'admin')"))))
      case kv => kv
    })
    val base = java.nio.file.Files
      .createTempDirectory("graft_preagg_sec").toString
    val q = SemanticQuery(
      metrics = Seq("orders.revenue"),
      filters = Seq("customer.mktsegment = 'AUTOMOBILE'"),
      user = Some(Map("role" -> "analyst")))
    // positive control: with customer UNsecured the query join-routes
    val openStore = new PreAggStore(spark, cat, base)
    openStore.materialize("orders",
      cat.model("orders").preAggregations.find(_.name == "daily_by_customer").get)
    val gOpen = new Generator(spark, cat, Some(openStore))
    gOpen.plan(q).collect()
    assert(gOpen.route(q) == "preagg", "control: query must be routable")
    // secured customer: same store, same query — base path, not rollup
    val gSec = new Generator(spark, securedCustomer,
      Some(new PreAggStore(spark, securedCustomer, base)))
    gSec.plan(q).collect()
    assert(gSec.route(q) != "preagg")
    // and the base path enforces deny-by-default without a user
    intercept[SecurityException](
      gSec.plan(q.copy(user = None)).collect())
    // the bypass predicate renders filters with PACKAGE defaults merged
    // in — a default-valued {{ param }} in a filter must not crash the
    // routing decision when the query passes no parameters
    val withDefault = securedCustomer.withParamDefaults(
      Map("seg" -> "'AUTOMOBILE'"))
    val gDef = new Generator(spark, withDefault,
      Some(new PreAggStore(spark, withDefault, base)))
    val qDef = SemanticQuery(
      metrics = Seq("orders.revenue"),
      filters = Seq("customer.mktsegment = {{ seg }}"),
      user = Some(Map("role" -> "analyst")))
    gDef.plan(qDef).collect()
    assert(gDef.route(qDef) != "preagg")
  }

  test("CTE scope nests: an inner WITH's names are invisible outside it, " +
      "and outer names are visible inside") {
    import org.apache.spark.sql.GraftSqlBridge
    val parser = GraftSqlBridge.parser(spark)
    // inner-only name `i` leaks nowhere: the outer body's `FROM i` is
    // a physical read and must be reported
    val leak = parser.parsePlan(
      "WITH a AS (WITH i AS (SELECT 1 AS n) SELECT n FROM i) " +
        "SELECT * FROM i")
    assert(TransportSecurity.unrecognizedSources(leak, cat) == Seq("i"))
    // outer name visible inside a nested definition: nothing unrecognized
    val ok = parser.parsePlan(
      "WITH o AS (SELECT 1 AS n), " +
        "b AS (WITH i AS (SELECT n FROM o) SELECT n FROM i) " +
        "SELECT * FROM b")
    assert(TransportSecurity.unrecognizedSources(ok, cat).isEmpty)
  }

  test("denyRawSql names every active control class") {
    val msg = intercept[SecurityException](
      TransportSecurity.denyRawSql(cat, "raw_db_endpoint")).getMessage
    assert(msg.contains("raw_db_endpoint"))
    assert(msg.contains("model access/row policies"))
  }

  test("with no controls declared, transportSql is plain sql() passthrough") {
    val open = cat.copy(models = cat.models.map { case (n, m) =>
      n -> m.copy(security = None,
        dimensions = m.dimensions.map(_.copy(public = true)),
        metrics = m.metrics.map(_.copy(public = true)))
    })
    assert(!TransportSecurity.controlsAreActive(open))
    val openFront = new SqlFront(spark, open, new Generator(spark, open))
    val s = spark; import s.implicits._
    Seq((41, "x")).toDF("n", "s").createOrReplaceTempView("ts_plain_rows")
    assert(openFront.transportSql("SELECT n + 1 AS m FROM ts_plain_rows")
      .collect()(0).getInt(0) == 42)
  }

  test("secured models bypass pre-aggregation routing (rollups have no " +
      "per-user row scope)") {
    import graft.plan.SemanticQuery
    val q = SemanticQuery(
      metrics = Seq("orders_secured.revenue"),
      dimensions = Seq("orders_secured.orderstatus"),
      user = Some(Map("role" -> "analyst", "status" -> "F")))
    gen.plan(q).collect()
    assert(gen.route(q) != "preagg")
  }
}
