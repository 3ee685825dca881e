package graft

import graft.adapters.YardstickAdapter
import graft.model.Catalog
import graft.sqlfront.Yardstick
import org.scalatest.funsuite.AnyFunSuite

/** Regression coverage for WHERE routing in Yardstick join mode
  * (reference semantics: the paper's evaluation context includes every
  * WHERE predicate, qualified or not — measures.test exercises only the
  * qualified spelling, so this is pinned here).
  *
  * An unqualified predicate (`WHERE yr = 2020` over a two-view join) must
  * reach the measure sub-aggregates of the side that owns the column —
  * it used to be applied to the row relation but silently dropped from
  * the measure context, inflating AGGREGATE() results. An unqualified
  * column owned by BOTH sides must raise instead of guessing.
  */
class YardstickJoinFilterSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def setup(): Yardstick = {
    spark.sql("SELECT * FROM VALUES (2020, 'w', 10.0), (2020, 'e', 20.0), " +
        "(2021, 'w', 40.0) AS t(yr, region, amt)")
      .createOrReplaceTempView("jf_sales")
    spark.sql("SELECT * FROM VALUES (2020, 'alpha'), (2021, 'beta') AS t(yr2, tag)")
      .createOrReplaceTempView("jf_tags")
    val models = YardstickAdapter.loadString(
      """CREATE VIEW jf_sales_v AS
        |SELECT yr, region, SUM(amt) AS MEASURE revenue
        |FROM jf_sales GROUP BY yr, region;
        |CREATE VIEW jf_tags_v AS
        |SELECT yr2, tag, COUNT(*) AS MEASURE n
        |FROM jf_tags GROUP BY yr2, tag;""".stripMargin)
    new Yardstick(spark, Catalog().add(models: _*))
  }

  test("unqualified WHERE routes into the owning side's measure context") {
    val yard = setup()
    def run(where: String): Map[String, Double] =
      yard.sql("SELECT t.tag, AGGREGATE(s.revenue) AS rev " +
          s"FROM jf_sales_v s JOIN jf_tags_v t ON s.yr = t.yr2 $where GROUP BY t.tag")
        .collect().map(r => (r.getString(0), r.get(1).toString.toDouble)).toMap
    val qualified = run("WHERE s.yr = 2020")
    val unqualified = run("WHERE yr = 2020")
    assert(qualified == Map("alpha" -> 30.0))
    assert(unqualified == qualified,
      "unqualified WHERE must filter the measure context exactly like the qualified form")
  }

  test("ambiguous unqualified filter column raises instead of guessing") {
    val yard = setup()
    // second view that ALSO carries a column named `yr`
    spark.sql("SELECT * FROM VALUES (2020, 'x') AS t(yr, lab)")
      .createOrReplaceTempView("jf_dup")
    val models = YardstickAdapter.loadString(
      """CREATE VIEW jf_dup_v AS
        |SELECT yr, lab, COUNT(*) AS MEASURE m FROM jf_dup GROUP BY yr, lab;""".stripMargin)
    val yard2 = new Yardstick(spark,
      Catalog().add(YardstickAdapter.loadString(
        """CREATE VIEW jf_sales_v AS
          |SELECT yr, region, SUM(amt) AS MEASURE revenue
          |FROM jf_sales GROUP BY yr, region;""".stripMargin) ++ models: _*))
    val err = intercept[Exception] {
      yard2.sql("SELECT d.lab, AGGREGATE(s.revenue) AS rev " +
        "FROM jf_sales_v s JOIN jf_dup_v d ON s.yr = d.yr " +
        "WHERE yr = 2020 GROUP BY d.lab").collect()
    }
    assert(err.getMessage.toLowerCase.contains("ambiguous"))
  }

  test("WITH: CTE bodies feed the main body without touching the session " +
      "catalog, so two threads with different bodies under one CTE name " +
      "match a serial run") {
    val yard = setup()
    def run(text: String): Seq[String] =
      yard.sql(text).collect().map(r =>
        s"${r.get(0)}:${r.get(1).toString.toDouble}").toSeq
    val texts = Seq(
      """WITH r AS (SELECT yr, AGGREGATE(revenue) AS v FROM jf_sales_v GROUP BY yr)
        |SELECT yr, v FROM r ORDER BY yr""".stripMargin,
      """WITH r AS (SELECT yr2, AGGREGATE(n) AS v FROM jf_tags_v GROUP BY yr2)
        |SELECT yr2, v FROM r ORDER BY yr2""".stripMargin)
    val serial = texts.map(run)
    assert(serial == Seq(Seq("2020:30.0", "2021:40.0"), Seq("2020:1.0", "2021:1.0")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val runs = texts.zip(serial).map { case (t, want) =>
        pool.submit(() => (1 to 100).count(_ =>
          scala.util.Try(run(t)).toOption.contains(want)))
      }
      assert(runs.map(_.get()) == Seq(100, 100),
        "some compiles failed or differ from the serial run")
    } finally pool.shutdown()
    assert(!spark.catalog.tableExists("r"))
  }
}
