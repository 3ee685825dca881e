package graft

import graft.ops.TimeSpine
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TimeSpineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("gaps fill with the configured values; observed rows pass through") {
    import spark.implicits._
    val df = Seq(
      (ts("2024-01-01 00:00:00"), 10L, 100.0),
      (ts("2024-03-01 00:00:00"), 3L, 30.0)) // february missing
      .toDF("month", "n", "revenue")
    val out = TimeSpine.densify(df, "month", "1 month",
        fills = Map("n" -> lit(0), "revenue" -> lit(0)))
      .orderBy("month").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("n") == 10L)
    assert(out(1).getAs[java.sql.Timestamp]("month") == ts("2024-02-01 00:00:00"))
    assert(out(1).getAs[Long]("n") == 0L)
    assert(out(1).getAs[Double]("revenue") == 0.0)
    assert(out(2).getAs[Double]("revenue") == 30.0)
  }

  test("unlisted metric columns stay null on generated rows") {
    import spark.implicits._
    val df = Seq((ts("2024-01-01 00:00:00"), 1.0),
      (ts("2024-01-03 00:00:00"), 3.0)).toDF("day", "v")
    val out = TimeSpine.densify(df, "day", "1 day").orderBy("day").collect()
    assert(out.length == 3)
    assert(out(1).isNullAt(out(1).fieldIndex("v")))
  }

  test("each dimension series gets the full shared spine") {
    import spark.implicits._
    val df = Seq(
      (ts("2024-01-01 00:00:00"), "a", 1L),
      (ts("2024-02-01 00:00:00"), "b", 2L)) // a lacks feb, b lacks jan
      .toDF("month", "seg", "n")
    val out = TimeSpine.densify(df, "month", "1 month", dims = Seq("seg"),
        fills = Map("n" -> lit(0)))
      .collect().map(r => (r.getAs[java.sql.Timestamp]("month").toString,
        r.getAs[String]("seg")) -> r.getAs[Long]("n")).toMap
    assert(out.size == 4)
    assert(out(("2024-02-01 00:00:00.0", "a")) == 0L)
    assert(out(("2024-01-01 00:00:00.0", "b")) == 0L)
    assert(out(("2024-01-01 00:00:00.0", "a")) == 1L)
    assert(out(("2024-02-01 00:00:00.0", "b")) == 2L)
  }

  test("densify composes over a real time-grained semantic query") {
    // one sparse customer's monthly revenue from the actual generator
    // output: gaps materialize with the fills, observed months ride
    // through untouched, and the spine spans exactly min..max
    val orders = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
    val hot = orders.groupBy(col("o_custkey")).count()
      .orderBy(col("count").desc, col("o_custkey"))
      .limit(1).collect()(0).getLong(0)
    val df = orders.filter(col("o_custkey") === hot)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
    val sparse = df.count()
    val dense = TimeSpine.densify(df, "month", "1 month",
      fills = Map("revenue" -> lit(0)))
    val rows = dense.orderBy("month").collect()
    assert(rows.length >= sparse, "densified can never lose rows")
    // consecutive months, no gaps left
    val months = rows.map(_.getAs[java.sql.Timestamp]("month").toLocalDateTime)
    months.sliding(2).foreach { case Array(a, b) =>
      assert(a.plusMonths(1) == b, s"gap between $a and $b")
    }
    // filled rows are exactly the generated ones and sum is unchanged
    val total = df.agg(sum(col("revenue"))).collect()(0).getDecimal(0)
    val denseTotal = dense.agg(sum(col("revenue"))).collect()(0).getDecimal(0)
    assert(total.compareTo(denseTotal) == 0)
  }

  test("empty input densifies to empty, dense input is identity") {
    import spark.implicits._
    val empty = Seq.empty[(java.sql.Timestamp, Long)].toDF("month", "n")
    assert(TimeSpine.densify(empty, "month", "1 month").count() == 0)
    val dense = Seq(
      (ts("2024-01-01 00:00:00"), 1L),
      (ts("2024-02-01 00:00:00"), 2L)).toDF("month", "n")
    val out = TimeSpine.densify(dense, "month", "1 month")
      .orderBy("month").collect().map(_.getAs[Long]("n")).toSeq
    assert(out == Seq(1L, 2L))
  }
}
