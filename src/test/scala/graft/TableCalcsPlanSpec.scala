package graft

import graft.gen.TableCalcs
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** The global (no-partition) table calcs are SIZE-GATED
  * (`spark.graft.tablecalc.globalWindowMaxBytes`): a result-set-sized
  * frame takes a plain single-partition WindowExec (the decomposed
  * plans paid 5-8 extra exchanges/AQE jobs to avoid a microsecond
  * sort), while a frame whose optimizer estimate clears the gate
  * decomposes into range-partition + broadcast-offset plans (TableCalcs
  * Scaladoc) and must NOT funnel through one task. This pins the plan
  * shape on both sides of the gate and the value-level equivalence of
  * the decomposition against the plain single-window forms, including
  * nulls, ties, zeros, and the N=1 percentile edge. */
class TableCalcsPlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private val GateConf = "spark.graft.tablecalc.globalWindowMaxBytes"

  /** Run `body` with the gate forced shut — every global calc takes the
    * decomposed distributed plan, as a fact-grain frame would. */
  private def forceDecomposed[A](body: => A): A = {
    spark.conf.set(GateConf, "0")
    try body finally spark.conf.unset(GateConf)
  }

  private def partitionlessWindows(df: DataFrame): Seq[WindowExec] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }

  test("above the size gate driver queries plan no single-partition window") {
    forceDecomposed {
      Seq("q_topn", "q_tablecalc_pct", "q_tablecalc_running",
          "q_tablecalc_rank", "q_tablecalc_moving_avg").foreach { name =>
        val df = SparkEntry.queries(name)(spark, dir)
        val bad = partitionlessWindows(df)
        assert(bad.isEmpty,
          s"$name plans a partition-less WindowExec:\n${bad.mkString("\n")}")
        assert(df.collect().nonEmpty, s"$name returned no rows")
      }
    }
  }

  test("result-sized frames take the single-window fast path") {
    // small result set: the gated fast path engages — the plan carries a
    // partition-less window and NONE of the decomposition's machinery
    // (range exchange, __tc_pid); values are pinned against the
    // decomposed plan of the identical frame
    import spark.implicits._
    val df = Seq((1, 10.0), (2, 5.0), (3, 20.0), (4, 1.0)).toDF("id", "v")
    val fast = TableCalcs.runningTotal(df, "v", Seq("id"), "x")
    assert(partitionlessWindows(fast).nonEmpty,
      "small frame did not take the single-window path")
    assert(!fast.queryExecution.optimizedPlan.toString.contains("__tc_pid"),
      "fast path still carries decomposition columns")
    val slow = forceDecomposed(
      TableCalcs.runningTotal(df, "v", Seq("id"), "x").collect().toSeq)
    assert(fast.collect().toSeq == slow,
      "gated paths disagree on running_total values")
  }

  test("both gate branches agree on SCHEMA, not just values") {
    // the decomposed running total's offset addition widens decimals
    // (sum-of-sums precision); without the normalizing cast the SAME
    // query would change column types when the data crosses the size
    // gate. Pin type equality for an int and a decimal measure, and for
    // every gated calc on the int frame.
    import spark.implicits._
    val ints = Seq((1, 10), (2, 5), (3, 20)).toDF("id", "v")
    // a NARROW decimal: sum-of-sums widening is what drifts (a 38-wide
    // decimal is already precision-capped and cannot show it)
    val decs = Seq((1, "10.50"), (2, "5.25"), (3, "20.00")).toDF("id", "v")
      .select(col("id"), col("v").cast("decimal(12,2)").as("v"))
    def both(f: DataFrame => DataFrame, df: DataFrame) =
      (f(df), forceDecomposed(f(df)))
    for (df <- Seq(ints, decs)) {
      val (fast, slow) = both(TableCalcs.runningTotal(_, "v", Seq("id"), "x"), df)
      assert(fast.schema == slow.schema,
        s"running_total schema drifts across the gate:\n${fast.schema}\n${slow.schema}")
      assert(fast.collect().map(_.toString).sorted
        .sameElements(slow.collect().map(_.toString).sorted))
    }
    // percent_of_total and percentile: a whole-frame window under the
    // gate, a broadcast one-row aggregate above it — same values, types
    val totals: Seq[DataFrame => DataFrame] = Seq(
      TableCalcs.percentOfTotal(_, "v", "x"),
      TableCalcs.percentileValue(_, "v", 0.9, "x"))
    for (df <- Seq(ints, decs); f <- totals) {
      val (fast, slow) = both(f, df)
      assert(partitionlessWindows(fast).nonEmpty,
        "small frame did not take the single-window path")
      assert(fast.schema.map(_.dataType) == slow.schema.map(_.dataType),
        s"column types drift across the gate:\n${fast.schema}\n${slow.schema}")
      assert(fast.collect().map(_.toString).sorted
        .sameElements(slow.collect().map(_.toString).sorted))
    }
    val calcs: Seq[DataFrame => DataFrame] = Seq(
      TableCalcs.percentOfPrevious(_, "v", Seq("id"), "x"),
      TableCalcs.rankBy(_, "v", "x"),
      TableCalcs.rowNumberBy(_, Seq("id"), "x"),
      TableCalcs.percentileOf(_, "v", "x"),
      TableCalcs.movingAverage(_, "v", Seq("id"), 2, "x"))
    // the remaining calcs: pin the column TYPES (nullability may differ —
    // e.g. percent_rank is non-nullable while the decomposed division is
    // nullable — which no reader's values can observe)
    calcs.foreach { f =>
      val (fast, slow) = both(f, ints)
      assert(fast.schema.map(_.dataType) == slow.schema.map(_.dataType),
        s"column types drift across the gate:\n${fast.schema}\n${slow.schema}")
    }
  }

  test("misestimate guard: gate forced OPEN on a large frame is slow-not-wrong") {
    // the gate reads the optimizer's size estimate; an undershooting
    // estimate (filter-under-aggregate) can send a big frame down the
    // single-window path. Simulate the misestimate by forcing the gate
    // open over a 60k-row frame: the result must stay exactly correct
    // (WindowExec sorts externally — it spills, it does not fail) and
    // type-identical to the decomposed plan of the same frame.
    import spark.implicits._
    val big = spark.range(60000).select(col("id").cast("int").as("id"),
      (col("id") % 97).cast("double").as("v"))
    spark.conf.set(GateConf, Long.MaxValue.toString)
    try {
      val forced = TableCalcs.runningTotal(big, "v", Seq("id"), "x")
      assert(partitionlessWindows(forced).nonEmpty,
        "misestimate fixture did not take the single-window path")
      val decomposed = forceDecomposed(
        TableCalcs.runningTotal(big, "v", Seq("id"), "x"))
      assert(forced.schema == decomposed.schema)
      val a = forced.select("id", "x").collect().map(_.toString).sorted
      val b = decomposed.select("id", "x").collect().map(_.toString).sorted
      assert(a.sameElements(b), "forced single-window values diverge")
    } finally spark.conf.unset(GateConf)
  }

  test("distributed global calcs match single-window reference semantics") {
    forceDecomposed {
    import spark.implicits._
    val df = Seq(
      (1, Option(10.0)), (2, Option.empty[Double]), (3, Option(5.0)),
      (4, Option(5.0)), (5, Option(0.0)), (6, Option(20.0)),
      (7, Option.empty[Double]), (8, Option(1.0))
    ).toDF("id", "v")
    def byId(d: DataFrame, c: String): Map[Int, Option[Any]] =
      d.select("id", c).collect()
        .map(r => r.getInt(0) -> Option(r.get(1))).toMap

    val wOrd = Window.orderBy("id")
    val expRun = df.withColumn("x", sum($"v").over(
      wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(byId(TableCalcs.runningTotal(df, "v", Seq("id"), "x"), "x")
      == byId(expRun, "x"), "running_total")

    val expMav = df.withColumn("x",
      avg($"v".cast("double")).over(wOrd.rowsBetween(-2L, Window.currentRow)))
    assert(byId(TableCalcs.movingAverage(df, "v", Seq("id"), 3, "x"), "x")
      == byId(expMav, "x"), "moving_average")

    val prev = lag($"v", 1).over(wOrd).cast("double")
    val expPop = df.withColumn("x",
      ($"v".cast("double") - prev) * 100 / when(prev =!= 0, prev))
    assert(byId(TableCalcs.percentOfPrevious(df, "v", Seq("id"), "x"), "x")
      == byId(expPop, "x"), "percent_of_previous")

    val expRank = df.withColumn("x", rank().over(Window.orderBy($"v".desc)))
    assert(byId(TableCalcs.rankBy(df, "v", "x"), "x")
      == byId(expRank, "x"), "rank (ties share rank)")

    val expPct = df.withColumn("x", percent_rank().over(Window.orderBy($"v")))
    assert(byId(TableCalcs.percentileOf(df, "v", "x"), "x")
      == byId(expPct, "x"), "percent_rank")

    val expTot = df.withColumn("x",
      $"v".cast("double") * 100 / sum($"v").over(Window.partitionBy()).cast("double"))
    assert(byId(TableCalcs.percentOfTotal(df, "v", "x"), "x")
      == byId(expTot, "x"), "percent_of_total")

    // N=1 edge: percent_rank of a single row is 0.0, not null
    val one = Seq((1, 42.0)).toDF("id", "v")
    assert(byId(TableCalcs.percentileOf(one, "v", "x"), "x")
      == Map(1 -> Some(0.0)), "percent_rank single row")
    }
  }

  test("percentileValue: constant interpolated quantile, numpy-style") {
    import spark.implicits._
    // values 10,20,30,40: p=0.5 -> pos 1.5 -> 25.0 (linear interpolation,
    // the reference's formula); p=1 -> 40; p=0 -> 10
    val df = Seq((1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)).toDF("id", "v")
    def vals(p: Double) = TableCalcs.percentileValue(df, "v", p, "q")
      .select("q").distinct().collect().map(_.getDouble(0)).toSeq
    assert(vals(0.5) == Seq(25.0))
    assert(vals(0.0) == Seq(10.0))
    assert(vals(1.0) == Seq(40.0))
    // partitioned: per-group constants
    val g = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", 30.0))
      .toDF("k", "v")
    val byK = TableCalcs.percentileValue(g, "v", 0.5, "q", Seq("k"))
      .select("k", "q").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(byK == Map("a" -> 2.0, "b" -> 20.0))
  }

  test("formula is a named row-local expression over result columns") {
    import spark.implicits._
    val df = Seq((1, 10.0, 2L), (2, 9.0, 3L), (3, 5.0, 0L))
      .toDF("id", "rev", "n")
    val out = TableCalcs.formula(df, "rev / nullif(n, 0)", "aov")
      .collect().map(r => (r.getInt(0),
        Option(r.get(r.fieldIndex("aov"))).map(_.asInstanceOf[Double]))).toMap
    assert(out == Map(1 -> Some(5.0), 2 -> Some(3.0), 3 -> None))
    // row-local: no exchange, no window in the plan
    val plan = TableCalcs.formula(df, "rev * 2", "x")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window"),
      s"formula changed the plan shape:\n$plan")
  }
}
