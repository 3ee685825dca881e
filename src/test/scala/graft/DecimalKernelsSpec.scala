package graft

import graft.functions.{CompactDecimalSum, DecimalKernels, DoubleToDecimal}
import graft.gen.Generator
import graft.plan.SemanticQuery
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, Cast, EvalMode, LeafExpression, NumericEvalContext}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession, classic}
import org.scalatest.funsuite.AnyFunSuite

/** A cast that counts how often the kernel falls back to it. */
private case class CountingCast(cast: Cast) extends LeafExpression
    with CodegenFallback {
  var calls = 0
  override def nullable: Boolean = true
  override def dataType: DataType = cast.dataType
  override def eval(input: InternalRow): Any = { calls += 1; cast.eval(input) }
}

/** The decimal kernels return exactly what Spark's Cast and Sum return —
  * values, NULLs and ANSI errors — and the generator's rewrite touches
  * only what it claims to. */
class DecimalKernelsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def session(ansi: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", ansi.toString)
    s
  }
  private lazy val legacy = session(ansi = false)
  private lazy val ansi = session(ansi = true)

  // ------------------------------------------------------------------
  // Cast
  // ------------------------------------------------------------------

  private val types = Seq((18, 2), (18, 4), (12, 2), (10, 0), (18, 6))

  private def castOf(p: Int, s: Int, mode: EvalMode.Value): Cast =
    Cast(BoundReference(0, DoubleType, nullable = true), DecimalType(p, s),
      Some("UTC"), mode)

  /** Value or error condition of one evaluation. */
  private def outcome(f: => Any): Either[String, Any] =
    try Right(f) catch {
      case e: SparkThrowable => Left(s"${e.getClass.getName}:${e.getCondition}")
    }

  /** Doubles a money column meets, and the ones that break naive
    * rounding: ties in decimal that are not ties in binary, random bit
    * patterns, subnormals, signed zero, non-finite values and values at
    * each type's overflow edge. */
  private def fuzzValues(p: Int, s: Int, n: Int, seed: Long): Array[Double] = {
    val rng = new scala.util.Random(seed)
    val scale = math.pow(10, s)
    val edge = math.pow(10, p - s)
    val fixed = Seq(1.005, 2.675, -0.125, 0.125, 1.115, -2.5, 0.5, 1e16, -1e16,
      0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, 1e-310, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MaxValue,
      edge, -edge, edge - 0.5 / scale, -(edge - 0.5 / scale),
      edge - 1 / scale, math.nextDown(edge), (1L << 40) / scale,
      math.nextDown((1L << 40) / scale))
    fixed.toArray ++ Array.fill(n) {
      rng.nextInt(6) match {
        case 0 => java.lang.Double.longBitsToDouble(rng.nextLong())
        case 1 => (rng.nextLong() % 100000000000L) / 100.0
        case 2 => // a decimal tie at this scale, nudged by a few ulps
          val t = ((rng.nextLong() % 10000000000L) + 0.5) / scale
          var v = t
          (0 until rng.nextInt(5) - 2).foreach(_ => v = math.nextUp(v))
          v
        case 3 => (rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(24) - 6)
        case 4 => rng.nextInt(100000) / 1000.0
        case _ => (rng.nextDouble() - 0.5) * 2 * edge * 1.2
      }
    }
  }

  test("the cast kernel matches Spark's Cast in LEGACY and ANSI modes") {
    types.foreach { case (p, s) =>
      Seq(EvalMode.LEGACY, EvalMode.ANSI).foreach { mode =>
        val cast = castOf(p, s, mode)
        val counting = CountingCast(cast)
        val values = fuzzValues(p, s, 200000, seed = p * 100 + s)
        values.foreach { d =>
          val want = outcome(cast.eval(InternalRow(d)))
          val got = outcome(DecimalKernels.castDouble(d, p, s, counting))
          assert(got == want, s"decimal($p,$s) $mode of $d (${
            java.lang.Double.doubleToRawLongBits(d)})")
        }
        // money-shaped values (cents under 10^6) stay on the fast path;
        // only exact binary ties at scale 0 fall back
        val before = counting.calls
        val rng = new scala.util.Random(s)
        val money = Array.fill(20000)((rng.nextLong() % 100000000L) / 100.0)
        money.foreach(d => assert(outcome(DecimalKernels.castDouble(d, p, s,
          counting)) == outcome(cast.eval(InternalRow(d)))))
        assert(counting.calls - before <= money.length / 50,
          s"decimal($p,$s) $mode: ${counting.calls - before} of ${money.length} " +
            "money values fell back")
      }
    }
  }

  test("the cast kernel raises ANSI's error and returns LEGACY's NULL") {
    val (p, s) = (12, 2)
    val over = math.pow(10, p - s)
    Seq(over, -over, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity).foreach { d =>
      Seq(EvalMode.LEGACY, EvalMode.ANSI, EvalMode.TRY).foreach { mode =>
        val cast = castOf(p, s, mode)
        assert(outcome(DecimalKernels.castDouble(d, p, s, cast)) ==
          outcome(cast.eval(InternalRow(d))), s"$mode of $d")
      }
      assert(DecimalKernels.castDouble(d, p, s, castOf(p, s, EvalMode.LEGACY)) == null)
    }
    Seq(over, -over).foreach(d => assert(outcome(DecimalKernels.castDouble(d, p, s,
      castOf(p, s, EvalMode.ANSI))).left.exists(_.contains("NUMERIC_VALUE_OUT_OF_RANGE"))))
  }

  test("generated code of the cast kernel matches Spark's cast") {
    Seq(legacy -> EvalMode.LEGACY, ansi -> EvalMode.ANSI).foreach { case (s, mode) =>
      val finite = fuzzValues(18, 2, 20000, seed = 7)
        .filter(d => !d.isNaN && !d.isInfinite && math.abs(d) < 1e15)
      val df = s.createDataFrame(s.sparkContext.parallelize(
        finite.toSeq.map(Row(_)), 2), StructType(Seq(StructField("d", DoubleType))))
      val c = col("d").cast(DecimalType(18, 2))
      val k = GraftSqlBridge.column(DoubleToDecimal(
        GraftSqlBridge.expression(col("d")), castOf(18, 2, mode)))
      val mismatches = df.select(c.as("c"), k.as("k")).filter(
        not(col("c") <=> col("k"))).count()
      assert(mismatches == 0)
    }
  }

  // ------------------------------------------------------------------
  // Sum
  // ------------------------------------------------------------------

  /** `df` with its decimal sums swapped for the kernel, and the rows of
    * both plans. */
  private def both(s: SparkSession, df: DataFrame): (Seq[Row], Seq[Row]) = {
    val (plan, replaced) = DecimalKernels.rewrite(GraftSqlBridge.logicalPlan(df))
    assert(replaced.sums > 0, "no sum was replaced")
    val k = GraftSqlBridge.dataFrame(s, plan)
    (rowsOf(k), rowsOf(df))
  }

  private def rowsOf(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def decimals(s: SparkSession, values: Seq[(Int, Option[String])],
      p: Int = 18, sc: Int = 2, parts: Int = 3): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(values.map { case (g, v) =>
      Row(g, v.map(x => new java.math.BigDecimal(x)).orNull)
    }, parts), StructType(Seq(StructField("g", IntegerType),
      StructField("v", DecimalType(p, sc)))))

  test("the sum kernel matches Sum on NULLs, empty groups and negatives") {
    Seq(legacy, ansi).foreach { s =>
      val df = decimals(s, Seq(1 -> Some("1.25"), 1 -> None, 1 -> Some("-3.10"),
        2 -> None, 2 -> None, 3 -> Some("-0.01"), 3 -> Some("-99.99"),
        4 -> Some("9999999999999999.99"), 4 -> Some("-9999999999999999.99")))
      val (k, base) = both(s, df.groupBy("g").agg(sum("v").as("s")))
      assert(k == base)
      assert(k.find(_.getInt(0) == 2).get.isNullAt(1), "all-NULL group")
      // no input rows: one NULL row globally, no rows grouped
      val none = df.filter(col("g") > 9)
      val (kg, bg) = both(s, none.agg(sum("v")))
      assert(kg == bg && kg == Seq(Row(null)))
      val (kn, bn) = both(s, none.groupBy("g").agg(sum("v")))
      assert(kn == bn && kn.isEmpty)
    }
  }

  test("the sum kernel spills past 2^62 and merges across partitions") {
    // values near 10^17 unscaled: every partition's long passes 2^62
    // within ~46 rows, so updates and merges both spill
    val rng = new scala.util.Random(62)
    val rows = (0 until 6000).map { i =>
      val unscaled = BigInt(10).pow(17) * (1 + rng.nextInt(9)) +
        BigInt(rng.nextLong() % 1000000L)
      val signed = if (i % 5 == 4) -unscaled else unscaled
      (i % 3, Some(BigDecimal(signed, 2).toString))
    }
    // a read budget no input fits, as in OneTaskGateSpec
    val s = spark.newSession()
    s.conf.set("spark.graft.read.bytesPerTask", "0")
    Seq(2, 8).foreach { parts =>
      val df = decimals(s, rows, parts = parts)
      val (k, base) = both(s, df.groupBy("g").agg(sum("v")))
      assert(k == base)
      val (kt, bt) = both(s, df.agg(sum("v")))
      assert(kt == bt)
      assert(kt.head.getDecimal(0).abs.compareTo(
        new java.math.BigDecimal(BigInt(2).pow(62).bigInteger, 2)) > 0)
    }
    // the interpreted evaluators agree too
    val noCodegen = spark.newSession()
    noCodegen.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    noCodegen.conf.set("spark.sql.codegen.wholeStage", "false")
    val (k, base) = both(noCodegen,
      decimals(noCodegen, rows, parts = 4).groupBy("g").agg(sum("v")))
    assert(k == base)
  }

  /** Final value of a declarative aggregate over one buffer row. */
  private def evaluate(f: DeclarativeAggregate, buffer: Any*): Either[String, Any] =
    outcome(BindReferences.bindReference(f.evaluateExpression,
      f.aggBufferAttributes).eval(InternalRow(buffer: _*)))

  test("an overflowing sum raises Sum's ANSI error and returns LEGACY NULL") {
    // 10^10 rows of 18-digit inputs would overflow decimal(28, 2); the
    // buffers those rows leave are built directly
    val child = BoundReference(0, DecimalType(18, 2), nullable = true)
    val rt = DecimalType(28, 2)
    val over = Decimal(new java.math.BigDecimal(BigInt(10).pow(28).bigInteger, 2), 38, 2)
    val fits = Decimal(new java.math.BigDecimal(BigInt(10).pow(27).bigInteger, 2), 38, 2)
    Seq(EvalMode.ANSI, EvalMode.LEGACY).foreach { mode =>
      val kernel = CompactDecimalSum(child, rt, ansi = mode == EvalMode.ANSI)
      val spark = Sum(child, NumericEvalContext(mode))
      // Spark's buffer is NULL once its sum overflowed
      assert(evaluate(kernel, 5L, over, false) == evaluate(spark, null, false))
      assert(evaluate(kernel, -5L, over.unary_-, false) == evaluate(spark, null, false))
      assert(evaluate(kernel, 0L, fits, false) ==
        evaluate(spark, Decimal(fits.toJavaBigDecimal, 28, 2), false))
      assert(evaluate(kernel, 0L, null, true) == Right(null))
    }
    assert(evaluate(CompactDecimalSum(child, rt, ansi = true), 5L, over, false).isLeft)
    assert(evaluate(CompactDecimalSum(child, rt, ansi = false), 5L, over, false) ==
      Right(null))
  }

  // ------------------------------------------------------------------
  // Plan
  // ------------------------------------------------------------------

  private def replaced(df: DataFrame): DecimalKernels.Replaced =
    DecimalKernels.rewrite(GraftSqlBridge.logicalPlan(df))._2

  test("the rewrite leaves other sums, other casts and streams untouched") {
    val s = legacy
    val df = decimals(s, Seq(1 -> Some("1.00"), 2 -> Some("2.50")))
    assert(replaced(df.agg(sum("v"))) == DecimalKernels.Replaced(0, 1))
    assert(replaced(df.agg(sum_distinct(col("v")))).sums == 0)
    assert(replaced(df.agg(try_sum(col("v")))).sums == 0)
    assert(replaced(decimals(s, Seq(1 -> Some("1.00")), p = 8).agg(sum("v")))
      .sums == 0)
    assert(replaced(df.select(sum("v").over(Window.partitionBy("g"))))
      .sums == 0)
    val casts = df.select(col("g").cast("long").cast(DecimalType(18, 2)),
      col("g").cast("float").cast(DecimalType(18, 2)),
      col("g").cast("string").cast(DecimalType(18, 2)),
      col("g").cast("double").cast(DecimalType(20, 2)))
    assert(replaced(casts) == DecimalKernels.Replaced(0, 0))
    assert(replaced(df.select(col("g").cast("double").cast(DecimalType(18, 2))))
      == DecimalKernels.Replaced(1, 0))
    val stream = s.readStream.format("rate").load()
      .groupBy(col("value") % 2)
      .agg(sum(col("value").cast("double").cast(DecimalType(18, 2))))
    val plan = GraftSqlBridge.logicalPlan(stream)
    val (out, none) = DecimalKernels.rewrite(plan)
    assert((out eq plan) && none == DecimalKernels.Replaced(0, 0))
  }

  /** `df` with every kernel put back to the Spark operator it replaced. */
  private def withoutKernels(s: SparkSession, df: DataFrame): DataFrame = {
    val plan = GraftSqlBridge.logicalPlan(df)
    val back = plan.transformUpWithSubqueries { case p: LogicalPlan =>
      p.transformExpressionsUp {
        case DoubleToDecimal(child, cast) => cast.withNewChildren(Seq(child))
        case ae @ AggregateExpression(k: CompactDecimalSum, _, _, _, _) =>
          ae.copy(aggregateFunction = Sum(k.child, NumericEvalContext(
            if (k.ansi) EvalMode.ANSI else EvalMode.LEGACY)))
      }
    }
    GraftSqlBridge.dataFrame(s, GraftSqlBridge.keepAnalyzed(plan, back))
  }

  private def physical(df: DataFrame): SparkPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan

  /** The operators compiled into one whole-stage method. */
  private def stage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case _: InputAdapter => Nil
    case _ => p.children.flatMap(stage)
  })

  private val shapes = Seq("q_simple_agg", "q_multi_hop", "q_cumulative",
    "q_funnel_steps", "q_tablecalc_rank", "q_sqlfront_having", "q_multifact",
    "q_fanout_symmetric")

  test("battery shapes: kernels give Spark's rows with the gate open and " +
      "shut, and sum inside generated code") {
    val shut = spark.newSession()
    shut.conf.set("spark.graft.read.bytesPerTask", "0")
    val withKernels = Seq(spark, shut).flatMap { s =>
      shapes.flatMap { name =>
        val df = SparkEntry.queries(name)(s, dir)
        val rows = rowsOf(df)
        assert(rows.nonEmpty, s"$name returned no rows")
        assert(rows == rowsOf(withoutKernels(s, df)), s"$name: kernels changed rows")
        val aggs = collect(physical(df)) {
          case h: HashAggregateExec if h.aggregateExpressions.exists(
            _.aggregateFunction.isInstanceOf[CompactDecimalSum]) => h
        }
        val codegen = collect(physical(df)) { case w: WholeStageCodegenExec => w }
        val inStage = codegen.flatMap(w => stage(w.child)).toSet
        aggs.foreach(h => assert(inStage(h),
          s"$name: kernel aggregate outside generated code:\n${physical(df)}"))
        // generated code compiles: no silent interpreted fallback
        codegen.filter(w => stage(w.child).exists(aggs.contains)).foreach { w =>
          CodeGenerator.compile(w.doCodeGen()._2)
        }
        if (aggs.nonEmpty) Some(name) else None
      }
    }.toSet
    assert(Set("q_simple_agg", "q_multi_hop", "q_cumulative", "q_tablecalc_rank",
      "q_sqlfront_having").subsetOf(withKernels), withKernels)
  }

  test("explain counts the replaced operators") {
    val q = SemanticQuery(metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderpriority"))
    val ex = new Generator(spark, TpchCatalog.build(dir)).explain(q)
    assert(ex.linesIterator.contains("kernels: 1 casts, 1 sums"), ex)
    val none = SemanticQuery(metrics = Seq("orders.order_count"),
      dimensions = Seq("orders.orderpriority"))
    assert(new Generator(spark, TpchCatalog.build(dir)).explain(none)
      .linesIterator.contains("kernels: 0 casts, 0 sums"))
  }
}
