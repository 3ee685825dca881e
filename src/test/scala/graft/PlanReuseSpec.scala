package graft

import graft.TestSpark.jobsOf
import graft.gen.{Generator, TableCalcs}
import graft.model._
import graft.plan.SemanticQuery
import graft.preagg.PreAggStore
import org.apache.spark.sql.functions.rand
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.lang.management.ManagementFactory
import java.lang.ref.WeakReference
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** A plan-cache hit on a one-task plan returns the Dataset its miss
  * built, so the physical plan and broadcast builds carry over while
  * every action still reads the files; plans that must be re-prepared
  * come back fresh, and invalidation and eviction release the entry.
  * A derived step over a reused plan lives in the same entry, and
  * `GraftSession.generator` hands out one generator per catalog value. */
class PlanReuseSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private val multiHop = SemanticQuery(
    metrics = Seq("orders.revenue", "orders.order_count"),
    dimensions = Seq("region.name"), orderBy = Seq("name"))
  private val cumulative = SemanticQuery(
    metrics = Seq("orders.cumulative_revenue", "orders.revenue"),
    dimensions = Seq("orders.order_date__month"),
    orderBy = Seq("order_date__month"))

  private def tpch(s: SparkSession = spark): Generator =
    new Generator(s, TpchCatalog.build(dir))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def oneTask(g: Generator, q: SemanticQuery): Boolean =
    g.explain(q).linesIterator.exists(_.startsWith("shape: one-task"))

  private val byPriority = SemanticQuery(metrics = Seq("orders.revenue"),
    dimensions = Seq("orders.orderpriority"))

  /** The battery's q_tablecalc_rank composition, a derived step. */
  private def ranked(df: DataFrame): DataFrame =
    TableCalcs.rankBy(df, "revenue", "revenue_rank").orderBy("orderpriority")

  test("a one-task hit returns the same Dataset") {
    val g = tpch()
    val df = g.plan(multiHop)
    assert(g.plan(multiHop) eq df)
  }

  test("the 3-hop join launches 1 job on a hit, against 4 cold") {
    val g = tpch()
    val (cold, coldJobs) = jobsOf(spark)(rows(g.plan(multiHop)))
    assert(coldJobs == 4, "cold: one job plus three broadcast builds")
    val (hit, hitJobs) = jobsOf(spark)(rows(g.plan(multiHop)))
    assert(hitJobs == 1, "hit: the broadcast builds carry over")
    assert(hit == cold)
  }

  test("a fresh Dataset comes back when the gate is shut") {
    val shut = spark.newSession()
    shut.conf.set("spark.graft.read.bytesPerTask", "0")
    val g = tpch(shut)
    assert(!oneTask(g, multiHop))
    assert(g.plan(multiHop) ne g.plan(multiHop))
  }

  test("a fresh Dataset comes back for the multi-fact stitch " +
      "(full outer join)") {
    val g = tpch()
    val q = SemanticQuery(metrics = Seq("orders.revenue", "lineitem.quantity"),
      dimensions = Seq("customer.mktsegment"), orderBy = Seq("mktsegment"))
    assert(oneTask(g, q))
    assert(g.plan(q) ne g.plan(q))
  }

  test("a fresh Dataset comes back for a current_date() filter") {
    val g = tpch()
    val q = multiHop.copy(filters = Seq("orders.order_date <= current_date()"))
    assert(oneTask(g, q))
    val df = g.plan(q)
    assert(g.plan(q) ne df)
    assert(rows(g.plan(q)) == rows(df))
  }

  test("8 threads x 40 collects of one shared hit match a serial run") {
    Seq(multiHop, cumulative).foreach { q =>
      val g = tpch()
      val df = g.plan(q)
      assert(g.plan(q) eq df, s"$q is not reused")
      val serial = rows(df)
      assert(serial.nonEmpty)
      val pool = Executors.newFixedThreadPool(8)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val runs = Await.result(Future.sequence((1 to 8).map(_ =>
          Future((1 to 40).map(_ => rows(g.plan(q)))))), Duration.Inf).flatten
        assert(runs.size == 320)
        val mismatches = runs.count(_ != serial)
        assert(mismatches == 0, s"$mismatches of 320 collects differ")
      } finally pool.shutdown()
    }
  }

  test("after invalidateScans, a hit sees a file rewritten in place") {
    val s = spark; import s.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_reuse_scan")
      .resolve("facts").toString
    val cat = Catalog().add(Model("facts", source = ModelSource.Parquet(path),
      primaryKey = Seq("id"),
      dimensions = Seq(Dimension("kind", sql = Some("kind"))),
      metrics = Seq(Metric("amount", agg = Some("sum"), sql = Some("amount")))))
    val q = SemanticQuery(metrics = Seq("facts.amount"),
      dimensions = Seq("facts.kind"), orderBy = Seq("kind"))
    def write(scale: Int): Unit =
      Seq((1, "a", 10), (2, "b", 20), (3, "a", 30)).map { case (i, k, a) =>
        (i, k, a * scale) }.toDF("id", "kind", "amount")
        .write.mode("overwrite").parquet(path)
    write(1)
    val g = new Generator(spark, cat)
    def doubled(df: DataFrame): DataFrame = df.selectExpr("kind", "amount * 2")
    val first = g.plan(q)
    val firstDerived = g.plan(q, Tuple1("doubled"))(doubled)
    assert(rows(first) == Seq("[a,40]", "[b,20]"))
    assert(g.plan(q) eq first)
    assert(g.plan(q, Tuple1("doubled"))(doubled) eq firstDerived)
    write(2)
    Catalog.invalidateScans(spark)
    val second = g.plan(q)
    assert(second ne first)
    assert(rows(second) == Seq("[a,80]", "[b,40]"))
    val secondDerived = g.plan(q, Tuple1("doubled"))(doubled)
    assert(secondDerived ne firstDerived)
    assert(rows(secondDerived) == Seq("[a,160]", "[b,80]"))
    write(3)
    Catalog.invalidateScans()
    assert(rows(g.plan(q)) == Seq("[a,120]", "[b,60]"))
  }

  test("a rollup write expires its own store's plans, not other stores'") {
    val s = spark.newSession()
    def ledger(amount: String): Catalog = {
      s.sql(s"""SELECT o_orderkey AS id, o_orderpriority AS kind,
               |  $amount AS amount
               |FROM parquet.`$dir/orders.parquet`""".stripMargin)
        .createOrReplaceTempView("reuse_ledger")
      Catalog().add(Model("ledger", source = ModelSource.Table("reuse_ledger"),
        primaryKey = Seq("id"),
        dimensions = Seq(Dimension("kind", sql = Some("kind"))),
        metrics = Seq(Metric("amount", agg = Some("sum"),
          sql = Some("amount"))),
        preAggregations = Seq(PreAggregation("by_kind",
          measures = Seq("amount"), dimensions = Seq("kind")))))
    }
    def base(): String =
      java.nio.file.Files.createTempDirectory("graft_reuse_preagg").toString
    val cat = ledger("o_orderkey % 7")
    val pa = cat.model("ledger").preAggregations.head
    val store = new PreAggStore(s, cat, base())
    val other = new PreAggStore(s, cat, base())
    val q = SemanticQuery(metrics = Seq("ledger.amount"),
      dimensions = Seq("ledger.kind"), orderBy = Seq("kind"))
    store.materialize("ledger", pa)
    val g = new Generator(s, cat, Some(store))
    def byKind(df: DataFrame): DataFrame =
      TableCalcs.rankBy(df, "amount", "amount_rank").orderBy("kind")
    val first = g.plan(q)
    val derived = g.plan(q, Tuple1("rank"))(byKind)
    assert(g.route(q) == "preagg")
    val before = rows(first)
    other.materialize("ledger", pa)
    assert(g.plan(q) eq first, "another store's write expired the plan")
    assert(g.plan(q, Tuple1("rank"))(byKind) eq derived)
    ledger("o_orderkey % 5")
    store.materialize("ledger", pa)
    assert(g.plan(q, Tuple1("rank"))(byKind) ne derived)
    val after = rows(g.plan(q))
    assert(after != before, "the rebuild is not visible")
    assert(after == rows(new Generator(s, cat).plan(q.copy(usePreAggs = false))))
  }

  test("LRU eviction releases the pinned Dataset") {
    val g = tpch()
    val q = SemanticQuery(metrics = Seq("orders.revenue"),
      dimensions = Seq("orders.orderstatus"), orderBy = Seq("orderstatus"))
    def rank(df: DataFrame) = TableCalcs.rankBy(df, "revenue", "revenue_rank")
    def pin(): Seq[WeakReference[DataFrame]] = {
      val df = g.plan(q)
      assert(g.plan(q) eq df)
      val derived = g.plan(q, Tuple1("rank"))(rank)
      assert(g.plan(q, Tuple1("rank"))(rank) eq derived)
      df.collect()
      derived.collect()
      Seq(new WeakReference(df), new WeakReference(derived))
    }
    val refs = pin()
    (1 to 256).foreach(i => g.plan(q.copy(limit = Some(i))))
    val released = (1 to 50).exists { _ =>
      System.gc(); Thread.sleep(100); refs.forall(_.get == null)
    }
    assert(released, "the evicted Dataset or its derived step is still " +
      "reachable")
  }

  test("a derived step returns the same Dataset on a hit, with 1 job") {
    val g = tpch()
    val df = g.plan(byPriority, Tuple1("rank"))(ranked)
    val cold = rows(df)
    assert(g.plan(byPriority, Tuple1("rank"))(ranked) eq df)
    val (hit, jobs) = jobsOf(spark)(rows(g.plan(byPriority, Tuple1("rank"))(ranked)))
    assert(jobs == 1)
    assert(hit == cold && cold == rows(ranked(tpch().plan(byPriority))))
    assert(g.explain(byPriority).linesIterator.contains(
      "reuse: executed Dataset, 1 derived steps"))
  }

  test("a different step key misses") {
    val g = tpch()
    val a = g.plan(byPriority, Tuple1("a"))(ranked)
    val b = g.plan(byPriority, Tuple1("b"))(ranked)
    assert(a ne b)
    assert(g.plan(byPriority, Tuple1("a"))(ranked) eq a)
    assert(g.plan(byPriority, Tuple1("b"))(ranked) eq b)
  }

  test("a derived plan that shuffles is never reused") {
    // the decomposed global window range-partitions: a shuffle
    val s = GraftSqlBridge.cloneSession(spark)
    s.conf.set("spark.graft.tablecalc.globalWindowMaxBytes", "0")
    val g = tpch(s)
    val df = g.plan(byPriority, Tuple1("rank"))(ranked)
    assert(g.plan(byPriority) eq g.plan(byPriority), "the base is not reused")
    assert(g.plan(byPriority, Tuple1("rank"))(ranked) ne df)
    assert(rows(df) == rows(ranked(tpch().plan(byPriority))))
    assert(g.explain(byPriority).linesIterator.contains(
      "reuse: executed Dataset, 0 derived steps"))
  }

  test("a rand() step is never reused") {
    val g = tpch()
    def noisy(df: DataFrame): DataFrame = df.withColumn("r", rand())
    assert(g.plan(byPriority, Tuple1("rand"))(noisy) ne
      g.plan(byPriority, Tuple1("rand"))(noisy))
  }

  test("two equal catalogs get one generator from the factory") {
    val g = GraftSession.generator(spark, TpchCatalog.build(dir))
    assert(GraftSession.generator(spark, TpchCatalog.build(dir)) eq g)
    assert(GraftSession.generator(spark.newSession(), TpchCatalog.build(dir)) ne g)
    val store = new PreAggStore(spark, TpchCatalog.build(dir),
      Files.createTempDirectory("graft_reuse_factory").toString)
    assert(GraftSession.generator(spark, TpchCatalog.build(dir), Some(store)) ne g)
    assert(GraftSession.generator(spark, TpchCatalog.build(dir + "/")) ne g)
  }

  test("a stopped session's generators are purged") {
    // stopping a session stops the JVM's one SparkContext, so this runs
    // in a JVM of its own
    val out = Files.createTempFile("graft_purge", ".log")
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      jvmArgs ++ Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        "graft.StoppedSessionMain", dir)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(out.toFile).start()
    val done = p.waitFor(300, TimeUnit.SECONDS)
    if (!done) p.destroyForcibly()
    val log = new String(Files.readAllBytes(out))
    Files.delete(out)
    assert(done && p.exitValue == 0, log.takeRight(4000))
    assert(log.linesIterator.contains("generator purged: true"),
      log.takeRight(4000))
  }
}

/** Asks the generator factory for a generator on a session, stops that
  * session, asks again on a new one, and prints whether the first
  * generator became unreachable. */
object StoppedSessionMain {
  def main(args: Array[String]): Unit = {
    val first = GraftSession.create(1)
    val ref = new WeakReference(
      GraftSession.generator(first, TpchCatalog.build(args(0))))
    first.stop()
    val second = GraftSession.create(1)
    GraftSession.generator(second, TpchCatalog.build(args(0)))
    val purged = (1 to 50).exists { _ =>
      System.gc(); Thread.sleep(100); ref.get == null
    }
    println(s"generator purged: $purged")
    second.stop()
  }
}
