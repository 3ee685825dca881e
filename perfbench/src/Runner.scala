package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, TpchCatalog}
import graft.gen.Generator
import graft.model.Catalog
import graft.plan.SemanticQuery
import graft.preagg.PreAggStore
import graft.sqlfront.SqlFront
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DecimalType

/** The JVM half of the benchmark: one closed-loop client serving a
  * request list it is handed, in one process.
  *
  * It sets the engine up several times, each time in a fresh session, and
  * on the first set-up keeps every request name's first result (rows for
  * the oracle, plus its digest). It serves the first `--settle` passes of
  * the request list untimed, then the rest pass by pass until the window
  * has run `--seconds` and holds `--min-samples` requests, and writes what
  * it measured as TSV files under `--out`.
  * Judging results (oracle, digests) and computing metrics is left to
  * `run.py`, so a crash here is recorded, never turned into a sample.
  *
  * Layers are timed from outside, at the calls into their public
  * functions. In a traced run every odd pass sets a job group per request
  * and layer, keeps spans in memory, and drains the listener bus after
  * each request (outside its timing); even passes stay untraced so the
  * tracing overhead can be measured in the same run.
  */
object Runner {

  final case class Opts(workload: String, data: String, requests: String,
      out: String, seconds: Double, trace: Boolean, setups: Int,
      settle: Int, minSamples: Int, cores: Int)

  /** Epoch milliseconds with nanoTime resolution, comparable with the
    * epoch timestamps Spark puts on listener events. */
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  def qe(df: DataFrame): QueryExecution =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution

  /** Order-free digest of a result: SHA-256 over its sorted row strings. */
  def rowDigest(rows: Array[Row]): String =
    sha(rows.iterator.map(_.toString).toSeq.sorted.mkString("\n"))

  /** Digest of what a compile request produces: its canonicalized
    * optimized plan, which fixes the rows it would return. */
  def planDigest(df: DataFrame): String =
    sha(qe(df).optimizedPlan.canonicalized.toString)

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(16).map("%02x".format(_)).mkString

  def clean(s: String): String =
    String.valueOf(s).replaceAll("[\t\r\n]+", " ").take(300)

  /** One served request: the DataFrame, its digest (computed after the
    * clock stops) and, for a workload that executes, its rows. */
  final case class Served(df: DataFrame, digest: () => String,
      rows: Option[Array[Row]])

  // ------------------------------------------------------------------
  // Spans and the listener
  // ------------------------------------------------------------------

  final case class Span(req: Int, layer: String, start: Double, end: Double)

  final class Tracer(spark: () => SparkSession) {
    @volatile var on = false
    val spans = ArrayBuffer[Span]()

    /** Time one call into a layer; when tracing, tag its jobs first. */
    def layer[T](req: Int, name: String)(body: => T): T = {
      if (on) spark().sparkContext.setJobGroup(s"r$req/$name", name)
      val t0 = nowMs
      try body finally if (on) spans += Span(req, name, t0, nowMs)
    }
  }

  /** Records every job with its group, window and task totals. Events
    * arrive on Spark's listener-bus thread; readers drain the bus first. */
  final class JobLog extends SparkListener {
    final class Job(val id: Int, val group: String, val start: Long) {
      @volatile var end = -1L
      var stagesRun, tasks = 0
      var taskMs, shuffleWrite, spill, input, output = 0L
    }
    val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageJob = new ConcurrentHashMap[Int, Job]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val j = new Job(e.jobId, g, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.putIfAbsent(_, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j =>
        j.synchronized(j.stagesRun += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j => j.synchronized {
        j.tasks += 1
        if (e.taskInfo != null) j.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
        }
      }}
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime max 0L).sum

  // ------------------------------------------------------------------
  // Workloads
  // ------------------------------------------------------------------

  trait Workload {
    /** Request names whose first result is oracle-checked. */
    def names: Seq[String]
    /** Orders pre-aggregations the requests are served from, materialized
      * at set-up into a store of the benchmark's own. */
    def rollups: Seq[String]
    /** Bind a fresh session, catalog and pre-aggregation store. */
    def bind(spark: SparkSession, cat: Catalog, store: PreAggStore): Unit
    /** Serve one request, timing each layer call through `tr`. */
    def serve(req: Int, name: String, mode: String, tr: Tracer): Served
    /** The rows the oracle checks for `name`, with the matching digest. */
    def checked(name: String, tr: Tracer): (Array[Row], DataFrame, String)
  }

  /** Semantic-layer tiles: the battery's own query functions, served on a
    * long-lived session whose plan cache is warm. */
  final class Dashboard(data: String, val names: Seq[String]) extends Workload {
    private var spark: SparkSession = _
    // the battery functions build and keep their own stores
    val rollups = Nil
    // `SparkEntry.queries` builds its map on every call; look up once
    private val fns = SparkEntry.queries
    def bind(s: SparkSession, cat: Catalog, store: PreAggStore): Unit = spark = s
    def serve(req: Int, name: String, mode: String, tr: Tracer): Served = {
      val fn = fns(name)
      val df = tr.layer(req, "fn")(fn(spark, data))
      tr.layer(req, "catalyst")(qe(df).executedPlan)
      val rows = tr.layer(req, "exec")(df.collect())
      Served(df, () => rowDigest(rows), Some(rows))
    }
    def checked(name: String, tr: Tracer): (Array[Row], DataFrame, String) = {
      val s = serve(-1, name, "run", tr)
      (s.rows.get, s.df, s.digest())
    }
  }

  /** A compile request shape restated from the battery query it is named
    * after; `make` builds a fresh Generator (or SqlFront) over the shared
    * catalog and returns the call that plans on it. */
  final case class Shape(layer: String,
      make: (SparkSession, Catalog, PreAggStore) => () => DataFrame)

  private def structured(q: SemanticQuery) =
    Shape("gen", (s, c, _) => { val g = new Generator(s, c); () => g.plan(q) })

  private def semanticSql(text: String) =
    Shape("sqlfront", (s, c, _) => {
      val f = new SqlFront(s, c, new Generator(s, c)); () => f.sql(text)
    })

  val shapes: Map[String, Shape] = Map(
    "q_simple_agg" -> structured(SemanticQuery(
      metrics = Seq("lineitem.quantity", "lineitem.net_revenue", "lineitem.item_count"),
      dimensions = Seq("lineitem.returnflag", "lineitem.linestatus"),
      orderBy = Seq("returnflag", "linestatus"))),
    "q_multi_hop" -> structured(SemanticQuery(
      metrics = Seq("orders.revenue", "orders.order_count"),
      dimensions = Seq("region.name"),
      orderBy = Seq("name"))),
    "q_multifact" -> structured(SemanticQuery(
      metrics = Seq("orders.revenue", "lineitem.quantity"),
      dimensions = Seq("customer.mktsegment"),
      orderBy = Seq("mktsegment"))),
    "q_many_to_many" -> structured(SemanticQuery(
      metrics = Seq("supplier.supplier_count"),
      dimensions = Seq("part.brand"),
      orderBy = Seq("brand"))),
    "q_ratio" -> structured(SemanticQuery(
      metrics = Seq("orders.aov", "orders.revenue_per_customer"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority"))),
    "q_derived" -> structured(SemanticQuery(
      metrics = Seq("orders.open_revenue_share"),
      dimensions = Seq("orders.orderpriority"),
      orderBy = Seq("orderpriority"))),
    "q_cumulative" -> structured(SemanticQuery(
      metrics = Seq("orders.cumulative_revenue", "orders.revenue"),
      dimensions = Seq("orders.order_date__month"),
      orderBy = Seq("order_date__month"))),
    "q_preagg_join" -> Shape("gen", (s, c, store) => {
      val g = new Generator(s, c, Some(store))
      () => g.plan(SemanticQuery(
        metrics = Seq("orders.revenue", "orders.order_count"),
        dimensions = Seq("nation.name"),
        orderBy = Seq("name")))
    }),
    "q_sqlfront" -> semanticSql(
      """SELECT customer.mktsegment, orders.revenue, orders.order_count
        |FROM orders
        |WHERE orders.orderstatus = 'F'
        |ORDER BY mktsegment""".stripMargin),
    "q_sqlfront_cte" -> semanticSql(
      """WITH seg AS (
        |  SELECT orders.orderpriority, orders.revenue FROM orders
        |)
        |SELECT orderpriority, revenue FROM seg
        |WHERE revenue > 70000000
        |ORDER BY orderpriority""".stripMargin))

  /** Compile-only requests: most on a fresh Generator (cold plan cache),
    * a repeat on the previous request's Generator (warm path). Each stops
    * at the physical plan and runs no job. */
  final class Compile(val names: Seq[String]) extends Workload {
    val rollups = Seq("daily_by_customer")
    private var spark: SparkSession = _
    private var cat: Catalog = _
    private var store: PreAggStore = _
    private var last: (String, () => DataFrame) = ("", null)
    def bind(s: SparkSession, c: Catalog, st: PreAggStore): Unit = {
      spark = s; cat = c; store = st
    }
    def serve(req: Int, name: String, mode: String, tr: Tracer): Served = {
      val shape = shapes(name)
      val df = tr.layer(req, shape.layer) {
        if (mode == "warm") {
          require(last._1 == name, s"warm repeat of $name follows ${last._1}")
          last._2()
        } else {
          val p = shape.make(spark, cat, store)
          last = (name, p)
          p()
        }
      }
      tr.layer(req, "catalyst")(qe(df).executedPlan)
      Served(df, () => planDigest(df), None)
    }
    def checked(name: String, tr: Tracer): (Array[Row], DataFrame, String) = {
      val df = serve(-1, name, "cold", tr).df
      (df.collect(), df, planDigest(df))
    }
  }

  // ------------------------------------------------------------------
  // Run
  // ------------------------------------------------------------------

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("requests"), m("out"), m("seconds").toDouble,
      m("trace") == "1", m("setups").toInt, m("settle").toInt, m("min-samples").toInt,
      m("cores").toInt)
  }

  /** The session confs `graft.Bench` sets, plus scratch dirs kept in the
    * benchmark's own work dir. */
  def confs(o: Opts): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${o.cores}]",
    "spark.sql.shuffle.partitions" -> o.cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.codegen.aggregate.splitAggregateFunc.enabled" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "256",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"${o.out}/spark-local",
    "spark.sql.warehouse.dir" -> s"${o.out}/warehouse")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val out = Paths.get(o.out)
    Files.createDirectories(out)
    // lines of "<pass>\t<name>\t<mode>"
    val requests = Files.readAllLines(Paths.get(o.requests)).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('\t')).map(a => (a(0).toInt, a(1), a(2)))
    val vocabulary = requests.map(_._2).distinct.sorted
    val wl: Workload = o.workload match {
      case "dashboard" => new Dashboard(o.data, vocabulary)
      case "compile" => new Compile(vocabulary)
    }
    var spark: SparkSession = null
    val tr = new Tracer(() => spark)
    val log = new JobLog
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // ---- set-up, several times; the first also keeps oracle results ----
    val setupRows = ArrayBuffer[String]()
    val checkedRows = ArrayBuffer[String]()
    val oracleSql = ArrayBuffer[(String, String)]()
    for (rep <- 1 to o.setups) {
      val t0 = if (rep == 1) jvmStart else nowMs
      spark =
        if (rep == 1) {
          val b = SparkSession.builder()
          confs(o).foreach { case (k, v) => b.config(k, v) }
          val s = b.getOrCreate()
          s.sparkContext.setLogLevel("ERROR")
          s.sparkContext.addSparkListener(log)
          s
        } else spark.newSession()
      val tSession = nowMs
      val cat = TpchCatalog.build(o.data)
      val tCatalog = nowMs
      // one store per process, as a long-lived layer keeps it: the first
      // set-up materializes the rollups, later sessions find them
      val store = new PreAggStore(spark, cat, s"${o.out}/preagg")
      for (pa <- cat.model("orders").preAggregations if wl.rollups.contains(pa.name))
        store.materializeIfAbsent("orders", pa)
      val tPreagg = nowMs
      wl.bind(spark, cat, store)
      ListenerBridge.drain(spark.sparkContext)
      val jobsBefore = log.jobs.size
      var oracleMs = 0.0
      for (name <- wl.names) {
        if (rep == 1) {
          val r = try {
            val (rows, df, digest) = wl.checked(name, tr)
            val tw = nowMs
            // the oracle reads what Verify writes: decimals as doubles
            val local = spark.createDataFrame(rows.toSeq.asJava, df.schema)
            val canon = df.schema.fields.foldLeft(local) { (acc, f) =>
              f.dataType match {
                case _: DecimalType => acc.withColumn(f.name, col(f.name).cast("double"))
                case _ => acc
              }
            }
            canon.coalesce(1).write.mode("overwrite").parquet(s"${o.out}/checked/$name")
            oracleMs += nowMs - tw
            s"$name\tok\t$digest\t${rows.length}\t"
          } catch { case e: Throwable =>
            s"$name\terr\t\t0\t${clean(e.toString)}"
          }
          checkedRows += r
          SparkEntry.oracleSql.get(name).foreach(sql => oracleSql += name -> sql)
        } else {
          try wl.serve(-1, name, "run", tr) catch { case _: Throwable => () }
        }
      }
      val tEnd = nowMs
      ListenerBridge.drain(spark.sparkContext)
      val warmJobs = log.jobs.size - jobsBefore
      setupRows += Seq(rep, (tEnd - t0 - oracleMs) / 1e3, tSession - t0,
        tCatalog - tSession, tPreagg - tCatalog, (tEnd - tPreagg - oracleMs) / 1e3,
        warmJobs, oracleMs).mkString("\t")
    }

    // ---- settle: untimed passes, so the JIT has compiled the hot paths
    // before the window opens (latency keeps falling for ~10 passes) ----
    val passes = requests.groupBy(_._1).toSeq.sortBy(_._1).map(_._2)
    val tSettle = nowMs
    for (pass <- passes.take(o.settle); (_, name, mode) <- pass)
      try wl.serve(-1, name, mode, tr) catch { case _: Throwable => () }
    val settleS = (nowMs - tSettle) / 1e3

    // ---- timed window ----
    val heap = ManagementFactory.getMemoryMXBean
    var peakHeap = 0L
    var lastHeapSample = 0.0
    var heapSamples = 0
    def sampleHeap(): Unit = {
      System.gc()
      heapSamples += 1
      peakHeap = peakHeap max heap.getHeapMemoryUsage.getUsed
      lastHeapSample = nowMs
    }
    sampleHeap()
    val reqRows = ArrayBuffer[String]()
    val passWall = Array(0.0, 0.0)
    val passCount = Array(0, 0)
    val windowStart = nowMs
    var served = 0
    var idx = 0
    val it = passes.drop(o.settle).iterator
    while (it.hasNext &&
        (nowMs - windowStart < o.seconds * 1e3 || served < o.minSamples)) {
      val pass = it.next()
      val traced = if (o.trace && pass.head._1 % 2 == 1) 1 else 0
      tr.on = traced == 1
      for ((p, name, mode) <- pass) {
        val g0 = gcMs
        val t0 = nowMs
        val res = try Right(wl.serve(idx, name, mode, tr))
          catch { case e: Throwable => Left(e) }
        val wall = nowMs - t0
        val g1 = gcMs
        if (tr.on) spark.sparkContext.clearJobGroup()
        passWall(traced) += wall
        passCount(traced) += 1
        val (status, detail, phases) = res match {
          case Right(s) =>
            val ph = qe(s.df).tracker.phases
            def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
            served += 1
            ("ok", s.digest(), Seq(ms("analysis"), ms("optimization"), ms("planning")))
          case Left(e) => ("err", clean(e.toString), Seq(0L, 0L, 0L))
        }
        if (tr.on) ListenerBridge.drain(spark.sparkContext)
        reqRows += (Seq(idx, p, name, mode, traced, status, wall, t0, t0 + wall,
          g1 - g0) ++ phases :+ detail).mkString("\t")
        idx += 1
      }
      if (nowMs - lastHeapSample > 1500) sampleHeap()
    }
    tr.on = false
    sampleHeap()
    ListenerBridge.drain(spark.sparkContext)

    // ---- write what was measured ----
    def write(file: String, lines: Iterable[String]): Unit = {
      val w = new PrintWriter(out.resolve(file).toFile, "UTF-8")
      try lines.foreach(w.println) finally w.close()
    }
    val sc = spark.sparkContext
    write("env.tsv", Seq(
      s"nproc\t${Runtime.getRuntime.availableProcessors}",
      s"cores\t${o.cores}",
      s"default_parallelism\t${sc.defaultParallelism}",
      s"spark_version\t${sc.version}",
      s"java_version\t${System.getProperty("java.version")}",
      s"max_heap_mb\t${Runtime.getRuntime.maxMemory / (1 << 20)}") ++
      confs(o).filterNot(_._1.endsWith(".dir")).map { case (k, v) => s"conf:$k\t$v" })
    write("setup.tsv", setupRows)
    write("checked.tsv", checkedRows)
    write("requests.tsv", reqRows)
    write("spans.tsv", tr.spans.map(s => s"${s.req}\t${s.layer}\t${s.start}\t${s.end}"))
    write("jobs.tsv", log.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
      Seq(j.id, if (j.group.isEmpty) "-" else j.group, j.start, j.end, j.stagesRun,
        j.tasks, j.taskMs, j.shuffleWrite, j.spill, j.input, j.output).mkString("\t")))
    write("window.tsv", Seq(
      s"settle_s\t$settleS",
      s"untraced_ms\t${passWall(0)}", s"untraced_n\t${passCount(0)}",
      s"traced_ms\t${passWall(1)}", s"traced_n\t${passCount(1)}",
      s"peak_heap_mb\t${peakHeap / 1048576.0}",
      s"heap_samples\t$heapSamples"))
    // the SQL goes through the same escaping rule Verify uses, one JSON map
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(out.resolve("oracle_sql.json"),
      oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
