package graft

import graft.gen.Generator
import graft.model.Catalog
import graft.preagg.PreAggStore
import org.apache.spark.sql.SparkSession

/** The driver session every graft main (Bench, Verify, PlanDump) and the
  * test suites plan under, so the correctness gate, the plan dumps and the
  * bench all see the same physical plans. The conf list is the one
  * `perfbench/src/Runner.scala` sets, minus its per-run scratch dirs.
  * Next to it, the one shared [[Generator]] per session and catalog.
  */
object GraftSession {

  /** Cores for the driver mains: `SPARK_GRAFT_CPUS`, default 4. */
  private lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A `local[cores]` session with one shuffle partition per core. */
  def create(cores: Int = cpus): SparkSession = builder(cores).getOrCreate()

  /** The builder [[create]] completes: every conf of the driver session. */
  def builder(cores: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // wide aggregates (LSH plane dots, simhash bit-sums) need per-
      // function codegen splitting or they overflow janino's 64 KB limit
      .config("spark.sql.codegen.aggregate.splitAggregateFunc.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // coalesce post-shuffle partitions to the advisory target size
      // instead of preserving parallelism: Spark's own docs recommend
      // false; at small-SF it stops paying 32-task stage launches for
      // kilobyte shuffles, at cluster scale partitions hit the target
      // size anyway
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      // a partitioned rollup store holds ~80 month dirs; above this
      // threshold Spark launches a DISTRIBUTED listing job (one task
      // per dir) whose launch cost dwarfs a driver-side listing until
      // the dir count is in the hundreds — every preagg-routed query
      // was paying an 80-task job just to plan
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        "256")
      // janino's generated-class cache holds 100 entries by default; a
      // battery that interleaves 200+ distinct queries (the serve-mode
      // anchor, every round-robin pass) evicts everything between two
      // runs of the same query and re-COMPILES every stage each time —
      // measured 2x on a 46-query round-robin. Static conf, so it must
      // be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")

  /** Generators the factory keeps; the least recently used goes first. */
  private val MaxGenerators = 16

  private val generators =
    new java.util.LinkedHashMap[(SparkSession, Catalog, Option[PreAggStore]),
        Generator](32, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          (SparkSession, Catalog, Option[PreAggStore]), Generator]): Boolean =
        size > MaxGenerators
    }

  /** The long-lived generator, and so the warm plan cache, for `cat` on
    * `spark` (reference: the live semantic layer one connection keeps).
    * Keyed by the catalog's VALUE — `Catalog` is an immutable case class,
    * so a caller that rebuilds an equal catalog per request still gets
    * the same generator — and by the rollup store's identity. A stopped
    * session's generators are dropped on every call, and the rest are
    * LRU-bounded. `new Generator` keeps a private, cold cache of its
    * own. */
  def generator(spark: SparkSession, cat: Catalog,
      preagg: Option[PreAggStore] = None): Generator =
    generators.synchronized {
      val it = generators.keySet.iterator
      while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
      generators.computeIfAbsent((spark, cat, preagg),
        _ => new Generator(spark, cat, preagg))
    }
}
