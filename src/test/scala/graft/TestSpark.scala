package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Shared session for all suites (one JVM-wide session keeps test time
  * bounded; suites must not mutate session state). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // wide aggregates (LSH plane dots, simhash bit-sums) need per-
      // function codegen splitting or they overflow janino's 64 KB limit
      .config("spark.sql.codegen.aggregate.splitAggregateFunc.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Result and the number of Spark jobs `body` launched on this
    * thread. */
  def jobsOf[A](s: SparkSession)(body: => A): (A, Int) = {
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    val sc = s.sparkContext
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      val out = body
      org.apache.spark.graft.ListenerBridge.drain(sc)
      (out, n.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }
}
