package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Shared session for all suites (one JVM-wide session keeps test time
  * bounded; suites must not mutate session state). It is the mains'
  * `GraftSession` on `local[4]`, so specs check the plans the bench runs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.create(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
  /** The sf0.01 data beside [[sfDir]], ten times its scale: the corpus
    * specs read its 500 documents and embeddings. */
  val sf001Dir = s"${new java.io.File(sfDir).getParent}/sf0.01"

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
