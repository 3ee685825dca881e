package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to `<outDir>/<q>.txt`
  * — the committed plan evidence for optimization rounds (plans/rNN/).
  * `<outDir>/digests<suffix>.tsv` gets one `<q>\t<digest>` line per dumped
  * query: a digest of its canonicalized optimized plan, by the rule
  * perfbench's `planDigest` uses, so two builds' files diff to nothing
  * when they plan the same queries identically. Six pipeline queries can
  * differ between two dumps of one build: q_token_pack prints its
  * `Sampling.packGreedy` closure with an identity hash
  * (`Sampling$$$Lambda…@…`); q_ann_ivf_append, q_ann_ivfpq, q_dedup_index
  * and q_rrf_ivf order the conjuncts of a dynamic-pruning Filter
  * differently; q_corpus_report's distinct-aggregate rewrite numbers its
  * `FILTER (WHERE (n = gid))` groups differently.
  * Usage: runMain graft.PlanDump <outDir> <q1,q2,...> [suffix]
  * Exits 1 when a requested name is unknown or a dump fails.
  * The session is `GraftSession.create()`, as in Bench, so the captured
  * plan is the plan the bench actually times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSet
    val suffix = if (args.length > 2) args(2) else ""
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    val failed = try run(spark, sfDir, outDir, names, suffix)
                 finally spark.stop()
    if (failed > 0) {
      System.err.println(s"PlanDump: $failed of ${names.size} plans failed")
      sys.exit(1)
    }
  }

  /** Dump each named query's plan; returns how many failed. A requested
    * name that matches no query counts as a failure, as does a query
    * that throws: the committed plans must cover what was asked for. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      names: Set[String], suffix: String): Int = {
    Files.createDirectories(Paths.get(outDir))
    val matched = SparkEntry.queries.filter { case (k, _) => names(k) }
    val unknown = (names -- matched.keySet).toSeq.sorted
    unknown.foreach(n => println(s"PLAN $n UNKNOWN: no such query"))
    val digests = Seq.newBuilder[String]
    val failed = unknown.size + matched.toSeq.sortBy(_._1).count { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          // EXECUTE before dumping so the formatted plan is the AQE-final
          // runtime plan the bench times (isFinalPlan=true: coalesced
          // AQEShuffleReads, runtime join rewrites), not the initial
          // speculative one. This QueryExecution's own RDD runs, so the
          // dumped plan is the executed one (a noop write would spawn its
          // own QueryExecution), and no row reaches the driver.
          df.queryExecution.toRdd.foreach(_ => ())
          val txt = df.queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          Files.write(Paths.get(outDir, s"$name$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"PLAN $name -> $outDir/$name$suffix.txt")
          digests += s"$name\t" +
            digest(df.queryExecution.optimizedPlan.canonicalized.toString)
          false
        } catch { case e: Throwable =>
          println(s"PLAN $name FAILED: ${e.getMessage}")
          true
        }
      }
    Files.write(Paths.get(outDir, s"digests$suffix.tsv"),
      digests.result().mkString("", "\n", "\n").getBytes("UTF-8"))
    failed
  }

  /** The first 16 bytes of the SHA-256 of `s`, in hex. */
  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(16).map("%02x".format(_)).mkString
}
