package graft

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. One untimed warmup pass
  * absorbs JVM/codegen/file-listing warmup, then THREE timed passes per
  * query; the reported per-query number (and the total) is the MEDIAN —
  * at the 0.1–1.5 s magnitudes compared round-over-round a single sample
  * cannot distinguish regression from GC/scheduler noise. Per-query
  * spread (max − min) is reported under `spread` so noisy readings are
  * visible, and the warmup wall time under `warmup_sec`. A query whose
  * timed pass crashes is listed under `errors` (`n_errors` on the last
  * line), contributes no sample, and makes the run exit 1.
  */
object Bench {

  /** Deliberate O(queries × corpus) brute-force verify primitives.
    * Their production twins (q_hard_negatives_ivf, q_rrf_ivf) are
    * oracle-gated end-to-end, so the default battery times the
    * compositions a user would actually run — the baselines' fixed
    * ~35 s of exhaustive work at sf1 would otherwise dominate the
    * total and mask real movers in round-over-round diffs. `--exact`
    * (or naming them in the filter) restores them; the correctness
    * gate (Verify) always runs them regardless. */
  private val exactOnly = Set("q_hard_negatives", "q_rrf")

  /** One `--serve` protocol line → the response line. Factored out of
    * the stdin loop so the ERR-on-crash contract is unit-testable: a
    * crashed run must answer `ERR failed <q>` (which the anchor harness
    * drops), never a near-zero `TIME` line that would silently deflate
    * the committed anchor ratio. */
  private[graft] def serveOne(
      picked: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame],
      spark: SparkSession, sfDir: String, name: String): String =
    picked.get(name) match {
      case Some(fn) =>
        val t = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          f"TIME $name ${(System.nanoTime() - t) / 1e9}%.6f"
        } catch { case _: Throwable => s"ERR failed $name" }
      case None => s"ERR unknown $name"
    }

  def main(args: Array[String]): Unit = {
    // optional substring filter: `Bench q_cumulative` times only matching
    // queries (isolation runs while chasing a regression); `--exact`
    // adds the brute-force baselines back into the battery
    val exact = args.contains("--exact")
    val nameFilter = args.filterNot(_.startsWith("--")).headOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")

    val picked = SparkEntry.queries.filter { case (k, _) =>
      nameFilter.forall(_.split(',').exists(k.contains)) &&
        (exact || !exactOnly(k) ||
          nameFilter.exists(_.split(',').exists(k.contains))) }

    // one untimed pass over every picked query absorbs JVM, codegen and
    // file-listing warmup before anything is measured
    def warm(): Unit = picked.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }

    // `--profile`: per-query Spark-job accounting — where does a hot
    // anchor query's wall time go? For each matching query (warmed
    // once) it runs one measured pass under a listener and prints
    // jobs / stages / tasks / summed task time vs wall. A query whose
    // task time is a small fraction of wall is paying job-launch and
    // planning floors (fix: fewer actions/jobs); one whose task time
    // ~= wall is doing real work (fix: a better plan or kernel).
    if (args.contains("--profile")) {
      warm()
      val perStage = args.contains("--stages")
      val counts = new Counters(perStage)
      sc.addSparkListener(counts)
      // settle any still-queued warmup events before the first query
      ListenerBridge.drain(sc)
      picked.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        counts.reset()
        val t = System.nanoTime()
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
        val wall = (System.nanoTime() - t) / 1e9
        // WAIT for the async bus to deliver this query's final events —
        // a fixed sleep lets late task-ends bleed into the next query's
        // counters under load, which is exactly the attribution error
        // this flag exists to avoid
        ListenerBridge.drain(sc)
        println(f"PROFILE $name%-32s wall=$wall%7.3f jobs=${counts.jobs.get}%3d " +
          f"stages=${counts.stages.get}%3d tasks=${counts.tasks.get}%4d " +
          f"taskSec=${counts.taskNanos.get / 1e9}%7.3f")
        counts.stageRows.asScala.toSeq.sortBy(-_._2._3).take(15).foreach {
          case (sid, (sname, nt, ns)) =>
            println(f"  STAGE $sid%4d tasks=$nt%4d " +
              f"taskSec=${ns / 1e9}%7.3f  $sname")
        }
      }
      sc.removeSparkListener(counts)
      spark.stop()
      return
    }

    // `--serve`: stdin-driven single-query execution for the
    // interleaved DuckDB anchor (scripts/anchor_interleaved.py). The
    // harness alternates one Spark run and one DuckDB run of the SAME
    // query, so both engines ride the same host-noise window — the
    // committed anchor ratio stops depending on which afternoon the
    // battery ran in. Protocol: "READY" after warmup, then per input
    // line `<query>` → `TIME <query> <seconds>`; "EXIT" quits.
    if (args.contains("--serve")) {
      warm()
      println("READY"); Console.flush()
      scala.io.Source.stdin.getLines().takeWhile(_.trim != "EXIT")
        .foreach { line =>
          println(serveOne(picked, spark, sfDir, line.trim))
          Console.flush()
        }
      spark.stop()
      return
    }

    val t0 = System.nanoTime()
    warm()
    val warmup = (System.nanoTime() - t0) / 1e9

    val passes = 3
    // Per-query summed TASK time rides next to the wall medians: at
    // small SFs wall is dominated by scheduling floors and host-window
    // noise (two rounds of regressions-that-weren't), while task-seconds
    // is the window-invariant "did the distributed work shrink" signal.
    // The listener only OBSERVES — the timed region (fn + count) is
    // unchanged; the event-bus drain sits outside each measured window
    // so late task-ends attribute to the right pass.
    val counts = new Counters(perStage = false)
    sc.addSparkListener(counts)
    ListenerBridge.drain(sc)
    val timed = picked.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> timePasses(passes) { () =>
        counts.reset()
        val t = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          ((System.nanoTime() - t) / 1e9, counts.taskNanos.get / 1e9)
        } finally ListenerBridge.drain(sc)
      }
    }
    val errors = timed.collect { case (name, Left(err)) => name -> err }
    val results = timed.collect { case (name, Right(s0)) =>
      val samples = s0.sortBy(_._1)
      // task-seconds of the MEDIAN-wall pass — paired, not independently
      // sorted, so the two numbers describe the same execution
      (name, samples(passes / 2)._1,
        samples.last._1 - samples.head._1, samples(passes / 2)._2)
    }
    val qs = results.map { case (k, med, _, _) => "\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, _, sp, _) => "\"" + k + "\":" + sp }
      .mkString("{", ",", "}")
    val taskSecs = results.map { case (k, _, _, ts) => "\"" + k + "\":" + ts }
      .mkString("{", ",", "}")
    val errorsJson = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(errors.toMap.asJava)
    val taskTotal = results.map(_._4).sum
    val total = results.map(_._2).sum
    val battery = if (exact) "exact" else "default"
    // Stop the session BEFORE printing the contract lines: Spark's
    // shutdown logging (stderr normally, but harnesses capture 2>&1)
    // must never trail the JSON the driver parses off the tail.
    spark.stop()
    // The FULL per-query record — what the repo's own harness scripts
    // capture (grep '"metric":"total_full"'). At 220 queries this line
    // runs ~10 KB, far beyond the driver's 2000-char stdout tail, so it
    // must NOT be the last line printed.
    println(s"""{"metric":"total_full","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"task_sec":$taskSecs,"errors":$errorsJson,"passes":$passes,"warmup_sec":$warmup,"battery":"$battery","sf":"$sfDir"}""")
    // The LAST line is the driver's contract shape — {"metric":"total",
    // value, unit, queries, sf} — kept self-contained and small (the
    // queries map holds the top-12 slowest only) so the 2000-char tail
    // capture always contains the whole line and it parses as JSON.
    // build.sbt routes forked output straight to stdout (StdoutOutput)
    // and suppresses sbt's "[success] Total time" trailer (showSuccess
    // := false) so this line IS the sbt process's last stdout line.
    val top = results.sortBy(-_._2).take(12)
      .map { case (k, med, _, _) => "\"" + k + f"\":$med%.3f" }
      .mkString("{", ",", "}")
    // Cite the newest committed frozen-battery capture alongside the
    // live number: the frozen corpus (checksummed, one-session
    // discipline) is the round-over-round comparability standard, and
    // a headline captured in a noisy window must not be readable
    // WITHOUT that context. Omitted when no artifact is present.
    val frozenRef = {
      val re = raw"BENCH_frozen_r(\d+)\.json".r
      val files = Option(new java.io.File(".").listFiles()).getOrElse(Array())
        .flatMap(f => f.getName match {
          case re(n) => Some((n.toInt, f)); case _ => None
        })
      files.sortBy(-_._1).headOption.flatMap { case (rnd, f) =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath))
        raw""""value"\s*:\s*([0-9.]+)""".r.findFirstMatchIn(text)
          .map(m => s""","frozen_ref":{"file":"${f.getName}","round":$rnd,"value":${m.group(1)}}""")
      }.getOrElse("")
    }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$top,"n_queries":${results.size},"n_errors":${errors.size},"passes":$passes,"warmup_sec":$warmup%.1f,"task_sec_total":$taskTotal%.3f,"battery":"$battery","sf":"$sfDir"$frozenRef}""")
    Console.flush()
    // a crashed query is reported, never timed — and never a green run
    if (errors.nonEmpty) sys.exit(1)
  }

  /** The one listener behind `--profile` and the timed passes: jobs,
    * stages, tasks and summed task time since the last `reset`. With
    * `perStage` it also keeps one row per stage (stage id → (what the
    * stage is, tasks, task-nanos)) — the query totals say WHETHER time
    * is distributed work; the stage rows say WHERE (which exchange/scan/
    * agg), which is what chasing a routed-vs-twin gap actually needs.
    * It only observes. */
  private final class Counters(perStage: Boolean) extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskNanos = new AtomicLong
    val stageRows = new ConcurrentHashMap[Int, (String, Int, Long)]()

    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskNanos.set(0)
      stageRows.clear()
    }

    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()

    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      if (perStage) {
        // the callsite name is opaque for SQL stages; the RDD scope
        // chain (Scan > Exchange > WholeStageCodegen…) says what the
        // stage IS
        val scopes = s.stageInfo.rddInfos.sortBy(_.id)
          .map(r => r.scope.map(_.name).getOrElse(r.name))
          .distinct.take(6).mkString(" > ")
        stageRows.putIfAbsent(s.stageInfo.stageId, (scopes.take(96), 0, 0L))
      }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      // append row volumes at completion — WHICH stage carries the
      // records is the routed-vs-twin question
      val m = s.stageInfo.taskMetrics
      if (perStage && m != null) {
        val vol = s"  [in=${m.inputMetrics.recordsRead} " +
          s"sRead=${m.shuffleReadMetrics.recordsRead} " +
          s"sWrite=${m.shuffleWriteMetrics.recordsWritten} " +
          s"run=${m.executorRunTime} cpu=${m.executorCpuTime / 1000000} " +
          s"deser=${m.executorDeserializeTime} gc=${m.jvmGCTime} " +
          s"fetchWait=${m.shuffleReadMetrics.fetchWaitTime}]"
        stageRows.computeIfPresent(s.stageInfo.stageId,
          (_, v) => (v._1 + vol, v._2, v._3))
      }
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) {
        val ns = t.taskInfo.duration * 1000000L
        taskNanos.addAndGet(ns)
        if (perStage)
          stageRows.merge(t.stageId, ("?", 1, ns),
            (a, b) => (a._1, a._2 + b._2, a._3 + b._3))
      }
    }
  }

  /** Time `passes` runs of one query. Each pass returns its (wall,
    * task-seconds); a pass that throws makes the whole query an error
    * (its message) instead of a timing sample — a fast crash must never
    * read as a speedup. */
  private[graft] def timePasses(passes: Int)(
      pass: () => (Double, Double)): Either[String, Seq[(Double, Double)]] =
    scala.util.Try(Seq.fill(passes)(pass())).toEither.left.map(e =>
      s"${e.getClass.getName}: ${e.getMessage}".take(300))
}
