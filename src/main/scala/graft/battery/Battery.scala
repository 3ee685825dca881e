package graft
package battery

import graft.gen.{Generator, TableCalcs}
import graft.plan.SemanticQuery
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One battery query: an implemented operator run over the data dir it
  * is given, declared beside the DuckDB SQL that must return the same
  * rows (or the weaker rows-only check for hash-based ops, where the
  * gate says so). */
final case class BatteryQuery(name: String, oracle: String)(
    val run: (SparkSession, String) => DataFrame)

/** The query battery: one `BatteryQuery` per implemented operator from
  * SURVEY.md §2 (+ the training-data pipeline operators), declared by
  * family, plus the helpers the families share.
  *
  * Cross-engine determinism rules used throughout:
  *   - money sums are DECIMAL(18,x) casts (exact, order-independent);
  *   - ratios/averages divide in double with identical expression shape;
  *   - avg/stddev/median outputs round(…, 4) on both sides (double
  *     summation order differs between engines);
  *   - integer outputs are BIGINT on both sides.
  */
object Battery {

  /** Every family's declarations, in family order. */
  lazy val all: Seq[BatteryQuery] = registry(
    SemanticQueries.all, AdapterQueries.all, ModelQueries.all,
    DedupQueries.all, CorpusQueries.all, SimilarityQueries.all,
    TextQueries.all)

  /** The families concatenated; a name declared twice is an error here,
    * where a map literal would silently keep the last entry. */
  def registry(families: Seq[BatteryQuery]*): Seq[BatteryQuery] = {
    val queries = families.flatten
    val dups = queries.groupBy(_.name).collect {
      case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"battery query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    queries
  }

  /** The session's shared generator over the TPC-H catalog at `dir`:
    * a long-lived semantic layer whose plan cache stays warm across
    * requests ([[GraftSession.generator]]). */
  private[battery] def tpch(s: SparkSession, dir: String): Generator =
    GraftSession.generator(s, TpchCatalog.build(dir))

  private[battery] def q(s: SparkSession, dir: String)(query: SemanticQuery): DataFrame =
    tpch(s, dir).plan(query)

  /** A table calc over a TPC-H semantic query, kept as a derived step of
    * the query's plan-cache entry. `calc` names the TableCalcs function
    * with its arguments, the result ordering and the output cast; with
    * the calc's window size gate
    * ([[TableCalcs.globalWindowMaxBytes]]) it keys the step, since
    * together they determine `f`. */
  private[battery] def tableCalc(s: SparkSession, dir: String, query: SemanticQuery,
      calc: Product)(f: DataFrame => DataFrame): DataFrame =
    tpch(s, dir).plan(query, (calc, TableCalcs.globalWindowMaxBytes(s)))(f)

  private[battery] def round4(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, round(col(c).cast("double"), 4)))

  private[battery] def asLong(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("long")))

  private[battery] def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Where the battery keeps the on-disk store of `kind` (an index, a
    * pre-agg store, a fixture) built from data dir `d`: one directory
    * per (kind, data dir) under `java.io.tmpdir`. Queries naming the
    * same kind share the store. */
  private[battery] def store(d: String, kind: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_${d.replaceAll("[^a-zA-Z0-9]", "_")}"

  /** Fragmented Hive-bucketed corpus fixture shared by the three
    * corpus-maintenance queries: buckets doc_id%4, then buckets 0/1
    * each get three extra one-residue files (doc_id%100 = b+4k,
    * congruent with the bucket since 4 | 100). The fragment append is
    * ONE job — a single task whose output splits into exactly
    * per-residue-sized files via maxRecordsPerFile — instead of six
    * filter+write jobs; the resulting layout (4 files in buckets 0/1,
    * 1 elsewhere) is identical and the compaction receipts pin it. */
  private def fragmentedCorpusFixture(s: SparkSession, d: String,
      dir: String): Unit = {
    val base = docs(s, d).withColumn("bucket", pmod(col("doc_id"), lit(4)))
    base.repartition(col("bucket")).write.mode("overwrite")
      .partitionBy("bucket").parquet(dir)
    val perResidue = math.ceil(docs(s, d).count() / 100.0).toLong
    base.filter(pmod(col("doc_id"), lit(100)).isin(0, 1, 4, 5, 8, 9))
      .repartition(1)
      .write.mode("append").option("maxRecordsPerFile", perResidue)
      .partitionBy("bucket").parquet(dir)
  }

  /** Memoized pristine fragmented-corpus fixture (hive-bucketed form)
    * for the corpus-maintenance queries: built once per JVM, cloned per
    * pass by the mutating queries ([[workingCopy]]), read in place by
    * the listing-only profile. */
  private[battery] def fragmentedCorpusFixtureOnce(s: SparkSession, d: String): String = {
    val base = store(d, "cfixparts")
    buildOnce(base) {
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      fragmentedCorpusFixture(s, d, base)
    }
    base
  }

  /** Memoized pristine drip-ingested flat layout (12-file base + six
    * one-file appends in one maxRecordsPerFile-split job) for
    * q_corpus_compact. */
  private[battery] def flatCorpusFixtureOnce(s: SparkSession, d: String): String = {
    val base = store(d, "cfixflat")
    buildOnce(base) {
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      docs(s, d).repartition(12).write.mode("overwrite").parquet(base)
      docs(s, d).filter(col("doc_id") % 100 < 6).repartition(1)
        .write.mode("append")
        .option("maxRecordsPerFile",
          math.ceil(docs(s, d).count() / 100.0).toLong)
        .parquet(base)
    }
    base
  }

  /** Once-per-JVM index-build fixture: battery queries that PROBE a
    * persisted index (bm25/IVF/LSH) build it on first touch and reuse
    * it afterwards, so Bench's timed passes measure the probe/ingest
    * side — the build cost lands in the warmup pass, mirroring the
    * production split (indexes are maintained, queries are served).
    * Queries whose MEASURED operator is the build itself
    * (q_dedup_index) stay unmemoized, and queries that MUTATE the
    * index (q_dedup_ingest, q_ann_ivf_append) memoize a pristine base
    * and run against a [[workingCopy]] so repeated passes never see
    * their own prior appends. Correctness is unaffected: Verify runs
    * each query once per JVM, and a fresh JVM always rebuilds
    * (overwrite mode), so a store left by an earlier run never leaks
    * in. Only a SUCCESSFUL build marks the path built. */
  private val builtIndexes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[battery] def buildOnce(path: String)(build: => Unit): Unit =
    if (!builtIndexes.contains(path)) { build; builtIndexes.add(path) }

  /** Per-invocation working copy of a memoized base index: queries
    * that MUTATE an index (append / ingest) clone the pristine
    * memoized build to a working path first, so Bench's repeated
    * passes each see identical pre-mutation state — without the copy,
    * pass N would probe an index carrying N−1 prior appends, drifting
    * both the result set and the timed workload. The clone is a
    * local-FS directory copy, cheap next to the build it avoids
    * re-running; the refresh drops any plan cached against the
    * previous copy's files. */
  private[battery] def workingCopy(s: SparkSession, base: String, work: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(base)
    val fs = sp.getFileSystem(conf)
    val dp = new org.apache.hadoop.fs.Path(work)
    if (fs.exists(dp)) fs.delete(dp, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, sp, fs, dp, false, conf)
    s.catalog.refreshByPath(work)
  }

  /** events with `ts` surfaced as a session-zoned TimestampType column
    * `ts_t`. The file stores TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ);
    * older generations stored TIMESTAMP(NANOS), which Spark's reader
    * only admits as a nanos long via `nanosAsLong` — adapt to either so
    * a testdata regeneration can't silently break every events query. */
  private[battery] def eventsTs(s: SparkSession, dir: String): DataFrame = {
    val df = s.read.parquet(s"$dir/events.parquet")
    val t = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
      case _ => col("ts").cast("timestamp")
    }
    df.withColumn("ts_t", t)
  }
}
