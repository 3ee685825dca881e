package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Shared file-layout maintenance for the three persisted indexes
  * ([[DedupIndex]] `keys/`, [[IvfIndex]] `cells/`, [[TextIndex]]
  * `postings/`). Compaction rewrites a partitioned directory so each
  * partition holds one file set again (the append tail's small-files
  * problem: per-append file listing + parquet footer overhead on every
  * probe, and object-store LIST throttling at scale).
  *
  * Swap protocol — every step is a directory-atomic operation, and a
  * COMPLETE copy of the index exists on disk at every instant:
  *
  *   1. write the compacted copy to `<live>.compact` (overwrite);
  *   2. rename `<live>` aside to `<live>.old`;
  *   3. rename `<live>.compact` into place as `<live>`;
  *   4. delete `<live>.old`.
  *
  * A crash between 2 and 3 is the only window with no `<live>`
  * directory, and BOTH `<live>.old` (old layout, complete) and
  * `<live>.compact` (new layout, complete) exist there — [[recover]]
  * heals it by renaming one into place, and [[compactWith]] invokes it
  * first, so re-running compact heals too. Contrast delete-then-rename,
  * whose crash window destroys the old copy before the new one is live.
  * Single-writer contract as with the ingest paths: don't compact
  * concurrently with an append/ingest.
  */
private[graft] object IndexFiles {

  /** Hash `df` on `keys` across a SCALE-ADAPTIVE task width before a
    * `partitionBy(keys)` write — [[graft.preagg.PreAggStore.writeWidth]]
    * applied to the index layouts. A bare `repartition(col(key))` plans a
    * REPARTITION_BY_COL exchange that AQE coalesces to ONE task for a
    * small index, and that task then opens every partition directory's
    * parquet writer SEQUENTIALLY (profiled at sf0.1: the one-task
    * compact/build writes spent 0.9 s serially initializing ~64 zstd
    * writers; guide §6 small-files / §2.2 write sizing). The explicit
    * width keeps writer inits parallel at the small end and saturates
    * the cluster at the big end (width caps at defaultParallelism, one
    * task per `spark.graft.write.bytesPerTask` of estimated bytes). Each
    * task still owns whole key directories, so the file count per
    * partition stays min(width, keys) — never tasks × dirs. */
  def writeShaped(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(graft.preagg.PreAggStore.writeWidth(df), keys: _*)

  /** Store-scoped read coalescing for a persisted index/rollup layout.
    * Spark's leaf-parallelism floor (`spark.sql.files.minPartitionNum` =
    * core count) splits a small fragmented store — 64 partition dirs of
    * kilobyte files after an ingest tail — into 27-32 read tasks of
    * ~30-180 ms fixed cost each (reader init, deserialize, GC; profiled
    * 2.0 CPU·s to read 6.5 k index rows). A SESSION-level floor change
    * was measured and rejected: it also de-parallelized CPU-dense SOURCE
    * scans (the zipfian sf1 battery's collapse fronts regressed 2×), so
    * the fix is scoped to reads of layouts WE wrote, which are
    * fixed-cost-bound by construction. Below
    * `spark.graft.read.coalesceMaxBytes` (default 64 MiB estimate) the
    * scan is coalesced — no shuffle — to one task per
    * `spark.graft.read.bytesPerTask` (default 8 MiB); above the gate the
    * scan's own splits stand, so a cluster-scale store keeps full read
    * parallelism. A caller that already knows the layout's schema passes
    * it, which skips schema inference (a footer-merge job per read). */
  def readShaped(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val df = schema.fold(spark.read)(s => spark.read.schema(s)).parquet(path)
    val gate = longConf(spark, "spark.graft.read.coalesceMaxBytes", 64L << 20)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= BigInt(gate)) return df
    val par = spark.sparkContext.defaultParallelism
    df.coalesce(readTasks(bytes, readBudget(spark)).min(BigInt(par)).toInt)
  }

  /** Bytes one read task should take: `spark.graft.read.bytesPerTask`
    * (default 8 MiB, floor 1 byte). */
  def readBudget(spark: SparkSession): Long =
    math.max(1L, longConf(spark, "spark.graft.read.bytesPerTask", 8L << 20))

  /** The read width rule: one task per `budget` bytes of estimated
    * input, before any cluster clamp. [[readShaped]] clamps it to the
    * cluster; [[graft.gen.Generator]] opens its one-task gate when it
    * is 1, i.e. when the whole input is under one budget. */
  def readTasks(bytes: BigInt, budget: Long): BigInt = bytes / budget + 1

  private def longConf(spark: SparkSession, k: String, dflt: Long): Long =
    spark.conf.getOption(k)
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(dflt)

  private def parquetFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Long = {
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Heal a swap interrupted in the window between steps 2 and 3: when
    * `<live>` is missing, rename the completed `<live>.compact` into
    * place (preferring the new layout — it holds the same rows), else
    * fall back to `<live>.old`; stale leftovers from a completed swap
    * are deleted. Idempotent, cheap (renames only), safe to call on a
    * healthy index (no-op). Returns the state found:
    * "ok" | "recovered_compact" | "recovered_old". */
  def recover(spark: SparkSession, path: String, sub: String): String = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val live = new Path(s"$path/$sub")
    val tmp = new Path(s"$path/$sub.compact")
    val old = new Path(s"$path/$sub.old")
    val state =
      if (fs.exists(live)) "ok"
      else if (fs.exists(tmp)) {
        require(fs.rename(tmp, live), s"recover: rename $tmp -> $live failed")
        "recovered_compact"
      } else if (fs.exists(old)) {
        require(fs.rename(old, live), s"recover: rename $old -> $live failed")
        "recovered_old"
      } else throw new IllegalStateException(
        s"no $sub, $sub.compact or $sub.old under $path — not an index")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    if (state != "ok") spark.catalog.refreshByPath(live.toString)
    state
  }

  /** Rewrite `<path>/<sub>` repartitioned by `partCol` (one file set
    * per partition), swap it live per the protocol above, and return
    * one row: (rows, files_before, files_after). */
  def compactSwap(spark: SparkSession, path: String, sub: String,
      partCol: String): DataFrame =
    compactWith(spark, path, sub) { df =>
      writeShaped(df, col(partCol))
        .write.mode("overwrite").partitionBy(partCol)
    }

  /** The shared compact-then-swap skeleton: `write` receives the live
    * frame and must overwrite-write it to the path it is given; the
    * rewritten copy is then swapped live per the protocol above.
    * Returns one row: (rows, files_before, files_after). */
  def compactWith(spark: SparkSession, path: String, sub: String)(
      write: DataFrame => org.apache.spark.sql.DataFrameWriter[
        org.apache.spark.sql.Row]): DataFrame = {
    recover(spark, path, sub) // heal a prior crashed swap before reading
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val live = new Path(s"$path/$sub")
    val tmp = new Path(s"$path/$sub.compact")
    val old = new Path(s"$path/$sub.old")
    val filesBefore = parquetFiles(fs, live)
    write(readShaped(spark, live.toString)).parquet(tmp.toString)
    val rows = readShaped(spark, tmp.toString).count()
    // a stale .old from a previous crashed swap would block the rename
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(live, old), s"rename $live -> $old failed")
    require(fs.rename(tmp, live), s"rename $tmp -> $live failed")
    fs.delete(old, true)
    // drop any cached plan still pointing at the pre-compaction files
    spark.catalog.refreshByPath(live.toString)
    val filesAfter = parquetFiles(fs, live)
    import spark.implicits._
    Seq((rows, filesBefore, filesAfter))
      .toDF("rows", "files_before", "files_after")
  }

  /** Recursive parquet byte size of a directory (file-listing only). */
  def parquetBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) n += st.getLen
    }
    n
  }
}
