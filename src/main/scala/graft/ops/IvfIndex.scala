package graft.ops

import graft.functions.VectorExprs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted IVF index: the corpus stored PARTITIONED BY CELL, which is
  * what turns IVF's "probe a few cells" into physical I/O pruning at
  * 100 TB — each query's probe set selects a handful of partition
  * directories, and Spark's dynamic partition pruning pushes the probed
  * cell ids into the file scan (the probe side is a broadcast, so the
  * scan never lists the unprobed cells). [[Similarity.ivfTopK]] computes
  * the same result from an unindexed corpus; this is the "index once,
  * query many" layout a production ANN service would maintain.
  *
  * Layout under `path`:
  *   - `cells/__cell=<i>/…` — corpus rows (id, vector) per cell
  *   - `centroids.txt` — one centroid per line, comma-separated doubles
  *     (dependency-free round-trip; k×dim doubles, driver-sized by design)
  */
object IvfIndex {

  /** Train centroids (optionally on a hash-sample), assign every corpus
    * row once, write partitioned by cell. Rebuild-in-place is atomic per
    * run via overwrite mode. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, path: String,
      nCells: Int = 16, iters: Int = 3,
      trainSampleMod: Int = 1): Unit = {
    val spark = corpus.sparkSession
    val cents = Similarity.trainCentroids(corpus, idCol, vecCol, nCells,
      iters, trainSampleMod)
    val assigned = Similarity.assignCells(
      corpus.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v")),
      "__id", cents)
    IndexFiles.writeShaped(
        corpus.select(col(idCol), col(vecCol))
          .join(assigned.select(col("__id").as(idCol), col("__cell")), idCol),
        col("__cell"))
      .write.mode("overwrite").partitionBy("__cell")
      .parquet(s"$path/cells")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(s"$path/centroids.txt"), true)
    try out.write(cents.map(_.mkString(",")).mkString("\n")
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** Append a new corpus slice without retraining: each row is assigned
    * to its nearest EXISTING centroid and appended into the partitioned
    * cell layout — the shard-arrival path of a production ANN service
    * (ingest cost ∝ slice, no rebuild, and [[topK]]'s partition pruning
    * covers old and new rows alike since they share the layout).
    * Centroids drift from the true k-means of the grown corpus as
    * slices accumulate; the periodic [[build]] retrains and
    * re-partitions. Slice ids must be fresh — the index stores rows,
    * not a keyed map, so a re-appended id is returned twice. A slice
    * that [[graft.streaming.StreamingIngest]] replays after a failure
    * is such a re-append: its twin rows tie at ranking and waste space
    * until the periodic [[build]]. */
  def append(batch: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = batch.sparkSession
    val cents = loadCentroids(spark, path)
    val assigned = Similarity.assignCells(
      batch.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v")),
      "__id", cents)
    batch.select(col(idCol), col(vecCol))
      .join(assigned.select(col("__id").as(idCol), col("__cell")), idCol)
      .write.mode("append").partitionBy("__cell")
      .parquet(s"$path/cells")
  }

  def loadCentroids(spark: SparkSession, path: String): Seq[Seq[Double]] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(s"$path/centroids.txt"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split("\n").toSeq.map(_.split(",").toSeq.map(_.toDouble))
  }

  /** Query the persisted index: probe each query's `nprobe` nearest
    * cells and re-rank exactly inside them. The probe frame is broadcast
    * and joined on the partition column, so dynamic partition pruning
    * restricts the scan to the probed `__cell=` directories. The corpus
    * vector rides along through that single pruned join (no second,
    * unpruned vector-fetch scan), so TOTAL I/O — candidates and vectors
    * both — is proportional to the probed fraction, not the corpus. */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, k: Int,
      nprobe: Int = 4): DataFrame = {
    val cents = loadCentroids(spark, path)
    val cells = spark.read.parquet(s"$path/cells")
    val probes = broadcast(
      Similarity.probeCells(queries, queryIdCol, vecCol, cents, nprobe))
    val cand = cells.join(probes, Seq("__cell"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__cn", VectorExprs.l2norm(col("__cv")))
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn", VectorExprs.l2norm(col("__qv"))))
    Similarity.rerankCarried(cand, q, k)
  }

  /** Layout-only maintenance for the append tail ([[append]] /
    * [[graft.streaming.StreamingIngest]] leave one file set per
    * slice): rewrite `cells/` so each `__cell=` partition holds one
    * file. Content-preserving — re-training drifted centroids and
    * re-assigning rows is [[build]]'s job; compaction only removes the
    * per-query file-listing/footer overhead that grows with every
    * ingested slice. Write-then-rename-aside swap via
    * [[IndexFiles.compactSwap]] (a complete copy exists at every
    * instant; crash-recoverable), same single-writer contract as the
    * ingest paths. Returns one row:
    * (rows, files_before, files_after). */
  def compact(spark: SparkSession, path: String): DataFrame =
    IndexFiles.compactSwap(spark, path, "cells", "__cell")

  /** Heal a [[compact]] swap interrupted mid-crash-window (see
    * [[IndexFiles.recover]]); no-op on a healthy index. */
  def recover(spark: SparkSession, path: String): String =
    IndexFiles.recover(spark, path, "cells")

  /** Hard-negative mining over the persisted index — the production
    * composition [[Similarity.hardNegatives]]'s scaladoc promises:
    * over-fetch `overfetch` candidates per query through [[topK]]'s
    * pruned scan, then apply the near-duplicate gate (`cosine <
    * dupThreshold`) and re-rank to the final `k`. Per-query I/O stays ∝
    * the probed cells; the gate and re-rank run on candidate frames of
    * queries × overfetch rows, never the corpus. `overfetch` must
    * exceed `k` by at least the expected near-duplicate count per query
    * (gated rows consume candidate slots). */
  def hardNegatives(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, k: Int,
      dupThreshold: Double = 0.9, overfetch: Int = 0,
      nprobe: Int = 4): DataFrame = {
    val kFetch = if (overfetch > 0) overfetch else 4 * k
    require(kFetch >= k, s"overfetch $kFetch must be >= k $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    topK(spark, path, queries, idCol, vecCol, queryIdCol, kFetch,
        nprobe)
      .filter(col("cosine") < dupThreshold)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rank"))
  }
}
