package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Embedding storage transforms: symmetric int8 quantization (the
  * standard 4x shrink for ANN corpora — 100 TB of float32 vectors
  * becomes 25 TB with bounded recall loss) plus the reconstruction-error
  * audit that decides whether the shrink is safe for a given corpus.
  *
  * All pure column expressions (`transform` / `zip_with` /
  * `aggregate`), so quantization is a codegen'd map-side projection with
  * no shuffle and no UDF; the error audit adds only the scan it reads.
  * Determinism: math is done in double (cast once, up front) and the
  * reported error is rounded to fixed decimals, so results are
  * bit-stable across partition layouts and engines — the property every
  * oracle check here leans on.
  */
object Embeddings {

  private def asDouble(vecCol: Column): Column =
    transform(vecCol, x => x.cast("double"))

  /** (id, scale, codes, rmse, max_err): quantize + measure in one
    * projection. `rmse`/`max_err` are the dequantized reconstruction
    * errors, rounded to `errDecimals` for cross-engine stability. */
  def quantizeWithError(df: DataFrame, idCol: String, vecCol: String,
      errDecimals: Int = 6): DataFrame = {
    val v = asDouble(col(vecCol))
    val scale = array_max(transform(v, x => abs(x)))
    val codes = transform(v, x =>
      when(scale > 0, round(x / scale * 127)).otherwise(lit(0.0))
        .cast("int"))
    // dequantized element: code * scale / 127; error vs the original
    val errs = zip_with(v, codes, (x, q) =>
      abs(x - q.cast("double") * scale / 127))
    df.select(col(idCol),
      round(scale, errDecimals).as("scale"),
      codes.as("codes"),
      round(sqrt(aggregate(errs, lit(0.0), (acc, e) => acc + e * e)
        / size(codes)), errDecimals).as("rmse"),
      round(array_max(errs), errDecimals).as("max_err"))
  }

  /** Mean-pool member vectors to one vector per group — chunk
    * embeddings to a document embedding in a RAG pipeline, or a dup
    * cluster's members to its representative. Per-dimension means sum
    * in decimal (the [[Similarity.trainCentroids]] trick) so the pooled
    * vector is bit-identical across partition layouts and replayable by
    * the DuckDB oracle; elements round to `decimals`. One posexplode +
    * two partial-aggregated groupBys, shuffle keyed on (group, dim) —
    * uniform at any corpus size. */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String,
      decimals: Int = 6): DataFrame =
    df.select(col(groupCol).as("group_id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__p", "__x")))
      .groupBy(col("group_id"), col("__p"))
      .agg((sum(col("__x").cast("decimal(30,12)")) / count(lit(1)))
        .cast("double").as("__m"))
      .groupBy(col("group_id"))
      .agg(sort_array(collect_list(struct(col("__p").as("p"),
        round(col("__m"), decimals).as("m")))).as("__pm"))
      .select(col("group_id"), col("__pm.m").as("pooled"))

  /** Embedding-distribution drift between two corpus snapshots, the
    * input-data monitor for an ANN/retrieval service: both snapshots
    * are assigned to the SAME frozen centroids (train once on the
    * baseline — or reuse the production [[IvfIndex]]'s — so the cells
    * mean the same thing on both sides) and compared cell by cell.
    * A new-crawl slice that piles into two cells while the baseline
    * spread evenly is topic shift the service must see BEFORE recall
    * degrades; it also tells an [[IvfIndex]] operator when the frozen
    * centroids have drifted enough to schedule a [[IvfIndex.build]]
    * retrain.
    *
    * ONE aggregate per snapshot (the [[Similarity.assignCells]] shape)
    * is the entire distributed cost; the k-row per-cell histograms are
    * collected (k cells by design — the same admissibility argument as
    * [[Similarity.trainCentroids]]'s k×dim collect) and the k-row
    * report is assembled from literals, so the expensive assignment
    * subtree is never referenced twice in one plan. Snapshots are
    * deduplicated on `idCol` first — assignCells groups the exploded
    * vector components by id, so a repeated id (a re-ingested shard
    * unioned into a snapshot) would otherwise sum two vectors into one
    * nonsense assignment. Returns one row per cell:
    * (cell, n_base, n_new, share_base, share_new, delta) with shares
    * rounded to `decimals`; Σ|delta|/2 is the total-variation distance
    * if a single drift scalar is wanted. Empty cells on either side
    * report zero counts, so every centroid appears exactly once. */
  def cellDrift(base: DataFrame, newer: DataFrame, idCol: String,
      vecCol: String, cents: Seq[Seq[Double]],
      decimals: Int = 6): DataFrame = {
    def cellCounts(df: DataFrame): Map[Int, Long] =
      Similarity.assignCells(
          df.select(col(idCol).as("__id"),
            col(vecCol).cast("array<double>").as("__v"))
            .dropDuplicates("__id"),
          "__id", cents)
        .groupBy(col("__cell")).agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the two snapshot histograms are independent single-aggregate jobs —
    // overlap them from driver threads (guide §2.6) so the second is not
    // serialized behind the first's scheduling floor
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fb = Future(cellCounts(base))
    val fn = Future(cellCounts(newer))
    val nb = Await.result(fb, Duration.Inf)
    val nn = Await.result(fn, Duration.Inf)
    val (totB, totN) = (nb.values.sum, nn.values.sum)
    val session = base.sparkSession
    import session.implicits._
    cents.indices
      .map(c => (c, nb.getOrElse(c, 0L), nn.getOrElse(c, 0L)))
      .toDF("cell", "n_base", "n_new")
      .select(col("cell"), col("n_base"), col("n_new"),
        round(shareOf(col("n_base"), totB), decimals).as("share_base"),
        round(shareOf(col("n_new"), totN), decimals).as("share_new"),
        round(shareOf(col("n_new"), totN)
          - shareOf(col("n_base"), totB), decimals).as("delta"))
  }

  /** n / total as double; an empty snapshot reports share 0, not NaN. */
  private def shareOf(n: Column, total: Long): Column =
    if (total == 0L) lit(0.0) else n / lit(total)
}
