package graft.streaming

import graft.model.{Catalog, PreAggregation}
import graft.ops.IndexFiles
import graft.preagg.PreAggStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structured-Streaming maintenance of pre-aggregations — beyond the
  * reference (which only has batch incremental refresh,
  * pre_aggregation.py:718-879): a file stream over the model's source
  * keeps the rollup continuously fresh.
  *
  * Each micro-batch aggregates to rollup grain and lands in its own
  * `__batch=<id>` partition directory. That makes replay IDEMPOTENT: a
  * failure between the write and the checkpoint commit replays the batch,
  * which overwrites the same directory with the same content instead of
  * double-merging into shared state (the round-2 design read-merge-wrote
  * the whole affected partition, so a replayed batch counted twice).
  * Readers are agnostic — the routed plan re-aggregates additive
  * components across ALL rows, so extra per-batch rows change nothing.
  * `compact()` folds accumulated deltas into one batch directory when the
  * delta count grows.
  */
final class StreamingRollup(spark: SparkSession, cat: Catalog,
    store: PreAggStore) {

  /** Start maintaining `pa` from new files appearing under `sourceDir`.
    * Default trigger AvailableNow processes the backlog then stops —
    * callers wanting continuous refresh pass a ProcessingTime trigger.
    * The checkpoint is the identity of the batch-id sequence: keep it
    * stable for the life of the rollup (the standard Structured Streaming
    * contract). */
  def maintain(modelName: String, pa: PreAggregation, sourceDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val m = cat.model(modelName)
    require(pa.partitionGranularity.isDefined,
      "Streaming maintenance needs partition_granularity")
    val schema = spark.read.parquet(sourceDir).schema
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    val path = store.rollupPath(modelName, pa)

    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // hash on __part so tasks own whole partition dirs (one file per
        // dir); width is scale-adaptive (PreAggStore.writeWidth) — a
        // micro-batch delta is usually small and lands in 1-2 tasks, a
        // backlog-sized batch saturates the cluster
        val rollup = store.rollupOf(m, pa, batch)
        val batchRollup = rollup.repartition(
          PreAggStore.writeWidth(rollup), col("__part"))
        // overwrite-into-place: replaying batch N rewrites __batch=N with
        // identical content — exactly-once effect without shared state
        batchRollup.write.mode("overwrite")
          .partitionBy("__part")
          .parquet(s"$path/__batch=$batchId")
        store.written(path)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Fold all accumulated per-batch deltas into a single batch directory
    * (run between maintenance windows; not concurrent with an active
    * stream). Keeps read amplification bounded as batches accumulate.
    * The folded copy keeps the `__batch=0/__part=…` layout the stream
    * appends beside, and goes live through the persisted indexes' swap
    * ([[IndexFiles.compactWith]]): a complete rollup exists on disk at
    * every instant, and a swap a crash interrupted is healed by the next
    * `compact`. A no-op on a rollup that was never materialized. */
  def compact(modelName: String, pa: PreAggregation): Unit = {
    val m = cat.model(modelName)
    val path = store.rollupPath(modelName, pa)
    if (!store.rollupExists(path) && !store.rollupExists(s"$path.compact"))
      return
    val live = new Path(path)
    IndexFiles.compactWith(spark, live.getParent.toString, live.getName) {
      rows =>
        val merged = store.mergeComponents(pa, m, rows.drop("__batch"))
        merged.repartition(PreAggStore.writeWidth(merged), col("__part"))
          .withColumn("__batch", lit(0))
          .write.mode("overwrite").partitionBy("__batch", "__part")
    }
    store.written(path)
  }
}
