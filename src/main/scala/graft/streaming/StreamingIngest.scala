package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous index maintenance: slices arriving on a stream are folded
  * into a persisted index micro-batch by micro-batch, so queries see them
  * within a trigger interval. `slice` is the index's own batch op —
  * `IvfIndex.append(_, "id", "vec", path)`, [[graft.ops.PqIndex.append]],
  * [[graft.ops.TextIndex.append]], [[graft.ops.DedupIndex.ingest]] or
  * [[graft.ops.ImageIndex.ingest]] — and keeps its batch contract. An
  * empty micro-batch is skipped: it launches no index job and cannot
  * overwrite an ingest receipt with an empty one.
  *
  * Delivery is foreachBatch's: at-least-once. A micro-batch replayed
  * after a failure between `slice` and the checkpoint commit is passed to
  * `slice` again. No index is a keyed map, so its rows re-append; each
  * op's scaladoc states what that costs (its fresh-id contract) and names
  * the rebuild that clears it. [[StreamingRollup]] and
  * [[StreamingWarcIngest]] instead land each batch in its own
  * `__batch=<id>` directory, so a replay overwrites itself.
  */
object StreamingIngest {

  def maintain(stream: DataFrame, checkpoint: String)(
      slice: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) slice(batch)
      }
      .start()
}
