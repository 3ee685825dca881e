package graft

import graft.ops.{IvfIndex, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val emb =
    spark.read.parquet(s"${TestSpark.sf001Dir}/embeddings.parquet")

  test("persisted index returns exactly the in-memory ivfTopK results") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    IvfIndex.build(emb, "vec_id", "embedding", tmp, nCells = 16, iters = 3)
    val queries = emb.filter(col("vec_id") < 20)

    val fromIndex = IvfIndex.topK(spark, tmp, queries, "vec_id", "embedding",
      "vec_id", k = 5, nprobe = 4)
    val inMemory = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      "vec_id", k = 5, nCells = 16, nprobe = 4)

    val a = fromIndex.select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet
    val b = inMemory.select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet
    assert(a == b)
    assert(a.size == 20 * 5)
  }

  test("centroids round-trip bit-exactly through the text artifact") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf2").toString
    IvfIndex.build(emb, "vec_id", "embedding", tmp, nCells = 8, iters = 2)
    val loaded = IvfIndex.loadCentroids(spark, tmp)
    val trained = Similarity.trainCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 2)
    assert(loaded == trained) // Double.toString/toDouble round-trips exactly
  }

  test("probe join prunes the cell partitions in the scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf3").toString
    IvfIndex.build(emb, "vec_id", "embedding", tmp, nCells = 16, iters = 2)
    val queries = emb.filter(col("vec_id") < 3)
    val result = IvfIndex.topK(spark, tmp, queries, "vec_id", "embedding",
      "vec_id", k = 5, nprobe = 2)
    result.collect() // materialize so AQE finalizes the plan
    val plan = result.queryExecution.executedPlan.toString
    // the probed cell ids must reach the partitioned scan as a DYNAMIC
    // partition-pruning filter (broadcast probe side reused as the
    // pruning subquery) — that is the entire point of the layout
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n${plan.take(4000)}")
    // the corpus vector must ride through that one pruned join — a
    // second (unpruned) scan of the cells dir for the rerank's vector
    // fetch would read every partition and defeat the layout
    // count scans in the FINAL plan only (AQE's treeString repeats the
    // tree under an "== Initial Plan ==" section)
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val cellScans =
      finalPlan.split(java.util.regex.Pattern.quote(tmp), -1).length - 1
    assert(cellScans == 1,
      s"expected exactly 1 scan of the cells dir, saw $cellScans")
  }

  test("append lands in the shared layout and is retrieved without retraining") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf4").toString
    IvfIndex.build(emb, "vec_id", "embedding", tmp, nCells = 16, iters = 3)
    val centsBefore = IvfIndex.loadCentroids(spark, tmp)
    val twins = emb.filter(col("vec_id") < 5).select(
      (col("vec_id") + 100000).as("vec_id"),
      expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
        "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
        .as("embedding"))
    IvfIndex.append(twins, "vec_id", "embedding", tmp)
    // no retrain: the centroid artifact is untouched
    assert(IvfIndex.loadCentroids(spark, tmp) == centsBefore)
    // each query retrieves its appended twin as rank 1 (cosine ≈ 0.97
    // dominates the ≈ 0.4-max base corpus)
    val queries = emb.filter(col("vec_id") < 5)
    val top = IvfIndex.topK(spark, tmp, queries, "vec_id", "embedding",
        "vec_id", k = 1, nprobe = 4)
      .collect().map(r => r.getAs[Long]("query_id") ->
        r.getAs[Long]("neighbor_id")).toMap
    (0L until 5L).foreach(i =>
      assert(top(i) == 100000L + i, s"query $i got ${top(i)}"))
    // appended rows share the partitioned layout (no new top-level
    // dirs beyond __cell=…), so topK's pruning covers them too
    val names = new java.io.File(s"$tmp/cells").listFiles().map(_.getName)
    assert(names.exists(_.startsWith("__cell=")))
    assert(names.forall(n => n.startsWith("__cell=") ||
      n.startsWith("_") || n.startsWith(".")),
      s"unexpected layout entries: ${names.mkString(",")}")
  }

  test("compact collapses the append tail, preserving rows and retrieval") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfc").toString
    IvfIndex.build(emb.filter(col("vec_id") < 400), "vec_id", "embedding",
      tmp, nCells = 8)
    // two append slices, each leaving its own file set behind
    Seq(0, 1).foreach { s =>
      IvfIndex.append(emb.filter(col("vec_id") >= 400 + s * 50 &&
          col("vec_id") < 450 + s * 50)
        .select((col("vec_id") + 200000).as("vec_id"), col("embedding")),
        "vec_id", "embedding", tmp)
    }
    val before = spark.read.parquet(s"$tmp/cells")
      .select("vec_id", "__cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val queriesBefore = IvfIndex.topK(spark, tmp,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", "vec_id",
        k = 5, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    val stats = IvfIndex.compact(spark, tmp).collect()(0)
    assert(stats.getAs[Long]("files_after") < stats.getAs[Long]("files_before"),
      s"compaction did not reduce files: $stats")
    val after = spark.read.parquet(s"$tmp/cells")
      .select("vec_id", "__cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(after == before, "compaction changed index content")
    val queriesAfter = IvfIndex.topK(spark, tmp,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", "vec_id",
        k = 5, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    assert(queriesAfter == queriesBefore,
      "retrieval changed across compaction")
  }
}
