package graft

import graft.ops.Fusion
import org.scalatest.funsuite.AnyFunSuite

class FusionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("rrf: consensus doc outranks single-list heads; ties break by id") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 20L, 1), (1L, 40L, 2))
      .toDF("query_id", "doc_id", "rank")
    val out = Fusion.rrf(Seq(a, b)).orderBy("fused_rank").collect()
    // doc 20 appears in BOTH lists (1/62 + 1/61) and must lead; docs 10
    // and 40 tie at 1/61 (rank 1 or 2 in one list each... 10 is rank 1
    // in a → 1/61; 40 is rank 2 in b → 1/62) — verify exact math
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(20L, 10L, 40L, 30L))
    assert(out(0).getAs[Double]("rrf_score") ==
      math.rint((1.0 / 62 + 1.0 / 61) * 1e6) / 1e6)
    assert(out(1).getAs[Double]("rrf_score") == 0.016393) // 1/61
    assert(out(2).getAs[Double]("rrf_score") == 0.016129) // 1/62
    assert(out(3).getAs[Double]("rrf_score") == 0.015873) // 1/63
  }

  test("rrf: exact ties break by doc id; queries fuse independently") {
    import spark.implicits._
    val a = Seq((1L, 7L, 1), (1L, 5L, 2), (2L, 9L, 1))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 5L, 1), (1L, 7L, 2), (2L, 8L, 1))
      .toDF("query_id", "doc_id", "rank")
    val out = Fusion.rrf(Seq(a, b))
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("doc_id"), r.getAs[Int]("fused_rank"))).toSet
    // q1: docs 5 and 7 both score 1/61 + 1/62 — identical; the smaller
    // id must take rank 1. q2's lists never leak into q1.
    assert(out.contains((1L, 5L, 1)) && out.contains((1L, 7L, 2)))
    assert(out.contains((2L, 8L, 1)) && out.contains((2L, 9L, 2)))
  }

  test("rrf: topK bounds the fused list") {
    import spark.implicits._
    val a = (1 to 30).map(i => (1L, i.toLong, i)).toDF("query_id", "doc_id", "rank")
    assert(Fusion.rrf(Seq(a), topK = 10).count() == 10)
  }

  test("rrf fuses real IVF-index output with a second retriever") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"${TestSpark.sf001Dir}/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_rrf").toString
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", tmp, nCells = 16)
    val queries = emb.filter(col("vec_id") < 3)
    val ann = graft.ops.IvfIndex.topK(spark, tmp, queries, "vec_id",
        "embedding", "vec_id", k = 10, nprobe = 16)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    // second retriever: the same ANN list shifted by one rank — every
    // fused doc then has contributions from both lists, and the fused
    // order must follow the (deterministic) combined reciprocal sums
    val shifted = ann.withColumn("rank", col("rank") + 1)
    val fused = Fusion.rrf(Seq(ann, shifted), topK = 5)
    val rows = fused.collect()
    assert(rows.length == 3 * 5)
    // rank-1 of the fused list must be rank-1 of the base list (it holds
    // the max possible score 1/61 + 1/62)
    val top = ann.filter(col("rank") === 1)
      .collect().map(r => r.getAs[Long]("query_id") ->
        r.getAs[Long]("doc_id")).toMap
    rows.filter(_.getAs[Int]("fused_rank") == 1).foreach { r =>
      assert(top(r.getAs[Long]("query_id")) == r.getAs[Long]("doc_id"))
      assert(r.getAs[Double]("rrf_score") ==
        math.rint((1.0 / 61 + 1.0 / 62) * 1e6) / 1e6)
    }
  }
}
