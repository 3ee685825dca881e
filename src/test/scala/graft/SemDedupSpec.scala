package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SemDedupSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val emb =
    spark.read.parquet(s"${TestSpark.sf001Dir}/embeddings.parquet")

  test("planted twins drop against their bases; bases stay kept") {
    val twins = emb.filter(col("vec_id") < 20).select(
      (col("vec_id") + 100000).as("vec_id"),
      expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
        "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
        .as("embedding"))
    val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
    val out = Similarity.semDedup(aug, "vec_id", "embedding",
        threshold = 0.9, nCells = 8)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Boolean]("kept"), Option(r.getAs[Any]("dup_of"))))
      .toMap
    assert(out.size == emb.count() + 20, "one row per input doc")
    (0L until 20L).foreach(i => assert(out(i)._1, s"base $i must stay kept"))
    // a twin sharing its base's cell MUST drop against exactly that
    // base; a cell-boundary straddle (twin assigned elsewhere) is the
    // documented recall loss — require at least 15/20 caught
    val dropped = (0L until 20L).filter(i => !out(100000L + i)._1)
    assert(dropped.size >= 15, s"only ${dropped.size}/20 twins dropped")
    dropped.foreach(i => assert(out(100000L + i)._2.contains(i),
      s"twin ${100000 + i} dropped against ${out(100000L + i)._2}, not $i"))
    // the corpus itself is near-uniform (max pairwise cosine ≈ 0.6):
    // nothing but twins may drop at t = 0.9
    assert(out.filterNot(_._2._1).keys.forall(_ >= 100000L),
      "a non-twin dropped at t=0.9 over near-uniform embeddings")
  }

  test("greedy chain policy drops every non-minimum of a similarity chain") {
    import spark.implicits._
    // unit vectors with cos(a,b) ≈ 0.894, cos(b,c) ≈ 0.949,
    // cos(a,c) ≈ 0.707: at t = 0.85 the pair graph is the chain a–b–c,
    // so b drops against a and c drops against b (even though a,c are
    // NOT near-dups) — one representative per chain, smallest id
    def vec(x: Double, y: Double): Seq[Float] =
      (Seq(x, y) ++ Seq.fill(62)(0.0)).map(_.toFloat)
    val n = math.sqrt(1.25)
    val df = Seq(
      (1L, vec(1, 0)),
      (2L, vec(1 / n, 0.5 / n)),
      (3L, vec(1 / math.sqrt(2), 1 / math.sqrt(2))),
      (4L, vec(0, 1))) // cos(c,d) ≈ 0.707 < t — d survives
      .toDF("id", "v")
    val out = Similarity.semDedup(df, "id", "v", threshold = 0.85,
        nCells = 1, iters = 1)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Boolean]("kept"), Option(r.getAs[Any]("dup_of"))))
      .toMap
    assert(out(1L) == (true, None))
    assert(out(2L) == (false, Some(1L)))
    assert(out(3L) == (false, Some(2L)))
    assert(out(4L) == (true, None))
  }

  test("routed branch propagates family verdicts: copies drop against " +
      "their representative's chain, one row per input") {
    import spark.implicits._
    def vec(x: Double, y: Double): Seq[Float] =
      (Seq(x, y) ++ Seq.fill(62)(0.0)).map(_.toFloat)
    val n = math.sqrt(1.25)
    // family {1, 5, 6}: identical vectors; 2 is a near dup of 1's
    // vector (chain 1–2); family {2, 8}: identical; 4 distinct
    val df = Seq(
      (1L, vec(1, 0)), (5L, vec(1, 0)), (6L, vec(1, 0)),
      (2L, vec(1 / n, 0.5 / n)), (8L, vec(1 / n, 0.5 / n)),
      (4L, vec(0, 1)))
      .toDF("id", "v")
    val out = Similarity.semDedup(df, "id", "v", threshold = 0.85,
        nCells = 1, iters = 1, pinMinBytes = 0L) // force the routed branch
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Boolean]("kept"), Option(r.getAs[Any]("dup_of"))))
      .toMap
    assert(out.size == 6, "one row per input doc")
    // reps carry the direct-path verdicts over distinct vectors
    assert(out(1L) == (true, None))
    assert(out(2L) == (false, Some(1L)))   // rep 2 drops against rep 1
    assert(out(4L) == (true, None))
    // copies of a KEPT rep drop against that rep...
    assert(out(5L) == (false, Some(1L)) && out(6L) == (false, Some(1L)))
    // ...copies of a DROPPED rep drop against the rep's own dup_of
    // (the greedy min-id chain's true minimum), not the rep itself
    assert(out(8L) == (false, Some(1L)))
  }

  test("capped cells skip pairing, surface the cap, and keep their rows") {
    val out = Similarity.semDedup(
        emb.filter(col("vec_id") < 50).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", threshold = 0.0, nCells = 2, iters = 1,
        maxCellSize = 3)
      .collect()
    assert(out.length == 50)
    // 50 docs in 2 cells: at least one cell must exceed 3 members
    assert(out.exists(_.getAs[Boolean]("cell_capped")))
    out.filter(_.getAs[Boolean]("cell_capped")).foreach { r =>
      assert(r.getAs[Boolean]("kept"), "capped rows are never dropped")
      assert(r.isNullAt(r.fieldIndex("dup_of")))
    }
  }
}
