package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Measured recall of the banded sign-LSH against brute-force ground
  * truth on the real sf0.01 embedding table (500 vectors, dim 64, near-
  * uniform: max pairwise cosine ≈ 0.51). The hyperplanes are
  * deterministic, so these recalls are exact reproducible numbers, not
  * flaky statistics. */
class SimilarityRecallSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val emb =
    spark.read.parquet(s"${TestSpark.sf001Dir}/embeddings.parquet").cache()

  /** The real table plus deterministic near-dup twins (v + 0.25·rot(v),
    * cosine ≈ 0.97) — the operator's design regime; the raw table's max
    * pairwise cosine is ≈ 0.51, so threshold-0.9 sets would be vacuous. */
  private lazy val augmented = {
    val twins = emb.filter(col("vec_id") < 50).select(
      (col("vec_id") + 100000).as("vec_id"),
      org.apache.spark.sql.functions.expr(
        "zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
        .as("embedding"))
    emb.select(col("vec_id"), col("embedding")).unionByName(twins).cache()
  }

  test("near-dup pairs at threshold 0.9: recall >= 0.9 vs brute force") {
    // ground truth via a lean all-pairs cosine (ids projected before
    // collect; no window sort carrying the vectors)
    val v = augmented.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val truth = v.select(col("vec_id").as("id_a"), col("v").as("va"))
      .crossJoin(v.select(col("vec_id").as("id_b"), col("v").as("vb")))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= 0.9)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 50, "planted twins must be above the threshold")

    val got = Similarity.cosineNearDupPairs(augmented, "vec_id", "embedding",
      threshold = 0.9, bands = 16) // auto-tuned planes-per-band
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val recall = (truth & got).size.toDouble / truth.size
    info(s"near-dup recall = $recall over ${truth.size} true pairs")
    assert(recall >= 0.9, s"recall $recall < 0.9 (${truth.size} true pairs)")
    // precision is exact by construction: every emitted pair re-verified
    // with the exact cosine before the threshold filter
    assert(got.subsetOf(truth))
  }

  test("hot-bucket cap bounds candidates under a degenerate cluster") {
    // 1,000 identical vectors (a boilerplate/zero-entropy cluster) land in
    // the same bucket in EVERY band: uncapped that is ~500k candidate
    // pairs from one key — the quadratic hot-bucket blowup. With the cap
    // the cluster's buckets are dropped and the join stays bounded while
    // the rest of the corpus still finds its near-dups.
    val cluster = spark.range(200000, 201000).select(
      col("id").as("vec_id"),
      expr("transform(sequence(1, 64), i -> cast(0.5 as float))").as("embedding"))
    val poisoned = augmented.unionByName(cluster)
    val capped = Similarity.cosineNearDupPairs(poisoned, "vec_id", "embedding",
      threshold = 0.9, bands = 16, maxBucketSize = 500)
    val pairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no pair from inside the dropped cluster survives…
    assert(!pairs.exists { case (a, b) => a >= 200000 && b >= 200000 })
    // …and the planted twins outside the cluster are still found
    val twinPairs = pairs.count { case (a, b) => b == a + 100000 }
    assert(twinPairs >= 45, s"expected >=45 twin pairs outside cluster, got $twinPairs")
  }

  test("ivf finds every planted twin and is layout-invariant") {
    val queries = emb.filter(col("vec_id") < 50)
    val got = Similarity.ivfTopK(augmented, queries, "vec_id", "embedding",
      "vec_id", k = 5, nCells = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every query's near-twin (cos ≈ 0.97 — THE nearest neighbor) must
    // survive 4-of-16 cell probing
    val found = (0L until 50L).count(q => got.contains((q, q + 100000)))
    info(s"ivf twin recall = ${found / 50.0} over 50 planted twins")
    assert(found == 50, s"only $found/50 twins retrieved")
    // deterministic under arbitrary physical layout: hash-seeded
    // centroids + decimal-summed means + tie-broken ranking
    val again = Similarity.ivfTopK(augmented.repartition(13), queries,
      "vec_id", "embedding", "vec_id", k = 5, nCells = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == again)
  }

  test("ivf recall vs brute force tracks the probed corpus fraction") {
    val queries = emb.filter(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
      "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-uniform data is IVF's worst case (no cluster structure to
    // exploit) — probing 8/16 cells must still recover the majority of
    // true neighbors, and full probing must be exhaustive
    val half = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      "vec_id", k = 5, nCells = 16, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val halfRecall = (truth & half).size.toDouble / truth.size
    info(s"nprobe=8/16 recall = $halfRecall")
    assert(halfRecall >= 0.5, s"recall $halfRecall < 0.5 at half probing")
    val full = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      "vec_id", k = 5, nCells = 16, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((truth & full).size == truth.size,
      "nprobe = nCells must equal brute force")
  }

  test("lsh top-5: recall >= 0.9 vs brute-force top-5") {
    val queries = emb.filter(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
      "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      "vec_id", k = 5, bands = 16, planesPerBand = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & got).size.toDouble / truth.size
    info(s"top-5 recall = $recall over ${truth.size} truth pairs")
    assert(recall >= 0.9, s"recall $recall < 0.9")
  }

  test("hard negatives equal brute force when nothing crosses the gate") {
    val queries = emb.filter(col("vec_id") < 10)
    val a = Similarity.hardNegatives(emb, queries, "vec_id", "embedding",
        "vec_id", k = 5, dupThreshold = 1.01)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet
    val b = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        "vec_id", k = 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("hard negatives exclude planted near-duplicates above the gate") {
    val queries = emb.filter(col("vec_id") < 5)
    val twins = queries.select((col("vec_id") + 100000).as("vec_id"),
      expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
        "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
        .as("embedding"))
    val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
    val negs = Similarity.hardNegatives(aug, queries, "vec_id", "embedding",
        "vec_id", k = 5, dupThreshold = 0.9)
      .collect()
    assert(negs.length == 25)
    negs.foreach { r =>
      assert(r.getAs[Double]("cosine") < 0.9)
      assert(r.getAs[Long]("neighbor_id") < 100000L,
        s"twin leaked as a negative: ${r.toSeq}")
    }
  }
}
