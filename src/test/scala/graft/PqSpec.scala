package graft

import graft.ops.{Pq, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization: codebook shape, encode determinism and plan
  * shape, ADC+re-rank recall against brute-force ground truth, and the
  * reconstruction-error report. All on the real sf0.01 embedding table
  * (500 vectors, dim 64) — training is hash-seeded so every number here
  * is an exact reproducible value, not a flaky statistic. */
class PqSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val emb =
    spark.read.parquet(s"${TestSpark.sf001Dir}/embeddings.parquet").cache()

  /** Final-adaptive-plan exchange count (same convention as
    * OpsPlanSpec: count post-EnsureRequirements exchanges, cut AQE's
    * "Initial Plan" echo). */
  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
        org.apache.spark.sql.Row]]
      .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    "Exchange (hash|range)partitioning".r.findAllIn(plan).size
  }

  private lazy val books =
    Pq.trainCodebooks(emb, "vec_id", "embedding", dim = 64, m = 8,
      kCodes = 16, iters = 2, trainSampleMod = 1)

  test("codebooks have the requested geometry") {
    assert(books.size === 8)
    assert(books.forall(_.size === 16))
    assert(books.forall(_.forall(_.size === 8)))
    // training is deterministic: retrain bit-equals
    val again = Pq.trainCodebooks(emb, "vec_id", "embedding", dim = 64,
      m = 8, kCodes = 16, iters = 2, trainSampleMod = 1)
    assert(again === books)
  }

  test("encode emits m codes per row as a zero-exchange projection") {
    val codes = Pq.encode(emb, "vec_id", "embedding", books)
    val rows = codes.collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.size === 8)
      assert(cs.forall(c => c >= 0 && c < 16))
    }
    // the encode front must be a pure projection — no exchange at all
    assert(shuffleCount(codes) === 0, "PQ encode must not shuffle")
  }

  test("codes actually use the codebook (not collapsed to one word)") {
    val codes = Pq.encode(emb, "vec_id", "embedding", books)
    val distinctPerSub = codes
      .select(posexplode(col("__codes")).as(Seq("s", "c")))
      .groupBy("s").agg(countDistinct("c").as("n"))
      .collect().map(r => r.getLong(1))
    // every subspace should spread across most of its 16 codewords
    assert(distinctPerSub.forall(_ >= 8),
      s"degenerate codebook usage: ${distinctPerSub.mkString(",")}")
  }

  // near-uniform random vectors are PQ's hardest case (no cluster
  // structure for the codebooks to exploit — the battery's 8x16 books
  // quantize away 57% of signal energy, recall@5 0.69); doubling both
  // dials (16 subspaces x 32 codewords = 80 bits/vector, still 3x
  // smaller than the floats) recovers 0.97 here. Real embedding
  // corpora cluster and do far better at the same bit budget.
  test("ADC shortlist + exact re-rank: recall@5 >= 0.9 vs brute force") {
    val queries = emb.filter(col("vec_id") < 20)
    val truth = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", "vec_id", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Pq.pqTopK(emb, queries, "vec_id", "embedding", "vec_id",
        k = 5, dim = 64, m = 16, kCodes = 32, shortlist = 50, iters = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & got).size.toDouble / truth.size
    info(s"PQ recall@5 = $recall over ${truth.size} truth pairs")
    assert(recall >= 0.9, s"recall $recall < 0.9")
  }

  test("OPQ-lite permutation: balanced subspaces beat the contiguous " +
      "split on correlated (banded-energy) data — MSE and recall") {
    // banded energy: coordinate band i/8 scaled by 1+3*(i/8), so the
    // contiguous split hands subspace 7 ~22x subspace 0's variance
    val scaled = emb.select(col("vec_id"),
      expr("transform(embedding, (x, i) -> " +
        "cast(x * (1.0 + 3.0 * cast(i div 8 as double)) as double))").as("v"))
    val perm = Pq.trainPermutation(scaled, "vec_id", "v", 64, 8)
    assert(perm.sorted == (0 until 64), "not a permutation")
    assert(perm != (0 until 64), "permutation is the identity — vacuous")
    val permuted = scaled.select(col("vec_id"),
      Pq.permute(col("v"), perm).as("v"))
    def mse(df: org.apache.spark.sql.DataFrame) = {
      val books = Pq.trainCodebooks(df, "vec_id", "v", 64, 8, 16, 2)
      Pq.reconstructionError(df, "vec_id", "v", books)
        .collect()(0).getAs[Double]("mean_sq_err")
    }
    val rawErr = mse(scaled)
    val permErr = mse(permuted)
    info(s"contiguous mse=$rawErr permuted mse=$permErr " +
      s"(${permErr / rawErr} of contiguous)")
    assert(permErr < rawErr,
      s"permutation did not reduce quantization error: $permErr >= $rawErr")
    // recall under a tight shortlist (ADC quality is the only lever —
    // the permutation preserves norms and dot products, so brute-force
    // truth is the same in either space)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val queries = df.filter(col("vec_id") < 20)
      val truth = Similarity.bruteForceTopK(df, queries, "vec_id", "v",
          "vec_id", 5)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Pq.pqTopK(df, queries, "vec_id", "v", "vec_id",
          k = 5, dim = 64, m = 8, kCodes = 16, shortlist = 10, iters = 2)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & got).size.toDouble / truth.size
    }
    val rawRecall = recallOf(scaled)
    val permRecall = recallOf(permuted)
    info(s"recall@5, shortlist 10: contiguous=$rawRecall permuted=$permRecall")
    assert(permRecall >= rawRecall,
      s"permutation hurt recall: $permRecall < $rawRecall")
  }

  test("vectors with null elements are excluded from BOTH training " +
      "passes — moments and means see the identical row set") {
    // a null element nulls the whole row out of the OuterUpper moment
    // pass (posexplode emits nothing) but, unfiltered, would still feed
    // the means pass — biasing mu against s(p)/n. The shared filter
    // must make training over a dirty corpus bit-equal training over
    // the corpus with the dirty rows removed.
    import spark.implicits._
    val clean = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0, 3.0, 4.0)),
      (2L, Seq[java.lang.Double](2.0, 1.0, 5.0, 2.0)),
      (3L, Seq[java.lang.Double](0.5, 3.0, 1.0, 6.0)),
      (4L, Seq[java.lang.Double](4.0, 0.0, 2.0, 1.0)),
      (5L, Seq[java.lang.Double](1.5, 2.5, 0.5, 3.5)))
    val dirty = clean ++ Seq(
      (6L, Seq[java.lang.Double](9.0, null, 9.0, 9.0)),
      (7L, null.asInstanceOf[Seq[java.lang.Double]]))
    val cleanDf = clean.toDF("vec_id", "v")
    val dirtyDf = dirty.toDF("vec_id", "v")
    assert(Pq.trainRotation(dirtyDf, "vec_id", "v", 4, 2) ===
      Pq.trainRotation(cleanDf, "vec_id", "v", 4, 2))
    assert(Pq.trainPermutation(dirtyDf, "vec_id", "v", 4, 2) ===
      Pq.trainPermutation(cleanDf, "vec_id", "v", 4, 2))
  }

  test("full OPQ rotation: decorrelates coordinate pairs a permutation " +
      "cannot — lower MSE than both contiguous and permuted") {
    // mix dim i with dim i+32 (FOUR subspaces apart) at a 10:1 energy
    // ratio: every coordinate carries equal variance (5.5² + 4.5²), so
    // the variance-balancing permutation is blind, and the correlation
    // spans DIFFERENT subspaces, so within-subspace k-means can't
    // absorb it either — only a rotation (PCA + eigenvalue allocation
    // recovering the (e_i ± e_{i+32})/√2 axes) removes the cross-
    // subspace redundancy
    val mixed = emb.select(col("vec_id"), expr(
      "transform(embedding, (x, i) -> CASE WHEN i < 32 " +
        "THEN cast(5.5d * x + 4.5d * element_at(embedding, cast(i + 33 as int)) as double) " +
        "ELSE cast(4.5d * element_at(embedding, cast(i - 31 as int)) + 5.5d * x as double) END)")
      .as("v"))
    val rot = Pq.trainRotation(mixed, "vec_id", "v", 64, 8)
    // rows orthonormal: R·Rᵀ = I (so L2/dot products are preserved)
    def dotd(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    (0 until 64).foreach(i =>
      assert(math.abs(dotd(rot(i), rot(i)) - 1.0) < 1e-8, s"row $i norm"))
    Seq((0, 1), (7, 40), (31, 63)).foreach { case (i, j) =>
      assert(math.abs(dotd(rot(i), rot(j))) < 1e-8, s"rows $i,$j") }
    // training is deterministic: retrain bit-equals (exact decimal
    // moments + fixed Jacobi sweep order)
    assert(Pq.trainRotation(mixed, "vec_id", "v", 64, 8) === rot)
    def mse(df: org.apache.spark.sql.DataFrame) = {
      val books = Pq.trainCodebooks(df, "vec_id", "v", 64, 8, 16, 2)
      Pq.reconstructionError(df, "vec_id", "v", books)
        .collect()(0).getAs[Double]("mean_sq_err")
    }
    val rawErr = mse(mixed)
    val perm = Pq.trainPermutation(mixed, "vec_id", "v", 64, 8)
    val permErr = mse(mixed.select(col("vec_id"),
      Pq.permute(col("v"), perm).as("v")))
    val rotErr = mse(mixed.select(col("vec_id"),
      Pq.rotate(col("v"), rot).as("v")))
    info(s"mse contiguous=$rawErr permuted=$permErr rotated=$rotErr " +
      f"(rotated = ${rotErr / rawErr}%.3f of contiguous)")
    assert(rotErr < rawErr,
      s"rotation did not reduce quantization error: $rotErr >= $rawErr")
    assert(rotErr < permErr,
      s"rotation should beat the permutation on correlated pairs: " +
        s"$rotErr >= $permErr")
  }

  test("planted near-twin is retrieved at rank 1 through the PQ path") {
    val twins = emb.filter(col("vec_id") < 5).select(
      (col("vec_id") + 100000).as("vec_id"),
      expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
        "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
        .as("embedding"))
    val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
    val res = Pq.pqTopK(aug, emb.filter(col("vec_id") < 5), "vec_id",
        "embedding", "vec_id", k = 1, dim = 64, m = 8, kCodes = 16,
        shortlist = 20, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 5).foreach { q =>
      assert(res(q.toLong) === q + 100000L,
        s"query $q: expected twin ${q + 100000}, got ${res.get(q.toLong)}")
    }
  }

  test("reconstruction error is small relative to vector norms") {
    val r = Pq.reconstructionError(emb, "vec_id", "embedding", books)
      .collect().head
    assert(r.getAs[Long]("rows") === 500L)
    val mse = r.getAs[Double]("mean_sq_err")
    val norm = r.getAs[Double]("mean_norm_sq")
    info(s"mean_sq_err=$mse mean_norm_sq=$norm ratio=${mse / norm}")
    assert(mse > 0.0 && mse < norm,
      "quantization error must be positive and below the signal energy")
  }

  test("encode kernel: generated code compiles and matches interpreted eval") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.functions.VectorExprs
    // 2 subspaces x 3 codewords x dsub 2; vector chosen so argmins differ
    val books = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(5.0, 5.0)),
      Seq(Seq(-1.0, 0.0), Seq(0.9, 1.1), Seq(2.0, 2.0)))
    val v = Literal.create(Seq(1.2, 0.8, 1.0, 1.0), ArrayType(DoubleType))
    val enc = VectorExprs.PqEncode(v, books)
    val rec = VectorExprs.PqReconSq(v, books)
    val interpCodes = enc.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray.toSeq
    assert(interpCodes === Seq(1, 1))
    val interpErr = rec.eval(null).asInstanceOf[Double]
    val expectErr = (1.2 - 1.0) * (1.2 - 1.0) + (0.8 - 1.0) * (0.8 - 1.0) +
      ((1.0 - 0.9) * (1.0 - 0.9) + (1.0 - 1.1) * (1.0 - 1.1))
    assert(math.abs(interpErr - expectErr) < 1e-12)
    // throws if janino rejects the generated code (a silent fallback
    // otherwise — the exact failure mode the kernel exists to fix)
    val proj = org.apache.spark.sql.catalyst.expressions.codegen
      .GenerateUnsafeProjection.generate(Seq(enc, rec))
    val row = proj.apply(org.apache.spark.sql.catalyst.InternalRow.empty)
    assert(row.getArray(0).toIntArray.toSeq === interpCodes)
    assert(row.getDouble(1) === interpErr)
  }

  test("permute kernel: compiles at full OPQ composition depth and " +
      "matches interpreted eval") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    import graft.functions.VectorExprs
    val dim = 64
    // 37 is coprime to 64, so p -> 37p mod 64 is a permutation
    val perm = (0 until dim).map(p => (p * 37) % dim)
    assert(perm.sorted == (0 until dim), "test perm must be a permutation")
    val vec = (0 until dim).map(i => i.toDouble * 0.5 - 3.0)
    val v = Literal.create(vec, ArrayType(DoubleType))
    val pExpr = VectorExprs.Permute(v, perm)
    val interp = pExpr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toDoubleArray.toSeq
    assert(interp === perm.map(vec), "permute semantics: out(i)=in(perm(i))")
    // the composed OPQ residual-encode shape that blew janino's 64 KB
    // limit when permute was 64 chained element_at slots (each cloning
    // the VecSubRow subtree): Permute over VecSubRow, PqEncode on top,
    // at real geometry (dim 64, 4 centroids, 8x16x8 books). generate()
    // throws on janino failure — a silent interpreted fallback otherwise.
    val centroids = (0 until 4).map(c =>
      (0 until dim).map(d => (c * dim + d).toDouble * 0.01))
    val fullBooks = (0 until 8).map(s => (0 until 16).map(j =>
      (0 until 8).map(d => (s * 128 + j * 8 + d).toDouble * 0.003 - 1.5)))
    val resid = VectorExprs.VecSubRow(v,
      Literal.create(2, IntegerType), centroids)
    val composed = VectorExprs.PqEncode(
      VectorExprs.Permute(resid, perm), fullBooks)
    val proj = org.apache.spark.sql.catalyst.expressions.codegen
      .GenerateUnsafeProjection.generate(Seq(composed))
    val row = proj.apply(org.apache.spark.sql.catalyst.InternalRow.empty)
    val compiled = row.getArray(0).toIntArray.toSeq
    val interpComposed = composed.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray.toSeq
    assert(compiled === interpComposed,
      "compiled and interpreted OPQ encode disagree")
  }

  test("permuted residual encode stays inside whole-stage codegen (starred)") {
    import graft.functions.VectorExprs
    val dim = 64
    val perm = Pq.trainPermutation(emb, "vec_id", "embedding", dim, 8)
    val centroids = (0 until 4).map(c =>
      (0 until dim).map(d => (c + d).toDouble * 0.01))
    val staged = emb.select(col("vec_id"),
      VectorExprs.pqEncode(
        Pq.permute(
          VectorExprs.vecSubRow(col("embedding").cast("array<double>"),
            pmod(col("vec_id"), lit(4)).cast("int"), centroids),
          perm),
        books).as("__codes"))
    staged.collect()
    val plan = org.apache.spark.sql.GraftSqlBridge.explainString(staged, "simple")
    val projLine = plan.linesIterator.find(_.contains("graft_permute")).get
    assert(projLine.trim.startsWith("*"), s"not codegen'd:\n$plan")
  }

  test("encode projection stays inside whole-stage codegen (starred)") {
    val codes = Pq.encode(emb, "vec_id", "embedding", books)
    codes.collect()
    val plan = org.apache.spark.sql.GraftSqlBridge.explainString(codes, "simple")
    val projLine = plan.linesIterator.find(_.contains("graft_pq_encode")).get
    assert(projLine.trim.startsWith("*"), s"not codegen'd:\n$plan")
  }

  test("guards: bad geometry and shortlist are rejected loudly") {
    intercept[IllegalArgumentException] {
      Pq.trainCodebooks(emb, "vec_id", "embedding", dim = 64, m = 7)
    }
    intercept[IllegalArgumentException] {
      Pq.pqTopK(emb, emb.limit(1), "vec_id", "embedding", "vec_id",
        k = 10, dim = 64, shortlist = 5)
    }
  }
}
