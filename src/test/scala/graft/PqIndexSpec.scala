package graft

import graft.ops.{PqIndex, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVFADC index: artifact round-trips, recall vs brute force, the three
  * pruning contracts (DPP on the ADC scan, codes-only ReadSchema, id-IN
  * pushdown on the vector fetch), append visibility, and compaction. */
class PqIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val emb =
    spark.read.parquet(s"${TestSpark.sf001Dir}/embeddings.parquet")

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_pqix").toString

  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  test("codebooks round-trip bit-exactly through the text artifact") {
    val tmp = fresh()
    PqIndex.build(emb, "vec_id", "embedding", tmp, dim = 64, nCells = 8,
      m = 8, kCodes = 16, iters = 2)
    val loaded = PqIndex.loadCodebooks(spark, tmp)
    // re-derive the RESIDUAL training frame the build used (v minus its
    // cell's centroid) and retrain — deterministic, so the text artifact
    // must reproduce it to the last bit
    val cents = graft.ops.IvfIndex.loadCentroids(spark, tmp)
    val assigned = Similarity.assignCells(
      emb.select(col("vec_id").as("__id"),
        col("embedding").cast("array<double>").as("__v")),
      "__id", cents)
    val resid = emb.select(col("vec_id"), col("embedding"))
      .join(assigned.select(col("__id").as("vec_id"), col("__cell")), "vec_id")
      .select(col("vec_id"), graft.functions.VectorExprs.vecSubRow(
        col("embedding").cast("array<double>"), col("__cell"), cents)
        .as("__resid"))
    val trained = graft.ops.Pq.trainCodebooks(resid, "vec_id", "__resid",
      dim = 64, m = 8, kCodes = 16, iters = 2)
    assert(loaded == trained)
  }

  test("recall@5 >= 0.9 vs exact IVF at the same nprobe (PQ loss only)") {
    val tmp = fresh()
    // 16x32 books (the PqSpec-documented dial for structureless random
    // vectors). The gate compares against EXACT search over the same
    // probed cells: the IVF probe miss is the nprobe trade both paths
    // share; this isolates what PQ's shortlist itself loses. Brute-force
    // recall is reported as info (the probe trade on uniform random
    // vectors — real clustered corpora concentrate neighbors in fewer
    // cells and probe far better).
    PqIndex.build(emb, "vec_id", "embedding", tmp, dim = 64, nCells = 16,
      m = 16, kCodes = 32, iters = 2)
    val queries = emb.filter(col("vec_id") < 20)
    val ivfExact = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        "vec_id", k = 5, nCells = 16, nprobe = 8, iters = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = PqIndex.topK(spark, tmp, queries, "vec_id", "embedding",
        "vec_id", k = 5, nprobe = 8, shortlist = 50)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivfExact & got).size.toDouble / ivfExact.size
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", "vec_id", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    info(s"IVFADC recall@5 vs same-nprobe exact IVF = $recall; " +
      s"vs brute force = ${(brute & got).size.toDouble / brute.size}")
    assert(recall >= 0.9, s"recall $recall < 0.9 vs same-nprobe exact IVF")
  }

  test("persisted OPQ: permutation round-trips, probe and append encode " +
      "in the permuted space, recall no worse than the contiguous index " +
      "on banded-energy data") {
    import graft.ops.Pq
    val scaled = emb.select(col("vec_id"),
      expr("transform(embedding, (x, i) -> " +
        "cast(x * (1.0 + 3.0 * cast(i div 8 as double)) as float))").as("v"))
    val queries = scaled.filter(col("vec_id") < 20)
    val truth = Similarity.ivfTopK(scaled, queries, "vec_id", "v",
        "vec_id", k = 5, nCells = 16, nprobe = 8, iters = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(path: String, opq: Boolean): Double = {
      PqIndex.build(scaled, "vec_id", "v", path, dim = 64, nCells = 16,
        m = 8, kCodes = 16, iters = 2, opq = opq)
      assert(PqIndex.loadPermutation(spark, path).isDefined === opq)
      val got = PqIndex.topK(spark, path, queries, "vec_id", "v",
          "vec_id", k = 5, nprobe = 8, shortlist = 10)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & got).size.toDouble / truth.size
    }
    val plain = recallOf(fresh(), opq = false)
    val opqPath = fresh()
    val opq = recallOf(opqPath, opq = true)
    info(s"recall@5 vs same-nprobe exact IVF, shortlist 10: " +
      s"contiguous=$plain opq=$opq")
    assert(opq >= plain, s"OPQ hurt recall: $opq < $plain")
    val perm = PqIndex.loadPermutation(spark, opqPath).get
    assert(perm.sorted == (0 until 64) && perm != (0 until 64))
    // append goes through the SAME permuted encode: a planted twin is
    // retrievable at rank 1 from the appended slice
    val twins = scaled.filter(col("vec_id") < 3).select(
      (col("vec_id") + 200000).as("vec_id"),
      expr("transform(v, x -> cast(x * 1.01 as float))").as("v"))
    PqIndex.append(twins, "vec_id", "v", opqPath)
    val res = PqIndex.topK(spark, opqPath,
        scaled.filter(col("vec_id") < 3), "vec_id", "v", "vec_id",
        k = 1, nprobe = 4, shortlist = 20)
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 3).foreach(q => assert(res(q.toLong) === q + 200000L,
      s"appended twin of $q not at rank 1: ${res.get(q.toLong)}"))
  }

  test("persisted OPQ rotation: rotation.txt round-trips, probe and " +
      "append encode in the rotated space, recall no worse than the " +
      "contiguous index on correlated data") {
    import graft.ops.Pq
    // cross-subspace correlated pairs (dim i mixed with dim i+32, four
    // subspaces apart — the case neither a permutation nor
    // within-subspace k-means can fix)
    val mixed = emb.select(col("vec_id"), expr(
      "transform(embedding, (x, i) -> CASE WHEN i < 32 " +
        "THEN cast(5.5d * x + 4.5d * element_at(embedding, cast(i + 33 as int)) as double) " +
        "ELSE cast(4.5d * element_at(embedding, cast(i - 31 as int)) + 5.5d * x as double) END)")
      .as("v"))
    val queries = mixed.filter(col("vec_id") < 20)
    val truth = Similarity.ivfTopK(mixed, queries, "vec_id", "v",
        "vec_id", k = 5, nCells = 16, nprobe = 8, iters = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(path: String, rotate: Boolean): Double = {
      PqIndex.build(mixed, "vec_id", "v", path, dim = 64, nCells = 16,
        m = 8, kCodes = 16, iters = 2, opqRotate = rotate)
      val got = PqIndex.topK(spark, path, queries, "vec_id", "v",
          "vec_id", k = 5, nprobe = 8, shortlist = 10)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & got).size.toDouble / truth.size
    }
    val plain = recallOf(fresh(), rotate = false)
    val rotPath = fresh()
    val rotated = recallOf(rotPath, rotate = true)
    info(s"recall@5 vs same-nprobe exact IVF, shortlist 10: " +
      s"contiguous=$plain rotated=$rotated")
    assert(rotated >= plain, s"rotation hurt recall: $rotated < $plain")
    // the persisted artifact round-trips and loads as a Rotation
    PqIndex.loadTransform(spark, rotPath) match {
      case PqIndex.OpqTransform.Rotation(r) =>
        assert(r.length === 64 && r.forall(_.length === 64))
        val n0 = r.head.map(x => x * x).sum
        assert(math.abs(n0 - 1.0) < 1e-8, "persisted rows not unit-norm")
      case other => fail(s"expected Rotation, loaded $other")
    }
    // append goes through the SAME rotated encode: a planted twin is
    // retrievable at rank 1 from the appended slice
    val twins = mixed.filter(col("vec_id") < 3).select(
      (col("vec_id") + 300000).as("vec_id"),
      expr("transform(v, x -> x * 1.01d)").as("v"))
    PqIndex.append(twins, "vec_id", "v", rotPath)
    val res = PqIndex.topK(spark, rotPath,
        mixed.filter(col("vec_id") < 3), "vec_id", "v", "vec_id",
        k = 1, nprobe = 4, shortlist = 20)
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 3).foreach(q => assert(res(q.toLong) === q + 300000L,
      s"appended twin of $q not at rank 1: ${res.get(q.toLong)}"))
  }

  test("ADC scan: DPP on probed cells, codes-only ReadSchema (no floats)") {
    val tmp = fresh()
    PqIndex.build(emb, "vec_id", "embedding", tmp, dim = 64, nCells = 16,
      m = 8, kCodes = 16, iters = 2)
    val queries = emb.filter(col("vec_id") < 3)
    val result = PqIndex.topK(spark, tmp, queries, "vec_id", "embedding",
      "vec_id", k = 5, nprobe = 2, shortlist = 20)
    result.collect()
    // topK's shortlist collect executes the ADC scan in its own job;
    // inspect the candidate side's executed plan in isolation
    val adc = PqIndex.adcCandidates(spark, tmp, queries, "vec_id",
      "embedding", "vec_id", nprobe = 2)
    adc.collect()
    val plan = adc.queryExecution.executedPlan
    assert(plan.toString.contains("dynamicpruning"),
      s"no dynamic partition pruning on the ADC scan:\n${plan.toString.take(3000)}")
    val scan = scans(plan).find(_.toString.contains("cells"))
      .getOrElse(fail("no cells scan"))
    assert(!scan.schema.fieldNames.contains("embedding"),
      s"ADC scan decodes the float column: ${scan.schema.fieldNames.mkString(",")}")
  }

  test("default fetch is driver-free: broadcast shortlist join, no " +
      "local-table scan, and bit-identical to the IN-list fast path") {
    val tmp = fresh()
    PqIndex.build(emb, "vec_id", "embedding", tmp, dim = 64, nCells = 16,
      m = 8, kCodes = 16, iters = 2)
    val queries = emb.filter(col("vec_id") < 3)
    val joined = PqIndex.topK(spark, tmp, queries, "vec_id", "embedding",
      "vec_id", k = 5, nprobe = 2, shortlist = 20)
    val viaIn = PqIndex.topK(spark, tmp, queries, "vec_id", "embedding",
      "vec_id", k = 5, nprobe = 2, shortlist = 20, fetchViaInList = true)
    val a = joined.collect().map(_.toSeq).sortBy(_.mkString("§")).toSeq
    val b = viaIn.collect().map(_.toSeq).sortBy(_.mkString("§")).toSeq
    assert(a == b, "fetch modes disagree")
    val plan = joined.queryExecution.executedPlan
    val s = plan.toString
    // a collected shortlist resurfaces as a LocalTableScan — the default
    // plan must not have one (every input is a file scan or broadcast)
    assert(!s.contains("LocalTableScan"),
      s"driver-fed shortlist in the default plan:\n${s.take(3000)}")
    assert(s.contains("BroadcastHashJoin"), "fetch join is not broadcast")
    assert(!s.contains("SortMergeJoin"),
      "fetch must not shuffle-join the corpus")
    // the float-fetch scan stays partition-pruned to the probed cells
    // (3 queries x nprobe 2 <= 6 of 16 cells; static IN, not DPP)
    val fetchScan = scans(plan).filter(f =>
      f.schema.fieldNames.contains("embedding"))
    assert(fetchScan.nonEmpty, "no float fetch scan")
    assert(fetchScan.forall(_.selectedPartitions.partitionCount <= 6),
      s"fetch scan not cell-pruned: " +
        s"${fetchScan.map(_.selectedPartitions.partitionCount)}")
    // exchanges stay bounded: the ADC/probe subtree's aggregations plus
    // the two query_id windows (shortlist rank + final re-rank) — the
    // fetch join itself must not add a hash-partition exchange
    val hashEx = s.split("\n").count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx <= 5, s"unexpected exchanges ($hashEx):\n${s.take(3000)}")
  }

  test("IN-list fast path: static cell pruning + pushed id IN filter") {
    val tmp = fresh()
    PqIndex.build(emb, "vec_id", "embedding", tmp, dim = 64, nCells = 16,
      m = 8, kCodes = 16, iters = 2)
    val cells = spark.read.parquet(s"$tmp/cells")
    val fetch = cells.filter(col("__cell").isin(0, 1) &&
        col("vec_id").isin(7L, 11L, 13L))
      .select("vec_id", "embedding")
    fetch.collect()
    val scan = scans(fetch.queryExecution.executedPlan).headOption
      .getOrElse(fail("no file scan"))
    assert(scan.selectedPartitions.partitionCount <= 2,
      s"expected <=2 of 16 cell partitions, read " +
        s"${scan.selectedPartitions.partitionCount}")
    assert(scan.metadata("PushedFilters").contains("In(vec_id"),
      s"id IN not pushed: ${scan.metadata("PushedFilters")}")
  }

  test("append: new twins retrievable, codebooks and centroids untouched") {
    val tmp = fresh()
    PqIndex.build(emb, "vec_id", "embedding", tmp, dim = 64, nCells = 16,
      m = 16, kCodes = 32, iters = 2)
    val booksBefore = PqIndex.loadCodebooks(spark, tmp)
    val twins = emb.filter(col("vec_id") < 5).select(
      (col("vec_id") + 100000).as("vec_id"),
      expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
        "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
        .as("embedding"))
    PqIndex.append(twins, "vec_id", "embedding", tmp)
    assert(PqIndex.loadCodebooks(spark, tmp) == booksBefore)
    val res = PqIndex.topK(spark, tmp, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", "vec_id", k = 1, nprobe = 4, shortlist = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 5).foreach { q =>
      assert(res(q.toLong) === q + 100000L,
        s"query $q: expected appended twin, got ${res.get(q.toLong)}")
    }
  }

  test("compact: one file per cell, results identical, recover is a no-op") {
    val tmp = fresh()
    PqIndex.build(emb, "vec_id", "embedding", tmp, dim = 64, nCells = 8,
      m = 8, kCodes = 16, iters = 2)
    val twins = emb.filter(col("vec_id") < 3).select(
      (col("vec_id") + 200000).as("vec_id"), col("embedding"))
    PqIndex.append(twins, "vec_id", "embedding", tmp)
    val queries = emb.filter(col("vec_id") < 10)
    val before = PqIndex.topK(spark, tmp, queries, "vec_id", "embedding",
        "vec_id", k = 5, nprobe = 4, shortlist = 30)
      .collect().map(_.toSeq).toSet
    val receipt = PqIndex.compact(spark, tmp).collect().head
    assert(receipt.getAs[Long]("files_after") <= 8L)
    assert(receipt.getAs[Long]("files_before") >
      receipt.getAs[Long]("files_after"))
    val after = PqIndex.topK(spark, tmp, queries, "vec_id", "embedding",
        "vec_id", k = 5, nprobe = 4, shortlist = 30)
      .collect().map(_.toSeq).toSet
    assert(after == before, "compaction changed query results")
    assert(PqIndex.recover(spark, tmp) == "ok")
  }

  test("residual codebooks quantize clustered data far better than raw") {
    // the testdata embeddings are near-uniform, where residual vs raw is
    // a wash — build a CLUSTERED corpus (the regime residual encoding
    // exists for): 8 well-separated centers, rows = center + small noise.
    // Raw PQ must spend its bits re-encoding which center a row sits at;
    // residual PQ only encodes the noise. Deterministic seed.
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextDouble() * 4 - 2))
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding")
    val rawBooks = graft.ops.Pq.trainCodebooks(df, "vec_id", "embedding",
      dim = 64, m = 8, kCodes = 16, iters = 2)
    val rawErr = graft.ops.Pq.reconstructionError(df, "vec_id", "embedding",
      rawBooks).collect().head.getAs[Double]("mean_sq_err")
    val tmp = fresh()
    PqIndex.build(df, "vec_id", "embedding", tmp, dim = 64, nCells = 8,
      m = 8, kCodes = 16, iters = 2)
    val cents = graft.ops.IvfIndex.loadCentroids(spark, tmp)
    val residBooks = PqIndex.loadCodebooks(spark, tmp)
    val assigned = Similarity.assignCells(
      df.select(col("vec_id").as("__id"),
        col("embedding").cast("array<double>").as("__v")),
      "__id", cents)
    val resid = df
      .join(assigned.select(col("__id").as("vec_id"), col("__cell")), "vec_id")
      .select(col("vec_id"), graft.functions.VectorExprs.vecSubRow(
        col("embedding").cast("array<double>"), col("__cell"), cents)
        .as("__resid"))
    val residErr = graft.ops.Pq.reconstructionError(resid, "vec_id",
      "__resid", residBooks).collect().head.getAs[Double]("mean_sq_err")
    info(s"raw mean_sq_err=$rawErr residual mean_sq_err=$residErr " +
      s"(${residErr / rawErr} of raw)")
    assert(residErr < rawErr * 0.5,
      s"residual books should at least halve the error on clustered data: " +
        s"raw $rawErr vs residual $residErr")
  }

  test("guards: shortlist >= k enforced") {
    intercept[IllegalArgumentException] {
      PqIndex.topK(spark, "/tmp/nonexistent", emb.limit(1), "vec_id",
        "embedding", "vec_id", k = 10, shortlist = 5)
    }
  }
}
