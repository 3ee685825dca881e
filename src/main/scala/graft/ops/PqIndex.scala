package graft.ops

import graft.functions.VectorExprs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted IVFADC index: [[IvfIndex]]'s cell-partitioned layout with
  * [[Pq]] codes stored NEXT TO the vectors — the composition production
  * ANN services run (Jégou et al. 2011 §IV). Codes quantize the
  * RESIDUAL `v − centroid(cell)` (§IV.B): residuals concentrate near
  * the origin whatever the cells' positions, so the same bit budget
  * spends itself on local structure instead of re-encoding which cell
  * a vector sits in. The two halves prune different axes:
  *
  *   - IVF prunes WHICH rows are read: the probe side broadcasts and
  *     dynamic partition pruning restricts the scan to the probed
  *     `__cell=` directories.
  *   - PQ shrinks WHAT a scanned row costs: the ADC candidate scan
  *     selects only (id, `__codes`) — parquet column pruning means the
  *     float vectors in the SAME files are never decoded, so the probed
  *     cells stream m ints/row instead of dim floats (32× at 8/64).
  *
  * The final ranking is exact: the per-query ADC shortlist is re-ranked
  * with true cosine, fetching vectors for just the shortlisted rows.
  * The shortlist stays a DataFrame end-to-end — bounded by queries ×
  * shortlist BY CONSTRUCTION (independent of corpus size), so it
  * broadcasts, and the fetch is a broadcast join on (`__cell`, id) over
  * a scan statically pruned to the probed cells (a ≤ nCells literal —
  * index-metadata scale, like the centroids). No shortlist row ever
  * round-trips the driver, which is what lets an offline million-query
  * probe batch (hard-negative mining over a whole training set) run as
  * one job.
  *
  * Layout under `path`:
  *   - `cells/__cell=<i>/…` — (id, `__codes`, vector), id-sorted files
  *   - `centroids.txt` — IVF centroids ([[IvfIndex]] format)
  *   - `codebooks.txt` — one line per codeword: `<subspace>:<c1,c2,…>`
  * All training is hash-seeded + decimal-meaned, so the index bytes and
  * every query result are reproducible across runs and layouts. */
object PqIndex {

  /** Train IVF centroids, then PQ codebooks on the RESIDUALS
    * `v − centroid(cell(v))` — the classic IVFADC arrangement (Jégou et
    * al. §IV.B): residuals concentrate near the origin regardless of
    * where cells sit, so a fixed bit budget quantizes them with less
    * error than raw vectors whenever the corpus has cluster structure.
    * Assign + residual ([[VectorExprs.VecSubRow]]) + encode
    * ([[VectorExprs.PqEncode]]) is a pure projection per row; the only
    * exchange is the cell repartition the layout requires. Files are
    * id-sorted for the fetch path's row-group skipping. */
  /** `opq = true` additionally learns [[Pq.trainPermutation]]'s
    * variance-balancing coordinate permutation over the RESIDUALS (the
    * vectors actually quantized), applies it before codebook training
    * and every encode, and persists it as `permutation.txt` — so the
    * stored codes live in balanced subspaces while the raw vectors,
    * the cell layout, and the exact re-rank are untouched (a
    * permutation preserves L2, so ADC distances in permuted space ARE
    * the residual distances). Indexes built without it carry no
    * permutation file and load as identity.
    *
    * `opqRotate = true` upgrades to the FULL parametric OPQ rotation
    * ([[Pq.trainRotation]] — PCA basis + eigenvalue allocation, Ge et
    * al. CVPR 2013): strictly more powerful (decorrelates coordinates,
    * not just re-deals them), persisted as `rotation.txt`, same
    * L2-preservation argument (orthonormal rows). Wins over `opq` when
    * both are set. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, path: String,
      dim: Int, nCells: Int = 16, m: Int = 8, kCodes: Int = 16,
      iters: Int = 3, trainSampleMod: Int = 1, opq: Boolean = false,
      opqRotate: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    val cents = Similarity.trainCentroids(corpus, idCol, vecCol, nCells,
      iters, trainSampleMod)
    val assigned = Similarity.assignCells(
      corpus.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v")),
      "__id", cents)
    val withCell = corpus.select(col(idCol), col(vecCol))
      .join(assigned.select(col("__id").as(idCol), col("__cell")), idCol)
    val rawResid = VectorExprs.vecSubRow(
      col(vecCol).cast("array<double>"), col("__cell"), cents)
    val resid = withCell.select(col(idCol), rawResid.as("__resid"))
    val xf: OpqTransform =
      if (opqRotate) OpqTransform.Rotation(Pq.trainRotation(resid, idCol,
        "__resid", dim, m, trainSampleMod))
      else if (opq) OpqTransform.Permutation(Pq.trainPermutation(resid,
        idCol, "__resid", dim, m, trainSampleMod))
      else OpqTransform.Identity
    val encIn = xf(rawResid)
    val residTrain = xf match {
      case OpqTransform.Identity => resid
      case t => resid.select(col(idCol), t(col("__resid")).as("__resid"))
    }
    val books = Pq.trainCodebooks(residTrain, idCol, "__resid", dim, m,
      kCodes, iters, trainSampleMod)
    IndexFiles.writeShaped(
        withCell.select(col(idCol),
          VectorExprs.pqEncode(encIn, books).as("__codes"),
          col(vecCol), col("__cell")), col("__cell"))
      .sortWithinPartitions(col(idCol))
      .write.mode("overwrite").partitionBy("__cell")
      .parquet(s"$path/cells")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val co = fs.create(new Path(s"$path/centroids.txt"), true)
    try co.write(cents.map(_.mkString(",")).mkString("\n").getBytes("UTF-8"))
    finally co.close()
    val bo = fs.create(new Path(s"$path/codebooks.txt"), true)
    try bo.write(books.zipWithIndex.flatMap { case (b, s) =>
      b.map(c => s"$s:${c.mkString(",")}")
    }.mkString("\n").getBytes("UTF-8"))
    finally bo.close()
    xf match {
      case OpqTransform.Permutation(p) =>
        val po = fs.create(new Path(s"$path/permutation.txt"), true)
        try po.write(p.mkString(",").getBytes("UTF-8"))
        finally po.close()
      case OpqTransform.Rotation(r) =>
        val ro = fs.create(new Path(s"$path/rotation.txt"), true)
        try ro.write(r.map(_.mkString(",")).mkString("\n").getBytes("UTF-8"))
        finally ro.close()
      case OpqTransform.Identity => ()
    }
  }

  /** Append a slice without retraining: assign to existing centroids,
    * encode with existing codebooks, append into the cell layout — same
    * contract (and the same centroid-drift caveat) as
    * [[IvfIndex.append]]. Appended files are id-sorted per slice; the
    * fetch path's row-group skipping degrades gracefully as slices pile
    * up until [[build]] re-sorts. Codebook drift is the quantization
    * twin of centroid drift: appended rows' error grows as the corpus
    * moves, and [[Pq.reconstructionError]] says when to rebuild. Slice
    * ids must be fresh. */
  def append(batch: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = batch.sparkSession
    val cents = IvfIndex.loadCentroids(spark, path)
    val books = loadCodebooks(spark, path)
    val xf = loadTransform(spark, path)
    val assigned = Similarity.assignCells(
      batch.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v")),
      "__id", cents)
    val rawResid = VectorExprs.vecSubRow(
      col(vecCol).cast("array<double>"), col("__cell"), cents)
    val encIn = xf(rawResid)
    batch.select(col(idCol), col(vecCol))
      .join(assigned.select(col("__id").as(idCol), col("__cell")), idCol)
      .select(col(idCol),
        VectorExprs.pqEncode(encIn, books).as("__codes"),
        col(vecCol), col("__cell"))
      .sortWithinPartitions(col(idCol))
      .write.mode("append").partitionBy("__cell")
      .parquet(s"$path/cells")
  }

  /** The space an index's codes live in: identity, a coordinate
    * permutation (`opq = true`), or a full orthogonal rotation
    * (`opqRotate = true`). Every encode — build, append, streaming
    * ingest, query residual — routes through [[OpqTransform.apply]] so
    * the four paths cannot drift. */
  sealed trait OpqTransform { def apply(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column }
  object OpqTransform {
    case object Identity extends OpqTransform {
      def apply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = c
    }
    final case class Permutation(p: Seq[Int]) extends OpqTransform {
      def apply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        Pq.permute(c, p)
    }
    final case class Rotation(r: Seq[Seq[Double]]) extends OpqTransform {
      def apply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        Pq.rotate(c, r)
    }
  }

  /** The persisted transform: `rotation.txt` wins, then
    * `permutation.txt`, else identity (pre-OPQ builds). */
  def loadTransform(spark: SparkSession, path: String): OpqTransform = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rp = new Path(s"$path/rotation.txt")
    if (fs.exists(rp)) {
      val in = fs.open(rp)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      OpqTransform.Rotation(text.trim.split("\n").toSeq
        .map(_.split(",").toSeq.map(_.toDouble)))
    } else loadPermutation(spark, path)
      .map(OpqTransform.Permutation(_): OpqTransform)
      .getOrElse(OpqTransform.Identity)
  }

  /** The persisted OPQ permutation, or None for an identity-layout
    * index (pre-OPQ builds, `opq = false`). */
  def loadPermutation(spark: SparkSession, path: String): Option[Seq[Int]] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(s"$path/permutation.txt")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(text.trim.split(",").toSeq.map(_.toInt))
    }
  }

  def loadCodebooks(spark: SparkSession, path: String): Seq[Seq[Seq[Double]]] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(s"$path/codebooks.txt"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split("\n").toSeq.map { line =>
      val Array(s, cs) = line.split(":", 2)
      (s.toInt, cs.split(",").toSeq.map(_.toDouble))
    }.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
  }

  /** Query the persisted index. Two scans, each pruned on its own axis:
    *   1. ADC candidate scan — probed cells only (dynamic partition
    *      pruning), (id, `__codes`) columns only (column pruning): the
    *      corpus floats stay on disk.
    *   2. Vector fetch — a broadcast join of the shortlist (bounded by
    *      queries × shortlist) against the cells on (`__cell`, id):
    *      partition pruning to shortlisted cells, floats decoded only
    *      for rows that survive the join. No driver round trip.
    * Output (query_id, neighbor_id, cosine, rank) — exact cosine over
    * the shortlist, same contract as [[IvfIndex.topK]]. */
  /** The ADC candidate frame of [[topK]]'s step 1, exposed so its plan
    * contracts (DPP to probed cells, codes-only ReadSchema) are
    * assertable in isolation: (query_id, __cell, idCol, __adc).
    *
    * Tables are per (query, probed cell) over the query RESIDUAL
    * q − centroid(cell) — matching the residual-encoded codes — and
    * carry the full |r_s − c|² per subspace, so `__adc` is the true
    * quantized distance and shortlists compare fairly ACROSS a query's
    * probed cells (Q × nprobe × m × kCodes doubles, still broadcast).
    * The probe set and the tables ride one broadcast frame, which is
    * also the dynamic-partition-pruning subquery for the cells scan. */
  private[graft] def adcCandidates(spark: SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String,
      queryIdCol: String, nprobe: Int): DataFrame =
    adcCandidatesWith(spark, path, queries, idCol, vecCol, queryIdCol,
      nprobe, IvfIndex.loadCentroids(spark, path),
      loadCodebooks(spark, path), loadTransform(spark, path))

  /** [[adcCandidates]] with the index artifacts preloaded — [[topK]]
    * loads them once and shares them with its fetch-side pruning. */
  private def adcCandidatesWith(spark: SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String,
      queryIdCol: String, nprobe: Int, cents: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]], xf: OpqTransform): DataFrame = {
    val cells = spark.read.parquet(s"$path/cells")
    val probes = Similarity.probeCells(queries, queryIdCol, vecCol,
      cents, nprobe)
    val qvecs = queries.filter(col(vecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qv"))
    val rawQresid = VectorExprs.vecSubRow(col("__qv"), col("__cell"), cents)
    val qresidCol = xf(rawQresid) // query residuals live in the codes' space
    val qresid = probes.join(qvecs, Seq("query_id"))
      .select(col("query_id"), col("__cell"), qresidCol.as("__rv"))
    val qt = broadcast(Pq.adcTablesKeyed(qresid,
      Seq("query_id", "__cell"), "__rv", books))
    cells.select(col("__cell"), col(idCol), col("__codes"))
      .join(qt, Seq("__cell"))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("__adc", aggregate(
        zip_with(col("__codes"), col("__tables"),
          (c, t) => element_at(t, c + 1)),
        lit(0.0), (acc, x) => acc + x))
      .select(col("query_id"), col("__cell"), col(idCol), col("__adc"))
  }

  /** `fetchViaInList = false` (default): the shortlist stays a DataFrame
    * end-to-end — bounded by queries × shortlist BY CONSTRUCTION, so it
    * broadcasts, and the vector fetch is a broadcast join on
    * (`__cell`, id): dynamic partition pruning restricts the float scan
    * to shortlisted cells and no row ever visits the driver. This is the
    * offline/fleet shape — a million-query hard-negative-mining batch
    * would put ~50M rows on the driver under a collect+IN plan.
    *
    * `fetchViaInList = true`: small-batch fast path — collect the
    * shortlist (still bounded) and fetch with static `__cell` IN +
    * id IN predicates, which parquet pushes to row-group min/max stats
    * over [[build]]'s id-sorted files: floats read ∝ shortlist instead
    * of ∝ shortlisted cells. Right for interactive handfuls of queries;
    * wrong for batches big enough that the IN lists themselves bloat
    * the plan. */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, k: Int,
      nprobe: Int = 4, shortlist: Int = 50,
      fetchViaInList: Boolean = false): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cells = spark.read.parquet(s"$path/cells")
    val cents = IvfIndex.loadCentroids(spark, path)
    val adc = adcCandidatesWith(spark, path, queries, idCol, vecCol,
      queryIdCol, nprobe, cents, loadCodebooks(spark, path),
      loadTransform(spark, path))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").asc, col(idCol).asc)
    val short = adc.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= shortlist)
      .select(col("query_id"), col("__cell"), col(idCol).as("neighbor_id"))
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn", VectorExprs.l2norm(col("__qv"))))
    val fetch = if (!fetchViaInList) {
      // static partition pruning for the float scan: the distinct probed
      // cells are ≤ nCells BY GEOMETRY (index metadata scale, the same
      // bounded-collect class as the centroids themselves) and computing
      // them touches only the query frame — never the corpus. DPP can't
      // be relied on here (the shortlist build side is a window subtree,
      // and Spark degenerates the pruning expression to `true`), so the
      // cell list is pinned into the scan as a literal IN.
      val probedCells = Similarity.probeCells(queries, queryIdCol, vecCol,
          cents, nprobe)
        .select(col("__cell")).distinct().collect().map(_.get(0)).toSeq
      cells
        .filter(col("__cell").isin(probedCells: _*))
        .select(col("__cell"), col(idCol).as("neighbor_id"),
          col(vecCol).cast("array<double>").as("__cv"))
        .join(broadcast(short), Seq("__cell", "neighbor_id"))
    } else {
      val rows = short.collect() // bounded: queries × shortlist
      val cellIds = rows.map(_.getAs[Any]("__cell")).distinct.toSeq
      val rowIds = rows.map(_.getAs[Any]("neighbor_id")).distinct.toSeq
      import scala.jdk.CollectionConverters._
      val shortDf = spark.createDataFrame(
        rows.map(r => org.apache.spark.sql.Row(
          r.getAs[Any]("query_id"), r.getAs[Any]("neighbor_id"))).toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            queries.schema(queryIdCol).dataType),
          org.apache.spark.sql.types.StructField("neighbor_id",
            cells.schema(idCol).dataType))))
      broadcast(shortDf).join(
        cells.filter(col("__cell").isin(cellIds: _*) &&
            col(idCol).isin(rowIds: _*))
          .select(col(idCol).as("neighbor_id"),
            col(vecCol).cast("array<double>").as("__cv")),
        Seq("neighbor_id"))
    }
    Similarity.rerankCarried(
      fetch.withColumn("__cn", VectorExprs.l2norm(col("__cv")))
        .select(col("query_id"), col("neighbor_id"), col("__cv"),
          col("__cn")), q, k)
  }

  /** Layout-only maintenance for the append tail: one id-sorted file per
    * cell (restores the fetch path's row-group skipping that unsorted
    * append slices erode). Write-then-rename-aside swap via
    * [[IndexFiles.compactWith]]; heal an interrupted swap with
    * [[recover]]. Returns (rows, files_before, files_after). */
  def compact(spark: SparkSession, path: String): DataFrame =
    IndexFiles.compactWith(spark, path, "cells") { df =>
      IndexFiles.writeShaped(df, col("__cell"))
        .sortWithinPartitions(col(df.columns.head))
        .write.mode("overwrite").partitionBy("__cell")
    }

  /** Heal a [[compact]] swap interrupted mid-crash-window; no-op on a
    * healthy index. */
  def recover(spark: SparkSession, path: String): String =
    IndexFiles.recover(spark, path, "cells")
}
