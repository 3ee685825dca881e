package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted image-fingerprint index: perceptual hashes of a 100 TB
  * image corpus stored as pigeonhole chunk keys PARTITIONED BY a hash
  * bucket, so deduplicating a NEW batch of images reads only the
  * partitions the batch's own fingerprints land in — the multimodal
  * twin of [[DedupIndex]] (text), [[IvfIndex]] (vectors) and
  * [[TextIndex]] (keywords). Without it, every incoming slice pays a
  * full-corpus pair pass ([[Multimodal.imageNearDupPairs]]); with it,
  * per-batch cost is proportional to the batch.
  *
  * The index stores FINGERPRINTS, not pixels (16 bytes of ids + hash
  * per chunk row): the decode — the only pixel pass — happens once per
  * image at build/ingest via [[Multimodal.imageLumaGrid]], and the
  * codegen'd aHash/dHash kernels reduce each image to a 64-bit
  * signature robust to recompression, format conversion and uniform
  * brightness shifts. Matching uses the same pigeonhole contract as
  * [[Dedup.simHashPairs]]: two signatures within `maxDistance` Hamming
  * MUST agree on one of the `maxDistance + 1` chunks, so candidates
  * come from equi-joins on (chunk idx, chunk value) — never all-pairs.
  *
  * Layout under `path`:
  *   - `keys/__pb=<b>/…` — (id, c, v, sig) rows: each image's signature
  *     exploded into its pigeonhole chunks, partitioned by a hash
  *     bucket of the chunk key; the signature is denormalized onto
  *     every chunk row so candidate scoring needs no second fetch
  *   - `meta.txt` — `maxDistance,gridSize,method,nBuckets,nDroppedBlocks`
  *
  * Skew contract (same as the text family): chunk blocks holding more
  * than `maxBlockSize` images (solid-color thumbnails, watermark
  * plates) are dropped AT BUILD from candidate generation and the drop
  * count recorded in `meta.txt` — no silent caps. Undecodable images
  * carry no fingerprint: they are reported `undecodable` in ingest
  * receipts and never indexed (a 100 TB scan must not fail on one bad
  * object).
  */
object ImageIndex {

  private def partBucket(nBuckets: Int) =
    pmod(xxhash64(col("c"), col("v")), lit(nBuckets.toLong))
      .cast("int").as("__pb")

  /** Fingerprint + chunk-key computation shared verbatim with
    * [[Multimodal.imageNearDupPairs]] — index and live pass can never
    * drift. Returns (id, sig, c, v); undecodable images are absent. */
  private def sigChunkRows(df: DataFrame, idCol: String, binCol: String,
      maxDistance: Int, gridSize: Int, method: String): DataFrame = {
    val fp: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      method match {
        case "ahash" => Multimodal.averageHash
        case "dhash" => Multimodal.differenceHash
        case other => throw new IllegalArgumentException(
          s"unknown fingerprint method '$other' (ahash | dhash)")
      }
    val sigs = Multimodal.imageLumaGrid(df, idCol, binCol, gridSize)
      .filter(col("grid").isNotNull)
      .select(col("media_id").as("id"), fp(col("grid")).as("sig"))
      .filter(col("sig").isNotNull)
    Dedup.sigChunks(sigs, maxDistance)
  }

  def build(corpus: DataFrame, idCol: String, binCol: String,
      path: String, maxDistance: Int = 6, gridSize: Int = 8,
      method: String = "ahash", nBuckets: Int = 64,
      maxBlockSize: Int = 1000): Unit =
    writeIndex(sigChunkRows(corpus, idCol, binCol, maxDistance, gridSize,
        method), corpus.sparkSession, path, maxDistance, gridSize, method,
      nBuckets, maxBlockSize)

  /** [[build]]'s tail for already-fingerprinted chunk rows — shared with
    * the bootstrap ingest path, which has the chunks in hand (decoded
    * once, self-dedup already applied) and must not decode again. */
  private def writeIndex(keys: DataFrame, spark: SparkSession,
      path: String, maxDistance: Int, gridSize: Int, method: String,
      nBuckets: Int, maxBlockSize: Int): Unit = {
    // build-time skew cap: one window over the write shuffle's exchange
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c"), col("v"))
    val sized = keys.withColumn("__bc", count(lit(1)).over(w))
    val dropped = sized.filter(col("__bc") > maxBlockSize)
      .select(col("c"), col("v")).distinct().count()
    IndexFiles.writeShaped(
        sized.filter(col("__bc") <= maxBlockSize)
          .select(col("id"), col("c"), col("v"), col("sig"),
            partBucket(nBuckets)), col("__pb"))
      .write.mode("overwrite").partitionBy("__pb")
      .parquet(s"$path/keys")
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(s"$path/meta.txt"), true)
    try out.write(s"$maxDistance,$gridSize,$method,$nBuckets,$dropped"
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** `(maxDistance, gridSize, method, nBuckets, nDroppedBlocks)`. */
  def loadMeta(spark: SparkSession, path: String): (Int, Int, String, Int, Long) = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(s"$path/meta.txt"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val p = text.trim.split(",")
    (p(0).toInt, p(1).toInt, p(2), p(3).toInt, p(4).toLong)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(s"$path/meta.txt"))
  }

  /** Near-duplicate matches of `batch` images against the indexed
    * corpus: (corpus_id, batch_id, hamming ≤ maxDistance). The batch's
    * chunk keys join the keys store on (__pb, c, v); the scan is pruned
    * STATICALLY to the batch's own partition buckets (the collected
    * bucket list is ≤ nBuckets ints — bounded driver traffic, and
    * deterministic where DPP's benefit heuristic is not) — corpus I/O
    * ∝ batch keys. Fingerprint parameters come from `meta.txt` — a
    * batch can never be hashed differently than the index it queries. */
  def query(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, binCol: String): DataFrame = {
    val (maxDistance, gridSize, method, nBuckets, _) = loadMeta(spark, path)
    val probes = sigChunkRows(batch, idCol, binCol, maxDistance, gridSize,
        method)
      .select(col("id").as("batch_id"), col("c"), col("v"),
        partBucket(nBuckets), col("sig").as("__bsig"))
    matchProbes(spark, path, probes, maxDistance)
  }

  /** [[query]] body for an already-keyed probe frame — an ingest slice
    * is small by contract, so the probe is checkpointed once (it also
    * feeds the join's broadcast) and its distinct buckets prune the
    * keys scan. */
  private def matchProbes(spark: SparkSession, path: String,
      probes0: DataFrame, maxDistance: Int): DataFrame = {
    val probes = probes0.localCheckpoint(true)
    val pbs = probes.select(col("__pb")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val empty = probes.limit(0).select(col("batch_id").as("corpus_id"),
      col("batch_id"), lit(0L).as("hamming"))
    if (pbs.isEmpty) return empty
    IndexFiles.readShaped(spark, s"$path/keys")
      .filter(col("__pb").isin(pbs: _*))
      .join(broadcast(probes), Seq("__pb", "c", "v"))
      .select(col("id").as("corpus_id"), col("batch_id"),
        bit_count(col("sig").bitwiseXOR(col("__bsig"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxDistance)
      .groupBy(col("corpus_id"), col("batch_id"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Fold one arriving slice into the index — the image twin of
    * [[DedupIndex.ingest]]: match against the indexed corpus
    * (partition-pruned), self-dedup within the batch (pigeonhole pair
    * pass over batch signatures only), append the survivors' chunk
    * keys, and durably write per-image verdicts to the `last_ingest/`
    * receipt (`fresh` | `corpus_dup` | `batch_dup` | `undecodable`).
    * A missing index bootstraps from the first slice. Returns the
    * receipt frame, which holds the most recent slice only. Delivery
    * composes with foreachBatch's at-least-once: a replayed batch
    * re-appends rows it already wrote — space, not correctness,
    * degrades (matching is idempotent), and a periodic [[build]]
    * rebuild is the cleanup path. */
  def ingest(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, binCol: String, maxDistance: Int = 6,
      gridSize: Int = 8, method: String = "ahash",
      maxBlockSize: Int = 1000): DataFrame = {
    if (!exists(spark, path)) {
      // bootstrap follows the SAME receipt contract as every later
      // batch: in-batch perceptual dups self-dedup first (larger id
      // drops as 'batch_dup'), only survivors are indexed — batch 0 is
      // not a special case that double-indexes its own duplicates
      val chunks = sigChunkRows(batch, idCol, binCol, maxDistance,
        gridSize, method).localCheckpoint(true)
      val selfDups = Dedup.hammingBandedPairs(chunks, maxDistance,
          maxBlockSize, pairPar = 0)
        .select(col("id_b").as("media_id")).distinct()
      val decoded = chunks.select(col("id").as("media_id")).distinct()
      val verdicts = batch.select(col(idCol).cast("long").as("media_id"))
        .join(decoded.withColumn("__dec", lit(true)), Seq("media_id"), "left")
        .join(selfDups.withColumn("__sd", lit(true)), Seq("media_id"), "left")
        .select(col("media_id"),
          when(col("__dec").isNull, "undecodable")
            .when(col("__sd").isNotNull, "batch_dup")
            .otherwise("fresh").as("verdict"))
      val survivors = verdicts.filter(col("verdict") === "fresh")
        .select(col("media_id").as("id"))
      writeIndex(chunks.join(survivors, Seq("id")), spark, path,
        maxDistance, gridSize, method, nBuckets = 64, maxBlockSize)
      verdicts.write.mode("overwrite").parquet(s"$path/last_ingest")
      return spark.read.parquet(s"$path/last_ingest")
    }
    val (md, gs, meth, nBuckets, _) = loadMeta(spark, path)
    val chunks = sigChunkRows(batch, idCol, binCol, md, gs, meth)
      .localCheckpoint(true) // decode once: matched + self-dedup + append
    val corpusDups = matchProbes(spark, path,
      chunks.select(col("id").as("batch_id"), col("c"), col("v"),
        partBucket(nBuckets), col("sig").as("__bsig")), md)
      .select(col("batch_id").as("media_id")).distinct()
    // self-dedup: larger id of any in-batch pair drops (pins off — a
    // micro-batch is far below the pair-pin size gate by construction)
    val selfDups = Dedup.hammingBandedPairs(chunks, md, maxBlockSize,
        pairPar = 0)
      .select(col("id_b").as("media_id")).distinct()
    val decoded = chunks.select(col("id").as("media_id")).distinct()
    val verdicts = batch.select(col(idCol).cast("long").as("media_id"))
      .join(decoded.withColumn("__dec", lit(true)), Seq("media_id"), "left")
      .join(corpusDups.withColumn("__cd", lit(true)), Seq("media_id"), "left")
      .join(selfDups.withColumn("__sd", lit(true)), Seq("media_id"), "left")
      .select(col("media_id"),
        when(col("__dec").isNull, "undecodable")
          .when(col("__cd").isNotNull, "corpus_dup")
          .when(col("__sd").isNotNull, "batch_dup")
          .otherwise("fresh").as("verdict"))
    val survivors = verdicts.filter(col("verdict") === "fresh")
      .select(col("media_id").as("id"))
    IndexFiles.writeShaped(
        chunks.join(survivors, Seq("id"))
          .select(col("id"), col("c"), col("v"), col("sig"),
            partBucket(nBuckets)), col("__pb"))
      .write.mode("append").partitionBy("__pb")
      .parquet(s"$path/keys")
    verdicts.write.mode("overwrite").parquet(s"$path/last_ingest")
    spark.read.parquet(s"$path/last_ingest")
  }
}
