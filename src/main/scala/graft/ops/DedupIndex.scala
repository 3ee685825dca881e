package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted MinHash-LSH dedup index: the corpus's band keys and
  * signatures stored PARTITIONED BY a hash bucket of the band key, so
  * deduplicating a NEW batch against a 100 TB corpus reads only the
  * partitions the batch's own keys land in — the near-dup twin of
  * [[IvfIndex]] (vectors) and [[TextIndex]] (keywords). Without an
  * index, every incoming crawl slice pays a full-corpus LSH pass
  * ([[Dedup.crossCorpusNearDups]]); with it, per-batch cost is
  * proportional to the batch.
  *
  * The index stores SIGNATURES, not text (storage ∝ docs × numHashes
  * ints, not corpus bytes), so matches carry the standard signature
  * estimate of Jaccard — component agreement of the two signatures,
  * unbiased with σ ≈ 1/√numHashes (~0.125 at 64 hashes). Callers
  * wanting exact similarity join the matched pairs back to text and
  * use [[Dedup.ngramJaccardWithinBlocks]]-style verification; for a
  * drop/keep gate at threshold ≥ 0.5 the estimate is what production
  * dedup services act on.
  *
  * Layout under `path`:
  *   - `keys/__pb=<b>/…` — (id, band, bucket, sig) rows, the signature
  *     denormalized onto each of the doc's `bands` keys (≈ bands ×
  *     numHashes ints per doc) so candidate scoring needs no second,
  *     unpruned signature fetch — same trade as [[TextIndex]]'s
  *     df/doc_len denormalization
  *   - `meta.txt` — `shingleSize,numHashes,bands,nBuckets,nDroppedBuckets`
  *
  * Skew contract (same as [[Dedup.minHashLSH]]): band buckets holding
  * more than `maxBucketSize` docs (boilerplate/empty-doc clusters) are
  * dropped AT BUILD from candidate generation — a batch doc landing
  * only in dropped buckets reports no near-dups even if some exist;
  * exact copies of such docs are [[Dedup.exactDuplicates]]'s job. The
  * drop count is recorded in `meta.txt` (no silent caps).
  */
object DedupIndex {

  private def partBucket(nBuckets: Int) =
    pmod(col("bucket"), lit(nBuckets.toLong)).cast("int").as("__pb")

  /** Signature + band-key computation shared verbatim with
    * [[Dedup.minHashLSH]] — index and live pass can never drift. The
    * signature array rides the band explosion directly (no join-back:
    * the front is a single native projection, see
    * [[Dedup.minhashFront]]). */
  private def sigKeys(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int): DataFrame =
    Dedup.minhashFront(df, idCol, textCol, shingleSize, numHashes)
      .select(col("id"), col("__sigs").cast("array<int>").as("sig"),
        explode(Dedup.bandStructs(numHashes, bands)).as("lsh"))
      .select(col("id"), col("lsh.band"), col("lsh.bucket"), col("sig"))

  def build(corpus: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16, nBuckets: Int = 64,
      maxBucketSize: Int = 1000): Unit = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = corpus.sparkSession
    val keys = sigKeys(corpus, idCol, textCol, shingleSize, numHashes,
      bands)
    // build-time skew cap: count docs per band bucket on the already-
    // keyed frame (one window over the write shuffle's own exchange)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    val sized = keys.withColumn("__bc", count(lit(1)).over(w))
    val kept = sized.filter(col("__bc") <= maxBucketSize)
    val dropped = sized.filter(col("__bc") > maxBucketSize)
      .select(col("band"), col("bucket")).distinct().count()
    IndexFiles.writeShaped(
        kept.select(col("id"), col("band"), col("bucket"), col("sig"),
          partBucket(nBuckets)), col("__pb"))
      .write.mode("overwrite").partitionBy("__pb")
      .parquet(s"$path/keys")
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(s"$path/meta.txt"), true)
    try out.write(s"$shingleSize,$numHashes,$bands,$nBuckets,$dropped"
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** `(shingleSize, numHashes, bands, nBuckets, nDroppedBuckets)`. */
  def loadMeta(spark: SparkSession, path: String): (Int, Int, Int, Int, Long) = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(s"$path/meta.txt"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val p = text.trim.split(",")
    (p(0).toInt, p(1).toInt, p(2).toInt, p(3).toInt, p(4).toLong)
  }

  /** Near-duplicate matches of `batch` against the indexed corpus:
    * (batch_id, corpus_id, est_jaccard ≥ threshold). The batch's band
    * keys are broadcast and joined on (__pb, band, bucket), so dynamic
    * partition pruning restricts the keys scan to the batch's own
    * partition buckets — corpus I/O ∝ batch keys, not corpus size. The
    * signature-agreement estimate runs only on candidate pairs (already
    * bucket-filtered), where the interpreted zip_with is microseconds
    * against the join's row count. LSH parameters come from `meta.txt`
    * — a batch can never be keyed differently than the index it
    * queries. */
  def query(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val (shingleSize, numHashes, bands, nBuckets, _) = loadMeta(spark, path)
    val probes = sigKeys(batch, idCol, textCol, shingleSize, numHashes,
        bands)
      .select(col("id").as("batch_id"), col("band"), col("bucket"),
        partBucket(nBuckets), col("sig").as("__bsig"))
    matchProbes(spark, path, probes, numHashes, threshold)
  }

  /** [[query]] body for an already-keyed probe frame
    * (batch_id, band, bucket, __pb, __bsig) — lets [[ingest]] reuse the
    * batch's one signature pass for both the corpus match and the
    * in-batch self match. */
  private def matchProbes(spark: SparkSession, path: String,
      probes: DataFrame, numHashes: Int, threshold: Double): DataFrame = {
    // a corpus whose every bucket crossed the build cap writes an empty
    // dataset (no parquet footers to infer from) — that index matches
    // nothing, which is exactly what an empty result says
    val index = try IndexFiles.readShaped(spark, s"$path/keys")
      .select(col("id").as("corpus_id"), col("band"), col("bucket"),
        col("__pb"), col("sig").as("__csig"))
    catch { case _: org.apache.spark.sql.AnalysisException =>
      return probes.limit(0)
        .select(col("batch_id"), col("batch_id").as("corpus_id"),
          lit(0.0).as("est_jaccard"))
    }
    index.join(broadcast(probes), Seq("__pb", "band", "bucket"))
      .filter(col("corpus_id") =!= col("batch_id"))
      // a pair colliding in several bands is one candidate; signatures
      // are identical across its copies so any row represents the pair
      .dropDuplicates("batch_id", "corpus_id")
      .withColumn("est_jaccard", sigAgreement(numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("est_jaccard"))
  }

  /** Signature-agreement Jaccard estimate over `__bsig`/`__csig`. */
  private def sigAgreement(numHashes: Int) =
    aggregate(zip_with(col("__bsig"), col("__csig"),
        (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / numHashes

  /** Dedupe-and-append: the production ingest loop for a continuously
    * crawled corpus. Each arriving slice is (1) matched against the
    * indexed corpus ([[query]] — partition-pruned, I/O ∝ batch), (2)
    * deduplicated within itself (band-bucket self-join on the batch's
    * own keys — the batch is an ingest slice, small by contract), and
    * (3) the survivors' band keys are APPENDED to the index so the next
    * slice sees them — no full-corpus rebuild per slice.
    *
    * Drop policy, deterministic and greedy: a batch doc is
    * `corpus_dup` when any indexed doc matches at ≥ `threshold`
    * (`ref_id` = the smallest such corpus id), else `batch_dup` when a
    * smaller-id batch doc matches it (`ref_id` = the smallest such id;
    * chains drop every non-minimum like [[Similarity.semDedup]] — b and
    * c both drop for a–b–c even when a,c don't match), else `appended`.
    *
    * Append caveats, by design: batch ids must be fresh (re-ingesting
    * an already-appended slice sees its own ids as corpus rows — the
    * self-id guard in [[query]] masks the match and the keys append
    * twice, which is what a slice replayed by
    * [[graft.streaming.StreamingIngest]] does: space, not correctness,
    * degrades until [[build]], or [[compact]] for the layout alone);
    * and the build-time `maxBucketSize` cap is NOT re-applied
    * across appends (a global recount would be the full-corpus pass
    * this operator exists to avoid) — buckets can drift over the cap
    * until the periodic [[build]] rebuild, which re-caps and re-records
    * the drop count. Returns one row per batch doc:
    * (batch_id, status, ref_id, est_jaccard), read back from the
    * `last_ingest/` receipt the verdicts are durably written to before
    * the index mutates (see the barrier note in the body). The receipt
    * holds the most recent slice only; copy it elsewhere after each
    * slice if the full audit trail matters. */
  def ingest(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val (shingleSize, numHashes, bands, nBuckets, _) = loadMeta(spark, path)
    val bkeys = sigKeys(batch, idCol, textCol, shingleSize, numHashes,
        bands)
      .select(col("id"), col("band"), col("bucket"), col("sig"),
        partBucket(nBuckets))
      .persist() // feeds corpus match, self match, and the append write
    val corpusDup = matchProbes(spark, path,
        bkeys.select(col("id").as("batch_id"), col("band"), col("bucket"),
          col("__pb"), col("sig").as("__bsig")),
        numHashes, threshold)
      .groupBy(col("batch_id").as("id"))
      // ref and estimate stay one pair: the smallest matching corpus id
      // with ITS estimate (min over a (id, est) struct)
      .agg(min(struct(col("corpus_id"), col("est_jaccard"))).as("__c"))
      .select(col("id"), col("__c.corpus_id").as("__cref"),
        col("__c.est_jaccard").as("__cest"))
    val selfDup = bkeys.select(col("id").as("id_a"), col("band"),
        col("bucket"), col("sig").as("__bsig"))
      .join(bkeys.select(col("id").as("id_b"), col("band"), col("bucket"),
        col("sig").as("__csig")), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("__est", sigAgreement(numHashes))
      .filter(col("__est") >= threshold)
      .groupBy(col("id_b").as("id"))
      .agg(min(struct(col("id_a"), col("__est"))).as("__b"))
      .select(col("id"), col("__b.id_a").as("__bref"),
        col("__b.__est").as("__best"))
    val status = batch.select(col(idCol).as("id"))
      .join(corpusDup, Seq("id"), "left")
      .join(selfDup, Seq("id"), "left")
      .select(col("id").as("batch_id"),
        when(col("__cref").isNotNull, lit("corpus_dup"))
          .when(col("__bref").isNotNull, lit("batch_dup"))
          .otherwise(lit("appended")).as("status"),
        coalesce(col("__cref"), col("__bref")).as("ref_id"),
        coalesce(col("__cest"), col("__best")).as("est_jaccard"))
    // Read-modify-write barrier: the verdicts are WRITTEN (an ingest
    // receipt under the index) before the index they were computed
    // against mutates. A persist+count barrier is NOT enough — the
    // append's refreshByPath invalidates any cache whose lineage reads
    // `keys/`, and the recompute would see the post-append index (a
    // batch_dup would silently re-report as corpus_dup of its own
    // sibling). The receipt is batch-sized I/O and doubles as the
    // ingest audit trail (`last_ingest/` always holds the most recent
    // slice's verdicts).
    val receiptPath = s"$path/last_ingest"
    status.write.mode("overwrite").parquet(receiptPath)
    val receipt = spark.read.parquet(receiptPath)
    IndexFiles.writeShaped(
        bkeys.join(receipt.filter(col("status") === "appended")
          .select(col("batch_id").as("id")), Seq("id"))
        .select(col("id"), col("band"), col("bucket"), col("sig"),
          col("__pb")), col("__pb"))
      .write.mode("append").partitionBy("__pb")
      .parquet(s"$path/keys")
    bkeys.unpersist()
    spark.read.parquet(receiptPath)
  }

  /** Layout-only maintenance: rewrite `keys/` so each `__pb=` partition
    * holds one file instead of the one-file-per-append accumulation a
    * long ingest tail leaves behind (the small-files problem — at scale
    * every [[query]] pays file-listing and footer overhead per append
    * ever made, and object stores throttle the LIST itself). Content-
    * preserving by design: the same rows come back, only their file
    * layout changes — re-applying the bucket cap or re-banding is
    * [[build]]'s job, not compaction's.
    *
    * Write-then-rename-aside swap ([[IndexFiles.compactSwap]]'s
    * protocol): the compacted copy is fully written BEFORE the live
    * directory moves, and a complete copy of the index exists on disk
    * at every instant, so a crash at any point is recoverable to the
    * old layout or the new one, never a half-deleted index. (Same
    * single-writer contract as [[ingest]] — don't compact concurrently
    * with an ingest.)
    * Returns one row: (rows, files_before, files_after). */
  def compact(spark: SparkSession, path: String): DataFrame =
    IndexFiles.compactSwap(spark, path, "keys", "__pb")

  /** Heal a [[compact]] swap interrupted mid-crash-window (see
    * [[IndexFiles.recover]]); no-op on a healthy index. */
  def recover(spark: SparkSession, path: String): String =
    IndexFiles.recover(spark, path, "keys")
}
