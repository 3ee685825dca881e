package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted inverted text index: postings stored PARTITIONED BY a
  * hash bucket of the token, which turns keyword search into physical
  * I/O pruning — a query's terms select a handful of `__tb=` partition
  * directories and everything else is never listed, the text-search
  * twin of [[IvfIndex]]'s probed-cell layout. [[TextAnalysis.bm25TopK]]
  * answers the same query by scanning the corpus; this is the
  * "index once, query many" layout a search service over a 100 TB
  * corpus would maintain — per-query I/O is proportional to the query
  * terms' posting lists, not the corpus.
  *
  * Layout under `path`:
  *   - `postings/__tb=<b>/…` — (token, doc_id, tf, doc_len, df) rows,
  *     df/doc_len denormalized onto each posting so scoring needs no
  *     join at query time (both repeat-compress to nothing in parquet)
  *   - `stats.txt` — `<nDocs>,<avgLen>,<nBuckets>` (driver-sized by
  *     design). nBuckets is part of the index layout, so it is
  *     persisted at build and read back by every query path — a
  *     caller-supplied bucket count that disagreed with the build
  *     would silently select the wrong `__tb` partitions and drop
  *     matching postings.
  */
object TextIndex {

  private def tokens(textCol: org.apache.spark.sql.Column) =
    filter(split(lower(textCol), "\\s+"), t => length(t) > 0)

  private def bucketOf(tokenCol: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(tokenCol), lit(nBuckets)).cast("int")

  /** Tokenize once, aggregate postings, and write them bucket-
    * partitioned. Build cost: one (doc, token) partial-agg shuffle for
    * tf, one token-keyed shuffle for df, and the bucket repartition for
    * the write — all linear scans, no joins wider than the vocabulary.
    * `doc_len` rides along from the tokenize (no per-doc join). */
  def build(df: DataFrame, idCol: String, textCol: String, path: String,
      nBuckets: Int = 64): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("__t"))
      .withColumn("doc_len", size(col("__t")).cast("long"))
    val docTok = base
      .select(col("doc_id"), col("doc_len"), explode(col("__t")).as("token"))
      .groupBy(col("doc_id"), col("doc_len"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = docTok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    IndexFiles.writeShaped(
        docTok.join(dfreq, "token")
          .withColumn("__tb", bucketOf(col("token"), nBuckets)),
        col("__tb"))
      .write.mode("overwrite").partitionBy("__tb")
      .parquet(s"$path/postings")
    val stats = base.agg(count(lit(1)).cast("long").as("n"),
      avg(col("doc_len")).as("avglen")).head()
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(s"$path/stats.txt"), true)
    try out.write(s"${stats.getLong(0)},${stats.getDouble(1)},$nBuckets"
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** (nDocs, avgLen, nBuckets). nBuckets is REQUIRED: the bucket
    * modulus must match the one the postings were written with, and it
    * cannot be inferred from the `__tb=` directories (empty buckets
    * leave no directory, so the visible max/count under-reports).
    * Guessing a default would bucket-prune probe terms with the wrong
    * modulus and silently drop matching postings — a pre-nBuckets
    * index must be rebuilt with [[build]] instead. */
  private def loadStats(spark: SparkSession, path: String): (Long, Double, Int) = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(s"$path/stats.txt"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val parts = text.trim.split(",")
    require(parts.length >= 3,
      s"$path/stats.txt predates the persisted bucket count " +
        "(n,avglen,nBuckets); rebuild the index with TextIndex.build " +
        "— assuming a default modulus would silently mis-prune buckets")
    (parts(0).toLong, parts(1).toDouble, parts(2).toInt)
  }

  /** Append a new document slice without rebuilding — the text twin of
    * [[IvfIndex.append]]'s shard-arrival path. The slice's postings are
    * keyed with the index's OWN persisted bucket count and appended
    * into the partitioned layout; `stats.txt` gets the updated corpus
    * size and (exactly re-weighted) average length, so idf and length
    * normalization for NEW postings reflect the grown corpus
    * immediately.
    *
    * The documented drift trade, same shape as IVF centroid drift: each
    * appended posting carries df = (indexed df for that token, read
    * through the bucket-pruned scan — cost ∝ slice vocabulary, not
    * corpus) + (slice df), but EXISTING postings keep the df they were
    * built with, so idf for old documents goes stale as slices
    * accumulate — scores skew, matching never breaks (matching is by
    * token, df only weighs scores). The periodic [[build]] rebuild
    * restores exact global df (and compacts the append tail's files;
    * [[compact]] does the file part alone). Slice ids must be fresh —
    * a re-appended id surfaces twice in top-k, and a slice that
    * [[graft.streaming.StreamingIngest]] replays after a failure is
    * such a re-append: its doubled postings also inflate those docs'
    * tf groupings until [[build]]. */
  def append(batch: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = batch.sparkSession
    val (n, avglen, nBuckets) = loadStats(spark, path)
    val base = batch.select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("__t"))
      .withColumn("doc_len", size(col("__t")).cast("long"))
    val docTok = base
      .select(col("doc_id"), col("doc_len"), explode(col("__t")).as("token"))
      .groupBy(col("doc_id"), col("doc_len"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val batchDf = docTok.groupBy(col("token")).agg(count(lit(1)).as("__bdf"))
    // existing df per slice token: one bucket-pruned, token-filtered
    // scan (the same pruning the query paths use), collapsed to one row
    // per token — slice vocabularies are small by contract, so the
    // collect behind isin() is the usual driver-sized term list
    val terms = batchDf.select(col("token")).collect().map(_.getString(0)).toSeq
    val oldDf =
      if (terms.isEmpty) batchDf.limit(0).select(col("token"), col("__bdf").as("__odf"))
      else {
        import spark.implicits._
        val bs = terms.toDF("token")
          .select(bucketOf(col("token"), nBuckets).as("b"))
          .collect().map(_.getInt(0)).distinct.toSeq
        IndexFiles.readShaped(spark, s"$path/postings")
          .filter(col("__tb").isin(bs: _*))
          .filter(col("token").isin(terms: _*))
          .groupBy(col("token")).agg(max(col("df")).as("__odf"))
      }
    IndexFiles.writeShaped(
        docTok.join(batchDf, "token")
          .join(oldDf, Seq("token"), "left")
          .withColumn("df", col("__bdf") + coalesce(col("__odf"), lit(0L)))
          .select(col("doc_id"), col("doc_len"), col("token"), col("tf"),
            col("df"))
          .withColumn("__tb", bucketOf(col("token"), nBuckets)),
        col("__tb"))
      .write.mode("append").partitionBy("__tb")
      .parquet(s"$path/postings")
    val bstats = base.agg(count(lit(1)).cast("long").as("bn"),
      coalesce(sum(col("doc_len")), lit(0L)).as("blen")).head()
    val (bn, blen) = (bstats.getLong(0), bstats.getLong(1))
    val newN = n + bn
    val newAvg = if (newN == 0) 0.0 else (avglen * n + blen) / newN
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(s"$path/stats.txt"), true)
    try out.write(s"$newN,$newAvg,$nBuckets".getBytes("UTF-8"))
    finally out.close()
  }

  /** Layout-only maintenance for the append tail: rewrite `postings/`
    * so each `__tb=` bucket partition holds one file set again —
    * content-preserving (stale df stays stale; [[build]] is the exact
    * refresh), write-then-rename-aside swap via
    * [[IndexFiles.compactSwap]] (a complete copy exists at every
    * instant; crash-recoverable), single-writer contract, same as
    * [[DedupIndex.compact]] / [[IvfIndex.compact]]. Returns one row:
    * (rows, files_before, files_after). */
  def compact(spark: SparkSession, path: String): DataFrame =
    IndexFiles.compactSwap(spark, path, "postings", "__tb")

  /** Heal a [[compact]] swap interrupted mid-crash-window (see
    * [[IndexFiles.recover]]); no-op on a healthy index. */
  def recover(spark: SparkSession, path: String): String =
    IndexFiles.recover(spark, path, "postings")

  /** BM25 top-k over the persisted index. The query terms' buckets are
    * STATIC partition filters (`__tb IN (…)` computed up front — the
    * scan lists only those directories), the token equality prunes
    * row-groups inside them via parquet min/max, and corpus statistics
    * are literals from `stats.txt` — so the whole query plan is: read a
    * few posting lists, one `groupBy(doc_id)` over their union (rows =
    * Σ df(term), NOT corpus size), and a top-k heap. Identical scores
    * to [[TextAnalysis.bm25TopK]] on the same corpus. */
  def bm25TopK(spark: SparkSession, path: String, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(k > 0, s"k must be positive, got $k")
    val (n, avglen, nBuckets) = loadStats(spark, path)
    // buckets computed through Spark's own xxhash64 (a local 1-job
    // evaluation over the literal terms) so they can never drift from
    // the build-side bucketing
    import spark.implicits._
    val buckets = terms.toDF("token")
      .select(bucketOf(col("token"), nBuckets).as("b"))
      .collect().map(_.getInt(0)).distinct.toSeq
    val p = IndexFiles.readShaped(spark, s"$path/postings")
      .filter(col("__tb").isin(buckets: _*))
      .filter(col("token").isin(terms: _*))
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5)
      / (col("df") + 0.5))
    val norm = lit(k1) * (lit(1 - b) + lit(b) * col("doc_len") / avglen)
    p.withColumn("__s", idf * tf * (k1 + 1) / (tf + norm))
      .groupBy(col("doc_id"), col("doc_len"))
      .agg(sum(col("__s")).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("doc_len"), col("bm25"))
  }

  /** Batched BM25: per-query top-k for a whole DataFrame of query
    * strings in ONE plan — the search-join shape a retrieval service
    * runs, instead of one [[bm25TopK]] plan per query.
    *
    * The batch's distinct terms (a query workload's vocabulary slice —
    * driver-sized by nature) are collected once to compute the static
    * `__tb IN (…)` partition filter; above `maxPrunedTerms` the bucket
    * pruning is skipped (the IN-list itself would bloat the plan) and
    * only the token semi-join filters the scan — correct either way,
    * pruned when it matters. Matched postings broadcast-join the
    * exploded query terms, scores aggregate per (query, doc) — rows =
    * Σ df(term) over the batch, not corpus size — and the per-query
    * top-k is a rank window PARTITIONED by query (never a global
    * sort). */
  def bm25BatchTopK(spark: SparkSession, path: String, queries: DataFrame,
      queryIdCol: String, queryTextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      maxPrunedTerms: Int = 10000): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val (n, avglen, nBuckets) = loadStats(spark, path)
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(tokens(col(queryTextCol)))).as("token"))
    val terms = qterms.select(col("token")).distinct()
      .collect().map(_.getString(0)).toSeq
    val base = IndexFiles.readShaped(spark, s"$path/postings")
    val pruned =
      if (terms.isEmpty) base.limit(0)
      else if (terms.length <= maxPrunedTerms) {
        // buckets computed through Spark's own xxhash64 (one local job),
        // same as bm25TopK — build and query can never bucket differently
        import spark.implicits._
        val bs = terms.toDF("token")
          .select(bucketOf(col("token"), nBuckets).as("b"))
          .collect().map(_.getInt(0)).distinct.toSeq
        base.filter(col("__tb").isin(bs: _*))
          .filter(col("token").isin(terms: _*))
      } else base
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) + (lit(n.toDouble) - col("df") + 0.5)
      / (col("df") + 0.5))
    val norm = lit(k1) * (lit(1 - b) + lit(b) * col("doc_len") / avglen)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("doc_id"))
    pruned
      .join(broadcast(qterms), Seq("token"))
      .withColumn("__s", idf * tf * (k1 + 1) / (tf + norm))
      .groupBy(col("query_id"), col("doc_id"), col("doc_len"))
      .agg(sum(col("__s")).as("bm25"))
      .filter(col("bm25") > 0)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("doc_len"), col("bm25"))
  }
}
