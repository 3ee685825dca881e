package graft

import graft.ops.{TextAnalysis, TextIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val docs =
    spark.read.parquet(s"${TestSpark.sf001Dir}/documents.parquet")

  test("indexed bm25 matches the full-scan scorer doc for doc") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tix").toString
    TextIndex.build(docs, "doc_id", "text", tmp, nBuckets = 32)
    val terms = Seq("spark", "vector", "customer")
    val fromIndex = TextIndex.bm25TopK(spark, tmp, terms, k = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("doc_len"), r.getAs[Double]("bm25")))
    val fullScan = TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, 10)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("doc_len").toLong, r.getAs[Double]("bm25")))
    assert(fromIndex.map(t => (t._1, t._2)).toSeq ==
      fullScan.map(t => (t._1, t._2)).toSeq)
    fromIndex.zip(fullScan).foreach { case (a, b) =>
      // float-sum association differs (groupBy sum vs fixed expression
      // order); scores must agree far below the oracle's 1e-6 rounding
      assert(math.abs(a._3 - b._3) < 1e-9, s"score drift at doc ${a._1}")
    }
  }

  test("query scan is statically pruned to the terms' buckets") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tix2").toString
    TextIndex.build(docs, "doc_id", "text", tmp, nBuckets = 32)
    val result = TextIndex.bm25TopK(spark, tmp, Seq("spark"), k = 5)
    result.collect()
    // descend through AQE wrappers/stages — the scan is not a direct leaf
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(result.queryExecution.executedPlan).headOption
      .getOrElse(fail("no file scan in plan"))
    // one term hashes to exactly one bucket directory; 31 of 32 are
    // never read — the inverted-index I/O contract
    assert(scan.partitionFilters.nonEmpty, "bucket filter missing")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 of 32 bucket partitions, read " +
        s"${scan.selectedPartitions.partitionCount}")
  }

  test("batched bm25 agrees with the single-query scorer per query") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tix5").toString
    TextIndex.build(docs, "doc_id", "text", tmp, nBuckets = 32)
    val qs = Seq((1L, "spark"), (2L, "vector customer")).toDF("qid", "qtext")
    val batch = TextIndex.bm25BatchTopK(spark, tmp, qs, "qid", "qtext",
        k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("bm25")))
    val single1 = TextIndex.bm25TopK(spark, tmp, Seq("spark"), 5)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    val single2 = TextIndex.bm25TopK(spark, tmp, Seq("vector", "customer"), 5)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(batch.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq == single1)
    assert(batch.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSeq == single2)
  }

  test("batched bm25 with no usable query terms returns empty") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tix6").toString
    TextIndex.build(docs.limit(50), "doc_id", "text", tmp, nBuckets = 8)
    val qs = Seq((1L, "  ")).toDF("qid", "qtext")
    assert(TextIndex.bm25BatchTopK(spark, tmp, qs, "qid", "qtext", k = 3)
      .count() == 0)
  }

  test("df/doc_len denormalized on postings agree with direct computation") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tix3").toString
    val tiny = Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma"),
      (3L, "alpha")
    ).toDF("doc_id", "text")
    TextIndex.build(tiny, "doc_id", "text", tmp, nBuckets = 4)
    val p = spark.read.parquet(s"$tmp/postings")
      .select("token", "doc_id", "tf", "doc_len", "df")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(p == Set(
      ("alpha", 1L, 2L, 3L, 2L),
      ("beta", 1L, 1L, 3L, 2L),
      ("beta", 2L, 1L, 2L, 2L),
      ("gamma", 2L, 1L, 2L, 1L),
      ("alpha", 3L, 1L, 1L, 2L)))
  }

  test("query paths read nBuckets from the index, not the caller") {
    // build with a bucket count no caller default would guess; a query
    // that assumed the old default (64) would prune to the wrong __tb
    // dirs and silently drop postings — the regression this guards
    val tmp = java.nio.file.Files.createTempDirectory("graft_tix7").toString
    TextIndex.build(docs, "doc_id", "text", tmp, nBuckets = 7)
    val terms = Seq("spark", "vector", "customer")
    val fromIndex = TextIndex.bm25TopK(spark, tmp, terms, k = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25")))
    val fullScan = TextAnalysis.bm25TopK(docs, "doc_id", "text", terms, 10)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25")))
    assert(fromIndex.map(_._1).toSeq == fullScan.map(_._1).toSeq)
    fromIndex.zip(fullScan).foreach { case (a, b) =>
      assert(math.abs(a._2 - b._2) < 1e-9, s"score drift at doc ${a._1}")
    }
  }

  test("append: new docs are retrievable, stats update, df accumulates") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tixa").toString
    TextIndex.build(docs.filter(col("doc_id") < 300), "doc_id", "text",
      tmp, nBuckets = 16)
    // slice: one doc with a token no corpus doc has, one doc sharing
    // the corpus word "the"
    val slice = Seq(
      (90001L, "uniqueglyph alpha " + (1 to 20).map(_ => "pad").mkString(" ")),
      (90002L, "the the common words here")).toDF("doc_id", "text")
    TextIndex.append(slice, "doc_id", "text", tmp)
    // the appended-only token is findable through the pruned scan
    val hit = TextIndex.bm25TopK(spark, tmp, Seq("uniqueglyph"), k = 3)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(hit == Seq(90001L), s"appended doc not retrieved: $hit")
    // stats: corpus size grew by exactly the slice
    val stats = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(tmp, "stats.txt")), "UTF-8").split(",")
    assert(stats(0).toLong == 302L, s"nDocs not updated: ${stats.toSeq}")
    assert(stats(2).toInt == 16, "nBuckets must survive append")
    // df on the appended "the" posting = indexed df + slice df
    val corpusThe = spark.read.parquet(s"$tmp/postings")
      .filter(col("token") === "the" && col("doc_id") < 300)
      .agg(max(col("df"))).collect()(0).getLong(0)
    val appendedThe = spark.read.parquet(s"$tmp/postings")
      .filter(col("token") === "the" && col("doc_id") === 90002L)
      .collect()(0).getAs[Long]("df")
    assert(appendedThe == corpusThe + 1,
      s"appended df $appendedThe != corpus $corpusThe + 1")
  }

  test("compact collapses the append tail, preserving postings and top-k") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_tixc").toString
    TextIndex.build(docs.filter(col("doc_id") < 200), "doc_id", "text",
      tmp, nBuckets = 8)
    (0 until 3).foreach { s =>
      TextIndex.append(
        Seq((91000L + s, s"compactglyph$s spark data " +
          (1 to 10).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text"),
        "doc_id", "text", tmp)
    }
    val before = spark.read.parquet(s"$tmp/postings")
      .select("doc_id", "token", "tf", "df", "doc_len").collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val topBefore = TextIndex.bm25TopK(spark, tmp, Seq("spark"), k = 5)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    val stats = TextIndex.compact(spark, tmp).collect()(0)
    assert(stats.getAs[Long]("files_after") < stats.getAs[Long]("files_before"),
      s"compaction did not reduce files: $stats")
    val after = spark.read.parquet(s"$tmp/postings")
      .select("doc_id", "token", "tf", "df", "doc_len").collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(after == before, "compaction changed postings")
    assert(TextIndex.bm25TopK(spark, tmp, Seq("spark"), k = 5)
      .collect().map(_.getAs[Long]("doc_id")).toSeq == topBefore)
  }

  test("recover heals a compact swap interrupted in the crash window") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tix9").toString
    TextIndex.build(docs.limit(80), "doc_id", "text", tmp, nBuckets = 8)
    val before = TextIndex.bm25TopK(spark, tmp, Seq("spark"), k = 5)
      .collect().map(_.toSeq).toSeq
    assert(TextIndex.recover(spark, tmp) == "ok", "healthy index is a no-op")
    // simulate the swap's only no-live-directory instant: the compacted
    // copy is complete and the live dir was renamed aside, but the
    // compact -> live rename never ran
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(s"$tmp/postings")
    val fs = live.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, live, fs,
      new org.apache.hadoop.fs.Path(s"$tmp/postings.compact"), false, conf)
    assert(fs.rename(live, new org.apache.hadoop.fs.Path(s"$tmp/postings.old")))
    assert(TextIndex.recover(spark, tmp) == "recovered_compact")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/postings.old")),
      "recover must clean the leftover .old")
    val after = TextIndex.bm25TopK(spark, tmp, Seq("spark"), k = 5)
      .collect().map(_.toSeq).toSeq
    assert(after == before, "recovered index must answer identically")
  }

  test("legacy two-field stats.txt fails loudly instead of guessing the modulus") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tix8").toString
    // a non-default bucket count makes the hazard concrete: any assumed
    // default would prune probe terms with the wrong modulus and
    // silently drop matching postings
    TextIndex.build(docs.limit(50), "doc_id", "text", tmp, nBuckets = 32)
    // rewrite stats.txt in the pre-persistence format (no third field)
    val statsPath = java.nio.file.Paths.get(tmp, "stats.txt")
    val legacy = new String(java.nio.file.Files.readAllBytes(statsPath),
      "UTF-8").split(",").take(2).mkString(",")
    java.nio.file.Files.write(statsPath, legacy.getBytes("UTF-8"))
    // drop Hadoop's CRC sidecar, now stale for the rewritten file
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(tmp, ".stats.txt.crc"))
    val e = intercept[IllegalArgumentException] {
      TextIndex.bm25TopK(spark, tmp, Seq("the"), k = 3).count()
    }
    assert(e.getMessage.contains("rebuild the index"))
  }
}
