package graft

import graft.ops.{Dedup, DedupIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupIndexSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val docs =
    spark.read.parquet(s"${TestSpark.sf001Dir}/documents.parquet")

  test("batch near-dups of indexed corpus are found; fresh docs are not") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dix").toString
    val corpus = docs.filter(col("doc_id") < 400)
    DedupIndex.build(corpus, "doc_id", "text", tmp)
    // 10 batch docs = corpus docs 0..9 with a one-token suffix (exact
    // matching would miss them); 10 synthetic fresh docs whose tokens
    // are unique per doc (docs 450+ of the testdata belong to planted
    // near-dup FAMILIES of earlier docs — genuinely novel text has to
    // be constructed, not sampled)
    import spark.implicits._
    val planted = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" trailing probe token")).as("text"))
    val fresh = (0 until 10).map(i =>
        (20000L + i, (0 until 40).map(j => s"zqxtok${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = planted.unionByName(fresh)
    val m = DedupIndex.query(spark, tmp, batch, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("batch_id") ->
        r.getAs[Long]("corpus_id"))
    val matchedBatch = m.map(_._1).toSet
    (10000L until 10010L).foreach(id =>
      assert(matchedBatch.contains(id), s"planted near-dup $id missed"))
    // every planted doc must match its own source doc
    (0L until 10L).foreach(i =>
      assert(m.contains((10000L + i) -> i), s"wrong source for ${10000 + i}"))
    assert(!m.map(_._1).exists(_ >= 20000L),
      s"fresh docs must not match: ${m.filter(_._1 >= 20000L).toSeq}")
  }

  test("an exact copy estimates jaccard 1.0") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dix2").toString
    val corpus = docs.filter(col("doc_id") < 50)
    DedupIndex.build(corpus, "doc_id", "text", tmp)
    val copy = docs.filter(col("doc_id") === 7)
      .select(lit(99999L).as("doc_id"), col("text"))
    val m = DedupIndex.query(spark, tmp, copy, "doc_id", "text")
      .filter(col("corpus_id") === 7).collect()
    assert(m.length == 1)
    assert(m(0).getAs[Double]("est_jaccard") == 1.0)
  }

  test("query scan is partition-pruned by the batch's own keys") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dix3").toString
    DedupIndex.build(docs.filter(col("doc_id") < 400), "doc_id", "text", tmp)
    val batch = docs.filter(col("doc_id") === 3)
      .select(lit(50000L).as("doc_id"), col("text"))
    val result = DedupIndex.query(spark, tmp, batch, "doc_id", "text")
    result.collect()
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n${plan.take(4000)}")
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val keyScans =
      finalPlan.split(java.util.regex.Pattern.quote(tmp), -1).length - 1
    assert(keyScans == 1,
      s"expected exactly 1 scan of the keys dir, saw $keyScans")
  }

  test("meta round-trips and records the oversized-bucket drop count") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dix4").toString
    // 30 identical docs: every band bucket they share holds 30 > 5
    val boiler = (1L to 30L).map(i => (i, "same boilerplate text here"))
      .toDF("doc_id", "text")
    DedupIndex.build(boiler, "doc_id", "text", tmp, maxBucketSize = 5)
    val (ss, nh, b, nb, droppedBuckets) = DedupIndex.loadMeta(spark, tmp)
    assert((ss, nh, b, nb) == (3, 64, 16, 64))
    assert(droppedBuckets == 16L, "all 16 shared band buckets exceed the cap")
    // and a copy of the boilerplate consequently reports no matches
    val probe = Seq((777L, "same boilerplate text here")).toDF("doc_id", "text")
    assert(DedupIndex.query(spark, tmp, probe, "doc_id", "text").count() == 0)
  }

  test("index matches agree with the live cross-corpus pass on strong dups") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dix5").toString
    val corpus = docs.filter(col("doc_id") < 200)
    DedupIndex.build(corpus, "doc_id", "text", tmp)
    val probe = docs.filter(col("doc_id") < 8)
      .select((col("doc_id") + 5000).as("doc_id"),
        concat(col("text"), lit(" x")).as("text"))
    val viaIndex = DedupIndex.query(spark, tmp, probe, "doc_id", "text")
      .select(col("batch_id"), col("corpus_id"))
      .collect().map(r => (r.getLong(0) - 5000, r.getLong(1))).toSet
    val live = Dedup.crossCorpusNearDups(corpus, probe, "doc_id", "text")
      .select(col("probe_id"), col("corpus_id"))
      .collect().map(r => (r.getLong(0) - 5000, r.getLong(1))).toSet
    // near-identical pairs (true jaccard ≈ 0.95) sit far above the 0.5
    // gate on both the exact and the estimated scale — the self-pairs
    // must agree; the estimate may legitimately differ near the gate
    val selfPairs = (0L until 8L).map(i => (i, i)).toSet
    assert(selfPairs.subsetOf(viaIndex), s"index missed ${selfPairs -- viaIndex}")
    assert(selfPairs.subsetOf(live), s"live pass missed ${selfPairs -- live}")
  }

  test("ingest drops corpus/batch dups, appends survivors, next slice sees them") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dix6").toString
    DedupIndex.build(docs.filter(col("doc_id") < 400), "doc_id", "text", tmp)
    val syn = (1 to 60).map(i => s"ingesttok$i").mkString(" ")
    val synVar = ((1 to 30).map(i => s"ingesttok$i") ++ Seq("oddglyph") ++
      (32 to 60).map(i => s"ingesttok$i")).mkString(" ")
    val fresh = (1 to 60).map(i => s"lonetok$i").mkString(" ")
    val batch = docs.filter(col("doc_id") < 2)
      .select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
      .unionByName(Seq((20002L, syn), (20003L, synVar), (20004L, fresh))
        .toDF("doc_id", "text"))
    val st = DedupIndex.ingest(spark, tmp, batch, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("batch_id") ->
        (r.getAs[String]("status"), Option(r.getAs[Any]("ref_id"))))
      .toMap
    assert(st(20000L)._1 == "corpus_dup" && st(20000L)._2.contains(0L))
    assert(st(20001L)._1 == "corpus_dup" && st(20001L)._2.contains(1L))
    assert(st(20002L)._1 == "appended" && st(20002L)._2.isEmpty)
    assert(st(20003L)._1 == "batch_dup" && st(20003L)._2.contains(20002L))
    assert(st(20004L)._1 == "appended")
    // the appended survivor is immediately visible; the dropped batch
    // twin's keys were NOT appended, so a probe matches only 20002
    val probe = Seq((30000L, syn + " probe tail")).toDF("doc_id", "text")
    val found = DedupIndex.query(spark, tmp, probe, "doc_id", "text")
      .collect().map(_.getAs[Long]("corpus_id")).toSet
    assert(found == Set(20002L), s"probe saw $found")
    // the next slice's ingest treats the appended doc as corpus
    val st2 = DedupIndex.ingest(spark, tmp,
        Seq((40000L, syn + " second slice")).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect()
    assert(st2.length == 1 && st2(0).getAs[String]("status") == "corpus_dup"
      && st2(0).getAs[Long]("ref_id") == 20002L)
  }

  test("ingest against a fully-capped index: batch self-dedup still works") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dix7").toString
    // every build bucket crosses the cap — the index matches nothing
    // (the documented boilerplate contract), but the batch's OWN keys
    // are not capped, so the in-batch twin still drops
    val boiler = (1L to 30L).map(i => (i, "capped boilerplate body here"))
      .toDF("doc_id", "text")
    DedupIndex.build(boiler, "doc_id", "text", tmp, maxBucketSize = 5)
    val st = DedupIndex.ingest(spark, tmp,
        Seq((100L, "capped boilerplate body here"),
          (101L, "capped boilerplate body here"),
          (102L, (1 to 40).map(i => s"freshcap$i").mkString(" ")))
          .toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getAs[Long]("batch_id") ->
        r.getAs[String]("status")).toMap
    // 100 can't match the capped corpus → appended (exact copies inside
    // capped buckets are exactDuplicates' job, per the scaladoc)
    assert(st(100L) == "appended")
    assert(st(101L) == "batch_dup", "in-batch twin must still drop")
    assert(st(102L) == "appended")
  }

  test("compact collapses the append tail's files, preserving content and queries") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dixc").toString
    DedupIndex.build(docs.filter(col("doc_id") < 200), "doc_id", "text", tmp)
    // an ingest tail: three slices of fresh synthetic docs, each append
    // leaving its own files behind
    (0 until 3).foreach { s =>
      DedupIndex.ingest(spark, tmp,
        (0 until 4).map(i =>
            (40000L + s * 10 + i,
              (0 until 40).map(j => s"cmptok${s}x${i}y$j").mkString(" ")))
          .toDF("doc_id", "text"),
        "doc_id", "text")
    }
    val before = spark.read.parquet(s"$tmp/keys")
      .select("id", "band", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val stats = DedupIndex.compact(spark, tmp).collect()(0)
    assert(stats.getAs[Long]("files_after") < stats.getAs[Long]("files_before"),
      s"compaction did not reduce files: $stats")
    val after = spark.read.parquet(s"$tmp/keys")
      .select("id", "band", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(after == before, "compaction changed index content")
    assert(stats.getAs[Long]("rows") == before.size.toLong ||
      stats.getAs[Long]("rows") >= after.size.toLong) // rows counts dup band keys too
    // queries behave identically post-compaction: an ingested doc's
    // near-variant still matches it
    val probe = Seq((90000L,
        ((0 until 36).map(j => s"cmptok0x0y$j") :+ "probeglyph")
          .mkString(" ")))
      .toDF("doc_id", "text")
    val m = DedupIndex.query(spark, tmp, probe, "doc_id", "text")
      .collect().map(_.getAs[Long]("corpus_id")).toSet
    assert(m.contains(40000L), s"post-compaction query missed: $m")
  }
}
