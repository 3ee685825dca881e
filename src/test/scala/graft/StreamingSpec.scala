package graft

import graft.model.PreAggregation
import graft.plan.SemanticQuery
import graft.preagg.PreAggStore
import graft.streaming.{StreamingIngest, StreamingRollup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val evPa = PreAggregation("ev_daily",
    measures = Seq("event_count", "total_value"),
    dimensions = Seq("event_type"),
    timeDimension = Some("ts"), granularity = Some("day"),
    partitionGranularity = Some("month"))

  test("streaming rollup maintenance converges to the batch rollup") {
    // catalog whose events model declares the rollup
    val base = TpchCatalog.build(TestSpark.sfDir)
    val events = base.model("events").copy(preAggregations = Seq(evPa))
    val cat = base.add(events)

    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    // stage the source file as a stream input
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      java.nio.file.Paths.get(s"$src/events-0.parquet"))

    val store = new PreAggStore(spark, cat, s"$tmp/rollups")
    val q = new StreamingRollup(spark, cat, store)
      .maintain("events", evPa, src, s"$tmp/ckpt")
    q.awaitTermination(120000)

    val routed = store.plan(SemanticQuery(
      metrics = Seq("events.event_count", "events.total_value"),
      dimensions = Seq("events.event_type"),
      orderBy = Seq("event_type")))
    assert(routed.isDefined, "rollup should exist and match after streaming")
    val got = routed.get.toDF.collect().map(_.toSeq).toSeq
    val want = new graft.gen.Generator(spark, cat).plan(SemanticQuery(
      metrics = Seq("events.event_count", "events.total_value"),
      dimensions = Seq("events.event_type"),
      orderBy = Seq("event_type"), usePreAggs = false))
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("second batch of late files merges additively, not by overwrite") {
    val base = TpchCatalog.build(TestSpark.sfDir)
    val events = base.model("events").copy(preAggregations = Seq(evPa))
    val cat = base.add(events)

    val tmp = java.nio.file.Files.createTempDirectory("graft_stream2").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      java.nio.file.Paths.get(s"$src/events-0.parquet"))

    val store = new PreAggStore(spark, cat, s"$tmp/rollups")
    val roll = new StreamingRollup(spark, cat, store)
    roll.maintain("events", evPa, src, s"$tmp/ckpt").awaitTermination(120000)

    // a duplicate drop of the same file = a second batch of the same rows;
    // counts must exactly double (additive merge, no replacement)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      java.nio.file.Paths.get(s"$src/events-1.parquet"))
    roll.maintain("events", evPa, src, s"$tmp/ckpt").awaitTermination(120000)

    val after = store.plan(SemanticQuery(
      metrics = Seq("events.event_count"),
      dimensions = Seq("events.event_type"))).get.toDF
      .agg(sum(col("event_count"))).collect()(0).getLong(0)
    val single = spark.read.parquet(s"${TestSpark.sfDir}/events.parquet").count()
    assert(after == 2 * single)
  }

  test("restart replay does not double-count (idempotent per-batch deltas)") {
    val base = TpchCatalog.build(TestSpark.sfDir)
    val events = base.model("events").copy(preAggregations = Seq(evPa))
    val cat = base.add(events)

    val tmp = java.nio.file.Files.createTempDirectory("graft_stream4").toString
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      java.nio.file.Paths.get(s"$src/events-0.parquet"))

    val store = new PreAggStore(spark, cat, s"$tmp/rollups")
    val roll = new StreamingRollup(spark, cat, store)
    roll.maintain("events", evPa, src, s"$tmp/ckpt").awaitTermination(120000)
    def total(): Long = store.plan(SemanticQuery(
      metrics = Seq("events.event_count"),
      dimensions = Seq("events.event_type"))).get.toDF
      .agg(sum(col("event_count"))).collect()(0).getLong(0)
    val first = total()

    // simulate a failure between the rollup write and the checkpoint
    // commit: wipe the checkpoint so the stream REPLAYS the same files as
    // the same batch ids — the per-batch delta overwrites itself, so the
    // totals must not move (the round-2 read-merge-write design doubled)
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rm(_))
      java.nio.file.Files.delete(p)
    }
    rm(java.nio.file.Paths.get(s"$tmp/ckpt"))
    roll.maintain("events", evPa, src, s"$tmp/ckpt").awaitTermination(120000)
    assert(total() == first, "replayed batch must not change the rollup")

    // compaction folds the deltas without changing totals
    roll.compact("events", evPa)
    assert(total() == first, "compaction must preserve totals")

    // a crash between the swap's two renames leaves the compacted copy
    // only at `<path>.compact`: the next compaction heals it first
    val live = java.nio.file.Paths.get(store.rollupPath("events", evPa))
    java.nio.file.Files.move(live,
      live.resolveSibling(s"${live.getFileName}.compact"))
    roll.compact("events", evPa)
    assert(total() == first, "an interrupted compaction must heal")
  }

  test("watermarked windowed aggregation over the event stream") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream3").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      java.nio.file.Paths.get(s"$tmp/events-0.parquet"))
    val schema = spark.read.parquet(s"${TestSpark.sfDir}/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(tmp)
    val agg = stream
      .withColumn("ets", expr("cast(ts as timestamp)"))
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("ev_windows")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("ev_windows")
    val batch = spark.read.parquet(s"${TestSpark.sfDir}/events.parquet")
      .withColumn("ets", expr("cast(ts as timestamp)"))
      .groupBy(window(col("ets"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(got.count() == batch.count())
    assert(got.agg(sum(col("n"))).collect()(0).getLong(0) ==
      spark.read.parquet(s"${TestSpark.sfDir}/events.parquet").count())
  }

  test("streaming pq ingest: twins retrievable through the compressed path") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"${TestSpark.sf001Dir}/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_spq").toString
    graft.ops.PqIndex.build(emb, "vec_id", "embedding", tmp, dim = 64,
      nCells = 16, m = 16, kCodes = 32, iters = 2)
    val booksBefore = graft.ops.PqIndex.loadCodebooks(spark, tmp)
    val twinRows = emb.filter(col("vec_id") < 4).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = StreamingIngest.maintain(
      in.toDS().toDF("vec_id", "embedding"), s"$tmp/_checkpoint")(
      graft.ops.PqIndex.append(_, "vec_id", "embedding", tmp))
    try {
      in.addData(twinRows.take(2))
      q.processAllAvailable()
      in.addData(twinRows.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    // the stream only appended — codebooks frozen, and every streamed
    // twin is retrievable through the pruned ADC scan immediately
    assert(graft.ops.PqIndex.loadCodebooks(spark, tmp) == booksBefore)
    val top = graft.ops.PqIndex.topK(spark, tmp,
        emb.filter(col("vec_id") < 4), "vec_id", "embedding", "vec_id",
        k = 1, nprobe = 4, shortlist = 20)
      .collect().map(r => r.getAs[Long]("query_id") ->
        r.getAs[Long]("neighbor_id")).toMap
    (0L until 4L).foreach(i =>
      assert(top(i) == 100000L + i, s"query $i got ${top.get(i)}"))
  }

  test("streaming ivf ingest: streamed twins are retrievable per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet(s"${TestSpark.sf001Dir}/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sivf").toString
    graft.ops.IvfIndex.build(emb, "vec_id", "embedding", tmp, nCells = 16)
    val centsBefore = graft.ops.IvfIndex.loadCentroids(spark, tmp)
    val twinRows = emb.filter(col("vec_id") < 4).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = StreamingIngest.maintain(
      in.toDS().toDF("vec_id", "embedding"), s"$tmp/_checkpoint")(
      graft.ops.IvfIndex.append(_, "vec_id", "embedding", tmp))
    try {
      in.addData(twinRows.take(2))
      q.processAllAvailable()
      in.addData(twinRows.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    // the stream only appended — centroids are untouched, and every
    // streamed twin is now retrievable through the shared layout
    assert(graft.ops.IvfIndex.loadCentroids(spark, tmp) == centsBefore)
    val top = graft.ops.IvfIndex.topK(spark, tmp,
        emb.filter(col("vec_id") < 4), "vec_id", "embedding", "vec_id",
        k = 1, nprobe = 4)
      .collect().map(r => r.getAs[Long]("query_id") ->
        r.getAs[Long]("neighbor_id")).toMap
    (0L until 4L).foreach(i =>
      assert(top(i) == 100000L + i, s"query $i got ${top.get(i)}"))
  }

  test("streaming dedup ingest: slices dedupe against corpus AND earlier slices") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"${TestSpark.sf001Dir}/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sdix").toString
    graft.ops.DedupIndex.build(docs.filter(col("doc_id") < 400),
      "doc_id", "text", tmp)
    // slice 1: a near-dup of corpus doc 0 + a fresh synthetic doc;
    // slice 2: a near-dup of slice 1's FRESH doc — only findable if the
    // first micro-batch's append is visible to the second
    val nearDup0 = docs.filter(col("doc_id") === 0)
      .select(concat(col("text"), lit(" stream tail")).as("text"))
      .collect()(0).getString(0)
    val freshBase = (1 to 60).map(i => s"streamtok$i").mkString(" ")
    val freshVar = ((1 to 55).map(i => s"streamtok$i") :+ "varglyph")
      .mkString(" ")
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingIngest.maintain(
      in.toDS().toDF("doc_id", "text"), s"$tmp/_checkpoint")(b =>
      graft.ops.DedupIndex.ingest(b.sparkSession, tmp, b, "doc_id", "text"))
    try {
      in.addData(Seq((50000L, nearDup0), (50001L, freshBase)))
      q.processAllAvailable()
      in.addData(Seq((50002L, freshVar)))
      q.processAllAvailable()
      // an empty micro-batch is skipped: ingesting it would overwrite
      // the receipt below with an empty one
      in.addData(Seq.empty[(Long, String)])
      q.processAllAvailable()
    } finally q.stop()
    // last_ingest holds the most recent real slice's verdicts: 50002
    // must be a corpus_dup OF THE STREAMED doc 50001 (cross-micro-batch
    // dedup)
    val receipt = spark.read.parquet(s"$tmp/last_ingest")
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[String]("status"), r.getAs[Long]("ref_id"))).toSeq
    assert(receipt == Seq((50002L, "corpus_dup", 50001L)),
      s"unexpected receipt: $receipt")
    // and the corpus near-dup from slice 1 did NOT append: a follow-up
    // probe of doc 0's text matches doc 0, never 50000
    val probe = Seq((60000L, nearDup0 + " probe")).toDF("doc_id", "text")
    val m = graft.ops.DedupIndex.query(spark, tmp, probe, "doc_id", "text")
      .collect().map(_.getAs[Long]("corpus_id")).toSet
    assert(m.contains(0L) && !m.contains(50000L),
      s"slice-1 corpus_dup leaked into the index: $m")
  }

  test("streaming text ingest: streamed docs searchable per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"${TestSpark.sf001Dir}/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_stix").toString
    graft.ops.TextIndex.build(docs.filter(col("doc_id") < 300),
      "doc_id", "text", tmp, nBuckets = 16)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingIngest.maintain(
      in.toDS().toDF("doc_id", "text"), s"$tmp/_checkpoint")(
      graft.ops.TextIndex.append(_, "doc_id", "text", tmp))
    try {
      in.addData(Seq((95001L, "streamglyphone retrieval test words")))
      q.processAllAvailable()
      in.addData(Seq((95002L, "streamglyphtwo more retrieval words")))
      q.processAllAvailable()
    } finally q.stop()
    // each micro-batch's docs are searchable through the pruned scan
    assert(graft.ops.TextIndex.bm25TopK(spark, tmp, Seq("streamglyphone"), 3)
      .collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(95001L))
    assert(graft.ops.TextIndex.bm25TopK(spark, tmp, Seq("streamglyphtwo"), 3)
      .collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(95002L))
    // stats grew with both slices, bucket count untouched
    val stats = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(tmp, "stats.txt")), "UTF-8").split(",")
    assert(stats(0).toLong == 302L && stats(2).toInt == 16)
  }

  test("streaming WARC ingest: archives land as canonical corpus rows " +
      "per micro-batch in idempotent batch dirs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def gzMember(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    def archive(id: Long, body: String): Array[Byte] = {
      val payload = s"<html><body><p>$body</p></body></html>"
      gzMember("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
        "Content-Length: 4\r\n\r\ninfo\r\n\r\n") ++
      gzMember("WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: HTTP://Example.COM:80/p/$id?b=2&a=1&utm_x=9#f\r\n" +
        s"Content-Type: text/html\r\nContent-Length: ${
          payload.getBytes("UTF-8").length}\r\n\r\n$payload\r\n\r\n") ++
      gzMember("WARC/1.0\r\nWARC-Type: metadata\r\n" +
        "Content-Length: 2\r\n\r\nok\r\n\r\n")
    }

    val tmp = java.nio.file.Files.createTempDirectory("graft_stwarc").toString
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Array[Byte]]
    val q = graft.streaming.StreamingWarcIngest.maintain(
      in.toDS().toDF("blob"), "blob", s"$tmp/corpus", s"$tmp/_checkpoint")
    try {
      in.addData(Seq(archive(1, "the quick brown fox and the lazy dog")))
      q.processAllAvailable()
      in.addData(Seq(archive(2, "der hund und die katze sind nicht da")))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.read.parquet(s"$tmp/corpus")
      .orderBy("url").collect()
    assert(rows.length == 2, s"expected 2 corpus rows, got ${rows.length}")
    val r1 = rows(0)
    // canonicalized URL: scheme/host lowered, :80 dropped, utm_x out,
    // params sorted, fragment gone
    assert(r1.getAs[String]("url") == "http://example.com/p/1?a=1&b=2")
    assert(r1.getAs[String]("host") == "example.com")
    assert(r1.getAs[String]("text") ==
      "the quick brown fox and the lazy dog")
    assert(r1.getAs[String]("lang") == "en")
    assert(r1.getAs[Long]("n_tokens") == 8L)
    assert(rows(1).getAs[String]("lang") == "de")
    // doc_id is the xxhash64 of the canonical url — stable on refetch
    assert(r1.getAs[Long]("doc_id") ==
      Seq("http://example.com/p/1?a=1&b=2").toDF("u")
        .select(xxhash64(col("u"))).head.getLong(0))
    // each micro-batch landed in its own idempotent __batch dir
    val dirs = new java.io.File(s"$tmp/corpus").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("__batch=0", "__batch=1"))
  }

  test("streaming image ingest: re-saved twins drop against the indexed " +
      "corpus; fresh fingerprints append and are seen next batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{ImageIndex, Multimodal}
    val tmp = java.nio.file.Files.createTempDirectory("graft_simg").toString
    def imgs(ids: Seq[Long], format: String, idOffset: Long = 0L) =
      Multimodal.syntheticPatternImage(ids.toDF("id"), "id", format,
          idOffset)
        .as[(Long, Array[Byte])].collect().toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte])]
    val q = StreamingIngest.maintain(
      in.toDS().toDF("media_id", "content"), s"$tmp/_checkpoint")(b =>
      ImageIndex.ingest(b.sparkSession, tmp, b, "media_id", "content"))
    def receipt() = spark.read.parquet(s"$tmp/last_ingest")
      .collect().map(r => r.getAs[Long]("media_id") ->
        r.getAs[String]("verdict")).toMap
    try {
      // batch 1 bootstraps the index: 12 pattern originals fresh, plus
      // one in-batch re-save — bootstrap self-dedups exactly like every
      // later batch (r16 ADVICE: batch 0 used to index its own dups and
      // report them 'fresh')
      in.addData(imgs(0L until 12L, "png") ++
        imgs(Seq(11L), "jpg", idOffset = 200000L))
      q.processAllAvailable()
      val r1i = receipt()
      assert((0L until 12L).forall(i => r1i(i) == "fresh"), r1i.toString)
      assert(r1i(200011L) == "batch_dup", r1i.toString)
      // batch 2: JPEG re-saves of 0-5 (corpus dups through the
      // perceptual hash), two genuinely new patterns, one in-batch
      // duplicate pair (same pattern, two ids), one undecodable blob
      in.addData(imgs(0L until 6L, "jpg", idOffset = 100000L) ++
        imgs(Seq(50L, 51L), "png") ++
        imgs(Seq(60L), "png") ++ imgs(Seq(60L), "jpg", idOffset = 300000L) ++
        Seq((999L, "not an image".getBytes("UTF-8"))))
      q.processAllAvailable()
      val r2 = receipt()
      (100000L until 100006L).foreach(i =>
        assert(r2(i) == "corpus_dup", s"$i: ${r2(i)}"))
      assert(r2(50L) == "fresh" && r2(51L) == "fresh")
      assert(r2(60L) == "fresh" && r2(300060L) == "batch_dup")
      assert(r2(999L) == "undecodable")
      // batch 3: a re-save of batch 2's fresh pattern 50 — the append
      // is visible within a trigger interval
      in.addData(imgs(Seq(50L), "jpg", idOffset = 400000L))
      q.processAllAvailable()
      assert(receipt()(400050L) == "corpus_dup")
    } finally q.stop()
    // the batch-facing query API prunes to the probe's own buckets and
    // reports the matched corpus ids
    val res = ImageIndex.query(spark, tmp,
      Multimodal.syntheticPatternImage(Seq(3L).toDF("id"), "id", "jpg",
        idOffset = 500000L), "media_id", "content")
    val m = res.collect().map(r => (r.getAs[Long]("corpus_id"),
      r.getAs[Long]("batch_id")))
    assert(m.toSeq == Seq((3L, 500003L)), m.mkString(", "))
    // and the keys scan is statically pruned to the probe's own chunk
    // buckets — corpus I/O ∝ batch, the index family contract
    val plan = res.queryExecution.executedPlan.toString
    assert(raw"(?s)PartitionFilters: \[[^\]]*__pb#\d+ (IN|INSET)".r
        .findFirstIn(plan).isDefined,
      s"keys scan not pruned to the probe's buckets:\n${plan.take(4000)}")
  }
}
