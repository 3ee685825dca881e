package graft

import graft.ops.{Bpe, Chunking, Dedup, Embeddings, Multimodal, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pipeline operators on small controlled inputs. */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "a"),
    (2L, "the quick brown fox jumps over the lazy dog", "a"),  // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat", "a"),  // near dup of 1
    (4L, "completely different text about spark engines and catalyst", "b"),
    (5L, "der hund ist nicht ein katze und ich bin zu haus mit", "b")
  ).toDF("doc_id", "text", "source")

  test("exact dedup keeps lowest id per duplicate group") {
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.count() == 4)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L, 5L))
  }

  test("exact duplicate groups report copies and keeper") {
    val g = Dedup.exactDuplicateGroups(docs, "doc_id", "text").collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("copies") == 2 && g(0).getAs[Long]("keeper_id") == 1)
  }

  test("minhash LSH finds exact and near duplicates, skips distinct docs") {
    val pairs = Dedup.minHashLSH(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 32, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L))) // near dups
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("routed minHashLSH expands families: full member pair set, exact " +
      "scores, capped families rep-only") {
    // family {1,2,10}: three exact copies; 3 is a near dup of the family
    val corpus = docs.union(Seq(
      (10L, "the quick brown fox jumps over the lazy dog", "a")
    ).toDF("doc_id", "text", "source"))
    val pairs = Dedup.minHashLSH(corpus, "doc_id", "text",
      shingleSize = 2, numHashes = 32, bands = 16, threshold = 0.3,
      pinMinBytes = 0L) // force the routed (above-gate) branch
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // intra-family: all three copy pairs at exactly 1.0
    assert(pairs((1L, 2L)) == 1.0 && pairs((1L, 10L)) == 1.0 &&
      pairs((2L, 10L)) == 1.0)
    // inter-family: every member pairs with the near dup at the SAME
    // verified jaccard as the representative pair (identical shingles)
    val j13 = pairs((1L, 3L))
    assert(j13 > 0.3 && pairs((2L, 3L)) == j13 && pairs((3L, 10L)) == j13)
    // cap: with maxBucketSize below the family size, the family expands
    // to its representative only — no quadratic intra output, but the
    // rep still pairs (the direct path would have dropped its buckets)
    val capped = Dedup.minHashLSH(corpus, "doc_id", "text",
      shingleSize = 2, numHashes = 32, bands = 16, threshold = 0.3,
      maxBucketSize = 2, pinMinBytes = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 3L)),
      s"capped family must survive as its rep alone, got $capped")
  }

  test("routing decision: raw pair-formers collapse first; collapsed " +
      "twins stay direct (no double routing)") {
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString
    // the family stage aggregates min(id) into the __rep column (a
    // map-side-combined groupBy — deliberately NOT a window, whose
    // full-corpus sort re-ran per consumer); __rep appears in no other
    // plan, so it identifies the exact-collapse routing
    val famWindow = "__rep".r
    // above the size gate the routed shape runs the family window in
    // front of the LSH machinery...
    assert(famWindow.findFirstIn(
      plan(Dedup.minHashLSH(docs, "doc_id", "text", pinMinBytes = 0L)))
      .isDefined,
      "routed minHashLSH lost its exact-collapse family stage")
    assert(famWindow.findFirstIn(
      plan(Dedup.simHashPairs(docs, "doc_id", "text", pinMinBytes = 0L)))
      .isDefined,
      "routed simHashPairs lost its exact-collapse family stage")
    // ...below the gate the direct r13 shape runs — no family window,
    // no expansion joins (their fixed cost beat their benefit on small
    // corpora, measured at sf0.1)
    assert(famWindow.findFirstIn(
      plan(Dedup.minHashLSH(docs, "doc_id", "text"))).isEmpty,
      "small-corpus minHashLSH must take the direct path")
    // ...while the collapsed twins run on duplicate-free representatives
    // and must NOT pay a second family window
    assert(famWindow.findFirstIn(
      plan(Dedup.minHashLSHCollapsed(docs, "doc_id", "text"))).isEmpty,
      "minHashLSHCollapsed must call the direct path (reps are distinct)")
    assert(famWindow.findFirstIn(
      plan(Dedup.simHashPairsCollapsed(docs, "doc_id", "text"))).isEmpty,
      "simHashPairsCollapsed must call the direct path (reps are distinct)")
  }

  test("collapseExact: one min-id representative per distinct text") {
    val reps = Dedup.collapseExact(docs, "doc_id", "text")
      .select("doc_id", "family_size")
      .as[(Long, Long)].collect().toMap
    assert(reps == Map(1L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L),
      "doc 2 collapses onto min-id 1; all other families are singletons")
  }

  test("minHashLSHCollapsed: pairs = minHashLSH over representatives, " +
      "with family sizes attached") {
    val collapsed = Dedup.minHashLSHCollapsed(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 32, bands = 16, threshold = 0.3)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 2 is collapsed away: no pair may mention it, and the exact
    // pair (1,2) is the collapse's job, not the near-dup search's
    assert(!collapsed.keySet.exists(p => p._1 == 2L || p._2 == 2L))
    // the surviving near-dup pair carries doc 1's family size
    val ((j, da, db)) = collapsed((1L, 3L))
    assert(j > 0.3 && da == 2L && db == 1L)
    // pair parity: same (id, jaccard) set as running the uncollapsed
    // operator over the representatives directly
    val reps = Dedup.collapseExact(docs, "doc_id", "text")
      .select("doc_id", "text")
    val direct = Dedup.minHashLSH(reps, "doc_id", "text",
      shingleSize = 2, numHashes = 32, bands = 16, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(collapsed.view.mapValues(_._1).toMap == direct)
  }

  test("collapsed pairs + family star edges reproduce the raw pair " +
      "graph's clusters (end-to-end dedup equivalence)") {
    // base docs (1,2 exact dups; 3 near dup of 1) + 3 more copies of
    // doc 4's text: clusters from raw pairs must equal clusters from
    // the collapsed path's rep pairs union the family stars
    val corpus = docs.union(Seq(
      (6L, "completely different text about spark engines and catalyst", "b"),
      (7L, "completely different text about spark engines and catalyst", "b"),
      (8L, "completely different text about spark engines and catalyst", "b")
    ).toDF("doc_id", "text", "source"))
    def survivors(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.dedupByClusters(corpus, "doc_id", pairs)
        .select("doc_id").as[Long].collect().toSet
    val raw = Dedup.minHashLSH(corpus, "doc_id", "text",
      shingleSize = 2, numHashes = 32, bands = 16, threshold = 0.3)
      .select("id_a", "id_b")
    val collapsed = Dedup.minHashLSHCollapsed(corpus, "doc_id", "text",
      shingleSize = 2, numHashes = 32, bands = 16, threshold = 0.3)
      .select("id_a", "id_b")
      .unionByName(Dedup.exactFamilyEdges(corpus, "doc_id", "text"))
    val rawKept = survivors(raw)
    assert(survivors(collapsed) == rawKept)
    assert(rawKept == Set(1L, 4L, 5L),
      "family 4/6/7/8 and family 1/2 keep min ids; near dup 3 drops")
  }

  test("simHashPairsCollapsed: pairs among representatives with family " +
      "sizes; exact copies never pair") {
    val out = Dedup.simHashPairsCollapsed(docs, "doc_id", "text",
      maxDistance = 16)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(!out.keySet.exists(p => p._1 == 2L || p._2 == 2L),
      "doc 2 (exact copy of 1) is collapsed, not paired")
    val (ham, da, db) = out((1L, 3L))
    assert(ham <= 16 && da == 2L && db == 1L)
    // parity with the raw operator over the representatives
    val reps = Dedup.collapseExact(docs, "doc_id", "text")
      .select("doc_id", "text")
    val direct = Dedup.simHashPairs(reps, "doc_id", "text", maxDistance = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out.view.mapValues(_._1).toMap == direct)
  }

  test("sharedChunksCollapsed and duplicateWindowsCollapsed equal their " +
      "raw-frame operators on a dup-heavy corpus") {
    // 8 copies of one long doc + the base docs: the collapsed paths must
    // weight by family size to exactly reproduce the raw-frame counts
    val long1 = ((1 to 40).map(i => s"tok$i").mkString(" "))
    val long2 = ((1 to 40).map(i => s"tok${i + 3}").mkString(" "))
    val heavy = (100L until 108L).map(i => (i, long1, "x")) ++
      Seq((200L, long2, "x"), (201L, long2, "x"))
    val corpus = docs.union(heavy.toDF("doc_id", "text", "source"))
    def key(r: org.apache.spark.sql.Row) =
      (0 until r.length).map(r.get).mkString("|")
    val rawChunks = Dedup.sharedChunks(corpus, "doc_id", "text",
      window = 4, divisor = 4, minDocs = 2).collect().map(key).sorted
    val colChunks = Dedup.sharedChunksCollapsed(corpus, "doc_id", "text",
      window = 4, divisor = 4, minDocs = 2).collect().map(key).sorted
    assert(rawChunks.nonEmpty && rawChunks.sameElements(colChunks))
    val rawWin = Dedup.duplicateWindows(corpus, "doc_id", "text",
      n = 4, minDocs = 2).collect().map(key).sorted
    val colWin = Dedup.duplicateWindowsCollapsed(corpus, "doc_id", "text",
      n = 4, minDocs = 2).collect().map(key).sorted
    assert(rawWin.nonEmpty && rawWin.sameElements(colWin))
  }

  test("cosineNearDupPairsCollapsed: identical vectors collapse before " +
      "banding; pairs carry family sizes") {
    val base = (0 until 16).map(_.toFloat).toArray
    val near = base.zipWithIndex.map { case (v, i) =>
      v + (if (i == 0) 0.3f else 0f) }
    val far = (0 until 16).map(i => ((i * 7 + 3) % 16).toFloat).toArray
    val vecs = Seq(
      (10L, base), (11L, base), (12L, base), // family of 3
      (20L, near),                           // near dup of the family
      (30L, far)
    ).toDF("vec_id", "embedding")
    val out = Similarity.cosineNearDupPairsCollapsed(vecs, "vec_id",
      "embedding", threshold = 0.9, bands = 8, planesPerBand = 4, dim = 16)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    assert(!out.keySet.exists(p =>
      Set(11L, 12L).contains(p._1) || Set(11L, 12L).contains(p._2)),
      "non-representative family members must not appear")
    val (cos, da, db) = out((10L, 20L))
    assert(cos > 0.9 && da == 3L && db == 1L)
    assert(!out.keySet.exists(p => p._1 == 30L || p._2 == 30L))
  }

  test("simhash: identical docs at distance 0, near dups within 16") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxDistance = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.contains((1L, 3L)))
  }

  test("simhash block cap drops oversized blocks and the audit reports them") {
    // 30 identical boilerplate docs -> every chunk block has size 30;
    // with maxBlockSize = 10 all their blocks are capped out
    val boiler = (10L until 40L).map(i => (i, "copy paste boilerplate text", "x"))
    val mixed = docs.union(boiler.toDF("doc_id", "text", "source"))
    val pairs = Dedup.simHashPairs(mixed, "doc_id", "text",
      maxDistance = 16, maxBlockSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(p => p._1 >= 10L || p._2 >= 10L),
      "capped boilerplate block must not generate candidates")
    assert(pairs.contains((1L, 2L)), "small blocks still pair up")
    val audit = Dedup.simHashOversizedBlocks(mixed, "doc_id", "text",
      maxDistance = 16, maxBlockSize = 10).collect()
    assert(audit.nonEmpty, "dropped blocks must be observable")
    // chunk values are only a few bits wide at maxDistance 16, so other
    // docs can collide into a boilerplate block: size >= 30, not == 30
    assert(audit.forall(_.getAs[Long]("block_size") >= 30L))
    // no cap hit -> audit is empty -> pair list is complete
    assert(Dedup.simHashOversizedBlocks(docs, "doc_id", "text",
      maxDistance = 16, maxBlockSize = 1000).isEmpty)
  }

  test("duplicate clusters: transitive closure to the min id, dedup keeps representatives") {
    // 10-link chain (diameter stresses the pointer jumping), a separate
    // pair, and an isolated node that must pass through dedup untouched
    val chain = (1L until 10L).map(i => (i, i + 1))
    val pairs = (chain :+ (20L, 21L)).toDF("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 10L).forall(clusters(_) == 1L))
    assert(clusters(20L) == 20L && clusters(21L) == 20L)
    assert(clusters.size == 12)
    val corpus = ((1L to 10L) ++ Seq(20L, 21L, 99L))
      .map(i => (i, s"doc $i")).toDF("doc_id", "body")
    val kept = Dedup.dedupByClusters(corpus, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 20L, 99L))
    // empty pair list: everything is its own representative
    assert(Dedup.dedupByClusters(corpus, "doc_id",
      pairs.filter(col("id_a") < 0)).count() == corpus.count())
  }

  test("duplicate clusters: inline and adaptive loop profiles agree, confs restored") {
    // the propagation loop runs non-adaptively with single-partition
    // shuffles below the edge-count gate (job-floor fix, r18); values
    // must be identical on both sides of the gate and the session confs
    // it scopes must come back exactly as they were
    val pairs = ((1L until 10L).map(i => (i, i + 1)) :+ (20L, 21L))
      .toDF("id_a", "id_b")
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val inline = Dedup.duplicateClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == aqe0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts0)
    spark.conf.set("spark.graft.clusters.inlineLoopMaxEdges", "0")
    try {
      val adaptive = Dedup.duplicateClusters(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(inline.sameElements(adaptive))
      assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == aqe0)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == parts0)
    } finally spark.conf.unset("spark.graft.clusters.inlineLoopMaxEdges")
  }

  test("duplicate clusters: the loop never writes the caller's session confs") {
    // a query planned concurrently on the caller's session must keep its
    // AQE and shuffle width while the inline loop runs
    val s = spark.newSession()
    val chain = (1L until 200L).map(i => (i, i + 1)) ++
      (1000L until 1040L).map(i => (i, 1000L))
    val pairs = s.createDataFrame(chain).toDF("id_a", "id_b")
    val watched = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    def confs() = watched.map(k => k -> s.conf.getOption(k))
    val before = confs()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, Option[String])]]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() => while (!stop.get) {
      seen.add(confs()); Thread.sleep(1)
    })
    poller.start()
    val clusters = try Dedup.duplicateClusters(pairs)
    finally { stop.set(true); poller.join() }
    assert(clusters.sparkSession eq s, "the result is bound to the caller")
    val labels = clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(!seen.isEmpty)
    seen.forEach(c => assert(c == before, s"caller's confs changed to $c"))
    assert(confs() == before)
    assert(labels == ((1L to 200L).map(_ -> 1L) ++
      (1000L until 1040L).map(_ -> 1000L)).toMap)
  }

  test("ngram jaccard within blocks respects blocking") {
    val pairs = Dedup.ngramJaccardWithinBlocks(docs, "doc_id", "text", "source",
      n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L))) // different block, never compared
  }

  test("brute-force cosine top-k ranks the identical vector first") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f)),
      (4L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1),
      "vec_id", "embedding", "vec_id", 2).collect()
    assert(top.length == 2)
    assert(top.map(_.getLong(1)).toSeq == Seq(2L, 3L))
    assert(math.abs(top(0).getDouble(2) - 1.0) < 1e-12)
  }

  test("LSH buckets put identical vectors together") {
    val vecs = Seq(
      (1L, Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(1.0f)),
      (3L, Array.fill(8)(-1.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, bands = 4, planesPerBand = 4, dim = 8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("routed cosineNearDupPairs expands vector families: member pair " +
      "set complete, intra-family cosine exactly 1.0") {
    // family {1,2,7}: identical vectors; 3 is a slightly rotated near
    // dup; 4 is opposite (never pairs)
    val base = Array.tabulate(8)(i => (i + 1).toFloat)
    val near = Array.tabulate(8)(i => (i + 1).toFloat + (if (i == 0) 0.3f else 0f))
    val vecs = Seq(
      (1L, base), (2L, base), (7L, base), (3L, near),
      (4L, base.map(-_))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, bands = 4, planesPerBand = 4, dim = 8,
      pinMinBytes = 0L) // force the routed (above-gate) branch
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // intra-family: all three copy pairs at exactly 1.0
    assert(pairs((1L, 2L)) == 1.0 && pairs((1L, 7L)) == 1.0 &&
      pairs((2L, 7L)) == 1.0)
    // inter-family: each member pairs with the near dup at the SAME
    // verified cosine as the representative (identical vectors)
    val c13 = pairs((1L, 3L))
    assert(c13 > 0.99 && c13 < 1.0)
    assert(pairs((2L, 3L)) == c13 && pairs((3L, 7L)) == c13)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("language id separates english and german profiles") {
    val out = docs.withColumn("predicted", TextAnalysis.langId(col("text")))
      .select("doc_id", "predicted").as[(Long, String)].collect().toMap
    assert(out(1L) == "en" && out(5L) == "de")
  }

  test("token counts: bpe-ish >= whitespace for punctuated text") {
    val df = Seq((1L, "hello, world! it's 42 degrees")).toDF("id", "text")
      .select(TextAnalysis.wsTokenCount(col("text")).as("ws"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpe"))
    val r = df.collect()(0)
    assert(r.getInt(0) == 5 && r.getInt(1) > r.getInt(0))
  }

  test("fingerprint is stable for identical text, differs otherwise") {
    val fp = docs.select($"doc_id", TextAnalysis.fingerprint("text").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(4L))
  }

  test("quality score lands in [0,1] and favors clean text") {
    val out = TextAnalysis.qualityFeatures(docs, "text")
      .select($"doc_id", $"quality_score").as[(Long, Double)].collect().toMap
    assert(out.values.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("normalize strips tags, collapses whitespace; junk ratio flags mojibake") {
    val rows = Seq(
      (1L, "a <b>bold</b>  move\t<br/> done "),
      (2L, "plain"),
      (3L, "café résumé")).toDF("id", "t")
    val out = rows.select($"id",
      TextAnalysis.normalize($"t").as("c"),
      TextAnalysis.nonAsciiRatio($"t").as("r"))
      .as[(Long, String, Double)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(out(1L)._1 == "a bold move done")
    assert(out(2L)._1 == "plain")
    assert(out(2L)._2 == 0.0) // pure printable ascii
    assert(out(3L)._1 == "café résumé")
    assert(math.abs(out(3L)._2 - 3.0 / 11) < 1e-9) // é×3 of 11 chars
  }

  test("ngram repetition: doubled text ~0.5, unique text 0, short text safe") {
    val rows = Seq(
      (1L, "a b c d a b c d"), // doubled: 6 grams, 4 distinct
      (2L, "w x y z"), // all unique
      (3L, "a b")) // shorter than n: zero grams, no degenerate sequence
      .toDF("id", "t")
    val out = TextAnalysis.ngramRepetition(rows, "t", n = 3)
      .select($"id", $"n_grams", $"n_distinct_grams", $"dup_gram_ratio")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((6L, 4L, 1.0 - 4.0 / 6)))
    assert(out(2L) == ((2L, 2L, 0.0)))
    assert(out(3L) == ((0L, 0L, 0.0)))
  }

  test("cross-split leakage reports exactly the probe rows with a reference twin") {
    val rows = Seq(
      (1L, "shared text", "train"),
      (2L, "shared text", "test"), // leaked
      (3L, "only in test", "test"),
      (4L, "only in train", "train"))
      .toDF("id", "t", "split")
    val leaked = Dedup.crossSplitLeakage(rows, "id", "t", "split",
      probe = "test", reference = "train")
      .select($"id").as[Long].collect().toSet
    assert(leaked == Set(2L))
  }

  test("multimodal plumbing: decode batch keeps ids, resize plan bounds sides") {
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    val decoded = Multimodal.decodeAndFeaturize(media, "media_id", "content")
    assert(decoded.count() == 5)
    val planned = Multimodal.resizePlan(decoded, "width", "height", 128)
    val rows = planned.collect()
    assert(rows.forall(r =>
      r.getAs[Int]("target_width") <= 128 && r.getAs[Int]("target_height") <= 128))
    // identical bytes → identical fake decode output
    val wh = decoded.select("media_id", "width").as[(Long, Int)].collect().toMap
    assert(wh(1L) == wh(2L))
  }

  test("chunking: windows advance by stride, short docs yield one chunk") {
    // 9 tokens, window 4, overlap 1 → stride 3 → ceil((9-1)/3) = 3 chunks
    val out = Chunking.chunkByTokens(docs.filter($"doc_id" === 1), "doc_id",
        "text", chunkTokens = 4, overlapTokens = 1)
      .orderBy("chunk_idx").collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Int]("start_token")).toSeq == Seq(0, 3, 6))
    assert(out(0).getAs[String]("chunk_text") == "the quick brown fox")
    assert(out(1).getAs[String]("chunk_text") == "fox jumps over the")
    assert(out(2).getAs[String]("chunk_text") == "the lazy dog") // tail: 3 tokens
    assert(out.map(_.getAs[Int]("n_tokens")).toSeq == Seq(4, 4, 3))
    // a doc shorter than one window still yields exactly one chunk
    val short = Chunking.chunkByTokens(
      Seq((9L, "tiny doc")).toDF("doc_id", "text"), "doc_id", "text", 32, 8)
      .collect()
    assert(short.length == 1 && short(0).getAs[Int]("n_tokens") == 2)
  }

  test("chunk stats recover per-doc token counts from the windows") {
    val chunks = Chunking.chunkByTokens(docs, "doc_id", "text", 4, 1)
    val stats = Chunking.chunkStats(chunks, "doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("doc_tokens")).toMap
    // every doc in the fixture has >= 9 whitespace tokens; covered tokens
    // must equal the doc's own token count (no window misses the tail)
    val truth = docs.select($"doc_id",
        size(split($"text", "\\s+")).as("n")).as[(Long, Int)].collect().toMap
    truth.foreach { case (id, n) => assert(stats(id) == n, s"doc $id") }
  }

  test("int8 quantization: codes bounded, zero vector safe, error tiny") {
    val vecs = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector: scale 0, codes 0
      (3L, Seq(-2.0f, 2.0f, 1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val out = Embeddings.quantizeWithError(vecs, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    val codes1 = out(0).getSeq[Int](2)
    assert(codes1 == Seq(127, -64, 32, 0)) // round(±x/scale*127), half-up
    assert(out(1).getSeq[Int](2).forall(_ == 0) &&
      out(1).getAs[Double]("rmse") == 0.0)
    assert(out.forall(_.getSeq[Int](2).forall(c => c >= -127 && c <= 127)))
    // max-abs symmetric int8: reconstruction error < scale/254 per element
    out.foreach { r =>
      assert(r.getAs[Double]("max_err") <= r.getAs[Double]("scale") / 254 + 1e-9)
    }
  }

  test("vocabulary: term and doc frequencies with a deterministic top-k cut") {
    val v = TextAnalysis.vocabulary(docs, "doc_id", "text", 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // 'the' appears twice in docs 1-3 → tf 6, df 3
    assert(v(0) == ("the", 6L, 3L))
    // all remaining tokens tie at tf<=3; the cut is by (tf desc, token)
    assert(v.map(_._1).toSeq == v.map(_._1).sortBy(t =>
      (-v.find(_._1 == t).get._2, t)).toSeq)
  }

  test("real PNG codec roundtrip: decoded geometry and luma match the encode") {
    val ids = spark.range(0, 40).select($"id".as("doc_id"))
    val media = Multimodal.syntheticPng(ids, "doc_id")
    val decoded = Multimodal.decodeAndFeaturize(media, "media_id", "content")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getSeq[Float](3))).toMap
    assert(decoded.size == 40)
    decoded.foreach { case (id, (w, h, feats)) =>
      assert(w == 8 + (id % 16).toInt, s"width of $id")
      assert(h == 8 + ((id / 16) % 16).toInt, s"height of $id")
      val gray = (id % 256).toDouble / 255.0
      // solid tile: every channel mean and every quadrant luma = gray
      feats.foreach(f => assert(math.abs(f - gray) < 1e-6,
        s"feature of $id: $f vs $gray"))
    }
  }

  test("line dedup drops corpus-wide boilerplate, keeps unique body lines") {
    val withBoiler = docs.withColumn("t",
      concat(lit("SHARED NAV BANNER LINE\n"), col("text"),
        lit("\nok"))) // "ok" is under minLineChars — exempt even though shared
    val out = Dedup.lineDedup(withBoiler, "doc_id", "t",
      maxOccurrences = 2, minLineChars = 10)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_lines"),
          r.getAs[Long]("n_dropped"))).toMap
    assert(out.size == 5)
    out.foreach { case (id, (clean, nLines, nDropped)) =>
      assert(nLines == 3, s"doc $id lines")
      assert(!clean.contains("SHARED NAV BANNER"), s"doc $id banner kept")
      assert(clean.endsWith("\nok"), s"doc $id short exempt line dropped")
    }
    // docs 1 and 2 share their body text (3 occurrences incl. the near-dup? no:
    // exact dup only => 2 occurrences == maxOccurrences => kept)
    assert(out(1L)._1.contains("quick brown fox"))
    assert(out(4L)._3 == 1L) // only the banner dropped
  }

  test("line dedup drops a body line that crosses the occurrence cap") {
    val rep = Seq(
      (1L, "first line unique\nrepeated body sentence here"),
      (2L, "second doc body\nrepeated body sentence here"),
      (3L, "third doc text\nrepeated body sentence here"),
      (4L, "fourth doc only unique lines")
    ).toDF("doc_id", "t")
    val out = Dedup.lineDedup(rep, "doc_id", "t",
      maxOccurrences = 2, minLineChars = 10)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_dropped"))).toMap
    (1L to 3L).foreach { id =>
      assert(out(id)._2 == 1L, s"doc $id dropped count")
      assert(!out(id)._1.contains("repeated body"), s"doc $id kept boilerplate")
    }
    assert(out(4L)._2 == 0L && out(4L)._1 == "fourth doc only unique lines")
  }

  test("bloom incremental dedup equals the exact anti-join") {
    val corpus = docs
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog", "a"), // dup of corpus 1
      (11L, "a genuinely new document about streaming windows", "a"),
      (12L, "der hund ist nicht ein katze und ich bin zu haus mit", "b"), // dup of 5
      (13L, "another brand new doc with fresh content entirely", "b")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.incrementalNew(corpus, batch, "doc_id", "text",
      expectedItems = 100L)
      .select("doc_id").as[Long].collect().toSet
    val want = batch.join(corpus, Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(got == want)
    assert(got == Set(11L, 13L))
  }

  test("domain profile counts docs and mentions per host") {
    val df = Seq(
      (1L, "see https://a.example.com/x and https://a.example.com/y plus http://b.org/z"),
      (2L, "only https://a.example.com/other here"),
      (3L, "no urls at all in this document")
    ).toDF("doc_id", "t")
    val prof = TextAnalysis.domainProfile(df, "doc_id", "t")
      .collect().map(r => r.getAs[String]("domain") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_mentions"))).toMap
    assert(prof("a.example.com") == (2L, 3L))
    assert(prof("b.org") == (1L, 1L))
    assert(prof.size == 2)
  }

  test("pii redaction replaces every email and url, leaves clean text alone") {
    val df = Seq(
      (1L, "write to alice@example.com or bob.smith@corp.co.uk today"),
      (2L, "docs at https://docs.example.org/guide?q=1 and http://x.io"),
      (3L, "perfectly clean sentence with no contact info")
    ).toDF("doc_id", "t")
    val out = df.select(col("doc_id"),
      TextAnalysis.redactPii(col("t")).as("clean"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean")).toMap
    assert(out(1L) == "write to <EMAIL> or <EMAIL> today")
    assert(out(2L) == "docs at <URL> and <URL>")
    assert(out(3L) == "perfectly clean sentence with no contact info")
  }

  test("edit-distance pairs respect blocks and the bounded threshold") {
    val df = Seq(
      (1L, "kitten in the garden", "x"),
      (2L, "sitten in the garden", "x"),   // distance 1
      (3L, "kitten in the garden!", "x"),  // distance 1 from doc 1
      (4L, "completely different words", "x"),
      (5L, "kitten in the garden", "y")    // identical text, other block
    ).toDF("doc_id", "text", "source")
    val got = Dedup.editDistancePairs(df, "doc_id", "text", "source", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == Map((1L, 2L) -> 1, (1L, 3L) -> 1, (2L, 3L) -> 2))
  }

  test("domain blocklist drops exactly the docs mentioning blocked hosts") {
    val df = Seq(
      (1L, "see https://bad.example.com/x for more"),
      (2L, "see https://good.example.com/y instead"),
      (3L, "no urls here at all"),
      (4L, "mixed https://good.example.com/a and https://BAD.example.com/b")
    ).toDF("doc_id", "t")
    val kept = TextAnalysis.filterBlockedDomains(df, "doc_id", "t",
      Seq("bad.example.com").toDF("domain"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L)) // 4 drops too: host matching is case-folded
  }

  test("deterministic shuffle is a seed-keyed permutation, stable across layouts") {
    val df = Seq.tabulate(30)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    def positions(frame: org.apache.spark.sql.DataFrame, seed: String) =
      Sampling.deterministicShuffle(frame, "doc_id", seed)
        .select("doc_id", "train_pos").as[(Long, Long)].collect().toMap
    val p1 = positions(df, "epoch0")
    assert(p1.values.toSeq.sorted == (0L until 30L)) // a true permutation
    assert(p1 == positions(df.repartition(7), "epoch0")) // layout-invariant
    assert(p1 != positions(df, "epoch1")) // the seed re-deals the order
  }

  test("corpus diff labels added, removed, changed, unchanged") {
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val v2 = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val st = graft.ops.CorpusDiff.diff(v1, v2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    val sum = graft.ops.CorpusDiff.summary(v1, v2, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sum == Map("added" -> 1L, "removed" -> 1L,
      "changed" -> 1L, "unchanged" -> 1L))
  }

  test("jsonl ingestion quarantines malformed lines, keeps good rows intact") {
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl_spec").toString
    val pw = new java.io.PrintWriter(s"$tmp/in.jsonl", "UTF-8")
    pw.println("""{"doc_id": 1, "text": "alpha", "n": 5}""")
    pw.println("""{"doc_id": 2, "text": "beta", "n": 4}""")
    pw.println("""{broken line""")
    pw.println("""{"doc_id": 3, "text": "gamma", "n": 5}""")
    pw.close()
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("n", LongType)))
    val (good, quarantine) = graft.sources.JsonlSource.readDocuments(
      spark, s"$tmp/in.jsonl", schema)
    assert(good.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    val q = quarantine.as[String].collect()
    assert(q.toSeq == Seq("{broken line"))
  }

  test("corpus report: dup ratio, token mass, modal language, pii docs") {
    val df = Seq(
      (1L, "alpha beta gamma", "en"),
      (2L, "alpha beta gamma", "en"),    // exact dup of 1
      (3L, "delta epsilon", "en"),
      (4L, "write me at x@example.com", "de")
    ).toDF("doc_id", "text", "lang")
    val r = graft.ops.CorpusReport.summarize(df, "doc_id", "text", "lang")
      .collect()(0)
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("n_distinct_texts") == 3L)
    assert(r.getAs[Double]("exact_dup_ratio") == 0.25)
    assert(r.getAs[Long]("total_ws_tokens") == 3 + 3 + 2 + 4)
    assert(r.getAs[String]("top_lang") == "en")
    assert(r.getAs[Long]("top_lang_docs") == 3L)
    assert(r.getAs[Long]("n_pii_docs") == 1L)
  }

  test("line dedup is partition-layout invariant") {
    val base = Seq.tabulate(40)(i =>
      (i.toLong, s"BANNER LINE REPEATED EVERYWHERE\nunique body $i\nfooter ${i % 3} shared here"))
      .toDF("doc_id", "t")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.lineDedup(df, "doc_id", "t", maxOccurrences = 2, minLineChars = 10)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
    assert(run(base) == run(base.repartition(7)))
    assert(run(base) == run(base.repartition(1)))
  }

  test("bloom incremental dedup equals the anti-join on random overlap") {
    val rng = new scala.util.Random(42)
    val corpusTexts = Seq.tabulate(150)(i => s"corpus document number $i with words ${rng.nextInt(5)}")
    val batchTexts = Seq.tabulate(60) { i =>
      if (i % 3 == 0) corpusTexts(rng.nextInt(corpusTexts.size)) // planted dup
      else s"batch only document $i payload ${rng.nextInt(9)}"
    }
    val corpus = corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val batch = batchTexts.zipWithIndex.map { case (t, i) => ((1000 + i).toLong, t) }.toDF("doc_id", "text")
    // tight filter (1% fpp over 150 docs) AND a deliberately undersized
    // filter (high collision pressure) must both equal the exact answer
    for (items <- Seq(1000L, 8L)) {
      val got = Dedup.incrementalNew(corpus, batch, "doc_id", "text",
        expectedItems = items, fpp = 0.01)
        .select("doc_id").as[Long].collect().toSet
      val want = batch.join(corpus, Seq("text"), "left_anti")
        .select("doc_id").as[Long].collect().toSet
      assert(got == want, s"expectedItems=$items")
    }
  }

  test("bpe learns the hand-checkable merge sequence") {
    // corpus: "low" x5, "lower" x2 — classic BPE example, merges verifiable
    // by hand: (l,o) weight 7 wins first (ties: 'lo' beats 'ow' asc? no —
    // all pairs: l+o=7, o+w=7, w+e=2, e+r=2 → tie l,o vs o,w broken by
    // pair asc → (l,o)); then (lo,w)=7; then (low,e)=2 ties (e,r)=2 →
    // (e,r) wins on pair order ('e' < 'low').
    val df = (Seq.fill(5)("low") ++ Seq.fill(2)("lower"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = Bpe.learnMerges(df, "text", 4)
      .orderBy("merge_rank")
      .collect().map(r => (r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("pair_count")))
    assert(merges(0) == ("l", "o", 7L))
    assert(merges(1) == ("lo", "w", 7L))
    assert(merges(2) == ("e", "r", 2L))
    assert(merges(3) == ("low", "er", 2L))
  }

  test("bpe encode counts symbols under the learned merges") {
    val train = (Seq.fill(5)("low") ++ Seq.fill(2)("lower"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = Bpe.learnMerges(train, "text", 4)
      .orderBy("merge_rank").collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
    val out = Bpe.encodeTokenCount(
      Seq((1L, "low lower lowest")).toDF("doc_id", "text"),
      "doc_id", "text", merges).collect()(0)
    // low→[low]=1, lower→[low,er]→[lower]=1 (merge 4 fuses it),
    // lowest→[low,e,s,t]=4 ("est" never merged)
    assert(out.getAs[Long]("n_words") == 3L)
    assert(out.getAs[Long]("n_bpe_tokens") == 6L)
  }

  test("bpe hybrid: driver-side loop learns the identical merge " +
      "sequence as the distributed fallback") {
    val df = (Seq.fill(9)("low lowest") ++ Seq.fill(4)("lower wide") ++
      Seq.fill(3)("newest widest") ++ Seq("new news nest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    def seq(maxDriverBytes: Long) =
      Bpe.learnMerges(df, "text", 20, maxDriverBytes)
        .orderBy("merge_rank").collect()
        .map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("left"),
          r.getAs[String]("right"), r.getAs[Long]("pair_count"))).toSeq
    val driver = seq(Long.MaxValue) // word table trivially fits
    val dist = seq(0L)              // force the distributed fallback
    assert(driver == dist, s"paths diverged:\n  driver=$driver\n  dist=$dist")
    assert(driver.nonEmpty)
  }

  test("bpe hybrid: hundreds of merges cost O(1) Spark jobs, not one " +
      "job per merge") {
    // enough distinct pairs to sustain 512 merges: 400 synthetic words
    // over a 20-letter alphabet
    val rnd = new scala.util.Random(7)
    val letters = "abcdefghijklmnopqrst"
    val df = (1 to 400).map { i =>
      (i.toLong, (1 to 3).map(_ =>
        (0 until 6 + rnd.nextInt(6)).map(_ =>
          letters(rnd.nextInt(letters.length))).mkString).mkString(" "))
    }.toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val merges = Bpe.learnMerges(df, "text", 512)
      val n = merges.count()
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      assert(n >= 512L, s"corpus exhausted early: $n merges")
      // word-table checkpoint + size profile + collect (+ the count
      // above, + AQE sub-jobs) — the 512-iteration loop itself must
      // not touch the cluster
      assert(jobs.get() <= 10, s"${jobs.get()} jobs for 512 merges — " +
        "the merge loop is running distributed")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bpe frequency-floor trim: a word table over the driver budget " +
      "still learns 512 merges in O(1) jobs") {
    // Zipf-shaped: a hot head (every word cnt 50, fits the budget) +
    // 3000 hapax junk words over a DISJOINT alphabet that blow past it.
    // The trim must keep the head engaged on the driver path instead of
    // falling back to one distributed aggregate per merge.
    val rnd = new scala.util.Random(11)
    val letters = "abcdefghijklmnopqrst"
    val headRows = (1 to 400).map { i =>
      (i.toLong, (1 to 3).map(_ =>
        (0 until 6 + rnd.nextInt(6)).map(_ =>
          letters(rnd.nextInt(letters.length))).mkString).mkString(" "))
    }
    val junkLetters = "uvwxyz"
    val junkRows = (1 to 3000).map { j =>
      // base-6 encoding makes every junk word unique (true hapax)
      val w = (0 until 7).map(k => junkLetters((j >> (2 * k)) % 6 match {
        case d => (d + k) % 6
      })).mkString
      (100000L + j, w + junkLetters(j % 6))
    }
    val df = ((1 to 50).flatMap(_ => headRows) ++ junkRows)
      .toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (merges, info) =
        Bpe.learnMergesInfo(df, "text", 512, maxDriverBytes = 2L << 20)
      val n = merges.count()
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      assert(n >= 512L, s"corpus exhausted early: $n merges")
      assert(info.isDefined, "budget overflow must engage the trim path")
      assert(info.get.trimmedWords > 0 && info.get.keptWords > 0)
      assert(info.get.trimmedPairMass > 0)
      assert(jobs.get() <= 64, s"${jobs.get()} jobs for 512 merges — " +
        "the trimmed merge loop is running distributed")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bpe frequency-floor trim: when every argmax clears the trimmed " +
      "pair mass the sequence is proven identical to the untrimmed one") {
    // head: aaaa x1000, bbbb x450 — merge gaps 1650/350/550/420; tail:
    // 30 hapax 5-letter words over c..z, pair mass T = 30*4 = 120 < every
    // gap, so the runtime proof obligation holds and both runs match.
    val alphabet = "cdefghijklmnopqrstuvwxyz"
    val hapax = (0 until 30).map { i =>
      (500000L + i, (0 until 5).map(k =>
        alphabet((i + 7 * k) % alphabet.length)).mkString)
    }
    val df = ((1 to 1000).map(i => (i.toLong, "aaaa")) ++
      (1 to 450).map(i => (10000L + i, "bbbb")) ++ hapax)
      .toDF("doc_id", "text")
    def run(budget: Long) = Bpe.learnMergesInfo(df, "text", 4, budget)
    val (full, fullInfo) = run(Long.MaxValue)
    val (trimmed, trimInfo) = run(1500L)
    assert(fullInfo.isEmpty, "the full table fits — no trim expected")
    assert(trimInfo.isDefined && trimInfo.get.proven,
      s"trim must prove the sequence: $trimInfo")
    assert(trimInfo.get.trimmedPairMass == 120L)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("merge_rank").collect()
        .map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("left"),
          r.getAs[String]("right"), r.getAs[Long]("pair_count"))).toSeq
    assert(rows(trimmed) == rows(full),
      s"proven trim diverged:\n  full=${rows(full)}\n  trim=${rows(trimmed)}")
    assert(rows(full).map(t => (t._2, t._3)) ==
      Seq(("a", "a"), ("b", "b"), ("aa", "aa"), ("bb", "bb")))
  }

  test("cross-corpus near-dups reports only cross-side pairs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "an entirely different corpus document about batch engines"),
      (3L, "shared duplicated text lives on both sides verbatim here")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (1L, "shared duplicated text lives on both sides verbatim here"), // = corpus 3
      (2L, "the quick brown fox jumps over the lazy dog today"),        // near corpus 1
      (3L, "nothing like anything in the training set at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusNearDups(corpus, probe, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("probe_id")))
      .toSet
    assert(pairs.contains((3L, 1L)), "exact cross-side dup missed")
    assert(pairs.contains((1L, 2L)), "near cross-side dup missed")
    // no same-side pair may appear: corpus 1 vs corpus 3 are unrelated
    // anyway, but ids must always decode to (corpus, probe)
    assert(pairs.forall { case (c, p) => c <= 3 && p <= 3 })
  }

  test("tfidf ranks a doc's distinctive term above corpus-wide terms") {
    val df = Seq(
      (1L, "spark spark spark common words here"),
      (2L, "duck duck common words here"),
      (3L, "common words here again")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopTerms(df, "doc_id", "text", 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("token"))
      .toMap
    assert(top(1L) == "spark")
    assert(top(2L) == "duck")
  }

  test("bigram LM score stays finite under a degenerate training set") {
    val train = Seq((1L, "solo")).toDF("doc_id", "text") // no bigrams at all
    val out = TextAnalysis.bigramLmScore(
      Seq((1L, "some scored text here")).toDF("doc_id", "text"),
      train, "doc_id", "text").collect()(0)
    val score = out.getAs[Double]("avg_log10_p")
    assert(!score.isNaN && !score.isInfinite, s"got $score")
  }

  test("bigram LM score ranks in-distribution text above gibberish") {
    val train = Seq.tabulate(20)(i =>
      (100L + i, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val score = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // in-distribution
      (2L, "dog lazy the over jumps fox brown quick the")  // reversed: unseen bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(score, train, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_log10_p"))).toMap
    assert(out(1L)._1 == 8L && out(2L)._1 == 8L)
    assert(out(1L)._2 > out(2L)._2 + 1.0,
      s"expected a clear margin, got ${out(1L)._2} vs ${out(2L)._2}")
  }

  test("bm25 ranks by term frequency with length normalization, drops no-hit docs") {
    val df = Seq(
      (1L, "spark spark spark is great"),               // tf=3, short
      (2L, "spark appears once in a much longer document full of padding words"),
      (3L, "nothing relevant here at all"),
      (4L, "spark spark tools")                         // tf=2, shortest
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(df, "doc_id", "text", Seq("spark"), 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25"))
    assert(out.map(_._1).toSet == Set(1L, 2L, 4L), "doc 3 has no hit")
    // ranking: high-tf short docs above the single-hit long doc
    assert(out.head._1 == 1L)
    assert(out.last._1 == 2L)
    assert(out.forall(_._2 > 0))
  }

  test("bm25 multi-term score is the sum of per-term scores") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha alpha delta"),
      (3L, "beta beta beta epsilon")
    ).toDF("doc_id", "text")
    val both = TextAnalysis.bm25TopK(df, "doc_id", "text",
      Seq("alpha", "beta"), 10).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    val a = TextAnalysis.bm25TopK(df, "doc_id", "text", Seq("alpha"), 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25"))
      .toMap
    val b = TextAnalysis.bm25TopK(df, "doc_id", "text", Seq("beta"), 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25"))
      .toMap
    assert(math.abs(both(1L) - (a(1L) + b(1L))) < 1e-9)
    assert(math.abs(both(2L) - a(2L)) < 1e-9) // doc 2 has no beta
  }

  test("bm25TopKBatch is bit-identical to per-query bm25TopK passes") {
    // the batch form shares ONE tokenization/stats pass across queries;
    // identical scores, ranking, and k-cut are the contract q_rrf's
    // exact twin relies on
    val df = spark.read.parquet(s"${TestSpark.sf001Dir}/documents.parquet")
    val sets = Seq(1L -> Seq("spark", "vector"),
      2L -> Seq("customer", "order", "data"),
      3L -> Seq("window", "agg", "join"))
    val batch = TextAnalysis.bm25TopKBatch(df, "doc_id", "text", sets, 20)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("doc_len"), r.getAs[Double]("bm25"))).toSet
    val single = sets.flatMap { case (qid, terms) =>
      TextAnalysis.bm25TopK(df, "doc_id", "text", terms, 20).collect()
        .map(r => (qid, r.getAs[Long]("doc_id"),
          r.getAs[Int]("doc_len"), r.getAs[Double]("bm25")))
    }.toSet
    assert(batch === single)
  }

  test("weighted sample: without replacement, weight-monotone, layout-stable") {
    val df = (1L to 200L).map(i => (i, if (i == 7L) 1000000L else 10L))
      .toDF("doc_id", "w")
    val s = Sampling.weightedSample(df, "doc_id", "w", 20).collect()
    val ids = s.map(_.getAs[Long]("doc_id"))
    assert(ids.length == 20 && ids.toSet.size == 20, "no replacement")
    assert(ids.contains(7L), "overwhelming weight must be drawn")
    assert(s.map(_.getAs[Int]("sample_rank")).sorted.toSeq == (1 to 20))
    val relaid = Sampling.weightedSample(df.repartition(7), "doc_id", "w", 20)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(relaid.toSeq == ids.toSeq, "partition layout must not change the draw")
  }

  test("weighted sample excludes non-positive weights and caps at eligible rows") {
    val df = Seq((1L, 5L), (2L, 0L), (3L, -4L), (4L, 2L)).toDF("doc_id", "w")
    val s = Sampling.weightedSample(df, "doc_id", "w", 10)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(s == Set(1L, 4L))
  }

  test("duplicate windows finds cross-doc boilerplate, ignores in-doc repeats") {
    val df = Seq(
      (1L, "SHARED LICENSE HEADER TEXT unique body one"),
      (2L, "SHARED LICENSE HEADER TEXT unique body two"),
      (3L, "totally unrelated content repeat repeat repeat repeat ok"),
      (4L, "repeat repeat repeat repeat filler filler filler filler pad")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateWindows(df, "doc_id", "text", n = 4, minDocs = 2)
      .collect().map(r => r.getAs[String]("window") -> r.getAs[Long]("n_docs"))
      .toMap
    assert(out("shared license header text") == 2L)
    // docs 3 and 4 both contain the window "repeat repeat repeat repeat"
    assert(out("repeat repeat repeat repeat") == 2L)
    // windows only ever inside ONE doc (however often) are not reported
    assert(!out.keys.exists(_.contains("filler filler filler")))
  }

  test("sequence index: offsets, boundary crossing, zero-token drop") {
    val df = Seq((1L, 300L), (2L, 300L), (3L, 0L), (4L, 500L))
      .toDF("doc_id", "nt")
    val out = Sampling.sequenceIndex(df, "doc_id", "nt", seqLen = 512)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("start_offset"), r.getAs[Long]("first_seq"),
          r.getAs[Long]("last_seq")))).toMap
    assert(!out.contains(3L), "zero-token doc occupies no stream positions")
    assert(out(1L) == ((0L, 0L, 0L)))
    assert(out(2L) == ((300L, 0L, 1L)), "doc 2 crosses the 512 cut")
    assert(out(4L) == ((600L, 1L, 2L)), "doc 4 spans sequences 1..2")
  }

  test("filter funnel counts are ordered and conserve documents") {
    val df = Seq(
      (1L, "en", 100L), // passes all
      (2L, "en", 500L), // fails max_chars
      (3L, "de", 100L), // fails lang (its chars never reach stage 2)
      (4L, "en", 500L), // fails max_chars
      (5L, "fr", 900L)  // fails lang
    ).toDF("doc_id", "lang", "n_chars")
    val out = graft.ops.CorpusReport.filterFunnel(df, Seq(
        "lang_en" -> (col("lang") === "en"),
        "max_chars" -> (col("n_chars") <= 300)))
      .orderBy("stage_idx").collect()
      .map(r => (r.getAs[String]("stage"), r.getAs[Long]("n_in"),
        r.getAs[Long]("n_dropped"), r.getAs[Long]("n_out")))
    assert(out.toSeq == Seq(
      ("lang_en", 5L, 2L, 3L),
      ("max_chars", 3L, 2L, 1L)))
  }

  test("filter funnel treats a null predicate result as a drop") {
    val df = Seq((1L, Some("en")), (2L, None), (3L, Some("en")))
      .toDF("doc_id", "lang")
    val out = graft.ops.CorpusReport.filterFunnel(df,
        Seq("lang_en" -> (col("lang") === "en")))
      .collect()(0)
    assert(out.getAs[Long]("n_dropped") == 1L)
    assert(out.getAs[Long]("n_out") == 2L)
  }

  test("leakage-safe split co-assigns every copy of a duplicated text") {
    // ids chosen so a per-ID split would scatter the copies
    val df = (1L to 300L).map(i =>
      (i, if (i % 3 == 0) "the one duplicated document text" else s"unique $i"))
      .toDF("doc_id", "text")
    val a = Sampling.leakageSafeSplit(df, "doc_id", "text",
      Seq("train" -> 800, "val" -> 100, "test" -> 100))
    val dupSplits = a.filter(col("text") === "the one duplicated document text")
      .select("split", "group_id").distinct().collect()
    assert(dupSplits.length == 1, "all copies must land in ONE split")
    assert(dupSplits(0).getAs[Long]("group_id") == 3L,
      "group id is the minimum member id")
    // sanity: the naive per-doc split WOULD scatter them
    val naive = Sampling.split(df, "doc_id",
        Seq("train" -> 800, "val" -> 100, "test" -> 100))
      .filter(col("text") === "the one duplicated document text")
      .select("split").distinct().count()
    assert(naive > 1, "test premise: per-doc hashing scatters the copies")
  }

  test("token-budget sample reaches each budget minimally, drops unbudgeted") {
    val df = (1L to 200L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", 50L)).toDF("doc_id", "lang", "nt")
    val out = Sampling.tokenBudgetSample(df, "lang", "doc_id", "nt",
      Seq("a" -> 1000L)).collect()
    assert(out.forall(_.getAs[String]("lang") == "a"), "stratum b not budgeted")
    assert(out.length == 20, "20 x 50 tokens reaches exactly 1000")
    val total = out.map(_.getAs[Long]("nt")).sum
    assert(total >= 1000L && total - 50L < 1000L,
      "budget reached, minus the last doc it is not")
    // layout invariance
    val relaid = Sampling.tokenBudgetSample(df.repartition(7), "lang",
        "doc_id", "nt", Seq("a" -> 1000L))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(relaid == out.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("ngram overlap: full copy 1.0, disjoint 0.0, short probe null") {
    val ref = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val probe = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "one two three four five six seven eight nine ten"),
      (12L, "too short")
    ).toDF("doc_id", "text")
    val out = Dedup.ngramOverlap(ref, probe, "doc_id", "text", n = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"),
          Option(r.getAs[java.lang.Double]("overlap_pct"))))).toMap
    assert(out(10L) == ((3L, Some(1.0))))
    assert(out(11L) == ((3L, Some(0.0))))
    assert(out(12L)._1 == 0L)
    assert(out(12L)._2.isEmpty,
      "a probe with no windows must report null, not verified-clean 0.0")
  }

  test("export shards: manifest conserves rows and is layout-stable") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val df = (1L to 500L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val m1 = Sampling.exportShards(df, "doc_id", tmp, nShards = 4, seed = "s")
      .orderBy("shard").collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("id_checksum")))
    assert(m1.map(_._2).sum == 500L, "manifest must conserve rows")
    assert(m1.map(_._1).toSeq == (0L until 4L))
    val m2 = Sampling.exportShards(df.repartition(13), "doc_id",
        tmp + "2", nShards = 4, seed = "s")
      .orderBy("shard").collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("id_checksum")))
    assert(m1.toSeq == m2.toSeq, "shard assignment must not depend on layout")
    // the written data must agree with its own manifest
    val back = spark.read.parquet(s"$tmp/data")
      .groupBy(col("__shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("shard") -> r.getAs[Long]("n")).toMap
    m1.foreach { case (s, n, _) => assert(back(s) == n,
      s"shard $s: manifest says $n, data has ${back(s)}") }
  }

  test("sequence index is partition-layout invariant") {
    val df = (1L to 100L).map(i => (i, 37L)).toDF("doc_id", "nt")
    val a = Sampling.sequenceIndex(df, "doc_id", "nt", 128)
      .orderBy("doc_id").collect().map(_.getAs[Long]("start_offset")).toSeq
    val b = Sampling.sequenceIndex(df.repartition(13), "doc_id", "nt", 128)
      .orderBy("doc_id").collect().map(_.getAs[Long]("start_offset")).toSeq
    assert(a == b && a == (0L until 100L).map(_ * 37L))
  }

  test("cdc chunks: shifted copy re-aligns; chunks reassemble the doc") {
    // deterministic 300-token doc and a copy with one token prepended
    val toks = (0 until 300).map(i => s"w${(i * 7919) % 97}x$i")
    val a = toks.mkString(" ")
    val b = "zshift " + a
    val df = Seq((1L, a), (2L, b)).toDF("id", "text")
    val ch = Dedup.contentDefinedChunks(df, "id", "text").collect()
    val byDoc = ch.groupBy(_.getAs[Long]("id"))
    // reassembly: chunks in order concatenate back to the token stream
    val re = byDoc(1L).sortBy(_.getAs[Int]("chunk_idx"))
      .map(_.getAs[String]("chunk_text")).mkString(" ")
    assert(re == a.toLowerCase)
    // shift-robustness: boundaries re-align after the edit, so the two
    // docs share most chunk hashes — fixed-offset chunks would share 0
    val ha = byDoc(1L).map(_.getAs[String]("chunk_hash")).toSet
    val hb = byDoc(2L).map(_.getAs[String]("chunk_hash")).toSet
    val jac = (ha & hb).size.toDouble / (ha | hb).size
    assert(jac >= 0.6, s"chunk jaccard $jac — boundaries did not re-align")
    // and sharedChunks reports exactly the intersection
    val shared = Dedup.sharedChunks(df, "id", "text")
      .collect().map(_.getAs[String]("chunk_hash")).toSet
    assert(shared == (ha & hb))
  }

  test("split balance: shares and deltas hand-checkable, zero cells visible") {
    val df = Seq(("a", "x"), ("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"))
      .toDF("split", "lang")
    val out = Sampling.splitBalance(df, "split", "lang")
      .collect().map(r => (r.getAs[String]("split"), r.getAs[String]("stratum")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("share_in_split"),
          r.getAs[Double]("share_overall"), r.getAs[Double]("delta"))).toMap
    assert(out.size == 4, "every (split, stratum) pair must materialize")
    assert(out(("a", "x")) == (3L, 0.75, 0.8, -0.05))
    assert(out(("a", "y")) == (1L, 0.25, 0.2, 0.05))
    assert(out(("b", "x")) == (1L, 1.0, 0.8, 0.2))
    assert(out(("b", "y")) == (0L, 0.0, 0.2, -0.2), "missing stratum is a zero row")
  }

  test("winsorize: exact interpolated bounds clamp the tails") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val out = TextAnalysis.winsorize(df, "v", exact = true).collect()
    // p05 of 1..100 = 1 + 0.05·99 = 5.95; p95 = 95.05 (linear interp)
    out.foreach { r =>
      assert(r.getAs[Double]("lo") == 5.95 && r.getAs[Double]("hi") == 95.05)
      val v = r.getAs[Double]("v"); val c = r.getAs[Double]("clipped")
      assert(c == math.min(math.max(v, 5.95), 95.05))
    }
    // the sketch path lands near the exact bounds on this tiny input
    val approx = TextAnalysis.winsorize(df, "v").collect()(0)
    assert(math.abs(approx.getAs[Double]("lo") - 5.95) < 2.0)
    assert(math.abs(approx.getAs[Double]("hi") - 95.05) < 2.0)
  }

  test("mean pool: hand-checkable means, layout invariant") {
    val df = Seq(
      (1L, Array(1.0f, 3.0f)), (1L, Array(3.0f, 5.0f)),
      (2L, Array(10.0f, 0.0f)))
      .toDF("g", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Embeddings.meanPool(d, "g", "v")
        .collect().map(r => r.getAs[Long]("group_id") ->
          r.getSeq[Double](r.fieldIndex("pooled")).toList).toMap
    val out = run(df)
    assert(out(1L) == Seq(2.0, 4.0))
    assert(out(2L) == Seq(10.0, 0.0))
    assert(run(df.repartition(5)) == out)
  }

  test("cell drift: identical snapshots are flat, planted mass shows up") {
    val emb = spark.read
      .parquet(s"${TestSpark.sf001Dir}/embeddings.parquet")
    val cents = Similarity.trainCentroids(emb, "vec_id", "embedding", k = 8)
    val self = Embeddings.cellDrift(emb, emb, "vec_id", "embedding", cents)
      .collect()
    assert(self.length == 8)
    self.foreach { r =>
      assert(r.getAs[Double]("delta") == 0.0)
      assert(r.getAs[Long]("n_base") == r.getAs[Long]("n_new"))
    }
    assert(math.abs(self.map(_.getAs[Double]("share_base")).sum - 1.0) < 1e-4)
    // doubling one cell's members must push its share up
    val cell0 = Similarity.assignCells(
        emb.select(col("vec_id").as("__id"),
          col("embedding").cast("array<double>").as("__v")),
        "__id", cents)
      .filter(col("__cell") === 0).select(col("__id"))
    val heavier = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.join(cell0, emb("vec_id") === cell0("__id"))
        .select((col("vec_id") + 500000).as("vec_id"), col("embedding")))
    val drifted = Embeddings.cellDrift(emb, heavier, "vec_id", "embedding",
        cents).collect()
    val d0 = drifted.find(_.getAs[Int]("cell") == 0).get
    assert(d0.getAs[Double]("delta") > 0.0,
      s"cell 0 should gain share: ${d0.toSeq}")
  }

  test("cdc chunks: short doc is one whole chunk, empty doc emits none") {
    val df = Seq((1L, "only five tokens right here"), (2L, "  "))
      .toDF("id", "text")
    val ch = Dedup.contentDefinedChunks(df, "id", "text").collect()
    assert(ch.length == 1)
    assert(ch(0).getAs[Long]("id") == 1L)
    assert(ch(0).getAs[String]("chunk_text") == "only five tokens right here")
    assert(ch(0).getAs[Int]("n_tokens") == 5)
  }

  test("curriculum: equal-count bins feed in order, shuffled within") {
    // scores 10,20,…,80 over ids 1..8; 2 buckets → ids 1-4 easy, 5-8 hard
    val df = (1L to 8L).map(i => (i, i * 10.0)).toDF("doc_id", "s")
    val rows = Sampling.curriculum(df, "doc_id", "s", nBuckets = 2,
        seed = "t").collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("score_rank"), r.getAs[Long]("bucket"),
        r.getAs[Long]("position"))).toMap
    (1L to 8L).foreach(i => assert(byId(i)._1 == i - 1))
    (1L to 4L).foreach(i => assert(byId(i)._2 == 0L))
    (5L to 8L).foreach(i => assert(byId(i)._2 == 1L))
    // positions are the permutation 0..7 and every easy-bin position
    // precedes every hard-bin position
    assert(rows.map(_.getAs[Long]("position")).sorted.toSeq == (0L to 7L))
    val maxEasy = (1L to 4L).map(byId(_)._3).max
    val minHard = (5L to 8L).map(byId(_)._3).min
    assert(maxEasy < minHard)
    // within-bin order is the md5 shuffle, not id order
    val easyOrder = (1L to 4L).sortBy(byId(_)._3)
    assert(easyOrder != (1L to 4L).toSeq || {
      // 4 ids give 1/24 odds of identity by chance; accept but verify
      // the hard bin then differs (joint odds 1/576)
      (5L to 8L).sortBy(byId(_)._3) != (5L to 8L).toSeq
    }, "md5 shuffle left both bins in id order")
  }

  test("curriculum degenerate: more buckets than rows stays a permutation") {
    val df = Seq((1L, 5.0), (2L, 1.0), (3L, 9.0)).toDF("doc_id", "s")
    val rows = Sampling.curriculum(df, "doc_id", "s", nBuckets = 10,
        seed = "z").collect()
    // ranks by score: 2 (1.0) -> 0, 1 (5.0) -> 1, 3 (9.0) -> 2; cut
    // formula floor(rank*10/3) gives sparse buckets {0, 3, 6}
    val byId = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("bucket"), r.getAs[Long]("position"))).toMap
    assert(byId(2L)._1 == 0L && byId(1L)._1 == 3L && byId(3L)._1 == 6L)
    assert(rows.map(_.getAs[Long]("position")).sorted.toSeq == Seq(0L, 1L, 2L))
    // feed order follows bucket order even with gaps
    assert(byId(2L)._2 < byId(1L)._2 && byId(1L)._2 < byId(3L)._2)
  }

  test("curriculum is partition-layout invariant and replays in DuckDB form") {
    val df = (1L to 60L).map(i => (i, (i * 7 % 13).toDouble)).toDF("doc_id", "s")
    val a = Sampling.curriculum(df, "doc_id", "s", 4, "x")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = Sampling.curriculum(df.repartition(7), "doc_id", "s", 4, "x")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
    // equal-count cut: 60 rows / 4 buckets = 15 each
    val sizes = a.groupBy(_(2)).view.mapValues(_.size).toMap
    assert(sizes.values.toSet == Set(15))
  }

  test("index-mutating battery queries are invocation-stable (bench pass parity)") {
    // q_dedup_ingest / q_ann_ivf_append memoize a pristine base index
    // and mutate a per-invocation working copy; without that, Bench's
    // pass N would probe an index carrying N-1 prior appends and both
    // results and timed work would drift pass-over-pass
    val dir = TestSpark.sfDir
    for (name <- Seq("q_dedup_ingest", "q_ann_ivf_append")) {
      val first = SparkEntry.queries(name)(spark, dir)
        .collect().map(_.toSeq).toSeq
      val second = SparkEntry.queries(name)(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(second == first, s"$name drifted on re-invocation")
    }
  }

  test("contamination spans: merged intervals, gap split, clean doc absent") {
    // reference vocabulary: w0..w39 in order
    val refText = (0 until 40).map(i => s"w$i").mkString(" ")
    val ref = Seq((100L, refText)).toDF("doc_id", "text")
    // probe: ref[0..9] ++ 12 novel ++ ref[20..29] — two hit regions
    val probeText = ((0 until 10).map(i => s"w$i") ++
      (0 until 12).map(i => s"x$i") ++
      (20 until 30).map(i => s"w$i")).mkString(" ")
    val probe = Seq((1L, probeText), (2L, "entirely novel tokens only"))
      .toDF("doc_id", "text")
    val spans = Dedup.contaminationSpans(ref, probe, "doc_id", "text", n = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // region 1: windows at 0..6 → [0, 10); region 2: at 22..28 → [22, 32)
    assert(spans.toSeq ===
      Seq((1L, 0L, 10L, 7L), (1L, 22L, 32L, 7L)))
  }

  test("contamination spans merge adjacent regions and clamp short docs") {
    val ref = Seq((100L, "a b c d e f g h")).toDF("doc_id", "text")
    // every 4-window of the probe hits → one span covering everything
    val probe = Seq((1L, "a b c d e f g h"), (2L, "b c d")) // 2: truncated
      .toDF("doc_id", "text")
    val spans = Dedup.contaminationSpans(ref, probe, "doc_id", "text", n = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1: starts 0..4 chain into [0, 8); doc 2's truncated 3-token
    // window "b c d" is NOT a reference 4-shingle → no span
    assert(spans.toSeq === Seq((1L, 0L, 8L)))
  }

  test("removeSpans cuts exactly the span tokens and passes clean docs") {
    val probe = Seq(
      (1L, "Keep0 CUT1 CUT2 CUT3 Keep4 Keep5"),
      (2L, "untouched original   spacing")).toDF("doc_id", "text")
    val spans = Seq((1L, 1L, 4L, 3L))
      .toDF("doc_id", "span_start", "span_end", "n_windows")
    val out = Dedup.removeSpans(probe, "doc_id", "text", spans)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("clean_text") === "Keep0 Keep4 Keep5")
    assert(out(0).getAs[Long]("n_removed") === 3L)
    // no spans → text bit-identical (not even whitespace-normalized)
    assert(out(1).getAs[String]("clean_text") ===
      "untouched original   spacing")
    assert(out(1).getAs[Long]("n_removed") === 0L)
  }

  test("surgical decontamination round-trip: cut spans no longer overlap") {
    val refText = (0 until 60).map(i => s"r$i").mkString(" ")
    val ref = Seq((100L, refText)).toDF("doc_id", "text")
    val probeText = ((0 until 15).map(i => s"r$i") ++
      (0 until 10).map(i => s"n$i") ++ (30 until 45).map(i => s"r$i"))
      .mkString(" ")
    val probe = Seq((1L, probeText)).toDF("doc_id", "text")
    val spans = Dedup.contaminationSpans(ref, probe, "doc_id", "text", n = 5)
    val cleaned = Dedup.removeSpans(probe, "doc_id", "text", spans)
      .select(col("doc_id"), col("clean_text").as("text"))
    // after the cut, a re-scan finds nothing
    assert(Dedup.contaminationSpans(ref, cleaned, "doc_id", "text", n = 5)
      .count() === 0L)
    assert(cleaned.head.getString(1) ===
      (0 until 10).map(i => s"n$i").mkString(" "))
  }
}
