package graft

import graft.ops.BloomGate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom pre-gate: no false negatives ever, measured false-positive
  * rate within the standard envelope, incremental build composition,
  * layout invariance, and the occupancy dial. */
class BloomGateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet(s"${TestSpark.sf001Dir}/documents.parquet")

  test("every corpus key probes maybe_dup (no false negatives)") {
    val corpus = docs.filter(col("doc_id") < 400)
    val bloom = BloomGate.build(corpus, "text")
    val res = BloomGate.probe(bloom, corpus.select("doc_id", "text"),
        "doc_id", "text")
      .collect()
    assert(res.length === 400)
    assert(res.forall(_.getAs[Boolean]("maybe_dup")),
      "a corpus member probed definitely-new — bloom false negative")
  }

  test("fresh keys probe definitely-new within the FP envelope") {
    val corpus = docs.filter(col("doc_id") < 400)
    val bloom = BloomGate.build(corpus, "text",
      mBitsPerBucket = 1 << 14, kHashes = 5, nBuckets = 32)
    val fresh = (0 until 500)
      .map(i => (10000L + i, s"entirely fresh probe document $i"))
      .toDF("doc_id", "text")
    val res = BloomGate.probe(bloom, fresh, "doc_id", "text",
      mBitsPerBucket = 1 << 14, kHashes = 5, nBuckets = 32).collect()
    val fp = res.count(_.getAs[Boolean]("maybe_dup"))
    // 400 keys x 5 hashes over 2^19 total bits -> fill ~0.4%, FP ~1e-12;
    // any hit here means broken hashing, not bloom probability
    assert(fp === 0, s"$fp of 500 fresh keys false-positived")
  }

  test("null-keyed batch rows surface as maybe_dup=false (one row per " +
      "batch row — build never inserts nulls, so absence is definitive)") {
    val corpus = docs.filter(col("doc_id") < 400)
    val bloom = BloomGate.build(corpus, "text")
    val batch = Seq((1L, Option("entirely fresh null-test probe")),
      (2L, None), (3L, None)).toDF("doc_id", "text")
    val res = BloomGate.probe(bloom, batch, "doc_id", "text").collect()
    assert(res.length === 3, "null-keyed rows must not vanish from the gate")
    assert(res.filter(r => r.getLong(0) >= 2L)
      .forall(!_.getAs[Boolean]("maybe_dup")))
  }

  test("incremental build composes: union-then-merge == build-of-union") {
    val a = docs.filter(col("doc_id") < 200)
    val b = docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
    val merged = BloomGate.build(a, "text")
      .unionByName(BloomGate.build(b, "text"))
      .groupBy("__bucket", "__word")
      .agg(expr("bit_or(__bits)").as("__bits"))
    val whole = BloomGate.build(docs.filter(col("doc_id") < 400), "text")
    val m = merged.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val w = whole.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m === w)
  }

  test("gated decontamination: identical verdicts to the ungated op, " +
      "fresh docs pruned before the pair machinery (no false negatives)") {
    import graft.ops.Dedup
    val corpus = docs.filter(col("doc_id") < 300)
    val probe = docs.filter(col("doc_id") < 10)
      .withColumn("text", concat(col("text"), lit(" bench token")))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("jaccard", round(col("jaccard"), 6))
      .collect().map(_.toSeq).sortBy(_.mkString("§")).toSeq
    val raw = canon(Dedup.crossCorpusNearDups(corpus, probe, "doc_id", "text"))
    val gated = Dedup.decontaminateGated(corpus, probe, "doc_id", "text")
    assert(canon(gated) == raw, "gate changed the contamination verdicts")
    assert(raw.nonEmpty, "planted contamination must surface")
    // an entirely-fresh corpus (disjoint vocabulary) has zero suspects —
    // the expensive side of the scan is empty, which is the whole point
    val fresh = (0 until 200).map(i =>
        (5000L + i, s"zq$i xv$i wq$i pk$i mn$i bb$i"))
      .toDF("doc_id", "text")
    assert(Dedup.bloomSuspects(fresh, probe, "doc_id", "text").count() === 0)
    // and every true-pair corpus doc is in the suspect set (no false negs)
    val suspects = Dedup.bloomSuspects(corpus, probe, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val pairCorpusIds = raw.map(_.head.asInstanceOf[Long]).toSet
    assert(pairCorpusIds.subsetOf(suspects),
      s"gate dropped true pairs: ${pairCorpusIds -- suspects}")
    // plan pin: the gate prunes BEFORE the pair machinery — the gated
    // corpus side enters the LSH front through a left-semi join
    val plan = gated.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"no semi-join gate in the plan:\n${plan.take(2000)}")
    // docs shorter than a shingle still pair in the minhash kernel via
    // the truncated position-0 shingle — the gate must not drop them
    val shortCorpus = Seq((1L, "answer key"), (2L, "unrelated thing"))
      .toDF("doc_id", "text")
    val shortProbe = Seq((9L, "answer key")).toDF("doc_id", "text")
    val shortRaw = canon(Dedup.crossCorpusNearDups(
      shortCorpus, shortProbe, "doc_id", "text"))
    assert(shortRaw.nonEmpty, "short identical docs must pair in the raw op")
    assert(canon(Dedup.decontaminateGated(
      shortCorpus, shortProbe, "doc_id", "text")) == shortRaw,
      "gate dropped a short-doc contamination pair")
  }

  test("word table is layout-invariant") {
    val corpus = docs.filter(col("doc_id") < 400)
    val one = BloomGate.build(corpus.repartition(1), "text")
      .collect().map(_.toSeq).toSet
    val many = BloomGate.build(corpus.repartition(17), "text")
      .collect().map(_.toSeq).toSet
    assert(one === many)
  }

  test("occupancy reports the fill the FP math needs") {
    val corpus = docs.filter(col("doc_id") < 400)
    val bloom = BloomGate.build(corpus, "text",
      mBitsPerBucket = 1 << 10, kHashes = 5, nBuckets = 8)
    val r = BloomGate.occupancy(bloom, 1 << 10, 8).collect().head
    assert(r.getAs[Long]("buckets") === 8L)
    val fill = r.getAs[Double]("fill_ratio")
    // ~2000 distinct bits over 8192: fill in a sane band, and set_bits
    // <= corpus x k (collisions only reduce it)
    assert(fill > 0.1 && fill < 0.3, s"fill $fill outside expected band")
    assert(r.getAs[Long]("set_bits") <= 400L * 5)
  }

  test("plan: build is projection + one bit_or exchange; probe adds <= 2") {
    val corpus = docs.filter(col("doc_id") < 400)
    val bloom = BloomGate.build(corpus, "text")
    def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
          org.apache.spark.sql.Row]]
        .queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      "Exchange (hash|range)partitioning".r.findAllIn(plan).size
    }
    // hash/explode/mask are all per-row; the only exchange the build may
    // pay is the word aggregation's (partial bit_or combines map-side)
    assert(shuffles(bloom) === 1, "bloom build must shuffle exactly once")
    val fresh = (0 until 50).map(i => (9000L + i, s"probe doc $i"))
    import spark.implicits._
    val probe = BloomGate.probe(bloom, fresh.toDF("doc_id", "text"),
      "doc_id", "text")
    // word join + per-id verdict aggregate (AQE may broadcast the join)
    assert(shuffles(probe) <= 3, "bloom probe shuffled more than join+agg")
  }

  test("guards: bad geometry rejected loudly") {
    intercept[IllegalArgumentException] {
      BloomGate.build(docs, "text", mBitsPerBucket = 10)
    }
    intercept[IllegalArgumentException] {
      BloomGate.build(docs, "text", kHashes = 0)
    }
  }
}
