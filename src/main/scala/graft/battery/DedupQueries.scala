package graft
package battery

import graft.ops.{Bpe, Dedup, Sampling, Similarity, TextAnalysis, TextIndex}
import graft.plan.SemanticQuery
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pipeline ops: exact, near-duplicate and line-level dedup, corpus
  * filters and profiles, and benchmark decontamination. */
object DedupQueries {
  import Battery._

  /** 30 tokens no real corpus contains — the novel filler between the
    * planted contaminated passages of the span-decontamination pair. */
  private val spanNovel = (1 to 30).map(i => s"spanglyph$i").mkString(" ")

  /** Shared probe frame of the contamination-span pair (q_contam_spans /
    * q_decontam_surgical): four raw docs, one probe interleaving two
    * 20-token in-reference passages around [[spanNovel]], one all-novel. */
  private def contamProbe(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(col("doc_id") >= 434 && col("doc_id") < 438)
      .select(col("doc_id"), col("text"))
      .unionByName(docs(s, d).filter(col("doc_id") === 8)
        .select(lit(9100L).as("doc_id"),
          concat_ws(" ",
            expr("concat_ws(' ', slice(split(lower(text), '\\\\s+'), 1, 20))"),
            lit(spanNovel),
            expr("concat_ws(' ', slice(split(lower(text), '\\\\s+'), 21, 20))"))
            .as("text")))
      .unionByName(docs(s, d).filter(col("doc_id") === 8)
        .select(lit(9101L).as("doc_id"),
          lit(spanNovel.replace("spanglyph", "sologlyph")).as("text")))

  val all: Seq[BatteryQuery] = Seq(
    // ---- pipeline ops: dedup ----
    // Bloom pre-gate: corpus members must probe maybe_dup (no false
    // negatives by construction); fresh probes route past the exact
    // path. The md5-derived hashes replay bit-for-bit in DuckDB, so the
    // oracle rebuilds the ENTIRE word table and re-derives every verdict
    BatteryQuery("q_bloom_gate",
      // full Bloom replay: rebuild the word table from md5 hashes, rejoin
      // the probes, re-derive every verdict — nothing is pinned
      """WITH corpus AS (SELECT text FROM documents WHERE doc_id < 400),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 10
        |  UNION ALL
        |  SELECT doc_id + 9000, text || ' fresh tail'
        |  FROM documents WHERE doc_id < 10),
        |cbits AS (
        |  SELECT ('0x'||substr(md5('b:'||text),1,8))::BIGINT % 8 AS bucket,
        |    ('0x'||substr(md5(i||':'||text),1,8))::BIGINT % 4096 AS pos
        |  FROM corpus, unnest([0,1,2]) AS u(i)),
        |bloom AS (
        |  SELECT bucket, pos // 63 AS word,
        |    bit_or(1::BIGINT << (pos % 63)::INT) AS bits
        |  FROM cbits GROUP BY 1, 2),
        |pbits AS (
        |  SELECT doc_id,
        |    ('0x'||substr(md5('b:'||text),1,8))::BIGINT % 8 AS bucket,
        |    ('0x'||substr(md5(i||':'||text),1,8))::BIGINT % 4096 AS pos
        |  FROM batch, unnest([0,1,2]) AS u(i))
        |SELECT p.doc_id, bool_and(
        |    (coalesce(b.bits, 0) & (1::BIGINT << (p.pos % 63)::INT)) <> 0)
        |  AS maybe_dup
        |FROM pbits p LEFT JOIN bloom b
        |  ON b.bucket = p.bucket AND b.word = p.pos // 63
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) => {
      val corpus = docs(s, d).filter(col("doc_id") < 400)
      val bloom = ops.BloomGate.build(corpus, "text",
        mBitsPerBucket = 1 << 12, kHashes = 3, nBuckets = 8)
      val batch = docs(s, d).filter(col("doc_id") < 10)
        .select(col("doc_id"), col("text"))
        .unionByName(docs(s, d).filter(col("doc_id") < 10)
          .select((col("doc_id") + 9000).as("doc_id"),
            concat(col("text"), lit(" fresh tail")).as("text")))
      ops.BloomGate.probe(bloom, batch, "doc_id", "text",
          mBitsPerBucket = 1 << 12, kHashes = 3, nBuckets = 8)
        .orderBy("doc_id")
    }),

    // the filter's occupancy dial (FP ≈ fill^k), replayed exactly
    BatteryQuery("q_bloom_occupancy",
      // occupancy re-derived from the same replayed word table
      """WITH cbits AS (
        |  SELECT ('0x'||substr(md5('b:'||text),1,8))::BIGINT % 8 AS bucket,
        |    ('0x'||substr(md5(i||':'||text),1,8))::BIGINT % 4096 AS pos
        |  FROM (SELECT text FROM documents WHERE doc_id < 400),
        |    unnest([0,1,2]) AS u(i)),
        |bloom AS (
        |  SELECT bucket, pos // 63 AS word,
        |    bit_or(1::BIGINT << (pos % 63)::INT) AS bits
        |  FROM cbits GROUP BY 1, 2)
        |SELECT CAST(count(DISTINCT bucket) AS BIGINT) AS buckets,
        |  CAST(count(*) AS BIGINT) AS words,
        |  CAST(sum(bit_count(bits)) AS BIGINT) AS set_bits,
        |  round(sum(bit_count(bits)) / (4096.0 * 8), 6) AS fill_ratio
        |FROM bloom""".stripMargin
    )((s, d) => {
      val bloom = ops.BloomGate.build(docs(s, d).filter(col("doc_id") < 400),
        "text", mBitsPerBucket = 1 << 12, kHashes = 3, nBuckets = 8)
      ops.BloomGate.occupancy(bloom, 1 << 12, 8)
    }),

    BatteryQuery("q_dedup_exact",
      """SELECT source, count(*) AS n_docs
        |FROM (SELECT * FROM (
        |        SELECT *, row_number() OVER (PARTITION BY sha256(text)
        |          ORDER BY doc_id) AS rn
        |        FROM documents)
        |      WHERE rn = 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )((s, d) =>
      Dedup.exact(docs(s, d), "doc_id", "text")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .orderBy("source")),

    // the routing receipt behind every collapse-routed pair-former:
    // the family-map shape is oracle-checkable SQL; the Spark-planner
    // columns (routed / input_bytes / gate_bytes) are spec-gated in
    // FamilyRouteSpec instead
    BatteryQuery("q_route_receipt",
      """SELECT cast(sum(c) AS BIGINT) AS n_rows,
        |  cast(count(*) AS BIGINT) AS families,
        |  cast(max(c) AS BIGINT) AS max_family,
        |  cast(sum(c - 1) AS BIGINT) AS dup_rows,
        |  cast(sum(CASE WHEN c > 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS overcap_families,
        |  cast(sum(CASE WHEN c > 2 THEN c - 1 ELSE 0 END) AS BIGINT)
        |    AS overcap_rows_dropped
        |FROM (SELECT count(*) AS c FROM documents
        |      WHERE text IS NOT NULL GROUP BY text)""".stripMargin
    )((s, d) =>
      Dedup.describeRoute(docs(s, d), "doc_id", "text", maxFamily = 2)
        .select("n_rows", "families", "max_family", "dup_rows",
          "overcap_families", "overcap_rows_dropped")),

    // the vector-content twin: the SAME receipt over an embedding
    // column (Similarity.describeRoute — cosineNearDupPairs/semDedup
    // ride the same gate). Exact copies of vec_id < 20 are planted at
    // +100000 so the family map has 20 two-member families; with
    // maxFamily = 1 those are the over-cap blast radius
    BatteryQuery("q_route_receipt_vec",
      """SELECT cast(sum(c) AS BIGINT) AS n_rows,
        |  cast(count(*) AS BIGINT) AS families,
        |  cast(max(c) AS BIGINT) AS max_family,
        |  cast(sum(c - 1) AS BIGINT) AS dup_rows,
        |  cast(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS overcap_families,
        |  cast(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
        |    AS overcap_rows_dropped
        |FROM (SELECT count(*) AS c FROM (
        |        SELECT embedding FROM embeddings WHERE embedding IS NOT NULL
        |        UNION ALL
        |        SELECT embedding FROM embeddings
        |        WHERE embedding IS NOT NULL AND vec_id < 20)
        |      GROUP BY embedding)""".stripMargin
    )((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val copies = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 100000)
      Similarity.describeRoute(emb.unionByName(copies), "vec_id",
          "embedding", maxFamily = 1)
        .select("n_rows", "families", "max_family", "dup_rows",
          "overcap_families", "overcap_rows_dropped")
    }),

    BatteryQuery("q_dedup_minhash",
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(jaccard AS DOUBLE) AS jaccard
        |FROM (VALUES
        |(8, 245, 0.9878),
        |(26, 455, 0.9),
        |(31, 383, 0.9762),
        |(44, 446, 0.9565),
        |(45, 267, 0.974),
        |(45, 413, 0.987),
        |(58, 293, 0.9857),
        |(61, 185, 0.9825),
        |(70, 447, 0.9891),
        |(72, 377, 0.9756),
        |(87, 134, 0.9545),
        |(92, 450, 0.9583),
        |(98, 290, 0.9891),
        |(107, 387, 0.9737),
        |(120, 332, 0.9714),
        |(152, 178, 0.973),
        |(166, 323, 0.9833),
        |(267, 413, 0.9868),
        |(285, 301, 0.9891),
        |(295, 374, 0.9667),
        |(310, 389, 0.9615),
        |(326, 457, 0.9714),
        |(393, 420, 0.9873),
        |(435, 486, 0.9667),
        |(458, 462, 0.9828))
        |t(id_a, id_b, jaccard)""".stripMargin
    )((s, d) =>
      Dedup.minHashLSH(docs(s, d), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.4)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")),

    // the production collapse-first composition: plant exact copies
    // (gate data has none) so the collapse itself is under the oracle —
    // copies of docs < 30 at +200000 collapse onto their min-id
    // originals, so the pair set equals q_dedup_minhash's among
    // representatives while dups_* records the family sizes
    BatteryQuery("q_dedup_minhash_collapsed",
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(jaccard AS DOUBLE) AS jaccard, CAST(dups_a AS BIGINT) AS dups_a, CAST(dups_b AS BIGINT) AS dups_b
        |FROM (VALUES
        |(8, 245, 0.9878, 2, 1),
        |(26, 455, 0.9, 2, 1),
        |(31, 383, 0.9762, 1, 1),
        |(44, 446, 0.9565, 1, 1),
        |(45, 267, 0.974, 1, 1),
        |(45, 413, 0.987, 1, 1),
        |(58, 293, 0.9857, 1, 1),
        |(61, 185, 0.9825, 1, 1),
        |(70, 447, 0.9891, 1, 1),
        |(72, 377, 0.9756, 1, 1),
        |(87, 134, 0.9545, 1, 1),
        |(92, 450, 0.9583, 1, 1),
        |(98, 290, 0.9891, 1, 1),
        |(107, 387, 0.9737, 1, 1),
        |(120, 332, 0.9714, 1, 1),
        |(152, 178, 0.973, 1, 1),
        |(166, 323, 0.9833, 1, 1),
        |(267, 413, 0.9868, 1, 1),
        |(285, 301, 0.9891, 1, 1),
        |(295, 374, 0.9667, 1, 1),
        |(310, 389, 0.9615, 1, 1),
        |(326, 457, 0.9714, 1, 1),
        |(393, 420, 0.9873, 1, 1),
        |(435, 486, 0.9667, 1, 1),
        |(458, 462, 0.9828, 1, 1)
        |) AS t(id_a, id_b, jaccard, dups_a, dups_b)
        |ORDER BY id_a, id_b""".stripMargin
    )((s, d) => {
      val base = docs(s, d)
      val copies = base.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 200000)
      Dedup.minHashLSHCollapsed(base.unionByName(copies), "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.4)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    }),

    BatteryQuery("q_dedup_simhash",
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(hamming AS BIGINT) AS hamming
        |FROM (VALUES
        |(8, 245, 2),
        |(45, 413, 3),
        |(58, 293, 0),
        |(61, 185, 0),
        |(70, 447, 1),
        |(76, 102, 2),
        |(98, 290, 2),
        |(107, 387, 1),
        |(120, 332, 3),
        |(166, 323, 3),
        |(251, 473, 3),
        |(267, 413, 2),
        |(285, 301, 0),
        |(326, 457, 2),
        |(393, 420, 0),
        |(435, 486, 3),
        |(458, 462, 2))
        |t(id_a, id_b, hamming)""".stripMargin
    )((s, d) =>
      asLong(Dedup.simHashPairs(docs(s, d), "doc_id", "text", maxDistance = 3)
        .orderBy("id_a", "id_b"), "hamming")),

    // image-content near-dup (round 15): PNG originals + their JPEG
    // re-saves (the classic crawl-corpus recompressed twin) must pair by
    // perceptual average-hash — and ONLY with their own twin (distinct
    // pattern images are ~32 hamming bits apart by construction). The
    // oracle derives the expected pair set from the planting rule; the
    // hamming value itself stays out of the gate (JPEG quantization is
    // codec-version-dependent, retrieval is the contract)
    BatteryQuery("q_image_neardup",
      """SELECT CAST(doc_id AS BIGINT) AS id_a,
        |       CAST(doc_id + 100000 AS BIGINT) AS id_b
        |FROM documents WHERE doc_id < 40 ORDER BY 1, 2""".stripMargin
    )((s, d) => {
      val base = docs(s, d).filter(col("doc_id") < 40).select(col("doc_id"))
      val orig = ops.Multimodal.syntheticPatternImage(base, "doc_id", "png")
      val twins = ops.Multimodal.syntheticPatternImage(base, "doc_id", "jpg",
        idOffset = 100000L)
      ops.Multimodal.imageNearDupPairs(orig.unionByName(twins),
          "media_id", "content")
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // collapse-first simhash twin (planted exact copies, as the other
    // collapsed gates): pairs among distinct texts with family sizes
    BatteryQuery("q_dedup_simhash_collapsed",
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(hamming AS BIGINT) AS hamming, CAST(dups_a AS BIGINT) AS dups_a, CAST(dups_b AS BIGINT) AS dups_b
        |FROM (VALUES
        |(8, 245, 2, 2, 1),
        |(45, 413, 3, 1, 1),
        |(58, 293, 0, 1, 1),
        |(61, 185, 0, 1, 1),
        |(70, 447, 1, 1, 1),
        |(76, 102, 2, 1, 1),
        |(98, 290, 2, 1, 1),
        |(107, 387, 1, 1, 1),
        |(120, 332, 3, 1, 1),
        |(166, 323, 3, 1, 1),
        |(251, 473, 3, 1, 1),
        |(267, 413, 2, 1, 1),
        |(285, 301, 0, 1, 1),
        |(326, 457, 2, 1, 1),
        |(393, 420, 0, 1, 1),
        |(435, 486, 3, 1, 1),
        |(458, 462, 2, 1, 1)
        |) AS t(id_a, id_b, hamming, dups_a, dups_b)
        |ORDER BY id_a, id_b""".stripMargin
    )((s, d) => {
      val base = docs(s, d)
      val copies = base.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 200000)
      asLong(Dedup.simHashPairsCollapsed(base.unionByName(copies),
          "doc_id", "text", maxDistance = 3)
        .orderBy("id_a", "id_b"), "hamming")
    }),

    BatteryQuery("q_ngram_jaccard",
      """WITH grams AS (
        |  SELECT source AS block, doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(length(text) - 3, 1) + 1),
        |      i -> substr(text, i, 4))) AS g
        |  FROM documents WHERE doc_id < 200)
        |SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b,
        |  cast(len(list_intersect(a.g, b.g)) as double)
        |    / cast(len(list_distinct(list_concat(a.g, b.g))) as double) AS jaccard
        |FROM grams a JOIN grams b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE cast(len(list_intersect(a.g, b.g)) as double)
        |    / cast(len(list_distinct(list_concat(a.g, b.g))) as double) >= 0.25
        |ORDER BY 1, 2, 3""".stripMargin
    )((s, d) =>
      Dedup.ngramJaccardWithinBlocks(
        docs(s, d).filter(col("doc_id") < 200), "doc_id", "text", "source",
        n = 4, threshold = 0.25)
        .orderBy("block", "id_a", "id_b")),

    // connected components over the Jaccard pair graph: every chained
    // family of near-duplicates collapses to one cluster_id (the min
    // member id); the oracle recomputes the same closure with a
    // recursive CTE over the identical DuckDB pair list
    BatteryQuery("q_dup_clusters",
      // golden pins for the four pairwise-approximate ops: banded-LSH
      // candidate sets have no tractable DuckDB twin, but the outputs are
      // fully deterministic (xxhash64 hash families, decimal/rounded
      // scores), so each oracle pins the expected sf0.01 result literally
      // -- silent drift in any LSH path turns the row red
      """WITH RECURSIVE grams AS (
        |  SELECT source AS block, doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(length(text) - 3, 1) + 1),
        |      i -> substr(text, i, 4))) AS g
        |  FROM documents WHERE doc_id < 200),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM grams a JOIN grams b ON a.block = b.block AND a.doc_id < b.doc_id
        |  WHERE cast(len(list_intersect(a.g, b.g)) as double)
        |      / cast(len(list_distinct(list_concat(a.g, b.g))) as double) >= 0.25),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id)
        |SELECT CAST(id AS BIGINT) AS id,
        |  CAST(min(label) AS BIGINT) AS cluster_id
        |FROM walk GROUP BY id ORDER BY id""".stripMargin
    )((s, d) =>
      Dedup.duplicateClusters(
        Dedup.ngramJaccardWithinBlocks(
          docs(s, d).filter(col("doc_id") < 200), "doc_id", "text", "source",
          n = 4, threshold = 0.25))
        .orderBy("id")),

    // cluster-aware dedup applied end-to-end: keep each family's min-id
    // representative, pass untouched docs through, count survivors
    BatteryQuery("q_dedup_apply",
      """WITH RECURSIVE grams AS (
        |  SELECT source AS block, doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(length(text) - 3, 1) + 1),
        |      i -> substr(text, i, 4))) AS g
        |  FROM documents WHERE doc_id < 200),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM grams a JOIN grams b ON a.block = b.block AND a.doc_id < b.doc_id
        |  WHERE cast(len(list_intersect(a.g, b.g)) as double)
        |      / cast(len(list_distinct(list_concat(a.g, b.g))) as double) >= 0.25),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id)
        |SELECT source, count(*) AS n_docs
        |FROM documents
        |WHERE doc_id < 200 AND doc_id NOT IN (
        |  SELECT id FROM walk GROUP BY id HAVING id <> min(label))
        |GROUP BY source ORDER BY source""".stripMargin
    )((s, d) =>
      Dedup.dedupByClusters(
        docs(s, d).filter(col("doc_id") < 200), "doc_id",
        Dedup.ngramJaccardWithinBlocks(
          docs(s, d).filter(col("doc_id") < 200), "doc_id", "text", "source",
          n = 4, threshold = 0.25))
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .orderBy("source")),

    // the full collapse-first dedup pipeline end-to-end: collapse →
    // near-dup pairs among representatives → union exact-family star
    // edges → connected components → keep each cluster's min id. The
    // planted exact copies must ALL be dropped (their families' reps
    // survive or fall with the near-dup graph), at collapsed pair cost
    BatteryQuery("q_dedup_apply_collapsed",
      """SELECT source, CAST(n_docs AS BIGINT) AS n_docs
        |FROM (VALUES
        |('src0', 24),
        |('src1', 24),
        |('src10', 23),
        |('src11', 25),
        |('src12', 24),
        |('src13', 23),
        |('src14', 23),
        |('src15', 24),
        |('src16', 25),
        |('src17', 23),
        |('src18', 24),
        |('src19', 25),
        |('src2', 24),
        |('src3', 23),
        |('src4', 25),
        |('src5', 23),
        |('src6', 23),
        |('src7', 22),
        |('src8', 25),
        |('src9', 24)
        |) AS t(source, n_docs)
        |ORDER BY source""".stripMargin
    )((s, d) => {
      val base = docs(s, d)
      val all = base.unionByName(base.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 200000))
      val pairs = Dedup.minHashLSHCollapsed(all, "doc_id", "text",
          shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.4)
        .select("id_a", "id_b")
        .unionByName(Dedup.exactFamilyEdges(all, "doc_id", "text"))
      Dedup.dedupByClusters(all, "doc_id", pairs)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .orderBy("source")
    }),

    // corpus-wide boilerplate line removal: a nav banner on every doc and
    // a copyright footer on every even doc are planted so the gate sees
    // real cross-document line repetition; unique body lines survive
    BatteryQuery("q_line_dedup",
      """WITH raw AS (
        |  SELECT doc_id,
        |    concat('NAVIGATION MENU HOME ABOUT CONTACT', chr(10), text,
        |      CASE WHEN doc_id % 2 = 0
        |        THEN concat(chr(10), 'Copyright Example Corp All Rights Reserved 2024')
        |        ELSE '' END) AS t
        |  FROM documents WHERE doc_id < 60),
        |ls AS (SELECT doc_id, string_split(t, chr(10)) AS arr FROM raw),
        |lines AS (
        |  SELECT doc_id, pos, arr[pos] AS line FROM (
        |    SELECT doc_id, arr,
        |      unnest(generate_series(1, len(arr))) AS pos
        |    FROM ls)),
        |offenders AS (
        |  SELECT trim(line) AS k FROM lines
        |  WHERE len(trim(line)) >= 10
        |  GROUP BY 1 HAVING count(*) > 2),
        |tagged AS (
        |  SELECT l.*,
        |    (len(trim(l.line)) >= 10 AND trim(l.line) IN (SELECT k FROM offenders)) AS dropped
        |  FROM lines l)
        |SELECT doc_id,
        |  coalesce(string_agg(line, chr(10) ORDER BY pos)
        |    FILTER (WHERE NOT dropped), '') AS clean_text,
        |  count(*) AS n_lines,
        |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM tagged GROUP BY doc_id ORDER BY doc_id""".stripMargin
    )((s, d) =>
      Dedup.lineDedup(
        docs(s, d).filter(col("doc_id") < 60)
          .withColumn("t", concat(
            lit("NAVIGATION MENU HOME ABOUT CONTACT\n"), col("text"),
            when(col("doc_id") % 2 === 0,
              lit("\nCopyright Example Corp All Rights Reserved 2024"))
              .otherwise(lit("")))),
        "doc_id", "t", maxOccurrences = 2, minLineChars = 10)
        .select(col("doc_id"), col("clean_text"), col("n_lines"),
          col("n_dropped"))
        .orderBy("doc_id")),

    // incremental-ingest dedup: Bloom prefilter + exact confirm must
    // equal a plain anti-join — 40 docs re-enter under new ids (planted
    // dupes the filter must reject) alongside genuinely new docs
    BatteryQuery("q_incremental_new",
      """WITH corpus AS (SELECT text FROM documents WHERE doc_id < 800),
        |batch AS (
        |  SELECT doc_id, text, n_chars FROM documents WHERE doc_id >= 800
        |  UNION ALL
        |  SELECT doc_id + 10000, text, n_chars FROM documents WHERE doc_id < 40)
        |SELECT b.doc_id, b.n_chars FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
        |ORDER BY doc_id""".stripMargin
    )((s, d) => {
      val corpus = docs(s, d).filter(col("doc_id") < 800)
      val batch = docs(s, d).filter(col("doc_id") >= 800)
        .unionByName(docs(s, d).filter(col("doc_id") < 40)
          .withColumn("doc_id", col("doc_id") + 10000))
      Dedup.incrementalNew(corpus, batch, "doc_id", "text",
        expectedItems = 10000L)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // per-domain corpus profile over planted URLs (7 rotating hosts +
    // one shared mirror) — the input to per-domain crawl caps
    BatteryQuery("q_domain_profile",
      """WITH raw AS (
        |  SELECT doc_id,
        |    concat(text, CASE WHEN doc_id % 3 = 0
        |      THEN concat(' see https://site', cast(doc_id % 7 AS VARCHAR),
        |        '.example.com/page/', cast(doc_id AS VARCHAR),
        |        ' and http://mirror.example.org/x ok')
        |      ELSE '' END) AS t
        |  FROM documents WHERE doc_id < 200),
        |urls AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(t, 'https?://[^\s]+')) AS u
        |  FROM raw),
        |hosts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(u, 'https?://([^/:?#\s]+)', 1)) AS domain
        |  FROM urls),
        |dd AS (
        |  SELECT doc_id, domain, count(*) AS m FROM hosts
        |  WHERE len(domain) > 0 GROUP BY 1, 2)
        |SELECT domain, count(*) AS n_docs, CAST(sum(m) AS BIGINT) AS n_mentions
        |FROM dd GROUP BY domain ORDER BY domain""".stripMargin
    )((s, d) =>
      TextAnalysis.domainProfile(
        docs(s, d).filter(col("doc_id") < 200)
          .withColumn("t", concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" see https://site"),
                (col("doc_id") % 7).cast("string"),
                lit(".example.com/page/"), col("doc_id").cast("string"),
                lit(" and http://mirror.example.org/x ok")))
              .otherwise(lit("")))),
        "doc_id", "t")
        .orderBy("domain")),

    // PII redaction twin of q_pii_scan: same planted markers, same
    // regexes — redacted text and its length are oracle-exact
    BatteryQuery("q_redact",
      """WITH raw AS (
        |  SELECT doc_id, concat(text,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN concat(' contact user', cast(doc_id AS VARCHAR), '@example.com now')
        |      ELSE '' END,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN concat(' see https://example.org/d/', cast(doc_id AS VARCHAR), ' ok')
        |      ELSE '' END) AS t
        |  FROM documents WHERE doc_id < 60)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g') AS clean,
        |  len(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g')) AS n_clean
        |FROM raw ORDER BY doc_id""".stripMargin
    )((s, d) =>
      docs(s, d).filter(col("doc_id") < 60)
        .withColumn("raw", concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" see https://example.org/d/"),
              col("doc_id").cast("string"), lit(" ok")))
            .otherwise(lit(""))))
        .select(col("doc_id"),
          TextAnalysis.redactPii(col("raw")).as("clean"),
          length(TextAnalysis.redactPii(col("raw"))).as("n_clean"))
        .orderBy("doc_id")),

    // domain blocklist filtering: two of the seven planted hosts are
    // blocked; docs mentioning them (and only those) must drop
    BatteryQuery("q_domain_filter",
      """WITH raw AS (
        |  SELECT doc_id,
        |    concat(text, CASE WHEN doc_id % 3 = 0
        |      THEN concat(' via https://site', cast(doc_id % 7 AS VARCHAR),
        |        '.example.com/p/', cast(doc_id AS VARCHAR))
        |      ELSE '' END) AS t
        |  FROM documents WHERE doc_id < 200),
        |hosts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(u, 'https?://([^/:?#\s]+)', 1)) AS domain
        |  FROM (SELECT doc_id,
        |          unnest(regexp_extract_all(t, 'https?://[^\s]+')) AS u
        |        FROM raw)),
        |bad AS (
        |  SELECT DISTINCT doc_id FROM hosts
        |  WHERE domain IN ('site1.example.com', 'site4.example.com'))
        |SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM raw WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin
    )((s, d) => {
      import s.implicits._
      val withUrls = docs(s, d).filter(col("doc_id") < 200)
        .withColumn("t", concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" via https://site"),
              (col("doc_id") % 7).cast("string"),
              lit(".example.com/p/"), col("doc_id").cast("string")))
            .otherwise(lit(""))))
      val blocked = Seq("site1.example.com", "site4.example.com")
        .toDF("domain")
      TextAnalysis.filterBlockedDomains(withUrls, "doc_id", "t", blocked)
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
    }),

    // deterministic training-order shuffle: the md5 permutation is a
    // pure function of (seed, id), so the oracle recomputes every
    // position — the full permutation is gated, not just its size
    BatteryQuery("q_shuffle",
      """SELECT doc_id,
        |  row_number() OVER (
        |    ORDER BY md5(concat('epoch0', ':', cast(doc_id AS VARCHAR))),
        |      doc_id) - 1 AS train_pos
        |FROM documents WHERE doc_id < 80 ORDER BY doc_id""".stripMargin
    )((s, d) =>
      Sampling.deterministicShuffle(
          docs(s, d).filter(col("doc_id") < 80), "doc_id", seed = "epoch0")
        .select(col("doc_id"), col("train_pos"))
        .orderBy("doc_id")),

    // the two halves composed: a semantic-layer model OVER the corpus
    // pipeline's quality signals — metrics/dimensions planned by the
    // Generator against a derived view computing the quality score
    BatteryQuery("q_semantic_docs",
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(lower(text), '\s+')) AS n_tokens,
        |    least(1.0, cast(len(string_split_regex(lower(text), '\s+')) as double) / 20) * 0.4
        |      + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) as double) / length(text)) * 5)) * 0.2
        |      + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) as double) / length(text)) * 5)) * 0.2
        |      + least(1.0, (cast(len(list_intersect(list_distinct(string_split_regex(lower(text), '\s+')), ['the','and','of','to','a','in','is','it','you','that'])) as double) / len(list_distinct(string_split_regex(lower(text), '\s+')))) * 4) * 0.2
        |      AS quality_score
        |  FROM documents)
        |SELECT lang, count(*) AS doc_count,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(avg(quality_score), 4) AS avg_quality,
        |  count(*) FILTER (WHERE quality_score >= 0.8) AS high_quality_docs
        |FROM q GROUP BY lang ORDER BY lang""".stripMargin
    )((s, d) => {
      import graft.model._
      val view =
        s"""SELECT doc_id, lang, source,
           |  size(split(lower(text), '\\\\s+')) AS n_tokens,
           |  least(1.0, cast(size(split(lower(text), '\\\\s+')) as double) / 20) * 0.4
           |    + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[\\\\p{Punct}]', '')) as double) / length(text)) * 5)) * 0.2
           |    + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[0-9]', '')) as double) / length(text)) * 5)) * 0.2
           |    + least(1.0, (cast(size(array_intersect(array_distinct(split(lower(text), '\\\\s+')), array('the','and','of','to','a','in','is','it','you','that'))) as double) / size(array_distinct(split(lower(text), '\\\\s+')))) * 4) * 0.2
           |    AS quality_score
           |FROM parquet.`$d/documents.parquet`""".stripMargin
      val m = Model("docs", source = ModelSource.SqlView(view),
        primaryKey = Seq("doc_id"),
        dimensions = Seq(
          Dimension("lang"), Dimension("source"),
          Dimension("quality_score", DimType.Numeric)),
        metrics = Seq(
          Metric("doc_count", agg = Some("count")),
          Metric("total_tokens", agg = Some("sum"), sql = Some("n_tokens")),
          Metric("avg_quality", agg = Some("avg"), sql = Some("quality_score")),
          Metric("high_quality_docs", agg = Some("count"),
            filters = Seq("docs.quality_score >= 0.8"))))
      round4(GraftSession.generator(s, graft.model.Catalog().add(m)).plan(SemanticQuery(
        metrics = Seq("docs.doc_count", "docs.total_tokens",
          "docs.avg_quality", "docs.high_quality_docs"),
        dimensions = Seq("docs.lang"),
        orderBy = Seq("lang"))), "avg_quality")
    }),

    // character-level near-dups: blocked Levenshtein with the bounded
    // early-abandon variant; the twin recomputes every surviving pair's
    // exact distance, so the -1 sentinel handling is itself under test
    BatteryQuery("q_edit_distance",
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance
        |FROM documents a JOIN documents b
        |  ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE a.doc_id < 150 AND b.doc_id < 150
        |  AND levenshtein(a.text, b.text) <= 40
        |ORDER BY id_a, id_b""".stripMargin
    )((s, d) =>
      asLong(Dedup.editDistancePairs(
          docs(s, d).filter(col("doc_id") < 150), "doc_id", "text",
          "source", maxDist = 40)
        .orderBy("id_a", "id_b"), "edit_distance")),

    // corpus snapshot diff: 100 removed, 100 added, 50 edited in place,
    // 350 untouched — hash-compared Spark-side, text-compared by the twin
    BatteryQuery("q_corpus_diff",
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
        |n AS (SELECT doc_id,
        |        CASE WHEN doc_id BETWEEN 150 AND 199
        |          THEN text || ' edited in v2' ELSE text END AS text
        |      FROM documents WHERE doc_id >= 100 AND doc_id < 600),
        |d AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
        |               WHEN n.doc_id IS NULL THEN 'removed'
        |               WHEN o.text <> n.text THEN 'changed'
        |               ELSE 'unchanged' END AS status
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT status, count(*) AS n_docs FROM d
        |GROUP BY status ORDER BY status""".stripMargin
    )((s, d) => {
      val v1 = docs(s, d).filter(col("doc_id") < 500)
      val v2 = docs(s, d).filter(col("doc_id") >= 100 && col("doc_id") < 600)
        .withColumn("text", when(col("doc_id").between(150, 199),
          concat(col("text"), lit(" edited in v2"))).otherwise(col("text")))
      graft.ops.CorpusDiff.summary(v1, v2, "doc_id", "text")
        .orderBy("status")
    }),

    // jsonl ingestion with corrupt-line quarantine: 50 docs round-trip
    // through json lines with a malformed line planted after every 6th —
    // good rows must reconcile exactly, corrupt lines must all quarantine
    BatteryQuery("q_jsonl_ingest",
      // 8 corrupt lines planted (after docs 5,11,17,23,29,35,41,47); the
      // good-row aggregates must reconcile against the source table exactly
      """SELECT count(*) AS n_good, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, CAST(8 AS BIGINT) AS n_quarantined
        |FROM documents WHERE doc_id < 50""".stripMargin
    )((s, d) => {
      import org.apache.spark.sql.types._
      val tmp = Battery.store(d, "jsonl")
      // fixture authoring (bounded 50-row collect + file write) runs
      // ONCE per JVM under buildOnce, so timed Bench passes contain no
      // collect at all — they measure the jsonl read + quarantine path
      buildOnce(tmp) {
        val lines = docs(s, d).filter(col("doc_id") < 50).orderBy("doc_id")
          .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
            col("n_chars"))).as("j"))
          .collect().map(_.getString(0))
        val all = lines.zipWithIndex.flatMap { case (l, i) =>
          if (i % 6 == 5) Seq(l, s"{corrupt json line $i") else Seq(l) }
        new java.io.File(tmp).mkdirs()
        val pw = new java.io.PrintWriter(s"$tmp/docs.jsonl", "UTF-8")
        try all.foreach(pw.println) finally pw.close()
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      val (good, quarantine) = graft.sources.JsonlSource.readDocuments(
        s, s"$tmp/docs.jsonl", schema)
      good.agg(count(lit(1)).as("n_good"), sum(col("doc_id")).as("sum_ids"),
        sum(col("n_chars")).as("sum_chars"))
        .crossJoin(broadcast(
          quarantine.agg(count(lit(1)).as("n_quarantined"))))
    }),

    // quality-score distribution: exact interpolated percentiles (both
    // engines sort-and-interpolate identically on the parity-validated
    // score) plus a within-2% verdict on the approx_percentile sketch —
    // same gate pattern as q_approx_distinct's HLL row: sketch drift
    // flips the boolean and turns the row red
    BatteryQuery("q_quality_quantiles",
      """WITH q AS (
        |  SELECT least(1.0, cast(len(string_split_regex(lower(text), '\s+')) as double) / 20) * 0.4
        |    + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) as double) / length(text)) * 5)) * 0.2
        |    + (1.0 - least(1.0, (cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) as double) / length(text)) * 5)) * 0.2
        |    + least(1.0, (cast(len(list_intersect(list_distinct(string_split_regex(lower(text), '\s+')), ['the','and','of','to','a','in','is','it','you','that'])) as double) / len(list_distinct(string_split_regex(lower(text), '\s+')))) * 4) * 0.2
        |    AS qs
        |  FROM documents)
        |SELECT count(*) AS n_docs,
        |  round(quantile_cont(qs, 0.5), 4) AS p50,
        |  round(quantile_cont(qs, 0.9), 4) AS p90,
        |  round(quantile_cont(qs, 0.99), 4) AS p99,
        |  TRUE AS sketch_p50_ok
        |FROM q""".stripMargin
    )((s, d) => {
      val q = TextAnalysis.qualityFeatures(docs(s, d), "text")
        .select(col("quality_score").as("qs"))
      q.agg(
        count(lit(1)).as("n_docs"),
        round(expr("percentile(qs, 0.5)"), 4).as("p50"),
        round(expr("percentile(qs, 0.9)"), 4).as("p90"),
        round(expr("percentile(qs, 0.99)"), 4).as("p99"),
        (abs(expr("approx_percentile(qs, 0.5, 1000)")
            - expr("percentile(qs, 0.5)"))
          <= lit(0.02) * abs(expr("percentile(qs, 0.5)")))
          .as("sketch_p50_ok"))
    }),

    // one-row corpus triage report: a single full-pass aggregation (dup
    // pressure via hashed distinct, token mass, language mix, PII) plus
    // the modal-language rollup
    BatteryQuery("q_corpus_report",
      // count(DISTINCT text) in the twin equals the engine's hashed
      // distinct unless xxhash64 collides on this corpus — an exact-match
      // gate, so a collision would turn the row red, not hide
      """WITH feats AS (
        |  SELECT doc_id, text, lang,
        |    len(string_split_regex(lower(text), '\s+')) AS toks,
        |    (len(regexp_extract_all(text,
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
        |     OR len(regexp_extract_all(text, 'https?://[^\s]+')) > 0)
        |      AS pii
        |  FROM documents),
        |g AS (
        |  SELECT count(*) AS n_docs,
        |    count(DISTINCT text) AS n_distinct_texts,
        |    CAST(sum(toks) AS BIGINT) AS total_ws_tokens,
        |    round(avg(len(text)), 4) AS avg_chars,
        |    count(DISTINCT lang) AS n_langs,
        |    CAST(sum(CASE WHEN pii THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs
        |  FROM feats),
        |top AS (
        |  SELECT lang AS top_lang, count(*) AS top_lang_docs
        |  FROM feats GROUP BY 1
        |  ORDER BY count(*) DESC, lang LIMIT 1)
        |SELECT n_docs, n_distinct_texts,
        |  round(1.0 - cast(n_distinct_texts AS DOUBLE) / n_docs, 6)
        |    AS exact_dup_ratio,
        |  total_ws_tokens, avg_chars, n_langs, n_pii_docs,
        |  top_lang, top_lang_docs
        |FROM g CROSS JOIN top""".stripMargin
    )((s, d) =>
      graft.ops.CorpusReport.summarize(docs(s, d), "doc_id", "text", "lang")
        .select(col("n_docs"), col("n_distinct_texts"),
          col("exact_dup_ratio"), col("total_ws_tokens"), col("avg_chars"),
          col("n_langs"), col("n_pii_docs"), col("top_lang"),
          col("top_lang_docs"))),

    // TF-IDF keyword extraction: tf/df ride one (doc, token) aggregation,
    // smoothed idf, per-doc rank window — ties break on the token so the
    // top-5 cut is oracle-stable
    BatteryQuery("q_tfidf",
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS token
        |  FROM documents WHERE doc_id < 30),
        |dt AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS doc_freq FROM dt GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS nd
        |      FROM documents WHERE doc_id < 30),
        |scored AS (
        |  SELECT dt.doc_id, dt.token, dt.tf, dfq.doc_freq,
        |    dt.tf * ln((n.nd + 1.0) / (dfq.doc_freq + 1.0)) AS raw
        |  FROM dt JOIN dfq USING (token) CROSS JOIN n)
        |SELECT doc_id, term_rank, token, tf, doc_freq,
        |  round(raw, 6) AS tfidf
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY raw DESC, token) AS term_rank
        |      FROM scored)
        |WHERE term_rank <= 5 ORDER BY doc_id, term_rank""".stripMargin
    )((s, d) =>
      asLong(TextAnalysis.tfidfTopTerms(
          docs(s, d).filter(col("doc_id") < 30), "doc_id", "text", 5)
        .withColumn("tfidf", round(col("tfidf"), 6))
        .orderBy("doc_id", "term_rank"), "term_rank", "tf", "doc_freq")),

    // BM25 keyword top-k: literal-term scoring entirely map-side (no
    // corpus shuffle — one stats row broadcast + TakeOrderedAndProject);
    // the oracle replays the full Okapi formula
    BatteryQuery("q_bm25",
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, len(t) AS doc_len,
        |    len(list_filter(t, x -> x = 'spark')) AS tf0,
        |    len(list_filter(t, x -> x = 'vector')) AS tf1,
        |    len(list_filter(t, x -> x = 'customer')) AS tf2
        |  FROM tok),
        |s AS (
        |  SELECT count(*) AS n, avg(doc_len) AS avglen,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM d)
        |SELECT doc_id, CAST(doc_len AS BIGINT) AS doc_len,
        |  round(score, 6) AS bm25
        |FROM (
        |  SELECT d.doc_id, d.doc_len,
        |      ln(1 + (s.n - s.df0 + 0.5) / (s.df0 + 0.5))
        |        * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * doc_len / s.avglen))
        |    + ln(1 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5))
        |        * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * doc_len / s.avglen))
        |    + ln(1 + (s.n - s.df2 + 0.5) / (s.df2 + 0.5))
        |        * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * doc_len / s.avglen))
        |      AS score
        |  FROM d CROSS JOIN s)
        |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    )((s, d) =>
      asLong(TextAnalysis.bm25TopK(docs(s, d), "doc_id", "text",
          Seq("spark", "vector", "customer"), k = 10)
        .withColumn("bm25", round(col("bm25"), 6))
        .orderBy(col("bm25").desc, col("doc_id")), "doc_len")),

    // the persisted inverted-index route to the SAME answer: build the
    // bucket-partitioned postings, query via static partition pruning
    // (1 of 32 bucket dirs read per term) — operational round-trip, the
    // text twin of the IVF index; oracle = the full-scan BM25 formula
    BatteryQuery("q_bm25_index",
      // identical formula to q_bm25 — the index route must reproduce the
      // full-scan scorer exactly (score association differs by ~1e-15,
      // far under the 1e-6 rounding)
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, len(t) AS doc_len,
        |    len(list_filter(t, x -> x = 'spark')) AS tf0,
        |    len(list_filter(t, x -> x = 'vector')) AS tf1,
        |    len(list_filter(t, x -> x = 'customer')) AS tf2
        |  FROM tok),
        |s AS (
        |  SELECT count(*) AS n, avg(doc_len) AS avglen,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM d)
        |SELECT doc_id, CAST(doc_len AS BIGINT) AS doc_len,
        |  round(score, 6) AS bm25
        |FROM (
        |  SELECT d.doc_id, d.doc_len,
        |      ln(1 + (s.n - s.df0 + 0.5) / (s.df0 + 0.5))
        |        * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * doc_len / s.avglen))
        |    + ln(1 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5))
        |        * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * doc_len / s.avglen))
        |    + ln(1 + (s.n - s.df2 + 0.5) / (s.df2 + 0.5))
        |        * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * doc_len / s.avglen))
        |      AS score
        |  FROM d CROSS JOIN s)
        |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    )((s, d) => {
      val path = Battery.store(d, "text_index")
      buildOnce(path) {
        TextIndex.build(docs(s, d), "doc_id", "text", path, nBuckets = 32) }
      TextIndex.bm25TopK(s, path, Seq("spark", "vector", "customer"),
          k = 10)
        .withColumn("bm25", round(col("bm25"), 6))
        .orderBy(col("bm25").desc, col("doc_id"))
    }),

    // substring-level dedup: 8-token sliding windows shared by >= 2
    // documents (boilerplate spans inside otherwise-distinct docs); the
    // planted near-dup families make the gate non-vacuous (1000+ shared
    // windows at sf0.01)
    BatteryQuery("q_window_dedup",
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |w AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS "window"
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8)
        |SELECT "window", count(*) AS n_docs
        |FROM w GROUP BY "window" HAVING count(*) >= 2
        |ORDER BY n_docs DESC, "window" LIMIT 25""".stripMargin
    )((s, d) =>
      Dedup.duplicateWindows(docs(s, d), "doc_id", "text",
          n = 8, minDocs = 2)
        .orderBy(col("n_docs").desc, col("window"))
        .limit(25)),

    // collapse-first twin: planted exact copies (gate data has none)
    // must be weighted by family size, yielding the same output the
    // uncollapsed operator computes on the raw frame — the DuckDB
    // oracle replays the raw-frame semantics directly
    BatteryQuery("q_window_dedup_collapsed",
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM (SELECT doc_id, text FROM documents
        |        UNION ALL
        |        SELECT doc_id + 500000, text FROM documents WHERE doc_id < 40)),
        |w AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS "window"
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8)
        |SELECT "window", count(*) AS n_docs
        |FROM w GROUP BY "window" HAVING count(*) >= 2
        |ORDER BY n_docs DESC, "window" LIMIT 25""".stripMargin
    )((s, d) => {
      val base = docs(s, d)
      val aug = base.select(col("doc_id"), col("text")).unionByName(
        base.filter(col("doc_id") < 40)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      Dedup.duplicateWindowsCollapsed(aug, "doc_id", "text",
          n = 8, minDocs = 2)
        .orderBy(col("n_docs").desc, col("window"))
        .limit(25)
    }),

    // distributed BPE merge learning over the word-frequency table (the
    // corpus is never re-scanned after the word count); the learned merge
    // sequence is deterministic (count desc, pair asc) and golden-pinned
    BatteryQuery("q_bpe_merges",
      // golden pin: the learn loop is iterative (argmax per round) — no
      // closed-form SQL twin exists; the sequence is deterministic by the
      // (count desc, pair asc) tie-break, so any drift turns this red
      """SELECT CAST(merge_rank AS INT) AS merge_rank,
        |  CAST(l AS VARCHAR) AS "left", CAST(r AS VARCHAR) AS "right",
        |  CAST(pair_count AS BIGINT) AS pair_count FROM (VALUES
        |(1, 'e', 'r', 2761),
        |(2, 'o', 'w', 1620),
        |(3, 'i', 'n', 1619),
        |(4, 'o', 'r', 1601),
        |(5, 's', 't', 1599),
        |(6, 'a', 'l', 1125),
        |(7, 'a', 't', 1115),
        |(8, 'm', 'er', 1112),
        |(9, 'a', 'r', 1036),
        |(10, 'p', 'ar', 1036),
        |(11, 'a', 's', 592),
        |(12, 'as', 'h', 592)
        |) AS t(merge_rank, l, r, pair_count)
        |ORDER BY merge_rank""".stripMargin
    )((s, d) =>
      Bpe.learnMerges(docs(s, d).filter(col("doc_id") < 300), "text", 12)
        .orderBy("merge_rank")),

    // the learned merge chain applied to fresh text: per-doc BPE token
    // counts (n_words is independently oracle-checkable; n_bpe_tokens is
    // pinned — DuckDB cannot replay the iterative learn)
    BatteryQuery("q_bpe_encode",
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens FROM (VALUES
        |(0, 32, 100), (1, 72, 265), (2, 45, 167), (3, 27, 95),
        |(4, 45, 163), (5, 56, 211), (6, 15, 53), (7, 72, 257),
        |(8, 84, 307), (9, 74, 248), (10, 39, 138), (11, 58, 183),
        |(12, 65, 216), (13, 60, 220), (14, 87, 325), (15, 41, 151),
        |(16, 16, 64), (17, 77, 277), (18, 75, 277), (19, 11, 40),
        |(20, 68, 251), (21, 37, 132), (22, 81, 305), (23, 30, 107),
        |(24, 97, 333), (25, 94, 320), (26, 12, 43), (27, 64, 236),
        |(28, 60, 222), (29, 34, 128)
        |) AS t(doc_id, n_words, n_bpe_tokens)
        |ORDER BY doc_id""".stripMargin
    )((s, d) => {
      val merges = Bpe.learnMerges(
          docs(s, d).filter(col("doc_id") < 300), "text", 12)
        .orderBy("merge_rank").collect()
        .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
      Bpe.encodeTokenCount(docs(s, d).filter(col("doc_id") < 30),
        "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // near-dup decontamination across corpora: 20 benchmark docs re-enter
    // training with a one-token suffix — exact matching misses them, the
    // cross-corpus LSH pass must report every one
    BatteryQuery("q_decontaminate",
      // golden pin: 20 planted one-token-suffix re-entries (probe 0..19 →
      // corpus twin) plus the one organic corpus near-dup (8, 245)
      """SELECT CAST(corpus_id AS BIGINT) AS corpus_id,
        |  CAST(probe_id AS BIGINT) AS probe_id,
        |  CAST(jaccard AS DOUBLE) AS jaccard FROM (VALUES
        |(0, 0, 0.882353), (1, 1, 0.945946), (2, 2, 0.914894),
        |(3, 3, 0.862069), (4, 4, 0.914894), (5, 5, 0.931034),
        |(6, 6, 0.764706), (7, 7, 0.945946), (8, 8, 0.953488),
        |(245, 8, 0.94186), (9, 9, 0.947368), (10, 10, 0.902439),
        |(11, 11, 0.933333), (12, 12, 0.940299), (13, 13, 0.935484),
        |(14, 14, 0.955056), (15, 15, 0.906977), (16, 16, 0.777778),
        |(17, 17, 0.949367), (18, 18, 0.948052), (19, 19, 0.692308)
        |) AS t(corpus_id, probe_id, jaccard)
        |ORDER BY probe_id, corpus_id""".stripMargin
    )((s, d) => {
      val corpus = docs(s, d).filter(col("doc_id") < 800)
      val probe = docs(s, d).filter(col("doc_id") < 20)
        .withColumn("text",
          concat(col("text"), lit(" benchmark answer key token")))
      asLong(Dedup.crossCorpusNearDups(corpus, probe, "doc_id", "text")
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("probe_id", "corpus_id"), "corpus_id", "probe_id")
    }),

    // Bloom-gated decontamination: identical verdicts to q_decontaminate
    // (the gate has no false negatives — a shared shingle always hits),
    // with the shingle/minhash machinery running only over the suspects.
    // The oracle pins the SAME rows as q_decontaminate: a gate that
    // drops a true pair fails the hash
    BatteryQuery("q_decontaminate_gated",
      """SELECT CAST(corpus_id AS BIGINT) AS corpus_id,
        |  CAST(probe_id AS BIGINT) AS probe_id,
        |  CAST(jaccard AS DOUBLE) AS jaccard FROM (VALUES
        |(0, 0, 0.882353), (1, 1, 0.945946), (2, 2, 0.914894),
        |(3, 3, 0.862069), (4, 4, 0.914894), (5, 5, 0.931034),
        |(6, 6, 0.764706), (7, 7, 0.945946), (8, 8, 0.953488),
        |(245, 8, 0.94186), (9, 9, 0.947368), (10, 10, 0.902439),
        |(11, 11, 0.933333), (12, 12, 0.940299), (13, 13, 0.935484),
        |(14, 14, 0.955056), (15, 15, 0.906977), (16, 16, 0.777778),
        |(17, 17, 0.949367), (18, 18, 0.948052), (19, 19, 0.692308)
        |) AS t(corpus_id, probe_id, jaccard)
        |ORDER BY probe_id, corpus_id""".stripMargin
    )((s, d) => {
      val corpus = docs(s, d).filter(col("doc_id") < 800)
      val probe = docs(s, d).filter(col("doc_id") < 20)
        .withColumn("text",
          concat(col("text"), lit(" benchmark answer key token")))
      asLong(Dedup.decontaminateGated(corpus, probe, "doc_id", "text")
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("probe_id", "corpus_id"), "corpus_id", "probe_id")
    }),

    // leakage-safe split: exact-dup groups co-assigned to one split
    // (per-doc hashing would strand copies across train/test); the
    // spanning-group count is computed from the assignment itself and
    // must be zero, and the oracle replays group ids + md5 assignment
    BatteryQuery("q_leakage_split",
      """WITH g AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS group_id
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, group_id,
        |    CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (SELECT *,
        |    ('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 8))::BIGINT
        |      % 1000 AS b FROM g)),
        |sp AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_spanning_groups FROM (
        |    SELECT group_id FROM a GROUP BY group_id
        |    HAVING count(DISTINCT split) > 1))
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups,
        |  (SELECT n_spanning_groups FROM sp) AS n_spanning_groups
        |FROM a GROUP BY split ORDER BY split""".stripMargin
    )((s, d) => {
      val a = Sampling.leakageSafeSplit(docs(s, d), "doc_id", "text",
        Seq("train" -> 800, "val" -> 100, "test" -> 100))
      val spanning = a.groupBy(col("group_id"))
        .agg(countDistinct(col("split")).as("__ns"))
        .agg(sum(when(col("__ns") > 1, 1L).otherwise(0L))
          .as("n_spanning_groups"))
      a.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("group_id")).as("n_groups"))
        .crossJoin(broadcast(spanning))
        .orderBy("split")
    }),

    // token-budget mixture: per-language sampling until a character
    // budget is met (mix recipes are written in tokens per source, not
    // doc counts); unbudgeted strata drop, the last doc overshoots
    BatteryQuery("q_token_budget",
      """WITH b AS (
        |  SELECT lang, doc_id, n_chars,
        |    CASE WHEN lang = 'en' THEN 20000
        |         WHEN lang = 'de' THEN 8000 END AS budget,
        |    sum(n_chars) OVER (PARTITION BY lang
        |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |               doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents
        |  WHERE lang IN ('en', 'de'))
        |SELECT lang, doc_id, n_chars, CAST(cum AS BIGINT) AS stratum_tokens
        |FROM b WHERE cum - n_chars < budget
        |ORDER BY lang, stratum_tokens""".stripMargin
    )((s, d) =>
      Sampling.tokenBudgetSample(docs(s, d), "lang", "doc_id", "n_chars",
          Seq("en" -> 20000L, "de" -> 8000L))
        .select(col("lang"), col("doc_id"), col("n_chars"),
          col("stratum_tokens"))
        .orderBy("lang", "stratum_tokens")),

    // graded contamination: per probe doc, the fraction of its 8-token
    // windows that occur anywhere in the training corpus — planted
    // full copy (1.0), half copy (~0.5), and clean synthetic (0.0)
    // probes pin the scale; family near-dups land in between
    BatteryQuery("q_ngram_overlap",
      ("""WITH reft AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE doc_id < 400),
        |refw AS (
        |  SELECT DISTINCT array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS w
        |  FROM reft, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8),
        |probe AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 430 AND doc_id < 440
        |  UNION ALL SELECT 9000, text FROM documents WHERE doc_id = 0
        |  UNION ALL SELECT 9001,
        |    array_to_string(list_slice(string_split_regex(lower(text), '\s+'),
        |      1, 20), ' ') || ' NOVELTOKENS' FROM documents WHERE doc_id = 1),
        |pt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM probe),
        |pw AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS w
        |  FROM pt, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8),
        |hits AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |    CAST(sum(CASE WHEN w IN (SELECT w FROM refw) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_overlapping
        |  FROM pw GROUP BY 1)
        |SELECT p.doc_id, coalesce(n_windows, 0) AS n_windows,
        |  coalesce(n_overlapping, 0) AS n_overlapping,
        |  round(n_overlapping * 1.0 / n_windows, 6) AS overlap_pct
        |FROM (SELECT doc_id FROM probe) p LEFT JOIN hits USING (doc_id)
        |ORDER BY doc_id""".stripMargin
        .replace("NOVELTOKENS", (1 to 20).map(i => s"novelglyph$i").mkString(" ")))
    )((s, d) => {
      val ref = docs(s, d).filter(col("doc_id") < 400)
      val probe = docs(s, d).filter(col("doc_id") >= 430 && col("doc_id") < 440)
        .select(col("doc_id"), col("text"))
        .unionByName(docs(s, d).filter(col("doc_id") === 0)
          .select(lit(9000L).as("doc_id"), col("text")))
        .unionByName(docs(s, d).filter(col("doc_id") === 1)
          .select(lit(9001L).as("doc_id"),
            concat_ws(" ",
              expr("concat_ws(' ', slice(split(lower(text), '\\\\s+'), 1, 20))"),
              lit((1 to 20).map(i => s"novelglyph$i").mkString(" ")))
              .as("text")))
      asLong(Dedup.ngramOverlap(ref, probe, "doc_id", "text", n = 8)
        .withColumn("overlap_pct", round(col("overlap_pct"), 6))
        .orderBy("doc_id"))
    }),

    // token-level contamination SPANS: the planted probe interleaves two
    // 20-token passages of an in-reference doc around a novel block, so
    // the merged intervals must be exactly [0,20) and [50,70); an
    // all-novel probe and raw probe docs ride along. The oracle replays
    // windows → hits → lag/gap merge with the identical rules
    BatteryQuery("q_contam_spans",
      ("""WITH reft AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE doc_id < 300),
        |refw AS (
        |  SELECT DISTINCT array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS w
        |  FROM reft, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8),
        |probe AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 434 AND doc_id < 438
        |  UNION ALL SELECT 9100,
        |    array_to_string(list_slice(string_split_regex(lower(text), '\s+'),
        |      1, 20), ' ') || ' NOVEL30 ' ||
        |    array_to_string(list_slice(string_split_regex(lower(text), '\s+'),
        |      21, 40), ' ')
        |    FROM documents WHERE doc_id = 8
        |  UNION ALL SELECT 9101, 'SOLO30'),
        |pt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM probe),
        |pw AS (
        |  SELECT doc_id, s.i - 1 AS pos,
        |    array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS w
        |  FROM pt, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8),
        |hits AS (SELECT doc_id, pos FROM pw WHERE w IN (SELECT w FROM refw)),
        |g AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |         THEN 1 ELSE 0 END AS gap
        |  FROM hits),
        |gg AS (
        |  SELECT doc_id, pos,
        |    sum(gap) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM g),
        |pl AS (SELECT doc_id, len(t) AS tlen FROM pt)
        |SELECT gg.doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(least(max(pos) + 8, any_value(pl.tlen)) AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_windows
        |FROM gg JOIN pl ON gg.doc_id = pl.doc_id
        |GROUP BY gg.doc_id, grp
        |ORDER BY gg.doc_id, span_start""".stripMargin
        .replace("NOVEL30", (1 to 30).map(i => s"spanglyph$i").mkString(" "))
        .replace("SOLO30", (1 to 30).map(i => s"sologlyph$i").mkString(" ")))
    )((s, d) => {
      val ref = docs(s, d).filter(col("doc_id") < 300)
      val probe = contamProbe(s, d)
      Dedup.contaminationSpans(ref, probe, "doc_id", "text", n = 8)
        .orderBy("doc_id", "span_start")
    }),

    // surgical decontamination end-to-end: cut exactly the contaminated
    // spans, keep everything else — the planted probe must come back as
    // its novel middle block alone, the all-novel probe untouched
    BatteryQuery("q_decontam_surgical",
      ("""WITH reft AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents WHERE doc_id < 300),
        |refw AS (
        |  SELECT DISTINCT array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS w
        |  FROM reft, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8),
        |probe AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 434 AND doc_id < 438
        |  UNION ALL SELECT 9100,
        |    array_to_string(list_slice(string_split_regex(lower(text), '\s+'),
        |      1, 20), ' ') || ' NOVEL30 ' ||
        |    array_to_string(list_slice(string_split_regex(lower(text), '\s+'),
        |      21, 40), ' ')
        |    FROM documents WHERE doc_id = 8
        |  UNION ALL SELECT 9101, 'SOLO30'),
        |pt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM probe),
        |pw AS (
        |  SELECT doc_id, s.i - 1 AS pos,
        |    array_to_string(list_slice(t, s.i, s.i + 7), ' ') AS w
        |  FROM pt, LATERAL (SELECT unnest(range(1, len(t) - 8 + 2)) AS i) s
        |  WHERE len(t) >= 8),
        |hits AS (SELECT doc_id, pos FROM pw WHERE w IN (SELECT w FROM refw)),
        |g AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |         THEN 1 ELSE 0 END AS gap
        |  FROM hits),
        |gg AS (
        |  SELECT doc_id, pos,
        |    sum(gap) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM g),
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
        |  FROM gg GROUP BY doc_id, grp),
        |ot AS (
        |  SELECT doc_id, text, list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM probe),
        |otp AS (
        |  SELECT doc_id, s.i - 1 AS pos, t[s.i] AS tok
        |  FROM ot, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i) s),
        |kept AS (
        |  SELECT o.doc_id, o.pos, o.tok FROM otp o
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.doc_id = o.doc_id
        |      AND o.pos >= sp.span_start AND o.pos < sp.span_end)),
        |cleaned AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS joined,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT ot.doc_id,
        |  CASE WHEN ot.doc_id IN (SELECT DISTINCT doc_id FROM spans)
        |       THEN coalesce(c.joined, '') ELSE ot.text END AS clean_text,
        |  CAST(CASE WHEN ot.doc_id IN (SELECT DISTINCT doc_id FROM spans)
        |       THEN len(ot.t) - coalesce(c.n_kept, 0) ELSE 0 END AS BIGINT)
        |    AS n_removed
        |FROM ot LEFT JOIN cleaned c ON ot.doc_id = c.doc_id
        |ORDER BY ot.doc_id""".stripMargin
        .replace("NOVEL30", (1 to 30).map(i => s"spanglyph$i").mkString(" "))
        .replace("SOLO30", (1 to 30).map(i => s"sologlyph$i").mkString(" ")))
    )((s, d) => {
      val ref = docs(s, d).filter(col("doc_id") < 300)
      val probe = contamProbe(s, d)
      val spans = Dedup.contaminationSpans(ref, probe, "doc_id", "text",
        n = 8)
      Dedup.removeSpans(probe, "doc_id", "text", spans)
        .select(col("doc_id"), col("clean_text"), col("n_removed"))
        .orderBy("doc_id")
    })
  )
}
