package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}

/** Document deduplication operators for training-data pipelines.
  *
  * Every operator is a pure DataFrame transform: shuffles are keyed on
  * content hashes / LSH buckets (uniformly distributed), no driver-side
  * collection, no O(n²) candidate generation — all designed to survive a
  * 100 TB corpus on a real cluster.
  */
object Dedup {

  /** Exact dedup on a content hash. Keeps the lowest `idCol` per group —
    * one shuffle on the (uniform) hash key. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("__h")).orderBy(col(idCol))
    df.withColumn("__h", sha2(col(textCol), 256))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__h", "__rn")
  }

  /** Groups of exact duplicates (size > 1), for auditing. */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(count(lit(1)).as("copies"), min(col(idCol)).as("keeper_id"))
      .filter(col("copies") > 1)

  /** MinHash signature over pre-hashed shingles: for each of `numHashes`
    * seeded hash functions, the minimum re-mixed hash. Takes an
    * `array<long>` column (hash the shingle strings ONCE into it first) —
    * re-mixing 8-byte longs per seed is ~10× cheaper than re-hashing the
    * shingle strings `numHashes` times. */
  def minHashSignature(hashesCol: String, numHashes: Int): Column =
    expr(s"transform(sequence(0, ${numHashes - 1}), " +
      s"seed -> array_min(transform($hashesCol, h -> xxhash64(h, seed))))")

  /** (id, __hashes, __sigs, __n) per-document MinHash front — the
    * shared head of every MinHash path ([[minHashLSH]], [[DedupIndex]]).
    * ONE native projection ([[DedupExprs.MinHashShingles]]): tokenize,
    * shingle, xxhash64, dedupe, per-seed murmur minima, all in a tight
    * per-row loop that emits the same values as the explode + window-
    * lead + distinct + groupBy shape it replaces — that shape paid a
    * window sort, a distinct exchange and a signature groupBy (all
    * keyed by doc id, all corpus-wide) before a single candidate
    * existed. The front now reaches the band-bucket join with ZERO
    * exchanges behind it. */
  private[graft] def minhashFront(df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.DedupExprs.shingleHashes(
          split(lower(col(textCol)), "\\s+"), shingleSize).as("__hashes"))
      // empty-token docs produced no rows under the explode shape
      .filter(col("__hashes").isNotNull)
      // sigs chained as a SEPARATE projection: consumers that prune
      // `__sigs` (the Jaccard verify joins need only the hash sets)
      // skip the numHashes× murmur stage entirely on recompute
      .select(col("id"), col("__hashes"),
        graft.functions.DedupExprs.minHashSigs(col("__hashes"), numHashes)
          .as("__sigs"),
        size(col("__hashes")).cast("long").as("__n"))

  /** The per-band (band, bucket) struct array over a `__sigs` signature
    * column: bucket = hash of the band's signature slice (codegen'd). */
  private[graft] def bandStructs(numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    array((0 until bands).map { b =>
      val cs = (b * rows until (b + 1) * rows).map(i =>
        element_at(col("__sigs"), i + 1))
      struct(lit(b).as("band"), xxhash64(cs: _*).as("bucket"))
    }: _*)
  }

  /** (id, band, bucket) LSH band keys from the front's `__sigs`. */
  private[ops] def bandedSigKeys(front: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    front
      .select(col("id"), explode(bandStructs(numHashes, bands)).as("lsh"))
      .select(col("id"), col("lsh.band"), col("lsh.bucket"))

  /** Near-duplicate pairs via MinHash + LSH banding — COLLAPSE-ROUTED.
    *
    * The full-corpus pair set is computed as: exact-collapse to one
    * representative per distinct text (one content-keyed aggregate
    * window), [[minHashLSHDirect]] among representatives only, then
    * expansion back to member pairs (an exact copy has the same shingle
    * set as its representative, so jaccard(a, b) = jaccard(rep_a, rep_b)
    * exactly — inter-family pairs inherit the verified value, and
    * intra-family pairs are 1.0 by construction). On a corpus with no
    * exact duplicates this plans to the direct path plus one window.
    *
    * Why the routing is the DEFAULT: an exact family of size f inflates
    * every LSH bucket it lands in by f² candidate pairs, each paying a
    * full Jaccard verify for a result the collapse already knows.
    * Measured at the replica-dense sf10 battery the unrouted operator
    * was superlinear (85.9 s vs its collapsed twin's 3.6 s for 10× the
    * sf1 data); routed, pair cost is ∝ distinct content and the output
    * expansion is linear in the emitted pair set — flat-per-row.
    *
    * Two deliberate, observable deviations from the unrouted path on
    * DUP-DENSE corpora (on dup-free data the output is identical):
    *   - families larger than `maxBucketSize` expand to their
    *     representative only (the same quadratic-output guard the bucket
    *     cap gives the direct path; the full family remains
    *     [[exactDuplicateGroups]]'s report);
    *   - exact copies of a text too short to shingle still pair with
    *     each other (jaccard 1.0): identical texts are duplicates by
    *     definition, and the collapse sees them even where LSH cannot.
    *
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥
    * `threshold`.
    */
  def minHashLSH(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucketSize: Int = 1000,
      pinMinBytes: Long = PairPins.DefaultMinBytes): DataFrame = {
    // ONE size gate drives both levers ([[PairPins]]): below it the
    // direct unpinned r13 shape runs (a small corpus's pair space is
    // bounded, and the routing's family window + expansion joins cost
    // more than they save — measured ~+1.2 s at sf0.1); above it the
    // collapse-routed, pinned shape runs. Output is identical wherever
    // exact duplicates are absent; the routed deviations (scaladoc
    // above) engage only at the scale that needs them.
    val (routed, pinPar) = PairPins.routeAndPin(df, pinMinBytes, textCol)
    if (routed == 0)
      return minHashLSHDirect(df, idCol, textCol, shingleSize, numHashes,
        bands, threshold, maxBucketSize, pinMinBytes = Long.MaxValue)
    val (reps, members) = familyRoute(df, idCol, textCol, maxBucketSize,
      pinPar = pinPar)
    val repPairs = minHashLSHDirect(reps, idCol, textCol, shingleSize,
      numHashes, bands, threshold, maxBucketSize,
      pinMinBytes = if (pinPar > 0) 0L else Long.MaxValue)
    expandFamilyPairs(repPairs, members, "jaccard", lit(1.0),
      keepIntra = threshold <= 1.0)
  }

  /** The exact-family frame behind the routed pair-formers (generic
    * over any groupable content column — text for minhash/simhash,
    * `array<float>` embeddings for [[Similarity.cosineNearDupPairs]] /
    * `semDedup`): returns (representatives with content, member map
    * capped at `maxFamily`). Families above the cap are represented by
    * their rep alone — the expansion-side quadratic guard.
    *
    * The family key is a 128-bit content digest computed on the RAW
    * input rows and carried THROUGH the groupBy. Grouping by the content
    * column itself would let Spark normalize float group keys
    * (-0.0 → 0.0, NaN canonicalization — including inside arrays) while
    * a digest computed independently on the member side kept the sign,
    * so the member join silently dropped -0.0-bearing vectors (r15
    * ADVICE). Both sides now derive the key from the SAME expression
    * over the same rows; a -0.0-bearing vector and its +0.0 twin form
    * two families whose reps the pair search still verifies against
    * each other (their cosine is exactly 1.0). Digest-equals-identity
    * is [[exact]]'s stance (collision odds ~2^-128 over distinct
    * contents); md5 hashes arrays and strings alike, so the vector
    * route shares the shape.
    *
    * Both frames are LAZILY locally checkpointed (the clusters-loop
    * pattern): the first consumer materializes the blocks inside its
    * own job, with no separate barrier job per frame. The routed
    * operators consume `reps`/`members` many times
    * (semDedup ~10x: trainer jobs, assignment, pairing, verify;
    * [[expandFamilyPairs]] 2–4x), and Spark re-executes shared lazy
    * subtrees per consumer — the r15 zipfian skew battery paid the
    * family groupBy ~7x per query (routed simhash 2.7 s → 9.3 s
    * round-over-round). The checkpoint runs the groupBy exactly ONCE;
    * every consumer then reads executor-local blocks (spec-pinned:
    * the routed plans' only leaves are checkpoint scans). Storage is
    * bounded — one content copy per DISTINCT content plus two ids per
    * input row — and released by the ContextCleaner when the returned
    * plans are dropped. Local checkpoints are non-resilient (an
    * executor loss fails the job instead of recomputing), a trade the
    * routed path only makes above the size gate, where the recompute
    * amplification it removes dominates that risk.
    *
    * `members` joins back via an explicit shuffle-hash hint — digest
    * keys are hashable, SMJ would re-introduce sorts, and a degenerate
    * hot family (one content in millions of copies) streams through
    * the probe side with a 1-row build. The join moves ~40 bytes/row
    * (digest + ids), never full documents. */
  private[ops] def familyRoute(df: DataFrame, idCol: String, textCol: String,
      maxFamily: Int, checkpointMembers: Boolean = true,
      pinPar: Int = 0): (DataFrame, DataFrame) = {
    val nn = df.select(col(idCol), col(textCol))
      .filter(col(textCol).isNotNull)
      .withColumn("__k", familyKey(col(textCol)))
    // family map via GROUPBY, not a window: map-side combine moves at
    // most one copy of each distinct content per input partition, so on
    // the dup-dense corpora this route exists for the shuffle carries
    // ~distinct rows — a window over the digest shuffled the FULL
    // corpus content and sorted it (measured at sf10 100-copy density:
    // routed semDedup 3.6 -> 6.8 s, 110 CPU.s). When `pinPar` > 0 (the
    // gate saw a LARGE distinct side) an explicit repartition pins the
    // checkpoint block count at cluster width — AQE coalesces the
    // tiny-bytes distinct frame to ~1 partition, serializing every
    // downstream fingerprint pass (measured 27 tasks / 19.5 CPU.s
    // near-serial at sf10). When the distinct side is SMALL the pin is
    // pure per-task fixed cost (the r16 zipfian residual: ~3k families
    // spread over 64-task stages paid ~35 CPU·s where the AQE-sized
    // plan did the same work in 4) — the caller passes pinPar = 0 and
    // the checkpoint keeps the aggregate's own partitioning.
    // `first(text)` is exact because digest-equal rows carry identical
    // content.
    val grouped = nn.groupBy(col("__k"))
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__fam"),
        first(col(textCol)).as(textCol))
    // LAZY checkpoints (the clusters-loop pattern): the first consumer
    // materializes the blocks inside its own job instead of a separate
    // eager barrier job per frame — profiled at sf1-skew the two eager
    // barriers were 2 of the routed path's 15 sequential jobs. Single
    // execution still holds: blocks materialize once, every later
    // consumer reads them.
    val fams = (if (pinPar > 0) grouped.repartition(pinPar) else grouped)
      .localCheckpoint(false)
    // reps re-reads the checkpoint per consumer: no shuffle, no corpus
    // scan, cluster-width blocks
    val reps = fams.select(col("__rep").as(idCol), col(textCol))
    // the member join keys on the digest (~40 bytes/row shuffle, never
    // full documents) against the CHECKPOINTED families; shuffle-hash
    // keeps a degenerate hot family streaming through the probe side
    // with a small build. This is the second (and last) corpus scan;
    // the checkpoint makes both frames single-execution (spec-pinned:
    // the routed plans' only leaves are checkpoint scans).
    val members = nn.select(col("__k"), col(idCol).as("__m"))
      .join(fams.select(col("__k"), col("__rep"), col("__fam"))
        .hint("shuffle_hash"), Seq("__k"))
      .filter(col("__m") === col("__rep") || col("__fam") <= maxFamily)
      .select(col("__rep"), col("__m"))
    // the pair-formers consume members 2-4x (expansion joins) — the
    // checkpoint makes those single-execution; a caller that consumes
    // members exactly ONCE (semDedup's propagation join) skips it and
    // saves the eager corpus-scan job
    (reps, if (checkpointMembers) members.localCheckpoint(false) else members)
  }

  /** The 128-bit family identity: two INDEPENDENTLY seeded native
    * xxhash64 lanes over the raw content — strings and arrays alike,
    * hashed in binary with no stringification (an md5 over
    * `cast(array<float> as string)` paid ~40 us/row formatting 64
    * floats on every family scan; the native lanes are pennies).
    * Lane independence matters: Spark's multi-arg XxHash64 folds by
    * seeding each argument's hash with the previous result, so
    * `xxhash64(content, lit(1))` would be a pure function of
    * `xxhash64(content)` — one 64-bit lane wearing a 128-bit costume.
    * The second lane instead hashes a LEADING literal first, which
    * folds into a distinct seed for the content bytes:
    * `xxhash64(lit(1), content)` = xxh(content, seed = xxh(1, 42)) —
    * genuinely independent of lane one. Digest-equals-identity is
    * [[exact]]'s stance: a family merge needs both independent lanes
    * to collide (~2^-128 per pair, safe at billions of distinct
    * documents). Spark's hash kernels canonicalize floats (-0.0/NaN)
    * IDENTICALLY on every evaluation, so both sides of the member
    * join always agree — the r15 group-key hazard cannot recur. */
  private[graft] def familyKey(content: Column): Column =
    struct(xxhash64(content), xxhash64(lit(1), content))

  /** Explain-style receipt for the collapse-routing decision the pair-
    * formers share ([[minHashLSH]], [[simHashPairs]],
    * [[Similarity.cosineNearDupPairs]], [[Similarity.semDedup]] all ride
    * the same size gate + family map): one row with the routing
    * decision, the plan-statistics evidence behind it, and the family
    * map's shape — so a 100 TB operator run can be audited BEFORE it is
    * paid for, the way `Generator.explain` and
    * `PreAggStore.explainCandidates` audit the semantic layer. Runs ONE
    * aggregate over the family groupBy (the diagnostic costs what the
    * map it describes costs; nothing is checkpointed).
    *
    * Columns: `routed` (would the pair-formers take the collapsed
    * path), `pinned` (would the routed rep-side stages carry the
    * cluster-width parallelism pins — a separate decision: routing
    * follows dup density, pinning follows the DISTINCT side's size),
    * `input_bytes` (the optimizer's size estimate driving the
    * gate) and `gate_bytes`; then the family map — `n_rows` (non-null-
    * content inputs), `families` (distinct contents), `max_family`,
    * `dup_rows` (rows the collapse removes from the pair search), and
    * `overcap_families` / `overcap_rows_dropped` (families beyond
    * `maxFamily`, whose non-rep members the expansion will not pair —
    * the quadratic-output guard's audited blast radius). */
  def describeRoute(df: DataFrame, idCol: String, textCol: String,
      maxFamily: Int = 1000,
      pinMinBytes: Long = PairPins.DefaultMinBytes): DataFrame = {
    val inputBytes =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong
    val (routed, pinned) = PairPins.routeAndPin(df, pinMinBytes, textCol)
    df.select(col(idCol), col(textCol))
      .filter(col(textCol).isNotNull)
      .groupBy(familyKey(col(textCol)).as("__k"))
      .agg(count(lit(1)).as("__fam"))
      .agg(
        coalesce(sum(col("__fam")), lit(0L)).as("n_rows"),
        count(lit(1)).as("families"),
        coalesce(max(col("__fam")), lit(0L)).as("max_family"),
        coalesce(sum(col("__fam") - 1), lit(0L)).as("dup_rows"),
        coalesce(sum(when(col("__fam") > maxFamily, 1L).otherwise(0L)),
          lit(0L)).as("overcap_families"),
        coalesce(sum(when(col("__fam") > maxFamily, col("__fam") - 1)
          .otherwise(0L)), lit(0L)).as("overcap_rows_dropped"))
      .select(lit(routed > 0).as("routed"),
        lit(pinned > 0).as("pinned"),
        lit(inputBytes).as("input_bytes"),
        lit(pinMinBytes).as("gate_bytes"),
        col("n_rows"), col("families"), col("max_family"), col("dup_rows"),
        col("overcap_families"), col("overcap_rows_dropped"))
  }

  /** Expand representative pairs back to the full member pair set:
    * inter-family pairs inherit `scoreCol` from their reps (exact copies
    * score identically by construction), intra-family pairs get
    * `intraScore`. Families are disjoint, so no pair is emitted twice;
    * `least`/`greatest` restore the id_a < id_b contract. The work here
    * is linear in the EMITTED pair set — the unavoidable output cost —
    * never in candidate space. */
  private[ops] def expandFamilyPairs(repPairs: DataFrame, members: DataFrame,
      scoreCol: String, intraScore: Column, keepIntra: Boolean): DataFrame = {
    val inter = repPairs
      .join(members.select(col("__rep").as("id_a"), col("__m").as("__ma")),
        Seq("id_a"))
      .join(members.select(col("__rep").as("id_b"), col("__m").as("__mb")),
        Seq("id_b"))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col(scoreCol))
    if (!keepIntra) inter
    else inter.unionByName(
      members.select(col("__rep"), col("__m").as("id_a"))
        .join(members.select(col("__rep"), col("__m").as("id_b")),
          Seq("__rep"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), intraScore.as(scoreCol)))
  }

  /** The unrouted MinHash + LSH pair search — pairs among the input rows
    * as given. [[minHashLSH]] routes through this on exact-collapsed
    * representatives; call it directly only on a frame already known
    * duplicate-free (the collapsed twins do), since exact families make
    * its bucket joins superlinear.
    *
    * Signature rows are split into `bands`; docs sharing any band bucket
    * become candidates (bucket join — shuffle keyed on band hash, never a
    * cross join); candidates are verified with exact Jaccard over shingle
    * sets. Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥
    * `threshold`.
    */
  private[graft] def minHashLSHDirect(df: DataFrame, idCol: String,
      textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucketSize: Int = 1000,
      pinMinBytes: Long = PairPins.DefaultMinBytes): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")

    // shared front: the per-row projection is consumed by the band keys
    // AND both sides of the Jaccard-verify join — recomputing a
    // projection is cheap and pins no storage (no persist needed)
    val front = minhashFront(df, idCol, textCol, shingleSize, numHashes)
    val banded = bandedSigKeys(front, numHashes, bands)

    // skew cap: a band-bucket holding b docs yields b²/2 candidate pairs;
    // buckets beyond `maxBucketSize` (boilerplate/empty-doc clusters) are
    // dropped rather than joined — the standard LSH guard against a hot
    // key turning the candidate join quadratic
    val bucketCounts = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") > 1 && col("__bc") <= maxBucketSize)
      .select("band", "bucket")
    val keyed = banded.join(bucketCounts, Seq("band", "bucket"))

    // candidate pairs are BYTE-small (two longs) but CPU-dense downstream
    // (per-pair array intersects): an explicit pair-keyed repartition pins
    // the dedup aggregation AND the verify join that follows to full
    // parallelism — AQE's byte-based coalescing would otherwise pack
    // millions of pairs into a handful of reducers and serialize the
    // verify CPU (measured 27 CPU·s in 6 tasks on a replicated corpus).
    // ADAPTIVE (see [[PairPins]]): below `pinMinBytes` of input the pin
    // is off — the pinned exchanges' fixed cost dominated small corpora
    // (A/B at sf0.1: 1.46 s unpinned vs 2.08 s pinned, identical data)
    val pairPar = PairPins.pairPar(df, pinMinBytes)
    // both self-join sides derive from ONE explicitly-partitioned frame,
    // so the b²-per-bucket pair GENERATION itself runs at pairPar tasks
    // (co-partitioned — the pin adds no extra exchange to the join)
    val spread = PairPins.spread(keyed, pairPar, col("band"), col("bucket"))
    val candidates = PairPins.spread(
      spread.select(col("band"), col("bucket"), col("id").as("id_a"))
        .join(spread.select(col("band"), col("bucket"), col("id").as("id_b")),
          Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b"),
      pairPar, col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b") // same pair can collide in many bands

    // exact-Jaccard verify over the per-doc distinct-hash ARRAYS: two
    // equi-joins attach each side's set, |A∩B| = size(array_intersect)
    // (codegen'd primitive-array fast path), |A∪B| = |A|+|B|-|A∩B|.
    // Only candidate rows ever carry an array across a shuffle — the
    // old exploded-row verify shuffled the full corpus×shingle rows.
    val sets = front.select(col("id"), col("__hashes"), col("__n"))
    // the explicit join-key repartitions ARE the exchanges these joins
    // need anyway — pinning their width keeps the per-pair intersect
    // work at pairPar tasks instead of AQE's byte-derived reducer count
    PairPins.spread(
      PairPins.spread(candidates, pairPar, col("id_a"))
        .join(sets.select(col("id").as("id_a"), col("__hashes").as("__ha"),
          col("__n").as("__na")), Seq("id_a")),
      pairPar, col("id_b"))
      .join(sets.select(col("id").as("id_b"), col("__hashes").as("__hb"),
        col("__n").as("__nb")), Seq("id_b"))
      .withColumn("__i",
        size(array_intersect(col("__ha"), col("__hb"))).cast("long"))
      .withColumn("jaccard",
        col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** 64-bit SimHash over a pre-hashed token array (`array<long>`): bit b
    * of the fingerprint is set when the population of tokens with bit b
    * set outweighs those without. Token hashing must be hoisted into its
    * own column — inlining it here would re-tokenize the text 64 times. */
  def simHashFromHashes(hashesCol: String): Column =
    expr(s"""
      aggregate(
        sequence(0, 63),
        0L,
        (acc, b) -> acc + shiftleft(
          CASE WHEN aggregate(
            $hashesCol,
            0L,
            (s, h) -> s + CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END
          ) > 0 THEN 1L ELSE 0L END, b))
    """)

  /** SimHash of a text column — native per-row kernel
    * ([[graft.functions.DedupExprs.SimHash64]]), same values as the
    * lambda/aggregate shapes. */
  def simHash(textCol: String): Column =
    graft.functions.DedupExprs.simHash64(
      split(lower(col(textCol)), "\\s+"))

  /** Near-duplicate pairs by SimHash Hamming distance ≤ `maxDistance`.
    *
    * Pigeonhole blocking: the 64-bit fingerprint splits into
    * `maxDistance + 1` chunks; any pair within distance shares at least one
    * identical chunk, so candidates come from equi-joins on (chunkIdx,
    * chunkValue) — shuffle-friendly, no cross join. Verified with
    * bit_count(xor).
    *
    * Skew guard (same contract as [[minHashLSH]]'s `maxBucketSize`): a
    * (chunk, value) block holding b docs yields b²/2 candidates, so a
    * boilerplate cluster — thousands of near-identical docs sharing a
    * fingerprint — would turn the join quadratic. Blocks larger than
    * `maxBlockSize` are dropped from CANDIDATE GENERATION; exact
    * duplicates inside them are the exact-dedup pass's job
    * ([[exactDuplicates]]), which handles identical text in one linear
    * groupBy — but NON-identical near-duplicates whose only shared chunk
    * sits in a dropped block are lost, i.e. near-dup recall is reduced
    * inside capped blocks. That loss is observable, not silent: run
    * [[simHashOversizedBlocks]] with the same arguments to get every
    * dropped block and its size. Measured: 40% boilerplate at sf1 ran
    * 16x slower uncapped.
    *
    * The cap itself is a window `count(*) over (partition by c, v)` on
    * the chunked frame — it rides the same (c, v) exchange the self-join
    * needs anyway (no extra groupBy + re-join shuffle). */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, maxBlockSize: Int = 1000,
      pinMinBytes: Long = PairPins.DefaultMinBytes): DataFrame = {
    // COLLAPSE-ROUTED like [[minHashLSH]] (same rationale, same
    // deviations, same single size gate): pairs are searched among
    // distinct texts, then expanded — identical texts have identical
    // 64-bit signatures, so inter-family pairs inherit the rep hamming
    // exactly and intra-family pairs are hamming 0 by construction
    val (routed, pinPar) = PairPins.routeAndPin(df, pinMinBytes, textCol)
    if (routed == 0)
      return simHashPairsDirect(df, idCol, textCol, maxDistance,
        maxBlockSize, pinMinBytes = Long.MaxValue)
    val (reps, members) = familyRoute(df, idCol, textCol, maxBlockSize,
      pinPar = pinPar)
    val repPairs = simHashPairsDirect(reps, idCol, textCol, maxDistance,
      maxBlockSize, pinMinBytes = if (pinPar > 0) 0L else Long.MaxValue)
    expandFamilyPairs(repPairs, members, "hamming", lit(0L),
      keepIntra = maxDistance >= 0)
  }

  /** The unrouted SimHash pigeonhole pair search — see
    * [[minHashLSHDirect]] for the direct-vs-routed contract. */
  private[graft] def simHashPairsDirect(df: DataFrame, idCol: String,
      textCol: String, maxDistance: Int = 3, maxBlockSize: Int = 1000,
      pinMinBytes: Long = PairPins.DefaultMinBytes): DataFrame =
    hammingBandedPairs(simHashChunks(df, idCol, textCol, maxDistance),
      maxDistance, maxBlockSize, PairPins.pairPar(df, pinMinBytes))

  /** Pigeonhole-blocked Hamming pair search over a PRE-CHUNKED
    * (id, sig, c, v) frame — the blocking machinery shared by text
    * SimHash ([[simHashPairsDirect]]) and image perceptual hashes
    * ([[graft.ops.Multimodal.imageNearDupPairs]]). Blocks larger than
    * `maxBlockSize` are dropped from candidate generation (the quadratic
    * guard; see [[simHashPairs]]' scaladoc for the recall contract), and
    * the pair stages carry the adaptive parallelism pin (`pairPar` = 0
    * disables it — [[PairPins]]).
    *
    * Candidate pairs verify with one `bit_count(xor)` — exact Hamming,
    * codegen'd. Output: (id_a, id_b, hamming ≤ maxDistance), id_a <
    * id_b. */
  private[graft] def hammingBandedPairs(chunked: DataFrame,
      maxDistance: Int, maxBlockSize: Int, pairPar: Int): DataFrame = {
    // skew cap: drop oversized (chunk, value) blocks before the self-join
    val wBlock = Window.partitionBy(col("c"), col("v"))
    val capped = chunked
      .withColumn("__bc", count(lit(1)).over(wBlock))
      .filter(col("__bc") > 1 && col("__bc") <= maxBlockSize)
      .drop("__bc")
    // same parallelism pins as minHashLSH's candidate stage: block and
    // pair rows are byte-small, so AQE would coalesce both the b²-pair
    // GENERATION (the block self-join) and the dedup + hamming stage
    // into a few reducers; explicit partitioning keeps the pair CPU
    // spread across the cluster. ADAPTIVE below PairPins.DefaultMinBytes
    // of input — the pins' fixed exchange cost dominated small corpora
    val spread = PairPins.spread(capped, pairPar, col("c"), col("v"))
    val l = spread.select(col("c"), col("v"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = spread.select(col("c"), col("v"), col("id").as("id_b"), col("sig").as("sig_b"))
    PairPins.spread(
      l.join(r, Seq("c", "v")).filter(col("id_a") < col("id_b")),
      pairPar, col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxDistance)
      .select("id_a", "id_b", "hamming")
  }

  /** (id, sig, c, v) pigeonhole chunk keys from an (id, sig) frame of
    * 64-bit fingerprints: `maxDistance + 1` chunks — two sigs within
    * `maxDistance` MUST agree on at least one whole chunk (pigeonhole),
    * so blocking on (chunk idx, chunk value) never misses a true pair. */
  private[graft] def sigChunks(withSig: DataFrame,
      maxDistance: Int): DataFrame = {
    val chunks = maxDistance + 1
    require(chunks >= 1 && chunks <= 64,
      s"maxDistance must be in [0, 63], got $maxDistance")
    val width = 64 / chunks
    // maxDistance = 0 → one 64-bit chunk. Scala's `1L << 64` is 1 (shifts
    // are mod 64), so the general mask formula would collapse to 0 and
    // block EVERY signature on (c=0, v=0) — one mega-block that the skew
    // cap then drops on any corpus larger than maxBlockSize, silently
    // returning zero pairs at the one distance that should be cheapest.
    // A full-width chunk blocks on the signature itself.
    val mask = if (width == 64) -1L else (1L << width) - 1
    withSig.select(col("id"), col("sig"),
      explode(expr(s"transform(sequence(0, ${chunks - 1}), c -> named_struct(" +
        s"'c', c, 'v', (sig >> (c * $width)) & $mask))")).as("ch"))
      .select(col("id"), col("sig"), col("ch.c"), col("ch.v"))
  }

  /** [[simHashPairs]] over [[collapseExact]] representatives — the
    * collapse-first member of the SimHash family (see
    * [[minHashLSHCollapsed]] for the rationale: exact families inflate
    * every pigeonhole block they land in by f² candidate pairs, while
    * the collapse is one linear aggregation). Pairs are found among
    * distinct texts only, with both family sizes attached; exact copies
    * themselves (hamming 0 by construction) are the collapse's report,
    * not the pair search's. On an all-distinct corpus this is
    * [[simHashPairs]] with dups = 1. */
  def simHashPairsCollapsed(df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, maxBlockSize: Int = 1000): DataFrame = {
    val reps = collapseExact(df, idCol, textCol)
    val sizes = reps.select(col(idCol), col("family_size"))
    // Direct, not the routed wrapper: reps are duplicate-free by
    // construction, so the wrapper's family window would be pure cost
    simHashPairsDirect(reps.select(col(idCol), col(textCol)), idCol, textCol,
        maxDistance, maxBlockSize)
      .join(sizes.select(col(idCol).as("id_a"),
        col("family_size").as("dups_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"),
        col("family_size").as("dups_b")), Seq("id_b"))
      .select("id_a", "id_b", "hamming", "dups_a", "dups_b")
  }

  /** Audit companion to [[simHashPairs]]: the (chunk, value) blocks its
    * `maxBlockSize` cap excludes from candidate generation, with their
    * sizes — so a capped run can report exactly how many docs sit in
    * skipped blocks instead of silently under-recalling. Empty output
    * means the cap did nothing and the pair list is complete. */
  def simHashOversizedBlocks(df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, maxBlockSize: Int = 1000): DataFrame =
    simHashChunks(df, idCol, textCol, maxDistance)
      .groupBy("c", "v")
      .agg(count(lit(1)).as("block_size"))
      .filter(col("block_size") > maxBlockSize)
      .select(col("c").as("chunk_idx"), col("v").as("chunk_value"),
        col("block_size"))

  /** (id, sig, c, v) rows: each doc's 64-bit SimHash exploded into the
    * `maxDistance + 1` pigeonhole chunks keyed (chunk idx, chunk value).
    * The fingerprint is ONE native projection
    * ([[graft.functions.DedupExprs.SimHash64]]) — the explode + 64
    * per-bit sign-sum aggregate shape it replaces paid a corpus-wide
    * exchange keyed by id for a per-row computation (the ±1 bit sums
    * are order-free integers, so the native loop emits identical
    * fingerprints). */
  private[graft] def simHashChunks(df: DataFrame, idCol: String,
      textCol: String, maxDistance: Int): DataFrame =
    sigChunks(df
      .select(col(idCol).as("id"),
        graft.functions.DedupExprs.simHash64(
          split(lower(col(textCol)), "\\s+")).as("sig"))
      // empty-token docs produced no rows under the explode shape
      .filter(col("sig").isNotNull), maxDistance)

  /** Exact character-n-gram Jaccard similarity for pairs within a blocking
    * key (e.g. source/language). Block sizes must be bounded — this is the
    * verify-stage primitive, not the candidate generator; use
    * [[minHashLSH]] to generate candidates at corpus scale. */
  def ngramJaccardWithinBlocks(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 4, threshold: Double = 0.3): DataFrame = {
    val grams = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      expr(s"array_distinct(transform(sequence(1, greatest(length($textCol) - ${n - 1}, 1)), " +
        s"i -> substring($textCol, i, $n)))").as("g"))
    val l = grams.select(col("block"), col("id").as("id_a"), col("g").as("g_a"))
    val r = grams.select(col("block"), col("id").as("id_b"), col("g").as("g_b"))
    l.join(r, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("g_a"), col("g_b"))).cast("double") /
          size(array_union(col("g_a"), col("g_b"))))
      .filter(col("jaccard") >= threshold)
      .select("block", "id_a", "id_b", "jaccard")
  }

  /** Lowercased whitespace tokens with empties dropped — THE tokenizer
    * every window/chunk op shares, and the form every DuckDB oracle
    * replays as `list_filter(string_split_regex(lower(text), '\\s+'),
    * x -> len(x) > 0)`. Tokenization changes happen HERE only, or the
    * window ops silently diverge from each other and their oracles. */
  private[ops] def wsTokens(textCol: String): Column =
    filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)

  /** Substring-level duplication: every `n`-token sliding window that
    * appears in at least `minDocs` distinct documents. Document-level
    * dedup misses shared boilerplate (headers, license blocks, templated
    * paragraphs) embedded in otherwise-distinct pages; this is the
    * window-level pass that finds those spans so they can be cut or
    * down-weighted before training.
    *
    * Pure column expressions: tokenize once, materialize the windows
    * with `transform(sequence(...))` + `slice` (no self-join, no UDF),
    * `array_distinct` per doc so a window repeated INSIDE one document
    * counts that document once, then one explode + one partial-agg
    * groupBy on the window. The shuffle key is the window text (needed
    * in the output); volume is ~tokens × n strings — at extreme scale
    * pre-hash with `xxhash64(window)` and group on (hash, window) stays
    * the same shuffle, so the honest lever is raising `n` or sampling
    * docs, both caller-side. Window count per doc is linear in doc
    * length (sequence of starts), never quadratic. */
  def duplicateWindows(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    require(n > 0, s"window size must be positive, got $n")
    require(minDocs > 1, s"minDocs must exceed 1, got $minDocs")
    df.select(col(idCol).as("__doc"), wsTokens(textCol).as("__t"))
      .filter(size(col("__t")) >= n)
      // loop-kernel window front (array lambdas are CodegenFallback —
      // interpreted per position with a fresh slice each time)
      .select(col("__doc"), explode(
        graft.functions.DedupExprs.distinctTokenWindows(col("__t"), n))
        .as("window"))
      .groupBy(col("window"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Per-document n-gram overlap against a reference corpus: for each
    * probe doc, the fraction of its distinct `n`-token windows that
    * also occur anywhere in `reference` — the graded contamination
    * metric (an eval doc 80% covered by training text is compromised
    * even if no single window-pair crosses a dedup threshold; exact
    * matching says "clean", pair-level LSH says "no pair", this says
    * "0.8"). Complements [[crossSplitLeakage]] (exact) and
    * [[crossCorpusNearDups]] (pairwise) with the coverage view.
    *
    * Both sides reduce to distinct window HASHES before the join — the
    * shuffle carries 8-byte keys, never window text, and the reference
    * side deduplicates corpus-wide first (boilerplate-heavy training
    * sets collapse by orders of magnitude). One equi-join on a uniform
    * hash key + one per-doc partial agg; window generation is linear
    * per doc ([[duplicateWindows]]'s transform/slice shape, no
    * self-join). Probe docs shorter than `n` tokens report null
    * `overlap_pct` (they have no windows to cover — 0.0 would
    * misreport them as verified-clean). */
  def ngramOverlap(reference: DataFrame, probe: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    require(n > 0, s"window size must be positive, got $n")
    def windows(df: DataFrame): DataFrame = {
      // distinct xxhash64(seed 42) of every full n-token window — for a
      // size >= n array this is EXACTLY the shingle-hash kernel's output
      // (its truncated position-0 rule only fires on shorter docs)
      df.select(col(idCol).as("__doc"), wsTokens(textCol).as("__t"))
        .filter(size(col("__t")) >= n)
        .select(col("__doc"), explode(
          graft.functions.DedupExprs.shingleHashes(col("__t"), n))
          .as("__wh"))
    }
    val ref = windows(reference).select(col("__wh")).distinct()
    val hits = windows(probe)
      .join(ref.withColumn("__hit", lit(1L)), Seq("__wh"), "left")
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_overlapping"))
    probe.select(col(idCol))
      .join(hits, col(idCol) === col("__doc"), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_overlapping"), lit(0L)).as("n_overlapping"),
        (col("n_overlapping").cast("double") / col("n_windows"))
          .as("overlap_pct"))
  }

  /** Cross-split contamination (train/test leakage by exact content):
    * rows of the `probe` split whose text hash also appears in the
    * `reference` split. The decontamination primitive every eval
    * pipeline needs — run it before training on any corpus that also
    * sources benchmarks. One equi-join on the (uniform) md5 key; the
    * reference side is reduced to distinct hashes first, so the join
    * payload is one 32-char string per unique reference text. md5 (not
    * xxhash64) keeps the hash engine-portable for the oracle. */
  def crossSplitLeakage(df: DataFrame, idCol: String, textCol: String,
      splitCol: String, probe: String, reference: String): DataFrame = {
    val h = md5(col(textCol).cast("binary"))
    val ref = df.filter(col(splitCol) === reference)
      .select(h.as("__h")).distinct()
    df.filter(col(splitCol) === probe)
      .select(col(idCol), h.as("__h"))
      .join(ref, Seq("__h"))
      .select(col(idCol), lit(true).as("contaminated"))
  }

  /** Duplicate CLUSTERS from a near-duplicate pair list: connected
    * components over the pair graph, labeling every member with the
    * smallest id in its component. This is the step between "pairs" and
    * "drop": near-duplication is transitive in practice (A≈B, B≈C ⇒ the
    * whole chain is one document family), and dropping per-pair instead
    * of per-cluster either over-deletes (both sides of every pair) or
    * leaves chained copies behind.
    *
    * Distributed min-label propagation with a pointer-jumping step each
    * round (label := label's own current label), so convergence is
    * ~O(log diameter) rounds, not O(diameter) — a 1M-link chain settles
    * in ~20 rounds. Each round is two shuffle joins over (id, label);
    * lineage is truncated per round with `localCheckpoint` (iterative
    * plans otherwise grow until the optimizer chokes — on a cluster,
    * set a checkpoint dir and swap in `checkpoint` for fault tolerance).
    * The driver only ever sees one count per round, never the data.
    *
    * Input: any frame with `idA`/`idB` columns (e.g. [[minHashLSH]],
    * [[simHashPairs]], [[ngramJaccardWithinBlocks]] output). Output:
    * (id, cluster_id) for every id that appears in at least one pair;
    * cluster_id is the component's minimum id. */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxRounds: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col(idA).cast("long").as("src"),
      col(idB).cast("long").as("dst"))
    // LAZY checkpoint: the edge count below (the loop's execution-profile
    // gate) is its first consumer and materializes it inside its own job
    // — the eager form ran a separate barrier job for the same bytes
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(false)
    val nEdges = sym.count()
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")).localCheckpoint(false)
    // Scoped execution profile for the propagation loop (guide §1.2: fix
    // the job shape before per-task work). Under AQE every per-round
    // exchange is a separate stage-materialization job — profiled at
    // sf0.1 the loop ran 48 jobs (~5/round) of ~40 ms launch cost for
    // 0.7 s of task time. On a SMALL graph (edge count known exactly
    // from the checkpoint materialization above, a true row count — the
    // optimizer's post-join byte estimates are multiplicative and
    // useless here) the loop instead runs non-adaptively with
    // single-partition shuffles: one job per round, whose handful of
    // rows sort in microseconds. Above the gate the adaptive plans are
    // untouched — a 100 TB pair graph keeps AQE's coalescing and skew
    // handling (a converged giant component is a hot join key). The
    // inline loop plans in a clone of the caller's session, so its confs
    // never reach the caller's: a query planned concurrently on that
    // session keeps AQE and its shuffle width. The returned frame is
    // bound back to the caller's session and reads the final round's
    // checkpoint blocks, not a live plan.
    val gateEdges = spark.conf
      .getOption("spark.graft.clusters.inlineLoopMaxEdges")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(1000000L)
    val loop = if (nEdges <= gateEdges) {
      val clone = GraftSqlBridge.cloneSession(spark)
      clone.conf.set("spark.sql.adaptive.enabled", "false")
      clone.conf.set("spark.sql.shuffle.partitions", "1")
      clone
    } else spark
    def in(s: SparkSession, df: DataFrame): DataFrame =
      if (df.sparkSession eq s) df
      else GraftSqlBridge.dataFrame(s, GraftSqlBridge.logicalPlan(df))
    val edgesIn = in(loop, sym)
    labels = in(loop, labels)
    var round = 0
    var changed = 1L
    while (changed > 0) {
      round += 1
      require(round <= maxRounds,
        s"duplicateClusters did not converge in $maxRounds rounds")
      // neighbor minimum: the smallest label adjacent to (or already on) id
      val viaEdges = edgesIn
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("label")).as("nbr"))
      val stepped = labels.join(viaEdges, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
          col("label").as("prev"))
      // pointer jump: follow the label to ITS label (halves chains).
      // LAZY checkpoint on purpose: the convergence count below is the
      // round's first consumer, so it materializes the checkpoint inside
      // its own job — an eager checkpoint here ran a separate barrier
      // job first, doubling the per-round job count (~2 jobs × rounds of
      // pure launch cost on converged-in-few-rounds dedup graphs)
      val jumped = stepped
        .join(labels.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"), least(col("label"), coalesce(col("ll"), col("label")))
          .as("label"), col("prev"))
        .localCheckpoint(false)
      changed = jumped.filter(col("label") =!= col("prev")).count()
      labels = jumped.select("id", "label")
    }
    in(spark, labels.select(col("id"), col("label").as("cluster_id")))
  }

  /** Keep one representative per duplicate cluster: drops every row whose
    * id maps to a cluster but is not its minimum-id member. Rows that
    * never appear in `pairs` pass through untouched. One broadcast-or-
    * shuffle anti-join against the (small — duplicates only) non-
    * representative id set. */
  def dedupByClusters(df: DataFrame, idCol: String, pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val drop = duplicateClusters(pairs, idA, idB)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(s"__drop_$idCol"))
    df.join(drop, col(idCol) === col(s"__drop_$idCol"), "left_anti")
  }

  /** Edit-distance near-dup pairs within blocks — the character-level
    * verify primitive for OCR/transcription corpora where near-dups are
    * typo clouds (shingle Jaccard under-fires on dense single-char
    * noise; Levenshtein is the right metric).
    *
    * Same scale contract as [[ngramJaccardWithinBlocks]]: candidates
    * come from the blocking column (deliberately O(block²) — block by
    * LSH bucket/source/domain first), and the distance runs with
    * Spark's bounded variant, which abandons a pair the moment its
    * distance provably exceeds `maxDist` — far pairs cost O(n·maxDist),
    * not O(n²) per pair. Output: (id_a, id_b, edit_distance ≤ maxDist),
    * id_a < id_b. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val side = df.select(col(blockCol).as("__b"), col(idCol), col(textCol))
    val joined = side.toDF("__b", "id_a", "__ta")
      .join(side.toDF("__b", "id_b", "__tb"), Seq("__b"))
      .filter(col("id_a") < col("id_b"))
    joined
      .withColumn("edit_distance",
        levenshtein(col("__ta"), col("__tb"), maxDist))
      // the bounded variant returns -1 for "provably above maxDist"
      .filter(col("edit_distance") >= 0 && col("edit_distance") <= maxDist)
      .select(col("id_a"), col("id_b"), col("edit_distance"))
  }

  /** Near-duplicate contamination between two corpora — the near-dup
    * upgrade of [[crossSplitLeakage]]: exact-match decontamination
    * misses a benchmark answer that re-entered training with one word
    * changed, which is precisely what MinHash-LSH catches.
    *
    * Both sides run through ONE [[minHashLSH]] pass (ids are remapped
    * to 2·id / 2·id+1 so a single long column carries the side tag —
    * no schema change, no second LSH), then pairs are restricted to
    * cross-side matches and mapped back. Output: (corpus_id, probe_id,
    * jaccard ≥ threshold). Same banded scale shape as minHashLSH; the
    * probe side (a benchmark suite) is typically tiny, so its shingles
    * ride along at no visible cost. */
  def crossCorpusNearDups(corpus: DataFrame, probe: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame = {
    val tagged = corpus
      .select((col(idCol).cast("long") * 2).as("__cid"), col(textCol))
      .unionByName(probe
        .select((col(idCol).cast("long") * 2 + 1).as("__cid"), col(textCol)))
    minHashLSH(tagged, "__cid", textCol, shingleSize, numHashes, bands,
      threshold, maxBucketSize)
      .filter(pmod(col("id_a"), lit(2)) =!= pmod(col("id_b"), lit(2)))
      .select(
        expr("(CASE WHEN pmod(id_a, 2) = 0 THEN id_a ELSE id_b END) div 2")
          .as("corpus_id"),
        expr("(CASE WHEN pmod(id_a, 2) = 1 THEN id_a ELSE id_b END) div 2")
          .as("probe_id"),
        col("jaccard"))
  }

  /** Corpus docs that MIGHT share a word shingle with the probe corpus,
    * per a [[BloomGate]] built over the probe's shingles — the cheap
    * membership pass of [[decontaminateGated]]. The shingling is
    * [[minHashLSH]]'s own (lowercased whitespace tokens, `shingleSize`
    * words), so any pair crossCorpusNearDups could emit (jaccard > 0 ⇒
    * ≥ 1 shared shingle) has its corpus doc flagged here: the gate has
    * NO false negatives by construction. Output: one id per suspect
    * corpus doc. */
  def bloomSuspects(corpus: DataFrame, probe: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3,
      mBitsPerBucket: Int = 1 << 17, kHashes: Int = 5,
      nBuckets: Int = 32): DataFrame = {
    def keys(df: DataFrame) = df
      .select(col(idCol).as("__doc"),
        split(lower(col(textCol)), "\\s+").as("__t"))
      // docs shorter than a shingle still hash ONE truncated position-0
      // shingle in the minhash kernel (DedupExprs.shingleHashes), so two
      // short docs CAN pair — the gate must key them the same way or it
      // would drop exactly those pairs (a false negative). truncated=true
      // is that rule; coalesce keeps a null-text doc keyed as "" (the
      // concat_ws(null-array) value the when/otherwise form produced)
      .select(col("__doc"), explode(
        graft.functions.DedupExprs.distinctTokenWindows(
          coalesce(col("__t"), array()), shingleSize, truncated = true))
        .as("__key"))
    val gate = BloomGate.build(keys(probe), "__key", mBitsPerBucket,
      kHashes, nBuckets)
    BloomGate.probe(gate,
        keys(corpus).select(
          struct(col("__doc"), col("__key")).as("__rk"), col("__key")),
        "__rk", "__key", mBitsPerBucket, kHashes, nBuckets)
      .groupBy(col("__rk.__doc").as(idCol))
      .agg(max(col("maybe_dup")).as("__s"))
      .filter(col("__s"))
      .select(col(idCol))
  }

  /** [[crossCorpusNearDups]] behind a [[BloomGate]] pre-filter — the
    * classic production arrangement for benchmark-overlap scans at
    * corpus scale: build the gate over the BENCHMARK's n-gram keys
    * (small), probe every corpus doc's shingles against it (a
    * projection + one broadcastable join — no pair forming), and run
    * the shingle/minhash/band machinery only over the suspects. On a
    * mostly-clean corpus the expensive side shrinks from |corpus| to
    * ~|contaminated| + the Bloom false-positive tail, while the result
    * is IDENTICAL to the ungated op (the gate never drops a doc that
    * shares a shingle — see [[bloomSuspects]]).
    *
    * The default `mBitsPerBucket` is 8× [[BloomGate.build]]'s: the key
    * universe here is benchmark shingles (∝ benchmark tokens), not
    * benchmark docs. */
  def decontaminateGated(corpus: DataFrame, probe: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      maxBucketSize: Int = 1000, mBitsPerBucket: Int = 1 << 17,
      kHashes: Int = 5, nBuckets: Int = 32): DataFrame = {
    val suspects = bloomSuspects(corpus, probe, idCol, textCol,
      shingleSize, mBitsPerBucket, kHashes, nBuckets)
    val gated = corpus.join(suspects, Seq(idCol), "left_semi")
    crossCorpusNearDups(gated, probe, idCol, textCol, shingleSize,
      numHashes, bands, threshold, maxBucketSize)
  }

  /** Token-level contamination SPANS: for each probe document, the
    * merged `[span_start, span_end)` token intervals covered by at
    * least one `n`-token window that also occurs anywhere in
    * `reference`. [[crossSplitLeakage]] says "this doc leaked",
    * [[ngramOverlap]] says "80% covered" — this says WHERE, which is
    * what surgical removal ([[removeSpans]]) needs: cutting the quoted
    * benchmark passage keeps the rest of an otherwise-fine document
    * instead of dropping it whole.
    *
    * Scale shape: the reference side reduces to distinct window hashes
    * (8-byte keys, boilerplate collapses); the probe side is one
    * positional-hash projection + posexplode, a semi join on the
    * uniform hash key keeps only HIT positions (sparse on a clean
    * corpus), and interval merging is a per-document window over those
    * hits — ordered by position, new span when the gap exceeds `n`
    * (fixed-length intervals, so adjacency is a lag test). Run it after
    * [[bloomSuspects]] gating on big corpora: pay per suspect, not per
    * corpus. Probe docs shorter than `n` tokens contribute their single
    * truncated window (the shingle kernel's position-0 rule), clamped
    * to the doc length. Output: (idCol, span_start, span_end,
    * n_windows) — token offsets into the whitespace token sequence. */
  def contaminationSpans(reference: DataFrame, probe: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    require(n > 0, s"window size must be positive, got $n")
    import graft.functions.DedupExprs
    val refHashes = reference
      .select(wsTokens(textCol).as("__t"))
      .filter(size(col("__t")) >= n)
      .select(explode(DedupExprs.shingleHashes(col("__t"), n)).as("__wh"))
      .distinct()
    val hits = probe
      .select(col(idCol), wsTokens(textCol).as("__t"))
      .filter(size(col("__t")) > 0)
      .select(col(idCol), size(col("__t")).as("__len"),
        posexplode(DedupExprs.positionalShingleHashes(col("__t"), n))
          .as(Seq("__pos", "__wh")))
      .join(refHashes, Seq("__wh"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
    hits
      .withColumn("__gap",
        when(col("__pos") - lag(col("__pos"), 1).over(w) > n, 1)
          .otherwise(0))
      .withColumn("__grp", sum(col("__gap")).over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("__pos")).cast("long").as("span_start"),
        least(max(col("__pos")) + n, max(col("__len"))).cast("long")
          .as("span_end"),
        count(lit(1)).as("n_windows"))
      .drop("__grp")
  }

  /** Cut token spans out of documents — the surgical half of
    * decontamination: every token whose position falls inside one of
    * the document's `spans` rows is removed and the survivors are
    * rejoined with single spaces (whitespace is normalized by
    * construction — positions are offsets into the whitespace token
    * sequence). Documents with no spans pass through with their text
    * UNTOUCHED (not even re-tokenized). Output: the input columns plus
    * `clean_text` and `n_removed` (tokens cut).
    *
    * Scale shape: spans aggregate to one small array per contaminated
    * doc (contamination is sparse by nature) and join back on the id;
    * the cut itself is a per-row projection. The span arrays ride a
    * hash join keyed on the doc id — no skew (one row per doc). */
  def removeSpans(df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val sp = spans.groupBy(col(idCol).as("__sid"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__spans"))
    val toks = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    val kept = filter(toks, (t, i) =>
      !exists(col("__spans"), s =>
        i >= s.getField("s") && i < s.getField("e")))
    df.join(sp, col(idCol) === col("__sid"), "left")
      .withColumn("clean_text",
        when(col("__spans").isNull, col(textCol))
          .otherwise(array_join(kept, " ")))
      .withColumn("n_removed",
        when(col("__spans").isNull, lit(0L))
          .otherwise((size(toks) - size(kept)).cast("long")))
      .drop("__sid", "__spans")
  }

  /** Corpus-wide boilerplate line removal (the line-level dedup step of
    * web-corpus pipelines: nav menus, cookie banners, footers repeated
    * across thousands of pages poison next-token prediction even when
    * every DOCUMENT is unique).
    *
    * Rule: a line whose trimmed form is at least `minLineChars` long and
    * occurs (trimmed-identical) in more than `maxOccurrences` lines
    * corpus-wide is dropped from every document; shorter lines are exempt
    * (too short to be meaningful boilerplate — dropping every blank line
    * would mangle formatting). Output: (id, clean_text, n_lines,
    * n_dropped) per document, line order preserved.
    *
    * Scale shape: one shuffle to count distinct trimmed lines (partial
    * aggregation collapses repeats map-side — boilerplate, by
    * definition, collapses hard), then the offender set `count >
    * maxOccurrences` is SMALL (only repeated boilerplate survives the
    * filter) and broadcast to an anti-filter on the exploded lines — the
    * full corpus is never shuffled by line content. Reassembly groups by
    * document id, the natural input partitioning. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      maxOccurrences: Int = 2, minLineChars: Int = 10): DataFrame = {
    require(maxOccurrences >= 1, s"maxOccurrences must be >= 1, got $maxOccurrences")
    require(minLineChars >= 0, s"minLineChars must be >= 0, got $minLineChars")
    // null text coalesces to one empty (exempt) line so the document
    // still emits a row instead of silently vanishing from the output
    val lines = df.select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("__pos", "__line")))
      .withColumn("__key", trim(col("__line")))
    val offenders = lines
      .filter(length(col("__key")) >= minLineChars)
      .groupBy(col("__key")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") > maxOccurrences)
      .select(col("__key").as("__bad"))
    val tagged = lines.join(
        broadcast(offenders),
        col("__key") === col("__bad") and
          length(col("__key")) >= minLineChars,
        "left")
      .withColumn("__drop", col("__bad").isNotNull)
    tagged.groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(!col("__drop"),
              struct(col("__pos"), col("__line"))))),
            x => x.getField("__line")),
          "\n").as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Incremental-ingest dedup: which rows of `batch` are genuinely new
    * against an already-ingested `corpus`, without shuffling the corpus.
    *
    * The 100 TB problem this solves: a daily delta is GBs, the corpus is
    * 100 TB — a plain anti-join shuffles both sides by text. Instead the
    * corpus is folded once into a Bloom filter over xxhash64(text)
    * (Spark's own sketch aggregate — partial filters merge on the
    * driver; `fpp` sizes the bits), and only the filter (MBs) leaves the
    * executors. Batch rows the filter has never seen are definitely new
    * (Bloom has no false negatives). The false-positive survivors — an
    * `fpp` fraction of the batch — are confirmed by one broadcast
    * semi-join of their hashes against the corpus scan (no corpus
    * shuffle; the scan prunes to hash+text columns) followed by an exact
    * text anti-join against those few corpus hits.
    *
    * Result is EXACTLY `batch` anti-join `corpus` on `textCol` (the
    * Bloom filter only prunes work, never changes the answer), so the
    * op oracle-checks against a plain `NOT IN` twin. */
  def incrementalNew(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, expectedItems: Long = 1000000L,
      fpp: Double = 0.03): DataFrame = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    import graft.functions.Exprs.toColumn
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val h = xxhash64(col(textCol))
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val bloomAgg = toColumn(new BloomFilterAggregate(
      org.apache.spark.sql.GraftSqlBridge.expression(h),
      org.apache.spark.sql.GraftSqlBridge.expression(lit(expectedItems)),
      org.apache.spark.sql.GraftSqlBridge.expression(lit(numBits)))
      .toAggregateExpression())
    val bloom: Array[Byte] = corpus.select(bloomAgg.as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = toColumn(new BloomFilterMightContain(
      org.apache.spark.sql.GraftSqlBridge.expression(lit(bloom)),
      org.apache.spark.sql.GraftSqlBridge.expression(h)))
    val definitelyNew = batch.filter(!coalesce(mightContain, lit(false)))
    val candidates = batch.filter(coalesce(mightContain, lit(false)))
    val hits = corpus
      .join(broadcast(candidates.select(h.as("__h")).distinct()),
        xxhash64(col(textCol)) === col("__h"), "left_semi")
      .select(col(textCol).as("__seen"))
    val confirmedNew = candidates
      .join(hits, col(textCol) === col("__seen"), "left_anti")
    definitelyNew.unionByName(confirmedNew)
  }

  /** Content-defined chunking: cut each document into variable-length
    * chunks whose boundaries are a pure function of the LOCAL token
    * content — a token position `p` ends a chunk when the md5-derived
    * hash of the `window`-token span ending at `p` is ≡ 0 (mod
    * `divisor`); the final position always closes the last chunk.
    * Because boundaries depend only on nearby tokens, inserting or
    * deleting text re-cuts ONLY the chunks it touches — every chunk
    * after the edit region re-aligns (the storage-dedup CDC property) —
    * where fixed-offset chunking shifts every subsequent chunk and
    * matches nothing.
    *
    * Complements [[duplicateWindows]] for cross-doc shared-content
    * detection at scale: sliding windows emit one key PER TOKEN
    * POSITION; CDC emits one key per ~`divisor` tokens (expected chunk
    * length), so the dedup shuffle carries ~divisor× fewer, longer
    * keys with the same shift-robustness. Boundary hashing is the
    * engine-portable md5 form (`conv(substr(md5(…),1,8),16,10)` —
    * DuckDB replays it as `('0x'||substr(md5(…),1,8))::BIGINT`), chunk
    * identity is `md5(chunk_text)`; chunk generation is linear per doc
    * (transform over positions + slice, no self-join, no UDF).
    *
    * Documents shorter than `window` tokens become one whole-doc chunk;
    * empty documents emit no rows. Returns one row per chunk:
    * (id, chunk_idx 1-based, chunk_hash, n_tokens, chunk_text). */
  def contentDefinedChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, divisor: Int = 16): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(divisor > 1, s"divisor must exceed 1, got $divisor")
    df.select(col(idCol).as("id"), wsTokens(textCol).as("__t"))
      .withColumn("__n", size(col("__t")))
      .filter(col("__n") > 0)
      // 1-based boundary positions via the md5-rolling loop kernel —
      // bit-identical to the SQL form `pmod(cast(conv(substring(
      // md5(concat_ws(' ', slice(__t, p-7, w))), 1, 8), 16, 10) as
      // bigint), divisor) = 0` the oracle replays, without the
      // interpreted per-position lambda (slice + join + hex + parse)
      .withColumn("__cand",
        graft.functions.DedupExprs.cdcBoundaries(col("__t"), window, divisor))
      .withColumn("__b", expr(
        "array_sort(array_distinct(concat(__cand, array(__n))))"))
      .select(col("id"), col("__t"),
        posexplode(expr(
          """transform(sequence(1, size(__b)), j -> named_struct(
            |  'start', CASE WHEN j = 1 THEN 1
            |           ELSE element_at(__b, j - 1) + 1 END,
            |  'end', element_at(__b, j)))""".stripMargin))
          .as(Seq("__j", "__c")))
      .withColumn("chunk_text", concat_ws(" ",
        slice(col("__t"), col("__c.start"),
          col("__c.end") - col("__c.start") + 1)))
      .select(col("id"), (col("__j") + 1).as("chunk_idx"),
        md5(col("chunk_text")).as("chunk_hash"),
        (col("__c.end") - col("__c.start") + 1).as("n_tokens"),
        col("chunk_text"))
  }

  /** Cross-document shared CDC chunks: [[contentDefinedChunks]] keyed
    * and counted — chunk hashes present in at least `minDocs` distinct
    * documents, the chunk-level analog of [[duplicateWindows]] with
    * ~divisor× fewer shuffle keys. A chunk repeated inside one doc
    * counts that doc once. */
  def sharedChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, divisor: Int = 16, minDocs: Int = 2): DataFrame = {
    require(minDocs > 1, s"minDocs must exceed 1, got $minDocs")
    contentDefinedChunks(df, idCol, textCol, window, divisor)
      .select(col("id"), col("chunk_hash"), col("n_tokens"))
      .dropDuplicates("id", "chunk_hash")
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_docs"), max(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs") >= minDocs)
  }

  /** [[sharedChunks]] at distinct-content cost: identical texts produce
    * identical chunk sets, so chunk each distinct text once
    * ([[collapseExact]]) and weight each chunk's doc count by the
    * family size — the output is ALGEBRAICALLY IDENTICAL to
    * [[sharedChunks]] on the raw frame, but the expensive per-token
    * rolling-hash boundary scan runs once per distinct text instead of
    * once per copy. On boilerplate-heavy corpora (the skew battery's
    * 40% identical documents; real crawls are worse) that is the
    * difference between chunking the corpus and chunking its content. */
  def sharedChunksCollapsed(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, divisor: Int = 16, minDocs: Int = 2): DataFrame = {
    require(minDocs > 1, s"minDocs must exceed 1, got $minDocs")
    val reps = collapseExact(df, idCol, textCol)
    contentDefinedChunks(reps.select(col(idCol), col(textCol)),
        idCol, textCol, window, divisor)
      .select(col("id"), col("chunk_hash"), col("n_tokens"))
      .dropDuplicates("id", "chunk_hash")
      .join(reps.select(col(idCol).as("id"), col("family_size")), Seq("id"))
      .groupBy(col("chunk_hash"))
      .agg(sum(col("family_size")).as("n_docs"),
        max(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs") >= minDocs)
  }

  /** [[duplicateWindows]] at distinct-content cost — same
    * weight-by-family-size identity as [[sharedChunksCollapsed]]:
    * window generation (the transform/slice explode, the dominant cost)
    * runs once per distinct text, and the window-key aggregation sums
    * family sizes instead of counting rows. Output identical to
    * [[duplicateWindows]] on the raw frame. */
  def duplicateWindowsCollapsed(df: DataFrame, idCol: String,
      textCol: String, n: Int, minDocs: Int = 2): DataFrame = {
    require(n > 0, s"window size must be positive, got $n")
    require(minDocs > 1, s"minDocs must exceed 1, got $minDocs")
    collapseExact(df, idCol, textCol)
      .select(col("family_size"), wsTokens(textCol).as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("family_size"), explode(
        graft.functions.DedupExprs.distinctTokenWindows(col("__t"), n))
        .as("window"))
      .groupBy(col("window"))
      .agg(sum(col("family_size")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Exact-duplicate collapse: one representative row per distinct
    * `textCol` value — (textCol, idCol = min id, family_size).
    *
    * This is the production FIRST stage in front of any pair-forming
    * near-dup search: real corpora carry heavy exact duplication
    * (mirrors, reposts, boilerplate), and every exact family of size f
    * would otherwise inflate the candidate space by f² inside each LSH
    * bucket — pair count grows QUADRATICALLY in copy count while the
    * collapse cost is one linear aggregation. Grouping on the content
    * itself (not a digest) makes the collapse collision-proof, and the
    * aggregate's map-side combine dedupes co-located copies before the
    * exchange, so the shuffle moves at most one copy of each distinct
    * text per input partition. Min-id representative keeps the output
    * deterministic under any partitioning. */
  def collapseExact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("family_size"))

  /** (id_a = representative, id_b = member) star edges for every
    * exact-duplicate family with more than one member. Union these with
    * a collapsed pair frame to recover FULL-CORPUS duplicate clusters at
    * collapsed cost: a raw near-dup edge between two exact copies is
    * exactly its representatives' edge (identical text → identical
    * shingles/signatures), so `(collapsed rep pairs) ∪ (family stars)`
    * has the same connected components as the raw pair graph — see the
    * OpsSpec equivalence property. One content-keyed window (no sort:
    * min over the partition), the same single shuffle [[collapseExact]]
    * pays. */
  def exactFamilyEdges(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col(textCol))
    df.select(col(textCol), col(idCol))
      .withColumn("id_a", min(col(idCol)).over(w))
      .filter(col(idCol) =!= col("id_a"))
      .select(col("id_a"), col(idCol).as("id_b"))
  }

  /** [[minHashLSH]] over the [[collapseExact]] representatives: the
    * scale path for near-dup detection on corpora with exact-duplicate
    * families. Near-dup pairs are found among DISTINCT texts only, so
    * candidate-pair cost is bound by unique-content volume rather than
    * raw row count (at 100 TB with 10-copy families that is a 100×
    * smaller pair space for one extra linear aggregation); each output
    * pair carries both families' sizes — the pair stands for
    * dups_a × dups_b underlying row pairs, and the exact families
    * themselves remain [[exactDuplicateGroups]]'s report.
    *
    * Output: (id_a, id_b, jaccard, dups_a, dups_b) with id_a < id_b,
    * jaccard ≥ `threshold`, ids = family representatives (min ids). On a
    * corpus with no exact duplicates this returns exactly
    * [[minHashLSH]]'s pairs with dups = 1. */
  def minHashLSHCollapsed(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    val reps = collapseExact(df, idCol, textCol)
    val sizes = reps.select(col(idCol), col("family_size"))
    // Direct, not the routed wrapper: reps are duplicate-free by
    // construction, so the wrapper's family window would be pure cost
    minHashLSHDirect(reps.select(col(idCol), col(textCol)), idCol, textCol,
        shingleSize, numHashes, bands, threshold, maxBucketSize)
      .join(sizes.select(col(idCol).as("id_a"),
        col("family_size").as("dups_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"),
        col("family_size").as("dups_b")), Seq("id_b"))
      .select("id_a", "id_b", "jaccard", "dups_a", "dups_b")
  }
}
