package graft.ops

import graft.functions.VectorExprs
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k for a bounded query set (queries are
  * broadcast, corpus stays partitioned — linear scan, no corpus shuffle).
  * Scale path: BANDED sign-LSH — `bands` independent hyperplane sets of
  * `planesPerBand` planes each; a pair is a candidate when any band's
  * bucket matches. Key space = bands × 2^planesPerBand, and recall is
  * tuned like MinHash banding: more bands → higher recall, more planes
  * per band → higher precision. A single plane set (the round-1/2 design)
  * caps the key space at 2^p total buckets — an all-pairs join in
  * disguise at corpus scale; banding is what makes the shuffle keys
  * scale.
  *
  * All vector math runs through the native codegen'd kernels in
  * [[graft.functions.VectorExprs]] (tight `ArrayData` loops — Spark's
  * higher-order lambdas are CodegenFallback, interpreted at ~µs/element,
  * and the earlier per-dimension literal expansion generated O(dim)
  * expression nodes per use, unusable at real embedding widths). Plane
  * and centroid dots ([[VectorExprs.MatVecDots]]) are pure projections:
  * no explode, no aggregate, no join-back, no shuffle.
  */
object Similarity {

  /** Explain-style receipt for the collapse-routing decision the VECTOR
    * pair-formers share ([[cosineNearDupPairs]], [[semDedup]] ride the
    * same size gate + family map as the text family): one row with the
    * routing and pin decisions, the plan-statistics evidence, and the
    * exact-vector family map's shape — audit a 100 TB embedding dedup
    * BEFORE paying for it. The family digest hashes the raw float
    * arrays (identical canonicalization on both sides — see
    * `Dedup.familyKey`), so this is [[graft.ops.Dedup.describeRoute]]
    * applied to vector content; columns are identical. */
  def describeRoute(df: DataFrame, idCol: String, vecCol: String,
      maxFamily: Int = 1000,
      pinMinBytes: Long = PairPins.DefaultMinBytes): DataFrame =
    Dedup.describeRoute(df, idCol, vecCol, maxFamily, pinMinBytes)

  /** Cosine similarity between two float/double-array columns (native
    * codegen'd kernels — see [[graft.functions.VectorExprs]]). */
  def dot(x: Column, y: Column): Column = VectorExprs.dot(x, y)

  def norm(x: Column): Column = VectorExprs.l2norm(x)

  def cosine(a: Column, b: Column): Column = VectorExprs.cosine(a, b)

  // native array cast (codegen'd) — a transform() lambda would interpret
  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Brute-force cosine top-k: for each row of `queries` (small — it gets
    * broadcast), the `k` nearest corpus rows. One pass over the corpus,
    * TopK per query via window (Catalyst prunes with rank pushdown). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, k: Int): DataFrame = {
    // norms precomputed once per vector — not once per (query, corpus) pair
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
      .withColumn("__qn", VectorExprs.l2norm(col("__qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
      .withColumn("__cn", VectorExprs.l2norm(col("__cv")))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        VectorExprs.dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("__rn").as("rank"))
  }

  /** Contrastive hard-negative mining: per query, the `k` most similar
    * corpus rows BELOW the near-duplicate gate — similar enough to be
    * hard training negatives, excluded above `dupThreshold` because an
    * unlabeled near-duplicate used as a negative is a false negative
    * (it IS the query's content). Same broadcast-queries/linear-scan
    * shape as [[bruteForceTopK]] with the gate applied before the rank
    * window; at corpus scale swap the candidate stage for [[ivfTopK]] /
    * [[IvfIndex.topK]] with k' > k and apply the same gate+re-rank on
    * its output. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, k: Int,
      dupThreshold: Double = 0.9): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
      .withColumn("__qn", VectorExprs.l2norm(col("__qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"))
      .withColumn("__cn", VectorExprs.l2norm(col("__cv")))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        VectorExprs.dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .filter(col("cosine") < dupThreshold)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("__rn").as("rank"))
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1). */
  private def planeVal(seed: Int, plane: Int, d: Int): Double =
    scala.util.hashing.MurmurHash3.productHash((seed, plane, d))
      .toDouble / Int.MaxValue

  /** (id, __band, __bucket) rows — ids only, vectors are re-joined after
    * candidate dedup so the shuffle payload stays narrow.
    *
    * All bands×planes dots come from ONE [[VectorExprs.MatVecDots]]
    * projection (native loop over the plane matrix shipped as a
    * reference object) — a constant-size generated method at any
    * bands×planes, so no shuffle, no explode, no aggregate. Earlier
    * shapes both lost: per-plane literal expansion collapsed into an
    * expression tree that overflowed janino's 64 KB method limit and
    * fell back to interpreted eval (measured 40s+ at sf0.1), and the
    * posexplode + per-plane `sum` aggregate workaround paid a full
    * corpus shuffle keyed by id for what is semantically a per-row
    * projection. Bucket assembly and band explosion ride the projected
    * dots array — the operator's first exchange is now the candidate
    * join's own (band, bucket) shuffle. */
  /** (id, __buckets) — one bucket per band, as an array, straight off
    * the dots projection (shared by [[bandedKeys]] and the signature
    * columns in [[cosineNearDupPairs]], so neither needs a groupBy). */
  private def bandedBuckets(df: DataFrame, idName: String, vecName: String,
      bands: Int, planesPerBand: Int, dim: Int, seed: Int): DataFrame = {
    val nPlanes = bands * planesPerBand
    val planes = (0 until nPlanes).map(p =>
      (0 until dim).map(i => planeVal(seed, p, i)))
    // null / wrong-dim vectors produced no rows under the old explode
    // shape; the explicit filter keeps that contract. Bucket assembly is
    // native too (SignBuckets) — the when(element_at) column expansion
    // was bands×planes expression nodes, which overflowed janino's 64 KB
    // method limit at auto-tuned plane counts.
    df.filter(col(vecName).isNotNull && size(col(vecName)) === dim)
      .select(col(idName),
        VectorExprs.signBuckets(
          VectorExprs.matVecDots(asDouble(col(vecName)), planes),
          planesPerBand).as("__buckets"))
  }

  private[graft] def bandedKeys(df: DataFrame, idName: String, vecName: String,
      bands: Int, planesPerBand: Int, dim: Int, seed: Int): DataFrame =
    bandedBuckets(df, idName, vecName, bands, planesPerBand, dim, seed)
      .select(col(idName),
        posexplode(col("__buckets")).as(Seq("__band", "__bucket")))

  /** Keeps only (band, bucket) groups of size ≤ `maxBucketSize` (and, when
    * `dropSingletons`, > 1 — a singleton bucket can never produce a pair).
    * A bucket holding b rows yields O(b²) candidate pairs in a self-join —
    * at corpus scale one degenerate cluster (zero vectors, boilerplate
    * embeddings) turns the candidate join quadratic; dropping hot buckets
    * is the standard LSH guard (same cap as `Dedup.minHashLSH`). The count
    * rides a window over the SAME (band, bucket) shuffle the candidate
    * join needs, so the cap costs no extra pass over the keys. */
  private def capBuckets(keys: DataFrame, maxBucketSize: Int,
      dropSingletons: Boolean): DataFrame = {
    val w = Window.partitionBy(col("__band"), col("__bucket"))
    val lo = if (dropSingletons) 1 else 0
    keys.withColumn("__bc", count(lit(1)).over(w))
      .filter(col("__bc") > lo && col("__bc") <= maxBucketSize)
      .drop("__bc")
  }

  /** Banded-LSH approximate top-k: candidates = union over bands of
    * bucket matches (shuffle keyed on bands × 2^planesPerBand keys), then
    * exact cosine re-ranks the deduplicated candidates. Recall ≈
    * 1 − (1 − (1 − θ/π)^p)^L for angle θ. Corpus buckets larger than
    * `maxBucketSize` are dropped (hot-key guard — see [[capBuckets]]). */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, k: Int,
      bands: Int = 16, planesPerBand: Int = 3, dim: Int = 64,
      seed: Int = 42, maxBucketSize: Int = 10000): DataFrame = {
    val ck = capBuckets(
      bandedKeys(corpus.select(col(idCol).as("neighbor_id"), col(vecCol)),
        "neighbor_id", vecCol, bands, planesPerBand, dim, seed),
      maxBucketSize, dropSingletons = false)
    val qk = bandedKeys(queries.select(col(queryIdCol).as("query_id"), col(vecCol)),
      "query_id", vecCol, bands, planesPerBand, dim, seed)
    val cand = ck.join(qk, Seq("__band", "__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"))
      .withColumn("__cn", VectorExprs.l2norm(col("__cv")))
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
      .withColumn("__qn", VectorExprs.l2norm(col("__qv"))))
    exactRerank(cand, c, q, k)
  }

  /** Exact cosine re-rank of a narrow (query_id, neighbor_id) candidate
    * frame: broadcast-join the (small) query vectors, shuffle-join the
    * corpus vectors, native codegen'd dot, window top-k per query. */
  private[ops] def exactRerank(cand: DataFrame, corpusVecs: DataFrame,
      queryVecs: DataFrame, k: Int): DataFrame =
    rerankCarried(cand.join(corpusVecs, Seq("neighbor_id")), queryVecs, k)

  /** Score+top-k half of [[exactRerank]] for a candidate frame that
    * already carries the corpus vector and norm (`__cv`, `__cn`) — lets
    * a partition-pruned candidate scan ([[IvfIndex.topK]]) skip the
    * corpus-wide vector-fetch join entirely. */
  private[ops] def rerankCarried(cand: DataFrame,
      queryVecs: DataFrame, k: Int): DataFrame = {
    val scored = cand.join(queryVecs, Seq("query_id"))
      .withColumn("cosine",
        VectorExprs.dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("__rn").as("rank"))
  }

  // ---- IVF (inverted-file) ANN ----

  /** Deterministic k-means centroids for IVF cells.
    *
    * Seeds are the `k` corpus vectors with the smallest xxhash64(id) —
    * a reproducible uniform draw with no RNG state. Lloyd updates run
    * `iters` rounds fully distributed (assignment is a Spark aggregate,
    * see [[assignCells]]); only the k×dim centroid matrix ever reaches
    * the driver, which is what makes the collect admissible at any
    * corpus size (k is hundreds-to-thousands by design). Per-dimension
    * means sum in decimal so centroids are bit-identical across runs and
    * partition layouts — float means would wiggle with reduce order and
    * leak nondeterminism into every downstream cell assignment.
    *
    * `trainSampleMod > 1` trains on the deterministic 1/mod hash-sample
    * of the corpus (`pmod(xxhash64(id), mod) = 0`) — at 100 TB you fit
    * centroids on ~0.1% of rows and assign the full corpus once.
    *
    * Deliberate trade: the trainer is `1 + iters` sequential driver-
    * coordinated jobs (seed draw, then one assign+means aggregate per
    * Lloyd round), each paying the scheduling floor. A k-means||-style
    * oversampled single-pass init would roughly halve the job count,
    * but every job here is one aggregate over the (hash-sampled)
    * training slice — per-iteration cost is independent of corpus size,
    * so the floor is a fixed few seconds at ANY scale, and the simple
    * seeded form keeps centroid determinism trivially auditable. Not
    * worth the extra machinery until `iters` grows past a handful. */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3,
      trainSampleMod: Int = 1): Seq[Seq[Double]] = {
    val base = corpus.select(col(idCol).as("__id"),
      asDouble(col(vecCol)).as("__v"))
    val v = if (trainSampleMod <= 1) base
      else base.filter(pmod(xxhash64(col("__id")), lit(trainSampleMod)) === 0)
    var cents: Seq[Seq[Double]] = v
      .orderBy(xxhash64(col("__id")), col("__id")).limit(k)
      .select(col("__v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    for (_ <- 0 until iters) {
      // the cell rides the SAME projection as the vector — the previous
      // `assignCells(v).join(v, "__id")` paid a shuffle/broadcast join
      // and a second scan of the training slice per Lloyd round just to
      // re-attach __v to its own row's cell (guide §2.4: remove the
      // join, there is no second table). Cell values are the identical
      // expression, so the decimal means are bit-identical.
      val means = withCells(v, cents)
        .select(col("__cell"), posexplode(col("__v")).as(Seq("__p", "__x")))
        .groupBy(col("__cell"), col("__p"))
        .agg((sum(col("__x").cast("decimal(30,12)")) / count(lit(1)))
          .cast("double").as("__m"))
        .groupBy(col("__cell"))
        .agg(sort_array(collect_list(struct(col("__p"), col("__m"))))
          .as("__pm"))
        .select(col("__cell"), col("__pm.__m").as("__mean"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
      // an emptied cell keeps its previous centroid (standard Lloyd fix)
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
    }
    cents
  }

  /** Nearest-centroid cell per row as a pure projection: ONE
    * [[VectorExprs.MatVecDots]] against the centroid matrix (shipped as
    * a reference object — constant-size generated code at any k), then
    * argmin via a `least` over (dist², cell) structs. dist² = |c|² −
    * 2·v·c (+|v|², constant per row, dropped). No explode, no aggregate,
    * no shuffle — the earlier posexplode + per-centroid `sum` shape paid
    * a corpus-wide exchange keyed by id for a per-row computation. */
  def assignCells(vecs: DataFrame, idName: String,
      cents: Seq[Seq[Double]]): DataFrame = {
    val dotCols = cents.indices.map(i =>
      element_at(col("__dots"), i + 1).as(s"__dot$i"))
    val withDots = vecs.filter(col("__v").isNotNull)
      .select(col(idName),
        VectorExprs.matVecDots(col("__v"), cents).as("__dots"))
      .select(col(idName) +: dotCols: _*)
    // least() requires two arguments — a degenerate single-cell
    // clustering assigns everything to cell 0 directly
    val cell = if (cents.size == 1) lit(0)
      else least(cellDists(cents): _*).getField("cell")
    withDots.select(col(idName), cell.as("__cell"))
  }

  /** [[assignCells]] with the vector kept on the row — (__id, __v,
    * __cell) in ONE projection chain, for consumers that need both (the
    * Lloyd means pass), so no join is needed to re-attach __v. The cell
    * is the identical expression as [[assignCells]]'s. */
  private def withCells(vecs: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame = {
    val dotCols = cents.indices.map(i =>
      element_at(col("__dots"), i + 1).as(s"__dot$i"))
    val withDots = vecs.filter(col("__v").isNotNull)
      .select(col("__id"), col("__v"),
        VectorExprs.matVecDots(col("__v"), cents).as("__dots"))
      .select(Seq(col("__id"), col("__v")) ++ dotCols: _*)
    val cell = if (cents.size == 1) lit(0)
      else least(cellDists(cents): _*).getField("cell")
    withDots.select(col("__id"), col("__v"), cell.as("__cell"))
  }

  /** (query_id, __cell) rows: each query's `nprobe` nearest cells via a
    * sorted (dist, cell) struct array. Same projection shape as
    * [[assignCells]]. */
  private[ops] def probeCells(queries: DataFrame, queryIdCol: String,
      vecCol: String, cents: Seq[Seq[Double]], nprobe: Int): DataFrame = {
    val dotCols = cents.indices.map(i =>
      element_at(col("__dots"), i + 1).as(s"__dot$i"))
    queries.filter(col(vecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        VectorExprs.matVecDots(asDouble(col(vecCol)), cents).as("__dots"))
      .select(col("query_id") +: dotCols: _*)
      .select(col("query_id"),
        explode(slice(array_sort(array(cellDists(cents): _*)), 1, nprobe))
          .as("__probe"))
      .select(col("query_id"), col("__probe.cell").as("__cell"))
  }

  /** (dist²-proxy, cell) structs over the `__dot$i` aggregate columns;
    * struct comparison breaks distance ties by the lower cell id. */
  private def cellDists(cents: Seq[Seq[Double]]): Seq[Column] =
    cents.zipWithIndex.map { case (c, i) =>
      struct((lit(c.map(x => x * x).sum) - lit(2.0) * col(s"__dot$i"))
        .as("d"), lit(i).as("cell"))
    }

  /** IVF approximate top-k: the corpus is partitioned into `nCells`
    * centroid cells once; each query probes its `nprobe` nearest cells
    * and re-ranks exactly inside them. Complements [[lshTopK]]: IVF
    * adapts to the data's cluster structure (LSH planes are oblivious),
    * probes a tunable corpus fraction ≈ nprobe/nCells, and its index is
    * ONE extra integer column — at 100 TB the cell assignment is written
    * next to the embeddings and the probe join is a plain equi-join on
    * the cell id (partition-prunable when the corpus is stored
    * partitioned by cell, which is the intended layout).
    *
    * Determinism: centroids are deterministic ([[trainCentroids]]), so
    * cells, probes, and the final ranking are reproducible end to end. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, k: Int,
      nCells: Int = 16, nprobe: Int = 4, iters: Int = 3,
      trainSampleMod: Int = 1): DataFrame = {
    val cents = trainCentroids(corpus, idCol, vecCol, nCells, iters,
      trainSampleMod)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"))
      .withColumn("__cn", VectorExprs.l2norm(col("__cv")))
    val cCells = assignCells(
      corpus.select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__v")),
      "__id", cents)
      .select(col("__id").as("neighbor_id"), col("__cell"))
    val cand = broadcast(probeCells(queries, queryIdCol, vecCol, cents,
      nprobe)).join(cCells, Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
      .withColumn("__qn", VectorExprs.l2norm(col("__qv"))))
    exactRerank(cand, c, q, k)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, candidates
    * from banded LSH buckets (the embedding analog of Dedup.minHashLSH).
    *
    * `planesPerBand = 0` (the default) auto-tunes to the threshold: the
    * largest p that keeps ≥ 95% expected recall for a pair AT the
    * threshold angle — per-plane agreement s = 1 − acos(t)/π, require
    * s^p ≥ 1 − 0.05^(1/bands); degenerate band counts can compute p = 0,
    * clamped up to 1 (the recall bound still holds — fewer planes only
    * raises per-band agreement). Larger p ⇒ exponentially fewer random
    * collisions (candidate pairs), so always take the largest p recall
    * permits: at t=0.9 that's p=11 (random-pair collision ≈ 0.5^11 per
    * band) where a fixed p=8 let ~7% of ALL pairs through as candidates
    * — the verify stage, not the keying, is what burns time at scale.
    *
    * The corpus-size lever is `bands`, not `planesPerBand`: random
    * collisions grow ∝ n²·0.5^p per band, and RAISING bands loosens
    * the per-band recall target (1 − 0.05^(1/bands) shrinks), which
    * auto-tunes p UP — doubling bands 16 → 32 at t=0.9 moves p 11 → 15,
    * ~8× fewer random candidates for ~2.7× keying cost. The trade only
    * pays once n²·0.5^p collision volume overtakes the (linear,
    * codegen'd) keying — measured at sf1 (n ≈ 10⁴) bands=32 is slightly
    * SLOWER because keying still dominates; at n ≥ 10⁶ the n² term
    * owns the wall-clock and each 10× corpus growth wants a few more
    * bands. Recall at the threshold stays ≥ 95% by construction at any
    * bands.
    *
    * Buckets larger than `maxBucketSize` are dropped before the self-join
    * (see [[capBuckets]]) — without the cap a single degenerate embedding
    * cluster makes the candidate join quadratic at corpus scale.
    *
    * Returns the LAZY plan: no persist, no checkpoint. The bucketed key
    * frame feeds both sides of the self-join as an identical subtree, so
    * Spark's exchange reuse executes its shuffle once; a persisted or
    * locally-checkpointed return would pin executor blocks with no
    * release path (and a local checkpoint is non-resilient — an executor
    * loss on a real cluster would fail the job instead of recomputing). */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.4, bands: Int = 16, planesPerBand: Int = 0,
      dim: Int = 64, seed: Int = 42, maxBucketSize: Int = 1000,
      pinMinBytes: Long = PairPins.DefaultMinBytes): DataFrame = {
    // COLLAPSE-ROUTED like Dedup.minHashLSH (round 15): an identical-
    // vector family of size f (re-encoded mirrors, boilerplate hitting
    // one embedding) inflates EVERY band bucket it lands in by f²
    // candidate pairs, each paying the signature gate and a dim-wide
    // dot for a result the collapse already knows. Pairs are searched
    // among distinct vectors, then expanded — identical vectors have
    // identical band buckets and cosine, so inter-family pairs inherit
    // the verified cosine exactly and intra-family pairs are 1.0 by
    // construction (the raw value rounds to the same at any precision
    // the caller keeps). Measured at the 100-copy-family sf10 slice:
    // 67.0 s unrouted → see SCALING.md. Families above `maxBucketSize`
    // expand to their representative only (the quadratic-output guard).
    // On an all-distinct corpus this plans to the direct path plus one
    // vector-keyed window. The SAME size gate as the pins picks the
    // path (Dedup.minHashLSH's contract): small corpora run direct and
    // unpinned, large ones routed and pinned.
    val (routed, pinPar) = PairPins.routeAndPin(df, pinMinBytes, vecCol)
    if (routed == 0)
      return cosineNearDupPairsDirect(df, idCol, vecCol, threshold, bands,
        planesPerBand, dim, seed, maxBucketSize, pinMinBytes = Long.MaxValue)
    val (reps, members) = Dedup.familyRoute(df, idCol, vecCol, maxBucketSize,
      pinPar = pinPar)
    val repPairs = cosineNearDupPairsDirect(reps, idCol, vecCol, threshold,
      bands, planesPerBand, dim, seed, maxBucketSize,
      pinMinBytes = if (pinPar > 0) 0L else Long.MaxValue)
    Dedup.expandFamilyPairs(repPairs, members, "cosine", lit(1.0),
      keepIntra = threshold <= 1.0)
  }

  /** The unrouted banded pair search — pairs among the input rows as
    * given. [[cosineNearDupPairs]] routes through this on exact-vector-
    * collapsed representatives; call it directly only on a frame already
    * known duplicate-free (the collapsed twin does). */
  private[graft] def cosineNearDupPairsDirect(df: DataFrame, idCol: String,
      vecCol: String,
      threshold: Double = 0.4, bands: Int = 16, planesPerBand: Int = 0,
      dim: Int = 64, seed: Int = 42, maxBucketSize: Int = 1000,
      pinMinBytes: Long = PairPins.DefaultMinBytes): DataFrame = {
    val p =
      if (planesPerBand > 0) planesPerBand
      else {
        val s = 1.0 - math.acos(math.min(threshold, 0.999)) / math.Pi
        val target = 1.0 - math.pow(0.05, 1.0 / bands)
        math.max(1, math.min(24, (math.log(target) / math.log(s)).toInt))
      }
    val fronted = bandedBuckets(df.select(col(idCol).as("id"), col(vecCol)),
      "id", vecCol, bands, p, dim, seed)
    val rawKeys = fronted.select(col("id"),
      posexplode(col("__buckets")).as(Seq("__band", "__bucket")))
    val keyed = capBuckets(rawKeys, maxBucketSize, dropSingletons = true)
    // ADAPTIVE parallelism pins ([[PairPins]]) — the round-15 A/B on the
    // identical corpus measured BOTH failure modes: unconditional pins
    // were 2–3x slower at sf0.1/sf1 (0.90 s → 2.76 s, fixed exchange
    // cost), and NO pins melted down on the candidate-dense sf10 slice
    // (65.3 s pinned → 354 s unpinned — AQE packed the b²-pair
    // generation and the gate/verify joins into a handful of reducers).
    // So the pin engages only above the input-size gate, exactly like
    // the text family.
    val pairPar = PairPins.pairPar(df, pinMinBytes)
    val spreadKeys = PairPins.spread(keyed, pairPar,
      col("__band"), col("__bucket"))
    val cand = PairPins.spread(
      spreadKeys
        .join(spreadKeys.select(col("id").as("id_b"), col("__band"),
          col("__bucket")), Seq("__band", "__bucket"))
        .filter(col("id") < col("id_b"))
        .select(col("id").as("id_a"), col("id_b")),
      pairPar, col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Signature-agreement pre-gate (the DedupIndex estimate-then-verify
    // trick, on bits this operator already computed): per candidate
    // pair, the fraction of the bands × p sign bits the two vectors
    // agree on estimates per-plane agreement s = 1 − θ/π, unbiased with
    // σ = sqrt(s(1−s)/nbits). Random-collision candidates sit far below
    // a THRESHOLD pair's expected agreement (s≈0.67 vs 0.86 at t=0.9
    // with 176 bits, ~5σ apart), so gating at s(t) − 3σ kills the junk
    // before the dim-wide exact join — measured, this is where the
    // operator's wall-clock lived (2.2M candidates for 90k true pairs
    // at sf1). A true pair clears the gate w.p. ≈ Φ(3) ≈ 99.9%; the
    // residual miss folds into the 5% LSH candidate-recall budget.
    // The signature rides as ONE bucket-array column straight off the
    // projection — no groupBy re-aggregation (a capped band still
    // carries information), and no per-band element_at fan-out: the
    // expanded columns made constraint inference re-derive null checks
    // that re-evaluated the whole plane-dots kernel once per band in
    // pushed-down filters. Agreement is one native popcount kernel
    // ([[graft.functions.VectorExprs.BitAgreement]]).
    val sAtT = 1.0 - math.acos(math.min(threshold, 0.999)) / math.Pi
    val nbits = (bands * p).toDouble
    val gate = sAtT - 3.0 * math.sqrt(sAtT * (1 - sAtT) / nbits)
    val gated = PairPins.spread(
      PairPins.spread(cand, pairPar, col("id_a"))
        .join(fronted.select(col("id").as("id_a"),
          col("__buckets").as("__sa")), "id_a"),
      pairPar, col("id_b"))
      .join(fronted.select(col("id").as("id_b"),
        col("__buckets").as("__sb")), "id_b")
      .filter(VectorExprs.bitAgreement(col("__sa"), col("__sb"), p) >=
        lit(gate * nbits))
      .select("id_a", "id_b")
    cosineVerify(df, idCol, vecCol, gated, pairPar)
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** [[cosineNearDupPairs]] over exact-vector-collapsed representatives:
    * the scale path when the corpus carries identical embeddings
    * (re-encoded mirrors, empty/boilerplate content hitting one
    * embedding, dedup-worthy reposts). An identical-vector family of
    * size f contributes f²/2 candidate pairs to EVERY band bucket it
    * lands in — collapsing first (groupBy on the vector itself: exact,
    * collision-proof, map-side combined) makes pair cost ∝ distinct
    * vectors for one linear aggregation. Min-id representatives; each
    * pair carries both family sizes (the pair stands for dups_a × dups_b
    * underlying row pairs). On a corpus with all-distinct vectors this
    * is [[cosineNearDupPairs]] with dups = 1.
    *
    * Output: (id_a, id_b, cosine, dups_a, dups_b), id_a < id_b,
    * cosine ≥ `threshold`. */
  def cosineNearDupPairsCollapsed(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double = 0.4, bands: Int = 16,
      planesPerBand: Int = 0, dim: Int = 64, seed: Int = 42,
      maxBucketSize: Int = 1000): DataFrame = {
    val reps = df.groupBy(col(vecCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("family_size"))
    val sizes = reps.select(col(idCol), col("family_size"))
    // Direct, not the routed wrapper: reps are duplicate-free by
    // construction, so the wrapper's family window would be pure cost
    cosineNearDupPairsDirect(reps.select(col(idCol), col(vecCol)), idCol,
        vecCol, threshold, bands, planesPerBand, dim, seed, maxBucketSize)
      .join(sizes.select(col(idCol).as("id_a"),
        col("family_size").as("dups_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"),
        col("family_size").as("dups_b")), Seq("id_b"))
      .select("id_a", "id_b", "cosine", "dups_a", "dups_b")
  }

  /** Exact cosine for a narrow (id_a, id_b) candidate frame: two
    * equi-joins attach each side's vector + precomputed norm, then ONE
    * native dot ([[VectorExprs.DotProduct]]) per candidate. Only
    * candidate rows ever carry a vector across a shuffle. The previous
    * explode → (id, dim-position) equi-join → aggregate shape existed
    * because a literal-expanded dot riding a join condition blew the
    * join out of whole-stage codegen (measured 45 s of a 55 s sf1 run);
    * with the kernel the dot is one static call, codegen'd wherever
    * Catalyst places it, and the corpus-wide exploded-row shuffle and
    * the per-pair aggregation are gone. The kernel's ascending-index
    * fold also makes the dot deterministic — the grouped sum's merge
    * order was partition-dependent. Returns (id_a, id_b, cosine),
    * unfiltered. */
  private[ops] def cosineVerify(df: DataFrame, idCol: String,
      vecCol: String, cand: DataFrame, pairPar: Int = 0): DataFrame = {
    val vecs = df.select(col(idCol).as("__vid"),
        asDouble(col(vecCol)).as("__vv"))
      .withColumn("__nrm", VectorExprs.l2norm(col("__vv")))
    // adaptive parallelism pins, inherited from the caller's input-size
    // decision ([[PairPins]]; 0 = off): candidate rows are byte-small
    // until the vectors attach, and on candidate-dense corpora AQE's
    // byte-based sizing under-parallelized the dot-product stage (the
    // round-15 sf10 A/B: 65 s pinned vs 354 s unpinned), while below
    // the gate the pins' fixed exchange cost dominated (2–3x at sf0.1)
    PairPins.spread(
      PairPins.spread(cand, pairPar, col("id_a"))
        .join(vecs.select(col("__vid").as("id_a"), col("__vv").as("__va"),
          col("__nrm").as("__na")), Seq("id_a")),
      pairPar, col("id_b"))
      .join(vecs.select(col("__vid").as("id_b"), col("__vv").as("__vb"),
        col("__nrm").as("__nb")), Seq("id_b"))
      .withColumn("cosine",
        VectorExprs.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv
    * 2303.09540): cluster the embeddings into `nCells` k-means cells
    * (the SAME deterministic trainer IVF uses — one clustering can serve
    * both ANN and dedup), generate candidate pairs ONLY within a cell,
    * verify exact cosine, and drop every doc that has a smaller-id
    * in-cell neighbor with cosine ≥ `threshold` (the deterministic
    * greedy "keep the first representative" policy; a chain a–b–c drops
    * both b and c even when cos(a,c) < t, which is the paper's
    * one-per-epsilon-cluster behavior under min-id representatives).
    *
    * Complements [[cosineNearDupPairs]] (banded LSH): LSH candidates are
    * data-oblivious hyperplane buckets tuned to a HIGH threshold;
    * k-means cells adapt to the corpus's own cluster structure, which is
    * what semantic (topic-level, t ≈ 0.7) dedup needs. Within-cell
    * pairing is O(cell²) BY CONTRACT — at 100 TB you raise `nCells` so
    * mean cell size stays bounded (the paper runs 50k clusters for
    * LAION), train on a hash-sample (`trainSampleMod`), and the cap
    * below guards the degenerate tail.
    *
    * Cells larger than `maxCellSize` skip pair generation; their rows
    * return `cell_capped = true` and `kept = true` (no silent caps — the
    * cap is visible per row, and exact copies inside a capped cell are
    * still [[Dedup.exactDuplicates]]'s job).
    *
    * Returns one row per input doc — a HARD contract that holds on BOTH
    * execution branches (the routed/direct choice below rides a plan-
    * statistics size gate, so the same logical corpus can flip branches
    * across file layouts; only performance may depend on the gate, never
    * output cardinality — r15 ADVICE). Rows whose vector is null carry
    * no semantic content to dedup and are reported kept with a null
    * cell (cell_capped false, dup_of null) on both branches.
    *
    * Output: (id, cell, cell_capped, kept, dup_of) — `dup_of` is the
    * smallest in-cell neighbor above threshold (null when kept). */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.7, nCells: Int = 16, iters: Int = 3,
      trainSampleMod: Int = 1,
      maxCellSize: Int = 10000,
      pinMinBytes: Long = PairPins.DefaultMinBytes): DataFrame = {
    // COLLAPSE-ROUTED above the size gate (the pair-former contract —
    // [[cosineNearDupPairs]]): identical vectors land in the same cell
    // with cosine 1.0 ≥ any threshold ≤ 1, so an exact family's
    // verdicts are fully determined by its representative's — run the
    // whole operator on distinct vectors only, then propagate. A
    // non-rep member is never kept (its rep is a smaller-id neighbor at
    // cosine 1.0): kept = false, dup_of = the rep's own dup_of when the
    // rep itself was dropped (the greedy min-id chain's true minimum)
    // else the rep. Cell sizes/caps are measured over DISTINCT vectors
    // — the deviation class the routed pair-formers document. Training
    // sees one vector per family either way (identical copies cannot
    // move a centroid's direction, only its weight). Null-vector rows
    // never enter the family map (familyRoute filters them), so they
    // are unioned back here exactly as the direct branch reports them
    // — the one-row-per-input contract cannot depend on the gate.
    // threshold > 1.0 keeps everything — no routing, and no gate job
    val (routed, pinPar) =
      if (threshold > 1.0) (0, 0)
      else PairPins.routeAndPin(df, pinMinBytes, vecCol)
    if (routed > 0) {
      val (reps, members) =
        Dedup.familyRoute(df, idCol, vecCol, Int.MaxValue,
          checkpointMembers = false, // consumed once: the join below
          pinPar = pinPar)
      val repOut = semDedupDirect(reps, idCol, vecCol, threshold, nCells,
        iters, trainSampleMod, maxCellSize)
      return members
        .join(repOut.withColumnRenamed("id", "__rep"), Seq("__rep"))
        .select(col("__m").as("id"), col("cell"), col("cell_capped"),
          (col("__m") === col("__rep") && col("kept")).as("kept"),
          when(col("__m") === col("__rep"), col("dup_of"))
            .otherwise(coalesce(col("dup_of"), col("__rep"))).as("dup_of"))
        .unionByName(nullVecVerdicts(df, idCol, vecCol))
    }
    semDedupDirect(df, idCol, vecCol, threshold, nCells, iters,
      trainSampleMod, maxCellSize)
  }

  /** The null-vector rows of a semDedup input, with the fixed verdict
    * both branches report: kept, no cell, never capped, no dup. */
  private def nullVecVerdicts(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.filter(col(vecCol).isNull)
      .select(col(idCol).as("id"),
        lit(null).cast("int").as("cell"),
        lit(false).as("cell_capped"),
        lit(true).as("kept"),
        lit(null).cast(df.schema(idCol).dataType).as("dup_of"))

  /** The unrouted cell-scoped dedup — verdicts over the input rows as
    * given; [[semDedup]] routes through this on distinct vectors. */
  private[graft] def semDedupDirect(df: DataFrame, idCol: String,
      vecCol: String,
      threshold: Double = 0.7, nCells: Int = 16, iters: Int = 3,
      trainSampleMod: Int = 1,
      maxCellSize: Int = 10000): DataFrame = {
    val cents = trainCentroids(df, idCol, vecCol, nCells, iters,
      trainSampleMod)
    val cells = assignCells(
      df.select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__v")),
      "__id", cents)
    // cell-size audit rides a window over the cells frame's own exchange
    val w = Window.partitionBy(col("__cell"))
    val sized = cells.withColumn("__cc", count(lit(1)).over(w))
    val inPlay = sized.filter(col("__cc") <= maxCellSize)
    val cand = inPlay.select(col("__id").as("id_a"), col("__cell"))
      .join(inPlay.select(col("__id").as("id_b"), col("__cell")),
        Seq("__cell"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // verify inherits the adaptive pin decision from the corpus size
    // (same contract as cosineNearDupPairs — see [[PairPins]])
    val dropped = cosineVerify(df, idCol, vecCol, cand,
      PairPins.pairPar(df, PairPins.DefaultMinBytes))
      .filter(col("cosine") >= threshold)
      .groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("dup_of"))
    sized.select(col("__id").as("id"), col("__cell").as("cell"),
        (col("__cc") > maxCellSize).as("cell_capped"))
      .join(dropped, Seq("id"), "left")
      .withColumn("kept", col("dup_of").isNull)
      .select("id", "cell", "cell_capped", "kept", "dup_of")
      // assignCells projects null vectors away (no centroid distance to
      // compute); the one-row-per-input contract restores them here
      .unionByName(nullVecVerdicts(df, idCol, vecCol))
  }
}
