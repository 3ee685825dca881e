package graft
package battery

import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Pipeline ops: vector similarity search (exact, LSH, IVF, PQ/OPQ)
  * and embedding near-duplicate detection. */
object SimilarityQueries {
  import Battery._

  val all: Seq[BatteryQuery] = Seq(
    // ---- pipeline ops: similarity search ----
    BatteryQuery("q_ann_cosine",
      """SELECT query_id, neighbor_id, round(sim, 6) AS cosine,
        |  CAST(rn AS BIGINT) AS rank
        |FROM (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS rn
        |      FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |              list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[])
        |                / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))
        |                   * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])))
        |                AS sim
        |            FROM embeddings c, embeddings q
        |            WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id))
        |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    )((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      asLong(Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", "vec_id", 5)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank"), "rank")
    }),

    BatteryQuery("q_ann_lsh",
      """SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id, CAST(cosine AS DOUBLE) AS cosine, CAST(rank AS BIGINT) AS rank
        |FROM (VALUES
        |(0, 73, 0.295434, 5),
        |(0, 334, 0.362722, 2),
        |(0, 365, 0.369994, 1),
        |(0, 387, 0.331139, 3),
        |(0, 423, 0.296934, 4),
        |(1, 27, 0.348208, 2),
        |(1, 64, 0.316374, 5),
        |(1, 195, 0.322744, 4),
        |(1, 386, 0.371485, 1),
        |(1, 407, 0.32701, 3),
        |(2, 117, 0.318143, 1),
        |(2, 145, 0.263494, 3),
        |(2, 188, 0.263272, 4),
        |(2, 320, 0.255043, 5),
        |(2, 450, 0.266344, 2),
        |(3, 130, 0.399872, 1),
        |(3, 149, 0.329934, 2),
        |(3, 174, 0.303548, 4),
        |(3, 231, 0.298788, 5),
        |(3, 343, 0.308472, 3),
        |(4, 114, 0.398513, 1),
        |(4, 280, 0.279826, 5),
        |(4, 408, 0.322753, 3),
        |(4, 482, 0.313897, 4),
        |(4, 496, 0.341212, 2))
        |t(query_id, neighbor_id, cosine, rank)""".stripMargin
    )((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      asLong(Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", "vec_id", 5, bands = 16, planesPerBand = 3)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("query_id", "rank"), "rank")
    }),

    // the native vector kernels through the SQL surface: graft_dot /
    // graft_l2norm registered as SQL functions (GraftFunctions — same
    // builders the GraftExtensions route injects) and driven from plain
    // spark.sql text; the one-row q0 side broadcasts. Oracle replays
    // with DuckDB's list_dot_product over DOUBLE[] (identical fold
    // order: ascending index, double accumulation)
    BatteryQuery("q_sql_kernels",
      """SELECT e.vec_id,
        |  round(list_dot_product(e.emb, e.emb), 6) AS self_dot,
        |  round(sqrt(list_dot_product(e.emb, e.emb)), 6) AS norm,
        |  round(list_dot_product(e.emb, q.emb)
        |    / nullif(sqrt(list_dot_product(e.emb, e.emb))
        |             * sqrt(list_dot_product(q.emb, q.emb)), 0.0), 6)
        |    AS cos_q0
        |FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) e,
        |     (SELECT embedding::DOUBLE[] AS emb FROM embeddings
        |      WHERE vec_id = 0) q
        |WHERE e.vec_id < 20
        |ORDER BY e.vec_id""".stripMargin
    )((s, d) => {
      graft.functions.GraftFunctions.install(s)
      s.read.parquet(s"$d/embeddings.parquet")
        .createOrReplaceTempView("emb_sql_kernels")
      s.sql("""SELECT e.vec_id,
        |  round(graft_dot(e.embedding, e.embedding), 6) AS self_dot,
        |  round(graft_l2norm(e.embedding), 6) AS norm,
        |  round(graft_dot(e.embedding, q.embedding)
        |    / nullif(graft_l2norm(e.embedding) * graft_l2norm(q.embedding),
        |             0.0d), 6) AS cos_q0
        |FROM emb_sql_kernels e
        |CROSS JOIN (SELECT embedding FROM emb_sql_kernels
        |            WHERE vec_id = 0) q
        |WHERE e.vec_id < 20
        |ORDER BY e.vec_id""".stripMargin)
    }),

    // IVF in its design regime: planted near-twins (cos ≈ 0.97) must be
    // retrieved through centroid-cell probing. twin_found is fully
    // deterministic (hash-seeded centroids, decimal-summed means), so
    // the oracle pins it literally — a centroid/probe regression flips
    // booleans and fails the hash. This verify twin retrains IN-MEMORY
    // every pass by design (the persisted production path is
    // q_ann_ivfpq); trainSampleMod=4 applies the trainer's own
    // documented cap so the per-pass Lloyd rounds aggregate a 1/4
    // hash-sample instead of the full corpus — the 100 TB arrangement
    // (train on a slice, assign everything once)
    BatteryQuery("q_ann_ivf",
      // IVF gate: the planted twins are unambiguous nearest neighbors, so
      // retrieval through 4-of-16 cell probing must find all five
      """SELECT CAST(query_id AS BIGINT) AS query_id, twin_found
        |FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
        |  AS t(query_id, twin_found)
        |ORDER BY query_id""".stripMargin
    )((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val twins = emb.filter(col("vec_id") < 5).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      val queries = emb.filter(col("vec_id") < 5)
      val ivf = Similarity.ivfTopK(aug, queries, "vec_id", "embedding",
        "vec_id", k = 5, nCells = 16, nprobe = 4, trainSampleMod = 4)
      asLong(queries.select(col("vec_id").as("query_id"))
        .join(ivf.filter(col("neighbor_id") === col("query_id") + 100000)
          .select(col("query_id"), lit(true).as("twin_found")),
          Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("twin_found"), lit(false)).as("twin_found"))
        .orderBy("query_id"), "query_id")
    }),

    // persisted IVFADC index (IVF partition pruning × PQ scan
    // compression): planted twins must come back at rank 1 through the
    // cell-pruned, codes-only candidate scan + id-IN vector fetch. The
    // index is read-only after build (topK never mutates), so the
    // memoized build needs no working copy
    BatteryQuery("q_ann_ivfpq",
      // IVFADC gate: twins retrieved at rank 1 through the persisted
      // cell-pruned compressed path — deterministic booleans, pinned
      """SELECT CAST(query_id AS BIGINT) AS query_id, twin_first
        |FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
        |  AS t(query_id, twin_first)
        |ORDER BY query_id""".stripMargin
    )((s, d) => {
      val path = Battery.store(d, "ivfpq")
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val twins = emb.filter(col("vec_id") < 5).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      buildOnce(path) {
        ops.PqIndex.build(aug, "vec_id", "embedding", path, dim = 64,
          nCells = 16, m = 16, kCodes = 32, iters = 2) }
      val queries = emb.filter(col("vec_id") < 5)
      val res = ops.PqIndex.topK(s, path, queries, "vec_id", "embedding",
        "vec_id", k = 1, nprobe = 4, shortlist = 20)
      asLong(queries.select(col("vec_id").as("query_id"))
        .join(res.filter(col("neighbor_id") === col("query_id") + 100000
            && col("rank") === 1)
          .select(col("query_id"), lit(true).as("twin_first")),
          Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("twin_first"), lit(false)).as("twin_first"))
        .orderBy("query_id"), "query_id")
    }),

    // product quantization end-to-end (codebooks → m-byte codes → ADC
    // scan → exact re-rank): planted near-twins must come back at rank 1
    // through the compressed path. Codebook training is hash-seeded and
    // decimal-summed, so twin_found booleans are deterministic and the
    // oracle pins them literally — a codebook/ADC regression flips the
    // booleans and fails the hash (same contract as q_ann_ivf)
    BatteryQuery("q_ann_pq",
      // the compressed (8-byte-code) path must put each planted twin at
      // rank 1 — deterministic booleans, pinned literally
      """SELECT CAST(query_id AS BIGINT) AS query_id, twin_first
        |FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
        |  AS t(query_id, twin_first)
        |ORDER BY query_id""".stripMargin
    )((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val twins = emb.filter(col("vec_id") < 5).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      val queries = emb.filter(col("vec_id") < 5)
      val pq = ops.Pq.pqTopK(aug, queries, "vec_id", "embedding",
        "vec_id", k = 5, dim = 64, m = 8, kCodes = 16, shortlist = 20,
        iters = 2)
      asLong(queries.select(col("vec_id").as("query_id"))
        .join(pq.filter(col("neighbor_id") === col("query_id") + 100000
            && col("rank") === 1)
          .select(col("query_id"), lit(true).as("twin_first")),
          Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("twin_first"), lit(false)).as("twin_first"))
        .orderBy("query_id"), "query_id")
    }),

    // PQ codebook fitness receipt: 32x-compression reconstruction error
    // vs signal energy, plus per-subspace codeword usage — the dial a
    // 100 TB embedding store reads before committing to a codebook.
    // Deterministic training → golden-pinned literals
    BatteryQuery("q_pq_recon",
      // codebook training is hash-seeded + decimal-summed → bit-stable
      // recon report; golden-pinned (8x16 books on sf0.01: 57% of signal
      // energy quantized away — the documented worst case for uniform
      // random vectors; all 128 codewords in use)
      """SELECT CAST(500 AS BIGINT) AS rows,
        |  0.573641 AS mean_sq_err, 0.730931 AS max_sq_err,
        |  1.0 AS mean_norm_sq, CAST(128 AS BIGINT) AS used_codewords"""
        .stripMargin
    )((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val books = ops.Pq.trainCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, kCodes = 16, iters = 2)
      val usage = ops.Pq.encode(emb, "vec_id", "embedding", books)
        .select(posexplode(col("__codes")).as(Seq("s", "c")))
        .agg(countDistinct(col("s"), col("c")).as("used_codewords"))
      ops.Pq.reconstructionError(emb, "vec_id", "embedding", books)
        .crossJoin(usage)
        .select(col("rows"), round(col("mean_sq_err"), 6).as("mean_sq_err"),
          round(col("max_sq_err"), 6).as("max_sq_err"),
          round(col("mean_norm_sq"), 6).as("mean_norm_sq"),
          col("used_codewords"))
    }),

    // OPQ-lite receipt: on banded-energy vectors the variance-balancing
    // permutation must quantize strictly better than the contiguous
    // split — the golden pin locks the deterministic MSEs of both
    BatteryQuery("q_pq_opq",
      """SELECT 110.261844 AS mse_contiguous, 75.934478 AS mse_permuted,
        |  true AS improved""".stripMargin
    )((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val scaled = emb.select(col("vec_id"),
        expr("transform(embedding, (x, i) -> " +
          "cast(x * (1.0 + 3.0 * cast(i div 8 as double)) as double))")
          .as("v"))
      // training on the 1/4 hash-slice (the q_ann_ivf-documented 100 TB
      // arrangement — train on a sample, evaluate EVERYTHING): the twin
      // trains two codebook sets + the permutation, so the cap is what
      // keeps this verify row from dominating the sf1 battery
      def err(df: org.apache.spark.sql.DataFrame, name: String) =
        ops.Pq.reconstructionError(df, "vec_id", "v",
            ops.Pq.trainCodebooks(df, "vec_id", "v", 64, 8, 16, 2,
              trainSampleMod = 4))
          .select(round(col("mean_sq_err"), 6).as(name))
      // the two trainer chains are INDEPENDENT driver-coordinated job
      // sequences (contiguous codebooks; permutation -> permuted
      // codebooks) — overlap them from driver threads (guide §2.6) so
      // the second chain's jobs back-fill the first's single-task
      // trainer stages; each chain is deterministic on its own, so the
      // result is unchanged
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fContig = Future(err(scaled, "mse_contiguous"))
      val fPerm = Future {
        val perm = ops.Pq.trainPermutation(scaled, "vec_id", "v", 64, 8,
          trainSampleMod = 4)
        err(scaled.select(col("vec_id"),
          ops.Pq.permute(col("v"), perm).as("v")), "mse_permuted")
      }
      Await.result(fContig, Duration.Inf)
        .crossJoin(Await.result(fPerm, Duration.Inf))
        .select(col("mse_contiguous"), col("mse_permuted"),
          (col("mse_permuted") < col("mse_contiguous")).as("improved"))
    }),

    // full parametric OPQ rotation (PCA + eigenvalue allocation) on
    // CROSS-SUBSPACE correlated pairs (dim i mixed with dim i+32) —
    // the case both the permutation (equal per-coordinate variance)
    // and within-subspace k-means are blind to: golden MSE receipt
    // for contiguous vs permuted vs rotated
    BatteryQuery("q_pq_rotate",
      // golden (hash-seeded training + exact decimal moments + fixed
      // Jacobi sweeps → bit-stable across runs and layouts)
      """SELECT 30.701739 AS mse_contiguous, 29.090978 AS mse_permuted,
        |  20.145815 AS mse_rotated, true AS rotation_wins""".stripMargin
    )((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val mixed = emb.select(col("vec_id"), expr(
        "transform(embedding, (x, i) -> CASE WHEN i < 32 " +
          "THEN cast(5.5d * x + 4.5d * element_at(embedding, cast(i + 33 as int)) as double) " +
          "ELSE cast(4.5d * element_at(embedding, cast(i - 31 as int)) + 5.5d * x as double) END)")
        .as("v"))
      // all training on the 1/4 hash-slice (train-on-sample, evaluate
      // everything): this twin trains THREE codebook sets plus the
      // rotation's covariance moment pass, so the cap is what keeps it
      // from dominating the sf1 battery; reconstruction error is still
      // measured over the FULL corpus
      def err(df: org.apache.spark.sql.DataFrame, name: String) =
        ops.Pq.reconstructionError(df, "vec_id", "v",
            ops.Pq.trainCodebooks(df, "vec_id", "v", 64, 8, 16, 2,
              trainSampleMod = 4))
          .select(round(col("mean_sq_err"), 6).as(name))
      // three INDEPENDENT trainer chains (contiguous; permutation ->
      // permuted books; rotation -> rotated books), each a deterministic
      // sequence of driver-coordinated jobs — overlapped from driver
      // threads (guide §2.6) so one chain's jobs back-fill another's
      // single-task trainer stages; wall ~ the longest chain instead of
      // the sum of all three
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fContig = Future(err(mixed, "mse_contiguous"))
      val fPerm = Future {
        val perm = ops.Pq.trainPermutation(mixed, "vec_id", "v", 64, 8,
          trainSampleMod = 4)
        err(mixed.select(col("vec_id"),
          ops.Pq.permute(col("v"), perm).as("v")), "mse_permuted")
      }
      val fRot = Future {
        val rot = ops.Pq.trainRotation(mixed, "vec_id", "v", 64, 8,
          trainSampleMod = 4)
        err(mixed.select(col("vec_id"),
          ops.Pq.rotate(col("v"), rot).as("v")), "mse_rotated")
      }
      Await.result(fContig, Duration.Inf)
        .crossJoin(Await.result(fPerm, Duration.Inf))
        .crossJoin(Await.result(fRot, Duration.Inf))
        .select(col("mse_contiguous"), col("mse_permuted"),
          col("mse_rotated"),
          (col("mse_rotated") < col("mse_contiguous") &&
            col("mse_rotated") < col("mse_permuted")).as("rotation_wins"))
    }),

    BatteryQuery("q_embedding_neardup",
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(cosine AS DOUBLE) AS cosine
        |FROM (VALUES
        |(0, 100000, 0.969705),
        |(1, 100001, 0.969725),
        |(2, 100002, 0.970326),
        |(3, 100003, 0.969653),
        |(4, 100004, 0.969105),
        |(5, 100005, 0.968575),
        |(6, 100006, 0.970227),
        |(7, 100007, 0.969181),
        |(8, 100008, 0.969561),
        |(9, 100009, 0.970363),
        |(10, 100010, 0.968742),
        |(11, 100011, 0.969786),
        |(12, 100012, 0.9689),
        |(13, 100013, 0.970666),
        |(14, 100014, 0.968255),
        |(15, 100015, 0.974368),
        |(16, 100016, 0.97135),
        |(17, 100017, 0.974004),
        |(18, 100018, 0.971629),
        |(19, 100019, 0.969662),
        |(20, 100020, 0.972679),
        |(21, 100021, 0.971748),
        |(22, 100022, 0.969297),
        |(23, 100023, 0.968892),
        |(24, 100024, 0.969105),
        |(25, 100025, 0.974723),
        |(26, 100026, 0.970916),
        |(27, 100027, 0.968246),
        |(28, 100028, 0.969175),
        |(29, 100029, 0.96874),
        |(30, 100030, 0.968746),
        |(31, 100031, 0.970923),
        |(32, 100032, 0.972739),
        |(33, 100033, 0.97165),
        |(34, 100034, 0.969667),
        |(35, 100035, 0.969258),
        |(36, 100036, 0.969808),
        |(37, 100037, 0.970317),
        |(38, 100038, 0.969184),
        |(39, 100039, 0.969921),
        |(40, 100040, 0.972178),
        |(41, 100041, 0.970957),
        |(42, 100042, 0.968843),
        |(43, 100043, 0.969823),
        |(44, 100044, 0.968543),
        |(45, 100045, 0.97054),
        |(46, 100046, 0.971812),
        |(47, 100047, 0.970022),
        |(48, 100048, 0.970178),
        |(49, 100049, 0.970463))
        |t(id_a, id_b, cosine)""".stripMargin
    )((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      // the synthetic embeddings are near-uniform (max pairwise cosine
      // ≈ 0.6), so plant deterministic near-duplicate twins
      // (v + 0.25·rotate(v), cosine ≈ 0.97) and run the operator in its
      // design regime: high-threshold near-dup detection, where banded
      // LSH prunes candidates instead of degenerating to all-pairs
      val twins = emb.filter(col("vec_id") < 50).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val aug = emb.select(col("vec_id"), col("embedding")).unionByName(twins)
      // bands=16 is right AT THIS n (~10k at sf1): keying cost ∝ bands×p
      // dominates here, so the corpus-size lever (raise bands → fewer
      // random candidates; cosineNearDupPairs scaladoc) only pays when
      // n² collision volume overtakes keying — measured: bands=32 is
      // ~2 s SLOWER at sf1, identical found pairs
      Similarity.cosineNearDupPairs(aug, "vec_id", "embedding",
        threshold = 0.9, bands = 16) // planesPerBand auto-tunes to t=0.9
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    }),

    // collapse-first twin of q_embedding_neardup: the same planted
    // near-dup twins PLUS exact vector copies (vec_id < 25 at +200000)
    // that must collapse onto their min-id originals before banding —
    // pair set matches q_embedding_neardup's, dups_* carries family size
    BatteryQuery("q_embedding_neardup_collapsed",
      """SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(cosine AS DOUBLE) AS cosine, CAST(dups_a AS BIGINT) AS dups_a, CAST(dups_b AS BIGINT) AS dups_b
        |FROM (VALUES
        |(0, 100000, 0.969705, 2, 1),
        |(1, 100001, 0.969725, 2, 1),
        |(2, 100002, 0.970326, 2, 1),
        |(3, 100003, 0.969653, 2, 1),
        |(4, 100004, 0.969105, 2, 1),
        |(5, 100005, 0.968575, 2, 1),
        |(6, 100006, 0.970227, 2, 1),
        |(7, 100007, 0.969181, 2, 1),
        |(8, 100008, 0.969561, 2, 1),
        |(9, 100009, 0.970363, 2, 1),
        |(10, 100010, 0.968742, 2, 1),
        |(11, 100011, 0.969786, 2, 1),
        |(12, 100012, 0.9689, 2, 1),
        |(13, 100013, 0.970666, 2, 1),
        |(14, 100014, 0.968255, 2, 1),
        |(15, 100015, 0.974368, 2, 1),
        |(16, 100016, 0.97135, 2, 1),
        |(17, 100017, 0.974004, 2, 1),
        |(18, 100018, 0.971629, 2, 1),
        |(19, 100019, 0.969662, 2, 1),
        |(20, 100020, 0.972679, 2, 1),
        |(21, 100021, 0.971748, 2, 1),
        |(22, 100022, 0.969297, 2, 1),
        |(23, 100023, 0.968892, 2, 1),
        |(24, 100024, 0.969105, 2, 1),
        |(25, 100025, 0.974723, 1, 1),
        |(26, 100026, 0.970916, 1, 1),
        |(27, 100027, 0.968246, 1, 1),
        |(28, 100028, 0.969175, 1, 1),
        |(29, 100029, 0.96874, 1, 1),
        |(30, 100030, 0.968746, 1, 1),
        |(31, 100031, 0.970923, 1, 1),
        |(32, 100032, 0.972739, 1, 1),
        |(33, 100033, 0.97165, 1, 1),
        |(34, 100034, 0.969667, 1, 1),
        |(35, 100035, 0.969258, 1, 1),
        |(36, 100036, 0.969808, 1, 1),
        |(37, 100037, 0.970317, 1, 1),
        |(38, 100038, 0.969184, 1, 1),
        |(39, 100039, 0.969921, 1, 1),
        |(40, 100040, 0.972178, 1, 1),
        |(41, 100041, 0.970957, 1, 1),
        |(42, 100042, 0.968843, 1, 1),
        |(43, 100043, 0.969823, 1, 1),
        |(44, 100044, 0.968543, 1, 1),
        |(45, 100045, 0.97054, 1, 1),
        |(46, 100046, 0.971812, 1, 1),
        |(47, 100047, 0.970022, 1, 1),
        |(48, 100048, 0.970178, 1, 1),
        |(49, 100049, 0.970463, 1, 1)
        |) AS t(id_a, id_b, cosine, dups_a, dups_b)
        |ORDER BY id_a, id_b""".stripMargin
    )((s, d) => {
      val emb = s.read.parquet(s"$d/embeddings.parquet")
      val twins = emb.filter(col("vec_id") < 50).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 2, 63), " +
          "slice(embedding, 1, 1)), (a, b) -> a + cast(0.25 as float) * b)")
          .as("embedding"))
      val copies = emb.filter(col("vec_id") < 25)
        .select((col("vec_id") + 200000).as("vec_id"), col("embedding"))
      val aug = emb.select(col("vec_id"), col("embedding"))
        .unionByName(twins).unionByName(copies)
      Similarity.cosineNearDupPairsCollapsed(aug, "vec_id", "embedding",
        threshold = 0.9, bands = 16)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    })
  )
}
