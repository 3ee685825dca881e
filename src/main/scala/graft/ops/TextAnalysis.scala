package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Text analysis operators for corpus curation: language identification,
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions (whole-stage codegen, no UDFs) so they run at scan
  * speed over 100 TB.
  */
object TextAnalysis {

  /** Stopword profiles for the n-gram/stopword language heuristic. */
  private val profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "you", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "ich", "zu", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "un", "une", "je", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "un", "una", "que", "en"))

  private def tokens(textCol: Column): Column = split(lower(textCol), "\\s+")

  /** Predicted language = argmax of stopword hits; 'und' (undetermined)
    * when nothing matches. */
  def langId(textCol: Column): Column = {
    val sorted = profiles.toSeq.sortBy(_._1)
    val scores = sorted.map { case (lang, words) =>
      struct(size(array_intersect(array_distinct(tokens(textCol)),
        typedlit(words))).as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scores: _*) // struct compare: score first, then lang
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Quality features + a composite score in [0, 1]:
    * length, token count, mean token length, punctuation ratio, stopword
    * ratio, digit ratio. The score mirrors common corpus-quality
    * heuristics (length bounds, low punctuation/digit noise, healthy
    * stopword density). */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val en = typedlit(profiles("en"))
    df.withColumn("n_chars_m", length(t))
      .withColumn("n_tokens", size(toks))
      .withColumn("mean_token_len",
        length(regexp_replace(t, "\\s+", "")).cast("double") / size(toks))
      .withColumn("punct_ratio",
        (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("double")
          / length(t))
      .withColumn("digit_ratio",
        (length(t) - length(regexp_replace(t, "[0-9]", ""))).cast("double")
          / length(t))
      .withColumn("stopword_ratio",
        size(array_intersect(array_distinct(toks), en)).cast("double")
          / size(array_distinct(toks)))
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens").cast("double") / 20) * lit(0.4)
          + (lit(1.0) - least(lit(1.0), col("punct_ratio") * 5)) * lit(0.2)
          + (lit(1.0) - least(lit(1.0), col("digit_ratio") * 5)) * lit(0.2)
          + least(lit(1.0), col("stopword_ratio") * 4) * lit(0.2))
  }

  /** Whitespace token count. */
  def wsTokenCount(textCol: Column): Column = size(tokens(textCol))

  /** BPE-ish token estimate: word pieces (letters / digits / single other
    * glyphs) via regex — the pre-tokenization split most BPE vocabularies
    * use. */
  def bpeishTokenCount(textCol: Column): Column =
    size(regexp_extract_all(textCol, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Rolling-hash document fingerprint: minimum xxhash64 over character
    * 8-grams of the first `cap` chars (winnowing-style min-sampling —
    * stable under small edits, unlike a whole-doc hash). */
  def fingerprint(textCol: String, cap: Int = 4096): Column =
    expr(s"array_min(transform(sequence(1, greatest(length(substring($textCol, 1, $cap)) - 7, 1)), " +
      s"i -> xxhash64(substring(substring($textCol, 1, $cap), i, 8))))")

  /** Corpus normalization: strip markup tags (replaced by a space so
    * `a<br>b` doesn't fuse), collapse whitespace runs, trim. Pure
    * codegen'd regexp_replace chain — scan speed; the regex subset is
    * deliberately engine-portable (no \p classes) so the DuckDB oracle
    * pins the exact transformation. */
  def normalize(textCol: Column): Column =
    trim(regexp_replace(regexp_replace(textCol, "<[^>]*>", " "), "\\s+", " "))

  /** HTML/markup → text extraction — the first operator of every
    * web-corpus pipeline (CommonCrawl-style WET generation). Richer than
    * [[normalize]]: script/style/comment CONTENTS are dropped (a naive
    * tag strip leaks JavaScript and CSS bodies straight into training
    * text), the remaining tags collapse to spaces, the six ubiquitous
    * character entities decode (`&amp;` LAST, so `&amp;lt;` yields the
    * literal `&lt;` — single-decode, never double), and whitespace runs
    * collapse.
    *
    * Deliberately regex-chain semantics, not a DOM parse: every stage is
    * one codegen'd `regexp_replace`/`replace` whose pattern works
    * identically in Java regex and RE2 — the whole operator replays
    * verbatim in the DuckDB oracle, and at 100 TB it runs at scan speed
    * with zero shuffle. */
  def htmlToText(textCol: Column): Column = {
    val noScript =
      regexp_replace(textCol, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'",
      "&amp;" -> "&" // last: &amp;lt; must become &lt;, not <
    ).foldLeft(noTags) { case (c, (ent, ch)) =>
      org.apache.spark.sql.functions.replace(c, lit(ent), lit(ch))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Fraction of characters outside printable ASCII (`[ -~]`) — the
    * standard cheap junk/mojibake signal for corpus filtering. */
  def nonAsciiRatio(textCol: Column): Column =
    when(length(textCol) === 0, lit(0.0)).otherwise(
      length(regexp_replace(textCol, "[ -~]", "")).cast("double")
        / length(textCol))

  /** Word n-gram repetition (Gopher-style duplicate-n-gram fraction):
    * adds `n_grams`, `n_distinct_grams`, `dup_gram_ratio`. High ratios
    * flag boilerplate/looping text. Pure per-row collection expressions
    * (transform + array_distinct) — no shuffle, scan speed; short docs
    * (< n words) get 0 grams rather than a degenerate sequence. */
  def ngramRepetition(df: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    val grams =
      s"""CASE WHEN size(__ws) < $n THEN array()
         |ELSE transform(sequence(1, size(__ws) - ${n - 1}),
         |  i -> concat_ws(' ', ${(0 until n)
        .map(j => s"element_at(__ws, i + $j)").mkString(", ")}))
         |END""".stripMargin.replace('\n', ' ')
    df.withColumn("__ws", split(col(textCol), "\\s+"))
      .withColumn("__grams", expr(grams))
      .withColumn("n_grams", size(col("__grams")).cast("long"))
      .withColumn("n_distinct_grams",
        size(array_distinct(col("__grams"))).cast("long"))
      .withColumn("dup_gram_ratio",
        when(col("n_grams") === 0, lit(0.0)).otherwise(
          lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams")))
      .drop("__ws", "__grams")
  }

  /** PII-pattern surface counts (emails, URLs) — the cheap pre-redaction
    * scan. The regexes stay in the engine-portable subset (no \p, no
    * lookaround) so the DuckDB oracle pins exact counts. */
  def emailCount(textCol: Column): Column =
    size(regexp_extract_all(textCol, lit(EmailRe), lit(0))).cast("long")

  def urlCount(textCol: Column): Column =
    size(regexp_extract_all(textCol, lit(UrlRe), lit(0))).cast("long")

  /** Corpus vocabulary: the `k` most frequent lowercase whitespace
    * tokens with total occurrences (`term_freq`) and number of distinct
    * documents containing each (`doc_freq`).
    *
    * Two aggregations, both with map-side partial combine: (doc, token)
    * counts first — so the second shuffle moves one row per distinct
    * (doc, token), not one per occurrence — then per-token totals where
    * `doc_freq` is a plain `count(1)` (no count-distinct expand). The
    * final top-k is `orderBy(...).limit(k)` → TakeOrderedAndProject:
    * each partition keeps only its own k candidates, so the driver sees
    * O(partitions * k) rows no matter how large the vocabulary is.
    * Ties break on the token itself for a deterministic, oracle-stable
    * cut. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    df.select(col(idCol).as("__doc"),
        explode(filter(tokens(col(textCol)), t => length(t) > 0))
          .as("token"))
      .groupBy(col("__doc"), col("token"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("token"))
      .agg(sum(col("__c")).as("term_freq"),
        count(lit(1)).as("doc_freq"))
      .orderBy(col("term_freq").desc, col("token"))
      .limit(k)

  // ---- TF-IDF keyword extraction ----

  /** Top-`k` TF-IDF terms per document: tf = in-doc occurrences, idf =
    * ln((N + 1) / (df + 1)) with N the corpus document count — the
    * smoothed form that never divides by zero and keeps corpus-wide
    * terms at a small positive weight instead of exactly zero (ties
    * would otherwise make the cut arbitrary).
    *
    * Plan shape: one (doc, token) partial-agg shuffle feeds BOTH tf and
    * df (df is `count(1)` over the per-doc rows — no second tokenize
    * pass, no count-distinct expand), the doc count broadcasts as a
    * 1-row cross join, and the per-doc top-k is a rank-window over the
    * (doc, token) frame — partitioned by doc, so no global sort. Ties
    * break (score desc, token asc) for a deterministic, oracle-stable
    * cut. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val docTok = df.select(col(idCol).as("__doc"),
        explode(filter(tokens(col(textCol)), t => length(t) > 0))
          .as("token"))
      .groupBy(col("__doc"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = docTok.groupBy(col("token"))
      .agg(count(lit(1)).as("__df"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__doc"))
      .orderBy(col("tfidf").desc, col("token"))
    docTok.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf") * log((col("__n") + 1.0) / (col("__df") + 1.0)))
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= k)
      .select(col("__doc").as(idCol), col("term_rank"), col("token"),
        col("tf"), col("__df").as("doc_freq"), col("tfidf"))
  }

  // ---- BM25 keyword search ----

  /** Top-`k` documents for a literal keyword query under BM25
    * (Robertson/Okapi, the `ln(1 + (N − df + 0.5)/(df + 0.5))` idf form
    * that stays positive for corpus-wide terms).
    *
    * The query terms are compile-time literals, so per-doc term
    * frequencies come from `size(filter(tokens, _ == term))` — pure
    * column expressions evaluated in the scan's codegen stage, no
    * (doc, token) explode and no shuffle of the corpus at all. Corpus
    * statistics (N, average length, per-term document frequencies) are
    * ONE aggregate row broadcast back as a cross join, and the top-k is
    * `orderBy(...).limit(k)` — Spark plans that as
    * TakeOrderedAndProject, a per-partition heap plus a k-row driver
    * merge. Total cost at 100 TB: two corpus scans (stats + score) and
    * k rows moved; nothing else leaves the executors. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(k > 0, s"k must be positive, got $k")
    // one compiled pass per doc for length + every term's tf (the
    // lambda filters were CodegenFallback — interpreted per token)
    val withTf = df.select(col(idCol).as("__doc"),
        graft.functions.TextExprs.termTfs(tokens(col(textCol)), terms)
          .as("__c"))
      .select(col("__doc") +: col("__c").getItem(0).as("__len") +:
        terms.indices.map(i => col("__c").getItem(i + 1).as(s"__tf$i")): _*)
    val dfCols = terms.indices.map(i =>
      sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val stats = withTf.agg(count(lit(1)).as("__n"),
      avg(col("__len")).as("__avglen") +: dfCols: _*)
    val norm = lit(k1) * (lit(1 - b) + lit(b) * col("__len") / col("__avglen"))
    val score = terms.indices.map { i =>
      val tf = col(s"__tf$i").cast("double")
      val idf = log(lit(1.0) +
        (col("__n") - col(s"__df$i") + 0.5) / (col(s"__df$i") + 0.5))
      idf * tf * (k1 + 1) / (tf + norm)
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .withColumn("bm25", score)
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("__doc"))
      .limit(k)
      .select(col("__doc").as(idCol), col("__len").as("doc_len"),
        col("bm25"))
  }

  /** Batched exact BM25: top-`k` per query over ONE tokenization +
    * stats pass instead of one corpus scan pair per query — n queries
    * cost two corpus scans total, not 2n. Scores are bit-identical to
    * [[bm25TopK]]: the tf columns cover the union of all query terms,
    * the stats row carries every term's document frequency, and each
    * query's score folds ITS terms in their declared order with the
    * same idf form and (bm25 desc, doc asc) tie-break. The per-query
    * top-k is a rank window over `score > 0` matches — docs containing
    * at least one of the query's terms — so the sort is over keyword
    * candidates, not the corpus. Output adds `query_id` to
    * [[bm25TopK]]'s (id, doc_len, bm25) contract. */
  def bm25TopKBatch(df: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "bm25TopKBatch needs at least one query, each with terms")
    require(k > 0, s"k must be positive, got $k")
    val allTerms = queries.flatMap(_._2).distinct
    val idx = allTerms.zipWithIndex.toMap
    // same compiled term-count pass as bm25TopK, over the term union
    val withTf = df.select(col(idCol).as("__doc"),
        graft.functions.TextExprs.termTfs(tokens(col(textCol)), allTerms)
          .as("__c"))
      .select(col("__doc") +: col("__c").getItem(0).as("__len") +:
        allTerms.indices.map(i =>
          col("__c").getItem(i + 1).as(s"__tf$i")): _*)
    val dfCols = allTerms.indices.map(i =>
      sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val stats = withTf.agg(count(lit(1)).as("__n"),
      avg(col("__len")).as("__avglen") +: dfCols: _*)
    val norm = lit(k1) * (lit(1 - b) + lit(b) * col("__len") / col("__avglen"))
    val perQuery = queries.map { case (qid, terms) =>
      val score = terms.map { t =>
        val i = idx(t)
        val tf = col(s"__tf$i").cast("double")
        val idf = log(lit(1.0) +
          (col("__n") - col(s"__df$i") + 0.5) / (col(s"__df$i") + 0.5))
        idf * tf * (k1 + 1) / (tf + norm)
      }.reduce(_ + _)
      struct(lit(qid).as("query_id"), score.as("bm25"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("__doc"))
    withTf.crossJoin(broadcast(stats))
      .select(col("__doc"), col("__len"),
        explode(array(perQuery: _*)).as("__q"))
      .select(col("__q.query_id").as("query_id"), col("__doc"),
        col("__len"), col("__q.bm25").as("bm25"))
      .filter(col("bm25") > 0)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("__doc").as(idCol),
        col("__len").as("doc_len"), col("bm25"))
  }

  // ---- URL / domain analysis (web-corpus provenance) ----

  private val UrlRe = "https?://[^\\s]+"
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Registrable host of every URL in the text, lowercased, one row per
    * URL via the caller's explode. The regex subset (no lookaround)
    * keeps the extraction engine-portable for the oracle twin. */
  def urlHosts(textCol: Column): Column =
    transform(regexp_extract_all(textCol, lit(UrlRe), lit(0)),
      u => lower(regexp_extract(u, "https?://([^/:?#\\s]+)", 1)))

  /** Per-domain corpus profile: how many documents and URL mentions each
    * web domain contributes. The canonical input to per-domain caps
    * (a handful of domains dominating a crawl is the #1 source-mix
    * pathology) — feed the result to [[Sampling.stratifiedTopN]] keyed
    * on `domain` to enforce the cap. Two partial-agg shuffles, both
    * keyed on (domain[, doc]) — uniform unless one domain IS the corpus,
    * which is exactly what the profile exists to reveal. */
  def domainProfile(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__doc"),
        explode(urlHosts(col(textCol))).as("domain"))
      .filter(length(col("domain")) > 0)
      .groupBy(col("__doc"), col("domain"))
      .agg(count(lit(1)).as("__m"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__m")).as("n_mentions"))

  /** Drop documents that mention any blocked domain — the
    * blocklist-filtering step of crawl curation. The blocklist is
    * domains (small by nature: thousands, not billions), so it
    * broadcasts into a semi-join against the exploded hosts and the
    * offending doc-id set comes back for one anti-join — the corpus is
    * scanned once and never shuffled. */
  def filterBlockedDomains(df: DataFrame, idCol: String, textCol: String,
      blocked: DataFrame): DataFrame = {
    val hits = df.select(col(idCol).as("__bid"),
        explode(urlHosts(col(textCol))).as("domain"))
      .join(broadcast(blocked.select(lower(col("domain")).as("domain"))),
        Seq("domain"), "left_semi")
      .select(col("__bid")).distinct()
    df.join(broadcast(hits), col(idCol) === col("__bid"), "left_anti")
  }

  // ---- PII redaction ----

  /** Replace emails and URLs with stable placeholder tokens. Runs after
    * [[emailCount]]/[[urlCount]] triage; the same regexes guarantee
    * scan-vs-redact agreement (a doc scanned clean is never rewritten).
    * Order matters: emails first, or the URL pattern eats
    * `user@host` inside `https://u:p@host` forms ambiguously. Pure
    * projection — no shuffle, scan speed at any corpus size. */
  def redactPii(textCol: Column): Column =
    regexp_replace(regexp_replace(textCol, EmailRe, "<EMAIL>"), UrlRe, "<URL>")

  // ---- n-gram LM quality scoring (perplexity-proxy filtering) ----

  /** Per-document mean log10 bigram probability under a stupid-backoff
    * bigram model trained on `train` — the classic perplexity-style
    * quality signal (docs far from the reference distribution score low:
    * gibberish, wrong-language, boilerplate).
    *
    * Backoff: S(w2|w1) = c(w1 w2)/c(w1) when the bigram was seen in
    * training, else 0.4 * (c(w2) + 1)/total — add-one smoothed so an
    * entirely unseen w2 still gets 0.4/total, never log of zero. Scoring joins each document bigram against the
    * two count tables — shuffle joins keyed on (uniformly hashed)
    * n-grams with map-side partial aggregation on both build sides; at
    * 100 TB the model tables are Zipf-small relative to the corpus and
    * AQE's broadcast conversion takes the build side off the shuffle
    * entirely. Counts are exact integers, the final mean sums in
    * decimal, so the score is bit-stable for the oracle twin.
    *
    * Documents with fewer than two tokens have no bigrams and do not
    * appear in the output (score them with a length gate first). An
    * empty/one-token-per-doc training set would make the backoff
    * denominator zero — clamped to 1 so a misconfigured train slice
    * yields finite (terrible) scores instead of silent NaN rows. */
  def bigramLmScore(df: DataFrame, train: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def bigrams(frame: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__doc")).orderBy(col("__p"))
      frame.select(col(idCol).as("__doc"),
          posexplode(filter(tokens(col(textCol)), t => length(t) > 0))
            .as(Seq("__p", "__w2")))
        .withColumn("__w1", lag(col("__w2"), 1).over(w))
        .filter(col("__w1").isNotNull)
    }
    val trainBi = bigrams(train)
    val biCounts = trainBi.groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__cb"))
    val uniCounts = trainBi.groupBy(col("__w1").as("__w"))
      .agg(count(lit(1)).as("__cu"))
    val total = trainBi.agg(count(lit(1)).as("__tot"))
    val scored = bigrams(df)
      .join(biCounts, Seq("__w1", "__w2"), "left")
      .join(uniCounts.select(col("__w").as("__w1"), col("__cu")),
        Seq("__w1"), "left")
      .join(uniCounts.select(col("__w").as("__w2"),
        col("__cu").as("__cu2")), Seq("__w2"), "left")
      .crossJoin(broadcast(total))
      .withColumn("__p10", log(10.0,
        when(col("__cb").isNotNull,
          col("__cb").cast("double") / col("__cu"))
        .otherwise(lit(0.4) *
          (coalesce(col("__cu2"), lit(0L)).cast("double") + 1.0)
            / greatest(col("__tot"), lit(1L)))))
    scored.groupBy(col("__doc").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("__p10").cast("decimal(30,12)")) / count(lit(1)))
          .cast("double").as("avg_log10_p"))
  }

  /** Winsorized clipping of a numeric feature column: values outside
    * the [pLow, pHigh] quantile band clamp to the band — the robust-
    * scaling step before a length/quality feature feeds a filter or a
    * sampler (one 10 MB document otherwise dominates any mean-based
    * threshold). `exact = true` uses exact interpolated percentiles
    * (cross-engine replayable: Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition); exact
    * percentile aggregates a per-value map, fine into millions of
    * distinct values — at 100 TB use the default sketch path
    * (`approx_percentile`, bounded memory), same clipping semantics
    * with approximate bounds. The single-row bounds frame broadcasts;
    * corpus cost is one aggregate plus the map-side clamp. Returns the
    * input plus (lo, hi, clipped). */
  def winsorize(df: DataFrame, valueCol: String, pLow: Double = 0.05,
      pHigh: Double = 0.95, exact: Boolean = false): DataFrame = {
    require(pLow >= 0 && pHigh <= 1 && pLow < pHigh,
      s"need 0 <= pLow < pHigh <= 1, got ($pLow, $pHigh)")
    val v = col(valueCol).cast("double")
    val fn = if (exact) "percentile" else "approx_percentile"
    val bounds = df.agg(
      expr(s"$fn(cast($valueCol as double), $pLow)").as("lo"),
      expr(s"$fn(cast($valueCol as double), $pHigh)").as("hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn("clipped", least(greatest(v, col("lo")), col("hi")))
  }
}
