package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.PortableHash

/** Text-analysis operators for an LLM-training-data pipeline (north-star
  * extensions beyond reference parity — SURVEY.md §7.3 M5, BASELINE.json):
  * token counting, quality scoring, language identification, and document
  * fingerprinting, all over the `documents` table.
  *
  * Everything is built from Catalyst built-in expressions (no UDFs), so:
  *  - the whole module is narrow (zero shuffles — per-row projections the
  *    parquet scan feeds directly; at 100 TB these scale linearly with
  *    input splits and stay inside whole-stage codegen),
  *  - every query has an exact DuckDB oracle twin.
  *
  * The reference's text processing is the `detect.csa` tokenizer
  * (hi-csa-db.Rmd:75-88: punctuation→space normalization + whitespace
  * split); these operators generalize that tokenizer.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  /** Shared tokenizer — the reference's normalize+split (Rmd:77-79). */
  private[graft] def tokens(c: Column): Column =
    split(regexp_replace(lower(c), "[\\p{Punct} ]+", " "), " ")

  private[operators] def duckTokens(inner: String): String =
    s"string_split(regexp_replace(lower($inner), '[[:punct:] ]+', ' ', 'g'), ' ')"

  // ----------------------------------------------------------------
  // Token counting: whitespace tokens + BPE-ish regex tokens
  // ----------------------------------------------------------------

  /** Whitespace token count, BPE-ish subword-boundary token count
    * (word chars runs + single non-space punctuation, the GPT-2-style
    * pre-tokenizer shape), and chars-per-token ratio.
    *
    * Counting runs on the native single-pass [[org.apache.spark.sql.graft.TokenCounts]]
    * expression (PropertySpec pins it char-for-char equivalent to the
    * regex formulation the oracle still uses): token counting is pure
    * per-row compute with nothing to amortize at scale, so replacing
    * two regex walks + token-array materialization per row with one
    * compiled scan attacks the only cost the query has. Codegen
    * subexpression elimination evaluates the struct once per row for
    * both field reads. */
  private def tTokenCount: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        expr("graft_token_counts(text)").as("tc"))
      .select(
        col("doc_id"),
        col("tc.ws_tokens").as("ws_tokens"),
        col("tc.bpe_tokens").as("bpe_tokens"),
        round(col("n_chars").cast("double") / col("tc.ws_tokens"), 6)
          .as("chars_per_token"))
  }

  private val tTokenCountSql =
    """SELECT doc_id,
      | len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
      | len(regexp_extract_all(text, '[a-zA-Z0-9_]+|[^a-zA-Z0-9_\s]')) AS bpe_tokens,
      | round(n_chars / len(regexp_split_to_array(trim(text), '\s+')), 6) AS chars_per_token
      |FROM documents""".stripMargin

  // ----------------------------------------------------------------
  // Bigram collocations: co-occurrence counts + PMI-ratio strength
  // ----------------------------------------------------------------

  /** Collocation mining — corpus phrase statistics (the n-gram tables
    * a tokenizer/vocab builder and corpus-analysis pass need): the 20
    * most frequent adjacent token bigrams with their PMI association
    * strength, in RATIO form — pmi_ratio = p(ab)/(p(a)·p(b)) =
    * c_ab·T²/(N·c_a·c_b) — which orders identically to log-PMI but
    * stays rational double arithmetic (engine-identical; libm log is
    * not, same reasoning as t_tfidf's ratio idf).
    *
    * Shape: bigrams generate map-side from each doc's token array
    * (zip_with over the array and its tail — no self-join); one
    * groupBy(bigram) with partial aggs; unigram counts broadcast back
    * onto the top-k (two joins against a 20-row side). */
  private def tBigramPmi: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val toks = docs.select(tokens(col("text")).as("ts"))
    val uni = toks.select(explode(col("ts")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val totalToks = uni.agg(sum(col("c")).as("n")) // 1 row
    val big = toks.select(explode(expr(
        "zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1), (a, b) -> struct(a, b))"))
        .as("bg"))
      .filter(col("bg.a") =!= "" && col("bg.b") =!= "")
      .groupBy(col("bg.a").as("w1"), col("bg.b").as("w2"))
      .agg(count(lit(1)).as("c_ab"))
    val totalBigrams = big.agg(sum(col("c_ab")).as("nb")) // 1 row
    big
      .orderBy(col("c_ab").desc, col("w1").asc, col("w2").asc)
      .limit(20)
      .join(uni.select(col("t").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(totalToks))
      .crossJoin(broadcast(totalBigrams))
      .select(col("w1"), col("w2"), col("c_ab"),
        // numerator in DOUBLE from the first multiply: c_ab·n² in int64
        // silently wraps past 2^63 (n ≈ 3e9 tokens is inside the 100 TB
        // design range); both engines run the identical double op order
        round((col("c_ab").cast("double") * col("n") * col("n")) /
          (col("nb").cast("double") * col("c_a") * col("c_b")), 6).as("pmi_ratio"))
      .orderBy(col("c_ab").desc, col("w1").asc, col("w2").asc)
  }

  private val tBigramPmiSql =
    s"""WITH toks AS (SELECT ${duckTokens("text")} AS ts FROM documents),
       |uni AS (SELECT t, count(*) AS c
       |        FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t),
       |total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
       |big AS (SELECT w1, w2, count(*) AS c_ab
       |        FROM (SELECT unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2
       |              FROM toks)
       |        WHERE w1 <> '' AND w2 <> ''
       |        GROUP BY w1, w2),
       |totalb AS (SELECT CAST(sum(c_ab) AS BIGINT) AS nb FROM big),
       |top AS (SELECT w1, w2, c_ab FROM big
       |        ORDER BY c_ab DESC, w1, w2 LIMIT 20)
       |SELECT top.w1, top.w2, top.c_ab,
       |       round((CAST(top.c_ab AS DOUBLE) * n * n) / (CAST(nb AS DOUBLE) * ua.c * ub.c), 6) AS pmi_ratio
       |FROM top
       |JOIN uni ua ON top.w1 = ua.t
       |JOIN uni ub ON top.w2 = ub.t
       |CROSS JOIN total CROSS JOIN totalb
       |ORDER BY c_ab DESC, w1, w2""".stripMargin

  // ----------------------------------------------------------------
  // Corpus mixture weights: per-language token shares → resampling factors
  // ----------------------------------------------------------------

  /** Data-mixing accounting — the step between corpus stats and a
    * training run: per language, document and token counts, the
    * token SHARE of the corpus, and the resampling weight that would
    * hit a UNIFORM target mixture (weight = target_share /
    * actual_share; >1 ⇒ upsample, <1 ⇒ downsample). Real pipelines
    * plug in a non-uniform target vector; the arithmetic is the same.
    * One corpus scan (PlanSpec-guarded); binds THE shared
    * implementation in [[Sampling.mixtureWeights]] (the façade binds
    * the same function — no second copy to drift). */
  private def tMixtureWeights: Q = (s, dir) =>
    Sampling.mixtureWeights(Tables.documents(s, dir), "lang", "text")
      .select(col("stratum").as("lang"), col("n_rows").as("n_docs"),
        col("n_tokens"), col("token_share"), col("uniform_weight"))

  private val tMixtureWeightsSql =
    """WITH per_lang AS (
      |  SELECT lang, count(*) AS n_docs,
      |         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY lang),
      |totals AS (SELECT sum(n_tokens) AS total_tokens, count(*) AS n_langs FROM per_lang)
      |SELECT lang, n_docs, n_tokens,
      |       round(n_tokens / CAST(total_tokens AS DOUBLE), 6) AS token_share,
      |       round((1.0 / n_langs) / (n_tokens / CAST(total_tokens AS DOUBLE)), 6) AS uniform_weight
      |FROM per_lang CROSS JOIN totals""".stripMargin

  // ----------------------------------------------------------------
  // Quality scoring: length / punctuation / stopword heuristics
  // ----------------------------------------------------------------

  private val stopwords = Seq("the", "a", "of", "is", "and", "to", "in")
  private def stopwordArray = stopwords.map(w => s"'$w'").mkString("array(", ", ", ")")
  private def duckStopwordList = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** THE quality-heuristic definition — shared by [[tQualityScore]]
    * and the [[graft.pipelines.CleanCorpus]] gate so a tweak to one
    * band can't silently desynchronize the report from the pipeline.
    * Adds `toks, n_words, stop_ratio, alpha_ratio, mean_word_len` and
    * the unrounded 4-band `quality` to a frame with `text, n_chars`. */
  private[graft] def withQualityHeuristics(df: DataFrame): DataFrame =
    // coalesce: NULL text must yield measured-as-empty metrics (and a
    // false `passes` in the rule battery), not null-poisoned ones that
    // drop or mis-rank the doc
    df.withColumn("toks", tokens(coalesce(col("text"), lit(""))))
      .withColumn("n_words", size(col("toks")).cast("double"))
      .withColumn("stop_ratio",
        size(filter(col("toks"), t => array_contains(expr(stopwordArray), t)))
          / col("n_words"))
      .withColumn("alpha_ratio",
        // n_chars = 0 (empty/null doc) measures as ratio 0, not a
        // divide-by-zero under ANSI mode
        when(col("n_chars") > 0,
          length(regexp_replace(coalesce(col("text"), lit("")), "[^a-zA-Z]", ""))
            .cast("double") / col("n_chars"))
          .otherwise(lit(0.0)))
      .withColumn("mean_word_len",
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).cast("double")
          / col("n_words"))
      .withColumn("quality",
        when(col("n_words") >= 20, lit(0.25)).otherwise(lit(0.0))
          + when(col("stop_ratio").between(0.01, 0.6), lit(0.25)).otherwise(lit(0.0))
          + when(col("alpha_ratio") >= 0.7, lit(0.25)).otherwise(lit(0.0))
          + when(col("mean_word_len").between(3.0, 10.0), lit(0.25)).otherwise(lit(0.0)))

  /** Oracle twin of [[withQualityHeuristics]]: subquery emitting
    * doc_id, lang, text, n_chars + the four heuristic columns from
    * `documents`. */
  private[graft] val duckQualityMetricsSub =
    s"""SELECT doc_id, lang, text, n_chars,
       |    len(toks)::DOUBLE AS n_words,
       |    len(list_filter(toks, t -> list_contains($duckStopwordList, t))) / len(toks)::DOUBLE AS stop_ratio,
       |    CASE WHEN n_chars > 0
       |         THEN length(regexp_replace(coalesce(text, ''), '[^a-zA-Z]', '', 'g'))::DOUBLE / n_chars
       |         ELSE 0.0 END AS alpha_ratio,
       |    list_reduce(list_prepend(0::BIGINT, list_transform(toks, t -> length(t)::BIGINT)),
       |                (acc, x) -> acc + x)::DOUBLE / len(toks) AS mean_word_len
       |  FROM (SELECT doc_id, lang, text, n_chars, ${duckTokens("coalesce(text, '')")} AS toks FROM documents)""".stripMargin

  /** Oracle twin of the 4-band quality sum (unrounded). */
  private[graft] val duckQualityCaseSql =
    """(CASE WHEN n_words >= 20 THEN 0.25 ELSE 0.0 END)
      |   + (CASE WHEN stop_ratio BETWEEN 0.01 AND 0.6 THEN 0.25 ELSE 0.0 END)
      |   + (CASE WHEN alpha_ratio >= 0.7 THEN 0.25 ELSE 0.0 END)
      |   + (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 0.25 ELSE 0.0 END)""".stripMargin

  /** Heuristic document-quality score (Gopher/C4-style filters): word
    * count, mean word length, stopword ratio, alpha ratio — combined
    * into one score. Pure per-row arithmetic: one stage at any scale. */
  private def tQualityScore: Q = (s, dir) =>
    withQualityHeuristics(Tables.documents(s, dir))
      .select(
        col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        round(col("stop_ratio"), 6).as("stop_ratio"),
        round(col("alpha_ratio"), 6).as("alpha_ratio"),
        round(col("mean_word_len"), 6).as("mean_word_len"),
        round(col("quality"), 2).as("quality"))

  private val tQualityScoreSql =
    s"""SELECT doc_id,
       | CAST(n_words AS BIGINT) AS n_words,
       | round(stop_ratio, 6) AS stop_ratio,
       | round(alpha_ratio, 6) AS alpha_ratio,
       | round(mean_word_len, 6) AS mean_word_len,
       | round($duckQualityCaseSql,
       |  2) AS quality
       |FROM ($duckQualityMetricsSub)""".stripMargin

  // ----------------------------------------------------------------
  // Gopher-rule hard filter: per-rule verdicts + the drop decision
  // ----------------------------------------------------------------

  /** The HARD-FILTER complement of [[tQualityScore]]'s soft score —
    * the Gopher rule battery (Rae et al. 2021 §A1.1) as explicit
    * per-rule measurements plus the boolean drop decision a cleaning
    * pipeline actually branches on: word-count bounds [50, 100k],
    * mean word length ∈ [3, 10], symbol-to-word ratio ('#' + '…'-style
    * ellipses) ≤ 0.1, ≤ 90 % bullet-led lines, ≤ 30 % ellipsis-ended
    * lines, ≥ 80 % of words with an alphabetic character, and ≥ 2
    * distinct stopwords present (the shared 7-word list — the same
    * list the quality score rates, so the two ops cannot drift).
    * Pure per-row projections over one scan: one codegen stage at any
    * scale, no shuffle. The fixture's single-line texts exercise the
    * word-count and stopword branches; the line-shape and symbol
    * rules are pinned by planted docs in TextAnalysisSpec. */
  private def tGopherRules: Q = (s, dir) =>
    gopherRulesOf(Tables.documents(s, dir))

  /** DataFrame-parametric rule battery (expects `doc_id, text,
    * n_chars`) — the spec plants rule-violating docs through this. */
  private[graft] def gopherRulesOf(docs: DataFrame): DataFrame =
    withQualityHeuristics(docs)
      .withColumn("lines", split(col("text"), "\n"))
      .withColumn("n_lines", size(col("lines")).cast("double"))
      .withColumn("symbol_ratio",
        ((size(split(col("text"), "#", -1)) - 1
          + size(regexp_extract_all(col("text"), lit("\\.\\.\\."), lit(0))))
          .cast("double") / col("n_words")))
      .withColumn("frac_bullet_lines",
        size(filter(col("lines"), l => trim(l).rlike("^[-*•]"))).cast("double")
          / col("n_lines"))
      .withColumn("frac_ellipsis_lines",
        size(filter(col("lines"), l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast("double")
          / col("n_lines"))
      .withColumn("frac_alpha_words",
        size(filter(col("toks"), t => t.rlike("[a-z]"))).cast("double")
          / col("n_words"))
      .withColumn("n_stop_hits",
        size(filter(expr(stopwordArray), w => array_contains(col("toks"), w)))
          .cast("long"))
      .select(
        col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        round(col("symbol_ratio"), 6).as("symbol_ratio"),
        round(col("frac_bullet_lines"), 6).as("frac_bullet_lines"),
        round(col("frac_ellipsis_lines"), 6).as("frac_ellipsis_lines"),
        round(col("frac_alpha_words"), 6).as("frac_alpha_words"),
        col("n_stop_hits"),
        (col("n_words").between(50.0, 100000.0)
          && col("mean_word_len").between(3.0, 10.0)
          && col("symbol_ratio") <= 0.1
          && col("frac_bullet_lines") <= 0.9
          && col("frac_ellipsis_lines") <= 0.3
          && col("frac_alpha_words") >= 0.8
          && col("n_stop_hits") >= 2).as("passes"))

  private val tGopherRulesSql =
    s"""WITH base AS (
       |  SELECT doc_id, text, ${duckTokens("text")} AS toks,
       |         string_split(text, chr(10)) AS lines
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    len(toks)::DOUBLE AS n_words,
       |    list_reduce(list_prepend(0::BIGINT,
       |        list_transform(toks, t -> length(t)::BIGINT)),
       |      (acc, x) -> acc + x)::DOUBLE / len(toks) AS mean_word_len,
       |    (len(string_split(text, '#')) - 1
       |      + len(regexp_extract_all(text, '\\.\\.\\.')))::DOUBLE
       |      / len(toks) AS symbol_ratio,
       |    len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE
       |      / len(lines) AS frac_bullet_lines,
       |    len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$')))::DOUBLE
       |      / len(lines) AS frac_ellipsis_lines,
       |    len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
       |      / len(toks) AS frac_alpha_words,
       |    len(list_filter($duckStopwordList, w -> list_contains(toks, w)))::BIGINT AS n_stop_hits
       |  FROM base)
       |SELECT doc_id,
       |  n_words::BIGINT AS n_words,
       |  round(symbol_ratio, 6) AS symbol_ratio,
       |  round(frac_bullet_lines, 6) AS frac_bullet_lines,
       |  round(frac_ellipsis_lines, 6) AS frac_ellipsis_lines,
       |  round(frac_alpha_words, 6) AS frac_alpha_words,
       |  n_stop_hits,
       |  (n_words BETWEEN 50.0 AND 100000.0
       |    AND mean_word_len BETWEEN 3.0 AND 10.0
       |    AND symbol_ratio <= 0.1
       |    AND frac_bullet_lines <= 0.9
       |    AND frac_ellipsis_lines <= 0.3
       |    AND frac_alpha_words >= 0.8
       |    AND n_stop_hits >= 2) AS passes
       |FROM m""".stripMargin

  // ----------------------------------------------------------------
  // Bigram language-model scoring (CCNet-style fluency signal)
  // ----------------------------------------------------------------

  /** Add-k smoothing constant for [[lmScoreOf]]. */
  private[graft] val LmK = 0.5

  /** CCNet-style LM fluency scoring, log-free: train an add-k-smoothed
    * bigram model over the corpus in ONE aggregate pass, then score
    * every document by its MEAN per-token conditional probability
    * p(tᵢ | tᵢ₋₁) = (c₂ + k) / (c₁ + k·V). CCNet ranks by per-doc LM
    * perplexity; mean token probability is the same signal with the
    * log taken out — and the log is exactly what an engine-exact
    * oracle cannot afford (libm `ln` is not bit-identical across
    * engines; see the TF-IDF ratio-form idf precedent). The facade
    * exposes the log-perplexity view on top ([[graft.Graft.text]]),
    * spec-pinned Spark-side only.
    *
    * Cross-engine exactness: c₂, c₁, V are exact longs, k = 0.5 is an
    * exact double, so every p is one IEEE division of exact operands —
    * bit-identical in both engines; each p is then rounded to 9 dp and
    * summed in DECIMAL(28,9) (the money discipline: partial-agg ORDER
    * cannot matter in an exact-decimal sum), one final cast back.
    *
    * Scale shape: the model is two token-keyed count tables bounded by
    * vocab (c₁) and observed-bigram (c₂) cardinality — for natural
    * language both are millions of rows at any corpus size (Heaps'
    * law), broadcastable; the scoring join shuffles 8-byte-hashable
    * token keys, never documents. Two corpus scans total (count,
    * score). */
  /** The shared bigram-LM core: one row per bigram position with its
    * smoothed conditional probability `p` — consumed by [[lmScoreOf]]
    * (oracle-exact mean-probability view) and [[lmPerplexityOf]]
    * (the conventional log view, Spark-side).
    *
    * Two corpus scans, not four: c₁ is derived from c₂ (prefix count
    * ≡ Σ_b c₂(a,b)) and V is the MODEL vocabulary — distinct bigram
    * participants — so both come from the vocab-sized c₂ frame, whose
    * underlying exchange Spark reuses across all three consumers
    * (probe build side, c₁, V). The bigram generator is guarded
    * INSIDE the expression (empty array for <2-token docs) and
    * explodes with `explode_outer` on provably non-null fields —
    * `explode` would invite InferFiltersFromGenerate + join-key
    * null-filter pushdown, both of which re-evaluate the whole
    * tokenize+transform per corpus row below the Generate (measured
    * 18.9 s → this shape 4× cheaper on the r7 bench). */
  private def lmScoredBigrams(docs: DataFrame, k: Double): DataFrame = {
    val bi = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), expr(
        """CASE WHEN size(toks) >= 2
          |     THEN transform(sequence(1, size(toks) - 1), i ->
          |            struct(coalesce(element_at(toks, i), '') AS a,
          |                   coalesce(element_at(toks, i + 1), '') AS b))
          |     ELSE cast(array() as array<struct<a:string,b:string>>) END"""
          .stripMargin).as("bgs"))
      .select(col("doc_id"), explode_outer(col("bgs")).as("bg"))
      .filter(col("bg").isNotNull)
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
    // persist the vocab-bounded c2 table: its THREE consumers (probe
    // build side, c1, V) otherwise re-derive the whole corpus
    // tokenize+bigram pass each — the r14 plan ran the Generate FOUR
    // times (exchange reuse never fired across the renumbered
    // subtrees). One corpus count pass + one probe pass now (guide
    // §1.2: don't compute things twice). c1 rides the cached frame and
    // is FUSED onto c2 as one broadcast model, so the probe stream
    // pays one broadcast join instead of two.
    val c2 = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = c2.groupBy(col("a")).agg(sum(col("c2")).as("c1"))
    val vocab = c2.select(col("a").as("t")).union(c2.select(col("b").as("t")))
      .distinct().agg(count(lit(1)).as("v"))
    val model = c2.join(c1, Seq("a"))
    bi.join(broadcast(model), Seq("a", "b")).crossJoin(broadcast(vocab))
      .withColumn("p",
        (col("c2") + lit(k)) / (col("c1") + lit(k) * col("v")))
  }

  private[graft] def lmScoreOf(docs: DataFrame, k: Double = LmK): DataFrame =
    lmScoredBigrams(docs, k)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(round(col("p"), 9).cast("decimal(28,9)")).as("sum_p"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_p").cast("double") / col("n_bigrams"), 6)
          .as("mean_token_prob"))

  /** The conventional CCNet view of the same model: per-doc bigram
    * PERPLEXITY exp(−mean ln p). Lives outside the oracle gate (libm
    * `ln` is not bit-identical cross-engine); ranking equivalence with
    * the oracle-checked mean-probability view is spec-pinned. */
  private[graft] def lmPerplexityOf(docs: DataFrame, k: Double = LmK): DataFrame =
    lmScoredBigrams(docs, k)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        exp(-avg(log(col("p")))).as("ppl"))
      .select(col("doc_id"), col("n_bigrams"), round(col("ppl"), 6).as("ppl"))

  private def tLmScore: Q = (s, dir) => lmScoreOf(Tables.documents(s, dir))

  private val tLmScoreSql =
    s"""WITH base AS (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents),
       |big AS (SELECT doc_id,
       |          unnest(toks[1:len(toks) - 1]) AS a,
       |          unnest(toks[2:len(toks)]) AS b
       |        FROM base WHERE len(toks) >= 2),
       |cnt2 AS (SELECT a, b, count(*) AS c2 FROM big GROUP BY a, b),
       |cnt1 AS (SELECT a, CAST(sum(c2) AS BIGINT) AS c1 FROM cnt2 GROUP BY a),
       |voc AS (SELECT count(*) AS v
       |        FROM (SELECT a FROM cnt2 UNION SELECT b FROM cnt2))
       |SELECT doc_id, count(*) AS n_bigrams,
       |       round(sum(round((c2 + $LmK) / (c1 + $LmK * v), 9)::DECIMAL(28,9))::DOUBLE
       |             / count(*), 6) AS mean_token_prob
       |FROM big JOIN cnt2 USING (a, b) JOIN cnt1 USING (a) CROSS JOIN voc
       |GROUP BY doc_id""".stripMargin

  // ----------------------------------------------------------------
  // CCNet head/middle/tail split (per-language LM-quality tertiles)
  // ----------------------------------------------------------------

  /** CCNet's corpus partitioning (Wenzek et al. 2020): within each
    * language, rank documents by LM quality and cut into
    * head/middle/tail tertiles — the standard quality strata that
    * downstream mixtures sample from (head-only for high-quality
    * pretraining, head+middle for scale). Quality here is
    * [[lmScoreOf]]'s mean token probability (highest = most
    * corpus-typical = head; CCNet ranks by perplexity, same ordering
    * reversed). The bucket rule is integer-exact — doc is head iff
    * 3·rank ≤ n, middle iff 3·rank ≤ 2n — so the oracle needs no
    * tolerance anywhere: scores are the oracle-exact lm values and
    * the cut is arithmetic on row_number/count.
    *
    * Scale shape: the LM scoring is [[lmScoreOf]] (two corpus scans,
    * vocab-bounded broadcast model); the ranking windows partition BY
    * LANGUAGE — no global sort. A language's stratum at 100 TB is
    * still one sort partition; production shards further by
    * (lang, hash-range) exactly like CCNet's per-shard percentile
    * estimation, trading exact tertiles for bounded partitions. */
  /** Generic entry behind `t_ccnet_buckets` — `docs` must carry
    * (doc_id, text, lang). Covers exactly the LM-scorable subset:
    * documents with < 2 tokens have no bigrams, get no LM score, and
    * are ABSENT from the strata (tertile boundaries count only scored
    * docs) — route them through a length filter first (gopherRules'
    * min-length rule), which a real pipeline applies before
    * perplexity bucketing anyway. */
  private[graft] def ccnetBucketsOf(docs: DataFrame): DataFrame = {
    val scored = lmScoreOf(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val rankW = Window.partitionBy(col("lang"))
      .orderBy(col("mean_token_prob").desc, col("doc_id").asc)
    val cntW = Window.partitionBy(col("lang"))
    scored
      .withColumn("rn", row_number().over(rankW))
      .withColumn("n", count(lit(1)).over(cntW))
      .select(col("doc_id"), col("lang"), col("mean_token_prob"),
        when(col("rn") * 3 <= col("n"), "head")
          .when(col("rn") * 3 <= col("n") * 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  private def tCcnetBuckets: Q = (s, dir) =>
    ccnetBucketsOf(Tables.documents(s, dir))

  private val tCcnetBucketsSql =
    s"""SELECT doc_id, lang, mean_token_prob,
       |  CASE WHEN 3 * rn <= n THEN 'head'
       |       WHEN 3 * rn <= 2 * n THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM (SELECT l.doc_id, d.lang, l.mean_token_prob,
       |        row_number() OVER (PARTITION BY d.lang
       |          ORDER BY l.mean_token_prob DESC, l.doc_id) AS rn,
       |        count(*) OVER (PARTITION BY d.lang) AS n
       |      FROM ($tLmScoreSql) l
       |      JOIN documents d USING (doc_id)) ranked""".stripMargin

  /** Feature-hash buckets for [[domainAffinityOf]]. Production sizes
    * B ≈ 10⁴–10⁶ (DSIR uses 10⁴ hashed n-gram buckets); the fixture
    * corpus keeps B small enough that bucket collisions and smoothing
    * are actually exercised. */
  private[graft] val AffinityBuckets = 64
  private val AffinityTargetSources = Seq("src1", "src2", "src3")

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much its hashed-unigram features look like a
    * TARGET domain vs the raw corpus. Features are
    * `graft_polyhash(token) mod B`; both distributions get add-1
    * smoothing over the B buckets; a document scores
    * Σ_f c_f · (p_target(f) − p_raw(f)).
    * DSIR proper uses the log-likelihood ratio Σ c_f·log(p_t/p_r) —
    * the probability-DIFFERENCE form here keeps every term one exact
    * IEEE op chain (two divisions of exact longs, one subtract, one
    * multiply), which libm `ln` cannot offer cross-engine (the
    * [[lmScoreOf]] precedent); the façade exposes the log form,
    * spec-pinned to agree with this one on ranking. Each term is
    * rounded to 9 dp and summed in DECIMAL(28,9) — the money
    * discipline, aggregation order can't matter.
    *
    * Scale shape: ONE tokenize pass → per-(doc, feature) counts (the
    * shuffle carries (doc_id, int, long) rows bounded by tokens); the
    * two feature tables derive from that frame and are ≤ B rows —
    * broadcast; the scoring join is per-doc-feature × B-row model.
    * The target indicator is any Column predicate — at 100 TB a
    * curated target corpus unions in with `in_target = true`. */
  /** The shared hashed-feature core: per-(doc, feature) counts joined
    * with the smoothed target/raw probabilities — one row per
    * (doc_id, in_target, f, c, pt, pr). Consumed by [[domainAffinityOf]]
    * (probability-difference, oracle-exact) and
    * [[domainAffinityLogOf]] (DSIR's log-likelihood ratio). */
  private def affinityTerms(docs: DataFrame, isTarget: Column,
      buckets: Int,
      storage: org.apache.spark.storage.StorageLevel): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(docs.sparkSession)
    val cdf0 = docs
      .select(col("doc_id"), isTarget.as("in_target"),
        tokens(coalesce(col("text"), lit(""))).as("toks"))
      .select(col("doc_id"), col("in_target"), explode_outer(col("toks")).as("t"))
      .filter(col("t").isNotNull)
      .select(col("doc_id"), col("in_target"),
        pmod(expr("graft_polyhash(t)"), lit(buckets.toLong)).as("f"))
      .groupBy(col("doc_id"), col("in_target"), col("f"))
      .agg(count(lit(1)).as("c"))
    // four consumers (raw, tgt, totals, scoring join) re-derive the
    // tokenize pipeline without the persist; one-shot façade calls
    // pass NONE per the cache contract (harness clears per query)
    val cdf = if (storage == org.apache.spark.storage.StorageLevel.NONE) cdf0
      else cdf0.persist(storage)
    val raw = cdf.groupBy(col("f")).agg(sum(col("c")).as("cr"))
    val tgt = cdf.filter(col("in_target")).groupBy(col("f")).agg(sum(col("c")).as("ct"))
    val model = raw.join(broadcast(tgt), Seq("f"), "left")
      .select(col("f"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
      .crossJoin(broadcast(cdf.agg(
        sum(col("c")).as("tr"),
        sum(when(col("in_target"), col("c")).otherwise(0L)).as("tt"))))
      .select(col("f"),
        ((col("ct") + lit(1)) / (col("tt") + lit(buckets))).as("pt"),
        ((col("cr") + lit(1)) / (col("tr") + lit(buckets))).as("pr"))
    cdf.join(broadcast(model), Seq("f"))
  }

  private[graft] def domainAffinityOf(docs: DataFrame, isTarget: Column,
      buckets: Int = AffinityBuckets,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame =
    affinityTerms(docs, isTarget, buckets, storage)
      .groupBy(col("doc_id"), col("in_target"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(round(col("c") * (col("pt") - col("pr")), 9)
          .cast("decimal(28,9)")).as("aff"))
      .select(col("doc_id"), col("in_target"), col("n_tokens"),
        decimalR6(col("aff")).as("affinity"))

  /** DSIR's actual estimator — the per-doc log-likelihood ratio
    * Σ_f c_f · ln(p_t(f)/p_r(f)). Lives outside the oracle gate (libm
    * `ln`, the [[lmPerplexityOf]] precedent); its ranking agreement
    * with the oracle-checked difference form is spec-pinned. */
  private[graft] def domainAffinityLogOf(docs: DataFrame, isTarget: Column,
      buckets: Int = AffinityBuckets,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame =
    affinityTerms(docs, isTarget, buckets, storage)
      .groupBy(col("doc_id"), col("in_target"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * (log(col("pt")) - log(col("pr")))).as("llr"))
      .select(col("doc_id"), col("in_target"), col("n_tokens"),
        round(col("llr"), 6).as("log_weight"))

  private def tDomainAffinity: Q = (s, dir) =>
    domainAffinityOf(Tables.documents(s, dir),
      col("source").isin(AffinityTargetSources: _*))

  private val tDomainAffinitySql = {
    val b = AffinityBuckets
    val srcs = AffinityTargetSources.map(s => s"'$s'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, source IN ($srcs) AS in_target,
       |         unnest(${duckTokens("coalesce(text, '')")}) AS t
       |  FROM documents),
       |cdf AS (SELECT doc_id, in_target,
       |          ${graft.functions.PortableHash.duckPolyHash("t")} % $b AS f,
       |          count(*) AS c
       |        FROM base GROUP BY 1, 2, 3),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tr,
       |               CAST(sum(CASE WHEN in_target THEN c ELSE 0 END) AS BIGINT) AS tt
       |        FROM cdf),
       |model AS (
       |  SELECT r.f,
       |         (coalesce(t.ct, 0) + 1) / (tot.tt + $b)
       |           - (r.cr + 1) / (tot.tr + $b) AS diff
       |  FROM (SELECT f, CAST(sum(c) AS BIGINT) AS cr FROM cdf GROUP BY f) r
       |  LEFT JOIN (SELECT f, CAST(sum(c) AS BIGINT) AS ct FROM cdf
       |             WHERE in_target GROUP BY f) t ON r.f = t.f
       |  CROSS JOIN tot)
       |SELECT doc_id, in_target, CAST(sum(c) AS BIGINT) AS n_tokens,
       |       round(sum(round(c * diff, 9)::DECIMAL(28,9)), 6)::DOUBLE AS affinity
       |FROM cdf JOIN model USING (f)
       |GROUP BY doc_id, in_target""".stripMargin
  }

  // ----------------------------------------------------------------
  // Language identification: profile-overlap heuristic
  // ----------------------------------------------------------------

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "english" -> Seq("the", "a", "fast", "slow", "big", "small"),
    "dbish"   -> Seq("table", "row", "column", "key", "query", "customer"),
    "computish" -> Seq("spark", "hash", "sort", "agg", "merge", "batch"))

  /** N-gram/stopword-profile language ID: score the token stream against
    * each language profile (count of profile hits), argmax with a fixed
    * tie-break order. The classic fastText/langid heuristic reduced to
    * built-ins; per-row, zero shuffle. */
  private def tLangId: Q = (s, dir) => {
    val d = Tables.documents(s, dir).withColumn("toks", tokens(col("text")))
    val scored = langProfiles.foldLeft(d) { case (df, (name, words)) =>
      val arr = words.map(w => s"'$w'").mkString("array(", ", ", ")")
      df.withColumn(s"score_$name",
        size(filter(col("toks"), t => array_contains(expr(arr), t))).cast("long"))
    }
    scored.select(
      col("doc_id"),
      col("score_english"), col("score_dbish"), col("score_computish"),
      when(col("score_english") >= col("score_dbish")
          && col("score_english") >= col("score_computish"), "english")
        .when(col("score_dbish") >= col("score_computish"), "dbish")
        .otherwise("computish").as("pred_lang"))
  }

  private val tLangIdSql = {
    val toks = duckTokens("text")
    val scores = langProfiles.map { case (name, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(toks, t -> list_contains($arr, t))) AS score_$name"
    }.mkString(",\n    ")
    s"""SELECT doc_id, score_english, score_dbish, score_computish,
       | CASE WHEN score_english >= score_dbish AND score_english >= score_computish THEN 'english'
       |      WHEN score_dbish >= score_computish THEN 'dbish'
       |      ELSE 'computish' END AS pred_lang
       |FROM (
       |  SELECT doc_id,
       |    $scores
       |  FROM (SELECT doc_id, $toks AS toks FROM documents))""".stripMargin
  }

  // ----------------------------------------------------------------
  // Document fingerprinting: rolling/polynomial hash
  // ----------------------------------------------------------------

  /** Content fingerprint: polynomial rolling hash of the normalized
    * text (exact-dup key) + the min token hash (a 1-permutation
    * minhash, the winnowing primitive). Portable hash (PortableHash)
    * so the oracle computes identical values. */
  private def tFingerprint: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    Tables.documents(s, dir)
      .withColumn("norm", concat_ws(" ", tokens(col("text"))))
      .select(
        col("doc_id"),
        PortableHash.polyHash(col("norm")).as("fingerprint"),
        expr(s"array_min(transform(${"split(norm, ' ')"}, t -> ${PortableHash.polyHashSql("t")}))")
          .as("min_token_hash"))
  }

  private val tFingerprintSql = {
    val toks = duckTokens("text")
    s"""SELECT doc_id,
       | ${PortableHash.duckPolyHash("norm")} AS fingerprint,
       | list_min(list_transform(string_split(norm, ' '),
       |   t -> ${PortableHash.duckPolyHash("t")})) AS min_token_hash
       |FROM (SELECT doc_id, array_to_string($toks, ' ') AS norm FROM documents)""".stripMargin
  }

  // ----------------------------------------------------------------
  // TF-IDF term scoring
  // ----------------------------------------------------------------

  /** Per-(document, token) TF-IDF scores. Two shuffles, both partial-
    * aggregated: tf = groupBy(doc, token) over the exploded tokens; df
    * joins back one row per distinct token (shuffle keyed on the token
    * — at 100 TB the df table is orders of magnitude smaller than the
    * postings and usually broadcastable after a frequency cut).
    *
    * The idf is the BM25-style RATIO form (N − df + 0.5)/(df + 0.5),
    * not log((N+1)/(df+1)): pure rational double arithmetic is
    * bit-identical across engines, while libm log implementations may
    * differ in the last ulp and flip a rounding boundary. */
  private def tTfidf: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5), 6)
          .as("score"))
  }

  private val tTfidfSql = {
    val toks = duckTokens("text")
    s"""WITH e AS (SELECT doc_id, unnest($toks) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM e
       |       WHERE token <> '' GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |n AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT doc_id, token, tf, df,
       |       round(tf * (n_docs - df + 0.5) / (df + 0.5), 6) AS score
       |FROM tf JOIN df USING (token) CROSS JOIN n""".stripMargin
  }

  // ----------------------------------------------------------------
  // BM25 ranked retrieval (Robertson-Spärck Jones probabilistic IR)
  // ----------------------------------------------------------------

  /** The fixed retrieval query for the oracle fixture. The façade form
    * ([[graft.Graft]] binds `text.bm25Topk`) takes arbitrary terms. */
  private[graft] val Bm25Terms = Seq("vector", "hash", "stream")

  /** Shared BM25 scoring arithmetic, rendered identically for Spark's
    * `expr` and the DuckDB oracle. A naive float rendering of the
    * formula diverged in the last ulp between engines (different
    * intermediate op sequences), flipping 6-dp roundings — so the
    * whole score is algebraized into ONE exact integer numerator and
    * denominator (k1 = 6/5, b = 3/4, idf in the ratio form
    * (N − df + ½)/(df + ½), avgdl = S/N with S = Σdl; all the ½s and
    * 5ths clear):
    *
    *   sc = 44·tf·S·(2N − 2df + 1) / [(2df + 1)·(20·S·tf + 6·S + 18·dl·N)]
    *
    * and evaluated as a SINGLE double division — IEEE division of
    * identical operands is bit-identical everywhere. Both factors fit
    * long comfortably (≲10¹³ at the fixture scales; at true corpus
    * scale the façade path doesn't need oracle-exactness). */
  private[operators] def bm25Sc(tf: String, df: String, dl: String, nDocs: String, sumDl: String): String =
    s"CAST(44 * $tf * $sumDl * (2 * $nDocs - 2 * $df + 1) AS DOUBLE) / " +
      s"CAST((2 * $df + 1) * (20 * $sumDl * $tf + 6 * $sumDl + 18 * $dl * $nDocs) AS DOUBLE)"

  /** The same ratio with every factor lifted to DOUBLE BEFORE the
    * multiplications — the FAÇADE form. The exact-integer rendering
    * above is what the oracle needs (bit-parity with DuckDB) but its
    * long products overflow once S = Σdl reaches true corpus scale
    * (S ≈ 10¹² tokens × tf already exceeds 2⁶³ — wrapped garbage with
    * ANSI off, ArithmeticException with ANSI on). Double products
    * lose only last-ulp exactness, which serving paths don't sell. */
  private[operators] def bm25ScDouble(tf: String, df: String, dl: String,
      nDocs: String, sumDl: String): String = {
    def d(x: String) = s"CAST($x AS DOUBLE)"
    s"44 * ${d(tf)} * ${d(sumDl)} * (2 * ${d(nDocs)} - 2 * ${d(df)} + 1) / " +
      s"((2 * ${d(df)} + 1) * (20 * ${d(sumDl)} * ${d(tf)} + 6 * ${d(sumDl)} + 18 * ${d(dl)} * ${d(nDocs)}))"
  }

  /** Shared arbitrary-term top-k cut over a (doc_id, token, sc) frame
    * — ONE definition for the in-query, memo-indexed, and incremental
    * serving paths, so a change to the rounding or tie-break policy
    * cannot silently diverge the three (their parity is spec-pinned).
    *
    * Partials sum as exact INTEGERS in nano-units (floor(sc·10⁹ + ½))
    * rather than doubles: with 3+ query terms a double groupBy-sum
    * lets partial-agg order pick the last ulp across runs and
    * partitionings, which would break the spec-pinned cross-path
    * parity (2-operand float addition is commutative, so 2-term tests
    * could never catch it). Integer addition is order-free, and the
    * nano quantization (well past the 6-dp output rounding) is the
    * same discipline [[AnnIndex.probeAdc]]'s ADC sums use. */
  private[operators] def bm25TopkCut(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("doc_id"))
      .agg(sum(floor(col("sc") * lit(1e9) + lit(0.5)).cast("long")).as("nanos"))
      .select(col("doc_id"), expr(r6("cast(nanos as double) / 1e9")).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)

  /** Engine-portable 6-dp rounding: fixed-point via floor on the SAME
    * double ops in both engines. `round(x, 6)` is NOT portable —
    * Spark rounds the double's decimal string HALF_UP
    * (`BigDecimal.valueOf`) while DuckDB rounds the scaled double
    * x·10⁶, and near-half-point inputs round differently.
    * floor(x·10⁶ + 0.5)/10⁶ runs the identical op sequence on the
    * identical double in both engines, so whatever it picks at a
    * boundary, it picks in both. Positive inputs only. */
  private[operators] def r6(x: String): String =
    s"floor(($x) * 1e6 + 0.5) / 1e6"  // 1e6 not 1000000.0: Spark parses the
                                      // latter as DECIMAL and the division
                                      // would yield DECIMAL(·,9) output

  /** An exact DECIMAL sum as a 6-dp double: rounded in the decimal
    * domain first, then cast. Casting first and rounding the double
    * is not portable — a sum ending in …500 becomes a double just
    * above or below the half point. Spark rounds the double's decimal
    * string (`BigDecimal.valueOf`) half up; DuckDB rounds the scaled
    * double x·10⁶, so -0.2608405 (-0.26084049999… as a double) gave
    * -0.260841 in Spark and -0.26084 in DuckDB (`s_pq_adc`, seed 314).
    * Both engines round DECIMAL half away from zero, and the 6-dp
    * decimal casts to the same nearest double in both. Oracle twin:
    * `round(<sum>, 6)::DOUBLE`. */
  private[graft] def decimalR6(sum: Column): Column = round(sum, 6).cast("double")

  /** Per-(doc, query-term) BM25 partial scores over a (doc_id, text)
    * frame — the shared core of the oracle query and the façade
    * ([[graft.Graft]] binds `text.bm25Topk`).
    *
    * Scale shape: the corpus is touched twice, both narrow-in, both
    * partial-aggregated — once for per-doc lengths (zero shuffle past
    * the tiny agg), once for postings RESTRICTED to the query terms
    * before the shuffle (the `isin` filter runs inside the scan's
    * codegen stage, so the (doc, term) exchange carries only matching
    * postings — at 100 TB that is |terms| postings lists, not the
    * corpus). df (≤ |terms| rows) and the corpus stats (1 row)
    * broadcast. */
  private[graft] def bm25ScoredOf(docs: DataFrame, terms: Seq[String],
      exactInt: Boolean = false): DataFrame = {
    // null text ≡ empty text (dl = 0, no postings): without the
    // coalesce, ANSI-off size(filter(tokens(null))) = -1 would feed
    // dl = -1 into s_dl/avgdl — the TextAnalysis-wide convention
    // (cdcChunksOf etc.) applied here too
    val txt = coalesce(col("text"), lit(""))
    val dl = docs.select(col("doc_id"),
      size(filter(tokens(txt), t => t =!= "")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("s_dl"))
    val tf = docs
      .select(col("doc_id"), explode(tokens(txt)).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val sc = if (exactInt) bm25Sc("tf", "df", "dl", "n_docs", "s_dl")
             else bm25ScDouble("tf", "df", "dl", "n_docs", "s_dl")
    tf.join(broadcast(df), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("token"), expr(sc).as("sc"))
  }

  /** Façade form: BM25 top-k for an arbitrary term set — (doc_id,
    * bm25) rows, k-bounded via TakeOrderedAndProject. The total sums
    * per-term partials with a groupBy (at arbitrary |terms| a pivot
    * is impossible); the last ulp of a float sum depends on partial-
    * agg order, which is why the ORACLE query pivots fixed columns
    * instead. */
  def bm25TopkOf(docs: DataFrame, terms: Seq[String], k: Int): DataFrame =
    bm25TopkCut(bm25ScoredOf(docs, terms), k)

  /** Shared fixed-term pivot over a (doc_id, token, sc) frame: the
    * per-term scores land in fixed columns so the total sums in a
    * deterministic order (float addition is not associative — a
    * groupBy-sum would let partial-agg order pick the last ulp), then
    * the portable rounding and the top-20 cut. Used by both the
    * in-query `t_bm25` and the index-served `t_bm25_indexed`, which is
    * what lets them share one oracle. */
  private[operators] def bm25FixedPivot(sc: DataFrame): DataFrame =
    sc.groupBy(col("doc_id"))
      .agg(
        max(when(col("token") === Bm25Terms(0), col("sc"))).as("sv"),
        max(when(col("token") === Bm25Terms(1), col("sc"))).as("sh"),
        max(when(col("token") === Bm25Terms(2), col("sc"))).as("ss"))
      .select(col("doc_id"),
        expr(r6("coalesce(sv, 0.0)")).as("s_vector"),
        expr(r6("coalesce(sh, 0.0)")).as("s_hash"),
        expr(r6("coalesce(ss, 0.0)")).as("s_stream"),
        expr(r6("coalesce(sv, 0.0) + coalesce(sh, 0.0) + coalesce(ss, 0.0)")).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(20)

  private def tBm25: Q = (s, dir) =>
    bm25FixedPivot(bm25ScoredOf(Tables.documents(s, dir), Bm25Terms, exactInt = true))

  private val Bm25FilterLang = "en"

  /** T-bm25-filtered: METADATA-FILTERED retrieval — BM25 top-k
    * restricted to `lang = 'en'` documents, scored with GLOBAL corpus
    * statistics (the Lucene/Elasticsearch filter-query convention: a
    * filter narrows the CANDIDATES, never the idf — otherwise one doc
    * scores differently under every filter and cached per-term stats
    * become filter-dependent; shared hits carry identical scores to
    * the unfiltered `t_bm25`, which the oracle proves since both
    * pivot the same `sc`). The [[Similarity]] `s_ivf_filtered` shape
    * for text. Here the filter joins the term-bounded candidate set
    * (postings lists, not the corpus) to the predicate's doc set; at
    * serving scale the filter key is DENORMALIZED onto the index
    * postings — exactly like `dl` already is — so the pruned scan
    * applies it before any shuffle. */
  private def tBm25Filtered: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    bm25FixedPivot(
      bm25ScoredOf(docs, Bm25Terms, exactInt = true)
        .join(docs.filter(col("lang") === Bm25FilterLang).select(col("doc_id")),
          "doc_id"))
  }

  private val tBm25FilteredSql = {
    val toks = duckTokens("coalesce(text, '')")
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (SELECT doc_id, CAST(len(list_filter($toks, t -> t <> '')) AS BIGINT) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS s_dl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf
       |       FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
       |       WHERE token IN ($terms) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |sc AS (SELECT doc_id, token, ${bm25Sc("tf", "df", "dl", "n_docs", "s_dl")} AS sc
       |       FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
       |flt AS (SELECT doc_id FROM documents WHERE lang = '$Bm25FilterLang'),
       |wide AS (SELECT doc_id,
       |   max(CASE WHEN token = '${Bm25Terms(0)}' THEN sc END) AS sv,
       |   max(CASE WHEN token = '${Bm25Terms(1)}' THEN sc END) AS sh,
       |   max(CASE WHEN token = '${Bm25Terms(2)}' THEN sc END) AS ss
       | FROM sc JOIN flt USING (doc_id) GROUP BY doc_id)
       |SELECT doc_id,
       |       ${r6("coalesce(sv, 0.0)")} AS s_vector,
       |       ${r6("coalesce(sh, 0.0)")} AS s_hash,
       |       ${r6("coalesce(ss, 0.0)")} AS s_stream,
       |       ${r6("coalesce(sv, 0.0) + coalesce(sh, 0.0) + coalesce(ss, 0.0)")} AS bm25
       |FROM wide ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  // ----------------------------------------------------------------
  // Phrase-constrained BM25 (exact consecutive-token match)
  // ----------------------------------------------------------------

  private[graft] val Bm25Phrase = Seq("vector", "hash")

  /** Phrase retrieval, the Lucene two-stage shape: candidates are the
    * docs whose postings contain EVERY phrase term (the intersection a
    * production deploy reads from the term index — work bounded by the
    * phrase terms' postings, never the corpus), and only candidates
    * pay the adjacency confirm — an exact consecutive-token match on
    * the space-joined normalized token stream, space-padded on both
    * sides so a token-internal suffix ("xvector hash") can never
    * false-positive. Scoring keeps the filter-query convention
    * ([[tBm25Filtered]]): BM25 over the phrase's terms with GLOBAL
    * corpus statistics — the phrase narrows candidates, never the idf.
    * Per-term partials sum as nano-integers (order-free), ordering is
    * on the exact integer, rounding is the portable [[r6]]. */
  private[graft] def phraseBm25Of(docs: DataFrame, phrase: Seq[String],
      k: Int): DataFrame = {
    require(phrase.nonEmpty && phrase.forall(_.nonEmpty))
    val needle = phrase.mkString(" ", " ", " ")
    val cand = bm25ScoredOf(docs, phrase, exactInt = true)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nt"),
        sum(floor(col("sc") * lit(1e9) + lit(0.5)).cast("long")).as("nanos"))
      .filter(col("nt") === phrase.distinct.length)
    val txt = coalesce(col("text"), lit(""))
    docs.select(col("doc_id"),
        concat(lit(" "),
          array_join(filter(tokens(txt), t => t =!= ""), " "),
          lit(" ")).as("joined"))
      .join(cand, "doc_id")
      .filter(col("joined").contains(needle))
      .orderBy(col("nanos").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"),
        expr(r6("cast(nanos as double) / 1e9")).as("bm25"))
  }

  private def tBm25Phrase: Q = (s, dir) =>
    phraseBm25Of(Tables.documents(s, dir), Bm25Phrase, 20)

  /** Snippets for phrase hits — the serving layer's highlight stage:
    * each hit doc's text reduces to the ±`context` tokens around its
    * FIRST phrase occurrence (first = lowest position in the same
    * filtered-token coordinate system the index stores). `hits` is
    * `(doc_id, bm25)` (any phrase scorer — the indexed probe in
    * production) and is hit-count-sized, so the corpus join is a
    * broadcast and the token work touches only hit docs. One
    * codegen'd projection: position scan + slice + join, no UDF. */
  private[graft] def phraseSnippetsOf(docs: DataFrame, hits: DataFrame,
      phrase: Seq[String], context: Int = 3): DataFrame = {
    require(phrase.nonEmpty && phrase.forall(_.nonEmpty))
    val k = phrase.length
    val conds = phrase.zipWithIndex.map { case (t, i) =>
      s"element_at(tk, CAST(p + $i AS INT)) = '$t'" }.mkString(" AND ")
    docs.join(broadcast(hits), "doc_id")
      .select(col("doc_id"), col("bm25"),
        filter(tokens(coalesce(col("text"), lit(""))), t => t =!= "").as("tk"))
      .withColumn("start",
        expr(s"element_at(filter(sequence(1, size(tk) - ${k - 1}), p -> $conds), 1)"))
      .select(col("doc_id"), col("bm25"),
        expr(s"array_join(slice(tk, greatest(start - $context, 1), " +
          s"start + ${k + context} - greatest(start - $context, 1)), ' ')")
          .as("snippet"))
  }

  private val tBm25PhraseSql = {
    val toks = duckTokens("coalesce(text, '')")
    val terms = Bm25Phrase.map(t => s"'$t'").mkString(", ")
    val needle = Bm25Phrase.mkString(" ", " ", " ")
    s"""WITH dl AS (SELECT doc_id, CAST(len(list_filter($toks, t -> t <> '')) AS BIGINT) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS s_dl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf
       |       FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
       |       WHERE token IN ($terms) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |sc AS (SELECT doc_id, token, ${bm25Sc("tf", "df", "dl", "n_docs", "s_dl")} AS sc
       |       FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
       |cand AS (SELECT doc_id,
       |           sum(CAST(floor(sc * 1e9 + 0.5) AS BIGINT)) AS nanos
       |         FROM sc GROUP BY doc_id
       |         HAVING count(*) = ${Bm25Phrase.distinct.length}),
       |conf AS (SELECT doc_id FROM documents
       |         WHERE contains(' ' || array_to_string(list_filter($toks, t -> t <> ''), ' ') || ' ',
       |                        '$needle'))
       |SELECT doc_id, ${r6("CAST(nanos AS DOUBLE) / 1e9")} AS bm25
       |FROM cand JOIN conf USING (doc_id)
       |ORDER BY nanos DESC, doc_id LIMIT 20""".stripMargin
  }

  private val tBm25Sql = {
    val toks = duckTokens("coalesce(text, '')")
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (SELECT doc_id, CAST(len(list_filter($toks, t -> t <> '')) AS BIGINT) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS s_dl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf
       |       FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
       |       WHERE token IN ($terms) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |sc AS (SELECT doc_id, token, ${bm25Sc("tf", "df", "dl", "n_docs", "s_dl")} AS sc
       |       FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
       |wide AS (SELECT doc_id,
       |   max(CASE WHEN token = '${Bm25Terms(0)}' THEN sc END) AS sv,
       |   max(CASE WHEN token = '${Bm25Terms(1)}' THEN sc END) AS sh,
       |   max(CASE WHEN token = '${Bm25Terms(2)}' THEN sc END) AS ss
       | FROM sc GROUP BY doc_id)
       |SELECT doc_id,
       |       ${r6("coalesce(sv, 0.0)")} AS s_vector,
       |       ${r6("coalesce(sh, 0.0)")} AS s_hash,
       |       ${r6("coalesce(ss, 0.0)")} AS s_stream,
       |       ${r6("coalesce(sv, 0.0) + coalesce(sh, 0.0) + coalesce(ss, 0.0)")} AS bm25
       |FROM wide ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  // ----------------------------------------------------------------
  // BM25F fielded retrieval (Robertson & Zaragoza 2004)
  // ----------------------------------------------------------------

  /** Title weight 3 / body weight 1, b = ½ both fields, k1 = 6/5; the
    * title is the first [[Bm25fTitleLen]] non-empty tokens (the test
    * corpus has no field structure, so the fields are derived
    * deterministically — a real corpus supplies them as columns and
    * the arithmetic is unchanged). */
  private[graft] val Bm25fTitleLen = 8

  /** BM25F score for one term, algebraized to exact integers the
    * [[bm25Sc]] way so Spark and DuckDB agree to the bit. Per
    * Robertson & Zaragoza, field TFs combine into one pseudo-frequency
    * BEFORE saturation (the whole point of BM25F — per-field BM25
    * summed after saturation over-rewards a term spread thin):
    *
    *   norm_f = 1 − b + b·dl_f/avgdl_f   (b = ½, avgdl_f = S_f/N)
    *   tf̃    = Σ_f w_f·tf_f/norm_f = 2A/D with
    *             A = 3·tf_t·S_t·(S_b + dl_b·N) + tf_b·S_b·(S_t + dl_t·N)
    *             D = (S_t + dl_t·N)·(S_b + dl_b·N)
    *   sc     = idf · tf̃/(k1 + tf̃)
    *          = 5A·(2N − 2df + 1) / [(2df + 1)·(3D + 5A)]
    *
    * (all ½s, 5ths and the ratio-form idf clear exactly), evaluated as
    * ONE double division. The products carry S_t·S_b (corpus-length
    * SQUARED — unlike unfielded bm25Sc they outgrow BIGINT at ~10× the
    * sf0.1 fixture, found by the r11 scale sweep under ANSI), so each
    * product chain is promoted to 128-bit-exact arithmetic at its
    * head: Spark DECIMAL(38,0) / DuckDB HUGEINT (`bigType`) — exact
    * in both engines to 38 digits, headroom past 10¹² docs; both
    * convert the exact integer to nearest-double identically for the
    * final division. Precondition: each field globally non-empty
    * (S_f > 0), else the norm is degenerate. */
  private[operators] def bm25fSc(tft: String, tfb: String, dlt: String,
      dlb: String, df: String, n: String, st: String, sb: String,
      bigType: String = "DECIMAL(38,0)"): String = {
    def big(x: String) = s"CAST($x AS $bigType)"
    val a = s"(3 * ${big(tft)} * $st * ($sb + $dlb * $n) + " +
      s"${big(tfb)} * $sb * ($st + $dlt * $n))"
    val d = s"(${big(s"$st + $dlt * $n")} * ($sb + $dlb * $n))"
    s"CAST(5 * $a * (2 * $n - 2 * $df + 1) AS DOUBLE) / " +
      s"CAST((2 * $df + 1) * (3 * $d + 5 * $a) AS DOUBLE)"
  }

  /** Per-(doc, query-term) BM25F partials over a (doc_id, text) frame.
    * Same scale shape as [[bm25ScoredOf]]: the corpus is touched twice
    * narrow-in — once for per-field lengths (partial-agg'd to a 1-row
    * stats frame), once for per-field postings RESTRICTED to the query
    * terms inside the scan's codegen stage (the (doc, term, field)
    * exchange carries |terms| postings lists, never the corpus; the
    * field tag rides the exploded row, so both fields price in the ONE
    * shuffle). df counts docs matching in EITHER field (title ∪ body =
    * the whole doc, so it equals unfielded df). */
  private[graft] def bm25fScoredOf(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val toks = filter(tokens(txt), t => t =!= "")
    val fields = docs.select(col("doc_id"),
      slice(toks, 1, Bm25fTitleLen).as("title_toks"),
      slice(toks, lit(Bm25fTitleLen + 1), greatest(size(toks) - Bm25fTitleLen, lit(0)))
        .as("body_toks"))
    val dl = fields.select(col("doc_id"),
      size(col("title_toks")).cast("long").as("dl_t"),
      size(col("body_toks")).cast("long").as("dl_b"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl_t")).as("s_t"), sum(col("dl_b")).as("s_b"))
    val tf = fields
      .select(col("doc_id"), explode(concat(
        transform(col("title_toks"), t => struct(t.as("token"), lit("t").as("f"))),
        transform(col("body_toks"), t => struct(t.as("token"), lit("b").as("f")))))
        .as("tk"))
      .select(col("doc_id"), col("tk.token").as("token"), col("tk.f").as("f"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(sum(when(col("f") === "t", 1L).otherwise(0L)).as("tf_t"),
        sum(when(col("f") === "b", 1L).otherwise(0L)).as("tf_b"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("token"),
        expr(bm25fSc("tf_t", "tf_b", "dl_t", "dl_b", "df", "n_docs", "s_t", "s_b")).as("sc"))
  }

  /** Façade form: BM25F top-k for arbitrary terms — nano-integer
    * order-free partial sums, k-bounded via TakeOrderedAndProject. */
  def bm25fTopkOf(docs: DataFrame, terms: Seq[String], k: Int): DataFrame =
    bm25TopkCut(bm25fScoredOf(docs, terms), k)

  /** T-bm25f: fielded retrieval on the fixed oracle terms — per-term
    * scores in fixed columns (deterministic float-add order, the
    * [[bm25FixedPivot]] discipline), portable rounding, top-20. A
    * title hit outscores the same hit buried in the body, which is
    * what the field weights sell. */
  private def tBm25f: Q = (s, dir) =>
    bm25FixedPivot(bm25fScoredOf(Tables.documents(s, dir), Bm25Terms))

  private val tBm25fSql = {
    val toks = s"list_filter(${duckTokens("coalesce(text, '')")}, t -> t <> '')"
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH fld AS (SELECT doc_id, $toks[1:$Bm25fTitleLen] AS title_toks,
       |                    $toks[${Bm25fTitleLen + 1}:] AS body_toks FROM documents),
       |dl AS (SELECT doc_id, CAST(len(title_toks) AS BIGINT) AS dl_t,
       |              CAST(len(body_toks) AS BIGINT) AS dl_b FROM fld),
       |stats AS (SELECT count(*) AS n_docs, sum(dl_t) AS s_t, sum(dl_b) AS s_b FROM dl),
       |tk AS (SELECT doc_id, unnest(title_toks) AS token, 't' AS f FROM fld
       |       UNION ALL SELECT doc_id, unnest(body_toks), 'b' FROM fld),
       |tf AS (SELECT doc_id, token,
       |         CAST(sum(CASE WHEN f = 't' THEN 1 ELSE 0 END) AS BIGINT) AS tf_t,
       |         CAST(sum(CASE WHEN f = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS tf_b
       |       FROM tk WHERE token IN ($terms) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |sc AS (SELECT doc_id, token,
       |         ${bm25fSc("tf_t", "tf_b", "dl_t", "dl_b", "df", "n_docs", "s_t", "s_b",
                  bigType = "HUGEINT")} AS sc
       |       FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
       |wide AS (SELECT doc_id,
       |   max(CASE WHEN token = '${Bm25Terms(0)}' THEN sc END) AS sv,
       |   max(CASE WHEN token = '${Bm25Terms(1)}' THEN sc END) AS sh,
       |   max(CASE WHEN token = '${Bm25Terms(2)}' THEN sc END) AS ss
       | FROM sc GROUP BY doc_id)
       |SELECT doc_id,
       |       ${r6("coalesce(sv, 0.0)")} AS s_vector,
       |       ${r6("coalesce(sh, 0.0)")} AS s_hash,
       |       ${r6("coalesce(ss, 0.0)")} AS s_stream,
       |       ${r6("coalesce(sv, 0.0) + coalesce(sh, 0.0) + coalesce(ss, 0.0)")} AS bm25
       |FROM wide ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  // ----------------------------------------------------------------
  // UniMax language-budget allocation (waterfilling)
  // ----------------------------------------------------------------

  /** UniMax-style language sampling budgets (Chung et al. 2023,
    * "UniMax: Fairer and More Effective Language Sampling"): given a
    * token budget B and a per-language epoch cap E, allocate each
    * language min(E·cᵢ, t) tokens where the water level t is chosen so
    * the allocations exhaust B — low-resource languages are fully
    * capped at E epochs, high-resource languages split the remainder
    * evenly. Here E = 2 and B = ⌊8·S/5⌋ (S = corpus tokens), which
    * makes the partition non-trivial on the fixture's skew.
    *
    * The waterfill is the classic sorted closed form, not a loop: with
    * caps ascending, k* = max{k : cap_k·(n−k) ≤ B − Σ_{i≤k}cap_i}
    * (languages 1..k* fully capped) and t = (B − Σ_{i≤k*}cap_i)/(n−k*).
    * Every comparison is INTEGER (cross-multiplied — no float
    * boundaries to disagree on between engines); the only float ops
    * are the final t and epochs divisions, identical text in both
    * renderings. One corpus scan → |languages| rows; everything past
    * the first aggregate is model-sized, so the op is a single
    * partial-agg pass at any corpus size. */
  /** Waterfill core over a (lang, c) token-count frame: epoch cap `e`,
    * budget B = (bNum·S) div bDen with S = Σc. All tiny frames past
    * the input aggregate. */
  private[graft] def unimaxOf(counts: DataFrame, e: Long, bNum: Long, bDen: Long): DataFrame = {
    // constant partition key: the frame is |languages|-sized (post-agg),
    // so one partition is correct — the explicit key just keeps the
    // benign single-partition WindowExec warning out of the driver log
    val w = Window.partitionBy(lit(0)).orderBy(col("c").asc, col("lang").asc)
    val ranked = counts.select(col("lang"), col("c"),
        row_number().over(w).cast("long").as("k"),
        sum(col("c")).over(w).as("p"))
      .crossJoin(broadcast(counts.agg(count(lit(1)).as("n"),
        expr(s"($bNum * sum(c)) div $bDen").as("b"))))
    val kstar = ranked
      .agg(max(when(expr(s"$e * c * (n - k) <= b - $e * p"), col("k")).otherwise(lit(0L)))
        .as("kstar"),
        max(when(expr(s"$e * c * (n - k) <= b - $e * p"), col("p")).otherwise(lit(0L)))
        .as("pstar"))
    ranked.crossJoin(broadcast(kstar))
      .select(col("lang"), col("c").as("tokens"), expr(s"$e * c").as("cap"),
        expr(r6(s"CASE WHEN k <= kstar THEN CAST($e * c AS DOUBLE) " +
          s"ELSE CAST(b - $e * pstar AS DOUBLE) / (n - kstar) END")).as("allocated"),
        expr(r6(s"CASE WHEN k <= kstar THEN CAST($e AS DOUBLE) " +
          s"ELSE CAST(b - $e * pstar AS DOUBLE) / (n - kstar) / c END")).as("epochs"))
      .orderBy(col("lang").asc)
  }

  private def tUnimax: Q = (s, dir) => {
    val c = Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(sum(size(filter(tokens(coalesce(col("text"), lit(""))), t => t =!= ""))
        .cast("long")).as("c"))
    unimaxOf(c, e = 2L, bNum = 8L, bDen = 5L)
  }

  private val tUnimaxSql = {
    val toks = duckTokens("coalesce(text, '')")
    s"""WITH c AS (SELECT lang, CAST(sum(len(list_filter($toks, t -> t <> ''))) AS BIGINT) AS c
       |           FROM documents GROUP BY lang),
       |ranked AS (SELECT lang, c,
       |    CAST(row_number() OVER (ORDER BY c, lang) AS BIGINT) AS k,
       |    sum(c) OVER (ORDER BY c, lang ROWS UNBOUNDED PRECEDING) AS p
       |  FROM c),
       |stats AS (SELECT count(*) AS n, (8 * sum(c)) // 5 AS b FROM c),
       |flags AS (SELECT k, p FROM ranked CROSS JOIN stats
       |          WHERE 2 * c * (n - k) <= b - 2 * p),
       |kstar AS (SELECT coalesce(max(k), 0) AS kstar,
       |                 coalesce(max(p), 0) AS pstar FROM flags)
       |SELECT lang, c AS tokens, 2 * c AS cap,
       |  ${r6("CASE WHEN k <= kstar THEN CAST(2 * c AS DOUBLE) " +
            "ELSE CAST(b - 2 * pstar AS DOUBLE) / (n - kstar) END")} AS allocated,
       |  ${r6("CASE WHEN k <= kstar THEN 2.0 " +
            "ELSE CAST(b - 2 * pstar AS DOUBLE) / (n - kstar) / c END")} AS epochs
       |FROM ranked CROSS JOIN stats CROSS JOIN kstar
       |ORDER BY lang""".stripMargin
  }

  // ----------------------------------------------------------------
  // Corpus-level token frequencies (vocabulary head)
  // ----------------------------------------------------------------

  /** Global top-20 tokens: partial-agg'd count per token, then
    * TakeOrderedAndProject (per-partition top-k + driver merge — no
    * global sort at any corpus size). Ties break on the token itself
    * so the cut is deterministic in both engines. */
  private def tTopTokens: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)

  private val tTopTokensSql = {
    val toks = duckTokens("text")
    s"""SELECT token, count(*) AS n
       |FROM (SELECT unnest($toks) AS token FROM documents)
       |WHERE token <> ''
       |GROUP BY token
       |ORDER BY n DESC, token LIMIT 20""".stripMargin
  }

  // ----------------------------------------------------------------
  // Exact heavy hitters: merged Misra-Gries candidates + verify
  // ----------------------------------------------------------------

  /** Misra-Gries summary of one partition's token stream with `k`
    * counters (Misra & Gries 1982): an unseen token either takes a
    * free counter or decrements every counter (zeros evicted). The
    * guarantee the two-pass operator leans on: any token whose count
    * in the stream exceeds len/(k+1) MUST hold a counter at the end —
    * a token with m occurrences can lose at most one per decrement
    * round, and each round consumes k+1 stream positions. */
  private[graft] def misraGries(it: Iterator[String], k: Int): Iterator[String] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      counts.get(t) match {
        case Some(c) => counts(t) = c + 1
        case None if counts.size < k => counts(t) = 1L
        case None =>
          counts.filterInPlace((_, c) => c > 1L)
            .mapValuesInPlace((_, c) => c - 1L); ()
      }
    }
    counts.keysIterator
  }

  /** EXACT threshold heavy hitters — every token with global count
    * c·(k+1) > N (N = corpus token count), with its exact count — via
    * candidates-then-verify: per-partition [[misraGries]] sketches
    * (bounded state, NO vocabulary shuffle) emit ≤ k candidates each;
    * only candidates pay the exact-count pass. Exactness is pigeonhole:
    * a token above the global threshold is above the per-partition
    * threshold in at least one partition, so the candidate union can't
    * miss it, and the verify pass makes false candidates harmless —
    * the result equals the naive GROUP BY + HAVING (the oracle) while
    * exchanging only candidate rows. Two narrow corpus scans; the
    * threshold compare is integer (cross-multiplied), so both engines
    * agree exactly. The [[tTopTokens]] groupBy-the-vocabulary shape is
    * fine when the vocabulary is bounded; THIS is the shape for
    * unbounded token universes (URLs, n-grams, user ids) at 100 TB. */
  private[graft] def frequentTermsOf(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs.select(
      explode(filter(tokens(coalesce(col("text"), lit(""))), t => t =!= ""))
        .as("token"))
    val cand = toks.as[String]
      .mapPartitions(it => misraGries(it, k))
      .toDF("token").distinct()          // ≤ k per partition before the distinct
    val n = toks.agg(count(lit(1)).as("n_tok"))
    toks.join(broadcast(cand), "token")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .filter(col("cnt") * (k + 1) > col("n_tok"))
      .select(col("token"), col("cnt"))
  }

  private val FreqTermsK = 2000

  private def tFrequentTerms: Q = (s, dir) =>
    frequentTermsOf(Tables.documents(s, dir), FreqTermsK)

  private val tFrequentTermsSql = {
    val toks = duckTokens("coalesce(text, '')")
    s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents),
       |tok2 AS (SELECT token FROM tok WHERE token <> ''),
       |n AS (SELECT count(*) AS n_tok FROM tok2),
       |c AS (SELECT token, count(*) AS cnt FROM tok2 GROUP BY token)
       |SELECT token, cnt FROM c CROSS JOIN n
       |WHERE cnt * ${FreqTermsK + 1} > n_tok""".stripMargin
  }

  // ----------------------------------------------------------------
  // Approx heavy hitters: Count-Min sketch under the within-bounds
  // contract
  // ----------------------------------------------------------------

  private val CmsEps = 0.001
  private val CmsConf = 0.99
  private val CmsSeed = 42
  private val CmsTopK = 20

  /** `t_top_tokens_cms` — Count-Min-sketch count estimates (Cormode &
    * Muthukrishnan 2005) for the exact top-k tokens, gated by the
    * `a8_approx_stats` within-bounds contract: the output carries the
    * EXACT counts plus two CMS-law booleans the oracle pins TRUE —
    * `never_under` (CMS is one-sided: every estimate ≥ the true
    * count) and `within_eps` (estimate ≤ true + ⌈ε·N⌉). Spark's
    * `count_min_sketch` aggregate builds the sketch DISTRIBUTED —
    * per-partition sketches are merged associatively by the partial
    * agg, so ONE depth×width integer table reaches the driver no
    * matter the corpus size; the k estimate lookups are driver-side
    * model-sized reads. This is the [[frequentTermsOf]] companion for
    * the monitoring use: Misra-Gries answers "which tokens are heavy"
    * exactly with two passes, the CMS answers "how heavy is THIS
    * token" for any ad-hoc token in O(1) after one pass — the shape a
    * vocabulary/contamination dashboard queries at 100 TB. The exact
    * top-k twin here is the correctness gate, not the production
    * path. */
  private def tTopTokensCms: Q = (s, dir) => {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(filter(tokens(coalesce(col("text"), lit(""))),
        t => t =!= "")).as("token"))
    val row = toks.agg(
      expr(s"count_min_sketch(token, ${CmsEps}d, ${CmsConf}d, $CmsSeed)").as("sk"),
      count(lit(1)).as("n_tok")).head()
    val sketch = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
    val slack = math.ceil(CmsEps * row.getLong(1)).toLong
    toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(CmsTopK)
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1),
        sketch.estimateCount(r.getString(0))))
      .toDF("token", "cnt", "est")
      .select(col("token"), col("cnt"),
        (col("est") >= col("cnt")).as("never_under"),
        (col("est") <= col("cnt") + slack).as("within_eps"))
  }

  private val tTopTokensCmsSql = {
    val toks = duckTokens("coalesce(text, '')")
    s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents),
       |tok2 AS (SELECT token FROM tok WHERE token <> ''),
       |c AS (SELECT token, count(*) AS cnt FROM tok2 GROUP BY token)
       |SELECT token, CAST(cnt AS BIGINT) AS cnt,
       |       TRUE AS never_under, TRUE AS within_eps
       |FROM c ORDER BY cnt DESC, token LIMIT $CmsTopK""".stripMargin
  }

  // ----------------------------------------------------------------
  // PII redaction (training-corpus scrubbing)
  // ----------------------------------------------------------------

  // Patterns chosen to behave identically under Java regex (Spark) and
  // RE2 (DuckDB): character classes, bounded repetition, \b anchors.
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\+\\d{1,3}-\\d{3}-\\d{4}"
  private[graft] val IpRe = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"

  /** DuckDB twin of [[redactPii]] over the SQL expression `inner`. */
  private[graft] def duckRedact(inner: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($inner,
       |    '$EmailRe', '<EMAIL>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g'),
       |    '$IpRe', '<IP>', 'g')""".stripMargin

  /** Column form of the redaction (the façade surface): emails, phone
    * numbers, IPv4 addresses → typed placeholders. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      IpRe, "<IP>")

  /** PII scrubbing — the redaction pass every public-web training
    * corpus runs before tokenization: emails, phone numbers, and IPv4
    * addresses replaced with typed placeholder tokens, plus per-doc
    * match counts (the audit trail a compliance review asks for).
    * The documents fixture carries no PII, so a deterministic "raw"
    * column injects one of each per doc (same fixture pattern as the
    * scrape html) — the operator itself is the projection over `raw`.
    * Narrow, codegen'd, zero shuffles at any corpus size. */
  private def tRedactPii: Q = (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("raw", concat(col("text"),
        lit(" contact: user"), col("doc_id").cast("string"),
        lit("@example.com tel +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" ip=10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit("."), pmod(col("doc_id") * 7, lit(256)).cast("string")))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_count(col("raw"), lit(IpRe)).cast("long").as("n_ips"),
        redactPii(col("raw")).as("redacted"))

  private val tRedactPiiSql =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(raw, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(raw, '$PhoneRe')) AS n_phones,
       |  len(regexp_extract_all(raw, '$IpRe')) AS n_ips,
       |  ${duckRedact("raw")} AS redacted
       |FROM (SELECT doc_id,
       |        text || ' contact: user' || doc_id || '@example.com tel +1-555-' ||
       |        lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
       |        ' ip=10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) AS raw
       |      FROM documents)""".stripMargin

  // ----------------------------------------------------------------
  // Sequence packing (token-budget binning for training shards)
  // ----------------------------------------------------------------

  private[graft] val PackBudget = 2048L

  /** Lang-partitioned token-budget packing: adds `pack_id` to a frame
    * carrying (doc_id, lang, n_tokens). ONE definition shared by
    * t_pack_sequences and the training-shards pipeline (and its DuckDB
    * twin below), so the packing rule cannot drift between them. */
  private[graft] def withPackId(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("__before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"__before DIV $PackBudget"))
      .drop("__before")
  }

  /** DuckDB twin of [[withPackId]]'s pack_id expression (expects
    * n_tokens/lang/doc_id in scope; BIGINT cast because DuckDB integer
    * sum() is HUGEINT, which the comparator stringifies as float). */
  private[graft] val duckPackIdExpr: String =
    s"""CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $PackBudget AS BIGINT)""".stripMargin

  /** Sequence packing — the "fill each training shard to ~budget
    * tokens" pass that turns a cleaned corpus into fixed-budget packs:
    * documents are walked in stable doc_id order WITHIN each language
    * shard (never a global order — the window partitions by `lang`, so
    * shards parallelize; SURVEY §7.5(6)), and each doc's pack id is
    * the integer division of the tokens accumulated BEFORE it by the
    * budget — the streaming first-fit approximation every large
    * pipeline uses (a doc may straddle two packs' boundary; exact
    * bin-capacity packing is inherently sequential). Integer token
    * counts ⇒ exact cumulative sums ⇒ tolerance-free oracle. */
  private def tPackSequences: Q = (s, dir) =>
    withPackId(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("n_tokens")))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("pack_id"))

  private val tPackSequencesSql = {
    val toks = duckTokens("text")
    s"""SELECT doc_id, lang, n_tokens,
       |  $duckPackIdExpr AS pack_id
       |FROM (SELECT doc_id, lang, len($toks) AS n_tokens FROM documents)""".stripMargin
  }

  // ----------------------------------------------------------------
  // Chunking: overlapping fixed-width windows (RAG / context prep)
  // ----------------------------------------------------------------

  private val ChunkLen = 200
  private val ChunkStride = 150  // 50-char overlap between neighbors

  /** Overlapping document chunking — the RAG/embedding prep step:
    * 200-char windows every 150 chars (50-char overlap so no sentence
    * is split across a hard boundary without also appearing whole).
    * A pure map-side generator: the chunk count derives arithmetically
    * from the length, the explode happens before any shuffle, and the
    * output carries an md5 digest instead of the chunk text (driver
    * comparator can't sort MB-scale cells; a real pipeline would keep
    * the text and feed the embedder). n_chunks = ⌊(len−1)/stride⌋+1,
    * guarded > 0 because Spark's sequence(0,−1) steps DOWNWARD. */
  private def tChunkOverlap: Q = (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("n", length(col("text")))
      .withColumn("n_chunks",
        when(col("n") >= 1, floor((col("n") - 1) / ChunkStride) + 1).otherwise(0L))
      .filter(col("n_chunks") > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("chunk_start", col("chunk_idx") * ChunkStride + 1)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        length(chunkSubstr(col("text"), col("chunk_start"))).cast("long").as("chunk_len"),
        md5(chunkSubstr(col("text"), col("chunk_start"))).as("chunk_digest"))

  /** substring(text, start, ChunkLen) with a Column start. */
  private def chunkSubstr(text: Column, start: Column): Column =
    text.substr(start.cast("int"), lit(ChunkLen))

  private val tChunkOverlapSql =
    s"""SELECT doc_id, chunk_idx, chunk_start,
       |  length(substring(text, chunk_start::BIGINT, $ChunkLen))::BIGINT AS chunk_len,
       |  md5(substring(text, chunk_start::BIGINT, $ChunkLen)) AS chunk_digest
       |FROM (SELECT doc_id, text,
       |        unnest(range(0, CASE WHEN length(text) >= 1
       |          THEN (length(text) - 1) // $ChunkStride + 1 ELSE 0 END)) AS chunk_idx,
       |        unnest(range(0, CASE WHEN length(text) >= 1
       |          THEN (length(text) - 1) // $ChunkStride + 1 ELSE 0 END)) * $ChunkStride + 1 AS chunk_start
       |      FROM documents)""".stripMargin

  // ----------------------------------------------------------------
  // Repetition detection (Gopher-style repeated-n-gram filter)
  // ----------------------------------------------------------------

  /** Intra-document repetition: 1 − distinct/total W-shingles — the
    * Gopher "repeated n-gram fraction" filter that catches boilerplate
    * and degenerate generations. Total shingle count is pure
    * arithmetic on the token count (max(n_toks−W+1, 1)); the distinct
    * count is the native `graft_shingle_hashes` cardinality (dedup by
    * shingle STRING, mirrored by the oracle's list_distinct). Narrow
    * projection, no shuffle. */
  private def tRepetition: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    Tables.documents(s, dir)
      .withColumn("n_toks", size(tokens(col("text"))).cast("long"))
      .withColumn("total", greatest(col("n_toks") - 4, lit(1L)))
      .withColumn("distinct_sh", size(expr("graft_shingle_hashes(text)")).cast("long"))
      .select(col("doc_id"), col("total").as("n_shingles"),
        col("distinct_sh").as("n_distinct"),
        round(lit(1.0) - col("distinct_sh") / col("total").cast("double"), 6)
          .as("rep_ratio"))
  }

  private val tRepetitionSql = {
    import graft.operators.Dedup.duckShingleCte
    s"""WITH $duckShingleCte,
       |tot AS (SELECT doc_id, greatest(len($duckTokensRef) - 4, 1)::BIGINT AS n_shingles
       |        FROM documents)
       |SELECT s.doc_id, tot.n_shingles,
       |  len(s.shingles)::BIGINT AS n_distinct,
       |  round(1.0 - len(s.shingles) / tot.n_shingles::DOUBLE, 6) AS rep_ratio
       |FROM s JOIN tot ON s.doc_id = tot.doc_id""".stripMargin
  }

  private def duckTokensRef = duckTokens("text")

  // ----------------------------------------------------------------
  // Cross-document boilerplate segment removal (C4/RefinedWeb line dedup)
  // ----------------------------------------------------------------

  private val SegLen = 10          // tokens per segment ("line")
  private val BoilerplateDf = 3    // distinct docs ⇒ boilerplate

  /** Cross-document boilerplate removal — the C4/RefinedWeb "line
    * dedup" pass: segments that recur across ≥ BoilerplateDf distinct
    * documents (nav bars, cookie banners, license footers) are struck
    * from every document, and the cleaned text is reassembled in
    * original order. The fixture corpus has no newlines, so the unit
    * of dedup is a fixed 10-token segment standing in for a line — a
    * real corpus would split on '\n' and the rest of the operator is
    * unchanged.
    *
    * Scale shape: segments hash to 8-byte longs map-side, so the df
    * aggregation shuffles (hash, doc_id) pairs, never segment text;
    * the df side is segment-vocabulary-sized (candidate for a
    * broadcast or a bloom prefilter at 100 TB); reassembly groups by
    * doc_id with a per-doc collect bounded by document length.
    *
    * Returns (doc_id, n_segments, n_removed, clean_text) with the
    * surviving segments rejoined in original order. THE one
    * implementation: the harness query (which digests clean_text —
    * comparator-safe) and [[graft.Graft.text]]'s facade both bind
    * it. */
  private[graft] def removeBoilerplateOf(docs: DataFrame,
      segLen: Int = SegLen, minDf: Int = BoilerplateDf): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(docs.sparkSession)
    // coalesce: a NULL text would otherwise explode into zero segment
    // rows and silently drop the doc from the one-row-per-doc output
    val segs = docs
      .withColumn("toks", tokens(coalesce(col("text"), lit(""))))
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(0L, ((size(toks) + ${segLen - 1}) DIV $segLen) - 1)"))
          .as("seg_idx"))
      .withColumn("seg",
        expr(s"array_join(slice(toks, cast(seg_idx * $segLen + 1 AS int), $segLen), ' ')"))
      .select(col("doc_id"), col("seg_idx"), col("seg"),
        PortableHash.polyHash(col("seg")).as("h"))
    val segDf = segs.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
    segs.join(segDf, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_removed"),
        sort_array(collect_list(when(col("df") < minDf,
          struct(col("seg_idx"), col("seg"))))).as("kept"))
      .select(col("doc_id"), col("n_segments"), col("n_removed"),
        expr("array_join(transform(kept, x -> x.seg), ' ')").as("clean_text"))
  }

  private def tLineDedup: Q = (s, dir) =>
    removeBoilerplateOf(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_segments"), col("n_removed"),
        md5(col("clean_text")).as("clean_digest"))

  private val tLineDedupSql = {
    val toks = duckTokens("text")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |segs AS (
       |  SELECT doc_id, i AS seg_idx,
       |         array_to_string(toks[i * $SegLen + 1 : i * $SegLen + $SegLen], ' ') AS seg
       |  FROM (SELECT doc_id, toks,
       |          unnest(range(0, (len(toks) + ${SegLen - 1}) // $SegLen)) AS i
       |        FROM t)),
       |hs AS (SELECT doc_id, seg_idx, seg,
       |         ${PortableHash.duckPolyHash("seg")} AS h
       |       FROM segs),
       |dfreq AS (SELECT h, count(DISTINCT doc_id) AS df FROM hs GROUP BY h)
       |SELECT doc_id,
       |  count(*) AS n_segments,
       |  CAST(count(*) FILTER (df >= $BoilerplateDf) AS BIGINT) AS n_removed,
       |  md5(coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (df < $BoilerplateDf), '')) AS clean_digest
       |FROM hs JOIN dfreq USING (h)
       |GROUP BY doc_id""".stripMargin
  }

  // ----------------------------------------------------------------
  // BPE merge induction (tokenizer vocabulary training)
  // ----------------------------------------------------------------

  private val BpeRounds = 3

  /** The greedy leftmost non-overlapping merge scan as a left fold
    * over a word's symbol array — expects columns `syms, a, b`; the
    * ONE definition [[bpeMerges]] trains with and [[bpeEncodeOf]]
    * applies, so train and encode cannot disagree on scan order. */
  private val MergeFold =
    """aggregate(syms, cast(array() as array<string>), (acc, x) ->
      |  CASE WHEN size(acc) > 0 AND element_at(acc, -1) = a AND x = b
      |       THEN concat(slice(acc, 1, size(acc) - 1), array(concat(a, b)))
      |       ELSE concat(acc, array(x)) END)""".stripMargin

  /** BPE vocabulary induction — the tokenizer-training loop itself,
    * run the way production BPE trainers run it: the corpus collapses
    * ONCE to a (word, freq) vocabulary table (the only corpus-volume
    * aggregate; everything after is vocab-sized however large the
    * corpus), words split to character symbols, then each round counts
    * adjacent symbol pairs weighted by word frequency, picks the most
    * frequent pair (ties break lexicographically), and merges it
    * everywhere — the greedy leftmost non-overlapping scan, expressed
    * as a left fold over each word's symbol array with the winning
    * pair cross-joined in as columns (both engines fold in identical
    * element order). Output: the learned merge table
    * (merge_round, sym_a, sym_b, pair_count) — rounds-deep driver
    * iteration over vocab-sized frames, exactly the loop shape real
    * trainers use. */
  def bpeMerges(docs: DataFrame, rounds: Int = BpeRounds): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the ONE corpus-volume aggregate, persisted so the merge rounds
    // genuinely reuse it (an unpersisted lazy chain would re-run the
    // corpus scan per round); released before returning — the result
    // is a driver-local merge table, so nothing leaks into the session
    val words = docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("syms"), col("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cur = words
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val top = cur.select(col("freq"), explode(expr(
          "zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1), (a, b) -> struct(a, b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // vocab ran out of pairs
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((r.toLong, a, b, cnt))
        // apply the merge — except on the LAST round, whose merged
        // vocab nothing ever reads (the oracle's unrolled chain makes
        // the same cut: "last round never applies its merge"). The
        // checkpoint is LAZY: the next round's top-pair collect is the
        // materializing action, so each round is ONE job, not two
        // (r14; the graph loops' lazy-checkpoint discipline).
        if (r < rounds - 1)
          cur = cur.crossJoin(broadcast(Seq((a, b)).toDF("a", "b")))
            .select(expr(MergeFold).as("syms"), col("freq"))
            .localCheckpoint(false)
      }
      r += 1
    }
    words.unpersist()
    learned.toSeq.toDF("merge_round", "sym_a", "sym_b", "pair_count")
  }

  private def tBpeMerges: Q = (s, dir) =>
    bpeMerges(Tables.documents(s, dir))

  /** DuckDB twin of the greedy merge scan — expects a symbol list
    * `$syms` and a merge row `$m` (columns a, b) in scope. */
  private def duckMergeFold(syms: String, m: String): String =
    s"""list_reduce(list_transform($syms, x -> [x]),
       |  (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = $m.a AND x[1] = $m.b
       |                   THEN acc[1:len(acc)-1] || [$m.a || $m.b]
       |                   ELSE acc || x END)""".stripMargin

  /** The unrolled BPE-training CTE chain (words/w0 + per-round
    * pN/mN/wN+1) ending with merge rows m0..m{rounds-1} — shared by
    * the merges oracle and the encode oracle. MATERIALIZED like every
    * unrolled oracle here — each wN is referenced twice. */
  private def duckBpeCtes(rounds: Int): String = {
    val toks = duckTokens("text")
    val roundCtes = (0 until rounds).map { r =>
      val next =
        if (r == rounds - 1) "" // last round never applies its merge
        else s""",
          |w${r + 1} AS MATERIALIZED (
          |  SELECT ${duckMergeFold("syms", s"m$r")} AS syms,
          |         freq
          |  FROM w$r CROSS JOIN m$r)""".stripMargin
      s"""p$r AS MATERIALIZED (
         |  SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT unnest(syms[1:len(syms)-1]) AS a,
         |               unnest(syms[2:len(syms)]) AS b, freq
         |        FROM w$r)
         |  GROUP BY a, b),
         |m$r AS MATERIALIZED (
         |  SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1)$next""".stripMargin
    }.mkString(",\n")
    s"""words AS MATERIALIZED (
       |  SELECT w, count(*) AS freq
       |  FROM (SELECT unnest($toks) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |w0 AS MATERIALIZED (SELECT split(w, '') AS syms, freq FROM words),
       |$roundCtes""".stripMargin
  }

  private val tBpeMergesSql = {
    val out = (0 until BpeRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_round, a AS sym_a, b AS sym_b, cnt AS pair_count FROM m$r")
      .mkString("\nUNION ALL\n")
    s"""WITH ${duckBpeCtes(BpeRounds)}
       |$out""".stripMargin
  }

  /** BPE ENCODE — the apply half of the tokenizer story: run the
    * learned merge table over the corpus and emit, per document, the
    * word count, the encoded symbol count (the "token count" the
    * trained tokenizer would bill), and an md5 digest of the encoded
    * symbol stream in document order (standing in for the encoded
    * ids). Merges are applied with the SAME [[MergeFold]] scan they
    * were trained with, in training order — encode of a training word
    * is exactly its final training segmentation, and unseen words get
    * the standard longest-learned-first behavior of ordered BPE.
    *
    * Scale shape: the merges come back as `rounds` driver-local rows;
    * encoding runs over the DISTINCT-word vocabulary (vocab-sized
    * work, broadcast merge rows, however large the corpus), and the
    * corpus only pays a token→vocab equi-join plus a per-doc ordered
    * agg — text never carries through the merge folds. */
  private[graft] def bpeEncodeOf(docs: DataFrame, rounds: Int = BpeRounds): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges = bpeMerges(docs, rounds).collect()
      .sortBy(_.getAs[Long]("merge_round"))
      .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b")))
    val vocab0 = docs.select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "").distinct()
      .withColumn("syms", split(col("w"), ""))
    val encVocab = merges.foldLeft(vocab0) { case (acc, (a, b)) =>
      acc.crossJoin(broadcast(Seq((a, b)).toDF("a", "b")))
        .select(col("w"), expr(MergeFold).as("syms"))
    }
    val dt = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val perDoc = dt.join(encVocab, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms"))).cast("long").as("n_symbols"),
        md5(concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, syms))), s -> array_join(s.syms, ' '))"))
          .cast("binary")).as("enc_digest"))
    // left join from the doc set: a NULL/empty text must keep its row
    // (0 words, 0 symbols, digest of "") — the one-row-per-doc contract
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_symbols"), lit(0L)).as("n_symbols"),
        coalesce(col("enc_digest"), md5(lit("").cast("binary"))).as("enc_digest"))
  }

  private def tBpeEncode: Q = (s, dir) => bpeEncodeOf(Tables.documents(s, dir))

  private val tBpeEncodeSql = {
    val evChain = (0 until BpeRounds).map { r =>
      s"""ev${r + 1} AS MATERIALIZED (
         |  SELECT w, ${duckMergeFold("syms", s"m$r")} AS syms
         |  FROM ev$r CROSS JOIN m$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${duckBpeCtes(BpeRounds)},
       |ev0 AS (SELECT w, split(w, '') AS syms FROM words),
       |$evChain,
       |dt AS (SELECT doc_id,
       |         unnest(range(1, len(toks) + 1)) AS pos,
       |         unnest(toks) AS w
       |       FROM (SELECT doc_id, ${duckTokens("text")} AS toks FROM documents)),
       |j AS (SELECT doc_id, pos, syms
       |      FROM (SELECT * FROM dt WHERE w <> '') d
       |      JOIN ev$BpeRounds USING (w)),
       |per_doc AS (
       |  SELECT doc_id, count(*) AS n_words,
       |         CAST(sum(len(syms)) AS BIGINT) AS n_symbols,
       |         md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos)) AS enc_digest
       |  FROM j GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(n_words, 0) AS n_words,
       |       coalesce(n_symbols, 0) AS n_symbols,
       |       coalesce(enc_digest, md5('')) AS enc_digest
       |FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id""".stripMargin
  }

  // ----------------------------------------------------------------
  // Unigram (SentencePiece-style) Viterbi segmentation
  // ----------------------------------------------------------------

  /** Words truncated to this many chars for segmentation (the
    * SentencePiece max-piece-candidate cap discipline) — also the DP
    * unroll depth, so it is a COMPILE-TIME plan constant, not a
    * driver loop. */
  private val SegMaxWordLen = 16
  /** A 2/3-gram enters the piece vocabulary at this corpus-weighted
    * count; single chars always enter (every word stays segmentable). */
  private val SegMinGramCount = 5L
  /** Lexicographic score encoding: score = −k·B + Σ piece counts,
    * maximized — fewest pieces first, then highest cumulative piece
    * frequency. B bounds Σcounts: ≤ MaxWordLen · corpus token count,
    * so 10¹² holds to ~10¹⁰ corpus tokens per shard; raise B (BIGINT
    * headroom ~10¹⁸) beyond that. */
  private val SegB = 1000000000000L
  private val SegNeg = -900000000000000000L

  /** `t_unigram_segment` — SentencePiece-style UNIGRAM segmentation
    * (Kudo, ACL 2018) as Viterbi DP over a data-derived piece
    * vocabulary, the missing member of the tokenizer family next to
    * BPE train/encode: vocabulary = all single chars plus every 2/3-
    * gram with corpus-weighted count ≥ threshold; each word's optimal
    * segmentation maximizes the INTEGER-EXACT objective (min pieces,
    * then max cumulative piece frequency) — the engine-portable
    * stand-in for unigram max-likelihood: the DP structure (best
    * split point per prefix) is identical, but piece log-probs would
    * ride libm `ln`, whose last-ulp wobble at floor boundaries is not
    * cross-engine-stable, while this objective is pure BIGINT
    * arithmetic, so both engines agree exactly and ties break by the
    * score itself.
    *
    * The DP is UNROLLED into [[SegMaxWordLen]] column definitions —
    * one codegen'd projection, no iteration anywhere — over per-word
    * candidate-count arrays built by three vocab joins. Everything
    * past the first token explode is VOCABULARY-sized (the
    * [[bpeEncodeOf]] discipline): each distinct word is segmented
    * once, documents join the result by word. Output per doc:
    * `(doc_id, n_words, n_pieces, piece_mass)` — n_pieces/piece_mass
    * derive uniquely from the optimal score, so the oracle pins the
    * DP exactly without path reconstruction. */
  private[graft] def unigramSegmentOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val words = docs
      .select(col("doc_id"),
        explode(tokens(coalesce(col("text"), lit("")))).as("w0"))
      .filter(col("w0") =!= "")
      .select(col("doc_id"), substring(col("w0"), 1, SegMaxWordLen).as("w"))
    val wf = words.groupBy(col("w")).agg(count(lit(1)).as("f"))
    // piece vocabulary: corpus-weighted substring counts. ONE explode
    // of all three gram lengths + ONE groupBy (r14): grams of
    // different lengths are distinct strings, so a single groupBy(p)
    // forms exactly the groups the old 3-branch union formed — and wf
    // (a full corpus tokenize + agg) is computed once here, not three
    // times.
    val allGrams = (1 to 3).map { l =>
      s"CASE WHEN length(w) >= $l THEN transform(sequence(1, length(w) - ${l - 1}), i -> substring(w, i, $l)) ELSE cast(array() as array<string>) END"
    }.mkString("concat(", ", ", ")")
    val pieces = wf.select(col("f"), explode(expr(allGrams)).as("p"))
      .groupBy(col("p")).agg(sum(col("f")).as("cnt"))
      .filter(length(col("p")) === 1 || col("cnt") >= SegMinGramCount)
    // per word, per position i, the count of the piece ENDING at i for
    // each length (sentinel −1 = not in vocabulary / i < l). ONE
    // (w, i, l) explode + ONE vocab join + ONE groupBy replace the old
    // per-length join/groupBy triple and their 2 recombining joins:
    // collect_list skips the CASE's nulls, so each c$l array gathers
    // exactly its length's rows, in the same (i-sorted) order, with
    // the same −1 sentinel for out-of-vocab / i < l.
    val cands = wf
      .select(col("w"), explode(expr("sequence(1, length(w))")).as("i"))
      .select(col("w"), col("i"), explode(expr("array(1, 2, 3)")).as("l"))
      .withColumn("p",
        when(col("i") >= col("l"), expr("substring(w, i - l + 1, l)")))
      .join(pieces.withColumnRenamed("p", "vp"),
        col("p") === col("vp"), "left")
      .groupBy(col("w"))
      .agg(
        expr("transform(array_sort(collect_list(CASE WHEN l = 1 THEN named_struct(" +
          "'i', i, 'c', coalesce(cnt, -1L)) END)), x -> x.c)").as("c1"),
        expr("transform(array_sort(collect_list(CASE WHEN l = 2 THEN named_struct(" +
          "'i', i, 'c', coalesce(cnt, -1L)) END)), x -> x.c)").as("c2"),
        expr("transform(array_sort(collect_list(CASE WHEN l = 3 THEN named_struct(" +
          "'i', i, 'c', coalesce(cnt, -1L)) END)), x -> x.c)").as("c3"))
    val dp0 = cands
      .withColumn("n", length(col("w"))).withColumn("b0", lit(0L))
    val dp = (1 to SegMaxWordLen).foldLeft(dp0) { (acc, i) =>
      val terms = (1 to 3).filter(_ <= i).map { l =>
        val c = expr(s"try_element_at(c$l, $i)")
        when(c.isNotNull && c >= 0L,
          col(s"b${i - l}") + (lit(-SegB) + c)).otherwise(lit(SegNeg))
      }
      acc.withColumn(s"b$i", greatest(lit(SegNeg) +: terms: _*))
    }
    // score = −k·B + mass with 0 < mass < B:
    // k = (−best) div B + 1, mass = best + k·B — both exact integers
    val perWord = dp.select(col("w"), expr(
        (1 to SegMaxWordLen).map(i => s"WHEN $i THEN b$i")
          .mkString("CASE n ", " ", " END")).as("best"))
      .withColumn("k", expr(s"(-best) div $SegB") + lit(1L))
      .withColumn("mass", col("best") + col("k") * lit(SegB))
      .select(col("w"), col("k"), col("mass"))
    words.join(perWord, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("k")).as("n_pieces"),
        sum(col("mass")).as("piece_mass"))
      .join(docs.select(col("doc_id")), Seq("doc_id"), "right")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("piece_mass"), lit(0L)).as("piece_mass"))
  }

  private def tUnigramSegment: Q = (s, dir) =>
    unigramSegmentOf(Tables.documents(s, dir))

  private val tUnigramSegmentSql = {
    val toks = duckTokens("coalesce(text, '')")
    val gramArms = (1 to 3).map { l =>
      s"""SELECT f, unnest(list_transform(range(1, length(w) - ${l - 1} + 1),
         |  i -> substr(w, i, $l))) AS p FROM wf""".stripMargin
    }.mkString("\n    UNION ALL ")
    val candCtes = (1 to 3).map { l =>
      s"""c$l AS (SELECT w, list(coalesce(cnt, -1) ORDER BY i) AS c$l FROM (
         |  SELECT wp.w, wp.i, v.cnt FROM wpos wp LEFT JOIN vocab v
         |    ON wp.i >= $l AND substr(wp.w, wp.i - ${l - 1}, $l) = v.p) GROUP BY w)""".stripMargin
    }.mkString(",\n")
    val dpChain = (1 to SegMaxWordLen).map { i =>
      val terms = (1 to 3).filter(_ <= i).map { l =>
        s"""CASE WHEN c$l[$i] >= 0 THEN b${i - l} - $SegB + c$l[$i]
           | ELSE ${SegNeg}::BIGINT END""".stripMargin
      }.mkString(", ")
      s"s$i AS (SELECT *, greatest(${SegNeg}::BIGINT, $terms) AS b$i FROM s${i - 1})"
    }.mkString(",\n")
    val caseBest = (1 to SegMaxWordLen).map(i => s"WHEN $i THEN b$i")
      .mkString("CASE n ", " ", " END")
    s"""WITH w0 AS (SELECT doc_id, unnest($toks) AS w0 FROM documents),
       |words AS (SELECT doc_id, substr(w0, 1, $SegMaxWordLen) AS w
       |          FROM w0 WHERE w0 <> ''),
       |wf AS (SELECT w, count(*) AS f FROM words GROUP BY w),
       |pieces AS (SELECT p, CAST(sum(f) AS BIGINT) AS cnt FROM (
       |    $gramArms
       |  ) WHERE p <> '' GROUP BY p),
       |vocab AS (SELECT p, cnt FROM pieces
       |          WHERE length(p) = 1 OR cnt >= $SegMinGramCount),
       |wpos AS (SELECT w, unnest(range(1, length(w) + 1)) AS i FROM wf),
       |$candCtes,
       |s0 AS (SELECT wf.w, length(wf.w) AS n, c1.c1, c2.c2, c3.c3,
       |         0::BIGINT AS b0
       |       FROM wf JOIN c1 USING (w) JOIN c2 USING (w) JOIN c3 USING (w)),
       |$dpChain,
       |perword AS (SELECT w, $caseBest AS best FROM s$SegMaxWordLen),
       |kk AS (SELECT w, ((-best) // $SegB + 1) AS k,
       |              best + ((-best) // $SegB + 1) * $SegB AS mass
       |       FROM perword),
       |perdoc AS (SELECT doc_id, count(*) AS n_words,
       |             CAST(sum(k) AS BIGINT) AS n_pieces,
       |             CAST(sum(mass) AS BIGINT) AS piece_mass
       |           FROM words JOIN kk USING (w) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_words, 0) AS n_words,
       |       coalesce(n_pieces, 0) AS n_pieces,
       |       coalesce(piece_mass, 0) AS piece_mass
       |FROM documents d LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "t_bpe_merges" -> tBpeMerges,
    "t_bpe_encode" -> tBpeEncode,
    "t_unigram_segment" -> tUnigramSegment,
    "t_line_dedup" -> tLineDedup,
    "t_chunk_overlap" -> tChunkOverlap,
    "t_repetition" -> tRepetition,
    "t_pack_sequences" -> tPackSequences,
    "t_redact_pii" -> tRedactPii,
    "t_top_tokens" -> tTopTokens,
    "t_top_tokens_cms" -> tTopTokensCms,
    "t_frequent_terms" -> tFrequentTerms,
    "t_token_count" -> tTokenCount,
    "t_mixture_weights" -> tMixtureWeights,
    "t_bigram_pmi" -> tBigramPmi,
    "t_quality_score" -> tQualityScore,
    "t_gopher_rules" -> tGopherRules,
    "t_lm_score" -> tLmScore,
    "t_domain_affinity" -> tDomainAffinity,
    "t_ccnet_buckets" -> tCcnetBuckets,
    "t_lang_id" -> tLangId,
    "t_fingerprint" -> tFingerprint,
    "t_tfidf" -> tTfidf,
    "t_bm25" -> tBm25,
    "t_bm25_filtered" -> tBm25Filtered,
    "t_bm25_phrase" -> tBm25Phrase,
    "t_bm25f" -> tBm25f,
    "t_unimax" -> tUnimax)

  val oracles: Map[String, String] = Map(
    "t_bpe_merges" -> tBpeMergesSql,
    "t_bpe_encode" -> tBpeEncodeSql,
    "t_unigram_segment" -> tUnigramSegmentSql,
    "t_line_dedup" -> tLineDedupSql,
    "t_chunk_overlap" -> tChunkOverlapSql,
    "t_repetition" -> tRepetitionSql,
    "t_pack_sequences" -> tPackSequencesSql,
    "t_redact_pii" -> tRedactPiiSql,
    "t_top_tokens" -> tTopTokensSql,
    "t_top_tokens_cms" -> tTopTokensCmsSql,
    "t_frequent_terms" -> tFrequentTermsSql,
    "t_token_count" -> tTokenCountSql,
    "t_mixture_weights" -> tMixtureWeightsSql,
    "t_bigram_pmi" -> tBigramPmiSql,
    "t_quality_score" -> tQualityScoreSql,
    "t_gopher_rules" -> tGopherRulesSql,
    "t_lm_score" -> tLmScoreSql,
    "t_domain_affinity" -> tDomainAffinitySql,
    "t_ccnet_buckets" -> tCcnetBucketsSql,
    "t_lang_id" -> tLangIdSql,
    "t_fingerprint" -> tFingerprintSql,
    "t_tfidf" -> tTfidfSql,
    "t_bm25" -> tBm25Sql,
    "t_bm25_filtered" -> tBm25FilteredSql,
    "t_bm25_phrase" -> tBm25PhraseSql,
    "t_bm25f" -> tBm25fSql,
    "t_unimax" -> tUnimaxSql)
}
