package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.PortableHash

/** Persisted BM25 inverted index — the serving twin of the in-query
  * [[TextAnalysis.bm25ScoredOf]], the same build-once/probe-many
  * discipline the ANN stack applies to embeddings
  * ([[Similarity.annIndex]] / [[Similarity.ivfIndex]]).
  *
  * The in-query form scans the corpus per query (fine for one batch
  * job; wrong for a retrieval service answering many queries). The
  * index trades one corpus scan at build time for probes whose cost is
  * proportional to the QUERY's postings, not the corpus:
  *
  *  - `postings/` — `(term, doc_id, tf, dl)` partitioned by
  *    `bucket = pmod(polyhash(term), 64)`. A probe computes its terms'
  *    buckets DRIVER-side (the portable hash has an exact JVM twin, so
  *    no job runs) and scans `bucket IN (…)` — PartitionFilters prune
  *    the read to ≤|terms| of 64 partitions regardless of corpus size.
  *    The per-doc length `dl` is DENORMALIZED onto every posting so
  *    scoring needs no join back to a lengths table: BM25's per-term
  *    score depends only on (tf, df, dl, N, S), all of which the probe
  *    has after this one pruned scan.
  *  - `df/` — `(term, df)`, bucket-partitioned the same way (vocab-
  *    sized; the probe reads only the query buckets and broadcasts).
  *  - `stats/` — one row `(n_docs, s_dl)`; broadcast into the scoring
  *    expression.
  *  - `docs/` — the per-doc registry `(doc_id, dl, d)` the MAINTENANCE
  *    ops (upsert/delete/compact) resolve liveness through; probes
  *    never read it, so probe cost stays bucket-bounded.
  *
  * Build/publish/rebuild semantics of the memo-cached form are
  * [[Similarity.cachedIndex]]'s: fingerprint memo over the source
  * files + format version, built under the JVM tmpdir, atomically
  * published, stale builds swept. The EXPLICIT-ROOT form below is the
  * production lifecycle: append generations, tombstone-style upserts
  * and deletes, compaction, streaming ingest — the [[AnnIndex]] LSM
  * discipline applied to text.
  *
  * == Signed delta generations (latest-wins without tombstone files) ==
  *
  * Every BM25 input is integer-ADDITIVE: tf and dl are per-doc, df is
  * a per-term doc count, (n_docs, s_dl) are corpus sums. So instead of
  * [[AnnIndex]]'s latest-generation-wins window, each generation here
  * writes SIGNED delta rows and a probe simply SUMS across
  * generations:
  *
  *  - re-sending doc d writes d's new postings (+tf, +dl) AND exact
  *    negations of d's previously-live net postings (−tf, −dl) into
  *    their terms' buckets — per (doc, term) the sum nets to the
  *    latest version (an old-only term nets to 0 and drops, which is
  *    what [[AnnIndex]] needed the moved-cell tombstone guard for);
  *  - deleting doc d writes only the negations;
  *  - df deltas are the row signs (+1 per new (doc, term), −1 per
  *    cancelled one) and stats deltas are (new docs − superseded docs,
  *    Σ new dl − Σ old dl) — all exact integers.
  *
  * A probe over any generation history therefore equals a from-scratch
  * index of the surviving corpus BIT FOR BIT (spec-pinned including
  * re-sends and deletes — stronger than the ANN side, whose running
  * centroids drift under re-sends until compaction).
  *
  * Finding the rows to negate reads the doc registry plus the
  * (broadcast-semi-joined, column-pruned) postings of the re-sent ids
  * across published generations — work ∝ index postings volume per
  * maintenance batch, the analogue of [[AnnIndex.upsert]]'s moved-cell
  * projection scan. A pipeline whose upstream guarantees all-new ids
  * (content-hash keyed ingest, the `d_incremental` discipline) passes
  * `assumeAppendOnly = true` and skips that scan entirely.
  */
object TextIndex {
  type Q = (SparkSession, String) => DataFrame

  /** 64 term buckets: enough that a probe's `IN` prunes hard, few
    * enough that tiny corpora don't scatter into empty files. At
    * 100 TB the knob scales with vocabulary, not corpus rows —
    * postings VOLUME per bucket is what grows, and parquet splits
    * handle that within a partition. */
  val Buckets = 64

  private val TextIndexVersion = 6 // v2: signed-delta gens + docs registry; v3: fielded (title/body) postings; v4: positional postings (indexed phrase); v5: term-sorted bucket files (row-group skipping); v6: champion-list head tier

  /** Exact JVM twin of `graft_polyhash` ([[PortableHash.polyHash]]):
    * fold (acc·31 + codePOINT) mod P — code points, not UTF-16 units,
    * because the native expression iterates codePointAt (a
    * supplementary-plane character is ONE fold step there; folding its
    * surrogate pair as two would route the term to the wrong bucket
    * and silently drop its postings from every probe). Lets the probe
    * compute its terms' partitions without running a job. Equivalence
    * is spec-pinned including non-BMP input (PropertySpec). */
  def polyHashJvm(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % PortableHash.P
      i += Character.charCount(cp)
    }
    acc
  }

  private def bucketOf(term: String): Int = (polyHashJvm(term) % Buckets).toInt

  /** Champion-list budget: each term's head tier keeps its top-`HeadB`
    * postings by static impact. 128 binds at the harness fixtures
    * (query-term dfs ≈ 390), so the recall panel measures a REAL
    * approximation, not a budget that never fires. */
  private[graft] val HeadB = 128

  /** Build-or-reuse the index for `dir`'s documents table; returns the
    * live index root. */
  private[graft] def textIndex(s: SparkSession, dir: String): String =
    Similarity.cachedIndex(s, dir, "text", TextIndexVersion, "documents.parquet") { path =>
      writeGen(Tables.documents(s, dir), path)
      writeHead(s, path)
      // one _SUCCESS at the top of the build dir — the cachedIndex
      // sweep's completion signal (Spark wrote one per sub-dir only);
      // through the Hadoop FS layer like all other index IO
      val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).create(p, true).close()
    }

  /** CHAMPION LISTS (the classic impact-ordered head tier — Manning
    * et al., IR ch. 7): per term, the top-[[HeadB]] postings by static
    * impact tf/dl (BM25's per-posting score is monotone ↑ in tf and
    * ↓ in dl for any global stats, so the tf/dl order IS the
    * per-term score order), materialized beside the full postings at
    * build time. A head probe's IO is ≤ HeadB·|terms| rows at ANY
    * corpus size — the [[Similarity.budgetProbesOf]] bounded-serving
    * discipline for text, where the exact probe's cost necessarily
    * grows with term df. The impact is ONE IEEE division of exact
    * integers (engine-portable ordering; ties by doc_id), so the
    * DuckDB oracle replays the champion rule verbatim. */
  private def writeHead(s: SparkSession, path: String): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("term"))
      .orderBy((col("tf").cast("double") / col("dl")).desc, col("doc_id").asc)
    s.read.schema(PostingsSchema).parquet(s"$path/postings")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= HeadB)
      .select(col("doc_id"), col("term"), col("tf"), col("dl"), col("bucket"))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("term"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/head")
  }

  /** Per-(doc, query-term) BM25 partials served FROM THE INDEX —
    * same values as [[TextAnalysis.bm25ScoredOf]] (single exact
    * integer-ratio division), different cost: the postings/df scans
    * prune to the query terms' buckets, the corpus is never touched. */
  private[graft] def bm25ScoredIndexed(s: SparkSession, dir: String,
      terms: Seq[String], exactInt: Boolean = false): DataFrame = {
    val root = textIndex(s, dir)
    val buckets = terms.map(bucketOf).distinct
    // pinned schemas: an index over an empty corpus has no part files
    // and inference would throw; and the literal bucket type matches
    // the partition column (INT by partition-value inference — the
    // skill-noted partitionBy gotcha) so PartitionFilters prune
    val post = s.read.schema(PostingsSchema).parquet(s"$root/postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val dfT = s.read.schema(DfSchema).parquet(s"$root/df")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(col("term"), col("df"))
    val stats = s.read.schema(StatsSchema).parquet(s"$root/stats")
    val sc = if (exactInt) TextAnalysis.bm25Sc("tf", "df", "dl", "n_docs", "s_dl")
             else TextAnalysis.bm25ScDouble("tf", "df", "dl", "n_docs", "s_dl")
    post.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term").as("token"), expr(sc).as("sc"))
  }

  /** Façade form: arbitrary-term top-k from the persisted index. */
  def bm25TopkIndexed(s: SparkSession, dir: String, terms: Seq[String],
      k: Int): DataFrame =
    TextAnalysis.bm25TopkCut(bm25ScoredIndexed(s, dir, terms), k)

  // ----------------------------------------------------------------
  // Champion-list (head-tier) probes: BOUNDED serving cost
  // ----------------------------------------------------------------

  /** BM25 partials over the HEAD TIER only — candidates per term are
    * capped at [[HeadB]], but df and corpus stats stay GLOBAL and
    * EXACT (the champion-list convention: the budget narrows
    * candidates, never the idf — the `t_bm25_filtered` filter-query
    * rule applied to a budget), so every returned score equals the
    * exact probe's score for that doc; only membership beyond the
    * budget can differ, which is precisely what the recall panel
    * gates. Probe IO ≤ HeadB·|terms| head rows + vocab-sized df at
    * ANY corpus size — the text analogue of the bounded ANN probe. */
  private[graft] def bm25ScoredHead(s: SparkSession, dir: String,
      terms: Seq[String]): DataFrame = {
    val root = textIndex(s, dir)
    val buckets = terms.map(bucketOf).distinct
    val head = s.read.schema(HeadSchema).parquet(s"$root/head")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val dfT = s.read.schema(DfSchema).parquet(s"$root/df")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(col("term"), col("df"))
    val stats = s.read.schema(StatsSchema).parquet(s"$root/stats")
    head.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term").as("token"),
        expr(TextAnalysis.bm25Sc("tf", "df", "dl", "n_docs", "s_dl")).as("sc"))
  }

  /** Budget-bounded top-k from the head tier. A query whose terms all
    * have df ≤ [[HeadB]] gets the EXACT answer (spec-pinned — the
    * budget-doesn't-bind parity property the ANN probe budget has at
    * fixture scale); heavier terms approximate, gated by
    * [[t_bm25_head_recall]]. */
  def bm25TopkHead(s: SparkSession, dir: String, terms: Seq[String],
      k: Int): DataFrame =
    TextAnalysis.bm25TopkCut(bm25ScoredHead(s, dir, terms), k)

  private def tBm25Head: Q = (s, dir) =>
    TextAnalysis.bm25FixedPivot(bm25ScoredHead(s, dir, TextAnalysis.Bm25Terms))

  private val tBm25HeadSql = {
    val toks = TextAnalysis.duckTokens("coalesce(text, '')")
    val terms = TextAnalysis.Bm25Terms.map(t => s"'$t'").mkString(", ")
    val t0 = TextAnalysis.Bm25Terms(0); val t1 = TextAnalysis.Bm25Terms(1)
    val t2 = TextAnalysis.Bm25Terms(2)
    s"""WITH dl AS (SELECT doc_id, CAST(len(list_filter($toks, t -> t <> '')) AS BIGINT) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS s_dl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf
       |       FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
       |       WHERE token IN ($terms) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |head AS (SELECT doc_id, token, tf, dl FROM (
       |           SELECT tf.doc_id, token, tf, dl,
       |                  row_number() OVER (PARTITION BY token
       |                    ORDER BY CAST(tf AS DOUBLE) / dl DESC, tf.doc_id) AS rn
       |           FROM tf JOIN dl USING (doc_id))
       |         WHERE rn <= $HeadB),
       |sc AS (SELECT doc_id, token, ${TextAnalysis.bm25Sc("tf", "df", "dl", "n_docs", "s_dl")} AS sc
       |       FROM head JOIN df USING (token) CROSS JOIN stats),
       |wide AS (SELECT doc_id,
       |   max(CASE WHEN token = '$t0' THEN sc END) AS sv,
       |   max(CASE WHEN token = '$t1' THEN sc END) AS sh,
       |   max(CASE WHEN token = '$t2' THEN sc END) AS ss
       | FROM sc GROUP BY doc_id)
       |SELECT doc_id,
       |       ${TextAnalysis.r6("coalesce(sv, 0.0)")} AS s_vector,
       |       ${TextAnalysis.r6("coalesce(sh, 0.0)")} AS s_hash,
       |       ${TextAnalysis.r6("coalesce(ss, 0.0)")} AS s_stream,
       |       ${TextAnalysis.r6("coalesce(sv, 0.0) + coalesce(sh, 0.0) + coalesce(ss, 0.0)")} AS bm25
       |FROM wide ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  }

  private val HeadRecallK = 10

  /** `t_bm25_head_recall` — the eval that makes the head tier
    * TRUSTABLE (the [[Similarity]] `s_ann_recall_panel` discipline for
    * text): every [[Bm25BatchQueries]] panel query's head top-K
    * against its exact top-K, one row per query. Both sides ride the
    * same nano-integer rank discipline, so the report itself is
    * oracle-exact — a champion-budget regression shows up as a recall
    * drop in CI, not in production. */
  private def tBm25HeadRecall: Q = (s, dir) => {
    val root = textIndex(s, dir)
    val allTerms = Bm25BatchQueries.flatMap(_._2).distinct
    val buckets = allTerms.map(bucketOf).distinct
    val probes = {
      val rows = Bm25BatchQueries.flatMap { case (id, ts) =>
        ts.map(t => org.apache.spark.sql.Row(id, t)) }
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType))))
    }
    val dfT = s.read.schema(DfSchema).parquet(s"$root/df")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(allTerms: _*))
      .select(col("term"), col("df"))
    val stats = s.read.schema(StatsSchema).parquet(s"$root/stats")
    val sc = TextAnalysis.bm25Sc("tf", "df", "dl", "n_docs", "s_dl")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("nanos").desc, col("doc_id").asc)
    def topOf(tier: DataFrame): DataFrame = tier
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(allTerms: _*))
      .join(broadcast(probes), "term")
      .join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), expr(sc).as("sc"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(floor(col("sc") * lit(1e9) + lit(0.5)).cast("long")).as("nanos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= HeadRecallK)
      .select(col("query_id"), col("doc_id"))
    val exact = topOf(s.read.schema(PostingsSchema).parquet(s"$root/postings"))
    val head = topOf(s.read.schema(HeadSchema).parquet(s"$root/head"))
    exact.join(head.withColumn("hit", lit(1L)), Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .select(col("query_id"), lit(HeadRecallK.toLong).as("k"), col("n_hits"),
        expr(TextAnalysis.r6(
          s"cast(n_hits as double) / $HeadRecallK")).as("recall"))
  }

  // lazy: references Bm25BatchQueries, declared further down the object
  private lazy val tBm25HeadRecallSql = {
    val toks = TextAnalysis.duckTokens("coalesce(text, '')")
    val values = Bm25BatchQueries
      .flatMap { case (id, ts) => ts.map(t => s"(CAST($id AS BIGINT), '$t')") }
      .mkString(", ")
    s"""WITH q(query_id, term) AS (VALUES $values),
       |dl AS (SELECT doc_id, CAST(len(list_filter($toks, t -> t <> '')) AS BIGINT) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS s_dl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf
       |       FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
       |       WHERE token IN (SELECT term FROM q) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |full_p AS (SELECT tf.doc_id, token, tf, dl FROM tf JOIN dl USING (doc_id)),
       |head AS (SELECT doc_id, token, tf, dl FROM (
       |           SELECT *, row_number() OVER (PARTITION BY token
       |             ORDER BY CAST(tf AS DOUBLE) / dl DESC, doc_id) AS rn
       |           FROM full_p)
       |         WHERE rn <= $HeadB),
       |esc AS (SELECT q.query_id, p.doc_id,
       |          sum(CAST(floor((${TextAnalysis.bm25Sc("tf", "df", "dl", "n_docs", "s_dl")}) * 1e9 + 0.5) AS BIGINT)) AS nanos
       |        FROM full_p p JOIN q ON q.term = p.token JOIN df ON df.token = p.token
       |        CROSS JOIN stats GROUP BY q.query_id, p.doc_id),
       |hsc AS (SELECT q.query_id, p.doc_id,
       |          sum(CAST(floor((${TextAnalysis.bm25Sc("tf", "df", "dl", "n_docs", "s_dl")}) * 1e9 + 0.5) AS BIGINT)) AS nanos
       |        FROM head p JOIN q ON q.term = p.token JOIN df ON df.token = p.token
       |        CROSS JOIN stats GROUP BY q.query_id, p.doc_id),
       |etop AS (SELECT query_id, doc_id FROM (
       |           SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY nanos DESC, doc_id) AS rank FROM esc)
       |         WHERE rank <= $HeadRecallK),
       |htop AS (SELECT query_id, doc_id FROM (
       |           SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY nanos DESC, doc_id) AS rank FROM hsc)
       |         WHERE rank <= $HeadRecallK)
       |SELECT e.query_id, CAST($HeadRecallK AS BIGINT) AS k,
       |       CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |       ${TextAnalysis.r6(
             s"CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $HeadRecallK")} AS recall
       |FROM etop e LEFT JOIN htop h
       |  ON e.query_id = h.query_id AND e.doc_id = h.doc_id
       |GROUP BY e.query_id""".stripMargin
  }

  /** Per-(doc, query-term) BM25F partials served FROM THE INDEX — the
    * fielded twin of [[bm25ScoredIndexed]]: the title components
    * (tf_t, dl_t, s_dlt) are DENORMALIZED onto the same postings/stats
    * the unfielded probe reads (body = total − title), so fielded
    * scoring rides the identical bucket-pruned scan — no extra
    * structure, no corpus touch, and the scores equal the in-query
    * [[TextAnalysis.bm25fScoredOf]] exactly (same 128-bit-exact
    * integer algebra, so `t_bm25f_indexed` shares `t_bm25f`'s oracle
    * verbatim). */
  private[graft] def bm25fScoredIndexed(s: SparkSession, dir: String,
      terms: Seq[String]): DataFrame = {
    val root = textIndex(s, dir)
    val buckets = terms.map(bucketOf).distinct
    val post = s.read.schema(PostingsSchema).parquet(s"$root/postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val dfT = s.read.schema(DfSchema).parquet(s"$root/df")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(col("term"), col("df"))
    val stats = s.read.schema(StatsSchema).parquet(s"$root/stats")
    post.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .withColumn("tf_b", col("tf") - col("tf_t"))
      .withColumn("dl_b", col("dl") - col("dl_t"))
      .withColumn("s_b", col("s_dl") - col("s_dlt"))
      .select(col("doc_id"), col("term").as("token"),
        expr(TextAnalysis.bm25fSc("tf_t", "tf_b", "dl_t", "dl_b",
          "df", "n_docs", "s_dlt", "s_b")).as("sc"))
  }

  /** Façade form: arbitrary-term fielded top-k from the persisted
    * index. */
  def bm25fTopkIndexed(s: SparkSession, dir: String, terms: Seq[String],
      k: Int): DataFrame =
    TextAnalysis.bm25TopkCut(bm25fScoredIndexed(s, dir, terms), k)

  // ----------------------------------------------------------------
  // Phrase retrieval FROM the index (positional postings, v4)
  // ----------------------------------------------------------------

  /** The adjacency confirm over pivoted per-slot position arrays:
    * ∃ x ∈ pos(t₀) with x+i ∈ pos(tᵢ) for every later slot — exactly
    * the `" t₀ t₁ … "` substring match on the space-joined filtered
    * token stream ([[TextAnalysis.phraseBm25Of]]), restated over the
    * SAME position coordinate system the index stores. One codegen'd
    * boolean; cost ∝ |pos(t₀)| per candidate doc. */
  private def phraseAdjacencyExpr(phrase: Seq[String]): String = {
    val rest = (1 until phrase.length).map(i => s"array_contains(p$i, x + $i)")
    if (rest.isEmpty) "p0 IS NOT NULL" else s"exists(p0, x -> ${rest.mkString(" AND ")})"
  }

  /** Two-stage phrase top-k over a scored-with-positions frame
    * `(doc_id, term, sc, pos)` restricted to the phrase's terms:
    * candidates must match EVERY distinct term (the index
    * intersection), only candidates pay the position-adjacency
    * confirm, scoring keeps the filter-query convention (global idf;
    * nano-integer order-free partials) — the exact
    * [[TextAnalysis.phraseBm25Of]] contract, corpus never touched. */
  private def phraseTopkOf(scored: DataFrame, phrase: Seq[String],
      k: Int): DataFrame = {
    val aggs = Seq(
      countDistinct(col("term")).as("nt"),
      sum(floor(col("sc") * lit(1e9) + lit(0.5)).cast("long")).as("nanos")) ++
      phrase.indices.map(i =>
        first(when(col("term") === phrase(i), col("pos")), ignoreNulls = true)
          .as(s"p$i"))
    scored.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("nt") === phrase.distinct.length)
      .filter(expr(phraseAdjacencyExpr(phrase)))
      .orderBy(col("nanos").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"),
        expr(TextAnalysis.r6("cast(nanos as double) / 1e9")).as("bm25"))
  }

  /** `(doc_id, term, sc, pos)` from the cached single-generation
    * index — [[bm25ScoredIndexed]] with the positional column carried
    * (exact-integer scoring, the phrase contract). */
  private def indexedScoredWithPos(s: SparkSession, dir: String,
      terms: Seq[String]): DataFrame = {
    val root = textIndex(s, dir)
    val buckets = terms.map(bucketOf).distinct
    val post = s.read.schema(PostingsSchema).parquet(s"$root/postings")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val dfT = s.read.schema(DfSchema).parquet(s"$root/df")
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(col("term"), col("df"))
    val stats = s.read.schema(StatsSchema).parquet(s"$root/stats")
    post.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        expr(TextAnalysis.bm25Sc("tf", "df", "dl", "n_docs", "s_dl")).as("sc"),
        col("pos"))
  }

  /** Phrase-constrained BM25 top-k SERVED FROM THE INDEX — the
    * two-stage Lucene shape with both stages on index structures:
    * candidates from the bucket-pruned postings intersection,
    * adjacency from the STORED positions (the corpus is never
    * touched — [[TextAnalysis.phraseBm25Of]] re-reads and re-joins
    * every candidate's text; at serving scale that is the difference
    * between a positional-postings read and a corpus scan). Shares
    * `t_bm25_phrase`'s oracle verbatim. */
  def phraseBm25Indexed(s: SparkSession, dir: String, phrase: Seq[String],
      k: Int): DataFrame = {
    require(phrase.nonEmpty && phrase.forall(_.nonEmpty),
      "phrase must be non-empty tokens")
    phraseTopkOf(indexedScoredWithPos(s, dir, phrase), phrase, k)
  }

  /** Phrase retrieval from an explicit-root incremental index — the
    * LSM form: tf/dl/df/stats net across signed-delta generations as
    * always; POSITIONS are not additive, so the live positions are
    * the latest POSITIVE row's (a doc version lives whole in one
    * generation; anti rows carry NULL), selected by `max_by` over the
    * generation number. Inherits upserts, supersedes (with CHANGED
    * positions — spec-pinned), deletes, compaction, and `asOf`
    * snapshot pins. */
  def phraseBm25AtRoot(s: SparkSession, root: String, phrase: Seq[String],
      k: Int, asOf: Option[Long] = None): DataFrame = {
    require(phrase.nonEmpty && phrase.forall(_.nonEmpty),
      "phrase must be non-empty tokens")
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val gens = gensOf(s, root, asOf)
    val buckets = phrase.map(bucketOf).distinct
    def pruned(sub: String, schema: org.apache.spark.sql.types.StructType) =
      gens.map(g =>
        s.read.schema(schema).parquet(s"$root/$g/$sub")
          .filter(col("bucket").isin(buckets: _*) && col("term").isin(phrase.distinct: _*))
          .withColumn("gen", lit(g.stripPrefix("gen-").toLong)))
      .reduce(_ unionByName _)
    val post = pruned("postings", PostingsSchema)
      .groupBy(col("doc_id"), col("term"))
      .agg(sum(col("tf")).as("tf"), sum(col("dl")).as("dl"),
        max_by(col("pos"), when(col("tf") > 0, col("gen")).otherwise(lit(-1L)))
          .as("pos"))
      .filter(col("tf") > 0)
    val dfT = pruned("df", DfSchema).groupBy(col("term")).agg(sum(col("df")).as("df"))
    val stats = gens.map(g => s.read.schema(StatsSchema).parquet(s"$root/$g/stats"))
      .reduce(_ unionByName _)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("s_dl")).as("s_dl"))
    val scored = post.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        expr(TextAnalysis.bm25Sc("tf", "df", "dl", "n_docs", "s_dl")).as("sc"),
        col("pos"))
    phraseTopkOf(scored, phrase, k)
  }

  // ----------------------------------------------------------------
  // Batch probes: many queries through the index in ONE join
  // ----------------------------------------------------------------

  /** BATCH retrieval serving — a whole `(query_id, term)` frame probes
    * the index in ONE join, the production many-queries shape
    * ([[Similarity]]'s `s_ann_lsh_batch` applied to text). Each term
    * computes its bucket with the native portable hash AS A COLUMN;
    * the postings scan joins on its PARTITION column `bucket` (plus
    * `term`), so partition pruning comes from the JOIN — a
    * dynamic-partition-pruning subquery on the scan (PlanSpec-
    * asserted), not driver-side literals like the fixed-term
    * [[bm25TopkIndexed]]. One scan of the union of all queries' term
    * buckets serves every query; per-query top-k is a qid-partitioned
    * window over term-bounded candidate sets.
    *
    * Scores ride the same nano-integer partial-sum discipline as
    * [[TextAnalysis.bm25TopkCut]] (order-free, engine-portable), so
    * each query's slice equals its single-query probe exactly
    * (spec-pinned). */
  def bm25TopkBatchIndexed(s: SparkSession, dir: String, queries: DataFrame,
      k: Int, exactInt: Boolean = false): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val root = textIndex(s, dir)
    // the empty-term guard doubles as the SELECTIVE predicate Spark's
    // PartitionPruning rule requires on the filtering side before it
    // will insert a DPP subquery on the scan (a bare broadcast join
    // with no filter prunes nothing dynamically) — the s_ann_lsh_batch
    // probe-side filter plays the same role there
    val probes = queries
      .select(col("query_id").cast("long").as("query_id"), col("term"))
      .filter(col("term") =!= "")
      .distinct()
      .withColumn("bucket",
        pmod(PortableHash.polyHash(col("term")), lit(Buckets.toLong)).cast("int"))
    val dfT = s.read.schema(DfSchema).parquet(s"$root/df")
      .join(broadcast(probes.select(col("bucket"), col("term")).distinct()),
        Seq("bucket", "term"))
      .select(col("term"), col("df"))
    val stats = s.read.schema(StatsSchema).parquet(s"$root/stats")
    val sc = if (exactInt) TextAnalysis.bm25Sc("tf", "df", "dl", "n_docs", "s_dl")
             else TextAnalysis.bm25ScDouble("tf", "df", "dl", "n_docs", "s_dl")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("nanos").desc, col("doc_id").asc)
    s.read.schema(PostingsSchema).parquet(s"$root/postings")
      .join(broadcast(probes), Seq("bucket", "term"))
      .join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), expr(sc).as("sc"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(floor(col("sc") * lit(1e9) + lit(0.5)).cast("long")).as("nanos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("doc_id"),
        expr(TextAnalysis.r6("cast(nanos as double) / 1e9")).as("bm25"))
  }

  /** The fixed query workload for the batch oracle — one single-term,
    * one two-term, one three-term, one four-term query, so the
    * order-free partial-sum discipline is exercised past the
    * commutative 2-operand case. */
  private[graft] val Bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("vector", "hash", "stream"),
    2L -> Seq("join", "merge"),
    3L -> Seq("window"),
    4L -> Seq("scan", "filter", "column", "batch"))
  private val BatchK = 5

  private def tBm25Batch: Q = (s, dir) => {
    // RDD-backed, not a LocalRelation: a Seq-literal frame would let
    // the optimizer eagerly fold the probe-side filter away, and with
    // it the selective predicate the DPP rule keys on — an RDD source
    // models the real serving shape (the query workload arrives as
    // data, not literals)
    val rows = Bm25BatchQueries.flatMap { case (id, ts) =>
      ts.map(t => org.apache.spark.sql.Row(id, t)) }
    val q = s.createDataFrame(s.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType))))
    bm25TopkBatchIndexed(s, dir, q, BatchK, exactInt = true)
  }

  private val tBm25BatchSql = {
    val toks = TextAnalysis.duckTokens("text")
    val values = Bm25BatchQueries
      .flatMap { case (id, ts) => ts.map(t => s"(CAST($id AS BIGINT), '$t')") }
      .mkString(", ")
    s"""WITH q(query_id, term) AS (VALUES $values),
       |docs0 AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
       |dl AS (SELECT doc_id, CAST(len(list_filter($toks, t -> t <> '')) AS BIGINT) AS dl FROM docs0),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS s_dl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf
       |       FROM (SELECT doc_id, unnest($toks) AS token FROM docs0)
       |       WHERE token IN (SELECT term FROM q) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |sc AS (SELECT q.query_id, tf.doc_id,
       |              ${TextAnalysis.bm25Sc("tf", "df", "dl", "n_docs", "s_dl")} AS sc
       |       FROM tf JOIN q ON q.term = tf.token JOIN df USING (token)
       |       JOIN dl USING (doc_id) CROSS JOIN stats),
       |nn AS (SELECT query_id, doc_id,
       |              sum(CAST(floor(sc * 1e9 + 0.5) AS BIGINT)) AS nanos
       |       FROM sc GROUP BY query_id, doc_id),
       |r AS (SELECT query_id, doc_id, nanos,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY nanos DESC, doc_id) AS rank FROM nn)
       |SELECT query_id, rank, doc_id,
       |       floor((CAST(nanos AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1e6 AS bm25
       |FROM r WHERE rank <= $BatchK""".stripMargin
  }

  // ----------------------------------------------------------------
  // Incrementally-maintained index at an explicit root (the AnnIndex
  // generation discipline applied to text, via signed deltas)
  // ----------------------------------------------------------------

  /** Format stamp carried by every published explicit-root manifest
    * (`format:<TextIndexVersion>`). The memo-cached form already keys
    * its path on the version; the explicit-root form did NOT, so a
    * pre-v4 root read with the v4 pinned schemas silently yielded NULL
    * tf_t/dl_t/pos — null/wrong BM25F and phrase scores, and an upsert
    * interleaving mixed-schema generations. Readers now require the
    * stamp to match and error with a rebuild hint instead. */
  private val FormatLine = s"format:$TextIndexVersion"

  private def requireFormat(lines: Seq[String], root: String): Unit =
    if (lines.nonEmpty) {
      val fmt = lines.find(_.startsWith("format:"))
        .map(_.stripPrefix("format:").trim).getOrElse("pre-4 (unstamped)")
      require(fmt == TextIndexVersion.toString,
        s"text index at $root has format $fmt but this reader requires " +
          s"format $TextIndexVersion — its generations lack (or mis-lay) " +
          "this format's posting columns/layout and would score null/wrong; " +
          "rebuild the index (TextIndex.build) or read it with a matching " +
          "library version")
    }

  // Explicit read schemas: an empty generation (e.g. an empty upsert
  // batch, or a bucket no query term hashes to) writes no part files,
  // and schema INFERENCE over a file-less dir throws — pinned schemas
  // make every generation readable regardless of its row count, and
  // skip the inference listing besides.
  // The fielded (title/body) split rides the SAME postings: tf_t/dl_t
  // are the title-field components (body = total − title, so only one
  // extra pair is stored), additive under the signed-delta algebra
  // exactly like tf/dl — which is what lets BM25F serve off the same
  // bucket-pruned probes with zero extra structures.
  private val PostingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tf", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tf_t", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl_t", org.apache.spark.sql.types.LongType),
    // positions of the term among the doc's filtered tokens, sorted —
    // NOT additive across generations (unlike tf/dl): a doc's live
    // positions are its latest POSITIVE row's (a doc version lives
    // whole in one generation; anti rows carry NULL), selected by
    // max_by(pos, gen) wherever generations net. Probes that don't
    // need positions never project the column, so it costs them
    // nothing at the parquet reader.
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType)),
    org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType)))
  // head tier: champion postings only — no fielded/positional columns
  // (head probes are the unfielded bounded path; fielded/phrase serving
  // reads the full postings)
  private val HeadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tf", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType)))
  private val DfSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("df", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType)))
  private val StatsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_docs", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("s_dl", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("s_dlt", org.apache.spark.sql.types.LongType)))
  private val DocsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl_t", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("d", org.apache.spark.sql.types.IntegerType)))

  /** Normalize a (doc_id, text) batch: long ids, null text ≡ '' (the
    * ANSI-off size(tokens(null)) = −1 hazard — the TextAnalysis-wide
    * coalesce convention). */
  private def normalized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
      coalesce(col("text"), lit("")).as("text"))

  /** (doc_id, dl) and (doc_id, term, tf, bucket) for a batch — the
    * one tokenization pass everything in a generation derives from. */
  private def dlOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(filter(TextAnalysis.tokens(col("text")), t => t =!= ""))
        .cast("long").as("dl"))
      .withColumn("dl_t",
        least(col("dl"), lit(TextAnalysis.Bm25fTitleLen.toLong)))

  private def tfOf(docs: DataFrame): DataFrame =
    docs
      // positions among the FILTERED (non-empty) tokens — the same
      // coordinate system bm25fScoredOf's title slice uses, so the
      // indexed fielded scores equal the in-query form exactly
      .select(col("doc_id"),
        posexplode(filter(TextAnalysis.tokens(col("text")), t => t =!= "")))
      .toDF("doc_id", "pos", "term")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"),
        sum(when(col("pos") < TextAnalysis.Bm25fTitleLen, 1L).otherwise(0L))
          .as("tf_t"),
        sort_array(collect_list(col("pos").cast("int"))).as("pos"))
      .withColumn("bucket",
        pmod(PortableHash.polyHash(col("term")), lit(Buckets.toLong)).cast("int"))

  /** Write the four index parts of one generation. `postings` rows are
    * SIGNED (see class doc); df deltas are the row signs; docs is the
    * signed registry. Writes are mode-overwrite: a crash between
    * writing this dir and the manifest move leaves an UNREFERENCED
    * dir, and the replay (streaming foreachBatch, or a retried
    * build/upsert) must be able to overwrite it deterministically
    * rather than die on path-already-exists — the [[AnnIndex]]
    * generation discipline. */
  private def writeParts(postings: DataFrame, statsDelta: DataFrame,
      docsDelta: DataFrame, genDir: String): Unit = {
    postings
      .select(col("doc_id"), col("term"), col("tf"), col("tf_t"),
        col("dl"), col("dl_t"), col("pos"), col("bucket"))
      // TERM-SORTED within each bucket partition (r13): a probe's
      // `term IN (…)` predicate pushes to the parquet reader, and with
      // files sorted by term the row-group min/max stats skip every
      // group holding none of the query's terms — probe IO tracks the
      // QUERY TERMS' postings, not the bucket's total volume (which
      // grows with the corpus: the r13 100× sweep read warm text
      // probes at 2.2–2.5× before this layout, 64 buckets × 100×
      // postings each). The repartition puts each bucket in one task
      // so partitionBy emits one sorted file per bucket.
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("term"))
      // small row groups make the sort actionable: a grown bucket file
      // would otherwise be ONE row group whose min/max covers every
      // term (nothing skips); 4 MB groups give the reader's stat
      // filter real granularity — probe IO tracks the query terms'
      // groups as the bucket grows. Serving-read trade, deliberately
      // Lucene-shaped; bulk analytics over postings never happens.
      .write.mode("overwrite").option("parquet.block.size", 4 * 1024 * 1024)
      .partitionBy("bucket").parquet(s"$genDir/postings")
    // df delta per term = Σ row signs: +1 for each live (doc, term)
    // added, −1 for each cancelled — summed over generations this IS
    // the per-term live-doc count, exactly
    postings.groupBy(col("term"), col("bucket"))
      .agg(sum(when(col("tf") > 0, 1L).otherwise(-1L)).as("df"))
      .select(col("term"), col("df"), col("bucket"))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("term"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$genDir/df")
    statsDelta.select(col("n_docs"), col("s_dl"), col("s_dlt"))
      .write.mode("overwrite").parquet(s"$genDir/stats")
    docsDelta.select(col("doc_id"), col("dl"), col("dl_t"), col("d"))
      .write.mode("overwrite").parquet(s"$genDir/docs")
  }

  /** One full-corpus generation (the memo-cached build and `build`'s
    * gen-0 share this): all-positive postings, +1 registry rows. */
  private def writeGen(docs0: DataFrame, genDir: String): Unit = {
    val docs = normalized(docs0)
    val dl = dlOf(docs).persist()
    val tf = tfOf(docs).persist()
    try {
      writeParts(
        tf.join(dl, "doc_id"),
        dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("s_dl"),
          sum(col("dl_t")).as("s_dlt")),
        dl.select(col("doc_id"), col("dl"), col("dl_t"), lit(1).as("d")),
        genDir)
    } finally {
      tf.unpersist(); dl.unpersist(); ()
    }
  }

  // Manifest lines by prefix: `format:<v>`, `gen-N` directories
  // (ordered) and `batch:<tag>` idempotence-ledger entries for
  // streaming ingest; unknown prefixes are ignored. Publish, snapshots
  // (version = the publish's highest generation number), rollback, GC
  // and pins are the shared [[VersionedRoot]] lifecycle.
  private val Versions = new VersionedRoot("_GRAFT_TEXT_MANIFEST",
    refsOf = _.filter(_.startsWith("gen-")).toSet,
    dataDir = "gen-\\d+".r,
    readCheck = requireFormat)

  private def genVersion(lines: Seq[String]): Long =
    lines.filter(_.startsWith("gen-")).map(_.stripPrefix("gen-").toLong).max

  /** Generation dirs of the live manifest (`asOf = None`) or of
    * retained snapshot `v`, format-checked. */
  private def gensOf(s: SparkSession, root: String, asOf: Option[Long]): Seq[String] = {
    val lines = asOf.fold(Versions.live(s, root))(Versions.asOf(s, root, _))
    requireFormat(lines, root)
    val gens = lines.filter(_.startsWith("gen-"))
    require(gens.nonEmpty, s"no text index at $root — build() first")
    gens
  }

  /** The retained snapshot versions at `root`, ascending. Snapshots
    * live until [[sweepUnreferenced]]'s grace window expires them (or a
    * pin holds them), so "how long is a snapshot replayable" is one
    * knob. */
  def snapshots(s: SparkSession, root: String): Seq[Long] = Versions.snapshots(s, root)

  /** The live index version: the live manifest's highest generation. */
  def currentVersion(s: SparkSession, root: String): Long =
    Versions.currentVersion(s, root, genVersion)

  /** RESTORE the live index to retained snapshot `v` — the Delta
    * RESTORE shape, run after a bad batch lands; the suffix snapshots
    * and the generation dirs only they referenced go at once (order and
    * crash behaviour: [[VersionedRoot]]). The ledger rolls back with
    * the manifest BY DESIGN — a deliberately re-sent batch re-applies;
    * a streaming ingest whose batches were rolled back must reset its
    * checkpoint or replay re-applies them. */
  def rollbackTo(s: SparkSession, root: String, v: Long): Unit =
    Versions.rollbackTo(s, root, v)

  /** Has a streaming batch with this tag already ridden a published
    * manifest? The ledger rides the SAME atomic move as the data, so
    * a replayed batch can never re-apply (its postings would count
    * twice). Tags SURVIVE [[compact]] — an in-cadence policy-loop
    * compaction between a streamed batch's publish and its checkpoint
    * commit must not make the replay re-apply the batch. */
  private[graft] def batchApplied(s: SparkSession, root: String,
      tag: String): Boolean =
    Versions.batchApplied(s, root, tag)

  /** Publish `gens0`, stamped with this writer's format version
    * (idempotent — republished lines already carry it) so
    * explicit-root readers can refuse incompatible roots loudly. */
  private def publish(s: SparkSession, root: String, gens0: Seq[String]): Unit = {
    val gens =
      if (gens0.exists(_.startsWith("format:"))) gens0 else FormatLine +: gens0
    Versions.publish(s, root, gens, genVersion(gens)); ()
  }

  /** Found a new index at `root` from `docs` (generation 0). */
  def build(docs: DataFrame, root: String): Unit = {
    val s = docs.sparkSession
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    PublishLock.withLock(s, root) {
      writeGen(docs, s"$root/gen-0")
      publish(s, root, Seq("gen-0"))
    }
  }

  /** The live doc registry over `gens`: `(doc_id, dl)` of every doc
    * whose signed events sum to present. Maintenance-only read (see
    * class doc) — probes never touch it. */
  private def liveDocs(s: SparkSession, root: String, gens: Seq[String]): DataFrame =
    gens.map(g => s.read.schema(DocsSchema).parquet(s"$root/$g/docs"))
      .reduce(_ unionByName _)
      .groupBy(col("doc_id"))
      .agg(sum(col("d")).as("alive"), sum(col("d") * col("dl")).as("dl"),
        sum(col("d") * col("dl_t")).as("dl_t"))
      .filter(col("alive") === 1)
      .select(col("doc_id"), col("dl"), col("dl_t"))

  /** The currently-live net postings of the given doc_ids: all
    * generations' postings semi-joined to the ids (column-pruned,
    * broadcast — the ids frame is a maintenance batch, model-sized),
    * netted per (doc, term). These are the exact rows a re-send or
    * delete must negate. */
  private def livePostingsOf(s: SparkSession, root: String, gens: Seq[String],
      ids: DataFrame): DataFrame =
    gens.map(g => s.read.schema(PostingsSchema).parquet(s"$root/$g/postings"))
      .reduce(_ unionByName _)
      .join(broadcast(ids.select(col("doc_id"))), "doc_id")
      .groupBy(col("doc_id"), col("term"), col("bucket"))
      .agg(sum(col("tf")).as("tf"), sum(col("tf_t")).as("tf_t"),
        sum(col("dl")).as("dl"), sum(col("dl_t")).as("dl_t"))
      .filter(col("tf") > 0)

  private def nextGenOf(gens: Seq[String]): String =
    s"gen-${genVersion(gens) + 1}"

  /** Upsert a batch — new doc_ids append, RE-SENT doc_ids supersede
    * their old version exactly (the old postings are negated in the
    * same generation, see class doc), so probes always score the
    * latest version and never double-count. `tag` (streaming ingest)
    * rides the same atomic manifest publish as the generation, forming
    * the replay-idempotence ledger. `assumeAppendOnly = true` skips
    * the re-send resolution scan for upstream-guaranteed-new ids.
    *
    * Returns the one-row accounting frame `(generation, n_batch,
    * n_new, n_resent)` — the [[AnnIndex.upsert]] audit discipline.
    *
    * Concurrency: writers serialize on the root's [[PublishLock]]
    * (held across read-manifest → write-gen → publish, so two
    * interleaved upserts BOTH land; [[publish]]'s read-back stays as
    * the backstop); streaming ingest additionally serializes by
    * construction (one foreachBatch at a time). Batch doc_ids must be
    * distinct — a doubled id inside ONE batch is two conflicting
    * "latest" versions, which no latest-wins rule can order — and the
    * precondition is ENFORCED (count vs distinct-count check) rather
    * than silently corrupting the registry. */
  def upsert(batch: DataFrame, root: String, tag: Option[String] = None,
      assumeAppendOnly: Boolean = false): DataFrame = {
    val s = batch.sparkSession
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    import s.implicits._
    PublishLock.withLock(s, root) {
    val lines = Versions.live(s, root)
    val gens = lines.filter(_.startsWith("gen-"))
    require(gens.nonEmpty, s"no text index at $root — build() first")
    val next = nextGenOf(gens)
    val docs = normalized(batch)
    val dl = dlOf(docs).persist()
    val resent =
      (if (assumeAppendOnly) dl.limit(0).select(col("doc_id"), col("dl"), col("dl_t"))
       else liveDocs(s, root, gens)
         .join(broadcast(dl.select(col("doc_id"))), "doc_id"))
        .persist()
    try {
      val nBatch = dl.count()
      // enforce the distinct-ids precondition: a doubled id would make
      // the registry sum to alive=2 (the doc silently vanishes from
      // liveDocs and its postings double-count) — fail loudly instead
      val nIds = dl.select(col("doc_id")).distinct().count()
      require(nIds == nBatch,
        s"upsert batch has ${nBatch - nIds} duplicated doc_id(s) — a batch is one " +
          "version per doc; reduce upstream to the latest event per id (the CDC " +
          "ingest does this per micro-batch)")
      val nResent = resent.count()
      // no re-sent ids → nothing to negate; skip the resolution scan
      // (the common append-mostly ingest pays only the registry read)
      val anti =
        if (nResent == 0) s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row], PostingsSchema)
        else livePostingsOf(s, root, gens, resent)
          .select(col("doc_id"), col("term"), (-col("tf")).as("tf"),
            (-col("tf_t")).as("tf_t"), (-col("dl")).as("dl"),
            (-col("dl_t")).as("dl_t"),
            lit(null).cast("array<int>").as("pos"), col("bucket"))
      val batchStats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("s_dl"),
        sum(col("dl_t")).as("s_dlt"))
      val resentStats = resent.agg(count(lit(1)).as("rn"),
        coalesce(sum(col("dl")), lit(0L)).as("rs"),
        coalesce(sum(col("dl_t")), lit(0L)).as("rst"))
      writeParts(
        tfOf(docs).join(dl, "doc_id")
          .select(col("doc_id"), col("term"), col("tf"), col("tf_t"),
            col("dl"), col("dl_t"), col("pos"), col("bucket"))
          .unionByName(anti),
        batchStats.crossJoin(resentStats)
          .select((col("n_docs") - col("rn")).as("n_docs"),
            (coalesce(col("s_dl"), lit(0L)) - col("rs")).as("s_dl"),
            (coalesce(col("s_dlt"), lit(0L)) - col("rst")).as("s_dlt")),
        dl.select(col("doc_id"), col("dl"), col("dl_t"), lit(1).as("d"))
          .unionByName(resent.select(col("doc_id"), col("dl"), col("dl_t"),
            lit(-1).as("d"))),
        s"$root/$next")
      publish(s, root, lines ++ (next +: tag.map(t => s"batch:$t").toSeq))
      Seq((next.stripPrefix("gen-").toLong, nBatch, nBatch - nResent, nResent))
        .toDF("generation", "n_batch", "n_new", "n_resent")
    } finally {
      resent.unpersist(); dl.unpersist()
    }
    }
  }

  /** Delete doc_ids from the live index by appending a generation of
    * pure negations — no published file is touched (the GDPR-delete
    * shape). Ids not live (absent, or already deleted) produce no
    * events, making deletes idempotent; a later re-upsert revives the
    * id. Returns `(generation, n_deleted)` accounting (generation −1
    * for an all-no-op delete, which publishes nothing — so a CDC
    * `tag` is only recorded when something published; replaying a
    * no-op is another no-op). */
  def delete(ids: DataFrame, root: String,
      tag: Option[String] = None): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    PublishLock.withLock(s, root) {
    val lines = Versions.live(s, root)
    val gens = lines.filter(_.startsWith("gen-"))
    require(gens.nonEmpty, s"no text index at $root — build() first")
    val next = nextGenOf(gens)
    val victims = liveDocs(s, root, gens)
      .join(broadcast(ids.select(col("doc_id").cast("long").as("doc_id")).distinct()),
        "doc_id")
      .persist()
    try {
      val n = victims.count()
      if (n == 0) Seq((-1L, 0L)).toDF("generation", "n_deleted")
      else {
        val anti = livePostingsOf(s, root, gens, victims)
          .select(col("doc_id"), col("term"), (-col("tf")).as("tf"),
            (-col("tf_t")).as("tf_t"), (-col("dl")).as("dl"),
            (-col("dl_t")).as("dl_t"),
            lit(null).cast("array<int>").as("pos"), col("bucket"))
        writeParts(
          anti,
          victims.agg((-count(lit(1))).as("n_docs"),
            (-coalesce(sum(col("dl")), lit(0L))).as("s_dl"),
            (-coalesce(sum(col("dl_t")), lit(0L))).as("s_dlt")),
          victims.select(col("doc_id"), col("dl"), col("dl_t"), lit(-1).as("d")),
          s"$root/$next")
        publish(s, root, (lines :+ next) ++ tag.map(t => s"batch:$t"))
        Seq((next.stripPrefix("gen-").toLong, n)).toDF("generation", "n_deleted")
      }
    } finally victims.unpersist()
    }
  }

  /** Fold every generation into ONE by netting the signed deltas:
    * surviving postings (net tf > 0), df/docs/stats recomputed from
    * the survivors, manifest re-published referencing only the new
    * generation. The `batch:` idempotence-ledger lines are CARRIED
    * through the republish (they are tiny): a policy-loop compaction
    * ([[compactIfBloated]]) that lands between a streamed batch's
    * publish and its checkpoint commit must not erase the tag — a
    * crash replay of that batch would re-apply it and double-count
    * its postings. Old dirs become unreferenced; [[sweepUnreferenced]]
    * is their GC. Returns `(n_live, gens_folded)`. */
  def compact(s: SparkSession, root: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    import s.implicits._
    PublishLock.withLock(s, root) {
    val lines = Versions.live(s, root)
    val gens = lines.filter(_.startsWith("gen-"))
    require(gens.nonEmpty, s"no text index at $root — build() first")
    val next = nextGenOf(gens)
    val live = liveDocs(s, root, gens).persist()
    try {
      val n = live.count()
      // positions are NOT additive: the live positions are the latest
      // POSITIVE row's (anti rows rank -1), selected by max_by over the
      // generation number attached per scan
      val postings = gens
        .map(g => s.read.schema(PostingsSchema).parquet(s"$root/$g/postings")
          .withColumn("gen", lit(g.stripPrefix("gen-").toLong)))
        .reduce(_ unionByName _)
        .groupBy(col("doc_id"), col("term"), col("bucket"))
        .agg(sum(col("tf")).as("tf"), sum(col("tf_t")).as("tf_t"),
          sum(col("dl")).as("dl"), sum(col("dl_t")).as("dl_t"),
          max_by(col("pos"), when(col("tf") > 0, col("gen")).otherwise(lit(-1L)))
            .as("pos"))
        .filter(col("tf") > 0)
        .select(col("doc_id"), col("term"), col("tf"), col("tf_t"),
          col("dl"), col("dl_t"), col("pos"), col("bucket"))
      writeParts(
        postings,
        live.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("s_dl"),
          coalesce(sum(col("dl_t")), lit(0L)).as("s_dlt")),
        live.select(col("doc_id"), col("dl"), col("dl_t"), lit(1).as("d")),
        s"$root/$next")
      publish(s, root, next +: lines.filter(_.startsWith("batch:")))
      Seq((n, gens.length.toLong)).toDF("n_live", "gens_folded")
    } finally live.unpersist()
    }
  }

  /** Per-bucket postings-bloat accounting — the text twin of
    * [[AnnIndex.driftStats]], the "when to compact" signal: `n_rows`
    * physical posting rows across generations, `n_live` net-positive
    * (doc, term) postings a probe would keep after netting, `n_dead`
    * their difference — the cancelled/superseded mass every probe of
    * the bucket reads and then nets away. Append-only histories read
    * n_dead = 0; re-sends and deletes grow it (a re-send leaves old
    * row + negation + new row = 3 rows, 1 live); [[compact]] returns
    * it to 0 (spec-pinned). Full postings scan (narrow projection) —
    * a maintenance query, not a serving path. */
  /** What changed between two retained snapshots — the audit a
    * training run asks before repinning ("what did the index absorb
    * since the version my dataset was built against?"): one row per
    * doc whose state differs, `(doc_id, change)` with
    * `change ∈ {added, removed, updated}` (updated = live in both but
    * re-sent in between — detected by the count of positive registry
    * events, which only a re-send increments). Two registry scans
    * netted + one full-outer join on doc_id; postings are never
    * touched. Also the [[rollbackTo]] preview: diff(v, live-version)
    * lists exactly what a rollback to `v` would discard. */
  def snapshotDiff(s: SparkSession, root: String, v1: Long, v2: Long): DataFrame = {
    def state(v: Long): DataFrame =
      gensOf(s, root, Some(v))
        .map(g => s.read.schema(DocsSchema).parquet(s"$root/$g/docs"))
        .reduce(_ unionByName _)
        .groupBy(col("doc_id"))
        .agg(sum(col("d")).as("alive"),
          sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_versions"))
        .filter(col("alive") === 1)
        .select(col("doc_id"), col("n_versions"))
    state(v1).select(col("doc_id"), col("n_versions").as("nv1"))
      .join(state(v2).select(col("doc_id"), col("n_versions").as("nv2")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("nv1").isNull, lit("added"))
          .when(col("nv2").isNull, lit("removed"))
          .when(col("nv1") =!= col("nv2"), lit("updated")).as("change"))
      .filter(col("change").isNotNull)
      .orderBy(col("doc_id"))
  }

  /** Number of live documents in the published index — the signed
    * registry netted (one registry scan; maintenance/audit read, the
    * [[pipelines.Forget]] erasure certificate's text-surface count). */
  def liveDocCount(s: SparkSession, root: String): Long = {
    liveDocs(s, root, gensOf(s, root, None)).count()
  }

  def indexStats(s: SparkSession, root: String): DataFrame = {
    val post = gensOf(s, root, None)
      .map(g => s.read.schema(PostingsSchema).parquet(s"$root/$g/postings"))
      .reduce(_ unionByName _)
    post.groupBy(col("bucket"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("rows"), sum(col("tf")).as("net_tf"))
      .groupBy(col("bucket"))
      .agg(sum(col("rows")).as("n_rows"),
        sum(when(col("net_tf") > 0, 1L).otherwise(0L)).as("n_live"))
      .select(col("bucket"), col("n_rows"), col("n_live"),
        (col("n_rows") - col("n_live")).as("n_dead"))
      .orderBy(col("bucket"))
  }

  /** [[indexStats]] made ACTIONABLE (the [[AnnIndex.compactIfDrifted]]
    * policy for text): compact iff the dead fraction of physical
    * posting rows exceeds `maxDeadFraction`. Returns Some(compaction
    * accounting) when it compacted, None when within budget. */
  def compactIfBloated(s: SparkSession, root: String,
      maxDeadFraction: Double = 0.2): Option[DataFrame] = {
    val d = indexStats(s, root)
      .agg(coalesce(sum(col("n_dead")), lit(0L)).cast("double").as("dead"),
        coalesce(sum(col("n_rows")), lit(0L)).cast("double").as("tot"))
      .collect()(0)
    val (dead, tot) = (d.getDouble(0), d.getDouble(1))
    if (tot > 0 && dead / tot > maxDeadFraction) Some(compact(s, root))
    else None
  }

  /** GC for the index root ([[VersionedRoot]]'s sweep): snapshots past
    * `graceMs` expire unless pinned (all of them may), then generation
    * dirs no retained manifest references and stale temp files go.
    * Compaction and crashed writes leave such dirs behind by design —
    * readers resolve through the manifest. Returns the deleted names. */
  def sweepUnreferenced(s: SparkSession, root: String,
      graceMs: Long = 30L * 60 * 1000): Seq[String] =
    Versions.sweepUnreferenced(s, root, graceMs)

  /** Pin retained snapshot `v` under `tag`: [[sweepUnreferenced]] will
    * never expire it (nor GC its generations) until [[unpin]], so
    * `asOf = Some(v)` probes stay replayable for a training run's whole
    * life, not just the grace window. */
  def pin(s: SparkSession, root: String, tag: String, v: Long): Unit =
    Versions.pin(s, root, tag, v)

  /** Release `tag`'s pin; the next sweep past grace may reclaim. */
  def unpin(s: SparkSession, root: String, tag: String): Unit =
    Versions.unpin(s, root, tag)

  /** The live pin registry at `root`: tag → version. */
  def pins(s: SparkSession, root: String): Map[String, Long] =
    Versions.pins(s, root)

  /** BM25 partials over every published generation: postings union
    * bucket-pruned per gen and NETTED per (doc, term) (signed deltas —
    * net tf ≤ 0 rows are superseded/deleted and drop), per-gen df
    * deltas SUMMED per term, stats summed — all exact integer merges,
    * so scores equal a from-scratch index of the surviving corpus bit
    * for bit. */
  private def scoredAtRoot(s: SparkSession, root: String,
      terms: Seq[String], asOf: Option[Long] = None): DataFrame = {
    val gens = gensOf(s, root, asOf)
    val buckets = terms.map(bucketOf).distinct
    def pruned(sub: String, schema: org.apache.spark.sql.types.StructType) =
      gens.map(g =>
        s.read.schema(schema).parquet(s"$root/$g/$sub")
          .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*)))
      .reduce(_ unionByName _)
    val post = pruned("postings", PostingsSchema)
      .groupBy(col("doc_id"), col("term"))
      .agg(sum(col("tf")).as("tf"), sum(col("dl")).as("dl"))
      .filter(col("tf") > 0)
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val dfT = pruned("df", DfSchema).groupBy(col("term")).agg(sum(col("df")).as("df"))
    val stats = gens.map(g => s.read.schema(StatsSchema).parquet(s"$root/$g/stats"))
      .reduce(_ unionByName _)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("s_dl")).as("s_dl"))
    post.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term").as("token"),
        expr(TextAnalysis.bm25ScDouble("tf", "df", "dl", "n_docs", "s_dl")).as("sc"))
  }

  /** Arbitrary-term top-k from an explicit-root incremental index.
    * `asOf = Some(v)` probes the RETAINED SNAPSHOT v instead of the
    * live manifest — the exact index state whose publish carried
    * generation v, bit-reproducible until [[sweepUnreferenced]]'s
    * retention grace drops it (see [[snapshots]]): the training-run
    * pinning discipline, so "which index produced this dataset?" has
    * a replayable answer. */
  def bm25TopkAtRoot(s: SparkSession, root: String, terms: Seq[String],
      k: Int, asOf: Option[Long] = None): DataFrame =
    TextAnalysis.bm25TopkCut(scoredAtRoot(s, root, terms, asOf), k)

  /** Fielded (BM25F) top-k from an explicit-root incremental index —
    * the [[bm25TopkAtRoot]] twin: the title components net across
    * generations with the same signed-delta sums as tf/dl (they are
    * additive per doc version by construction), so fielded serving
    * inherits the whole LSM lifecycle — upserts, deletes, compaction,
    * `asOf` snapshot pins — with zero extra structures. */
  def bm25fTopkAtRoot(s: SparkSession, root: String, terms: Seq[String],
      k: Int, asOf: Option[Long] = None): DataFrame = {
    val gens = gensOf(s, root, asOf)
    val buckets = terms.map(bucketOf).distinct
    def pruned(sub: String, schema: org.apache.spark.sql.types.StructType) =
      gens.map(g =>
        s.read.schema(schema).parquet(s"$root/$g/$sub")
          .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*)))
      .reduce(_ unionByName _)
    val post = pruned("postings", PostingsSchema)
      .groupBy(col("doc_id"), col("term"))
      .agg(sum(col("tf")).as("tf"), sum(col("tf_t")).as("tf_t"),
        sum(col("dl")).as("dl"), sum(col("dl_t")).as("dl_t"))
      .filter(col("tf") > 0)
    val dfT = pruned("df", DfSchema).groupBy(col("term")).agg(sum(col("df")).as("df"))
    val stats = gens.map(g => s.read.schema(StatsSchema).parquet(s"$root/$g/stats"))
      .reduce(_ unionByName _)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("s_dl")).as("s_dl"),
        sum(col("s_dlt")).as("s_dlt"))
    val scored = post.join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .withColumn("tf_b", col("tf") - col("tf_t"))
      .withColumn("dl_b", col("dl") - col("dl_t"))
      .withColumn("s_b", col("s_dl") - col("s_dlt"))
      .select(col("doc_id"), col("term").as("token"),
        expr(TextAnalysis.bm25fSc("tf_t", "tf_b", "dl_t", "dl_b",
          "df", "n_docs", "s_dlt", "s_b")).as("sc"))
    TextAnalysis.bm25TopkCut(scored, k)
  }

  /** BATCH retrieval from an explicit-root incremental index — the
    * [[bm25TopkBatchIndexed]] serving shape over SIGNED delta
    * generations: one `(query_id, term)` frame, term buckets computed
    * as a column by the native portable hash, every generation's
    * postings/df restricted to the probe frame's (bucket, term) pairs
    * (the batch's bucket UNION — bounded by its term vocabulary —
    * collected once into PartitionFilters literals, plus the
    * broadcast pair join), then NETTED per (doc, term) / per term
    * (exact integer sums — superseded and deleted mass cancels)
    * BEFORE fanning out per query, so the maintenance history costs
    * each query nothing beyond its own terms' postings. Nano-integer
    * partial sums per (query, doc) keep 3+-term scores order-free;
    * each query's slice equals its single-query [[bm25TopkAtRoot]]
    * probe exactly (spec-pinned), including under `asOf` snapshot
    * pins — a batch serving job replays the same retained index
    * state the single probe would. Returns
    * `(query_id, rank, doc_id, bm25)`. */
  def bm25TopkBatchAtRoot(s: SparkSession, root: String, queries: DataFrame,
      k: Int, asOf: Option[Long] = None): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val gens = gensOf(s, root, asOf)
    val probes = queries
      .select(col("query_id").cast("long").as("query_id"), col("term"))
      .filter(col("term") =!= "")
      .distinct()
      .withColumn("bucket",
        pmod(PortableHash.polyHash(col("term")), lit(Buckets.toLong)).cast("int"))
    val terms = broadcast(probes.select(col("bucket"), col("term")).distinct())
    // the batch's BUCKET UNION (bounded by its term vocabulary, never
    // by the corpus) as PartitionFilters literals on every generation
    // scan — the join alone would read ALL bucket partitions and
    // filter rows after
    val buckets = probes.select(col("bucket")).distinct()
      .collect().map(r => Int.box(r.getInt(0))).toSeq
    val post = gens.map(g => s.read.schema(PostingsSchema).parquet(s"$root/$g/postings")
        .filter(col("bucket").isin(buckets: _*)))
      .reduce(_ unionByName _)
      .join(terms, Seq("bucket", "term"))
      .groupBy(col("doc_id"), col("term"), col("bucket"))
      .agg(sum(col("tf")).as("tf"), sum(col("dl")).as("dl"))
      .filter(col("tf") > 0)
    val dfT = gens.map(g => s.read.schema(DfSchema).parquet(s"$root/$g/df")
        .filter(col("bucket").isin(buckets: _*)))
      .reduce(_ unionByName _)
      .join(terms, Seq("bucket", "term"))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val stats = gens.map(g => s.read.schema(StatsSchema).parquet(s"$root/$g/stats"))
      .reduce(_ unionByName _)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("s_dl")).as("s_dl"))
    val sc = TextAnalysis.bm25ScDouble("tf", "df", "dl", "n_docs", "s_dl")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("nanos").desc, col("doc_id").asc)
    post.join(broadcast(probes), Seq("bucket", "term"))
      .join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), expr(sc).as("sc"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(floor(col("sc") * lit(1e9) + lit(0.5)).cast("long")).as("nanos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("doc_id"),
        expr(TextAnalysis.r6("cast(nanos as double) / 1e9")).as("bm25"))
  }

  /** The oracle query: identical output contract to `t_bm25` (same
    * fixed terms, same pivot, same rounding), served from the index —
    * so it shares `t_bm25`'s DuckDB oracle verbatim, which IS the
    * spec that index-serving loses nothing. */
  private def tBm25Indexed: Q = (s, dir) =>
    TextAnalysis.bm25FixedPivot(
      bm25ScoredIndexed(s, dir, TextAnalysis.Bm25Terms, exactInt = true))

  /** The fielded twin: identical output contract to `t_bm25f`, served
    * from the index's denormalized title components — shares
    * `t_bm25f`'s DuckDB oracle verbatim, which IS the spec that
    * fielded index-serving loses nothing. */
  private def tBm25fIndexed: Q = (s, dir) =>
    TextAnalysis.bm25FixedPivot(
      bm25fScoredIndexed(s, dir, TextAnalysis.Bm25Terms))

  // ----------------------------------------------------------------

  /** The positional twin: identical output contract to
    * `t_bm25_phrase`, served from the index's stored positions —
    * shares its DuckDB oracle verbatim, which IS the spec that the
    * positional postings lose nothing (including the adjacency
    * semantics restated from substring match to position chains). */
  private def tBm25PhraseIndexed: Q = (s, dir) =>
    phraseBm25Indexed(s, dir, TextAnalysis.Bm25Phrase, 20)

  /** Snippets over the INDEX-SERVED phrase hits — retrieval from the
    * positional postings, highlight from a hit-count-sized corpus
    * join: the full serving composition (probe → rank → present). */
  private def tPhraseSnippets: Q = (s, dir) =>
    TextAnalysis.phraseSnippetsOf(graft.Tables.documents(s, dir),
      phraseBm25Indexed(s, dir, TextAnalysis.Bm25Phrase, 20),
      TextAnalysis.Bm25Phrase)

  private val tPhraseSnippetsSql = {
    val phrase = TextAnalysis.Bm25Phrase
    val k = phrase.length
    val c = 3
    val toks = TextAnalysis.duckTokens("coalesce(text, '')")
    val conds = phrase.zipWithIndex.map { case (t, i) =>
      s"tk[(p + $i)::INT] = '$t'" }.mkString(" AND ")
    s"""WITH hits AS (
       |${TextAnalysis.oracles("t_bm25_phrase")}
       |),
       |tkt AS (SELECT doc_id, list_filter($toks, t -> t <> '') AS tk FROM documents),
       |st AS (SELECT h.doc_id, h.bm25, tkt.tk,
       |         list_filter(range(1, len(tkt.tk) - ${k - 1} + 1),
       |                     p -> $conds)[1] AS start
       |       FROM hits h JOIN tkt ON h.doc_id = tkt.doc_id)
       |SELECT doc_id, bm25,
       |  array_to_string(tk[greatest(start - $c, 1) : (start + ${k + c - 1})::INT], ' ') AS snippet
       |FROM st""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "t_phrase_snippets" -> tPhraseSnippets,
    "t_bm25_indexed" -> tBm25Indexed,
    "t_bm25f_indexed" -> tBm25fIndexed,
    "t_bm25_phrase_indexed" -> tBm25PhraseIndexed,
    "t_bm25_batch" -> tBm25Batch,
    "t_bm25_head" -> tBm25Head,
    "t_bm25_head_recall" -> tBm25HeadRecall)

  val oracles: Map[String, String] = Map(
    "t_phrase_snippets" -> tPhraseSnippetsSql,
    "t_bm25_indexed" -> TextAnalysis.oracles("t_bm25"),
    "t_bm25f_indexed" -> TextAnalysis.oracles("t_bm25f"),
    "t_bm25_phrase_indexed" -> TextAnalysis.oracles("t_bm25_phrase"),
    "t_bm25_batch" -> tBm25BatchSql,
    "t_bm25_head" -> tBm25HeadSql,
    "t_bm25_head_recall" -> tBm25HeadRecallSql)
}
