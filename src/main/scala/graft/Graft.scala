package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, Multimodal, SchemaUnion}
import graft.streaming.EventStreams

/** The library façade — the harness queries (`SparkEntry`) bind these
  * same operators to the test tables; user code calls them on arbitrary
  * DataFrames. Column-name parameters adapt the caller's schema to each
  * operator's internal convention (a zero-cost projection).
  *
  * {{{
  * import graft.Graft
  * Graft.register(spark)                          // native expressions
  * val dups  = Graft.dedup.nearDupIds(corpus, "id", "body", 0.9)
  * val clean = corpus.join(dups, col("id") === col("dup_id"), "left_anti")
  * val top   = Graft.similarity.topK(vectors, "vid", "emb", queryVec, 10)
  * }}}
  */
object Graft {

  /** Register graft's native expressions (`graft_polyhash`,
    * `graft_shingle_hashes`, `graft_dot`, `graft_topk`) on a session.
    * Idempotent; the operator methods call it themselves. */
  def register(spark: SparkSession): Unit =
    org.apache.spark.sql.graft.GraftFunctions.register(spark)

  /** Schema-aligning outer union — the reference's db_merge (U1). */
  def dbMerge(x: DataFrame, y: DataFrame): DataFrame = SchemaUnion.dbMerge(x, y)
  def dbMergeAll(frames: Seq[DataFrame]): DataFrame = SchemaUnion.dbMergeAll(frames)

  /** Key-upsert (MERGE / SCD-1): rows in `updates` replace same-key
    * rows in `base`, the rest carries over. */
  def upsertByKey(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    operators.RelationalExt.upsertByKey(base, updates, keys)

  /** Column-level lineage of any DataFrame from its analyzed Catalyst
    * plan — (column, source_table, source_column) rows; see
    * [[plans.Lineage.columnLineage]]. */
  def lineage(df: DataFrame): DataFrame = plans.Lineage.columnLineage(df)

  /** Scale-killer lint over a query's plans — (severity, finding,
    * detail) rows; see [[plans.PlanLint.lint]]. */
  def lint(df: DataFrame): DataFrame = plans.PlanLint.lint(df)

  /** Incremental-view-maintenance merge: sum every `addCols` column
    * across two partial per-key aggregate tables (counts, sums — any
    * additive state; DECIMAL stays exact), absent keys contributing
    * zero. merge(agg(base), agg(delta)) == agg(base ∪ delta) — the
    * identity the u9 oracle proves. */
  def mergeAggStates(base: DataFrame, delta: DataFrame, keys: Seq[String],
      addCols: Seq[String]): DataFrame =
    operators.RelationalExt.mergeAggStates(base, delta, keys, addCols)

  /** Incremental DISTINCT-count maintenance: merge per-key HLL sketch
    * states by register max-merge (order-free, and EQUAL to a
    * single-pass sketch of the union — spec-pinned), absent keys
    * carrying through. The DISTINCT member of the IVM family beside
    * [[mergeAggStates]] and [[mergeJoinView]]; estimate with
    * `hll_sketch_estimate` when reporting. */
  def mergeDistinctStates(base: DataFrame, delta: DataFrame,
      keys: Seq[String], sketchCol: String): DataFrame =
    operators.RelationalExt.mergeDistinctStates(base, delta, keys, sketchCol)

  /** Incremental JOIN-view maintenance under insert-only deltas on both
    * sides: stored view ∪ (dA ⋈ B_new) ∪ (A ⋈ dB) — both refresh terms
    * delta-bounded, dB broadcast, history never rescanned against
    * history. Exact when deltas are disjoint from their bases (updates
    * route through [[upsertByKey]]/SCD-2); the u11 oracle proves the
    * decomposition against the full recompute. */
  def mergeJoinView(baseView: DataFrame, a: DataFrame, da: DataFrame,
      bNew: DataFrame, db: DataFrame, keys: Seq[String]): DataFrame =
    operators.RelationalExt.mergeJoinView(baseView, a, da, bNew, db, keys)

  private def asDocs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))

  object dedup {

    /** Exact-dup canonical mapping: (doc_id, canonical_id) — lowest id
      * per normalized-content fingerprint wins. */
    def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
      register(df.sparkSession)
      val w = Window.partitionBy(col("fp"))
      asDocs(df, idCol, textCol)
        .withColumn("fp", expr("graft_polyhash(concat_ws(' ', " + Dedup.toksExpr + "))"))
        .select(col("doc_id"), min(col("doc_id")).over(w).as("canonical_id"))
    }

    /** MinHash signature frame (doc_id, sig) — THE cache-lifecycle
      * contract for the dedup family: the returned frame is persisted
      * at `storage` and the CALLER owns its release via
      * `sig.unpersist()` (pass `StorageLevel.NONE` to skip caching).
      * Precompute this once per corpus and feed it to
      * `minhashCandidatesFor` / `nearDupIdsFor` when making repeated
      * near-dup calls; the one-shot conveniences below never persist,
      * so no façade call leaks a cached frame into a long-lived
      * session. */
    def signatures(df: DataFrame, idCol: String, textCol: String,
        storage: org.apache.spark.storage.StorageLevel =
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
        numPerms: Int = Dedup.K): DataFrame = {
      register(df.sparkSession)
      Dedup.signaturesOf(asDocs(df, idCol, textCol), storage, numPerms)
    }

    /** Candidate pairs over a precomputed [[signatures]] frame:
      * (a_id, b_id, n_shared_bands, est_jaccard), a_id < b_id.
      * `bucketCap` bounds the per-(band, bucket) pair space: each
      * bucket keeps its earliest-`bucketCap` doc_ids as
      * representatives and every later member pairs only against
      * them — O(n·cap) pairs per band instead of O(occupancy²), the
      * batch twin of the streaming path's `MaxBucketState` discipline.
      * With occupancy ≤ cap output is identical to the uncapped join;
      * audit overflow with [[bucketStats]].
      * `bands`/`rowsPerBand` set the LSH geometry — `bands ×
      * rowsPerBand` must equal the [[signatures]] frame's `numPerms`.
      * Pick them from the S-curve P[collide] = 1 − (1 − J^rows)^bands:
      * more bands of the same rows raises recall at a given Jaccard,
      * more rows per band sharpens the threshold. */
    def minhashCandidatesFor(sig: DataFrame,
        bucketCap: Int = Dedup.MaxBucketOccupancy,
        bands: Int = Dedup.Bands, rowsPerBand: Int = Dedup.Rows): DataFrame =
      Dedup.minhashCandidatesFromSig(sig, bucketCap, bands, rowsPerBand)

    /** Per-band truncation audit for the capped band joins:
      * (band, n_buckets, max_occupancy, docs_kept, docs_truncated)
      * over a precomputed [[signatures]] frame. `docs_truncated` > 0
      * means some bucket exceeded `bucketCap` and pair recall inside
      * it is representative-mediated. */
    def bucketStats(sig: DataFrame,
        bucketCap: Int = Dedup.MaxBucketOccupancy): DataFrame =
      Dedup.bucketOccupancyStats(sig, bucketCap)

    /** One-shot MinHash+LSH near-dup candidates. Builds the signature
      * frame UNCACHED (each of the candidate join's three consumers
      * recomputes it) — correct and leak-free; for repeated calls or a
      * large corpus, precompute [[signatures]] and use
      * [[minhashCandidatesFor]]. */
    def minhashCandidates(df: DataFrame, idCol: String, textCol: String): DataFrame =
      minhashCandidatesFor(signatures(df, idCol, textCol,
        org.apache.spark.storage.StorageLevel.NONE))

    /** Ids to DROP for near-dup removal over a precomputed
      * [[signatures]] frame: the later id of every candidate pair at or
      * above `minEstJaccard` (column `dup_id`). */
    def nearDupIdsFor(sig: DataFrame, minEstJaccard: Double): DataFrame =
      minhashCandidatesFor(sig)
        .filter(col("est_jaccard") >= minEstJaccard)
        .select(col("b_id").as("dup_id")).distinct()

    /** One-shot near-dup drop list; uncached like [[minhashCandidates]]. */
    def nearDupIds(df: DataFrame, idCol: String, textCol: String,
        minEstJaccard: Double): DataFrame =
      nearDupIdsFor(signatures(df, idCol, textCol,
        org.apache.spark.storage.StorageLevel.NONE), minEstJaccard)

    /** Candidate-recall report for the LSH banding geometry: of pairs
      * whose TRUE shingle Jaccard ≥ `minJaccard`, the fraction the
      * banded MinHash generator surfaces — (n_true, n_candidates,
      * n_captured, recall). Run on a hash-sampled slice before a
      * corpus-scale dedup to validate the (perms, bands, rows)
      * choice against the S-curve. */
    def lshRecall(df: DataFrame, idCol: String, textCol: String,
        minJaccard: Double = 0.5): DataFrame =
      Dedup.lshRecallOf(
        df.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).as("text")), minJaccard,
        org.apache.spark.storage.StorageLevel.NONE)

    /** Benchmark DECONTAMINATION: ids of `corpus` docs sharing any
      * 5-shingle with `holdout` (the eval/benchmark set), with the
      * distinct shared-shingle count — run this before trusting a
      * benchmark score. Both sides reduce to 8-byte shingle hashes
      * map-side; the holdout hash set is benchmark-sized and therefore
      * broadcast-joinable at any corpus scale. */
    def contaminatedIds(corpus: DataFrame, holdout: DataFrame,
        idCol: String, textCol: String): DataFrame = {
      val c = Dedup.shingleHashesOf(asDocs(corpus, idCol, textCol))
      val h = Dedup.shingleHashesOf(asDocs(holdout, idCol, textCol))
        .select(col("h")).distinct()
      c.join(h, "h")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("h")).as("n_shared"))
    }

    /** Passage-level duplication coverage (the Lee-et-al substring-dup
      * signal at 5-token granularity): per document, the fraction of
      * token positions covered by a shingle that also appears in ≥ 1
      * OTHER document — (doc_id, n_tokens, n_covered, coverage). The
      * positional index is scanned once; the text never shuffles. */
    def passageCoverage(df: DataFrame, idCol: String, textCol: String): DataFrame =
      Dedup.passageCoverageOf(asDocs(df, idCol, textCol))

    /** EXACT repeated-substring spans at suffix-array grade (Lee et
      * al. 2022's criterion, token coordinates): maximal cross-doc
      * repeated spans of ≥ `w` tokens with md5 content witnesses —
      * the collision-free upgrade of [[passageCoverage]]'s hashed
      * signal. Returns (doc_id, span_start, span_end, n_tokens,
      * span_digest). */
    def exactSubstringSpans(df: DataFrame, idCol: String, textCol: String,
        w: Int = Dedup.ExactW): DataFrame =
      Dedup.exactSubstringSpansOf(asDocs(df, idCol, textCol), w)

    /** The actuator for [[passageCoverage]]'s signal: REMOVE every
      * token position covered by a cross-doc-repeated 5-token shingle
      * (Lee et al. 2022 cut repeated substrings out of the training
      * corpus rather than dropping whole docs). One row per doc —
      * (doc_id, n_tokens, n_removed, clean_digest), the digest
      * standing in for the cleaned text. Rides the same single-scan
      * positional index as the coverage signal. */
    def stripRepeatedSpans(df: DataFrame, idCol: String, textCol: String): DataFrame =
      Dedup.stripRepeatedSpansOf(asDocs(df, idCol, textCol))

    /** Content-defined chunking stats (Rabin/FastCDC on token
      * streams): boundaries wherever the rolling 5-token shingle hash
      * ≡ 0 (mod 16), so an edit shifts at most its own chunk — the
      * chunk-stable dedup granularity for edited re-crawls. One row
      * per doc — (doc_id, n_tokens, n_boundaries, n_chunks,
      * boundary_hash_sum, avg_chunk_len). */
    def cdcChunks(df: DataFrame, idCol: String, textCol: String): DataFrame =
      Dedup.cdcChunksOf(asDocs(df, idCol, textCol))

    /** Confirm-stage near-dup verification: MinHash-LSH candidate pairs
      * with est. Jaccard ≥ `minEstJaccard` joined back to their texts
      * for an EXACT levenshtein — (a_id, b_id, est_jaccard,
      * edit_distance). Signatures are built uncached (leak-free, like
      * [[minhashCandidates]]); precompute [[signatures]] and use
      * [[minhashCandidatesFor]] + your own join for repeated calls.
      * `maxCandidatesPerDoc` bounds the exact-verify work per document
      * (highest est_jaccard first) — inside a dup cluster of size m,
      * candidates grow ~m per doc, so an unbounded confirm stage is
      * quadratic in cluster size even with capped candidate
      * generation. `maxEditDistance` bounds the per-PAIR cost: the
      * banded levenshtein runs O(maxEditDistance·n) instead of
      * O(n·m) cells and reports −1 for pairs whose distance provably
      * exceeds the bound (i.e. "LSH false positive, not a near-dup").
      * CAUTION when thresholding the result: write
      * `edit_distance BETWEEN 0 AND t`, never `edit_distance <= t` —
      * the −1 sentinel satisfies the latter and would admit exactly
      * the pairs the verify stage ruled OUT. */
    def editDistanceVerified(df: DataFrame, idCol: String, textCol: String,
        minEstJaccard: Double,
        maxCandidatesPerDoc: Int = Dedup.MaxConfirmCandidates,
        maxEditDistance: Int = Dedup.MaxEditDistance): DataFrame = {
      val docs = asDocs(df, idCol, textCol)
      Dedup.editdistVerifyFromSig(
        Dedup.signaturesOf(docs, org.apache.spark.storage.StorageLevel.NONE),
        docs, minEstJaccard, maxCandidatesPerDoc, maxEditDistance)
    }

    /** Transitively-closed near-dup clusters over a precomputed
      * [[signatures]] frame: one row per signature doc —
      * (doc_id, cluster_id = component-min id, is_dup). Pair-level
      * dedup is not transitive (A≈B, B≈C without the (A,C) pair);
      * this closes chains via connected components so exactly one doc
      * per cluster survives. `reliable` as on the graph entry points
      * (fault-tolerant checkpoints for the propagation on a real
      * cluster). */
    def clusterIdsFor(sig: DataFrame, minEstJaccard: Double,
        reliable: Boolean = false): DataFrame =
      Dedup.clusterVerdictsFromPairs(
        sig.select(col("doc_id")),
        minhashCandidatesFor(sig)
          .filter(col("est_jaccard") >= minEstJaccard)
          .select(col("a_id"), col("b_id")),
        reliable)

    /** Content-hash diff of two corpus versions: (doc_id, status ∈
      * added | removed | changed | unchanged) — the release-notes pass
      * between training-data snapshots. Shuffles (id, hash), never
      * text. */
    def datasetDiff(v1: DataFrame, v2: DataFrame, idCol: String,
        textCol: String): DataFrame =
      Dedup.datasetDiff(asDocs(v1, idCol, textCol), asDocs(v2, idCol, textCol))

    /** Directional containment pairs — the quote/subset-dup signal
      * Jaccard misses: (a_id, b_id, inter, c_ab, c_ba) for candidate
      * pairs with max-direction containment ≥ `minContainment`
      * (c(a→b) = |shingles(a) ∩ shingles(b)| / |shingles(a)|).
      * Built uncached (leak-free, like [[minhashCandidates]]). */
    def containmentPairs(df: DataFrame, idCol: String, textCol: String,
        minContainment: Double): DataFrame =
      Dedup.containmentFromStats(
        Dedup.rareShinglePairStatsOf(asDocs(df, idCol, textCol),
          org.apache.spark.storage.StorageLevel.NONE),
        minContainment)
  }

  object similarity {

    /** Reciprocal-rank fusion of N ranked candidate lists (the
      * standard hybrid-retrieval merge — lexical + vector + whatever
      * else): each input frame carries (idCol, rankCol) with rank
      * starting at 1; the fused score is Σ 1/(k + rank) over the
      * lists an id appears in, summed as exact nano-integers so 3+
      * lists fuse partition-order-independently. Returns (id, rrf,
      * n_lists), fused top-`topK`. Each input is typically already a
      * serving top-k (bm25TopkIndexed / ann.probe), so the shuffle
      * carries pool-sized frames only. */
    def rrfFuse(ranked: Seq[DataFrame], idCol: String, rankCol: String,
        k: Int = 60, topK: Int = 20): DataFrame = {
      require(ranked.nonEmpty, "rrfFuse needs at least one ranked list")
      ranked
        .map(df => df.select(col(idCol).cast("long").as("id"),
          col(rankCol).cast("long").as("r")))
        .reduce(_ unionByName _)
        .groupBy(col("id"))
        .agg(sum(floor(lit(1e9) / (lit(k) + col("r"))).cast("long")).as("nanos"),
          count(lit(1)).as("n_lists"))
        .orderBy(col("nanos").desc, col("id").asc)
        .limit(topK)
        .select(col("id"), (col("nanos").cast("double") / lit(1e9)).as("rrf"),
          col("n_lists"))
    }

    /** Exact top-k by cosine to `query`: (id, cosine), executed as a
      * narrow scan + TakeOrderedAndProject. */
    def topK(vectors: DataFrame, idCol: String, vecCol: String,
        query: Array[Float], k: Int): DataFrame = {
      val s = vectors.sparkSession
      register(s)
      import s.implicits._
      val q = Seq(Tuple1(query)).toDF("qe")
        .withColumn("qnrm", expr("sqrt(graft_dot(qe, qe))"))
      vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
        .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
        .crossJoin(broadcast(q))
        .select(col("id"), expr("graft_dot(v, qe) / (nrm * qnrm)").as("cosine"))
        .orderBy(col("cosine").desc, col("id").asc)
        .limit(k)
    }

    /** Multi-round Lloyd k-means over `vecCol` — the quantizer
      * TRAINING loop (IVF coarse quantizer, SemDeDup cluster build).
      * Deterministic end-to-end: seeds = k lowest ids, argmin ties →
      * lowest cell, float32 centroids each round, empty cells drop.
      * Returns the model as (cell, dim, centroid, n_vectors) — k×dim
      * rows, eagerly materialized so no cached frame leaks. Per round
      * the corpus is scanned ONCE (broadcast join against k centroid
      * rows; shuffles carry argmin structs and per-(cell,dim) scalar
      * partials, never vectors). */
    def kmeans(vectors: DataFrame, idCol: String, vecCol: String,
        k: Int, rounds: Int): DataFrame =
      operators.Similarity.kmeansOf(
        vectors.select(col(idCol).cast("long").as("vec_id"),
          col(vecCol).as("embedding")),
        k, rounds)

    /** Each vector's nearest same-bucket neighbour by cosine:
      * (a_id, nearest_id, cosine) — the embedding near-dup signal.
      * `bucketBits` sets the sign-LSH width: production picks
      * bits ≈ log₂(n / target_bucket_size); true near-dups (cos ≈ 1)
      * share all sign bits, so widening costs no recall. `bucketBits
      * = 0` degenerates to one bucket = exact all-pairs nearest (only
      * for small n). `bucketCap` bounds each bucket's candidate side
      * at its earliest-id representatives (pairs O(n·cap)); every
      * vector still probes, so every a_id keeps a nearest. */
    def nearestInBucket(vectors: DataFrame, idCol: String, vecCol: String,
        bucketBits: Int = 8,
        bucketCap: Int = Dedup.MaxBucketOccupancy): DataFrame =
      Dedup.embeddingNearDupOf(
        vectors.select(col(idCol).cast("long").as("vec_id"),
          col(vecCol).as("embedding")),
        bucketBits, bucketCap)

    /** SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings,
      * then mark each vector a semantic duplicate iff its cosine to a
      * lower-id representative of the SAME cell reaches `threshold` —
      * (vec_id, cell, kept, dup_of, max_cos), `-1` sentinels where a
      * cell has no earlier candidate. The quadratic lives strictly
      * inside a cell and the candidate side is capped per cell
      * (`cellCap` earliest-id reps ⇒ pairs O(n·cap)); production
      * dimensions k ≈ n / target_cell_size and τ ≈ 0.95–0.99. */
    def semDeDup(vectors: DataFrame, idCol: String, vecCol: String,
        k: Int, rounds: Int, threshold: Double,
        cellCap: Int = Dedup.MaxBucketOccupancy): DataFrame =
      Dedup.semDeDupOf(
        vectors.select(col(idCol).cast("long").as("vec_id"),
          col(vecCol).as("embedding")),
        k, rounds, threshold, cellCap,
        org.apache.spark.storage.StorageLevel.NONE)

    /** Hard-negative mining for contrastive training: for each anchor
      * row, the top-`k` most-similar vectors with a DIFFERENT label —
      * (anchor_id, anchor_label, rank, neg_id, neg_label, cosine).
      * Anchors broadcast (a query batch, never corpus-scale); one
      * corpus scan collapses map-side through the k-bounded
      * `graft_topk` aggregate. */
    def hardNegatives(vectors: DataFrame, anchors: DataFrame,
        idCol: String, vecCol: String, labelCol: String, k: Int = 5): DataFrame = {
      def norm(df: DataFrame) =
        df.select(col(idCol).cast("long").as("vec_id"),
          col(vecCol).as("embedding"), col(labelCol).as("label"))
      operators.Similarity.hardNegativesOf(norm(vectors), norm(anchors), k)
    }

    /** Per-group exact top-k via the `graft_topk` aggregate:
      * (group, id, score) — one shuffle of k-bounded buffers. */
    def topKPerGroup(scored: DataFrame, groupCol: String, idCol: String,
        scoreCol: String, k: Int): DataFrame = {
      register(scored.sparkSession)
      scored
        .groupBy(col(groupCol).as("group"))
        .agg(expr(s"graft_topk(CAST($scoreCol AS DOUBLE), CAST($idCol AS BIGINT), $k)").as("top"))
        .select(col("group"), explode(col("top")).as("hit"))
        .select(col("group"), col("hit.id").as("id"), col("hit.score").as("score"))
    }

    /** Late-interaction (ColBERT MaxSim) retrieval over multi-vector
      * documents: `docVectors` = one row per document VECTOR, `query` =
      * the query's vectors; score(q, d) = Σ over query vectors of the
      * max cosine to any of d's vectors. Broadcast query, one corpus
      * scan, per-doc state bounded by the query's vector count. */
    def maxsimTopK(docVectors: DataFrame, idCol: String, vecCol: String,
        query: DataFrame, qidCol: String, qvecCol: String,
        k: Int = 10): DataFrame =
      operators.Similarity.maxsimTopk(
        docVectors.select(col(idCol).cast("long").as("doc_id"),
          col(vecCol).as("embedding")),
        query.select(col(qidCol).cast("long").as("qv"),
          col(qvecCol).as("embedding")), k)
  }

  /** Persisted, incrementally-maintained ANN index (IVF over cosine) —
    * the serving-side companion to [[similarity]]'s in-query
    * operators. `build` founds the index at a path (freezing the
    * coarse quantizer), `upsert` appends a batch as a new generation
    * without touching published files, `probe` answers top-k against
    * the live manifest. See [[operators.AnnIndex]] for the layout and
    * the exactness contract (probe(upserted) == probe(rebuilt) under
    * pure appends, spec-pinned). */
  object ann {
    private def asVectors(df: DataFrame, idCol: String, vecCol: String,
        labelCol: String): DataFrame =
      df.select(col(idCol).cast("long").as("vec_id"),
        col(labelCol).as("label"), col(vecCol).as("embedding"))

    /** Found the index at `root` from a non-empty corpus containing
      * the seed ids `0 until cells`. */
    def build(vectors: DataFrame, idCol: String, vecCol: String,
        labelCol: String, root: String, cells: Int = 8): Unit =
      operators.AnnIndex.build(asVectors(vectors, idCol, vecCol, labelCol),
        root, cells)

    /** Append a batch as the next generation; returns the per-cell
      * `(cell, n_before, n_added, n_after)` accounting frame. */
    def upsert(batch: DataFrame, idCol: String, vecCol: String,
        labelCol: String, root: String): DataFrame =
      operators.AnnIndex.upsert(asVectors(batch, idCol, vecCol, labelCol), root)

    /** Top-`k` cosine neighbours of `queryVec` from the live index;
      * empty frame when no index is published at `root`. */
    /** `where`: optional metadata predicate (over vec_id/label/cell)
      * for FILTERED vector search — applied to the resolved live rows
      * of the probed cells before scoring (post-filter semantics:
      * raise `nprobe` when the filter is very selective). */
    def probe(spark: SparkSession, root: String, queryVec: Array[Float],
        nprobe: Int = 2, k: Int = 10, asOf: Option[Long] = None,
        where: Option[String] = None): DataFrame =
      operators.AnnIndex.probe(spark, root, queryVec, nprobe, k, asOf, where)

    /** The retained snapshot versions at an ANN-index root, ascending
      * (one per publish; expired by [[sweep]] past its grace). Pass
      * one as `asOf` to [[probe]]/[[probeAdc]] to replay exactly the
      * index state that publish left — the training-run pin. */
    def snapshots(spark: SparkSession, root: String): Seq[Long] =
      operators.AnnIndex.snapshots(spark, root)

    /** Restore the live index to retained snapshot `v` (Delta RESTORE
      * shape — discards everything published after it; see
      * [[operators.AnnIndex.rollbackTo]]). */
    def rollbackTo(spark: SparkSession, root: String, v: Long): Unit =
      operators.AnnIndex.rollbackTo(spark, root, v)

    /** Vecs added/removed/updated between two retained snapshots —
      * the repin audit; see [[operators.AnnIndex.snapshotDiff]]. */
    def snapshotDiff(spark: SparkSession, root: String,
        v1: Long, v2: Long): DataFrame =
      operators.AnnIndex.snapshotDiff(spark, root, v1, v2)

    /** BATCH probe of the live LSM index: a `(query_id, embedding)`
      * frame served in one pass — per-query probe cells as a
      * broadcast column from the latest running-stats centroids,
      * generation scans pruned to the union of probed cells,
      * latest-event-wins resolution run once per vec. Each query's
      * slice equals its single [[probe]] exactly (spec-pinned).
      * Returns `(query_id, rank, vec_id, label, cell, cosine)`. */
    def probeBatch(spark: SparkSession, root: String, queries: DataFrame,
        nprobe: Int = 2, k: Int = 10, asOf: Option[Long] = None,
        where: Option[String] = None): DataFrame =
      operators.AnnIndex.probeBatch(spark, root, queries, nprobe, k, asOf, where)

    /** Two-stage IVF-PQ probe of the live index: ADC over the stored
      * per-generation PQ codes of the probed cells, exact re-rank of
      * the `rerankPool` shortlist only. Same upsert-exactness contract
      * as [[probe]] (spec-pinned). */
    def probeAdc(spark: SparkSession, root: String, queryVec: Array[Float],
        nprobe: Int = 2, k: Int = 10, rerankPool: Int = 30,
        asOf: Option[Long] = None): DataFrame =
      operators.AnnIndex.probeAdc(spark, root, queryVec, nprobe, k, rerankPool, asOf)

    /** BATCH IVF-PQ probe of the live LSM index — [[probeBatch]]'s
      * one-pass shape for the ADC path (codes scanned, shortlists per
      * qid, exact re-rank of shortlisted rows only). Each query's
      * slice equals its single [[probeAdc]] (spec-pinned). */
    def probeAdcBatch(spark: SparkSession, root: String, queries: DataFrame,
        nprobe: Int = 2, k: Int = 10, rerankPool: Int = 30,
        asOf: Option[Long] = None): DataFrame =
      operators.AnnIndex.probeAdcBatch(spark, root, queries, nprobe, k,
        rerankPool, asOf)

    /** BATCH IVF-PQ serving over `dir`'s memo-cached index: a whole
      * `(query_id, embedding)` frame probes in ONE join — per-query
      * probe cells as a broadcast column, DPP-pruned codes/data scans,
      * per-qid ADC shortlist + exact re-rank. Each query's slice
      * equals its single probe exactly (spec-pinned). Returns
      * `(query_id, rank, vec_id, label, cell, cosine)`. */
    def ivfpqBatchTopk(spark: SparkSession, dir: String, queries: DataFrame,
        k: Int = 10, nprobe: Int = 2, rerankPool: Int = 30): DataFrame =
      operators.Similarity.ivfpqBatchTopk(spark, dir, queries, k, nprobe, rerankPool)

    /** Tombstone-delete ids from the live index (idempotent; bytes
      * remain until [[compact]]). Returns `(cell, n_deleted)`. */
    def delete(ids: DataFrame, root: String): DataFrame =
      operators.AnnIndex.delete(ids, root)

    /** Fold all generations + tombstones into one, rebuilding the
      * running stats from the survivors. `retrain = true` additionally
      * retrains BOTH quantizers on the surviving corpus (new coarse
      * seeds + PQ codebooks, full re-assign/re-encode, swapped
      * atomically via the manifest) — the recovery [[driftStats]]'s
      * centroid-displacement signal calls for on a shifted corpus.
      * Returns `(cell, n_live, gens_folded)`. */
    def compact(spark: SparkSession, root: String,
        retrain: Boolean = false): DataFrame =
      operators.AnnIndex.compact(spark, root, retrain)

    /** Per-cell drift accounting — live vs running-stats mass and the
      * centroid displacement re-sends/deletes have accumulated; the
      * "when to compact" signal. Returns `(cell, n_live, n_stats,
      * n_superseded, centroid_shift)`. */
    def driftStats(spark: SparkSession, root: String): DataFrame =
      operators.AnnIndex.driftStats(spark, root)

    /** GC generation dirs no longer referenced by the live manifest,
      * past a grace window; returns the deleted names. */
    def sweep(spark: SparkSession, root: String,
        graceMs: Long = 30L * 60 * 1000): Seq[String] =
      operators.AnnIndex.sweepUnreferenced(spark, root, graceMs)

    /** Training-run pin registry: a pinned version never expires from
      * the retention sweep until unpinned. */
    def pin(spark: SparkSession, root: String, tag: String, v: Long): Unit =
      operators.AnnIndex.pin(spark, root, tag, v)
    def unpin(spark: SparkSession, root: String, tag: String): Unit =
      operators.AnnIndex.unpin(spark, root, tag)
    def pins(spark: SparkSession, root: String): Map[String, Long] =
      operators.AnnIndex.pins(spark, root)

    /** The maintenance policy loop: compact iff the superseded
      * fraction of the running stats exceeds the budget. Returns
      * Some(compaction accounting) if it compacted. */
    def compactIfDrifted(spark: SparkSession, root: String,
        maxSupersededFraction: Double = 0.2): Option[DataFrame] =
      operators.AnnIndex.compactIfDrifted(spark, root, maxSupersededFraction)

    /** Continuous ingestion: every micro-batch of a streaming
      * `(vec_id, label, embedding)` frame upserts as one index
      * generation (idempotent under replay — see
      * [[streaming.StreamingAnnIngest]]). The index must already be
      * built. */
    def ingestStream(vectors: DataFrame, root: String,
        checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
      streaming.StreamingAnnIngest.ingest(vectors, root, checkpoint)

    /** CDC ingestion: one stream of (op, vec_id, label, embedding)
      * carrying upserts AND deletes — deletes apply first within a
      * batch, exactly-once effect under replay. */
    def cdcStream(changes: DataFrame, root: String,
        checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
      streaming.StreamingAnnIngest.cdc(changes, root, checkpoint)
  }

  /** Ingest-gate data quality: one-pass column profiling (exact or
    * HLL-approximate distincts) — see [[operators.Quality]]. */
  object quality {
    def profile(df: DataFrame, exact: Boolean = true): DataFrame =
      operators.Quality.profile(df, exact)

    /** Declarative expectation report over arbitrary named rules, one
      * aggregate pass, optionally SLICED by `groupCols` (e.g. the
      * ingest feed): `(groupCols…, rule, n_checked, n_violations,
      * pass)`. NULL predicate results count as violations. */
    def expectations(df: DataFrame, rules: Seq[(String, Column)],
        groupCols: Seq[String] = Nil): DataFrame =
      operators.Quality.expectationsOf(df, rules, groupCols)

    /** Population-stability-index drift report between two versions
      * of a table: per column (column, n_base, n_cur, psi, drifted) —
      * numeric columns bucket equal-width over the BASE extent,
      * categoricals by value, PSI terms summed as exact
      * nano-integers, alert at `alert` (0.2 = the standard
      * significant-shift threshold). */
    def driftPsi(base: DataFrame, cur: DataFrame, numericCols: Seq[String],
        categoricalCols: Seq[String], buckets: Int = 10,
        alert: Double = 0.2): DataFrame =
      operators.Quality.driftPsi(base, cur, numericCols, categoricalCols,
        buckets, alert)

    /** Two-sample Kolmogorov-Smirnov drift per column: D = the
      * worst-case CDF gap at any point — catches tail shifts PSI's
      * fixed buckets smear. Exact integer arithmetic until one final
      * division; the alert (D > 0.1) compares cross-multiplied
      * integers. For discrete/quantized columns; quantize continuous
      * ones first or use [[driftPsi]]. */
    def driftKs(base: DataFrame, cur: DataFrame, cols: Seq[String]): DataFrame =
      operators.Quality.driftKs(base, cur, cols)

    /** Chi-square drift over the PSI buckets with a φ² (effect-size)
      * alert — the statistic whose per-bucket terms localize WHICH
      * buckets moved; see [[operators.Quality.driftChi2]]. */
    def driftChi2(base: DataFrame, cur: DataFrame, numericCols: Seq[String],
        categoricalCols: Seq[String]): DataFrame =
      operators.Quality.driftChi2(base, cur, numericCols, categoricalCols)

    /** Normalized Wasserstein-1 drift (CDF area gap / base extent) —
      * reads HOW FAR mass moved, not just that it moved; see
      * [[operators.Quality.driftW1]]. */
    def driftW1(base: DataFrame, cur: DataFrame, cols: Seq[String]): DataFrame =
      operators.Quality.driftW1(base, cur, cols)

    /** Sketch-based corpus overlap (decontamination triage): estimate
      * |A|, |B|, |A∪B|, |A∩B| over 8-byte key frames from two mergeable
      * HLL sketches — one narrow scan per corpus, no join of the key
      * universes. Pair with [[Graft.dedup.contaminatedIds]] when the
      * estimated overlap warrants the exact pass. */
    def overlapSketch(a: DataFrame, b: DataFrame, keyCol: String): DataFrame =
      operators.Quality.overlapSketch(a, b, keyCol)

    /** Row-level quality gate with quarantine: split `df` into (pass,
      * quarantined) by named per-row rules in one narrow pass —
      * quarantined rows carry the violated rule names. NULL rule
      * results count as violations. */
    def quarantine(df: DataFrame, rules: Seq[(String, Column)])
        : (DataFrame, DataFrame) =
      operators.Quality.quarantine(df, rules)

    /** [[quarantine]] + parquet sinks (the DLQ/badRecordsPath pattern
      * with reasons attached); returns (nPass, nQuarantined) counted
      * from the written files. */
    def quarantineTo(df: DataFrame, rules: Seq[(String, Column)],
        passPath: String, quarantinePath: String): (Long, Long) =
      operators.Quality.quarantineTo(df, rules, passPath, quarantinePath)

    /** Join-key skew diagnostics: the heaviest `topN` keys of `keyCol`
      * with exact share and the per-key salt factor a salted join
      * needs to level them across `partitions` reducers. */
    def skewReport(df: DataFrame, keyCol: String, partitions: Int = 32,
        topN: Int = 10): DataFrame =
      operators.Quality.skewReport(df, keyCol, partitions, topN)

    /** Bloom semi-join reduction: drop `fact` rows whose `factKey`
      * cannot match `dim`'s `dimKey` BEFORE any shuffle — Spark's
      * runtime-filter optimization as an explicit operator (for
      * pre-computed dims, cross-query filter reuse, or predicates the
      * optimizer rule won't fire on). False negatives are impossible;
      * downstream joins remove the false positives. */
    def bloomReduce(fact: DataFrame, factKey: String, dim: DataFrame,
        dimKey: String): DataFrame =
      operators.RelationalExt.bloomReduce(fact, factKey, dim, dimKey)
  }

  object text {

    /** The reference tokenizer (punctuation-normalized, lower-cased). */
    def tokens(c: Column): Column =
      split(regexp_replace(lower(c), "[\\p{Punct} ]+", " "), " ")

    /** PII redaction column: emails, phone numbers, and IPv4 addresses
      * replaced with `<EMAIL>`/`<PHONE>`/`<IP>` placeholders — the
      * corpus-scrubbing pass before tokenization. */
    def redactPii(c: Column): Column = operators.TextAnalysis.redactPii(c)

    /** Content fingerprint column (portable polynomial hash).
      * `call_function` resolves the registered native expression against
      * the composed Column directly — no SQL-string interpolation, so
      * qualified/aliased input columns work. */
    def fingerprint(c: Column): Column =
      call_function("graft_polyhash", concat_ws(" ", tokens(c)))

    /** BM25 ranked retrieval (k1 = 1.2, b = 0.75): top-k documents for
      * a term query. The postings shuffle is restricted to the query's
      * terms before the exchange; doc-frequency and corpus stats
      * broadcast; the cut is TakeOrderedAndProject — no global sort at
      * any corpus size. */
    def bm25Topk(df: DataFrame, idCol: String, textCol: String,
        terms: Seq[String], k: Int = 20): DataFrame =
      operators.TextAnalysis.bm25TopkOf(asDocs(df, idCol, textCol), terms, k)

    /** EXACT threshold heavy hitters over an unbounded token universe
      * (count·(k+1) > corpus tokens): per-partition Misra-Gries
      * candidate sketches (bounded state, no vocabulary shuffle), then
      * an exact verify pass over candidates only. Equals the naive
      * GROUP BY + HAVING — the pigeonhole guarantee makes the
      * candidate union complete and the verify pass makes false
      * candidates harmless. Use the `t_top_tokens` groupBy shape when
      * the vocabulary is bounded; use THIS for URLs/n-grams/user-ids. */
    def frequentTerms(df: DataFrame, idCol: String, textCol: String,
        k: Int = 2000): DataFrame =
      operators.TextAnalysis.frequentTermsOf(asDocs(df, idCol, textCol), k)

    /** BM25F fielded retrieval (Robertson & Zaragoza 2004): title hits
      * weighted 3× body hits, field TFs combined into one
      * pseudo-frequency BEFORE saturation (per-field BM25 summed after
      * saturation over-rewards a term spread thin). The title is the
      * first [[operators.TextAnalysis.Bm25fTitleLen]] tokens here; a
      * real corpus supplies field columns and the arithmetic is
      * unchanged. Same scale shape as [[bm25Topk]]. */
    def bm25fTopk(df: DataFrame, idCol: String, textCol: String,
        terms: Seq[String], k: Int = 20): DataFrame =
      operators.TextAnalysis.bm25fTopkOf(asDocs(df, idCol, textCol), terms, k)

    /** Phrase retrieval (exact consecutive-token match, Lucene
      * two-stage): candidates from the phrase terms' posting
      * intersection, adjacency confirmed only on candidates, BM25
      * scored with GLOBAL stats (the filter-query convention — the
      * phrase narrows candidates, never the idf). */
    def phraseBm25Topk(df: DataFrame, idCol: String, textCol: String,
        phrase: Seq[String], k: Int = 20): DataFrame =
      operators.TextAnalysis.phraseBm25Of(asDocs(df, idCol, textCol), phrase, k)

    /** BM25 top-k served from the persisted inverted index (built
      * on first use, fingerprint-memoized, atomically published —
      * the [[ann]] discipline applied to text): probes scan only the
      * query terms' bucket partitions, never the corpus. Same scores
      * as [[bm25Topk]], spec-pinned. */
    def bm25TopkIndexed(spark: SparkSession, dir: String,
        terms: Seq[String], k: Int = 20): DataFrame =
      operators.TextIndex.bm25TopkIndexed(spark, dir, terms, k)

    /** BUDGET-BOUNDED BM25 top-k from the champion-list head tier:
      * candidates per term capped at the build-time budget (impact-
      * ordered tf/dl), df/stats stay global and exact — returned
      * scores equal the exact probe's, membership beyond the budget
      * may differ (gated by `t_bm25_head_recall`). Probe IO is
      * bounded at any corpus size — the `budgetProbesOf` discipline
      * for text. Exact when every term's df ≤ the budget
      * (spec-pinned). */
    def bm25TopkHead(spark: SparkSession, dir: String,
        terms: Seq[String], k: Int = 20): DataFrame =
      operators.TextIndex.bm25TopkHead(spark, dir, terms, k)

    /** BM25F top-k served from the SAME persisted index — the title
      * components are denormalized onto the postings (body = total −
      * title), so fielded scoring rides the identical bucket-pruned
      * probes. Same scores as [[bm25fTopk]], spec-pinned. */
    def bm25fTopkIndexed(spark: SparkSession, dir: String,
        terms: Seq[String], k: Int = 20): DataFrame =
      operators.TextIndex.bm25fTopkIndexed(spark, dir, terms, k)

    /** BATCH retrieval serving: a whole `(query_id, term)` frame
      * probes the index in ONE join (dynamic partition pruning from
      * the join on the bucket column); per-query top-k. Each query's
      * slice equals its single-query [[bm25TopkIndexed]] exactly
      * (spec-pinned). Returns (query_id, rank, doc_id, bm25). */
    def bm25TopkBatch(spark: SparkSession, dir: String, queries: DataFrame,
        k: Int = 20): DataFrame =
      operators.TextIndex.bm25TopkBatchIndexed(spark, dir, queries, k)

    /** Found an incrementally-maintained BM25 index at an explicit
      * `root` (generation 0). BM25's inputs are integer-additive
      * across generations, so probes over an upserted index equal a
      * from-scratch index of the surviving corpus EXACTLY — including
      * under re-sends and deletes (spec-pinned; signed-delta
      * generations, see [[operators.TextIndex]]). */
    def bm25IndexBuild(docs: DataFrame, idCol: String, textCol: String,
        root: String): Unit =
      operators.TextIndex.build(asDocs(docs, idCol, textCol), root)

    /** Upsert a batch as the next index generation — new ids append,
      * re-sent ids SUPERSEDE their old version exactly (old postings
      * negated in the same generation); atomic manifest publish.
      * Returns the (generation, n_batch, n_new, n_resent) accounting
      * row. `assumeAppendOnly` skips the re-send resolution scan when
      * upstream guarantees all-new ids. */
    def bm25IndexUpsert(batch: DataFrame, idCol: String, textCol: String,
        root: String, assumeAppendOnly: Boolean = false): DataFrame =
      operators.TextIndex.upsert(asDocs(batch, idCol, textCol), root,
        assumeAppendOnly = assumeAppendOnly)

    /** Delete doc ids from the live index (appends a generation of
      * exact negations — idempotent, GDPR-delete shape; a later
      * re-upsert revives the id). Returns (generation, n_deleted). */
    def bm25IndexDelete(ids: DataFrame, idCol: String, root: String): DataFrame =
      operators.TextIndex.delete(ids.select(col(idCol).as("doc_id")), root)

    /** Fold all generations into one (purges superseded/deleted mass);
      * returns (n_live, gens_folded). */
    def bm25IndexCompact(spark: SparkSession, root: String): DataFrame =
      operators.TextIndex.compact(spark, root)

    /** GC unreferenced generation dirs past a grace window; returns
      * the deleted names. */
    def bm25IndexSweep(spark: SparkSession, root: String,
        graceMs: Long = 30L * 60 * 1000): Seq[String] =
      operators.TextIndex.sweepUnreferenced(spark, root, graceMs)

    /** Per-bucket postings-bloat accounting (physical rows vs
      * net-live postings — the text "when to compact" signal). */
    def bm25IndexStats(spark: SparkSession, root: String): DataFrame =
      operators.TextIndex.indexStats(spark, root)

    /** Compact iff the dead fraction of posting rows exceeds the
      * budget; Some(accounting) if it compacted. */
    def bm25IndexCompactIfBloated(spark: SparkSession, root: String,
        maxDeadFraction: Double = 0.2): Option[DataFrame] =
      operators.TextIndex.compactIfBloated(spark, root, maxDeadFraction)

    /** BM25 top-k from an explicit-root incremental index. `asOf`
      * probes a RETAINED SNAPSHOT version instead of the live
      * manifest (every publish writes one; see [[bm25Snapshots]]) —
      * the training-run pinning discipline: record the version a run
      * read, and its exact index state stays replayable until the
      * sweep's retention grace expires it. */
    def bm25TopkAt(spark: SparkSession, root: String, terms: Seq[String],
        k: Int = 20, asOf: Option[Long] = None): DataFrame =
      operators.TextIndex.bm25TopkAtRoot(spark, root, terms, k, asOf)

    /** BM25F top-k from an explicit-root incremental index — the
      * fielded [[bm25TopkAt]] twin: title components net across
      * generations under the same signed-delta algebra as tf/dl, so
      * fielded serving inherits upserts, deletes, compaction, and
      * `asOf` snapshot pins with zero extra structures. */
    def bm25fTopkAt(spark: SparkSession, root: String, terms: Seq[String],
        k: Int = 20, asOf: Option[Long] = None): DataFrame =
      operators.TextIndex.bm25fTopkAtRoot(spark, root, terms, k, asOf)

    /** Phrase-constrained BM25 top-k served from the persisted
      * index's POSITIONAL postings (v4): candidates from the
      * bucket-pruned term intersection, adjacency from stored
      * positions — the corpus is never touched. Same scores as
      * [[phraseBm25Topk]], spec-pinned. */
    def phraseBm25Indexed(spark: SparkSession, dir: String,
        phrase: Seq[String], k: Int = 20): DataFrame =
      operators.TextIndex.phraseBm25Indexed(spark, dir, phrase, k)

    /** Snippets for phrase hits `(doc_id, bm25)`: each hit reduces to
      * the ±`context` tokens around its first phrase occurrence —
      * the highlight stage after [[phraseBm25Indexed]]; the corpus
      * join is hit-count-sized (broadcast). */
    def phraseSnippets(docs: DataFrame, hits: DataFrame,
        phrase: Seq[String], context: Int = 3): DataFrame =
      operators.TextAnalysis.phraseSnippetsOf(docs, hits, phrase, context)

    /** Phrase retrieval from an explicit-root incremental index:
      * tf/df/stats net across signed-delta generations; positions
      * (not additive) come from each doc's latest positive row, so
      * phrase serving inherits upserts (with changed positions),
      * deletes, compaction, and `asOf` snapshot pins. */
    def phraseBm25At(spark: SparkSession, root: String, phrase: Seq[String],
        k: Int = 20, asOf: Option[Long] = None): DataFrame =
      operators.TextIndex.phraseBm25AtRoot(spark, root, phrase, k, asOf)

    /** The retained snapshot versions at a text-index root, ascending
      * (one per publish; expired by the sweep past its grace). */
    def bm25Snapshots(spark: SparkSession, root: String): Seq[Long] =
      operators.TextIndex.snapshots(spark, root)

    /** Restore the live text index to retained snapshot `v` (Delta
      * RESTORE shape — discards everything published after it; see
      * [[operators.TextIndex.rollbackTo]]). */
    def bm25RollbackTo(spark: SparkSession, root: String, v: Long): Unit =
      operators.TextIndex.rollbackTo(spark, root, v)

    /** Training-run pin registry: a pinned version never expires from
      * the retention sweep until unpinned. */
    def bm25Pin(spark: SparkSession, root: String, tag: String, v: Long): Unit =
      operators.TextIndex.pin(spark, root, tag, v)
    def bm25Unpin(spark: SparkSession, root: String, tag: String): Unit =
      operators.TextIndex.unpin(spark, root, tag)
    def bm25Pins(spark: SparkSession, root: String): Map[String, Long] =
      operators.TextIndex.pins(spark, root)

    /** Docs added/removed/updated between two retained snapshots —
      * the repin audit; see [[operators.TextIndex.snapshotDiff]]. */
    def bm25SnapshotDiff(spark: SparkSession, root: String,
        v1: Long, v2: Long): DataFrame =
      operators.TextIndex.snapshotDiff(spark, root, v1, v2)

    /** BATCH BM25 serving from an explicit-root incremental index: a
      * `(query_id, term)` frame probes the signed-delta generations
      * in one pass (netting precedes the per-query fan-out, so the
      * maintenance history costs each query nothing beyond its own
      * terms' postings). Each query's slice equals its single
      * [[bm25TopkAt]] probe exactly (spec-pinned). Returns
      * `(query_id, rank, doc_id, bm25)`. */
    def bm25TopkBatchAt(spark: SparkSession, root: String,
        queries: DataFrame, k: Int = 20,
        asOf: Option[Long] = None): DataFrame =
      operators.TextIndex.bm25TopkBatchAtRoot(spark, root, queries, k, asOf)

    /** Continuous document ingestion into the incremental BM25 index:
      * each micro-batch upserts as one generation (idempotent under
      * replay — see [[streaming.StreamingTextIngest]]). The index must
      * already be built. */
    def ingestStream(docs: DataFrame, root: String,
        checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
      streaming.StreamingTextIngest.ingest(docs, root, checkpoint)

    /** CDC ingestion: one stream of (op, doc_id, text) carrying
      * document revisions AND deletions — re-sent doc_ids supersede
      * exactly (signed deltas), deletes apply first within a batch,
      * exactly-once effect under replay. */
    def cdcStream(changes: DataFrame, root: String,
        checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
      streaming.StreamingTextIngest.cdc(changes, root, checkpoint)

    /** UniMax language-budget waterfilling (Chung et al. 2023): given
      * per-language token counts from `df`, allocate each language
      * min(epochCap·cᵢ, t) tokens with the water level t exhausting the
      * budget B = (bNum·total) div bDen. One corpus scan; every
      * comparison past the count aggregate is exact-integer on a
      * |languages|-sized frame. */
    def unimaxBudgets(df: DataFrame, langCol: String, textCol: String,
        epochCap: Long = 2L, bNum: Long = 8L, bDen: Long = 5L): DataFrame =
      operators.TextAnalysis.unimaxOf(
        df.select(col(langCol).as("lang"),
            coalesce(col(textCol), lit("")).as("text"))
          .groupBy(col("lang"))
          .agg(sum(size(filter(tokens(col("text")), t => t =!= ""))
            .cast("long")).as("c")),
        epochCap, bNum, bDen)

    /** BPE merge induction (tokenizer vocabulary training): the corpus
      * collapses once to a (word, freq) vocab, then `rounds` greedy
      * merge rounds over the vocab-sized symbol table → the learned
      * merge table (merge_round, sym_a, sym_b, pair_count). */
    def bpeMerges(df: DataFrame, textCol: String, rounds: Int = 3): DataFrame =
      operators.TextAnalysis.bpeMerges(df.select(col(textCol).as("text")), rounds)

    /** BPE ENCODE — apply [[bpeMerges]]'s learned merge table back to
      * the corpus: per doc, word count, encoded symbol count (the
      * trained tokenizer's "token bill") and a digest of the encoded
      * stream. Encoding runs over the distinct-word vocabulary
      * (vocab-sized merge folds); the corpus pays one token→vocab
      * join plus a per-doc ordered agg — text never enters the folds. */
    def bpeEncode(df: DataFrame, idCol: String, textCol: String,
        rounds: Int = 3): DataFrame =
      operators.TextAnalysis.bpeEncodeOf(asDocs(df, idCol, textCol), rounds)

    /** SentencePiece-style unigram Viterbi segmentation over a
      * data-derived piece vocabulary (chars + frequent 2/3-grams),
      * integer-exact objective — per doc (n_words, n_pieces,
      * piece_mass); see [[operators.TextAnalysis.unigramSegmentOf]]. */
    def unigramSegment(df: DataFrame, idCol: String, textCol: String): DataFrame =
      operators.TextAnalysis.unigramSegmentOf(asDocs(df, idCol, textCol))

    /** Cross-document boilerplate removal (C4/RefinedWeb line dedup):
      * segments of `segLen` tokens recurring in ≥ `minDf` distinct
      * documents are struck from every document → (doc_id, n_segments,
      * n_removed, clean_text) with survivors rejoined in original
      * order. Segment df shuffles 8-byte hashes, never text. */
    def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
        segLen: Int = 10, minDf: Int = 3): DataFrame =
      operators.TextAnalysis.removeBoilerplateOf(
        asDocs(df, idCol, textCol), segLen, minDf)

    /** The Gopher hard-filter rule battery (Rae et al. 2021): per-doc
      * rule measurements (word count, symbol-to-word ratio, bullet /
      * ellipsis line fractions, alpha-word fraction, stopword hits)
      * plus the boolean `passes` a cleaning pipeline branches on —
      * the hard-filter complement of the soft quality score. Pure
      * per-row projections, one codegen stage at any scale. */
    def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame =
      operators.TextAnalysis.gopherRulesOf(
        df.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).as("text"),
          length(col(textCol)).cast("long").as("n_chars")))

    /** CCNet-style LM fluency signal: an add-k-smoothed bigram model
      * trained on the corpus in one aggregate pass, each doc scored by
      * its mean per-token conditional probability (higher = more
      * corpus-typical). The model is two vocab-bounded count tables —
      * broadcastable at any corpus scale; documents never shuffle. */
    def lmScore(df: DataFrame, idCol: String, textCol: String,
        k: Double = operators.TextAnalysis.LmK): DataFrame =
      operators.TextAnalysis.lmScoreOf(
        df.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).as("text")), k)

    /** The conventional perplexity view of [[lmScore]]'s model:
      * per-doc exp(−mean ln p). Same ranking signal, log units. */
    def lmPerplexity(df: DataFrame, idCol: String, textCol: String,
        k: Double = operators.TextAnalysis.LmK): DataFrame =
      operators.TextAnalysis.lmPerplexityOf(
        df.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).as("text")), k)

    /** CCNet-style head/middle/tail quality strata: within each
      * language, rank documents by the corpus-trained LM's mean token
      * probability and cut into tertiles — (doc_id, lang,
      * mean_token_prob, bucket). Head = most corpus-typical (lowest
      * perplexity). Windows partition by language, never globally.
      * Documents with < 2 tokens have no LM score and are absent from
      * the output — apply a min-length filter ([[gopherRules]])
      * upstream, as a real pipeline does before perplexity bucketing. */
    def ccnetBuckets(df: DataFrame, idCol: String, textCol: String,
        langCol: String): DataFrame =
      operators.TextAnalysis.ccnetBucketsOf(
        df.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).as("text"), col(langCol).as("lang")))

    /** DSIR-style domain-affinity weighting: score each document by
      * how much its hashed-unigram features look like the rows where
      * `isTarget` holds vs the whole corpus — (doc_id, in_target,
      * n_tokens, affinity), higher = more target-like. Probability-
      * difference estimator (engine-exact); see [[domainAffinityLog]]
      * for DSIR's log-likelihood ratio. The model is ≤ `buckets` rows
      * — broadcast at any corpus scale; documents never shuffle. */
    def domainAffinity(df: DataFrame, idCol: String, textCol: String,
        isTarget: Column,
        buckets: Int = operators.TextAnalysis.AffinityBuckets): DataFrame =
      operators.TextAnalysis.domainAffinityOf(
        df.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).as("text"), isTarget.as("__t")),
        col("__t"), buckets,
        org.apache.spark.storage.StorageLevel.NONE)

    /** DSIR's log-likelihood-ratio estimator over the same hashed
      * features: (doc_id, in_target, n_tokens, log_weight). Ranking
      * agrees with [[domainAffinity]] (spec-pinned); exp(log_weight)
      * is the importance-resampling weight. */
    def domainAffinityLog(df: DataFrame, idCol: String, textCol: String,
        isTarget: Column,
        buckets: Int = operators.TextAnalysis.AffinityBuckets): DataFrame =
      operators.TextAnalysis.domainAffinityLogOf(
        df.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).as("text"), isTarget.as("__t")),
        col("__t"), buckets,
        org.apache.spark.storage.StorageLevel.NONE)
  }

  object graphs {
    /** Level-synchronous BFS: (node, depth). `edges(src,dst)`,
      * `seeds(node)`. Pass `reliable = true` on a real cluster (after
      * `sparkContext.setCheckpointDir`): the default localCheckpoint is
      * fast but its blocks die with an executor. */
    def bfs(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
        reliable: Boolean = false): DataFrame =
      Graph.bfs(edges, seeds, maxDepth, reliable)

    /** Connected components by min-label propagation to fixpoint:
      * (node, label). `und` must hold both edge directions. `reliable`
      * as in [[bfs]]. Rounds ∝ component diameter — for long-chain
      * graphs use [[connectedComponentsStar]]. */
    def connectedComponents(und: DataFrame, reliable: Boolean = false): DataFrame =
      Graph.labelPropagate(und, reliable)

    /** Connected components by alternating large-star/small-star
      * contraction: O(log n) rounds regardless of diameter — the
      * 100 TB-safe variant for graphs whose diameter is unknown. The
      * loop stops on the first round whose edge set is a star forest
      * (an exact test, one round before the edge set stops changing).
      * Same (node, label = component min) output as
      * [[connectedComponents]], and the same contract: `und` must
      * hold BOTH edge directions (nodes are taken from `src`).
      * `reliable` as in [[bfs]]. */
    def connectedComponentsStar(und: DataFrame, reliable: Boolean = false): DataFrame =
      Graph.starContractComponents(und, reliable)

    /** Fixed-iteration damped PageRank (unnormalized pr₀ = 1 form):
      * `links(src, dst)`, `nodes(node)` covering every endpoint →
      * (node, pr). Persist `links` first if its lineage is expensive —
      * each round joins it twice. */
    def pageRank(links: DataFrame, nodes: DataFrame, iters: Int = 3,
        damping: Double = 0.85): DataFrame =
      Graph.pageRank(links, nodes, iters, damping)

    /** Seed-restarted (personalized) PageRank: `nodes(node, seed)`
      * carries the restart weights (1/|S| on the roots, 0 elsewhere);
      * pages unreachable from the seeds score exactly 0 — the crawl
      * frontier-prioritization signal. Same per-round shape as
      * [[pageRank]]. */
    def personalizedPageRank(links: DataFrame, nodes: DataFrame,
        iters: Int = 3, damping: Double = 0.85): DataFrame =
      Graph.personalizedPageRank(links, nodes, iters, damping)

    /** k-core by iterative peeling to fixpoint: surviving
      * (node, core_degree) of the maximal subgraph where every node
      * keeps degree ≥ k. `und` must hold BOTH edge directions, no
      * self-loops. `reliable` as in [[bfs]]. */
    def kcore(und: DataFrame, k: Int, reliable: Boolean = false): DataFrame =
      Graph.kcore(und, k, reliable = reliable)

    /** Weighted single-source shortest paths (Bellman-Ford rounds to
      * fixpoint): `edges(src, dst, w)`, `seeds(node)` → (node, dist);
      * unreached nodes absent. `reliable` as in [[bfs]]. */
    def sssp(edges: DataFrame, seeds: DataFrame,
        reliable: Boolean = false): DataFrame =
      Graph.sssp(edges, seeds, reliable = reliable)

    /** Fixed-iteration HITS (Kleinberg hubs & authorities),
      * unnormalized exact-integer form: `links(src, dst)`,
      * `nodes(node)` covering every endpoint → (node, auth, hub) as
      * BIGINTs. Rankings per round are identical to the L1-normalized
      * textbook update (normalization only rescales); see
      * [[hitsNormalized]] for unit-max scores. */
    def hits(links: DataFrame, nodes: DataFrame, iters: Int = 2): DataFrame =
      Graph.hits(links, nodes, iters)

    /** PRODUCTION-depth HITS: double accumulators, unit-max
      * normalization every round (no magnitude growth at any depth),
      * fingerprint convergence with a throwing `maxIters` safety
      * valve — see [[operators.Graph.hitsConverged]]. Leaves nothing
      * for the caller to release: its per-round local checkpoints drain
      * through the ContextCleaner. */
    def hitsConverged(links: DataFrame, nodes: DataFrame,
        maxIters: Int = 50): DataFrame =
      Graph.hitsConverged(links, nodes, maxIters)

    /** [[hits]] rescaled to unit max (auth_n = auth/max(auth), hub_n =
      * hub/max(hub)) — the comparable-across-graphs view. An edgeless
      * graph (max 0) yields 0 scores, not a division error. The maxima
      * are collected eagerly (one 1-row driver aggregate — the model-
      * sized-collect discipline) and injected as literals, so nothing
      * stays cached or checkpointed after the call; the HITS chain
      * executes once for the maxima and once when the caller consumes
      * the result — persist `hits(...)` yourself and normalize from it
      * if that second execution matters at your scale. */
    def hitsNormalized(links: DataFrame, nodes: DataFrame, iters: Int = 2): DataFrame = {
      import org.apache.spark.sql.functions.{col, lit, max => fmax, round => fround}
      val h = Graph.hits(links, nodes, iters)
      val m = h.agg(fmax(col("auth")).as("ma"), fmax(col("hub")).as("mh")).collect()(0)
      val ma = if (m.isNullAt(0)) 0L else m.getLong(0)
      val mh = if (m.isNullAt(1)) 0L else m.getLong(1)
      h.select(col("node"),
        (if (ma == 0L) lit(0.0) else fround(col("auth") / ma, 6)).as("auth_n"),
        (if (mh == 0L) lit(0.0) else fround(col("hub") / mh, 6)).as("hub_n"))
    }
  }

  object timeseries {
    /** Batch sessionization: gap > `gapMinutes` starts a new session →
      * (keyCol, session_id, session_start, session_end, n_events,
      * sum_value). One shuffle on `keyCol`; `idCol` breaks ts ties
      * deterministically. */
    def sessionize(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
        valueCol: String, gapMinutes: Long = 30L): DataFrame =
      operators.TimeSeries.sessionize(df, keyCol, tsCol, idCol, valueCol, gapMinutes)

    /** Trailing time-RANGE rolling count/mean per row: appends
      * (n_roll, avg_roll) over the last `windowSeconds` per key. */
    def rolling(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
        valueCol: String, windowSeconds: Long): DataFrame =
      operators.TimeSeries.rolling(df, keyCol, tsCol, idCol, valueCol, windowSeconds)

    /** Hourly gap-fill resample with forward-filled mean →
      * (keyCol, hour, n_events, filled_avg); grid rows ∝ key-hours,
      * generated after aggregation (never amplifies raw volume). */
    def resampleHourly(df: DataFrame, keyCol: String, tsCol: String,
        valueCol: String,
        maxCells: Int = operators.TimeSeries.MaxGridCells): DataFrame =
      operators.TimeSeries.resampleHourly(df, keyCol, tsCol, valueCol, maxCells)

    /** Hourly gap-fill by LINEAR INTERPOLATION between the nearest
      * observed hours → (keyCol, hour, n_events, interp_avg) — the
      * fill for continuously-varying signals where [[resampleHourly]]'s
      * forward-fill makes a staircase. Observed hours keep their own
      * mean exactly; leading hours of a cap-truncated key stay null. */
    def interpolateHourly(df: DataFrame, keyCol: String, tsCol: String,
        valueCol: String,
        maxCells: Int = operators.TimeSeries.MaxGridCells): DataFrame =
      operators.TimeSeries.interpolateHourly(df, keyCol, tsCol, valueCol, maxCells)

    /** Truncation audit for [[resampleHourly]]'s per-key grid cap:
      * `(key, span_hours, emitted_hours, truncated)`. */
    def resampleStats(df: DataFrame, keyCol: String, tsCol: String,
        maxCells: Int = operators.TimeSeries.MaxGridCells): DataFrame =
      operators.TimeSeries.resampleTruncationStats(df, keyCol, tsCol, maxCells)

    /** Truncation + fill audit for [[interpolateHourly]]: `(key,
      * span_hours, emitted_hours, truncated, event_hours,
      * null_hours)` — what the cap dropped and what the fill could
      * not bracket (leading hours before the first surviving
      * anchor). */
    def interpolateStats(df: DataFrame, keyCol: String, tsCol: String,
        valueCol: String,
        maxCells: Int = operators.TimeSeries.MaxGridCells): DataFrame =
      operators.TimeSeries.interpolateTruncationStats(df, keyCol, tsCol, valueCol, maxCells)

    /** Weekly cohort retention matrix: (cohort, week_k, retained,
      * cohort_users, retention) — users cohort by the week of their
      * first event. The only event-volume shuffle is the (key, week)
      * distinct. */
    def retention(df: DataFrame, keyCol: String, tsCol: String): DataFrame =
      operators.TimeSeries.retention(df, keyCol, tsCol)

    /** Ordered-sequence funnel over an event frame: per key, the
      * earliest occurrence of each stage strictly after the previous
      * stage → (key, one timestamp column per stage, stage reached).
      * `stages` are the event_type values in funnel order. Each stage
      * is a key-level aggregate; joins carry key-count rows, never raw
      * event volume. */
    def funnel(df: DataFrame, keyCol: String, tsCol: String,
        typeCol: String, stages: Seq[String]): DataFrame = {
      require(stages.nonEmpty)
      val first = df.filter(col(typeCol) === stages.head)
        .groupBy(col(keyCol)).agg(min(col(tsCol)).as(s"t_${stages.head}"))
      val perStage = stages.tail.scanLeft(first) { (prev, stage) =>
        val prevCol = prev.columns.last
        df.filter(col(typeCol) === stage)
          .join(prev.select(col(keyCol), col(prevCol)), keyCol)
          .filter(col(tsCol) > col(prevCol))
          .groupBy(col(keyCol)).agg(min(col(tsCol)).as(s"t_$stage"))
      }
      val joined = perStage.reduceLeft((acc, st) =>
        acc.join(st.select(col(keyCol), col(st.columns.last)), Seq(keyCol), "left"))
      // deepest reached stage: first non-null timestamp scanning from
      // the deep end (when() without otherwise yields null ⇒ coalesce)
      val stageLabel = coalesce(
        stages.reverse.map(st => when(col(s"t_$st").isNotNull, lit(st)))
          :+ lit(stages.head): _*)
      joined.withColumn("stage", stageLabel)
    }
  }

  object temporal {
    /** As-of join: per probe row, the build row with the greatest
      * `tsCol` ≤ the probe's, per `keyCol` — union + per-key window
      * fill-forward (one shuffle, no nested loop). */
    def asofJoin(probe: DataFrame, build: DataFrame,
        keyCol: String, tsCol: String, valueCol: String): DataFrame =
      operators.Temporal.asofJoin(probe, build, keyCol, tsCol, valueCol)

    /** SCD-2 history: a change log becomes version rows with
      * (valid_from, valid_to, is_current) — per-key lead() intervals,
      * same-instant changes tiebroken by `tieCol`. */
    def scd2History(changes: DataFrame, keyCol: String, tsCol: String,
        tieCol: String): DataFrame =
      operators.RelationalExt.scd2History(changes, keyCol, tsCol, tieCol)
  }

  object streams {
    def tumbling(events: DataFrame): DataFrame = EventStreams.tumbling(events)
    def sliding(events: DataFrame): DataFrame = EventStreams.sliding(events)
    def sessions(events: DataFrame): DataFrame = EventStreams.sessions(events)

    /** Session windows as a genuine streaming query over the events
      * source — stateful session_window with watermark-driven close
      * and late-event MERGE; closed sessions equal the batch
      * [[sessions]] of the same events (StreamingSpec law). */
    def streamingSessions(spark: SparkSession, dir: String): DataFrame =
      EventStreams.streamingSessions(spark, dir)

    /** Stream-stream interval join (watermarked both sides): purchases
      * attributed to prior same-user views within 1 day. */
    def attributedPurchases(views: DataFrame, purchases: DataFrame): DataFrame =
      EventStreams.attributedPurchases(views, purchases)

    /** Watermark-bounded streaming exact dedup (ingest guard). */
    def dedupedEvents(events: DataFrame): DataFrame =
      EventStreams.dedupedEvents(events)

    /** Continuous-ingest NEAR-dup detection (doc_id, text streaming
      * frame → per-(doc, band) verdicts): MinHash signatures as
      * stateless row expressions, LSH bucket state via
      * flatMapGroupsWithState — the streaming twin of the batch
      * incremental dedup. OR the per-band verdicts downstream (any
      * band hit ⇒ near-dup of its earliest match). */
    def nearDupVerdicts(docs: DataFrame): Dataset[streaming.StreamingDedup.BandVerdict] =
      streaming.StreamingDedup.nearDupVerdicts(docs)
  }

  object sampling {
    /** Deterministic hash-mod sample: keep rows whose content hash mod
      * 100 falls below `pct`. Stable under re-partitioning/re-runs. */
    def byHash(df: DataFrame, contentCol: String, pct: Int): DataFrame = {
      register(df.sparkSession)
      df.filter(pmod(call_function("graft_polyhash", col(contentCol)), lit(100)) < pct)
    }

    /** EXACT per-stratum quota: keep the first `quota` rows of each
      * stratum in deterministic (content-hash, tiebreak) order (+ an
      * `rk` rank column) — the balanced-mix sampler rate-based
      * sampling cannot express. Binds the same implementation as the
      * harness p10 query. */
    def quotaPerStratum(df: DataFrame, stratumCol: String, contentCol: String,
        tieCol: String, quota: Int): DataFrame =
      operators.Sampling.quotaPerStratum(df, stratumCol, contentCol, tieCol, quota)

    /** Per-stratum TOKEN budget (training mixtures are specified in
      * tokens, not documents): keep each stratum's hash-ordered prefix
      * of documents whose running token total stays ≤ `budget`
      * (+ `n_tokens`, `cum_tokens` columns). Deterministic and
      * re-run-stable like [[quotaPerStratum]]; binds the same
      * implementation as the harness p12 query. */
    def tokenBudgetPerStratum(df: DataFrame, stratumCol: String,
        textCol: String, tieCol: String, budget: Long): DataFrame =
      operators.Sampling.tokenBudgetPerStratum(df, stratumCol, textCol, tieCol, budget)

    /** Per-stratum mixing accounting: (stratum, n_rows, n_tokens,
      * token_share, uniform_weight) — the resampling factors that
      * would hit a uniform target mixture over `stratumCol`. One input
      * scan; binds the same implementation as t_mixture_weights. */
    def mixtureWeights(df: DataFrame, stratumCol: String, textCol: String): DataFrame =
      operators.Sampling.mixtureWeights(df, stratumCol, textCol)

    /** Deterministic train/validation/test split: appends
      * (split_band, split) as a pure function of the content hash —
      * stable across engines, re-runs, and re-partitionings, so a
      * document can never migrate between train and the held-out
      * splits. Binds the same implementation as the harness p11
      * query. */
    def splitByHash(df: DataFrame, contentCol: String): DataFrame =
      operators.Sampling.splitByHash(df, contentCol)

    /** GROUP-AWARE split: bands come from the hash of `groupCol`, so a
      * whole group (near-dup cluster, source domain, user…) moves as
      * one unit between train and the held-out splits — the leakage
      * guard `p15_group_split` demonstrates with near-dup cluster ids.
      * Same band arithmetic as [[splitByHash]]. */
    def splitByGroup(df: DataFrame, groupCol: String): DataFrame =
      operators.Sampling.splitByGroup(df, groupCol)
  }

  object hicsa {
    /** The COMPLETE reference pipeline in one call (hi-csa-db.Rmd
      * stages 3–8, golden-parity semantics throughout): an ordered
      * DOM-element table, a policy sheet, and a support sheet become
      * the final (Type, Mitigation, Practice, Description, Resource)
      * database — faithful element walk (no h4 reset), URL
      * absolutization, keep-first practice lookup BEFORE the repairs,
      * null-safe classification lookup (R `match` NA semantics),
      * stop-gap repairs, union, null-Mitigation filter.
      * GoldenParitySpec proves this call reproduces the reference's
      * shipped 308×5 artifact row for row on the reconstructed
      * fixtures. */
    def buildDatabase(elements: DataFrame, policy: DataFrame, support: DataFrame,
        urlPrefix: String,
        lexicon: Seq[(String, String)] = pipelines.HiCsa.referenceLexicon): DataFrame = {
      val tech = pipelines.HiCsa.technicalDb(
        pipelines.HiCsa.scrapeElements(elements), urlPrefix)
      val pracMiti = pipelines.HiCsa.practiceLookup(tech)
      pipelines.HiCsa.finalDb(
        pipelines.HiCsa.stopGapRepairs(tech),
        pipelines.HiCsa.policyDb(policy, lexicon, pracMiti),
        pipelines.HiCsa.supportDb(support))
    }

    /** K2/W2 ordered preview of a built database. */
    def preview(db: DataFrame, n: Int): DataFrame = pipelines.HiCsa.preview(db, n)
  }

  object media {
    def decodePartitions(records: Dataset[Multimodal.MediaRecord]): Dataset[Multimodal.MediaFeatures] =
      Multimodal.decodePartitions(records)

    /** Near-dup image pairs from a `(doc_id, ahash, dhash)` frame —
      * the SimHash Hamming-band machinery fed by perceptual image
      * hashes (compute them with [[phashOf]] inside a partition-batch
      * decode): candidates from 16-bit aHash bands (exact recall at
      * Hamming ≤ 3 by pigeonhole), occupancy-capped buckets, never
      * all-pairs. Returns (a_id, b_id, hamming_a, hamming_d). */
    def phashPairs(hashes: DataFrame,
        maxHamming: Int = Multimodal.PhashMaxHamming): DataFrame =
      Multimodal.phashPairsOf(hashes, maxHamming)

    /** aHash + dHash of one encoded image via a REAL `ImageIO`
      * decode — the per-record hash for [[phashPairs]]. */
    def phashOf(imageBytes: Array[Byte]): (Long, Long) =
      Multimodal.phashOf(imageBytes)

    /** Band-energy fingerprint of one WAV via a REAL PCM decode — the
      * per-record hash for [[audioFpPairs]] (64 integer window
      * energies vs the track mean, gain-robust by construction). */
    def audioFpOf(wavBytes: Array[Byte]): Long =
      Multimodal.audioFpOf(Multimodal.decodeWavSamples(wavBytes))

    /** Near-dup audio pairs from a `(doc_id, afp)` frame — the
      * [[phashPairs]] Hamming-band machinery on audio fingerprints:
      * 16-bit bands (exact recall at Hamming ≤ 3 by pigeonhole),
      * occupancy-capped buckets, never all-pairs. Returns
      * (a_id, b_id, hamming). */
    def audioFpPairs(fps: DataFrame,
        maxHamming: Int = Multimodal.AudioMaxHamming): DataFrame =
      Multimodal.audioFpPairsOf(fps, maxHamming)

    /** Band-bucket occupancy audit for [[audioFpPairs]]. */
    def audioFpBucketStats(fps: DataFrame): DataFrame =
      Multimodal.audioFpBucketStats(fps)
  }

  /** The manifest-versioned document lake — time travel on the corpus
    * itself (see [[sources.CorpusStore]]): immutable segments, atomic
    * versioned publishes, `asOf` reads, doc-level diffs, copy-on-write
    * erasure with an auditable version-pair certificate, rollback. */
  object corpus {
    def create(docs: DataFrame, root: String): Long =
      sources.CorpusStore.create(docs, root)
    def append(docs: DataFrame, root: String): Long =
      sources.CorpusStore.append(docs, root)
    def read(spark: SparkSession, root: String): DataFrame =
      sources.CorpusStore.read(spark, root)
    def asOf(spark: SparkSession, root: String, v: Long): DataFrame =
      sources.CorpusStore.asOf(spark, root, v)
    def snapshots(spark: SparkSession, root: String): Seq[Long] =
      sources.CorpusStore.snapshots(spark, root)
    def snapshotDiff(spark: SparkSession, root: String, v1: Long, v2: Long): DataFrame =
      sources.CorpusStore.snapshotDiff(spark, root, v1, v2)
    def forget(spark: SparkSession, root: String, ids: DataFrame): DataFrame =
      sources.CorpusStore.forget(spark, root, ids)
    def rollbackTo(spark: SparkSession, root: String, v: Long): Unit =
      sources.CorpusStore.rollbackTo(spark, root, v)
    def statsAsOf(spark: SparkSession, root: String, v: Long): DataFrame =
      sources.CorpusStore.statsAsOf(spark, root, v)
    def statsIncremental(spark: SparkSession, root: String, v1: Long, v2: Long): DataFrame =
      sources.CorpusStore.statsIncremental(spark, root, v1, v2)
    def sweep(spark: SparkSession, root: String,
        graceMs: Long = 30L * 60 * 1000): Seq[String] =
      sources.CorpusStore.sweepUnreferenced(spark, root, graceMs)
    /** Ranged read with manifest-level segment skipping off the
      * `_ranges/` sidecars (PlanSpec-pinned: only intersecting
      * segments are listed). */
    def readRanged(spark: SparkSession, root: String, lo: Long, hi: Long): DataFrame =
      sources.CorpusStore.readRanged(spark, root, lo, hi)
    /** Bin-pack small (streamed) segments into one republished
      * segment; ledger and earlier snapshots survive. */
    def compact(spark: SparkSession, root: String,
        smallSegBytes: Long = 64L * 1024 * 1024): DataFrame =
      sources.CorpusStore.compact(spark, root, smallSegBytes)
    /** The compaction POLICY loop: fold iff more than
      * `maxSmallSegments` live segments sit under the threshold. */
    def compactIfFragmented(spark: SparkSession, root: String,
        maxSmallSegments: Int = 16,
        smallSegBytes: Long = 64L * 1024 * 1024): Option[DataFrame] =
      sources.CorpusStore.compactIfFragmented(spark, root,
        maxSmallSegments, smallSegBytes)
    /** Training-run pin registry: a pinned version never expires from
      * the retention sweep until unpinned. */
    def pin(spark: SparkSession, root: String, tag: String, v: Long): Unit =
      sources.CorpusStore.pin(spark, root, tag, v)
    def unpin(spark: SparkSession, root: String, tag: String): Unit =
      sources.CorpusStore.unpin(spark, root, tag)
    def pins(spark: SparkSession, root: String): Map[String, Long] =
      sources.CorpusStore.pins(spark, root)
  }
}
