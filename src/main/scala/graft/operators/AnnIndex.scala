package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained IVF index — the production twin of the
  * fingerprint-cached [[Similarity.ivfIndex]] for a corpus that GROWS
  * (a daily-append training pipeline cannot re-publish the whole index
  * per batch, [[Dedup]]'s `d_incremental` argument applied to ANN).
  *
  * Layout under one `root`:
  *  - `seeds/`        the frozen coarse quantizer: the `cells`
  *                    lowest-id vectors of the FOUNDING build
  *                    `(cell, se, sn)`. Upserts assign against these
  *                    STORED seeds — cell membership of a vector never
  *                    changes after it is written, which is what makes
  *                    append-only cell partitions possible. Production
  *                    retrains by rebuilding at a new root (quantizer
  *                    drift is a rebuild, not an upsert).
  *  - `codebooks/`    the frozen fine quantizer: per-subspace PQ
  *                    codebooks `(mm, code, ce, cn)` trained once on
  *                    the deterministic founding sample
  *                    (`vec_id < PqTrainN`). Same freeze rationale as
  *                    the seeds: a batch encoded today must mean the
  *                    same thing as a batch encoded last month.
  *  - `data-<gen>/`   vectors `(vec_id, label, embedding, nrm, gen)`
  *                    partitioned by `cell`; gen 0 is the base build,
  *                    each upsert appends the next generation. Files
  *                    are never rewritten — an upsert only ADDS a
  *                    directory.
  *  - `codes-<gen>/`  per-vector PQ codes `(vec_id, codes, gen)`
  *                    partitioned by `cell`, one per data generation —
  *                    the ADC serving side: [[probeAdc]] scans ONLY
  *                    these (M small ints per vector) plus the
  *                    shortlist's full vectors.
  *  - `tombs-<gen>/`  tombstones `(vec_id, gen)` partitioned by
  *                    `cell` — a [[delete]] appends one; probes treat
  *                    data rows and tombstones as one event stream
  *                    per vec_id where the LATEST generation wins, so
  *                    a tombstone hides every earlier row and a later
  *                    re-upsert revives the id. Files, again, are
  *                    never rewritten.
  *  - `stats-<gen>/`  per-(cell, dim) running `(sm, cnt)` — double
  *                    sums of float32 components are EXACT at this
  *                    scale (the [[Similarity]] centroid discipline),
  *                    so `sm/cnt` after N upserts is bit-identical to
  *                    the mean a full rebuild would compute. Probes
  *                    derive centroids from the LATEST stats, so cell
  *                    selection matches a rebuilt index exactly
  *                    (spec-pinned).
  *  - `_GRAFT_IVF_MANIFEST`  `gen` + the ordered data-dir list (+ `.v<gen>`
  *                    snapshots): readers resolve the index through it
  *                    and never observe a half-written generation;
  *                    writers hold the root's [[PublishLock]] across
  *                    read-manifest → write-gen → publish. Publish,
  *                    snapshots, rollback, GC and pins are
  *                    [[VersionedRoot]]'s.
  *
  * Centroid exactness holds under pure APPENDS (all-new vec_ids — the
  * spec-pinned case). A re-sent vec_id is still served correctly
  * (latest generation wins at probe time) but its superseded row keeps
  * contributing to the running stats until a rebuild — centroids drift
  * from the rebuild means by the overwritten mass, the standard
  * LSM-index tradeoff.
  *
  * Probe cost is independent of upsert count in the variable term: the
  * scan prunes every data generation to the `nprobe` probed cells
  * (PartitionFilters), and the latest-generation-wins dedup (a true
  * UPSERT: a re-sent vec_id shadows its older row) is a window over
  * probed-cell rows only. The fixed term grows with generations (one
  * directory listing each) — compact by rebuilding when deltas
  * accumulate, exactly like any LSM-shaped store. */
object AnnIndex {

  private def dot(a: String, b: String): String = Similarity.foldDot(a, b)

  // PQ geometry: SHARED with the in-query [[Similarity]] PQ stack —
  // one definition of the subvector template and constants, so the
  // persisted index and the inline queries cannot drift. Codebooks
  // train once at build time on the deterministic founding sample and
  // are FROZEN (the seeds discipline applied to the fine quantizer —
  // production retrains by rebuilding at a new root).
  private def PqM = Similarity.PqM
  private def PqSubDim = Similarity.PqSubDim
  private def PqK = Similarity.PqK
  /** Codebooks train on the vectors with `vec_id < PqTrainN` — a
    * deterministic sample that any founding corpus contains, so a
    * full rebuild over base+batches trains the IDENTICAL codebooks
    * (what makes probeAdc(upserted) == probeAdc(rebuilt) exact,
    * spec-pinned). */
  private val PqTrainN = 64

  private def pqSubs(colName: String): String = Similarity.pqSubsExpr(colName)

  // Manifest lines after the leading generation number, by prefix:
  // `data-N` / `tombs-N` dirs (ordered), `dim:<n>` (embedding
  // dimensionality, written at build), `batch:<tag>` (idempotence
  // ledger for streaming ingest). Unknown prefixes are ignored, so
  // the format is forward-extensible.
  private def dataDirsOf(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith("data-"))
  private def tombDirsOf(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith("tombs-"))
  private def dimOf(lines: Seq[String]): Option[Int] =
    lines.find(_.startsWith("dim:")).flatMap(l =>
      scala.util.Try(l.stripPrefix("dim:").toInt).toOption)
  // Quantizers resolve THROUGH the manifest since compact(retrain):
  // a retraining compaction publishes seeds-N/codebooks-N dirs and
  // points `seeds:`/`books:` lines at them; indexes that never
  // retrained have no such lines and fall back to the founding
  // `seeds`/`codebooks` dirs — old layouts read unchanged.
  private def seedsDirOf(lines: Seq[String]): String =
    lines.find(_.startsWith("seeds:")).map(_.stripPrefix("seeds:")).getOrElse("seeds")
  private def booksDirOf(lines: Seq[String]): String =
    lines.find(_.startsWith("books:")).map(_.stripPrefix("books:")).getOrElse("codebooks")

  /** Every root-level dir one manifest state references: its
    * data/code/tomb dirs, its generation's stats, and its quantizer
    * dirs (versioned via `seeds:`/`books:` lines after a retraining
    * compaction, the founding `seeds`/`codebooks` otherwise). */
  private def refsOf(g: Long, ls: Seq[String]): Set[String] =
    dataDirsOf(ls).toSet ++
      dataDirsOf(ls).map(_.replaceFirst("^data-", "codes-")) ++
      tombDirsOf(ls) + s"stats-$g" + seedsDirOf(ls) + booksDirOf(ls)

  // The manifest is the generation number, then the lines above.
  // Publish, snapshots (version = that generation), rollback, GC and
  // pins are the shared [[VersionedRoot]] lifecycle; versioned
  // quantizer dirs (seeds-N/codebooks-N, retrain leftovers) sweep like
  // generations, while the founding un-versioned `seeds`/`codebooks`
  // never match the pattern.
  private val Versions = new VersionedRoot("_GRAFT_IVF_MANIFEST",
    refsOf = ls => refsOf(ls.head.toLong, ls.drop(1)),
    dataDir = "(data|codes|tombs|stats|seeds|codebooks)-\\d+".r)

  private def parsed(lines: Seq[String]): Option[(Long, Seq[String])] =
    lines.headOption.flatMap(h => scala.util.Try(h.toLong).toOption)
      .map(gen => (gen, lines.drop(1)))

  private def readManifest(s: SparkSession, root: String): Option[(Long, Seq[String])] =
    parsed(Versions.live(s, root))

  /** The live manifest, or retained snapshot `v`'s (`asOf`, the
    * probe-time pin of [[probe]]/[[probeAdc]]): a snapshot's gens,
    * stats and quantizers stay readable until the sweep expires it. */
  private def resolveManifest(s: SparkSession, root: String,
      asOf: Option[Long]): Option[(Long, Seq[String])] =
    asOf.fold(readManifest(s, root))(v => parsed(Versions.asOf(s, root, v)))

  /** The retained snapshot versions at `root`, ascending. */
  def snapshots(s: SparkSession, root: String): Seq[Long] = Versions.snapshots(s, root)

  /** The live index version: the manifest's generation line. */
  def currentVersion(s: SparkSession, root: String): Long =
    Versions.currentVersion(s, root, _.head.toLong)

  private def writeManifest(s: SparkSession, root: String, gen: Long,
      lines: Seq[String]): Unit = {
    Versions.publish(s, root, gen.toString +: lines, gen); ()
  }

  /** `(vec_id, label, embedding)` → `(vec_id, label, embedding, nrm)`
    * with the shared norm fold. */
  private def withNorm(v: DataFrame): DataFrame =
    v.withColumn("nrm", expr(s"sqrt(${dot("embedding", "embedding")})"))

  /** Assign every vector to its nearest stored seed — the one
    * deterministic step both build and upsert share (argmin of
    * ‖s‖² − 2·x·s, ties → lowest cell). */
  private def assign(v: DataFrame, seeds: DataFrame): DataFrame =
    v.crossJoin(broadcast(seeds))
      .withColumn("score", col("sn") - lit(2.0) * expr(dot("embedding", "se")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("score"), col("cell"))).as("best"),
        first(col("label")).as("label"),
        first(col("embedding")).as("embedding"),
        first(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
        col("best.cell").as("cell"))

  /** Per-(cell, dim) running sums feeding the exact incremental
    * centroid: `(cell, pos, sm, cnt)`. */
  private def statsOf(assigned: DataFrame): DataFrame =
    assigned.select(col("cell").cast("long").as("cell"),
        posexplode(col("embedding")).as(Seq("pos", "cv")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("cv").cast("double")).as("sm"), count(lit(1)).as("cnt"))

  /** Train the frozen per-subspace PQ codebooks from the
    * deterministic founding sample (`vec_id < PqTrainN`): init
    * centroids are the `PqK` lowest-id sample vectors' subvectors,
    * refined by one Lloyd round over the sample (double-sum means —
    * exact, so retraining on the same sample is bit-identical).
    * Returns `(mm, code, ce, cn)`. */
  private def trainCodebooks(v: DataFrame): DataFrame = {
    val sample = v.filter(col("vec_id") < PqTrainN)
      .select(col("vec_id"), explode(expr(pqSubs("embedding"))).as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.sv").as("sv"))
    val init = sample.filter(col("vec_id") < PqK)
      .select(col("m").as("mm"), col("vec_id").as("code"), col("sv").as("ce"))
    val assignedSample = sample
      .join(broadcast(init), col("m") === col("mm"))
      .withColumn("score", expr(s"${dot("ce", "ce")} - 2.0 * ${dot("sv", "ce")}"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("score"), col("code"))).as("best"),
        first(col("sv")).as("sv"))
      .select(col("m"), col("best.code").as("code"),
        posexplode(col("sv")).as(Seq("pos", "cv")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg((sum(col("cv").cast("double")) / count(lit(1))).as("mv"))
      .groupBy(col("m"), col("code"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mv))), x -> cast(x.mv as float))")
        .as("ce"))
    // a code with no sample members keeps its init centroid
    init.select(col("mm"), col("code"), col("ce").as("ice"))
      .join(assignedSample.withColumnsRenamed(Map("m" -> "mm")),
        Seq("mm", "code"), "left")
      .select(col("mm"), col("code"), coalesce(col("ce"), col("ice")).as("ce"))
      .withColumn("cn", expr(dot("ce", "ce")))
  }

  /** Encode assigned vectors against the stored codebooks: per-row
    * argmin over the M·K broadcast codebook union (ties → lowest
    * code) → `(vec_id, cell, codes array<int>)`. Deterministic given
    * the codebooks, so incrementally-encoded batches match what a
    * full rebuild with the same (frozen-sample) codebooks writes. */
  private def encode(assigned: DataFrame, books: DataFrame): DataFrame =
    assigned
      .select(col("vec_id"), col("cell"),
        explode(expr(pqSubs("embedding"))).as("p"))
      .select(col("vec_id"), col("cell"), col("p.m").as("m"), col("p.sv").as("sv"))
      .join(broadcast(books), col("m") === col("mm"))
      .withColumn("score", col("cn") - lit(2.0) * expr(dot("sv", "ce")))
      .groupBy(col("vec_id"), col("m"))
      .agg(first(col("cell")).as("cell"),
        min(struct(col("score"), col("code"))).as("best"))
      .select(col("vec_id"), col("cell"), col("m"), col("best.code").as("code"))
      .groupBy(col("vec_id"))
      .agg(first(col("cell")).as("cell"),
        expr("transform(array_sort(collect_list(struct(m, code))), x -> cast(x.code as int))")
          .as("codes"))

  /** Found the index: freeze the coarse quantizer (the `cells`
    * lowest-id vectors as seeds) AND the fine quantizer (PQ codebooks
    * from the founding sample), write generation 0 of the data and of
    * the PQ codes cell-partitioned, the running centroid stats, and
    * publish the manifest. `vectors` must be non-empty and contain
    * the seed ids `0 until cells`. */
  def build(vectors: DataFrame, root: String, cells: Int = 8): Unit = {
    val s = vectors.sparkSession
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    PublishLock.withLock(s, root) {
    val v = withNorm(vectors.select(col("vec_id").cast("long").as("vec_id"),
      col("label"), col("embedding")))
    // fail fast on a geometry the frozen PQ template cannot encode: a
    // wrong-width corpus would slice empty subvectors and rank ADC
    // shortlists on noise with no error
    val dim = v.select(size(col("embedding"))).head.getInt(0)
    require(dim == PqM * PqSubDim,
      s"embedding dim $dim != ${PqM * PqSubDim} (the index's PQ geometry is " +
        s"$PqM subspaces x $PqSubDim dims; adjust Similarity.PqM/PqSubDim for other widths)")
    val seeds = v.filter(col("vec_id") < cells)
      .select(col("vec_id").as("cell"), col("embedding").as("se"))
      .withColumn("sn", expr(dot("se", "se")))
    seeds.write.mode("overwrite").parquet(s"$root/seeds")
    trainCodebooks(v).write.mode("overwrite").parquet(s"$root/codebooks")
    val storedSeeds = s.read.parquet(s"$root/seeds")
    val a = assign(v, storedSeeds)
      .withColumn("gen", lit(0L))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      a.write.mode("overwrite").partitionBy("cell").parquet(s"$root/data-0")
      encode(a, s.read.parquet(s"$root/codebooks"))
        .withColumn("gen", lit(0L))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$root/codes-0")
      statsOf(a).write.mode("overwrite").parquet(s"$root/stats-0")
    } finally a.unpersist()
    writeManifest(s, root, 0L, Seq(s"dim:$dim", "data-0"))
    }
  }

  /** Append a batch: assign against the STORED seeds, write the next
    * data generation (cell partitions — files of older generations are
    * untouched), merge the batch's component sums into the running
    * stats (exact, see class doc), and atomically publish the new
    * manifest. Returns the per-cell accounting row the caller audits —
    * `(cell, n_before, n_added, n_after)` — the
    * `d_lsh_bucket_stats` discipline for index growth.
    *
    * MOVED re-upserts: a re-sent vec_id whose changed embedding
    * assigns to a DIFFERENT cell would leave its old row visible to
    * probes of the old cell (cell pruning happens before the
    * latest-event window). The guard writes a tombstone into each
    * moved id's old cell in this same generation — data beats
    * tombstone on the same-generation tie, so global resolution keeps
    * the new row while the old cell's pruned view hides the old one.
    * Finding the old cells reads the (vec_id, cell) PROJECTION of the
    * index — column-pruned, no embedding bytes; a production system
    * ingesting mostly-new ids can skip it by declaring the batch
    * append-only, which is what `d_incremental`-style content hashing
    * upstream guarantees.
    *
    * `batchTag` (streaming ingest) rides the atomic manifest move as
    * a `batch:<tag>` line — the idempotence ledger
    * [[graft.streaming.StreamingAnnIngest]] consults on replay.
    *
    * Batch vec_ids must be distinct: a doubled id inside ONE batch is
    * two conflicting "latest" versions that no latest-wins rule can
    * order, so the batch fails before anything is written. */
  def upsert(batch: DataFrame, root: String,
      batchTag: Option[String] = None): DataFrame = {
    val s = batch.sparkSession
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val dups = batch.groupBy(col("vec_id").cast("long")).count()
      .filter(col("count") > 1).count()
    require(dups == 0,
      s"upsert batch has $dups duplicated vec_id(s) — a batch is one version per " +
        "vector; reduce upstream to the latest event per id (the CDC ingest does " +
        "this per micro-batch)")
    PublishLock.withLock(s, root) {
    val (gen, lines) = readManifest(s, root).getOrElse(
      throw new IllegalStateException(s"no ANN index published at $root — build() first"))
    val newGen = gen + 1
    val seeds = s.read.parquet(s"$root/${seedsDirOf(lines)}")
    val b = assign(withNorm(batch.select(col("vec_id").cast("long").as("vec_id"),
        col("label"), col("embedding"))), seeds)
      .withColumn("gen", lit(newGen))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      b.write.mode("overwrite").partitionBy("cell").parquet(s"$root/data-$newGen")
      // encode the batch against the FROZEN current codebooks (the
      // founding ones, or the latest retrain's) — the ADC side of the
      // index stays append-only between retrains
      encode(b, s.read.parquet(s"$root/${booksDirOf(lines)}"))
        .withColumn("gen", lit(newGen))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$root/codes-$newGen")
      // moved-cell guard: tombstone the old cell of every re-sent id
      // that changed cells (narrow projection scan, see scaladoc)
      val movedTombs = liveIn(s, root, dataDirsOf(lines), tombDirsOf(lines),
          None, Seq.empty)
        .select(col("vec_id"), col("cell").as("old_cell"))
        .join(broadcast(b.select(col("vec_id"), col("cell").as("new_cell"))), "vec_id")
        .filter(col("old_cell") =!= col("new_cell"))
        .select(col("vec_id"), col("old_cell").as("cell"))
        .withColumn("gen", lit(newGen))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tombLines = try {
        if (movedTombs.isEmpty) Seq.empty[String]
        else {
          movedTombs.write.mode("overwrite").partitionBy("cell")
            .parquet(s"$root/tombs-$newGen")
          Seq(s"tombs-$newGen")
        }
      } finally movedTombs.unpersist()
      val old = s.read.parquet(s"$root/stats-$gen")
      statsOf(b).unionByName(old)
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("sm")).as("sm"), sum(col("cnt")).as("cnt"))
        .write.mode("overwrite").parquet(s"$root/stats-$newGen")
      writeManifest(s, root, newGen,
        lines ++ Seq(s"data-$newGen") ++ tombLines ++ batchTag.map(t => s"batch:$t"))
      // accounting from the dim-0 stats rows (one per cell): vector
      // counts before/added/after — collected AFTER publish so the
      // numbers describe the live index
      val before = old.filter(col("pos") === 0)
        .select(col("cell"), col("cnt").as("n_before"))
      val added = s.read.parquet(s"$root/stats-$newGen").filter(col("pos") === 0)
        .select(col("cell"), col("cnt").as("n_after"))
      added.join(before, Seq("cell"), "left")
        .select(col("cell"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          (col("n_after") - coalesce(col("n_before"), lit(0L))).as("n_added"),
          col("n_after"))
        .orderBy(col("cell"))
    } finally b.unpersist()
    }
  }

  /** Has a batch with this tag already been applied at `root`? The
    * streaming-replay idempotence check — tags live in the manifest,
    * so the answer is consistent with whatever generation a reader
    * resolves. Tags SURVIVE [[compact]] (they are tiny manifest
    * lines): the policy loops ([[compactIfDrifted]]) are documented to
    * run in-cadence with an ingest stream, and a compaction landing
    * between a streamed batch's publish and its checkpoint commit
    * must not erase the tag — a crash replay of that batch would
    * re-apply it and double-merge its rows and stats. */
  private[graft] def batchApplied(s: SparkSession, root: String, tag: String): Boolean =
    Versions.batchApplied(s, root, tag)

  /** Latest-event-wins resolution over generation dirs plus
    * tombstones, optionally restricted to `cells` (the probed-cell
    * prune — pushed through the union into every generation's
    * PartitionFilters). Data rows and tombstones form ONE event
    * stream per vec_id ordered by generation: the newest event wins,
    * and a winning tombstone removes the id (a later re-upsert
    * revives it). `payload` names the value columns of `dirs`' rows;
    * tombstones contribute nulls there and never survive the
    * filter. */
  private def liveIn(s: SparkSession, root: String, dirs: Seq[String],
      tombDirs: Seq[String], cells: Option[Array[Long]],
      payload: Seq[String]): DataFrame = {
    val rows = dirs.map(d => s.read.parquet(s"$root/$d")
        .select(col("vec_id") +: col("gen") +: col("cell") +:
          lit(false).as("is_tomb") +: payload.map(col): _*))
      .reduce(_ unionByName _)
    val events = tombDirs
      .map(d => s.read.parquet(s"$root/$d")
        .select(col("vec_id"), col("gen"), col("cell"), lit(true).as("is_tomb")))
      .foldLeft(rows)((acc, t) => acc.unionByName(t, allowMissingColumns = true))
    // partition-column discovery types `cell` as INT when re-reading a
    // dir written partitionBy("cell") — normalize so every consumer
    // (stats rebuild, accounting, getLong collects) sees LONG
    val typed = events.withColumn("cell", col("cell").cast("long"))
    val pruned = cells match {
      case Some(cs) => typed.filter(col("cell").isin(cs.map(Long.box): _*))
      case None => typed
    }
    // gen desc, data before tombstone on the tie: a moved re-upsert
    // writes its new-cell row and its old-cell tombstone in the SAME
    // generation — globally the data row must win (the id is alive in
    // its new cell), while the old cell's pruned view only contains
    // the tombstone and correctly hides the stale row
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("gen").desc, col("is_tomb").asc)
    pruned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("is_tomb"))
      .drop("rn", "is_tomb")
  }

  /** What changed between two retained snapshots — the
    * [[TextIndex.snapshotDiff]] twin on the vector side: one row per
    * vec whose state differs, `(vec_id, change)` with
    * `change ∈ {added, removed, updated}` (updated = live in both but
    * re-upserted in between, detected by the count of data events).
    * Two registry-shaped scans (vec_id/gen/tomb columns only — the
    * embedding payload is never read) + one full-outer join. */
  def snapshotDiff(s: SparkSession, root: String, v1: Long, v2: Long): DataFrame = {
    def state(v: Long): DataFrame = {
      val (_, lines) = resolveManifest(s, root, Some(v)).get
      val rows = dataDirsOf(lines).map(d => s.read.parquet(s"$root/$d")
          .select(col("vec_id"), col("gen"), lit(false).as("is_tomb")))
        .reduce(_ unionByName _)
      val events = tombDirsOf(lines)
        .map(d => s.read.parquet(s"$root/$d")
          .select(col("vec_id"), col("gen"), lit(true).as("is_tomb")))
        .foldLeft(rows)(_ unionByName _)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("gen").desc, col("is_tomb").asc)
      events
        .withColumn("rn", row_number().over(w))
        .withColumn("nv", sum(when(col("is_tomb"), 0L).otherwise(1L))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))))
        .filter(col("rn") === 1 && !col("is_tomb"))
        .select(col("vec_id"), col("nv").as("n_versions"))
    }
    state(v1).select(col("vec_id"), col("n_versions").as("nv1"))
      .join(state(v2).select(col("vec_id"), col("n_versions").as("nv2")),
        Seq("vec_id"), "full_outer")
      .select(col("vec_id"),
        when(col("nv1").isNull, lit("added"))
          .when(col("nv2").isNull, lit("removed"))
          .when(col("nv1") =!= col("nv2"), lit("updated")).as("change"))
      .filter(col("change").isNotNull)
      .orderBy(col("vec_id"))
  }

  /** The empty probe result. Label is pinned to the harness's INT —
    * an unbuilt root has no schema to derive the real label type
    * from, so callers unioning probe results across possibly-unbuilt
    * roots should cast; a BUILT index always returns the stored
    * type. */
  private def emptyTopK(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cosine", org.apache.spark.sql.types.DoubleType))))

  /** The `nprobe` nearest cells to the query by the LATEST
    * running-stats centroids — the one cell-selection rule both probe
    * paths share (a tie-break fix applied here cannot leave one path
    * stale). Also enforces the manifest's stored dimensionality
    * against the query vector. */
  /** LATEST running-stats centroids as `(cell, ce)` — the one
    * cell-geometry frame both the single probes (driver collect) and
    * the batch probe (broadcast column join) derive cell selection
    * from. */
  private def centroidsOf(s: SparkSession, root: String, gen: Long): DataFrame =
    s.read.parquet(s"$root/stats-$gen")
      .select(col("cell"), col("pos"), (col("sm") / col("cnt")).as("m"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> cast(x.m as float))")
        .as("ce"))

  private def probeCellsOf(s: SparkSession, root: String, gen: Long,
      lines: Seq[String], queryVec: Array[Float], nprobe: Int): Array[Long] = {
    dimOf(lines).foreach(d => require(queryVec.length == d,
      s"query vector dim ${queryVec.length} != index dim $d"))
    centroidsOf(s, root, gen)
      .withColumn("qe", typedLit(queryVec))
      .withColumn("pscore", expr(s"${dot("ce", "ce")} - 2 * ${dot("qe", "ce")}"))
      .orderBy(col("pscore").asc, col("cell").asc)
      .limit(nprobe)
      .select(col("cell")).collect().map(_.getLong(0))
  }

  /** Top-`k` cosine probe: centroids derive from the LATEST running
    * stats (bit-identical to a full rebuild's means), the data scan
    * reads every generation pruned to the `nprobe` probed cells, and a
    * latest-event-wins window (probed rows only) makes re-sent
    * vec_ids true upserts and applies tombstones. An unbuilt root
    * yields an empty frame. */
  def probe(s: SparkSession, root: String, queryVec: Array[Float],
      nprobe: Int = 2, k: Int = 10, asOf: Option[Long] = None,
      where: Option[String] = None): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    resolveManifest(s, root, asOf) match {
      case None => emptyTopK(s)
      case Some((gen, lines)) =>
        // driver-side left fold — the same index-order accumulation as
        // graft_dot, so qnrm matches an engine-computed norm bit-for-bit
        val qnrm = math.sqrt(
          queryVec.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
        val probeCells = probeCellsOf(s, root, gen, lines, queryVec, nprobe)
        if (probeCells.isEmpty) emptyTopK(s)
        else {
          // one read per generation (each dir is its own partitioned
          // table), unioned — Catalyst pushes the cell filter through
          // the union into every generation's PartitionFilters
          // `where`: metadata-filtered vector search, the FAISS
          // IDSelector shape — the predicate (over vec_id/label/cell)
          // applies to the RESOLVED live rows of the probed cells,
          // before scoring, so deleted/shadowed rows can never match.
          // Post-filter semantics: candidates still come from the
          // nprobe cells, so a very selective filter can return < k
          // rows — raise nprobe for higher filtered recall.
          liveIn(s, root, dataDirsOf(lines), tombDirsOf(lines),
              Some(probeCells), Seq("label", "embedding", "nrm"))
            .transform(d => where.fold(d)(w => d.filter(expr(w))))
            .withColumn("qe", typedLit(queryVec))
            .select(col("vec_id"), col("label"), col("cell").cast("long").as("cell"),
              (expr(dot("embedding", "qe")) / (col("nrm") * lit(qnrm))).as("cos"))
            .orderBy(col("cos").desc, col("vec_id").asc)
            .limit(k)
            .select(col("vec_id"), col("label"), col("cell"),
              round(col("cos"), 6).as("cosine"))
        }
    }
  }

  /** BATCH probe over the incrementally-maintained index — a whole
    * `(query_id, embedding)` frame served in ONE pass, the
    * [[Similarity.ivfpqBatchTopk]] shape on top of the LSM generation
    * layout. Per-query probe cells are a COLUMN (qid window over the
    * broadcast LATEST running-stats centroids — no PER-QUERY driver
    * work); the one collect is the probed-cell UNION, bounded by the
    * CELL COUNT (a quantizer-sized model read, like the single
    * probe's), pushed as PartitionFilters literals through every
    * generation scan — a broadcast-join prune instead would read all
    * partitions and filter rows, a full index scan per batch;
    * latest-event-wins resolution (re-sends shadow, tombstones
    * delete) runs ONCE per vec over the pruned union, independent of
    * which queries probe it; each resolved row then scores against
    * every query probing its cell and a qid window keeps top-`k`.
    * Per-query results equal the single [[probe]] exactly
    * (spec-pinned). `asOf` pins a retained snapshot exactly as the
    * single probe's does — a batch serving job replays the same index
    * state. Returns `(query_id, rank, vec_id, label, cell,
    * cosine)`; an unbuilt root yields an empty frame. */
  def probeBatch(s: SparkSession, root: String, queries0: DataFrame,
      nprobe: Int = 2, k: Int = 10, asOf: Option[Long] = None,
      where: Option[String] = None): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    resolveManifest(s, root, asOf) match {
      case None =>
        emptyTopK(s).select(lit(0L).as("query_id"), lit(0L).as("rank"),
          col("vec_id"), col("label"), col("cell"), col("cosine")).limit(0)
      case Some((gen, lines)) =>
        val queries = queries0
          .select(col("query_id").cast("long").as("qid"), col("embedding").as("qe"))
          .withColumn("qnrm", expr(s"sqrt(${dot("qe", "qe")})"))
        val wp = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("pscore").asc, col("cell").asc)
        val probes = queries.crossJoin(broadcast(centroidsOf(s, root, gen)))
          .withColumn("pscore", expr(s"${dot("ce", "ce")} - 2 * ${dot("qe", "ce")}"))
          .withColumn("prn", row_number().over(wp))
          .filter(col("prn") <= nprobe)
          .select(col("qid"), col("cell"), col("qe"), col("qnrm"))
        // the probed-cell UNION (≤ cell count — model-sized) becomes
        // partition-pruning literals; re-deriving the tiny probes plan
        // for the pairing join below costs one more nq×cells pass
        val probedCells = probes.select(col("cell")).distinct()
          .collect().map(_.getLong(0))
        val wk = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
        liveIn(s, root, dataDirsOf(lines), tombDirsOf(lines),
            Some(probedCells), Seq("label", "embedding", "nrm"))
          // same post-resolution metadata filter as [[probe]]'s
          // `where` — applied BEFORE the pairing join, so filtered-out
          // rows never fan out across queries
          .transform(d => where.fold(d)(w => d.filter(expr(w))))
          .join(broadcast(probes), "cell")
          .select(col("qid"), col("vec_id"), col("label"),
            col("cell").cast("long").as("cell"),
            (expr(dot("embedding", "qe")) / (col("nrm") * col("qnrm"))).as("cos"))
          .withColumn("rank", row_number().over(wk))
          .filter(col("rank") <= k)
          .select(col("qid").as("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("label"), col("cell"),
            round(col("cos"), 6).as("cosine"))
    }
  }

  /** IVF-PQ serving probe over the incrementally-maintained index —
    * the two-stage shape of [[Similarity]]'s `s_ivfpq_indexed` on top
    * of the LSM generation layout: nearest `nprobe` cells from the
    * LATEST running-stats centroids, the query's M×K ADC table from
    * the FROZEN stored codebooks, then the ADC stage scans ONLY the
    * stored codes of the probed cells across every generation (raw
    * embeddings never read here; latest-generation-wins makes re-sent
    * ids true upserts), and the `rerankPool` shortlist alone pays a
    * full-dimension exact cosine from the data generations (same
    * cell-pruned scan). ADC partial sums go through the
    * round-to-9dp-decimal discipline so the sum is association-order
    * independent, which makes probeAdc(upserted) == probeAdc(rebuilt)
    * exact under pure appends (spec-pinned — the codebooks train on
    * the deterministic founding sample both paths share). */
  def probeAdc(s: SparkSession, root: String, queryVec: Array[Float],
      nprobe: Int = 2, k: Int = 10, rerankPool: Int = 30,
      asOf: Option[Long] = None): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    resolveManifest(s, root, asOf) match {
      case None => emptyTopK(s)
      case Some((gen, lines)) =>
        val qnrm = math.sqrt(
          queryVec.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
        val probeCells = probeCellsOf(s, root, gen, lines, queryVec, nprobe)
        if (probeCells.isEmpty) emptyTopK(s)
        else {
          val books = s.read.parquet(s"$root/${booksDirOf(lines)}")
          // query-side ADC table: M×K subspace distances, one tiny frame
          val dt = s.range(1).select(typedLit(queryVec).as("qe"))
            .select(explode(expr(pqSubs("qe"))).as("p"))
            .select(col("p.m").as("dm"), col("p.sv").as("qsv"))
            .join(broadcast(books), col("dm") === col("mm"))
            .select(col("dm"), col("code").as("dcode"),
              (col("cn") - lit(2.0) * expr(dot("qsv", "ce"))).as("dscore"))
          val codeDirs = dataDirsOf(lines).map(_.replaceFirst("^data-", "codes-"))
          val shortlist = liveIn(s, root, codeDirs, tombDirsOf(lines),
              Some(probeCells), Seq("codes"))
            .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
            .join(broadcast(dt), col("m") === col("dm") && col("code") === col("dcode"))
            .groupBy(col("vec_id"))
            .agg(sum(round(col("dscore"), 9).cast("decimal(28,9)")).as("adc"))
            .orderBy(col("adc").asc, col("vec_id").asc)
            .limit(rerankPool)
            .select(col("vec_id"))
          liveIn(s, root, dataDirsOf(lines), tombDirsOf(lines),
              Some(probeCells), Seq("label", "embedding", "nrm"))
            .join(broadcast(shortlist), "vec_id")
            .withColumn("qe", typedLit(queryVec))
            .select(col("vec_id"), col("label"), col("cell").cast("long").as("cell"),
              (expr(dot("embedding", "qe")) / (col("nrm") * lit(qnrm))).as("cos"))
            .orderBy(col("cos").desc, col("vec_id").asc)
            .limit(k)
            .select(col("vec_id"), col("label"), col("cell"),
              round(col("cos"), 6).as("cosine"))
        }
    }
  }

  /** BATCH IVF-PQ serving over the incrementally-maintained index —
    * [[probeAdc]]'s two-stage shape for a whole `(query_id,
    * embedding)` frame ([[probeBatch]]'s cell-union prune + per-qid
    * windows applied to the ADC path): per-query probe cells as a
    * broadcast column, each query's M×K ADC table from the CURRENT
    * stored codebooks (founding or latest retrain, resolved through
    * the manifest), one pruned scan of the stored codes across every
    * generation (latest-event-wins run once per vec), per-qid
    * decimal-summed shortlists, and only shortlisted rows pay the
    * full-dimension exact cosine. Each query's slice equals its
    * single [[probeAdc]] exactly (spec-pinned), including under
    * `asOf` snapshot pins (codebooks resolve through the PINNED
    * manifest's `books:` pointer, so a post-retrain snapshot replays
    * with the retrained quantizers and a pre-retrain one with the
    * founding dirs). Returns
    * `(query_id, rank, vec_id, label, cell, cosine)`. */
  def probeAdcBatch(s: SparkSession, root: String, queries0: DataFrame,
      nprobe: Int = 2, k: Int = 10, rerankPool: Int = 30,
      asOf: Option[Long] = None): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    resolveManifest(s, root, asOf) match {
      case None =>
        emptyTopK(s).select(lit(0L).as("query_id"), lit(0L).as("rank"),
          col("vec_id"), col("label"), col("cell"), col("cosine")).limit(0)
      case Some((gen, lines)) =>
        val queries = queries0
          .select(col("query_id").cast("long").as("qid"), col("embedding").as("qe"))
          .withColumn("qnrm", expr(s"sqrt(${dot("qe", "qe")})"))
        val wp = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("pscore").asc, col("cell").asc)
        val probes = queries.crossJoin(broadcast(centroidsOf(s, root, gen)))
          .withColumn("pscore", expr(s"${dot("ce", "ce")} - 2 * ${dot("qe", "ce")}"))
          .withColumn("prn", row_number().over(wp))
          .filter(col("prn") <= nprobe)
          .select(col("qid"), col("cell"))
        // probed-cell UNION as PartitionFilters literals (see
        // probeBatch — a broadcast-join prune would full-scan)
        val probedCells = probes.select(col("cell")).distinct()
          .collect().map(_.getLong(0))
        val books = s.read.parquet(s"$root/${booksDirOf(lines)}")
        val dt = queries
          .select(col("qid").as("dqid"), explode(expr(pqSubs("qe"))).as("p"))
          .select(col("dqid"), col("p.m").as("dm"), col("p.sv").as("qsv"))
          .join(broadcast(books), col("dm") === col("mm"))
          .select(col("dqid"), col("dm"), col("code").as("dcode"),
            (col("cn") - lit(2.0) * expr(dot("qsv", "ce"))).as("dscore"))
        val codeDirs = dataDirsOf(lines).map(_.replaceFirst("^data-", "codes-"))
        val wa = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("adc").asc, col("vec_id").asc)
        val shortlist = liveIn(s, root, codeDirs, tombDirsOf(lines),
            Some(probedCells), Seq("codes"))
          .join(broadcast(probes), "cell")
          .select(col("qid"), col("cell"), col("vec_id"),
            posexplode(col("codes")).as(Seq("m", "code")))
          .join(broadcast(dt),
            col("qid") === col("dqid") && col("m") === col("dm") && col("code") === col("dcode"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(first(col("cell")).as("cell"),
            sum(round(col("dscore"), 9).cast("decimal(28,9)")).as("adc"))
          .withColumn("arn", row_number().over(wa))
          .filter(col("arn") <= rerankPool)
          .select(col("qid"), col("cell"), col("vec_id"))
        val wk = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
        liveIn(s, root, dataDirsOf(lines), tombDirsOf(lines),
            Some(probedCells), Seq("label", "embedding", "nrm"))
          .join(broadcast(shortlist), Seq("cell", "vec_id"))
          .join(broadcast(queries.select(col("qid").as("jqid"), col("qe"), col("qnrm"))),
            col("qid") === col("jqid"))
          .select(col("qid"), col("vec_id"), col("label"),
            col("cell").cast("long").as("cell"),
            (expr(dot("embedding", "qe")) / (col("nrm") * col("qnrm"))).as("cos"))
          .withColumn("rank", row_number().over(wk))
          .filter(col("rank") <= k)
          .select(col("qid").as("query_id"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("label"), col("cell"),
            round(col("cos"), 6).as("cosine"))
    }
  }

  /** Delete ids from the live index by appending a TOMBSTONE
    * generation — no published file is touched (the GDPR-delete shape
    * for an LSM store). Each id's tombstone lands in the id's CURRENT
    * cell so cell-pruned probes see it; ids not live in the index
    * (absent, or already deleted) produce no tombstone, making
    * deletes idempotent. The physical bytes of deleted vectors remain
    * until [[compact]] — which is the half of a real deletion
    * pipeline that rewrites files. Running stats intentionally keep
    * the deleted mass until compaction (same drift contract as
    * re-sent upserts). Returns per-cell accounting
    * `(cell, n_deleted)`. `batchTag` (CDC streaming) rides the
    * manifest publish exactly as in [[upsert]] — note an all-no-op
    * delete publishes nothing, so its tag is not recorded (replaying
    * it is another no-op, which is the point). */
  def delete(ids: DataFrame, root: String,
      batchTag: Option[String] = None): DataFrame = {
    val s = ids.sparkSession
    import s.implicits._
    PublishLock.withLock(s, root) {
    val (gen, lines) = readManifest(s, root).getOrElse(
      throw new IllegalStateException(s"no ANN index published at $root — build() first"))
    val newGen = gen + 1
    val del = ids.select(col("vec_id").cast("long").as("vec_id")).distinct()
    val tombs = liveIn(s, root, dataDirsOf(lines), tombDirsOf(lines),
        None, Seq.empty)
      .join(broadcast(del), "vec_id")
      .select(col("vec_id"), col("cell"))
      .withColumn("gen", lit(newGen))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (tombs.isEmpty) {
        // nothing live matched: a no-op delete publishes nothing (an
        // empty partitioned parquet dir would not even re-read)
        Seq.empty[(Long, Long)].toDF("cell", "n_deleted")
      } else {
        // stats carry over unchanged (the documented drift): republish
        // the previous generation's stats under the new gen so probes
        // keep resolving stats-<gen>. Everything lands BEFORE the
        // manifest move — the manifest is the only publish point.
        s.read.parquet(s"$root/stats-$gen").write.mode("overwrite").parquet(s"$root/stats-$newGen")
        tombs.write.mode("overwrite").partitionBy("cell").parquet(s"$root/tombs-$newGen")
        writeManifest(s, root, newGen,
          (lines :+ s"tombs-$newGen") ++ batchTag.map(t => s"batch:$t"))
        // materialize the tiny per-cell accounting from the persisted
        // frame BEFORE the finally-unpersist — a lazily-returned frame
        // would recompute the whole multi-generation resolution
        tombs.groupBy(col("cell")).agg(count(lit(1)).as("n_deleted"))
          .orderBy(col("cell")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
          .toDF("cell", "n_deleted")
      }
    } finally tombs.unpersist()
    }
  }

  /** Per-cell drift accounting — the "when to compact" signal the
    * class doc's drift contract ([[upsert]] re-sends and [[delete]]
    * tombstones leave superseded mass in the running stats until
    * [[compact]]) otherwise leaves to intuition:
    *
    *  - `n_live`      rows a probe of the cell would see
    *  - `n_stats`     mass inside the running centroid (every row ever
    *                  assigned to the cell, superseded or not)
    *  - `n_superseded` = n_stats − n_live — the drift mass; 0 means
    *                  the running centroid IS the live mean
    *  - `centroid_shift` ‖running centroid − live mean‖₂ (0.0 for an
    *                  all-live cell, and for an emptied cell where no
    *                  live mean exists)
    *
    * Cost: one cell-pruned-less (full) scan of the live rows to
    * recompute the exact live means — an ACCOUNTING query an operator
    * runs occasionally, not a serving path; everything past the scan
    * is (cells × dims)-sized. After [[compact]], every row reads
    * (n_superseded = 0, centroid_shift = 0.0) — spec-pinned. */
  def driftStats(s: SparkSession, root: String): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    import s.implicits._
    val (gen, lines) = readManifest(s, root).getOrElse(
      throw new IllegalStateException(s"no ANN index published at $root — build() first"))
    val live = liveIn(s, root, dataDirsOf(lines), tombDirsOf(lines),
        None, Seq("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val running = s.read.parquet(s"$root/stats-$gen")
        .select(col("cell"), col("pos"), col("sm").as("r_sm"), col("cnt").as("r_cnt"))
      // per (cell, pos): squared diff of the two means; live-empty cells
      // (all rows superseded/tombstoned) report shift 0.0 with their
      // superseded mass — the mass number is the actionable signal there
      running.join(
          statsOf(live).select(col("cell"), col("pos"),
            col("sm").as("l_sm"), col("cnt").as("l_cnt")),
          Seq("cell", "pos"), "left")
        .select(col("cell"),
          col("r_cnt"), coalesce(col("l_cnt"), lit(0L)).as("lc"),
          when(col("l_cnt").isNull, lit(0.0))
            .otherwise(pow(col("r_sm") / col("r_cnt") - col("l_sm") / col("l_cnt"), 2))
            .as("sq"))
        .groupBy(col("cell"))
        .agg(first(col("r_cnt")).as("n_stats"), first(col("lc")).as("n_live"),
          sqrt(sum(col("sq"))).as("shift"))
        .orderBy(col("cell"))
        // materialized (cells-sized) so the returned frame doesn't
        // re-run the live resolution after the unpersist below
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(1),
          r.getLong(1) - r.getLong(2),
          math.floor(r.getDouble(3) * 1e6 + 0.5) / 1e6))
        .toDF("cell", "n_live", "n_stats", "n_superseded", "centroid_shift")
    } finally live.unpersist()
  }

  /** The drift accounting made ACTIONABLE: compact iff the superseded
    * fraction of the running-stats mass exceeds `maxSupersededFraction`
    * — the policy loop a production ingest runs after every N batches
    * (measure → compare → fold), instead of eyeballing [[driftStats]].
    * Returns Some(compaction accounting) when it compacted, None when
    * the index is still within budget. The drift read is the same
    * full live-resolution scan as [[driftStats]]; run this at
    * maintenance cadence, not per-batch. */
  def compactIfDrifted(s: SparkSession, root: String,
      maxSupersededFraction: Double = 0.2): Option[DataFrame] = {
    val d = driftStats(s, root)
      .agg(sum(col("n_superseded")).cast("double").as("sup"),
        sum(col("n_stats")).cast("double").as("tot"))
      .collect()(0)
    val (sup, tot) = (d.getDouble(0), d.getDouble(1))
    if (tot > 0 && sup / tot > maxSupersededFraction) Some(compact(s, root))
    else None
  }

  /** RESTORE the live index to retained snapshot `v` — the Delta
    * RESTORE shape: the snapshot's manifest (generation counter,
    * data/tomb dirs, quantizer pointers, AND the idempotence ledger)
    * becomes live again; the suffix snapshots and the dirs only they
    * referenced go at once (order and crash behaviour:
    * [[VersionedRoot]]). A streaming ingest whose batches were rolled
    * back must reset its checkpoint too — the rolled-back ledger means
    * a replay re-applies them, by design. */
  def rollbackTo(s: SparkSession, root: String, v: Long): Unit =
    Versions.rollbackTo(s, root, v)

  /** GC for the index root ([[VersionedRoot]]'s sweep): snapshots past
    * `graceMs` expire unless pinned (all of them may), then every
    * generation or quantizer dir no retained manifest references
    * ([[refsOf]]) and stale temp files go. Compaction leaves folded
    * dirs behind by design — readers resolve through the manifest.
    * Returns the deleted names. */
  def sweepUnreferenced(s: SparkSession, root: String,
      graceMs: Long = 30L * 60 * 1000): Seq[String] =
    Versions.sweepUnreferenced(s, root, graceMs)

  /** Pin retained snapshot `v` under `tag`: [[sweepUnreferenced]] never
    * expires a pinned version or GCs its data/code/tomb/quantizer dirs
    * until [[unpin]]. */
  def pin(s: SparkSession, root: String, tag: String, v: Long): Unit =
    Versions.pin(s, root, tag, v)

  /** Release `tag`'s pin; the next sweep past grace may reclaim. */
  def unpin(s: SparkSession, root: String, tag: String): Unit =
    Versions.unpin(s, root, tag)

  /** The live pin registry at `root`: tag → version. */
  def pins(s: SparkSession, root: String): Map[String, Long] =
    Versions.pins(s, root)

  /** One deterministic Lloyd refinement of the coarse quantizer over
    * the SURVIVING corpus (the retrain path of [[compact]]): init =
    * the `cells` lowest-id survivors (re-numbered to dense cell ids
    * 0..cells−1 — cell ids are partition values), then `rounds`
    * assign→exact-double-mean steps. Deterministic given the corpus
    * (lowest-id init, argmin ties → lowest cell, exact means), so a
    * crash-replayed retraining compaction rewrites identical
    * quantizers. A cell that loses all members drops out (standard
    * Lloyd); probes derive cells from the stats, so nothing assumes a
    * constant cell count. */
  private def lloydSeeds(s: SparkSession, live: DataFrame, cells: Int,
      rounds: Int): DataFrame = {
    import s.implicits._
    // model-sized driver collect: the k lowest surviving ids
    val initIds = live.select(col("vec_id")).orderBy(col("vec_id").asc)
      .limit(cells).collect().map(_.getLong(0))
    val rank = initIds.zipWithIndex.map { case (id, i) => (id, i.toLong) }
      .toSeq.toDF("init_id", "init_cell")
    var seeds = live.join(broadcast(rank), col("vec_id") === col("init_id"))
      .select(col("init_cell").as("cell"), col("embedding").as("se"))
      .withColumn("sn", expr(dot("se", "se")))
    (1 to rounds).foreach { _ =>
      seeds = statsOf(assign(live.select(col("vec_id"), col("label"),
          col("embedding"), col("nrm")), seeds))
        .select(col("cell"), col("pos"), (col("sm") / col("cnt")).as("m"))
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> cast(x.m as float))")
          .as("se"))
        .withColumn("sn", expr(dot("se", "se")))
    }
    seeds.select(col("cell"), col("se"), col("sn"))
  }

  /** Retrained PQ codebooks over the survivors: the training sample is
    * the `PqTrainN` lowest-id SURVIVING vectors re-keyed to dense ids
    * (the founding rule "vec_id < PqTrainN" applied to the live
    * corpus — the original sample may be entirely deleted by now),
    * then the shared [[trainCodebooks]] Lloyd step. */
  private def retrainedBooks(s: SparkSession, live: DataFrame): DataFrame = {
    import s.implicits._
    val ids = live.select(col("vec_id")).orderBy(col("vec_id").asc)
      .limit(PqTrainN).collect().map(_.getLong(0))
    val rank = ids.zipWithIndex.map { case (id, i) => (id, i.toLong) }
      .toSeq.toDF("orig_id", "rid")
    trainCodebooks(
      live.join(broadcast(rank), col("vec_id") === col("orig_id"))
        .select(col("rid").as("vec_id"), col("embedding")))
  }

  /** Fold every generation into ONE: resolve the live rows (latest
    * event wins, tombstones applied), rewrite them as the single new
    * data+codes generation, REBUILD the running stats from the
    * survivors (this is where re-sent-upsert and tombstone drift gets
    * purged — post-compact centroids equal a fresh rebuild of the
    * live corpus), and publish a manifest referencing only the new
    * generation. Old dirs become unreferenced (readers resolve
    * through the manifest); deleting their bytes is the caller's GC
    * decision since a concurrent reader may still hold the old
    * manifest. Returns per-cell `(cell, n_live, gens_folded)`.
    *
    * `retrain = true` additionally RETRAINS both quantizers on the
    * surviving corpus — new coarse seeds ([[lloydSeeds]]), fresh cell
    * assignment, new PQ codebooks ([[retrainedBooks]]), full
    * re-encode — published as versioned `seeds-N`/`codebooks-N` dirs
    * the manifest's `seeds:`/`books:` lines point at (probes and
    * later upserts resolve quantizers through the manifest, so the
    * swap is atomic with the data). This is the recovery
    * [[driftStats]]'s centroid-displacement signal calls for on a
    * genuinely SHIFTED corpus, where stats-rebuild alone still serves
    * cells shaped by the founding distribution: post-retrain the
    * coarse cells re-fit the live data and probe recall recovers
    * (spec-pinned on a shifted corpus). `retrain = false` keeps the
    * frozen quantizers bit-for-bit (append exactness — probes
    * unchanged, spec-pinned). */
  def compact(s: SparkSession, root: String, retrain: Boolean = false): DataFrame = {
    import s.implicits._
    PublishLock.withLock(s, root) {
    val (gen, lines) = readManifest(s, root).getOrElse(
      throw new IllegalStateException(s"no ANN index published at $root — build() first"))
    val newGen = gen + 1
    val dataDirs = dataDirsOf(lines)
    val tombDirs = tombDirsOf(lines)
    val codeDirs = dataDirs.map(_.replaceFirst("^data-", "codes-"))
    // the ledger/metadata lines every compaction carries forward: dim,
    // batch tags (see batchApplied), and — unless this compaction
    // retrains — the current quantizer pointers
    val carried = lines.filter(l => l.startsWith("dim:") || l.startsWith("batch:"))
    val live = liveIn(s, root, dataDirs, tombDirs, None,
        Seq("label", "embedding", "nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (!retrain) {
        live.withColumn("gen", lit(newGen))
          .write.mode("overwrite").partitionBy("cell").parquet(s"$root/data-$newGen")
        // codes are per-vector constants (frozen codebooks): carry the
        // surviving rows, no re-encode
        liveIn(s, root, codeDirs, tombDirs, None, Seq("codes"))
          .withColumn("gen", lit(newGen))
          .write.mode("overwrite").partitionBy("cell").parquet(s"$root/codes-$newGen")
        statsOf(live).write.mode("overwrite").parquet(s"$root/stats-$newGen")
        writeManifest(s, root, newGen,
          carried ++ lines.filter(l => l.startsWith("seeds:") || l.startsWith("books:"))
            :+ s"data-$newGen")
      } else {
        val cells = s.read.parquet(s"$root/${seedsDirOf(lines)}").count().toInt
        lloydSeeds(s, live, cells, rounds = 2)
          .write.mode("overwrite").parquet(s"$root/seeds-$newGen")
        retrainedBooks(s, live)
          .write.mode("overwrite").parquet(s"$root/codebooks-$newGen")
        // assign against the STORED retrained seeds (the build/upsert
        // discipline: what was written is what assigns)
        val a = assign(live.select(col("vec_id"), col("label"),
            col("embedding"), col("nrm")),
            s.read.parquet(s"$root/seeds-$newGen"))
          .withColumn("gen", lit(newGen))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          a.write.mode("overwrite").partitionBy("cell").parquet(s"$root/data-$newGen")
          encode(a, s.read.parquet(s"$root/codebooks-$newGen"))
            .withColumn("gen", lit(newGen))
            .write.mode("overwrite").partitionBy("cell").parquet(s"$root/codes-$newGen")
          statsOf(a).write.mode("overwrite").parquet(s"$root/stats-$newGen")
          writeManifest(s, root, newGen,
            carried ++ Seq(s"data-$newGen",
              s"seeds:seeds-$newGen", s"books:codebooks-$newGen"))
        } finally a.unpersist()
      }
      // materialized accounting (see delete) — the returned frame must
      // not re-run the full resolution after the unpersist below;
      // post-retrain cells come from the NEW assignment
      val counted =
        if (!retrain) live.groupBy(col("cell")).agg(count(lit(1)).as("n_live"))
        else s.read.parquet(s"$root/stats-$newGen").filter(col("pos") === 0)
          .select(col("cell"), col("cnt").as("n_live"))
      counted.orderBy(col("cell")).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          dataDirs.length.toLong + tombDirs.length)).toSeq
        .toDF("cell", "n_live", "gens_folded")
    } finally live.unpersist()
    }
  }
}
