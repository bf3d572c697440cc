package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (north-star extensions
  * — SURVEY.md §7.3 M5, BASELINE.json): brute-force cosine top-k as the
  * exact baseline, a sign-bit LSH (multi-probe) approximate variant as
  * the 100 TB scale path, and blocked all-vectors kNN.
  *
  * Scale design:
  *  - brute-force top-k: one narrow pass over the vectors + a broadcast
  *    1-row query; `orderBy(desc).limit(k)` executes as
  *    TakeOrderedAndProject (per-partition top-k, driver merge) — no
  *    global sort, scales to any vector count.
  *  - ANN: candidates restricted to sign-LSH buckets within Hamming ≤ 1
  *    of the query bucket (9 of 256 buckets ⇒ ~28× fewer distance
  *    computations, same top results for clustered data). At 100 TB the
  *    bucket id is a partition key: the probe touches 9 partitions.
  *  - blocked kNN: per-label blocks bound the pair space (the IVF idea:
  *    a coarse quantizer — here the given label — limits each lookup to
  *    one cell).
  *
  * All cosine math is a strict LEFT-FOLD dot product (the native
  * `graft_dot` expression; the DuckDB oracle uses the equivalent
  * `list_reduce`) so both engines execute the identical FP operation
  * order — results are bit-identical, no tolerance needed.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  private val K = 10
  private val QueryVec = 0L  // vec_id of the query vector

  // ---------------- portable cosine ----------------

  /** Native codegen'd left-fold dot product (see DotProduct): same
    * bits as the zip_with/aggregate HOF form, one compiled loop.
    * Shared with Dedup's embedding near-dup — ONE fold definition. */
  private[graft] def foldDot(a: String, b: String): String =
    s"graft_dot($a, $b)"

  /** cos from a precomputed per-vector norm column on each side: the
    * pair stage folds ONCE (the cross dot), not three times — at n²
    * pair counts the norm precompute is the difference between 1 and 3
    * interpreted array folds per pair (measured ~3× at sf0.1). */
  private def cosExpr(a: String, b: String, normA: String, normB: String): String =
    s"""${foldDot(a, b)} / ($normA * $normB)"""

  private[graft] def duckFoldDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform(range(1, len($a) + 1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)),
       |  (acc, v) -> acc + v)""".stripMargin

  private def duckCosExpr(a: String, b: String, normA: String, normB: String): String =
    s"""${duckFoldDot(a, b)} / ($normA * $normB)"""

  /** Per-vector L2 norm column (computed once, before any pair join). */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", expr(s"sqrt(${foldDot("embedding", "embedding")})"))

  private val duckNormExpr =
    s"sqrt(${duckFoldDot("embedding", "embedding")})"

  /** Sign-LSH bucket over the first `bits` dims (axis-aligned
    * hyperplanes) — the parametric form behind [[bucketExpr]].
    * Production dimensions the width with the corpus: bits ≈
    * log₂(n / target_bucket_size); true near-dups (cos ≈ 1) share ALL
    * sign bits, so widening costs no recall. `bits = 0` degenerates to
    * one global bucket (exact brute force — the spec's oracle). */
  private[graft] def bucketExprFor(bits: Int): String =
    if (bits == 0) "0"
    else (0 until bits)
      .map(j => s"CASE WHEN element_at(embedding, ${j + 1}) >= 0 THEN ${1L << j}L ELSE 0L END")
      .mkString(" + ")

  /** 8-bit sign-LSH bucket (axis-aligned hyperplanes on dims 1..8).
    * Shared with Dedup's embedding near-dup so both operators use the
    * SAME LSH geometry — a bucketing change lands everywhere at once
    * (and must bump [[IndexFormatVersion]]). The INDEX no longer uses
    * this fixed width — [[lshBitsFor]] dimensions it per corpus. */
  private[graft] val bucketExpr = bucketExprFor(8)

  private[graft] val duckBucketExpr = (0 until 8)
    .map(j => s"CASE WHEN embedding[${j + 1}] >= 0 THEN ${1 << j} ELSE 0 END")
    .mkString(" + ")

  // ---- auto-dimensioned LSH width (bits follow the corpus size) ----

  /** Target mean bucket occupancy: the width rule keeps buckets around
    * this size, so per-query probe cost tracks the TARGET, not the
    * corpus — the r10 sweep's one growing probe (`s_ann_lsh_batch`,
    * 3.76× at 100× in the fixed-256-bucket regime) flattens once
    * buckets split as the corpus grows. 256 and not smaller because a
    * bucket is also a PARTITION DIRECTORY of the index: splitting a
    * parquet layout into tens of thousands of ~32-row dirs trades
    * probe arithmetic for file-listing fixed cost (measured: an
    * over-split 8192-dir index at 100× volume spent ~10 s/query just
    * listing) — the classic small-files failure. */
  private[graft] val LshTargetBucket = 256
  /** Width clamp: ≥ 4 bits so tiny corpora still bucket at all; ≤ 12
    * bits (4096 buckets) to bound the directory count a filesystem
    * listing pays per scan — past that, a 100 TB layout keeps bucket
    * as a SORTED column inside fewer partitions instead of splitting
    * directories further (each bucket dir just grows more/larger
    * files, which parquet splits handle). Also bounded by the
    * embedding dim (each bit is one axis-aligned hyperplane over dims
    * 1..bits ≤ 64). */
  private[graft] val LshMinBits = 4
  private[graft] val LshMaxBits = 12

  /** bits ≈ log₂(n / target), computed EXACTLY in integers (the
    * smallest b with target·2ᵇ ≥ n, clamped) — a float log₂ could
    * round differently across engines at exact powers of two; the
    * DuckDB twin is `length(bin(m − 1))` over the same integer
    * ceiling-divide. Recorded in the index meta at build; probes READ
    * it rather than assume (old 8-bit indexes keep working). */
  private[graft] def lshBitsFor(n: Long): Int = {
    val m = (n + LshTargetBucket - 1) / LshTargetBucket
    val b = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(LshMaxBits, math.max(LshMinBits, b))
  }

  /** The DuckDB twin of build-time width selection + bucketing: CTE
    * `nb(bits)` from the corpus count, bucket as a data-dependent
    * list fold over dims 1..bits. */
  private val duckBitsCte =
    s"""nb AS (SELECT least($LshMaxBits, greatest($LshMinBits,
       |         CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END))::INT AS bits
       |       FROM (SELECT (count(*) + ${LshTargetBucket - 1}) // $LshTargetBucket AS m
       |             FROM embeddings))""".stripMargin
  private val duckBucketExprDyn =
    "CAST(list_sum(list_transform(range(1, bits + 1), " +
      "j -> CASE WHEN embedding[j] >= 0 THEN (CAST(1 AS BIGINT) << (j - 1)) ELSE 0 END)) AS BIGINT)"

  /** All bucket ids within Hamming distance `radius` of `center` in a
    * `bits`-wide code space — the multi-probe ball, driver-side (the
    * query is one row; 2¹⁶ max enumeration is trivial). */
  private[graft] def hammingBall(center: Int, bits: Int, radius: Int): Seq[Int] =
    (0 until (1 << bits)).filter(b => java.lang.Integer.bitCount(b ^ center) <= radius)

  private val LshMetaName = "_GRAFT_LSH_META"

  /** The stored width of a built LSH index — probes resolve the
    * geometry from the index META, never from code constants, so an
    * index built at another corpus size (or by the fixed-width v2
    * code, which wrote no meta → 8) probes correctly. */
  private[graft] def annLshBits(root: String): Int = {
    val f = new java.io.File(root, LshMetaName)
    if (!f.isFile) 8
    else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").find(_.startsWith("bits:")).map(_.stripPrefix("bits:").trim.toInt)
      .getOrElse(8)
  }

  /** The stored per-bucket occupancies of a built LSH index (empty map
    * on an old meta without `cnt:` lines — a missing count reads as 0,
    * which makes the budget rule keep every probe: graceful fallback
    * to the full radius-1 ball). */
  private[graft] def annLshBucketCounts(root: String): Map[Int, Long] = {
    val f = new java.io.File(root, LshMetaName)
    if (!f.isFile) Map.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").filter(_.startsWith("cnt:")).map(_.split(":")).collect {
        case Array(_, b, c) => b.trim.toInt -> c.trim.toLong
      }.toMap
  }

  // ----------------------------------------------------------------
  // Brute-force cosine top-k (exact baseline)
  // ----------------------------------------------------------------

  /** Exact top-K by cosine to the query vector: broadcast the 1-row
    * query, one narrow scan, TakeOrderedAndProject. */
  private def sCosineTopk: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val v = withNorm(Tables.embeddings(s, dir))
    val q = v.filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("qe"), col("nrm").as("qnrm"))
    v.filter(col("vec_id") =!= QueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        expr(cosExpr("embedding", "qe", "nrm", "qnrm")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(K)
      .select(col("vec_id"), col("label"), round(col("cos"), 6).as("cosine"))
  }

  private val sCosineTopkSql =
    s"""WITH v AS (SELECT vec_id, label, embedding, $duckNormExpr AS nrm FROM embeddings),
       |q AS (SELECT embedding qe, nrm qnrm FROM v WHERE vec_id = $QueryVec),
       |scored AS (SELECT vec_id, label, ${duckCosExpr("embedding", "qe", "nrm", "qnrm")} AS cos
       |           FROM v CROSS JOIN q WHERE vec_id <> $QueryVec)
       |SELECT vec_id, label, round(cos, 6) AS cosine FROM scored
       |ORDER BY cos DESC, vec_id LIMIT $K""".stripMargin

  // ----------------------------------------------------------------
  // ANN: multi-probe sign-LSH top-k
  // ----------------------------------------------------------------

  /** Bump when an index layout/bucketing expression changes: the
    * version joins the fingerprint, so a code upgrade can never
    * silently reuse an index built by older code. */
  private val IndexFormatVersion = 5 // v3: auto width + meta; v4: occupancy 256, one file/bucket; v5: bucket counts in meta (budget-bounded multi-probe)
  private val IvfIndexVersion = 1

  /** Shared cached-index machinery (LSH bucket index + IVF cell
    * index): indexes are built on first use under the JVM tmpdir and
    * rebuilt iff the source files change — a fingerprint (file
    * name/size/mtime + format version) resolves through an
    * atomically-published marker, so the filesystem is the memo,
    * nothing retains a SparkSession, and a changed source can't serve
    * stale data; stale completed builds are swept past a grace window.
    * `build` must leave a `_SUCCESS` file at the top of the new dir
    * (the sweep's completion signal; Spark's own parquet commit writes
    * it for single-write builds). At 100 TB this is the one-off index
    * build every ANN system amortizes across queries. */
  private[graft] def cachedIndex(s: SparkSession, dir: String, kind: String,
      version: Int, srcTable: String = "embeddings.parquet")(build: String => Unit): String = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val src = new java.io.File(dir, srcTable)
    val files = Option(src.listFiles()).map(_.toSeq).getOrElse(Seq(src))
    val fp = s"v$version|" + files.filter(_.isFile).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${kind}_index_${java.lang.Integer.toHexString(dir.hashCode)}")
    val marker = new java.io.File(root, "_GRAFT_FINGERPRINT")
    // marker = "<fingerprint>\n<data-dir-name>": readers resolve the
    // live build through it, so a half-written build is never visible
    val current: Option[String] =
      if (!marker.isFile) None
      else new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
        .split("\n", 2) match {
          case Array(`fp`, d) if new java.io.File(root, d).isDirectory => Some(d)
          case _ => None // fingerprint/version mismatch, or data dir swept away
        }
    val dataName = current.getOrElse {
      // build into a fresh uniquely-named dir, then publish it with an
      // ATOMIC marker move — concurrent builders each write their own
      // dir and the last marker wins whole, so readers never see a
      // partially-deleted overwrite (the old mode("overwrite") race)
      val name = s"emb-${System.nanoTime()}"
      build(new java.io.File(root, name).toString)
      val tmp = new java.io.File(root, s".marker-${System.nanoTime()}")
      java.nio.file.Files.write(tmp.toPath, s"$fp\n$name".getBytes("UTF-8"))
      java.nio.file.Files.move(tmp.toPath, marker.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      name
    }
    // Bound /tmp growth: every rebuild leaves the superseded emb-* dir
    // (a full copy of the embeddings table) behind; on a host whose
    // source data evolves, that grows without bound. Sweep builds that
    // are (a) not the live one, (b) COMPLETED (_SUCCESS present — an
    // in-progress concurrent build keeps its task files under
    // _temporary/ without touching the root mtime, so age alone would
    // delete it mid-write), and (c) past a grace window long enough
    // that no reader which resolved them through an older marker can
    // still be scanning. A build that crashed before commit leaks its
    // dir (no _SUCCESS ever appears) — bounded by crash count, not by
    // rebuild count, and cleared by any manual rm of the root.
    // Deletion failures are ignored — a concurrent sweeper winning the
    // race is fine.
    val grace = 30L * 60 * 1000
    Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("emb-") &&
        f.getName != dataName &&
        new java.io.File(f, "_SUCCESS").isFile &&
        System.currentTimeMillis() - f.lastModified > grace)
      .foreach(deleteRecursively)
    new java.io.File(root, dataName).toString
  }

  /** LSH-bucket-partitioned ANN index (a `_SUCCESS`-terminated parquet
    * write partitioned by `bucket`). The width is AUTO-DIMENSIONED at
    * build — bits = [[lshBitsFor]](corpus count), recorded in the
    * index meta so probes read the geometry instead of assuming it —
    * which is what keeps probe cost tracking the target occupancy as
    * the corpus grows (buckets split instead of bloating; true
    * near-dups share ALL sign bits, so widening costs no recall). */
  private[graft] def annIndex(s: SparkSession, dir: String): String =
    cachedIndex(s, dir, "ann", IndexFormatVersion) { path =>
      val v = withNorm(Tables.embeddings(s, dir))
      val bits = lshBitsFor(v.count())
      // repartition BY BUCKET before the partitioned write: without
      // it every task writes a file into every bucket dir it touches
      // (tasks × buckets files — the small-files explosion that turns
      // probe scans into directory listings); with it each bucket's
      // rows land in exactly one task → one file per bucket dir
      v.withColumn("bucket", expr(bucketExprFor(bits)))
        .repartition(col("bucket"))
        .write.partitionBy("bucket").parquet(path)
      // per-bucket occupancy into the meta (≤ 4096 lines — model-sized
      // driver collect): the probe planner's budget arithmetic reads
      // these instead of scanning the index to count
      val counts = s.read.parquet(path).groupBy(col("bucket"))
        .agg(count(lit(1)).as("c")).collect()
        .map(r => s"cnt:${r.get(0)}:${r.getLong(1)}").sorted
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, LshMetaName),
        (s"bits:$bits" +: counts).mkString("\n").getBytes("UTF-8"))
      ()
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRecursively)
    try { f.delete(); () } catch { case _: Throwable => () }
  }

  /** Approximate top-K with a PRUNED probe: the probe-bucket ids within
    * Hamming ≤ `radius` of the query's bucket are computed driver-side
    * from the 1-row query vector (a legitimate collect), and the scan
    * over the bucket-partitioned [[annIndex]] filters
    * `bucket IN (<literals>)` — PartitionFilters prune the scan to the
    * probe partitions (PlanSpec-asserted) instead of scanning every
    * vector and filtering post-hoc (the r3 scale-killer: a runtime
    * qbucket from a cross join can't prune). Exact cosine then ranks
    * the candidates.
    *
    * `radius` is the scan-fraction/recall knob: with 8 hyperplanes,
    * radius 1 reads 9/256 partitions, radius 2 reads 37, radius 3
    * reads 93. Measured on the harness fixture (near-random vectors,
    * top-10 cosine ≈ 0.3 — the hard case for LSH): recall@10 is 2/10
    * at radius 1 and 7/10 at radius 3 for a 38 % scan; clustered
    * corpora (the realistic ANN workload) sit far above both. The
    * SimilaritySpec pins this tradeoff. */
  private[graft] def annLshTopk(s: SparkSession, dir: String, radius: Int): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    import s.implicits._
    // build (or resolve) the index FIRST — the probe geometry (bucket
    // width) is read from its meta, never assumed from code constants
    val root = annIndex(s, dir)
    val bits = annLshBits(root)
    val qRows = withNorm(Tables.embeddings(s, dir).filter(col("vec_id") === QueryVec))
      .select(col("embedding"), col("nrm"), expr(bucketExprFor(bits)).as("bucket"))
      .limit(1).collect()
    if (qRows.isEmpty) {
      // no query vector in this corpus → empty top-K with the query's
      // schema (the pre-index join formulation degraded the same way)
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          lit(0).cast("int").as("bucket"), lit(0.0).as("cosine"))
        .limit(0)
    } else {
      val qRow = qRows(0)
      // bucket is BIGINT since the expr unified onto bucketExprFor
      val qbucket = qRow.getAs[Number](2).intValue
      val probes = hammingBall(qbucket, bits, radius).map(Int.box)
      val q = Seq((qRow.getSeq[Float](0).toArray, qRow.getDouble(1))).toDF("qe", "qnrm")
      // the driver knows the probe buckets, so read ONLY their
      // partition dirs (basePath keeps the bucket column): partition
      // DISCOVERY cost then tracks the Hamming ball, not the total
      // bucket count — at a 4096-dir index the full-root read pays a
      // 4096-entry listing before pruning a single row (empty buckets
      // have no dir; filter to what exists)
      val probeDirs = probes.map(b => new java.io.File(root, s"bucket=$b"))
        .filter(_.isDirectory).map(_.toString)
      if (probeDirs.isEmpty)
        Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            lit(0).cast("int").as("bucket"), lit(0.0).as("cosine"))
          .limit(0)
      else s.read.option("basePath", root).parquet(probeDirs: _*)
        .filter(col("bucket").isin(probes: _*))
        .filter(col("vec_id") =!= QueryVec)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"), col("bucket").cast("int").as("bucket"),
          expr(cosExpr("embedding", "qe", "nrm", "qnrm")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(K)
        .select(col("vec_id"), col("label"), col("bucket"),
          round(col("cos"), 6).as("cosine"))
    }
  }

  private def sAnnLsh: Q = (s, dir) => annLshTopk(s, dir, radius = 1)

  // ---- batch ANN: many query vectors through one bucket join ----

  private val BatchMod = 100L  // every 100th vector queries the index
  /** The registered batch panels stop at the founding-id range: a
    * serving batch is FIXED-size regardless of corpus size, so the
    * scale sweeps measure index-serving cost against corpus volume,
    * not workload growth (the `t_bm25_batch` fixed-panel model — an
    * uncapped `% BatchMod` panel at 100× volume is 100× the queries,
    * and the sweep conflates the two). At the harness SFs every vec_id
    * is under the cap, so results are unchanged; scale replicas add
    * corpus without adding queries. Arbitrary-size batches remain the
    * facade path (`ivfpqBatchTopk` takes any frame). */
  private val PanelCap = 5000L

  /** Per-query candidate budget for the batch probe (r12 — VERDICT
    * r11 #3): the radius-1 ball probes bits+1 buckets whatever they
    * hold, so its per-query work grows with occupancy until the
    * 12-bit ceiling (~13·256 candidates — the 4.53× row in the r11
    * 100× sweep). The budget rule keeps per-query candidates bounded
    * BELOW that plateau at any corpus size; 1536 = 6 target-occupancy
    * buckets, chosen to NOT bind at harness fixture scale (the whole
    * radius-1 ball is ≲ 1k candidates there), so the oracle and the
    * batch==single spec see the identical full ball. */
  private[graft] val AnnProbeBudget = 1536L

  /** Budget-bounded multi-probe planning (Lv et al. 2007's multi-probe
    * LSH, with an occupancy budget): the query's own bucket is always
    * probed; its `bits` single-bit flips are ordered by PROJECTION
    * MARGIN — bit j of the sign bucket is sign(e[j+1]), so |e[j+1]| is
    * the distance to that hyperplane and the SMALLEST margin is the
    * flip most likely to hold true neighbours — and kept while the
    * cumulative occupancy (exact bucket first, then flips in margin
    * order, from the build-time `cnt:` meta) stays ≤ `budget`.
    * Occupancy is monotone-cumulated over the FULL margin order, so
    * the kept set is a prefix — deterministic, and expressible
    * verbatim in the DuckDB oracle. Input `(qid, qe, qnrm, qbucket)`
    * → output `(qid, qe, qnrm, bucket)` probe rows. */
  private[graft] def budgetProbesOf(q: DataFrame, bits: Int,
      counts: Map[Int, Long], budget: Long): DataFrame = {
    val s = q.sparkSession
    import s.implicits._
    val cnt = counts.toSeq.toDF("bucket", "cnt")
    // int-typed probe ids to match the index's inferred partition
    // column — a bigint probe side would push the cast onto the scan
    // and defeat dynamic partition pruning. The exact bucket rides
    // with margin −1 so it sorts first and is charged first.
    val flipArr = (0 until bits).map(j =>
        s"struct(cast(qbucket ^ ${1 << j} as int) as bucket, " +
          s"abs(cast(element_at(qe, ${j + 1}) as double)) as margin)")
      .mkString(", ")
    val ball = s"concat(array(struct(cast(qbucket as int) as bucket, " +
      s"cast(-1.0 as double) as margin)), array($flipArr))"
    val cum = Window.partitionBy(col("qid"))
      .orderBy(col("margin").asc, col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q.select(col("qid"), col("qe"), col("qnrm"), explode(expr(ball)).as("p"))
      .select(col("qid"), col("qe"), col("qnrm"),
        col("p.bucket").as("bucket"), col("p.margin").as("margin"))
      .join(broadcast(cnt), Seq("bucket"), "left")
      .withColumn("cum", sum(coalesce(col("cnt"), lit(0L))).over(cum))
      .filter(col("margin") < 0 || col("cum") <= budget)
      .select(col("qid"), col("qe"), col("qnrm"), col("bucket"))
  }

  /** BATCH ANN probe — the production shape (VERDICT r4 #4): a whole
    * frame of query vectors probes the bucket-partitioned [[annIndex]]
    * in ONE join. Per query, the probe buckets come from
    * [[budgetProbesOf]] — the query's bucket plus its single-bit
    * flips in projection-margin order, cut at the occupancy budget
    * (at fixture scale the budget doesn't bind and this IS the full
    * Hamming-≤1 ball; at plateau corpora it bounds per-query work) —
    * exploded to (query, probe_bucket) rows; the index joins on its
    * PARTITION column `bucket` for the per-query fan-out. The batch's
    * BUCKET UNION — bounded by (bits+1)·|batch| ints, never by the
    * corpus — is collected once and the scan reads ONLY those
    * partition dirs ([[annLshTopk]]'s r11 path-pruning discipline,
    * the `bm25TopkBatchAtRoot` shape for vectors): a full-root read
    * pays partition DISCOVERY over every bucket dir before pruning a
    * single row (a distributed-listing job past the discovery
    * threshold — measured ~2 s at a 1024-dir index, the r12 100×
    * sweep's dominant term, and it grows with the BUCKET COUNT, i.e.
    * with corpus size, no matter what the probes touch). A candidate
    * lives in exactly one bucket and the probe buckets per query are
    * distinct, so no (query, candidate) pair arises twice — no dedup
    * pass. Per-query top-K is a qid-partitioned window (each query's
    * candidate set is budget-bounded, so the sort is per-group tiny).
    *
    * Scale: probe rows ≤ (bits+1) × |batch| (broadcastable for any
    * sane batch); scanned candidates ≤ budget per query and listed
    * dirs ≤ the probe-bucket union REGARDLESS of corpus size — the
    * flat-serving property the 100× sweep checks. */
  private[graft] def testProbeFrame(s: SparkSession, dir: String, bits: Int): DataFrame =
    withNorm(Tables.embeddings(s, dir)
        .filter(col("vec_id") % BatchMod === 0 && col("vec_id") < PanelCap))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qnrm"),
        expr(bucketExprFor(bits)).as("qbucket"))

  private def sAnnLshBatch: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    // geometry + occupancy from the index meta (auto-dimensioned width)
    val root = annIndex(s, dir)
    val bits = annLshBits(root)
    val q = testProbeFrame(s, dir, bits)
    // the probe PLAN is model-sized by construction (≤ (bits+1)·|panel|
    // rows, each budget-bounded), so it is collected ONCE and replayed
    // as a local frame: one panel scan feeds both the driver-side
    // bucket union and the broadcast build, with no persist() left in
    // the session cache afterwards (the r12 leak: persist with no
    // owner to unpersist — the recall panel re-enters this builder, so
    // each call parked another cached plan for the process lifetime)
    val probePlan = budgetProbesOf(q, bits, annLshBucketCounts(root), AnnProbeBudget)
    val probeRows = probePlan.collect()
    val probes = s.createDataFrame(
      s.sparkContext.parallelize(probeRows.toIndexedSeq, 1), probePlan.schema)
    val buckets = probeRows.map(_.getInt(probePlan.schema.fieldIndex("bucket")))
      .distinct.sorted
    // empty buckets have no dir; read what exists under basePath so
    // the bucket partition column survives
    val probeDirs = buckets.map(b => new java.io.File(root, s"bucket=$b"))
      .filter(_.isDirectory).map(_.toString)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
    val index =
      if (probeDirs.isEmpty) s.read.parquet(root).limit(0)
      else s.read.option("basePath", root).parquet(probeDirs.toIndexedSeq: _*)
    index
      .withColumn("bucket", col("bucket").cast("int"))
      .join(broadcast(probes), "bucket")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("label"),
        expr(cosExpr("embedding", "qe", "nrm", "qnrm")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid").as("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("label"), round(col("cos"), 6).as("cosine"))
  }

  /** The budget rule verbatim (shared by the batch probe and the
    * panel recall eval): flips margin-ordered, occupancy cumulated
    * over the full order, kept while cum ≤ budget (the budget does
    * not bind at oracle scale, so this equals the full radius-1 ball
    * there — but the RULE is what both engines run). */
  private val annBatchCandsCte =
    s"""$duckBitsCte,
       |v AS (SELECT vec_id, label, embedding, $duckNormExpr AS nrm,
       |             $duckBucketExprDyn AS bucket FROM embeddings CROSS JOIN nb),
       |q AS (SELECT vec_id qid, embedding qe, nrm qnrm, bucket qbucket
       |      FROM v WHERE vec_id % $BatchMod = 0 AND vec_id < $PanelCap),
       |counts AS (SELECT bucket, count(*) AS c FROM v GROUP BY bucket),
       |pf AS (SELECT qid, qe, qnrm,
       |         unnest([qbucket] || list_transform(range(0, bits),
       |           j -> xor(qbucket, (1::BIGINT << j::INT)))) AS bucket,
       |         unnest([-1.0::DOUBLE] || list_transform(range(0, bits),
       |           j -> abs(qe[j + 1])::DOUBLE)) AS margin
       |       FROM q CROSS JOIN nb),
       |pc AS (SELECT pf.*, coalesce(c.c, 0) AS cnt
       |       FROM pf LEFT JOIN counts c USING (bucket)),
       |pp AS (SELECT *, sum(cnt) OVER (PARTITION BY qid
       |         ORDER BY margin, bucket
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |       FROM pc),
       |probes AS (SELECT qid, qe, qnrm, bucket FROM pp
       |           WHERE margin < 0 OR cum <= $AnnProbeBudget),
       |cands AS (SELECT p.qid, v.vec_id, v.label,
       |            ${duckCosExpr("v.embedding", "qe", "v.nrm", "qnrm")} AS cos
       |          FROM v JOIN probes p ON v.bucket = p.bucket
       |          WHERE v.vec_id <> p.qid)""".stripMargin

  private val sAnnLshBatchSql =
    s"""WITH $annBatchCandsCte
       |SELECT qid AS query_id, rank, vec_id, label, round(cos, 6) AS cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid
       |        ORDER BY cos DESC, vec_id) AS rank FROM cands)
       |WHERE rank <= $K""".stripMargin

  private val sAnnLshSql =
    s"""WITH $duckBitsCte,
       |v AS (SELECT vec_id, label, embedding, $duckNormExpr AS nrm,
       |             $duckBucketExprDyn AS bucket FROM embeddings CROSS JOIN nb),
       |q AS (SELECT embedding qe, nrm qnrm, bucket qbucket FROM v WHERE vec_id = $QueryVec),
       |cands AS (SELECT vec_id, label, bucket,
       |            ${duckCosExpr("embedding", "qe", "nrm", "qnrm")} AS cos
       |          FROM v CROSS JOIN q
       |          WHERE vec_id <> $QueryVec AND bit_count(xor(bucket, qbucket)) <= 1)
       |SELECT vec_id, label, bucket, round(cos, 6) AS cosine FROM cands
       |ORDER BY cos DESC, vec_id LIMIT $K""".stripMargin

  // ----------------------------------------------------------------
  // ANN recall evaluation (approximate vs exact, one query)
  // ----------------------------------------------------------------

  /** Recall@K of the radius-1 sign-LSH probe against the exact cosine
    * top-K, as ONE query — the evaluation every ANN deployment runs
    * before trusting an index (recall is a measured property of data
    * + geometry, not a constant of the algorithm; the scaladoc numbers
    * on [[annLshTopk]] came from exactly this measurement). Both sides
    * are deterministic (shared left-fold dot, (cos desc, id) ties), so
    * the report itself is oracle-exact — an eval harness you can
    * regression-gate on.
    *
    * Scale shape: the exact side is the one corpus-volume stage
    * (TakeOrderedAndProject, the [[sCosineTopk]] plan); the ANN side
    * reads its probe partitions; the overlap join is K×K rows.
    * Production evals run a query PANEL through the same shape (the
    * [[sAnnLshBatch]] join) and average — one query is the unit cell. */
  private def sAnnRecall: Q = (s, dir) => {
    val ann = annLshTopk(s, dir, radius = 1).select(col("vec_id"))
    val exact = sCosineTopk(s, dir).select(col("vec_id"))
    exact.join(ann, "vec_id")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(K.toLong).as("k"), lit(1L).as("radius"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(K.toDouble), 6).as("recall"))
  }

  private val sAnnRecallSql =
    s"""WITH $duckBitsCte,
       |v AS (SELECT vec_id, label, embedding, $duckNormExpr AS nrm,
       |             $duckBucketExprDyn AS bucket FROM embeddings CROSS JOIN nb),
       |q AS (SELECT embedding qe, nrm qnrm, bucket qbucket FROM v WHERE vec_id = $QueryVec),
       |scored AS (SELECT vec_id, bucket, qbucket,
       |             ${duckCosExpr("embedding", "qe", "nrm", "qnrm")} AS cos
       |           FROM v CROSS JOIN q WHERE vec_id <> $QueryVec),
       |annk AS (SELECT vec_id FROM scored
       |         WHERE bit_count(xor(bucket, qbucket)) <= 1
       |         ORDER BY cos DESC, vec_id LIMIT $K),
       |exactk AS (SELECT vec_id FROM scored ORDER BY cos DESC, vec_id LIMIT $K)
       |SELECT CAST($K AS BIGINT) AS k, CAST(1 AS BIGINT) AS radius,
       |       count(*) AS n_hits,
       |       round(count(*)::DOUBLE / $K, 6) AS recall
       |FROM exactk JOIN annk USING (vec_id)""".stripMargin

  /** `s_ann_recall_panel` — the PANEL form [[sAnnRecall]]'s scaladoc
    * promises: every batch-serving query evaluated against its exact
    * cosine top-K, one row per query (query_id, k, n_hits, recall).
    * The approximate side IS the production batch probe
    * ([[sAnnLshBatch]] — budget-bounded multi-probe over the
    * persisted index), so this report regression-gates exactly what
    * serving runs, including the budget rule; deterministic both
    * sides, so the recall numbers are oracle-exact.
    *
    * Scale shape: the exact side is the one corpus-volume stage — a
    * broadcast panel × corpus fold with per-partition partial top-K
    * (WindowGroupLimit before the qid exchange); the approximate side
    * reads its probe partitions; the hit join carries K·|panel| rows. */
  private def sAnnRecallPanel: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val root = annIndex(s, dir)
    val bits = annLshBits(root)
    val panel = testProbeFrame(s, dir, bits)
      .select(col("qid"), col("qe"), col("qnrm"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
    val exactk = withNorm(Tables.embeddings(s, dir))
      .crossJoin(broadcast(panel))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr(cosExpr("embedding", "qe", "nrm", "qnrm")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("vec_id"))
    val annk = sAnnLshBatch(s, dir)
      .select(col("query_id").as("qid"), col("vec_id"))
    panel.select(col("qid"))
      .join(exactk.join(annk, Seq("qid", "vec_id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("hits")), Seq("qid"), "left")
      .select(col("qid").as("query_id"), lit(K.toLong).as("k"),
        coalesce(col("hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / lit(K.toDouble), 6)
          .as("recall"))
  }

  private val sAnnRecallPanelSql =
    s"""WITH $annBatchCandsCte,
       |annk AS (SELECT qid, vec_id
       |         FROM (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |                 ORDER BY cos DESC, vec_id) AS rank FROM cands)
       |         WHERE rank <= $K),
       |exacts AS (SELECT q.qid, v.vec_id,
       |             ${duckCosExpr("v.embedding", "qe", "v.nrm", "qnrm")} AS cos
       |           FROM v CROSS JOIN q WHERE v.vec_id <> q.qid),
       |exactk AS (SELECT qid, vec_id
       |           FROM (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |                   ORDER BY cos DESC, vec_id) AS rank FROM exacts)
       |           WHERE rank <= $K),
       |hits AS (SELECT e.qid, count(*) AS h
       |         FROM exactk e JOIN annk a ON e.qid = a.qid AND e.vec_id = a.vec_id
       |         GROUP BY e.qid)
       |SELECT q.qid AS query_id, CAST($K AS BIGINT) AS k,
       |       CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
       |       round(coalesce(h.h, 0)::DOUBLE / $K, 6) AS recall
       |FROM q LEFT JOIN hits h ON q.qid = h.qid""".stripMargin

  // ----------------------------------------------------------------
  // Matryoshka truncation eval (MRL prefix-dim retrieval quality)
  // ----------------------------------------------------------------

  /** Prefix widths evaluated — powers of two up to half the full
    * dimensionality, the MRL deployment ladder. */
  private val MrlDims = Seq(8, 16, 32)

  /** `s_matryoshka_recall` — the adaptive-retrieval question
    * Matryoshka Representation Learning (Kusupati et al., NeurIPS
    * 2022) deployments ask before shipping truncated vectors: at
    * prefix width d, what recall@k does brute-force retrieval keep
    * against the full-dimension ranking? One row per width. This is
    * the EVALUATION an embedding-storage decision runs — halving
    * stored dims halves every ANN index byte and probe fold in this
    * library, and this query prices that cut on the corpus itself.
    *
    * Scale shape: per width one narrow map-side slice+fold pass and a
    * TakeOrderedAndProject (per-partition partial top-k, no global
    * sort); the recall join is k-row. The widths share one corpus
    * scan per evaluation — |MrlDims| passes total, each cheaper than
    * the full-dim scoring by the width ratio. */
  private def sMatryoshkaRecall: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val v = Tables.embeddings(s, dir)
    val full = sCosineTopk(s, dir).select(col("vec_id"))
    MrlDims.map { d =>
      val t = v.withColumn("e", expr(s"slice(embedding, 1, $d)"))
        .withColumn("nrm", expr(s"sqrt(${foldDot("e", "e")})"))
      val q = t.filter(col("vec_id") === QueryVec)
        .select(col("e").as("qe"), col("nrm").as("qnrm"))
      t.filter(col("vec_id") =!= QueryVec)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), expr(cosExpr("e", "qe", "nrm", "qnrm")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(K)
        .select(col("vec_id"))
        .join(full, "vec_id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d.toLong).as("dim_prefix"), lit(K.toLong).as("k"),
          col("n_hits"),
          round(col("n_hits").cast("double") / lit(K.toDouble), 6).as("recall"))
    }.reduce(_ unionByName _).orderBy(col("dim_prefix"))
  }

  private val sMatryoshkaRecallSql = {
    val perD = MrlDims.map { d =>
      s"""t$d AS (SELECT vec_id, embedding[1:$d] AS e FROM embeddings),
         |n$d AS (SELECT vec_id, e, sqrt(${duckFoldDot("e", "e")}) AS nrm FROM t$d),
         |q$d AS (SELECT e qe, nrm qnrm FROM n$d WHERE vec_id = $QueryVec),
         |k$d AS (SELECT vec_id FROM (
         |  SELECT vec_id, ${duckCosExpr("e", "qe", "nrm", "qnrm")} AS cos
         |  FROM n$d CROSS JOIN q$d WHERE vec_id <> $QueryVec
         |  ORDER BY cos DESC, vec_id LIMIT $K)),
         |r$d AS (SELECT CAST($d AS BIGINT) AS dim_prefix, CAST($K AS BIGINT) AS k,
         |          count(*) AS n_hits,
         |          round(count(*)::DOUBLE / $K, 6) AS recall
         |        FROM k$d JOIN fullk USING (vec_id))""".stripMargin
    }.mkString(",\n")
    val unions = MrlDims.map(d => s"SELECT * FROM r$d").mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding, $duckNormExpr AS nrm FROM embeddings),
       |q AS (SELECT embedding qe, nrm qnrm FROM v WHERE vec_id = $QueryVec),
       |fullk AS (SELECT vec_id FROM (
       |  SELECT vec_id, ${duckCosExpr("embedding", "qe", "nrm", "qnrm")} AS cos
       |  FROM v CROSS JOIN q WHERE vec_id <> $QueryVec
       |  ORDER BY cos DESC, vec_id LIMIT $K)),
       |$perD
       |$unions ORDER BY dim_prefix""".stripMargin
  }

  // ----------------------------------------------------------------
  // IVF ANN: coarse quantizer cells + nprobe=2 probe
  // ----------------------------------------------------------------

  private val IvfCells = 8
  private val NProbe = 2

  /** IVF approximate top-K — the OTHER classic ANN scale path next to
    * [[sAnnLsh]]'s LSH buckets: a coarse quantizer partitions vectors
    * into cells, a query probes only its `NProbe` nearest cells. The
    * quantizer here is one deterministic Lloyd iteration: seeds = the
    * vectors with vec_id < IvfCells, every vector assigned to its
    * nearest seed by argmin(‖s‖² − 2·x·s) (squared-L2 argmin without
    * the per-x constant; ties → lowest cell id), M-step = exact per-
    * (cell, dim) mean (float32 sums in double are EXACT at this scale —
    * see [[sCentroids]] — so cross-engine equality holds with no
    * rounding), probes = the NProbe centroids nearest the query.
    *
    * Every distance is the shared left-fold dot (`graft_dot` /
    * list_reduce twins), so cell assignment, probe choice, and final
    * ranking are bit-identical in DuckDB — an exactly-checkable ANN.
    *
    * Scale shape: assignment is ONE broadcast join (IvfCells rows) +
    * one groupBy(vec_id) argmin — the shuffle carries (score, cell)
    * structs; the M-step shuffle carries (cell, dim, partial sums); the
    * probe reads only its cells' vectors (in production the assigned
    * frame is written cell-partitioned exactly like [[annIndex]], so
    * the probe scan prunes to NProbe partitions). */
  /** The deterministic one-Lloyd-iteration quantizer (assignment +
    * float centroids) — THE shared build used by the in-query
    * [[sIvfAnn]] and the persisted [[ivfIndex]], so the two paths
    * cannot diverge. */
  private def ivfAssignment(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val v = withNorm(Tables.embeddings(s, dir))
    val seeds = v.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cell"), col("embedding").as("se"))
      .withColumn("sn", expr(foldDot("se", "se")))
    val assigned = v.crossJoin(broadcast(seeds))
      .withColumn("score", expr(s"sn - 2 * ${foldDot("embedding", "se")}"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("score"), col("cell"))).as("best"),
        first(col("label")).as("label"),
        first(col("embedding")).as("embedding"),
        first(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
        col("best.cell").as("cell"))
    val cent = assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "cv")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("cv")).as("m"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> cast(x.m as float))").as("ce"))
    (assigned, cent)
  }

  private def sIvfAnn: Q = (s, dir) => {
    val (assigned, cent) = ivfAssignment(s, dir)
    val q = withNorm(Tables.embeddings(s, dir)).filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("qe"), col("nrm").as("qnrm"))
    val probes = cent.crossJoin(broadcast(q))
      .withColumn("pscore", expr(s"${foldDot("ce", "ce")} - 2 * ${foldDot("qe", "ce")}"))
      .orderBy(col("pscore").asc, col("cell").asc)
      .limit(NProbe)
      .select(col("cell"))
    assigned.filter(col("vec_id") =!= QueryVec)
      .join(broadcast(probes), "cell")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("cell"),
        expr(cosExpr("embedding", "qe", "nrm", "qnrm")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(K)
      .select(col("vec_id"), col("label"), col("cell"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Cell-partitioned IVF index (data under `/data` partitioned by
    * `cell`, centroids under `/centroids`) — the production layout the
    * sIvfAnn scaladoc promises, now real (r5): built once per source
    * fingerprint through the shared [[cachedIndex]] machinery. */
  private[graft] def ivfIndex(s: SparkSession, dir: String): String =
    cachedIndex(s, dir, "ivf", IvfIndexVersion) { path =>
      val (assigned, cent) = ivfAssignment(s, dir)
      // the centroid M-step derives FROM the assignment — persist it
      // for the build so the Lloyd pass runs once, not twice
      val a = assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        a.write.partitionBy("cell").parquet(s"$path/data")
        cent.write.parquet(s"$path/centroids")
      } finally a.unpersist()
      // top-level completion sentinel for the stale-build sweep
      java.nio.file.Files.createFile(java.nio.file.Paths.get(path, "_SUCCESS"))
      ()
    }

  /** IVF probe against the PERSISTED [[ivfIndex]]: the NProbe nearest
    * cells are computed from the stored centroids (an IvfCells-row
    * frame — the collect is quantizer-sized, not corpus-sized) and the
    * data scan filters `cell IN (<literals>)`, so PartitionFilters
    * prune it to NProbe of IvfCells partitions (PlanSpec-asserted) —
    * identical results to [[sIvfAnn]] (SimilaritySpec-pinned), but the
    * corpus-wide assignment is paid once at build time instead of per
    * query. */
  /** The ONE probe path over the persisted [[ivfIndex]]: nearest
    * `nprobe` cells from the stored centroids (quantizer-sized
    * collect), cell-pruned data scan, optional metadata predicate
    * (pushed into the pruned scan), exact cosine rank. Shared by
    * [[sIvfAnnIndexed]] and [[sIvfFiltered]] so the probe logic (and
    * its empty-corpus degradation) cannot drift between them. */
  private def ivfIndexProbeTopk(s: SparkSession, dir: String, nprobe: Int,
      extraFilter: Option[org.apache.spark.sql.Column]): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val root = ivfIndex(s, dir)
    val q = withNorm(Tables.embeddings(s, dir)).filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("qe"), col("nrm").as("qnrm"))
    val probeCells = s.read.parquet(s"$root/centroids")
      .crossJoin(broadcast(q))
      .withColumn("pscore", expr(s"${foldDot("ce", "ce")} - 2 * ${foldDot("qe", "ce")}"))
      .orderBy(col("pscore").asc, col("cell").asc)
      .limit(nprobe)
      .select(col("cell")).collect().map(_.getLong(0))
    if (probeCells.isEmpty) {
      // no query vector in this corpus → empty top-K, query's schema
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), lit(0L).as("cell"), lit(0.0).as("cosine"))
        .limit(0)
    } else {
      val scan = s.read.parquet(s"$root/data")
        .filter(col("cell").isin(probeCells.map(Long.box): _*))
      extraFilter.fold(scan)(scan.filter)
        .filter(col("vec_id") =!= QueryVec)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"), col("cell").cast("long").as("cell"),
          expr(cosExpr("embedding", "qe", "nrm", "qnrm")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(K)
        .select(col("vec_id"), col("label"), col("cell"),
          round(col("cos"), 6).as("cosine"))
    }
  }

  private def sIvfAnnIndexed: Q = (s, dir) =>
    ivfIndexProbeTopk(s, dir, NProbe, None)

  // ----------------------------------------------------------------
  // Metadata-filtered ANN (predicate + IVF probe)
  // ----------------------------------------------------------------

  /** Labels the filtered probe restricts to, and its widened probe
    * count. */
  private val FilteredLabels = Seq(2, 5)
  private val FilteredNProbe = 3

  /** Metadata-FILTERED ANN over the persisted IVF index — the
    * "vector search with a WHERE clause" every retrieval stack needs
    * (RAG with source/tenant/date predicates). Post-filter form: the
    * query probes its nearest cells exactly like [[sIvfAnnIndexed]],
    * and the metadata predicate applies INSIDE the probed cells — on
    * the index scan itself, where Parquet evaluates it as a pushed
    * filter under the cell PartitionFilters, so selectivity costs a
    * row-group skip, not a second pass. The standard recall caveat is
    * baked in: a selective filter empties probed cells, so the probe
    * WIDENS (`FilteredNProbe` > [[NProbe]]) — the production knob is
    * nprobe ∝ 1/selectivity (or pre-filtered per-tenant indexes when
    * a predicate is permanent).
    *
    * Oracle: the in-query quantizer CTEs with the same filter — the
    * persisted index holds exactly the in-query assignment
    * ([[ivfIndex]] shares [[ivfAssignment]]), so parity holds. */
  private def sIvfFiltered: Q = (s, dir) =>
    ivfIndexProbeTopk(s, dir, FilteredNProbe,
      Some(col("label").isin(FilteredLabels.map(Int.box): _*)))

  private val sIvfFilteredSql =
    s"""WITH v AS (SELECT vec_id, label, embedding, $duckNormExpr AS nrm FROM embeddings),
       |seeds AS (SELECT vec_id AS cell, embedding AS se,
       |                 ${duckFoldDot("embedding", "embedding")} AS sn
       |          FROM embeddings WHERE vec_id < $IvfCells),
       |scored AS (SELECT v.vec_id, v.label, v.embedding, v.nrm, s.cell,
       |                  s.sn - 2 * ${duckFoldDot("v.embedding", "s.se")} AS score
       |           FROM v CROSS JOIN seeds s),
       |assigned AS (SELECT vec_id, label, embedding, nrm, cell
       |             FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                     ORDER BY score, cell) AS rn FROM scored)
       |             WHERE rn = 1),
       |cent AS (SELECT cell, list(m ORDER BY dim)::FLOAT[] AS ce
       |         FROM (SELECT cell, dim, avg(cv) AS m
       |               FROM (SELECT cell,
       |                       unnest(range(1, len(embedding) + 1)) AS dim,
       |                       unnest(embedding) AS cv
       |                     FROM assigned)
       |               GROUP BY cell, dim)
       |         GROUP BY cell),
       |q AS (SELECT embedding qe, nrm qnrm FROM v WHERE vec_id = $QueryVec),
       |probe AS (SELECT cell FROM cent CROSS JOIN q
       |          ORDER BY ${duckFoldDot("ce", "ce")} - 2 * ${duckFoldDot("qe", "ce")}, cell
       |          LIMIT $FilteredNProbe),
       |cands AS (SELECT a.vec_id, a.label, a.cell,
       |                 ${duckCosExpr("a.embedding", "qe", "a.nrm", "qnrm")} AS cos
       |          FROM assigned a JOIN probe USING (cell) CROSS JOIN q
       |          WHERE a.vec_id <> $QueryVec
       |            AND a.label IN (${FilteredLabels.mkString(", ")}))
       |SELECT vec_id, label, cell, round(cos, 6) AS cosine
       |FROM cands ORDER BY cos DESC, vec_id LIMIT $K""".stripMargin

  private val sIvfAnnSql =
    s"""WITH v AS (SELECT vec_id, label, embedding, $duckNormExpr AS nrm FROM embeddings),
       |seeds AS (SELECT vec_id AS cell, embedding AS se,
       |                 ${duckFoldDot("embedding", "embedding")} AS sn
       |          FROM embeddings WHERE vec_id < $IvfCells),
       |scored AS (SELECT v.vec_id, v.label, v.embedding, v.nrm, s.cell,
       |                  s.sn - 2 * ${duckFoldDot("v.embedding", "s.se")} AS score
       |           FROM v CROSS JOIN seeds s),
       |assigned AS (SELECT vec_id, label, embedding, nrm, cell
       |             FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                     ORDER BY score, cell) AS rn FROM scored)
       |             WHERE rn = 1),
       |cent AS (SELECT cell, list(m ORDER BY dim)::FLOAT[] AS ce
       |         FROM (SELECT cell, dim, avg(cv) AS m
       |               FROM (SELECT cell,
       |                       unnest(range(1, len(embedding) + 1)) AS dim,
       |                       unnest(embedding) AS cv
       |                     FROM assigned)
       |               GROUP BY cell, dim)
       |         GROUP BY cell),
       |q AS (SELECT embedding qe, nrm qnrm FROM v WHERE vec_id = $QueryVec),
       |probe AS (SELECT cell FROM cent CROSS JOIN q
       |          ORDER BY ${duckFoldDot("ce", "ce")} - 2 * ${duckFoldDot("qe", "ce")}, cell
       |          LIMIT $NProbe),
       |cands AS (SELECT a.vec_id, a.label, a.cell,
       |                 ${duckCosExpr("a.embedding", "qe", "a.nrm", "qnrm")} AS cos
       |          FROM assigned a JOIN probe USING (cell) CROSS JOIN q
       |          WHERE a.vec_id <> $QueryVec)
       |SELECT vec_id, label, cell, round(cos, 6) AS cosine
       |FROM cands ORDER BY cos DESC, vec_id LIMIT $K""".stripMargin

  /** IVF probe over a TRAINED coarse quantizer — [[sIvfAnn]]'s single
    * deterministic Lloyd iteration replaced by the full
    * [[kmeansFit]] training loop (KmeansRounds rounds), the way a
    * production IVF build actually trains before the corpus-scale
    * assign pass. The model comes back as k driver-local rows, the
    * assignment is ONE broadcast pass, the query probes its NProbe
    * nearest cells, candidates get exact cosine rank. Trained
    * centroids tighten the cells, which is what makes a small nprobe
    * hold recall as the corpus grows — the missing half of the IVF
    * story next to the persisted-index layout. */
  private def sIvfTrained: Q = (s, dir) => {
    val v = withNorm(Tables.embeddings(s, dir))
    val model = kmeansFitCentroids(v.select(col("vec_id"), col("embedding")),
      IvfCells, KmeansRounds)
    // assignment = ONE projection against the driver-local model
    // (bestCellCol — the old broadcast-join + per-vector argmin
    // shuffle removed; same score bits, same ties)
    val assigned = v.select(col("vec_id"), col("label"), col("embedding"),
      col("nrm"), bestCellCol(model, col("embedding")).getField("cell").as("cell"))
    val q = v.filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("qe"), col("nrm").as("qnrm"))
    // probes: the literal codebook exploded against the query's 1 row
    val cellsArr = array(model.sortBy(_.cell).map { c =>
      struct(lit(c.cell).as("cell"), lit(c.cn).as("cn"), typedlit(c.ce).as("ce"))
    }: _*)
    val probes = q.select(explode(cellsArr).as("c"), col("qe"))
      .select(col("c.cell").as("cell"),
        (col("c.cn") - lit(2.0) *
          call_function("graft_dot", col("qe"), col("c.ce"))).as("pscore"))
      .orderBy(col("pscore").asc, col("cell").asc)
      .limit(NProbe)
      .select(col("cell"))
    assigned.filter(col("vec_id") =!= QueryVec)
      .join(broadcast(probes), "cell")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("cell"),
        expr(cosExpr("embedding", "qe", "nrm", "qnrm")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(K)
      .select(col("vec_id"), col("label"), col("cell").cast("long").as("cell"),
        round(col("cos"), 6).as("cosine"))
  }

  // lazy: KmeansRounds/duckKmeansCtes are declared further down the
  // object — an eager val here would read 0 during object init and
  // emit an empty CTE chain
  private lazy val sIvfTrainedSql = {
    val r = KmeansRounds
    s"""WITH ${duckKmeansCtes(IvfCells, r)},
       |pF AS (SELECT v.vec_id, s.cell,
       |         ${duckFoldDot("s.ce", "s.ce")} - 2 * ${duckFoldDot("v.embedding", "s.ce")} AS score
       |       FROM embeddings v CROSS JOIN cent$r s),
       |aF AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY score, cell) AS rn
       |    FROM pF) rankedF
       |  WHERE rn = 1),
       |v2 AS MATERIALIZED (
       |  SELECT a.vec_id, a.cell, v.label, v.embedding,
       |         sqrt(${duckFoldDot("v.embedding", "v.embedding")}) AS nrm
       |  FROM aF a JOIN embeddings v ON a.vec_id = v.vec_id),
       |q AS (SELECT embedding qe, nrm qnrm FROM v2 WHERE vec_id = $QueryVec),
       |probe AS (SELECT cell FROM cent$r CROSS JOIN q
       |          ORDER BY ${duckFoldDot("ce", "ce")} - 2 * ${duckFoldDot("qe", "ce")}, cell
       |          LIMIT $NProbe),
       |cands AS (SELECT a.vec_id, a.label, a.cell,
       |                 ${duckCosExpr("a.embedding", "qe", "a.nrm", "qnrm")} AS cos
       |          FROM v2 a JOIN probe USING (cell) CROSS JOIN q
       |          WHERE a.vec_id <> $QueryVec)
       |SELECT vec_id, label, cell::BIGINT AS cell, round(cos, 6) AS cosine
       |FROM cands ORDER BY cos DESC, vec_id LIMIT $K""".stripMargin
  }

  // ----------------------------------------------------------------
  // Scalar-quantized top-k: int8 codes, integer dot product
  // ----------------------------------------------------------------

  /** Compressed-domain similarity — the scan-IO half of an ANN system:
    * SYMMETRIC per-dimension scalar quantization maps every float32 to
    * an 8-bit code, code = round(x / s · 127) with s = per-dim max |x|
    * (the "fit scalers, then transform" two-pass any SQ/PQ index build
    * runs), and ranking uses the INTEGER dot product of the codes.
    * Symmetric — no shift — because an affine min-max shift moves the
    * corpus off the origin and its dot products stop tracking angle
    * (measured recall@10 collapsed to 0/10 that way; symmetric codes
    * measure 7–8/10 against the exact top-10, spec-pinned). All
    * arithmetic is exact: |codes| ≤ 127, code products ≤ 16 129, and a
    * 64-dim sum of those is far inside float-product and double-sum
    * exactness — so quantization and ranking are bit-identical in
    * DuckDB with no rounding tolerance. */
  private def sQuantizedTopk: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val exploded = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
    val stats = exploded.groupBy("pos")
      .agg(greatest(abs(min(col("x"))), abs(max(col("x")))).as("sc"))
    val quant = exploded.join(broadcast(stats), "pos")
      .withColumn("q",
        when(col("sc") === 0.0, lit(0.0))
          .otherwise(round(col("x").cast("double") / col("sc").cast("double") * 127.0))
          .cast("float"))
      .groupBy(col("vec_id"))
      .agg(first(col("label")).as("label"),
        expr("transform(array_sort(collect_list(struct(pos, q))), s -> s.q)").as("qe"))
      // two consumers read the quantized frame (the broadcast query row
      // and the corpus probe side) — persisted for the query's duration
      // so the explode+stats+rebuild pipeline runs once, not twice
      // (same rationale as d_ngram_jaccard's index persist; the harness
      // clears the cache per query)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = quant.filter(col("vec_id") === QueryVec).select(col("qe").as("qq"))
    quant.filter(col("vec_id") =!= QueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        expr(foldDot("qe", "qq")).cast("long").as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(K)
  }

  private val sQuantizedTopkSql =
    s"""WITH e AS (SELECT vec_id, label,
       |             unnest(range(1, len(embedding) + 1)) AS pos,
       |             unnest(embedding) AS x
       |           FROM embeddings),
       |stats AS (SELECT pos, greatest(abs(min(x)), abs(max(x))) AS sc FROM e GROUP BY pos),
       |quant AS (SELECT vec_id, label,
       |            list(CASE WHEN sc = 0 THEN 0.0
       |                 ELSE round(x::DOUBLE / sc::DOUBLE * 127.0)
       |                 END ORDER BY pos)::FLOAT[] AS qe
       |          FROM e JOIN stats USING (pos)
       |          GROUP BY vec_id, label),
       |q AS (SELECT qe AS qq FROM quant WHERE vec_id = $QueryVec)
       |SELECT vec_id, label, CAST(${duckFoldDot("qe", "qq")} AS BIGINT) AS score
       |FROM quant CROSS JOIN q
       |WHERE vec_id <> $QueryVec
       |ORDER BY score DESC, vec_id LIMIT $K""".stripMargin

  // ----------------------------------------------------------------
  // Binary quantization: 1-bit signatures, Hamming shortlist, exact rerank
  // ----------------------------------------------------------------

  /** 63 sign bits (dims 1..63) in ONE int64 — bit 63 stays unused
    * because the DuckDB twin sums the bit weights with checked BIGINT
    * arithmetic (1<<63 would overflow where Spark's long wraps). */
  private val BqBits = 63
  private val BqShortlist = 100
  private val BqIndexVersion = 1

  /** The persisted signature table: (vec_id, label, nrm, sig) — 8-byte
    * signatures via the shared sign-quantization expression. Built
    * through the fingerprinted cached-index machinery like the
    * LSH/IVF indexes. */
  private[graft] def bqIndex(s: SparkSession, dir: String): String =
    cachedIndex(s, dir, "bq", BqIndexVersion) { path =>
      withNorm(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("label"), col("nrm"),
          expr(bucketExprFor(BqBits)).cast("long").as("sig"))
        .coalesce(1)
        .write.parquet(path)
    }

  /** `s_bq_rerank` — binary quantization with rescoring, the third
    * compression tier next to SQ8 ([[sQuantizedTopk]], 4× smaller) and
    * PQ ([[sPqAdc]], trained): every vector reduces to a 63-bit sign
    * signature (sign-random-projection LSH, Charikar STOC 2002 — here
    * axis-aligned, the shared [[bucketExprFor]] geometry), candidate
    * generation is a Hamming-distance TakeOrdered over the PERSISTED
    * 8-byte-signature table, and only the [[BqShortlist]] survivors pay
    * an exact-cosine rerank through a broadcast join back to the full
    * vectors.
    *
    * The 100 TB split this models: signatures are 32× smaller than the
    * float32 vectors (1 B vectors ≈ 8 GB of signatures — a
    * memory-resident tier), so the full-corpus pass scans ONLY
    * (vec_id, sig) at XOR+popcount speed, while the 256-byte vectors
    * stay cold and are touched for exactly `shortlist` rows. Both
    * stages are deterministic (Hamming ties break on vec_id; rerank
    * on the shared left-fold cosine), so the oracle replicates the
    * two-stage pipeline exactly. */
  private def sBqRerank: Q = (s, dir) => {
    val idx = s.read.parquet(bqIndex(s, dir))
    val v = withNorm(Tables.embeddings(s, dir))
    val q = v.filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("qe"), col("nrm").as("qnrm"),
        expr(bucketExprFor(BqBits)).cast("long").as("qsig"))
    val shortlist = idx.filter(col("vec_id") =!= QueryVec)
      .crossJoin(broadcast(q))
      .withColumn("hamming", expr("CAST(bit_count(sig ^ qsig) AS INT)"))
      .orderBy(col("hamming").asc, col("vec_id").asc)
      .limit(BqShortlist)
      .select(col("vec_id"), col("label"), col("hamming"),
        col("qe"), col("qnrm"))
    v.select(col("vec_id"), col("embedding"), col("nrm"))
      .join(broadcast(shortlist), "vec_id")
      .select(col("vec_id"), col("label"), col("hamming"),
        expr(cosExpr("embedding", "qe", "nrm", "qnrm")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(K)
      .select(col("vec_id"), col("label"), col("hamming"),
        round(col("cos"), 6).as("cosine"))
  }

  private val sBqRerankSql = {
    val duckSig =
      s"""CAST(list_sum(list_transform(range(1, ${BqBits + 1}),
         |  j -> CASE WHEN embedding[j] >= 0 THEN (CAST(1 AS BIGINT) << (j - 1)) ELSE 0 END)) AS BIGINT)""".stripMargin
    s"""WITH v AS (SELECT vec_id, label, embedding, $duckNormExpr AS nrm,
       |             $duckSig AS sig
       |           FROM embeddings),
       |q AS (SELECT embedding AS qe, nrm AS qnrm, sig AS qsig FROM v WHERE vec_id = $QueryVec),
       |short AS (SELECT s.vec_id, s.label, s.embedding, s.nrm,
       |            CAST(bit_count(xor(s.sig, qsig)) AS INT) AS hamming, qe, qnrm
       |          FROM v s CROSS JOIN q WHERE s.vec_id <> $QueryVec
       |          ORDER BY hamming, s.vec_id LIMIT $BqShortlist),
       |scored AS (SELECT vec_id, label, hamming,
       |             ${duckCosExpr("embedding", "qe", "nrm", "qnrm")} AS cos
       |           FROM short)
       |SELECT vec_id, label, hamming, round(cos, 6) AS cosine
       |FROM scored ORDER BY cos DESC, vec_id LIMIT $K""".stripMargin
  }

  // ----------------------------------------------------------------
  // Product quantization: subspace codebooks + ADC top-k
  // ----------------------------------------------------------------

  /** PQ geometry: M subspaces of SubDim dims, K centroids per
    * subspace, trained PqRounds Lloyd rounds. Codes are M small ints
    * per vector — 64 float32 dims (256 B) compress to 4 codes (4 B at
    * k ≤ 256), the memory ratio that makes billion-vector serving
    * feasible (Jégou et al. 2011, the FAISS IndexPQ design). */
  private[operators] val PqM = 4
  private[operators] val PqSubDim = 16
  private[operators] val PqK = 8
  private val PqRounds = 2

  /** `array(struct(m, slice(<col>, …)))` splitting a vector column
    * into its M PQ subvectors — parameterized by column name so query
    * and corpus sides build from the same template instead of a
    * fragile post-hoc string replace. */
  private[operators] def pqSubsExpr(colName: String): String = (0 until PqM)
    .map(m => s"struct($m as m, slice($colName, ${m * PqSubDim + 1}, $PqSubDim) as sv)")
    .mkString("array(", ", ", ")")

  /** Product-quantization ADC top-K: train an independent k-means
    * codebook per subspace (the full [[kmeansFit]] loop on each slice),
    * ENCODE every vector as its per-subspace nearest-centroid ids, and
    * rank candidates against the query through ASYMMETRIC DISTANCE
    * COMPUTATION — the query precomputes an M×K table of subspace
    * distances, and a candidate's score is M table lookups summed,
    * never a full-dimension dot product. Complements [[sQuantizedTopk]]
    * (scalar int8: 4× compression, full-width scan) with the codebook
    * path (64× here; lookups ∝ M).
    *
    * Ranking uses Σ_m (‖c_m‖² − 2·q_m·c_m) — each subspace term drops
    * the ‖q_m‖² constant, so ordering equals true L2 to the
    * reconstructed codewords. Every dot is the shared left-fold; the
    * M-term sum rounds each term to 9 dp into a DECIMAL(28,9)
    * accumulator (aggregation order can't matter), so encode, table,
    * and ranking are bit-identical in the oracle.
    *
    * Scale shape (r14): training is ONE [[kmeansFitGrouped]] loop over
    * all M subspaces — one corpus scan per round instead of M (guide
    * §1.2, fewer passes); encode is a pure PROJECTION against the
    * driver-local codebooks ([[bestCellCol]] per subspace — no
    * broadcast join, no per-(vector, subspace) argmin shuffle); the
    * query's M×K ADC table explodes the literal codebook against the
    * query's one row; the ADC scan joins codes to that broadcast
    * table and shuffles (vec_id, decimal) partials. At serving scale
    * the codes frame IS the index (stored, 64× smaller than the
    * vectors); only it is scanned. */
  private def sPqAdc: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val v = Tables.embeddings(s, dir)
    val subs = pqSubsExpr("embedding")
    def vall = v
      .select(col("vec_id"), col("label"), explode(expr(subs)).as("p"))
      .select(col("vec_id"), col("label"), col("p.m").as("m"), col("p.sv").as("sv"))
    val (modelRows, _) = kmeansFitGroupedRows(
      vall.select(col("m"), col("vec_id"), col("sv").as("embedding")),
      PqK, PqRounds, 0 until PqM)
    val byM: Map[Int, Seq[Centroid]] = modelRows.toSeq.map { r =>
      (r.getInt(0), Centroid(r.getInt(1), r.getDouble(3), r.getSeq[Float](2)))
    }.groupBy(_._1).map { case (m, cs) => m -> cs.map(_._2) }
    val ms = byM.keys.toSeq.sorted
    def chain(f: Int => Column): Column =
      ms.tail.foldLeft(when(col("m") === ms.head, f(ms.head))) {
        (acc, mv) => acc.when(col("m") === mv, f(mv))
      }
    val codes = vall.filter(col("vec_id") =!= QueryVec)
      .select(col("vec_id"), col("label"), col("m"),
        chain(mv => bestCellCol(byM(mv), col("sv")).getField("cell")).as("code"))
    // the query's ADC table: the literal codebook exploded against the
    // query's single row — M×K entries, same score formula as encode
    def cellsOf(mv: Int): Column = array(byM(mv).sortBy(_.cell).map { c =>
      struct(lit(c.cell).as("cell"), lit(c.cn).as("cn"),
        typedlit(c.ce).as("ce"))
    }: _*)
    val dt = vall.filter(col("vec_id") === QueryVec)
      .select(col("m"), col("sv"), explode(chain(cellsOf)).as("c"))
      .select(col("m").as("dm"), col("c.cell").as("dcell"),
        (col("c.cn") - lit(2.0) *
          call_function("graft_dot", col("sv"), col("c.ce"))).as("dscore"))
    codes
      .join(broadcast(dt), col("m") === col("dm") && col("code") === col("dcell"))
      .groupBy(col("vec_id"))
      .agg(first(col("label")).as("label"),
        sum(round(col("dscore"), 9).cast("decimal(28,9)")).as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(K)
      .select(col("vec_id"), col("label"),
        TextAnalysis.decimalR6(col("adc")).as("adc_score"))
  }

  private lazy val sPqAdcSql = {
    val subCtes = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      s"""sub$m AS (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM embeddings)"""
    }.mkString(",\n")
    val trainCtes = (0 until PqM)
      .map(m => duckKmeansCtesFor(PqK, PqRounds, s"sub$m", s"q$m"))
      .mkString(",\n")
    val modelSelects = (0 until PqM)
      .map(m => s"SELECT $m AS m, cell, ce, ${duckFoldDot("ce", "ce")} AS cn FROM q${m}cent$PqRounds")
      .mkString("\nUNION ALL\n")
    val vsubSelects = (0 until PqM)
      .map(m => s"SELECT vec_id, $m AS m, embedding FROM sub$m")
      .mkString("\nUNION ALL\n")
    s"""WITH $subCtes,
       |$trainCtes,
       |model AS MATERIALIZED ($modelSelects),
       |vsub AS ($vsubSelects),
       |scored AS MATERIALIZED (
       |  SELECT v.vec_id, v.m, s.cell,
       |         s.cn - 2 * ${duckFoldDot("v.embedding", "s.ce")} AS score
       |  FROM vsub v JOIN model s ON v.m = s.m),
       |codes AS (
       |  SELECT vec_id, m, cell AS code FROM (
       |    SELECT vec_id, m, cell,
       |           row_number() OVER (PARTITION BY vec_id, m
       |                              ORDER BY score, cell) AS rn
       |    FROM scored) rankedc
       |  WHERE rn = 1),
       |dt AS (SELECT m AS dm, cell AS dcell, score AS dscore
       |       FROM scored WHERE vec_id = $QueryVec),
       |adc AS (
       |  SELECT c.vec_id,
       |         sum(round(dt.dscore, 9)::DECIMAL(28,9)) AS adc
       |  FROM codes c JOIN dt ON c.m = dt.dm AND c.code = dt.dcell
       |  WHERE c.vec_id <> $QueryVec
       |  GROUP BY c.vec_id)
       |SELECT a.vec_id, e.label, round(a.adc, 6)::DOUBLE AS adc_score
       |FROM adc a JOIN embeddings e ON a.vec_id = e.vec_id
       |ORDER BY a.adc, a.vec_id LIMIT $K""".stripMargin
  }

  // ----------------------------------------------------------------
  // IVF-PQ with exact re-rank (the full two-stage retrieval stack)
  // ----------------------------------------------------------------

  /** ADC shortlist size the exact re-rank refines. */
  private val RerankPool = 30

  /** The production retrieval stack in one query (FAISS
    * IVFPQ + refine): the coarse quantizer prunes the corpus to
    * `NProbe` cells, PQ ADC ranks the surviving candidates with M
    * table lookups each and keeps a `RerankPool` shortlist, and ONLY
    * those rows pay a full-dimension exact cosine for the final
    * top-K. Each stage cuts the work the next stage sees: cells prune
    * the scan, codes make the shortlist scoring O(M) per candidate,
    * and the expensive exact distance touches `RerankPool` rows
    * regardless of corpus size.
    *
    * Codebooks here are ONE deterministic Lloyd iteration per
    * subspace (the [[ivfAssignment]] discipline — seeds = k lowest
    * ids, exact float-mean M-step), so unlike [[sPqAdc]]'s eager
    * multi-round training the whole query stays ONE lazy plan; in
    * production both quantizers are trained offline ([[kmeansFit]])
    * and the codes live in the index. Candidate encode happens only
    * INSIDE the probed cells — the in-query stand-in for reading
    * precomputed codes from the index. All arithmetic follows the
    * established exactness disciplines (shared left-fold dots, argmin
    * ties → lowest cell, decimal-summed ADC), so the three-stage
    * composition is oracle-exact end to end. */
  /** One-deterministic-Lloyd-iteration PQ codebook per subspace
    * (seeds = the PqK lowest-id subvectors, exact float-mean M-step) —
    * `(mm, cell, ce, cn)`, M·K rows. THE shared build used by the
    * in-query [[sIvfpqRerank]] and the persisted [[ivfpqIndex]], so
    * the two paths cannot diverge (the [[ivfAssignment]] discipline). */
  private def pqOneIterCodebooks(s: SparkSession, dir: String): DataFrame = {
    // ONE grouped branch over the exploded subspaces instead of an
    // M-way union of identical 3-shuffle branches (r14): one corpus
    // scan, each groupBy keyed by (subspace, …) — per-subspace
    // arithmetic identical (same seeds, same argmin ties, same exact
    // float-mean M-step), still one lazy plan end to end.
    val sub = Tables.embeddings(s, dir)
      .select(col("vec_id"), explode(expr(pqSubsExpr("embedding"))).as("p"))
      .select(col("p.m").as("mm0"), col("vec_id"), col("p.sv").as("sv"))
    val seeds = sub.filter(col("vec_id") < PqK)
      .select(col("mm0").as("sm"), col("vec_id").cast("int").as("cell"),
        col("sv").as("se"))
      .withColumn("sn", expr(foldDot("se", "se")))
    sub.join(broadcast(seeds), col("mm0") === col("sm"))
      .withColumn("score", col("sn") - lit(2.0) * expr(foldDot("sv", "se")))
      .groupBy(col("mm0"), col("vec_id"))
      .agg(min(struct(col("score"), col("cell"))).as("best"),
        first(col("sv")).as("sv"))
      .select(col("mm0"), col("best.cell").as("cell"), col("sv"))
      .select(col("mm0"), col("cell"), posexplode(col("sv")).as(Seq("pos", "cv")))
      .groupBy(col("mm0"), col("cell"), col("pos")).agg(avg(col("cv")).as("mn"))
      .groupBy(col("mm0"), col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mn))), x -> cast(x.mn as float))").as("ce"))
      .withColumn("cn", expr(foldDot("ce", "ce")))
      .select(col("mm0").as("mm"), col("cell"), col("ce"), col("cn"))
  }

  private def sIvfpqRerank: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val (assigned, cent) = ivfAssignment(s, dir)
    val q = withNorm(Tables.embeddings(s, dir)).filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("qe"), col("nrm").as("qnrm"))
    val probes = cent.crossJoin(broadcast(q))
      .withColumn("pscore", expr(s"${foldDot("ce", "ce")} - 2 * ${foldDot("qe", "ce")}"))
      .orderBy(col("pscore").asc, col("cell").asc)
      .limit(NProbe)
      .select(col("cell"))
    val cands = assigned.filter(col("vec_id") =!= QueryVec)
      .join(broadcast(probes), "cell")
    // one-iteration PQ codebook per subspace, lazily composed
    val models = pqOneIterCodebooks(s, dir)
    // encode ONLY the probed-cell candidates
    val codes = cands
      .select(col("vec_id"), explode(expr(pqSubsExpr("embedding"))).as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.sv").as("sv"))
      .join(broadcast(models), col("m") === col("mm"))
      .select(col("vec_id"), col("m"), col("cell"),
        (col("cn") - lit(2.0) * expr(foldDot("sv", "ce"))).as("score"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("score"), col("cell"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.cell").as("code"))
    // the query's M×K ADC table
    val dt = q.select(explode(expr(pqSubsExpr("qe"))).as("p"))
      .select(col("p.m").as("dm"), col("p.sv").as("qsv"))
      .join(broadcast(models), col("dm") === col("mm"))
      .select(col("dm"), col("cell").as("dcell"),
        (col("cn") - lit(2.0) * expr(foldDot("qsv", "ce"))).as("dscore"))
    val shortlist = codes
      .join(broadcast(dt), col("m") === col("dm") && col("code") === col("dcell"))
      .groupBy(col("vec_id"))
      .agg(sum(round(col("dscore"), 9).cast("decimal(28,9)")).as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(RerankPool)
      .select(col("vec_id"))
    cands.join(broadcast(shortlist), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("cell"),
        expr(cosExpr("embedding", "qe", "nrm", "qnrm")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(K)
      .select(col("vec_id"), col("label"), col("cell"),
        round(col("cos"), 6).as("cosine"))
  }

  private lazy val sIvfpqRerankSql = {
    val subCtes = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      s"rsub$m AS (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM embeddings)"
    }.mkString(",\n")
    val trainCtes = (0 until PqM)
      .map(m => duckKmeansCtesFor(PqK, 1, s"rsub$m", s"r$m"))
      .mkString(",\n")
    val modelSelects = (0 until PqM)
      .map(m => s"SELECT $m AS m, cell, ce, ${duckFoldDot("ce", "ce")} AS cn FROM r${m}cent1")
      .mkString("\nUNION ALL\n")
    val candSubSelects = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      s"SELECT vec_id, $m AS m, embedding[$lo:$hi] AS sv FROM cands"
    }.mkString("\nUNION ALL\n")
    val qSubSelects = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      s"SELECT $m AS m, qe[$lo:$hi] AS qsv FROM q"
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT vec_id, label, embedding, $duckNormExpr AS nrm FROM embeddings),
       |seeds AS (SELECT vec_id AS cell, embedding AS se,
       |                 ${duckFoldDot("embedding", "embedding")} AS sn
       |          FROM embeddings WHERE vec_id < $IvfCells),
       |scoredi AS (SELECT v.vec_id, v.label, v.embedding, v.nrm, s.cell,
       |                   s.sn - 2 * ${duckFoldDot("v.embedding", "s.se")} AS score
       |            FROM v CROSS JOIN seeds s),
       |assigned AS (SELECT vec_id, label, embedding, nrm, cell
       |             FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                     ORDER BY score, cell) AS rn FROM scoredi)
       |             WHERE rn = 1),
       |cent AS (SELECT cell, list(mn ORDER BY dim)::FLOAT[] AS ce
       |         FROM (SELECT cell, dim, avg(cv) AS mn
       |               FROM (SELECT cell,
       |                       unnest(range(1, len(embedding) + 1)) AS dim,
       |                       unnest(embedding) AS cv
       |                     FROM assigned)
       |               GROUP BY cell, dim)
       |         GROUP BY cell),
       |q AS (SELECT embedding qe, nrm qnrm FROM v WHERE vec_id = $QueryVec),
       |probe AS (SELECT cell FROM cent CROSS JOIN q
       |          ORDER BY ${duckFoldDot("ce", "ce")} - 2 * ${duckFoldDot("qe", "ce")}, cell
       |          LIMIT $NProbe),
       |cands AS MATERIALIZED (
       |  SELECT a.vec_id, a.label, a.embedding, a.nrm, a.cell
       |  FROM assigned a JOIN probe USING (cell)
       |  WHERE a.vec_id <> $QueryVec),
       |$subCtes,
       |$trainCtes,
       |rmodel AS MATERIALIZED ($modelSelects),
       |csub AS ($candSubSelects),
       |cscored AS (SELECT c.vec_id, c.m, s.cell,
       |                   s.cn - 2 * ${duckFoldDot("c.sv", "s.ce")} AS score
       |            FROM csub c JOIN rmodel s ON c.m = s.m),
       |ccodes AS (SELECT vec_id, m, cell AS code FROM (
       |             SELECT vec_id, m, cell,
       |                    row_number() OVER (PARTITION BY vec_id, m
       |                                       ORDER BY score, cell) AS rn
       |             FROM cscored) rankedcc
       |           WHERE rn = 1),
       |qsub AS ($qSubSelects),
       |dt AS (SELECT qs.m AS dm, s.cell AS dcell,
       |              s.cn - 2 * ${duckFoldDot("qs.qsv", "s.ce")} AS dscore
       |       FROM qsub qs JOIN rmodel s ON qs.m = s.m),
       |short AS (SELECT c.vec_id,
       |                 sum(round(dt.dscore, 9)::DECIMAL(28,9)) AS adc
       |          FROM ccodes c JOIN dt ON c.m = dt.dm AND c.code = dt.dcell
       |          GROUP BY c.vec_id
       |          ORDER BY adc, c.vec_id LIMIT $RerankPool)
       |SELECT c.vec_id, c.label, c.cell,
       |       round(${duckCosExpr("c.embedding", "qe", "c.nrm", "qnrm")}, 6) AS cosine
       |FROM cands c JOIN short USING (vec_id) CROSS JOIN q
       |ORDER BY ${duckCosExpr("c.embedding", "qe", "c.nrm", "qnrm")} DESC, c.vec_id
       |LIMIT $K""".stripMargin
  }

  // ----------------------------------------------------------------
  // Persisted IVF-PQ index: codebooks trained offline, codes stored
  // ----------------------------------------------------------------

  private val IvfPqIndexVersion = 1

  /** Cell-partitioned IVF-PQ index — the FAISS serving layout
    * [[sIvfpqRerank]]'s scaladoc promises, now persisted (same
    * versioned/atomic [[cachedIndex]] machinery as [[ivfIndex]]):
    *
    *  - `/data`      full vectors `(vec_id, label, embedding, nrm)`,
    *                 partitioned by coarse `cell` — the re-rank side,
    *                 read ONLY for the shortlist;
    *  - `/codes`     per-vector PQ codes `(vec_id, codes array<int>)`,
    *                 partitioned by `cell` — the ADC side: M small ints
    *                 per vector (64× smaller than the embeddings here),
    *                 the ONLY corpus-width frame the probe scans;
    *  - `/centroids` the coarse quantizer `(cell, ce)`;
    *  - `/codebooks` the per-subspace PQ codebooks `(mm, cell, ce, cn)`.
    *
    * Build runs the shared [[ivfAssignment]] + [[pqOneIterCodebooks]]
    * and encodes EVERY vector once (per-row argmin against the M·K-row
    * broadcast codebook union) — the corpus-scale training/encode cost
    * [[sIvfpqRerank]] pays per query is paid once here. */
  private[graft] def ivfpqIndex(s: SparkSession, dir: String): String =
    cachedIndex(s, dir, "ivfpq", IvfPqIndexVersion) { path =>
      val (assigned, cent) = ivfAssignment(s, dir)
      // codes derive FROM the assignment (coarse cell routes the code
      // rows into the same partitions as the vectors) — persist it so
      // the Lloyd pass runs once across the data + codes writes
      val a = assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val books = pqOneIterCodebooks(s, dir)
        val codes = a
          .select(col("vec_id"), col("cell"),
            explode(expr(pqSubsExpr("embedding"))).as("p"))
          .select(col("vec_id"), col("cell"), col("p.m").as("m"), col("p.sv").as("sv"))
          .join(broadcast(books.withColumnRenamed("cell", "bcell")),
            col("m") === col("mm"))
          .withColumn("score", col("cn") - lit(2.0) * expr(foldDot("sv", "ce")))
          .groupBy(col("vec_id"), col("m"))
          .agg(first(col("cell")).as("cell"),
            min(struct(col("score"), col("bcell"))).as("best"))
          .select(col("vec_id"), col("cell"), col("m"), col("best.bcell").as("code"))
          .groupBy(col("vec_id"))
          .agg(first(col("cell")).as("cell"),
            expr("transform(array_sort(collect_list(struct(m, code))), x -> x.code)")
              .as("codes"))
        a.write.partitionBy("cell").parquet(s"$path/data")
        codes.write.partitionBy("cell").parquet(s"$path/codes")
        cent.write.parquet(s"$path/centroids")
        books.write.parquet(s"$path/codebooks")
      } finally a.unpersist()
      java.nio.file.Files.createFile(java.nio.file.Paths.get(path, "_SUCCESS"))
      ()
    }

  /** IVF-PQ probe against the PERSISTED [[ivfpqIndex]] — the serving
    * path: nearest `NProbe` cells from the stored centroids (the
    * collect is quantizer-sized), the query's M×K ADC table from the
    * stored codebooks, then the ADC stage scans ONLY the stored codes
    * of the probed cells (PartitionFilters prune the scan; raw
    * embeddings are never read at this stage), and the `RerankPool`
    * shortlist alone pays a full-dimension exact cosine from `/data`
    * (same cell-pruned scan + broadcast semi-join). Results are
    * pinned identical to [[sIvfpqRerank]] (SimilaritySpec) — same
    * quantizers, same decimal-summed ADC, same re-rank — the only
    * difference is WHERE the training/encode cost is paid. */
  private def sIvfpqIndexed: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val root = ivfpqIndex(s, dir)
    val q = withNorm(Tables.embeddings(s, dir)).filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("qe"), col("nrm").as("qnrm"))
    val probeCells = s.read.parquet(s"$root/centroids")
      .crossJoin(broadcast(q))
      .withColumn("pscore", expr(s"${foldDot("ce", "ce")} - 2 * ${foldDot("qe", "ce")}"))
      .orderBy(col("pscore").asc, col("cell").asc)
      .limit(NProbe)
      .select(col("cell")).collect().map(_.getLong(0))
    if (probeCells.isEmpty) {
      // no query vector in this corpus → empty top-K, query's schema
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), lit(0L).as("cell"), lit(0.0).as("cosine"))
        .limit(0)
    } else {
      val books = s.read.parquet(s"$root/codebooks")
      val dt = q.select(explode(expr(pqSubsExpr("qe"))).as("p"))
        .select(col("p.m").as("dm"), col("p.sv").as("qsv"))
        .join(broadcast(books), col("dm") === col("mm"))
        .select(col("dm"), col("cell").as("dcell"),
          (col("cn") - lit(2.0) * expr(foldDot("qsv", "ce"))).as("dscore"))
      val shortlist = s.read.parquet(s"$root/codes")
        .filter(col("cell").isin(probeCells.map(Long.box): _*))
        .filter(col("vec_id") =!= QueryVec)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
        .join(broadcast(dt), col("m") === col("dm") && col("code") === col("dcell"))
        .groupBy(col("vec_id"))
        .agg(sum(round(col("dscore"), 9).cast("decimal(28,9)")).as("adc"))
        .orderBy(col("adc").asc, col("vec_id").asc)
        .limit(RerankPool)
        .select(col("vec_id"))
      s.read.parquet(s"$root/data")
        .filter(col("cell").isin(probeCells.map(Long.box): _*))
        .join(broadcast(shortlist), "vec_id")
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"), col("cell").cast("long").as("cell"),
          expr(cosExpr("embedding", "qe", "nrm", "qnrm")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
        .limit(K)
        .select(col("vec_id"), col("label"), col("cell"),
          round(col("cos"), 6).as("cosine"))
    }
  }

  /** BATCH IVF-PQ serving — a whole `(query_id, embedding)` frame
    * probes the persisted [[ivfpqIndex]] in ONE join, the production
    * vector-serving shape ([[sAnnLshBatch]] / `t_bm25_batch` applied
    * to the IVF-PQ family; closes the r10 verdict's "IVF probes are
    * single-query with driver-side cell selection"). Per query the
    * `nprobe` probe cells are computed AS A COLUMN — a qid window over
    * the broadcast centroid table (the [[kmeansFit]] E-step shape,
    * generalizing argmin to arg-top-n) — so NO driver collect selects
    * cells. The codes scan then joins its PARTITION column `cell`
    * against the broadcast (qid, cell) probe frame: partition pruning
    * comes from the JOIN as a dynamic-partition-pruning subquery
    * (PlanSpec-asserted), and one scan of the union of all queries'
    * probe cells serves every query. Each query's M×K ADC table is a
    * column-wise join of its subvectors with the broadcast codebooks;
    * ADC partials ride the decimal(28,9) order-free discipline; the
    * `rerankPool` shortlist per qid (window, candidate sets are
    * cell-bounded) alone pays a full-dimension exact cosine against
    * `/data` — cell-pruned the same DPP way via the shortlist's
    * carried cell. Per-query results equal the single-query probe
    * bit for bit (spec-pinned: a 1-row batch == `s_ivfpq_indexed`).
    *
    * Scale: probe rows = nprobe × |batch| and shortlist rows =
    * rerankPool × |batch| (both broadcastable for any sane serving
    * batch); the scanned index fraction is ≤ |∪ probe cells| / cells
    * of the codes (M ints/vector) regardless of corpus size, and raw
    * embeddings are read only for shortlisted rows. */
  private[graft] def ivfpqBatchTopk(s: SparkSession, dir: String,
      queries0: DataFrame, k: Int = K, nprobe: Int = NProbe,
      rerankPool: Int = RerankPool): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val root = ivfpqIndex(s, dir)
    val queries = queries0
      .select(col("query_id").cast("long").as("qid"), col("embedding").as("qe"))
      .withColumn("qnrm", expr(s"sqrt(${foldDot("qe", "qe")})"))
    // per-qid probe cells as a column; cell cast INT to match the
    // index's inferred partition type (a bigint probe side would push
    // the cast onto the scan and defeat DPP — the sAnnLshBatch note)
    val wp = Window.partitionBy(col("qid")).orderBy(col("pscore").asc, col("cell").asc)
    val probes = queries.crossJoin(broadcast(s.read.parquet(s"$root/centroids")))
      .withColumn("pscore", expr(s"${foldDot("ce", "ce")} - 2 * ${foldDot("qe", "ce")}"))
      .withColumn("prn", row_number().over(wp))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("cell").cast("int").as("cell"))
    // per-qid M×K ADC tables (nq·M·K rows, broadcast)
    val books = s.read.parquet(s"$root/codebooks")
    val dt = queries
      .select(col("qid").as("dqid"), explode(expr(pqSubsExpr("qe"))).as("p"))
      .select(col("dqid"), col("p.m").as("dm"), col("p.sv").as("qsv"))
      .join(broadcast(books), col("dm") === col("mm"))
      .select(col("dqid"), col("dm"), col("cell").as("dcell"),
        (col("cn") - lit(2.0) * expr(foldDot("qsv", "ce"))).as("dscore"))
    val wa = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("vec_id").asc)
    val shortlist = s.read.parquet(s"$root/codes")
      .join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("cell"), col("vec_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(dt),
        col("qid") === col("dqid") && col("m") === col("dm") && col("code") === col("dcell"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(first(col("cell")).as("cell"),
        sum(round(col("dscore"), 9).cast("decimal(28,9)")).as("adc"))
      .withColumn("arn", row_number().over(wa))
      .filter(col("arn") <= rerankPool)
      .select(col("qid"), col("cell"), col("vec_id"))
    val wk = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
    s.read.parquet(s"$root/data")
      .join(broadcast(shortlist), Seq("cell", "vec_id"))
      .join(broadcast(queries.select(col("qid").as("jqid"), col("qe"), col("qnrm"))),
        col("qid") === col("jqid"))
      .select(col("qid"), col("vec_id"), col("label"), col("cell").cast("long").as("cell"),
        expr(cosExpr("embedding", "qe", "nrm", "qnrm")).as("cos"))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("label"), col("cell"), round(col("cos"), 6).as("cosine"))
  }

  /** The registered batch workload: every `BatchMod`-th vector queries
    * the index (the [[sAnnLshBatch]] panel applied to IVF-PQ). */
  private def sIvfpqBatch: Q = (s, dir) =>
    ivfpqBatchTopk(s, dir,
      Tables.embeddings(s, dir)
        .filter(col("vec_id") % BatchMod === 0 && col("vec_id") < PanelCap)
        .select(col("vec_id").as("query_id"), col("embedding")))

  private lazy val sIvfpqBatchSql = {
    val subCtes = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      s"rsub$m AS (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM embeddings)"
    }.mkString(",\n")
    val trainCtes = (0 until PqM)
      .map(m => duckKmeansCtesFor(PqK, 1, s"rsub$m", s"r$m"))
      .mkString(",\n")
    val modelSelects = (0 until PqM)
      .map(m => s"SELECT $m AS m, cell, ce, ${duckFoldDot("ce", "ce")} AS cn FROM r${m}cent1")
      .mkString("\nUNION ALL\n")
    val candSubSelects = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      s"SELECT vec_id, $m AS m, embedding[$lo:$hi] AS sv FROM cvec"
    }.mkString("\nUNION ALL\n")
    val qSubSelects = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      s"SELECT qid, $m AS m, qe[$lo:$hi] AS qsv FROM qset"
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT vec_id, label, embedding, $duckNormExpr AS nrm FROM embeddings),
       |seeds AS (SELECT vec_id AS cell, embedding AS se,
       |                 ${duckFoldDot("embedding", "embedding")} AS sn
       |          FROM embeddings WHERE vec_id < $IvfCells),
       |scoredi AS (SELECT v.vec_id, v.label, v.embedding, v.nrm, s.cell,
       |                   s.sn - 2 * ${duckFoldDot("v.embedding", "s.se")} AS score
       |            FROM v CROSS JOIN seeds s),
       |assigned AS MATERIALIZED (SELECT vec_id, label, embedding, nrm, cell
       |             FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                     ORDER BY score, cell) AS rn FROM scoredi)
       |             WHERE rn = 1),
       |cent AS (SELECT cell, list(mn ORDER BY dim)::FLOAT[] AS ce
       |         FROM (SELECT cell, dim, avg(cv) AS mn
       |               FROM (SELECT cell,
       |                       unnest(range(1, len(embedding) + 1)) AS dim,
       |                       unnest(embedding) AS cv
       |                     FROM assigned)
       |               GROUP BY cell, dim)
       |         GROUP BY cell),
       |qset AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm
       |         FROM v WHERE vec_id % $BatchMod = 0 AND vec_id < $PanelCap),
       |qprobe AS (SELECT qid, cell FROM (
       |             SELECT q.qid, c.cell,
       |                    row_number() OVER (PARTITION BY q.qid
       |                      ORDER BY ${duckFoldDot("c.ce", "c.ce")}
       |                        - 2 * ${duckFoldDot("q.qe", "c.ce")}, c.cell) AS rn
       |             FROM qset q CROSS JOIN cent c) WHERE rn <= $NProbe),
       |cands AS MATERIALIZED (
       |  SELECT p.qid, a.vec_id, a.label, a.embedding, a.nrm, a.cell
       |  FROM assigned a JOIN qprobe p USING (cell)
       |  WHERE a.vec_id <> p.qid),
       |cvec AS MATERIALIZED (SELECT DISTINCT vec_id, embedding FROM cands),
       |$subCtes,
       |$trainCtes,
       |rmodel AS MATERIALIZED ($modelSelects),
       |csub AS ($candSubSelects),
       |cscored AS (SELECT c.vec_id, c.m, s.cell,
       |                   s.cn - 2 * ${duckFoldDot("c.sv", "s.ce")} AS score
       |            FROM csub c JOIN rmodel s ON c.m = s.m),
       |ccodes AS MATERIALIZED (SELECT vec_id, m, cell AS code FROM (
       |             SELECT vec_id, m, cell,
       |                    row_number() OVER (PARTITION BY vec_id, m
       |                                       ORDER BY score, cell) AS rn
       |             FROM cscored) rankedcc
       |           WHERE rn = 1),
       |qsub AS ($qSubSelects),
       |dt AS (SELECT qs.qid, qs.m AS dm, s.cell AS dcell,
       |              s.cn - 2 * ${duckFoldDot("qs.qsv", "s.ce")} AS dscore
       |       FROM qsub qs JOIN rmodel s ON qs.m = s.m),
       |short AS (SELECT c.qid, c.vec_id,
       |                 sum(round(dt.dscore, 9)::DECIMAL(28,9)) AS adc
       |          FROM (SELECT DISTINCT qid, vec_id FROM cands) c
       |          JOIN ccodes cc ON cc.vec_id = c.vec_id
       |          JOIN dt ON dt.qid = c.qid AND cc.m = dt.dm AND cc.code = dt.dcell
       |          GROUP BY c.qid, c.vec_id),
       |shortk AS (SELECT qid, vec_id FROM (
       |             SELECT *, row_number() OVER (PARTITION BY qid
       |               ORDER BY adc, vec_id) AS rn FROM short) WHERE rn <= $RerankPool)
       |SELECT qid AS query_id, rank, vec_id, label, cell, cosine FROM (
       |  SELECT c.qid, c.vec_id, c.label, c.cell,
       |         round(${duckCosExpr("c.embedding", "q.qe", "c.nrm", "q.qnrm")}, 6) AS cosine,
       |         row_number() OVER (PARTITION BY c.qid
       |           ORDER BY ${duckCosExpr("c.embedding", "q.qe", "c.nrm", "q.qnrm")} DESC,
       |                    c.vec_id) AS rank
       |  FROM cands c JOIN shortk USING (qid, vec_id) JOIN qset q ON q.qid = c.qid)
       |WHERE rank <= $K""".stripMargin
  }

  // ----------------------------------------------------------------
  // Hybrid retrieval: reciprocal-rank fusion of BM25 + embeddings
  // ----------------------------------------------------------------

  private val RrfK = 60      // the standard RRF damping constant
  private val RrfPool = 50   // per-modality candidate pool
  private val RrfTopK = 20

  /** `s_hybrid_rrf` — the production hybrid-search fusion (Cormack et
    * al. reciprocal rank fusion, what Elasticsearch/Vespa/OpenSearch
    * run to merge lexical and vector retrieval): rank a candidate pool
    * per modality — BM25 over the fixed query terms (exact
    * nano-integer totals, order-free) and cosine to the query
    * embedding — then score every pooled doc
    * `Σ 1/(RrfK + rank_modality)` and keep the fused top-20. Ranks
    * come from TakeOrderedAndProject pools (the global sort never
    * exceeds `RrfPool` rows — at corpus scale each modality's pool IS
    * its serving top-k, e.g. [[TextIndex.bm25TopkIndexed]] and an
    * [[AnnIndex.probe]]), and the fused score is two IEEE divisions
    * and one fixed-order sum — engine-identical, so ordering agrees
    * with the oracle exactly. */
  private def sHybridRrf: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val one = Window.partitionBy(lit(0))
    val bmTop = TextAnalysis
      .bm25ScoredOf(Tables.documents(s, dir), TextAnalysis.Bm25Terms, exactInt = true)
      .groupBy(col("doc_id"))
      .agg(sum(floor(col("sc") * lit(1e9) + lit(0.5)).cast("long")).as("nanos"))
      .orderBy(col("nanos").desc, col("doc_id").asc)
      .limit(RrfPool)
    val bmRank = bmTop
      .withColumn("r_text", row_number()
        .over(one.orderBy(col("nanos").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("r_text"))
    val v = withNorm(Tables.embeddings(s, dir))
    val q = v.filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("qe"), col("nrm").as("qnrm"))
    val vecTop = v.filter(col("vec_id") =!= QueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        expr(cosExpr("embedding", "qe", "nrm", "qnrm")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc)
      .limit(RrfPool)
    val vecRank = vecTop
      .withColumn("r_vec", row_number()
        .over(one.orderBy(col("cos").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("r_vec"))
    bmRank.join(vecRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_text"), col("r_vec"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("r_text")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_vec")), lit(0.0))).as("raw"))
      .orderBy(col("raw").desc, col("doc_id").asc)
      .limit(RrfTopK)
      .select(col("doc_id"), col("r_text"), col("r_vec"),
        expr(TextAnalysis.r6("raw")).as("rrf"))
  }

  private val sHybridRrfSql = {
    val toks = TextAnalysis.duckTokens("coalesce(text, '')")
    val terms = TextAnalysis.Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (SELECT doc_id, CAST(len(list_filter($toks, t -> t <> '')) AS BIGINT) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS s_dl FROM dl),
       |tf AS (SELECT doc_id, token, count(*) AS tf
       |       FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
       |       WHERE token IN ($terms) GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       |nn AS (SELECT doc_id,
       |         sum(CAST(floor((${TextAnalysis.bm25Sc("tf", "df", "dl", "n_docs", "s_dl")}) * 1e9 + 0.5) AS BIGINT)) AS nanos
       |       FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
       |       GROUP BY doc_id),
       |bt AS (SELECT doc_id, nanos FROM nn ORDER BY nanos DESC, doc_id LIMIT $RrfPool),
       |br AS (SELECT doc_id, row_number() OVER (ORDER BY nanos DESC, doc_id) AS r_text FROM bt),
       |v AS (SELECT vec_id, embedding, $duckNormExpr AS nrm FROM embeddings),
       |q AS (SELECT embedding qe, nrm qnrm FROM v WHERE vec_id = $QueryVec),
       |sc AS (SELECT vec_id AS doc_id, ${duckCosExpr("embedding", "qe", "nrm", "qnrm")} AS cos
       |       FROM v CROSS JOIN q WHERE vec_id <> $QueryVec),
       |vt AS (SELECT doc_id, cos FROM sc ORDER BY cos DESC, doc_id LIMIT $RrfPool),
       |vr AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r_vec FROM vt),
       |f AS (SELECT coalesce(br.doc_id, vr.doc_id) AS doc_id, r_text, r_vec,
       |        coalesce(1.0 / ($RrfK + r_text), 0) + coalesce(1.0 / ($RrfK + r_vec), 0) AS raw
       |      FROM br FULL OUTER JOIN vr ON br.doc_id = vr.doc_id)
       |SELECT doc_id, r_text, r_vec, floor(raw * 1e6 + 0.5) / 1e6 AS rrf
       |FROM f ORDER BY raw DESC, doc_id LIMIT $RrfTopK""".stripMargin
  }

  // ----------------------------------------------------------------
  // LSM-index drift accounting (the "when to compact" signal)
  // ----------------------------------------------------------------

  /** Drift fixture: ids < this are re-sent with +0.25-perturbed
    * embeddings over the founding build, so superseded mass and a
    * measurable centroid displacement exist by construction. */
  private val DriftResend = 100L

  /** `s_ann_drift`: [[AnnIndex.driftStats]] over a build + perturbed
    * re-send LSM index (fingerprint-memoized under the tmpdir like
    * every persisted-index query). Emits per cell the live vs
    * running-stats mass and whether the running centroid has drifted
    * from the live mean — the accounting an operator reads to decide
    * when to [[AnnIndex.compact]].
    *
    * The oracle recomputes the event semantics RELATIONALLY:
    * assignment of both event generations against the frozen seeds,
    * latest-event-wins liveness, running mean = all-events mean vs
    * live mean. Counts are exact integers; the drift flag thresholds
    * at 1e-6, decisive because true drift here is O(10⁻²) (a 0.25
    * perturbation across ≤100 of a cell's rows) while cross-engine
    * float-sum noise is O(10⁻¹⁵). */
  private def sAnnDrift: Q = (s, dir) => {
    val root = cachedIndex(s, dir, "annlsm", IndexFormatVersion) { path =>
      AnnIndex.build(Tables.embeddings(s, dir), path, cells = IvfCells)
      AnnIndex.upsert(
        Tables.embeddings(s, dir).filter(col("vec_id") < DriftResend)
          .withColumn("embedding",
            expr("transform(embedding, x -> cast(x + 0.25 as float))")),
        path)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(path, "_SUCCESS"))
      ()
    }
    AnnIndex.driftStats(s, root)
      .select(col("cell"), col("n_live"), col("n_stats"), col("n_superseded"),
        (col("centroid_shift") > 1e-6).as("drifted"))
  }

  private val sAnnDriftSql =
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
       |seeds AS (SELECT vec_id AS cell, embedding AS se,
       |                 ${duckFoldDot("embedding", "embedding")} AS sn
       |          FROM embeddings WHERE vec_id < $IvfCells),
       |ev AS (SELECT vec_id, embedding, 0 AS gen FROM v
       |       UNION ALL
       |       SELECT vec_id,
       |              list_transform(embedding, x -> CAST(x + 0.25 AS FLOAT)), 1
       |       FROM v WHERE vec_id < $DriftResend),
       |assigned AS (SELECT vec_id, embedding, gen, cell
       |             FROM (SELECT e.vec_id, e.embedding, e.gen, s.cell,
       |                     row_number() OVER (PARTITION BY e.vec_id, e.gen
       |                       ORDER BY s.sn - 2 * ${duckFoldDot("e.embedding", "s.se")}, s.cell) AS rn
       |                   FROM ev e CROSS JOIN seeds s)
       |             WHERE rn = 1),
       |live AS (SELECT vec_id, embedding, cell
       |         FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                 ORDER BY gen DESC) AS rn FROM assigned)
       |         WHERE rn = 1),
       |nstats AS (SELECT cell, count(*) AS n_stats FROM assigned GROUP BY cell),
       |nlive AS (SELECT cell, count(*) AS n_live FROM live GROUP BY cell),
       |rmean AS (SELECT cell, dim, sum(cv) / count(*) AS rm
       |          FROM (SELECT cell, unnest(range(1, len(embedding) + 1)) AS dim,
       |                  unnest(embedding) AS cv FROM assigned)
       |          GROUP BY cell, dim),
       |lmean AS (SELECT cell, dim, sum(cv) / count(*) AS lm
       |          FROM (SELECT cell, unnest(range(1, len(embedding) + 1)) AS dim,
       |                  unnest(embedding) AS cv FROM live)
       |          GROUP BY cell, dim),
       |shift AS (SELECT r.cell, sqrt(sum((rm - lm) * (rm - lm))) AS sh
       |          FROM rmean r JOIN lmean l ON r.cell = l.cell AND r.dim = l.dim
       |          GROUP BY r.cell)
       |SELECT n.cell, coalesce(l.n_live, 0) AS n_live, n.n_stats,
       |       n.n_stats - coalesce(l.n_live, 0) AS n_superseded,
       |       coalesce(s.sh, 0) > 1e-6 AS drifted
       |FROM nstats n LEFT JOIN nlive l ON n.cell = l.cell
       |LEFT JOIN shift s ON n.cell = s.cell
       |ORDER BY n.cell""".stripMargin

  // ----------------------------------------------------------------
  // Blocked kNN: top-3 neighbours per vector within its label cell
  // ----------------------------------------------------------------

  /** Candidate-side cell cap for [[sBlockedKnn]]: each probe vector
    * scores against at most this many same-label candidates (the
    * earliest by vec_id — the same deterministic earliest-K rule as
    * `Dedup.MaxBucketOccupancy`), so per-cell work is O(n_cell · cap ·
    * dim), never n_cell². A hot label at corpus scale degrades to
    * top-k-of-a-fixed-candidate-panel instead of a cartesian bomb.
    * Unlike the LSH bucket cap, the ORACLE applies the same rule, so
    * driver parity holds at any cell size, capped or not. */
  private[graft] val MaxKnnCellCandidates = 256

  /** All-vectors kNN, blocked by label (IVF-style coarse cell): for
    * each vector its top-3 neighbours by cosine among its cell's
    * candidate panel (the whole cell while n_cell ≤
    * [[MaxKnnCellCandidates]] — exact; the earliest-by-id cap above
    * that). The pair set is never MATERIALIZED through a shuffle:
    * pairs are scored inside the co-partitioned label join and
    * immediately collapsed map-side by the k-bounded `graft_topk`
    * aggregate ([[TopKByScore]], same (score desc, id asc) order as
    * the former window), so the only post-join shuffle carries O(n·k)
    * buffer rows. The two hazards of the original formulation are
    * both paid off: the window that shuffled AND sorted all Σ n_cell²
    * pairs (r5), and the unbounded candidate side that kept the
    * COMPUTE quadratic per cell even after the aggregate fixed the
    * shuffle (r6 → 16.8× time at 10× volume; capped: the sweep's
    * ratio is the linear-in-n one). */
  private[graft] def blockedKnnOf(v0: DataFrame, cap: Int = MaxKnnCellCandidates): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(v0.sparkSession)
    val v = withNorm(v0)
    val wCell = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val cand = v.withColumn("crn", row_number().over(wCell))
      .filter(col("crn") <= cap).drop("crn")
    v.as("x").join(cand.as("y"),
        col("x.label") === col("y.label") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("x.label").as("label"),
        col("y.vec_id").as("b_id"),
        expr(cosExpr("x.embedding", "y.embedding", "x.nrm", "y.nrm")).as("cos"))
      .groupBy(col("a_id"), col("label"))
      .agg(expr("graft_topk(cos, b_id, 3)").as("top"))
      .select(col("a_id"), col("label"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("a_id"), (col("pos") + 1).cast("long").as("rank"),
        col("hit.id").as("b_id"), col("label"), round(col("hit.score"), 6).as("cosine"))
  }

  private def sBlockedKnn: Q = (s, dir) =>
    blockedKnnOf(Tables.embeddings(s, dir))

  private val sBlockedKnnSql =
    s"""WITH v AS (SELECT vec_id, label, embedding, $duckNormExpr AS nrm FROM embeddings),
       |cand AS (SELECT * FROM (
       |           SELECT *, row_number() OVER (PARTITION BY label ORDER BY vec_id) AS crn
       |           FROM v)
       |         WHERE crn <= $MaxKnnCellCandidates),
       |p AS (SELECT x.vec_id a_id, y.vec_id b_id, x.label AS label,
       |             ${duckCosExpr("x.embedding", "y.embedding", "x.nrm", "y.nrm")} AS cos
       |           FROM v x JOIN cand y
       |             ON x.label = y.label AND x.vec_id <> y.vec_id)
       |SELECT a_id, rank, b_id, label, round(cos, 6) AS cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rank
       |      FROM p)
       |WHERE rank <= 3""".stripMargin

  // ----------------------------------------------------------------
  // Per-group exact top-k via the custom TypedImperativeAggregate
  // ----------------------------------------------------------------

  /** Per-label top-3 matches to the query vector through `graft_topk`
    * (TopKByScore, a TypedImperativeAggregate): each partition keeps a
    * k-bounded buffer per label, the shuffle carries O(labels·k) rows
    * however many vectors exist — the composable form of
    * TakeOrderedAndProject. Scores are pre-rounded to 6dp so the
    * oracle's rank ties resolve identically. */
  private def sTopkAgg: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    val v = withNorm(Tables.embeddings(s, dir))
    val q = v.filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("qe"), col("nrm").as("qnrm"))
    v.filter(col("vec_id") =!= QueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(expr(cosExpr("embedding", "qe", "nrm", "qnrm")), 6).as("cos"))
      .groupBy(col("label"))
      .agg(expr("graft_topk(cos, vec_id, 3)").as("top"))
      .select(col("label"), explode(col("top")).as("hit"))
      .select(col("label"), col("hit.id").as("vec_id"), col("hit.score").as("cosine"))
  }

  private val sTopkAggSql =
    s"""WITH v AS (SELECT vec_id, label, embedding, $duckNormExpr AS nrm FROM embeddings),
       |q AS (SELECT embedding qe, nrm qnrm FROM v WHERE vec_id = $QueryVec),
       |scored AS (SELECT vec_id, label,
       |             round(${duckCosExpr("embedding", "qe", "nrm", "qnrm")}, 6) AS cos
       |           FROM v CROSS JOIN q WHERE vec_id <> $QueryVec)
       |SELECT label, vec_id, cos AS cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY label
       |        ORDER BY cos DESC, vec_id) AS rn FROM scored)
       |WHERE rn <= 3""".stripMargin

  // ----------------------------------------------------------------
  // Hard-negative mining (contrastive training pairs)
  // ----------------------------------------------------------------

  /** Anchors [[sHardNegatives]] mines for (the NAnchors lowest
    * vec_ids) and negatives kept per anchor. */
  private val NAnchors = 5
  private val NegK = 5

  /** Hard-negative mining for contrastive/embedding training: for each
    * anchor, the top-K most-similar vectors with a DIFFERENT label —
    * the "hard" negatives that teach a metric model the most (easy
    * negatives are already far away; in-batch random negatives are
    * mostly easy). Output: (anchor_id, anchor_label, rank, neg_id,
    * neg_label, cosine).
    *
    * Scale shape: anchors are a broadcast panel (query batches are
    * thousands of rows, never corpus-scale); ONE corpus scan scores
    * n·|anchors| pairs map-side and the k-bounded `graft_topk`
    * aggregate collapses them before the shuffle, which carries
    * O(|anchors|·k) buffer rows — the [[sBlockedKnn]] discipline. In
    * production the label filter generalizes to any metadata predicate
    * (e.g. same-source exclusion windows). */
  private[graft] def hardNegativesOf(v0: DataFrame, anchors: DataFrame,
      k: Int = NegK): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(v0.sparkSession)
    val v = withNorm(v0)
    val a = withNorm(anchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("embedding").as("ae"), col("nrm").as("anrm"))
    val top = v.crossJoin(broadcast(a))
      .filter(col("label") =!= col("anchor_label"))
      .select(col("anchor_id"), col("anchor_label"), col("vec_id"), col("label"),
        expr(cosExpr("embedding", "ae", "nrm", "anrm")).as("cos"))
      .groupBy(col("anchor_id"), col("anchor_label"))
      .agg(expr(s"graft_topk(cos, vec_id, $k)").as("top"))
      .select(col("anchor_id"), col("anchor_label"),
        posexplode(col("top")).as(Seq("pos", "hit")))
    // recover the negative's label with a second corpus pass against
    // the broadcast |anchors|·k winner panel (labels never ride the
    // k-bounded buffers, so the aggregate stays (score, id)-narrow)
    v0.select(col("vec_id").as("neg_id"), col("label").as("neg_label"))
      .join(broadcast(top), col("hit.id") === col("neg_id"))
      .select(col("anchor_id"), col("anchor_label"),
        (col("pos") + 1).cast("long").as("rank"),
        col("neg_id"), col("neg_label"), round(col("hit.score"), 6).as("cosine"))
  }

  private def sHardNegatives: Q = (s, dir) => {
    val v = Tables.embeddings(s, dir)
    hardNegativesOf(v, v.filter(col("vec_id") < NAnchors))
  }

  private val sHardNegativesSql =
    s"""WITH v AS (SELECT vec_id, label, embedding, $duckNormExpr AS nrm FROM embeddings),
       |a AS (SELECT vec_id AS anchor_id, label AS anchor_label,
       |             embedding AS ae, nrm AS anrm
       |      FROM v WHERE vec_id < $NAnchors),
       |p AS (SELECT a.anchor_id, a.anchor_label, v.vec_id AS neg_id,
       |             v.label AS neg_label,
       |             ${duckCosExpr("v.embedding", "a.ae", "v.nrm", "a.anrm")} AS cos
       |      FROM v CROSS JOIN a WHERE v.label <> a.anchor_label)
       |SELECT anchor_id, anchor_label, rank, neg_id, neg_label,
       |       round(cos, 6) AS cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
       |        ORDER BY cos DESC, neg_id) AS rank FROM p)
       |WHERE rank <= $NegK""".stripMargin

  // ----------------------------------------------------------------
  // Per-label centroids (the IVF training step / k-means assign pass)
  // ----------------------------------------------------------------

  /** Per-label centroid, one scalar row per (label, dim): explode each
    * vector to its (dim, value) pairs map-side, then ONE partial-agg'd
    * groupBy(label, dim) — the shape of an IVF coarse-quantizer build
    * (and of one k-means M-step) at 100 TB: the shuffle carries partial
    * (sum, count) pairs per (label, dim) cell, never vectors.
    *
    * No rounding needed for cross-engine equality: float32 inputs have
    * 24-bit mantissas and |v| < 16, so a double sum of ≤ 2^28 such
    * values is EXACT (24 + 28 < 53 bits) — summation order cannot
    * change the result, unlike dot products (which left-fold instead:
    * products carry 48-bit mantissas). */
  private def sCentroids: Q = (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
      .agg(avg(col("v")).as("centroid"), count(lit(1)).as("n_vectors"))

  private val sCentroidsSql =
    """SELECT label, dim, avg(v) AS centroid, count(*) AS n_vectors
      |FROM (SELECT label,
      |        unnest(range(1, len(embedding) + 1)) AS dim,
      |        unnest(embedding) AS v
      |      FROM embeddings)
      |GROUP BY label, dim""".stripMargin

  // ----------------------------------------------------------------
  // K-means training loop (multi-round Lloyd, the full quantizer build)
  // ----------------------------------------------------------------

  /** Rounds the harness binding runs (and the oracle unrolls). */
  private[graft] val KmeansRounds = 3
  private[graft] val KmeansK = 8

  /** Multi-round Lloyd k-means over an embedding column — the full
    * quantizer-training loop that [[ivfAssignment]]'s single
    * deterministic iteration seeds (sf an IVF/SemDeDup build trains
    * 10–50 rounds before a corpus-scale assign pass). Returns the
    * final model as one row per (cell, dim): `(cell, dim, centroid,
    * n_vectors)`.
    *
    * Determinism & cross-engine exactness (every round is
    * oracle-checkable, not just round 1):
    *  - seeds = the k lowest vec_ids (no RNG);
    *  - assignment = argmin ‖c‖² − 2·x·c via the shared left-fold dot,
    *    ties → lowest cell;
    *  - M-step = per-(cell, dim) avg — EXACT double sums of float32
    *    values (see [[sCentroids]]'s mantissa argument), so no
    *    intermediate rounding is needed;
    *  - the new centroid is cast double→float32 on BOTH engines
    *    (IEEE round-to-nearest both sides — the FAISS convention) so
    *    every later round folds float·float exactly like round 1;
    *  - a cell that captures no vectors drops out of the model (the
    *    deterministic variant of the usual re-seed heuristic).
    *
    * Scale shape: per round, ONE corpus scan — a broadcast join
    * against k centroid rows, a vec_id-keyed argmin whose shuffle
    * carries (score, cell) structs, and a (cell, dim)-keyed partial
    * agg whose shuffle carries scalar partials. The loop is eager
    * (each round's k×dim model persisted, the previous released) so
    * lineage stays one round deep — the [[graft.operators.TextAnalysis]]
    * BPE-loop discipline. */
  private[graft] def kmeansOf(v0: DataFrame, k: Int, rounds: Int): DataFrame = {
    val model = kmeansFit(v0, k, rounds)
    val out = model
      .select(col("cell"), posexplode(col("ce")).as(Seq("pos", "cf")), col("n_vectors"))
      .select(col("cell").cast("long").as("cell"),
        (col("pos") + 1).cast("long").as("dim"),
        round(col("cf").cast("double"), 6).as("centroid"), col("n_vectors"))
    out
  }

  /** One trained centroid, driver-local: `(cell, cn = ‖ce‖², ce)`. */
  private[operators] final case class Centroid(cell: Int, cn: Double, ce: Seq[Float])

  /** Shuffle-free nearest-cell assignment against a DRIVER-LOCAL model:
    * `least(struct(score, cell), …)` over the k centroids inlined as
    * literals — score = ‖c‖² − 2·x·c with the same `graft_dot`
    * left-fold, ties → lowest cell via the struct order, exactly
    * [[kmeansFit]]'s old broadcast-join + `min(struct)` E-step but as
    * ONE codegen projection: no broadcast exchange, no per-vector
    * shuffle of (score, cell) candidates (guide §2.4 — the r14 round's
    * biggest per-round saving; at corpus scale the assign pass now
    * shuffles nothing at all). Returns a struct column; read
    * `.getField("cell")`. */
  private[operators] def bestCellCol(model: Seq[Centroid], emb: Column): Column = {
    val structs = model.sortBy(_.cell).map { c =>
      struct((lit(c.cn) - lit(2.0) *
        call_function("graft_dot", emb, typedlit(c.ce))).as("score"),
        lit(c.cell).as("cell"))
    }
    // empty model = empty training input: a typed null struct keeps
    // the caller's plan well-formed (empty in → empty out, no throw)
    if (structs.isEmpty) lit(null).cast("struct<score:double,cell:int>")
    else if (structs.size == 1) structs.head
    else least(structs: _*)
  }

  /** The Lloyd loop itself: returns the final model as a DRIVER-LOCAL
    * literal frame `(cell int, ce array<float>, cn double, n_vectors
    * long)` — k tiny rows, fully materialized so no persisted loop
    * frame leaks and the returned plan is self-contained (a literal
    * scan, broadcastable into any downstream join). Shared by
    * [[kmeansOf]] (long-format model) and [[Dedup.semDeDupOf]]
    * (corpus-scale assign + in-cell prune). Thin wrapper over the
    * grouped trainer (one constant group). */
  private[operators] def kmeansFit(v0: DataFrame, k: Int, rounds: Int): DataFrame =
    kmeansFitGrouped(v0.select(lit(0).as("m"), col("vec_id"), col("embedding")),
      k, rounds, Seq(0))
      .select(col("cell"), col("ce"), col("cn"), col("n_vectors"))

  /** Grouped multi-round Lloyd: trains an INDEPENDENT k-means model per
    * distinct value of `m` in ONE loop — every round is a single job
    * over a single input scan for ALL groups (the PQ build trains its
    * M subspace codebooks here: M× fewer corpus scans and driver
    * rounds than the per-subspace loops it replaces — guide §1.2 step
    * 1, fewer passes). Per-group arithmetic is IDENTICAL to the
    * ungrouped loop: seeds = the k lowest vec_ids of the group, E-step
    * = [[bestCellCol]] against the group's literal centroids (same
    * score formula, same tie order), M-step = per-(m, cell, dim) exact
    * double avg of float32 values cast back to float32. The model
    * rows live on the DRIVER between rounds (k·M tiny rows per round —
    * a bounded collect), so rounds chain literal → scan → agg →
    * collect with no persist/unpersist bookkeeping and no broadcast
    * exchange. `groups` must hold every `m` in `v0`: a round whose
    * rows carry another `m` fails with an IllegalArgumentException.
    * `vec_id` may be of any orderable type. Returns
    * `(m, cell, ce, cn, n_vectors)` as a local literal frame. */
  private[operators] def kmeansFitGrouped(v0: DataFrame, k: Int, rounds: Int,
      groups: Seq[Int]): DataFrame = {
    val (rows, schema) = kmeansFitGroupedRows(v0, k, rounds, groups)
    v0.sparkSession.createDataFrame(
      v0.sparkSession.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  /** The grouped trainer's core: final model as driver-local rows
    * `(m, cell, ce, cn, n_vectors)` + their schema (no extra job to
    * re-collect when the caller wants [[Centroid]]s, not a frame). */
  private[graft] def kmeansFitGroupedRows(v0: DataFrame, k: Int,
      rounds: Int, groups: Seq[Int]): (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType) = {
    val spark = v0.sparkSession
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val v = v0.select(col("m"), col("vec_id"), col("embedding"))
    // seeds = per group, the k lowest ids, cells numbered 0..k-1 in id
    // order — id-scheme-agnostic, and identical to "cell = vec_id" on
    // the harness fixture's 0-based ids. One TakeOrdered (orderBy +
    // limit k) per group, unioned: each branch is a fully parallel
    // per-partition top-k merged on the driver — no task ever sees
    // more than k rows per input partition (the r14 row_number over
    // Window.partitionBy(m) funneled the WHOLE corpus through one
    // task per group; guide §2.5). `groups` is the caller's constant
    // group-id set (M is a small constant everywhere), so the union
    // is M tiny bounded branches and the collect is ≤ M·k rows.
    val seedTop = groups.sorted.map { mv =>
        v.filter(col("m") === lit(mv)).orderBy(col("vec_id")).limit(k)
      }.reduce(_.unionAll(_))
      .select(col("m"), col("vec_id"), col("embedding").as("ce"))
      .withColumn("cn", expr(foldDot("ce", "ce")))
    val schema = seedTop
      .select(col("m"), lit(0).cast("int").as("cell"), col("ce"),
        col("cn"), lit(0L).as("n_vectors")).schema
    // cells numbered 0..k-1 in vec_id order, driver-side (≤ M·k rows).
    // Each group's branch is one TakeOrdered partition already in
    // Spark's vec_id order, and collect keeps partition order, so the
    // arrival order numbers the cells for any orderable id type.
    def seedModel(): Array[org.apache.spark.sql.Row] = seedTop.collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1).flatMap { case (mv, rs) =>
        rs.zipWithIndex.map { case (sr, i) =>
          org.apache.spark.sql.Row(mv, i, sr.getSeq[Float](2), sr.getDouble(3), 0L)
        }
      }.toArray
    def toCentroids(rows: Array[org.apache.spark.sql.Row]): Map[Int, Seq[Centroid]] =
      rows.toSeq.map { r =>
        (r.getInt(0), Centroid(r.getInt(1), r.getDouble(3), r.getSeq[Float](2)))
      }.groupBy(_._1).map { case (m, cs) => m -> cs.map(_._2) }
    var model = seedModel()
    var r = 0
    // empty model = empty training input: skip the loop, empty out
    while (r < rounds && model.nonEmpty) {
      val byM = toCentroids(model)
      val ms = byM.keys.toSeq.sorted
      // nearest cell per row, all groups in one projection (CASE over
      // the group id; each branch is the group's literal-model argmin)
      val cellCol =
        if (ms.size == 1) bestCellCol(byM(ms.head), col("embedding")).getField("cell")
        else ms.tail.foldLeft(when(col("m") === ms.head,
            bestCellCol(byM(ms.head), col("embedding")).getField("cell"))) {
          (acc, mv) => acc.when(col("m") === mv,
            bestCellCol(byM(mv), col("embedding")).getField("cell"))
        }
      val next = v
        .select(col("m"), cellCol.as("cell"), col("embedding"))
        .select(col("m"), col("cell"), posexplode(col("embedding")).as(Seq("pos", "cv")))
        .groupBy(col("m"), col("cell"), col("pos"))
        .agg(avg(col("cv")).as("mu"), count(lit(1)).as("n"))
        .groupBy(col("m"), col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mu))), s -> cast(s.mu as float))").as("ce"),
          first(col("n")).as("n_vectors"))
        .withColumn("cn", expr(foldDot("ce", "ce")))
        .select(col("m"), col("cell"), col("ce"), col("cn"), col("n_vectors"))
      model = next.collect()
      // a group outside `groups` was never seeded: its rows come back
      // under an unknown m (with a null cell when the CASE has no branch)
      val uncovered = model.map(_.getInt(0)).distinct.filterNot(ms.contains)
      require(uncovered.isEmpty,
        s"k-means groups ${ms.mkString(",")} do not cover m = ${uncovered.sorted.mkString(",")}")
      r += 1
    }
    (model, schema)
  }

  /** The trained model as driver-local [[Centroid]]s — the form
    * [[bestCellCol]] consumes (single group, `m = 0`). */
  private[operators] def kmeansFitCentroids(v0: DataFrame, k: Int,
      rounds: Int): Seq[Centroid] =
    kmeansFitGroupedRows(
      v0.select(lit(0).as("m"), col("vec_id"), col("embedding")), k, rounds, Seq(0))
      ._1.toSeq.map { r =>
        Centroid(r.getInt(1), r.getDouble(3), r.getSeq[Float](2))
      }

  private def sKmeans: Q = (s, dir) =>
    kmeansOf(Tables.embeddings(s, dir), KmeansK, KmeansRounds)

  /** The unrolled Lloyd-loop CTE chain (seed + `rounds` E/M rounds),
    * ending in `cent$rounds(cell, ce, n_vectors)` — shared by the
    * s_kmeans oracle and [[Dedup]]'s d_semdedup oracle so the two can
    * never drift. Seed `cell = vec_id` replicates "k lowest ids" on
    * the fixture's 0-based contiguous ids. */
  private[operators] def duckKmeansCtes(k: Int, rounds: Int): String =
    duckKmeansCtesFor(k, rounds, "embeddings", "")

  /** The tagged/retargetable form: `src` is the relation trained on
    * (must expose vec_id + embedding), `tag` prefixes every CTE name so
    * several chains coexist in one WITH (the PQ oracle trains one
    * chain per subspace). Final model CTE: `${tag}cent$rounds`. */
  private[operators] def duckKmeansCtesFor(k: Int, rounds: Int,
      src: String, tag: String): String = {
    def fold(a: String, b: String) = duckFoldDot(a, b)
    val seed =
      s"""${tag}cent0 AS MATERIALIZED (
         |  SELECT vec_id::INT AS cell,
         |         list_transform(embedding, x -> x::FLOAT) AS ce
         |  FROM $src WHERE vec_id < $k)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""${tag}p$r AS (SELECT v.vec_id, s.cell,
         |          ${fold("s.ce", "s.ce")} - 2 * ${fold("v.embedding", "s.ce")} AS score
         |        FROM $src v CROSS JOIN ${tag}cent${r - 1} s),
         |${tag}a$r AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY score, cell) AS rn
         |    FROM ${tag}p$r) ${tag}ranked$r
         |  WHERE rn = 1),
         |${tag}m$r AS MATERIALIZED (
         |  SELECT cell, dim, avg(cv) AS m, count(*) AS n
         |  FROM (SELECT ${tag}a$r.cell,
         |          unnest(range(1, len(v.embedding) + 1)) AS dim,
         |          unnest(v.embedding) AS cv
         |        FROM ${tag}a$r JOIN $src v ON ${tag}a$r.vec_id = v.vec_id)
         |  GROUP BY cell, dim),
         |${tag}cent$r AS MATERIALIZED (
         |  SELECT cell, list_transform(list(m ORDER BY dim), x -> x::FLOAT) AS ce,
         |         first(n) AS n_vectors
         |  FROM ${tag}m$r GROUP BY cell)""".stripMargin
    }
    s"""$seed,
       |${roundCtes.mkString(",\n")}""".stripMargin
  }

  private val sKmeansSql =
    s"""WITH ${duckKmeansCtes(KmeansK, KmeansRounds)}
       |SELECT cell::BIGINT AS cell, dim::BIGINT AS dim,
       |       round(cf::DOUBLE, 6) AS centroid, n_vectors
       |FROM (SELECT cell, unnest(range(1, len(ce) + 1)) AS dim,
       |             unnest(ce) AS cf, n_vectors
       |      FROM cent$KmeansRounds)""".stripMargin

  // ----------------------------------------------------------------
  // MMR diversity re-ranking (maximal marginal relevance)
  // ----------------------------------------------------------------

  private val MmrK = 5
  private val MmrCandN = 10
  // λ = 0.5 — exact in binary, so λ·rel − (1−λ)·pen computes
  // bit-identically in both engines (0.6 would put a rounding step
  // between them)
  private val MmrLambda = 0.5

  /** MMR re-ranking — the serving-side diversity pass between a top-N
    * retrieval and the response: greedily pick K of the top-N
    * candidates maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-picked, so near-duplicate hits don't crowd the slate
    * (Carbonell-Goldstein MMR). Shape: the candidate pool is the exact
    * cosine top-N (TakeOrderedAndProject over the corpus — the only
    * corpus-volume stage at any scale), checkpointed once; each of the
    * K greedy rounds is a candidate×selected penalty aggregate over
    * ≤ N rows plus a 1-row argmax collect (the documented driver-side
    * scalar, same as the ANN probe). All cosines are the shared
    * left-fold dot ⇒ the selection sequence is bit-deterministic and
    * the oracle (unrolled MATERIALIZED greedy rounds) exact. */
  private def sMmrRerank: Q = (s, dir) => {
    org.apache.spark.sql.graft.GraftFunctions.register(s)
    import s.implicits._
    val v = withNorm(Tables.embeddings(s, dir))
    val q = v.filter(col("vec_id") === QueryVec)
      .select(col("embedding").as("qe"), col("nrm").as("qnrm"))
    val cand = v.filter(col("vec_id") =!= QueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        expr(cosExpr("embedding", "qe", "nrm", "qnrm")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc).limit(MmrCandN)
      .localCheckpoint()
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
    var rem = cand
    var r = 0
    var exhausted = false
    while (r < MmrK && !exhausted) {
      val scored =
        if (picked.isEmpty)
          rem.select(col("vec_id"), col("rel"),
            (lit(MmrLambda) * col("rel")).as("mmr"))
        else {
          val sel = cand.filter(col("vec_id").isin(picked.toSeq.map(_._2): _*))
            .select(col("embedding").as("se"), col("nrm").as("snrm"))
          rem.crossJoin(sel)
            .groupBy(col("vec_id"), col("rel"))
            .agg(max(expr(cosExpr("embedding", "se", "nrm", "snrm"))).as("pen"))
            .select(col("vec_id"), col("rel"),
              (lit(MmrLambda) * col("rel") - lit(1 - MmrLambda) * col("pen")).as("mmr"))
        }
      val top = scored.orderBy(col("mmr").desc, col("vec_id").asc).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val t = top(0)
        picked += ((r.toLong, t.getLong(0), t.getDouble(1), t.getDouble(2)))
        rem = rem.filter(col("vec_id") =!= t.getLong(0))
      }
      r += 1
    }
    picked.toSeq.toDF("rank", "vec_id", "rel", "mmr")
      .select(col("rank"), col("vec_id"),
        round(col("rel"), 6).as("rel"), round(col("mmr"), 6).as("mmr"))
  }

  private val sMmrRerankSql = {
    val lam = "0.5"
    val rounds = (1 until MmrK).map { r =>
      s"""remc$r AS MATERIALIZED (SELECT * FROM cand
         |           WHERE vec_id NOT IN (SELECT vec_id FROM sel${r - 1})),
         |pen$r AS MATERIALIZED (
         |  SELECT c.vec_id,
         |         max(${duckCosExpr("c.embedding", "s.embedding", "c.nrm", "s.nrm")}) AS pen
         |  FROM remc$r c CROSS JOIN sel${r - 1} s GROUP BY c.vec_id),
         |s$r AS MATERIALIZED (
         |  SELECT c.vec_id, c.embedding, c.nrm, c.rel,
         |         $lam * c.rel - (1 - $lam) * p.pen AS mmr
         |  FROM remc$r c JOIN pen$r p ON c.vec_id = p.vec_id
         |  ORDER BY mmr DESC, c.vec_id LIMIT 1),
         |sel$r AS MATERIALIZED (
         |  SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
    }.mkString(",\n")
    val out = (0 until MmrK).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rank, vec_id, round(rel, 6) AS rel, round(mmr, 6) AS mmr FROM s$r")
      .mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT vec_id, embedding, $duckNormExpr AS nrm FROM embeddings),
       |q AS (SELECT embedding qe, nrm qnrm FROM v WHERE vec_id = $QueryVec),
       |cand AS MATERIALIZED (
       |  SELECT vec_id, embedding, nrm,
       |         ${duckCosExpr("embedding", "qe", "nrm", "qnrm")} AS rel
       |  FROM v CROSS JOIN q WHERE vec_id <> $QueryVec
       |  ORDER BY rel DESC, vec_id LIMIT $MmrCandN),
       |s0 AS MATERIALIZED (
       |  SELECT vec_id, embedding, nrm, rel, $lam * rel AS mmr
       |  FROM cand ORDER BY mmr DESC, vec_id LIMIT 1),
       |sel0 AS MATERIALIZED (SELECT * FROM s0),
       |$rounds
       |$out""".stripMargin
  }

  // ----------------------------------------------------------------
  // Random-projection dimensionality reduction (Achlioptas signs)
  // ----------------------------------------------------------------

  private val RpInDims = 64
  private val RpOutDims = 16

  /** Deterministic ±1 projection signs (Achlioptas' database-friendly
    * JL matrix, sign-only variant). Computed ONCE here in Scala and
    * inlined as literal arrays into BOTH plans, so engine hash parity
    * is a non-issue — the matrix is part of the operator definition,
    * exactly how a production pipeline would pin its projection seed. */
  private def rpSign(i: Int, j: Int): Long = {
    val h = (i.toLong * 2654435761L + j.toLong * 40503L + 12345L) % 1000000007L
    if ((h & 1L) == 1L) 1L else -1L
  }

  /** Johnson-Lindenstrauss dimensionality reduction — the embedding-
    * pipeline step between the encoder and a cheaper index: 64-dim
    * float vectors project to 16 dims through the fixed ±1 sign matrix
    * (scaled 1/√16 = 0.25, exact in binary), cutting index storage and
    * probe arithmetic 4× while approximately preserving angles.
    * Narrow per-row projection, zero shuffle at any corpus size; the
    * left-fold sum runs in identical element order in both engines, so
    * the oracle is exact after 6dp rounding. Output as named scalar
    * columns (array cells crash the comparator's row sort). */
  private def sDimReduce: Q = (s, dir) => {
    val outCols = (0 until RpOutDims).map { j =>
      val signs = (0 until RpInDims).map(rpSign(_, j)).mkString("array(", ", ", ")")
      round(expr(
        s"aggregate(zip_with(embedding, $signs, (x, s) -> CAST(x AS DOUBLE) * s), 0D, (a, x) -> a + x)")
        * 0.25, 6).as(s"r$j")
    }
    Tables.embeddings(s, dir).select(col("vec_id") +: outCols: _*)
  }

  private val sDimReduceSql = {
    val outCols = (0 until RpOutDims).map { j =>
      val signs = (0 until RpInDims).map(rpSign(_, j)).mkString("[", ", ", "]")
      s"""round(list_reduce(list_prepend(0.0, list_transform(range(1, ${RpInDims + 1}),
         |    i -> embedding[i]::DOUBLE * ($signs)[i])), (a, x) -> a + x) * 0.25, 6) AS r$j""".stripMargin
    }.mkString(",\n  ")
    s"""SELECT vec_id,
       |  $outCols
       |FROM embeddings""".stripMargin
  }

  // ----------------------------------------------------------------
  // Late-interaction (multi-vector) retrieval — MaxSim
  // ----------------------------------------------------------------

  /** Vectors per document in the multi-vector demo corpus (documents
    * are consecutive [[MaxSimDocWidth]]-vector groups of the
    * embeddings table — the per-chunk/per-token embedding layout a
    * late-interaction encoder emits). */
  private val MaxSimDocWidth = 4
  private val MaxSimQueryDoc = 0L

  /** `s_maxsim_topk` — late-interaction retrieval (the ColBERT MaxSim
    * scoring, Khattab & Zaharia SIGIR 2020): documents and the query
    * each carry MULTIPLE vectors; score(q, d) = Σ over query vectors of
    * the max cosine to any of d's vectors. The multi-vector layout is
    * what chunk- or token-level encoders produce, and MaxSim is the
    * standard way to score it without pooling away locality.
    *
    * Shape: broadcast the query's vectors (model-sized), one narrow
    * scan of the corpus computes every (vec, qvec) cosine map-side,
    * then two partial-aggregated reductions — max per (doc, qvec),
    * sum per doc — and a TakeOrderedAndProject top-k. Per-doc state is
    * bounded by the query's vector count, never the corpus.
    *
    * At 100 TB the exact scan is the RERANK stage: candidates come
    * from an ANN probe over pooled/per-chunk vectors (the
    * [[AnnIndex]] path), and this operator scores the shortlist —
    * the PLAID/ColBERTv2 serving split. Determinism: each cosine is
    * the shared left-fold dot (bit-identical both engines), max is
    * selection, and the final sum adds floored nano-integers —
    * order-free. */
  /** Reusable MaxSim core: `docVectors` = (doc_id, embedding) with one
    * row per document vector; `queryVectors` = (qv, embedding) — the
    * query's vectors (model-sized, broadcast). Returns the top-k
    * documents by Σ_qv max_docvec cosine. */
  def maxsimTopk(docVectors: DataFrame, queryVectors: DataFrame,
      k: Int = K): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(docVectors.sparkSession)
    val v = withNorm(docVectors)
    val q = withNorm(queryVectors)
      .select(col("qv"), col("embedding").as("qe"), col("nrm").as("qn"))
    v.crossJoin(broadcast(q))
      .select(col("doc_id"), col("qv"),
        expr(cosExpr("embedding", "qe", "nrm", "qn")).as("cos"))
      .groupBy(col("doc_id"), col("qv"))
      .agg(max(col("cos")).as("mx"))
      .select(col("doc_id"), floor(col("mx") * lit(1e9)).cast("long").as("nano"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nano")).as("nanos"), count(lit(1)).as("n_qvecs"))
      .orderBy(col("nanos").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_qvecs"),
        expr("floor((CAST(nanos AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1e6").as("maxsim"))
  }

  private def sMaxsimTopk: Q = (s, dir) => {
    val v = Tables.embeddings(s, dir)
      .withColumn("d", expr(s"vec_id DIV $MaxSimDocWidth"))
    maxsimTopk(
      v.filter(col("d") =!= MaxSimQueryDoc)
        .select(col("d").as("doc_id"), col("embedding")),
      v.filter(col("d") === MaxSimQueryDoc)
        .select(col("vec_id").as("qv"), col("embedding")))
  }

  private val sMaxsimTopkSql =
    s"""WITH v AS (SELECT vec_id, vec_id // $MaxSimDocWidth AS d, embedding,
       |             $duckNormExpr AS nrm FROM embeddings),
       |q AS (SELECT vec_id AS qv, embedding AS qe, nrm AS qn FROM v WHERE d = $MaxSimQueryDoc),
       |p AS (SELECT d, qv, ${duckCosExpr("embedding", "qe", "nrm", "qn")} AS cos
       |      FROM v CROSS JOIN q WHERE d <> $MaxSimQueryDoc),
       |m AS (SELECT d, qv, CAST(floor(max(cos) * 1e9) AS BIGINT) AS nano
       |      FROM p GROUP BY d, qv),
       |t AS (SELECT d, sum(nano) AS nanos, count(*) AS n_qvecs FROM m GROUP BY d)
       |SELECT d AS doc_id, n_qvecs,
       |       floor((CAST(nanos AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1e6 AS maxsim
       |FROM t ORDER BY nanos DESC, d LIMIT $K""".stripMargin

  // ----------------------------------------------------------------

  val queries: Map[String, Q] = Map(
    "s_maxsim_topk" -> sMaxsimTopk,
    "s_dim_reduce" -> sDimReduce,
    "s_mmr_rerank" -> sMmrRerank,
    "s_cosine_topk" -> sCosineTopk,
    "s_ann_lsh" -> sAnnLsh,
    "s_ann_recall" -> sAnnRecall,
    "s_ann_recall_panel" -> sAnnRecallPanel,
    "s_matryoshka_recall" -> sMatryoshkaRecall,
    "s_ann_lsh_batch" -> sAnnLshBatch,
    "s_ivf_ann" -> sIvfAnn,
    "s_ivf_ann_indexed" -> sIvfAnnIndexed,
    "s_ivf_filtered" -> sIvfFiltered,
    "s_quantized_topk" -> sQuantizedTopk,
    "s_bq_rerank" -> sBqRerank,
    "s_blocked_knn" -> sBlockedKnn,
    "s_topk_agg" -> sTopkAgg,
    "s_hard_negatives" -> sHardNegatives,
    "s_pq_adc" -> sPqAdc,
    "s_ivfpq_rerank" -> sIvfpqRerank,
    "s_ivfpq_indexed" -> sIvfpqIndexed,
    "s_ivfpq_batch" -> sIvfpqBatch,
    "s_kmeans" -> sKmeans,
    "s_ivf_trained" -> sIvfTrained,
    "s_centroids" -> sCentroids,
    "s_ann_drift" -> sAnnDrift,
    "s_hybrid_rrf" -> sHybridRrf)

  val oracles: Map[String, String] = Map(
    "s_maxsim_topk" -> sMaxsimTopkSql,
    "s_quantized_topk" -> sQuantizedTopkSql,
    "s_bq_rerank" -> sBqRerankSql,
    "s_cosine_topk" -> sCosineTopkSql,
    "s_ann_lsh" -> sAnnLshSql,
    "s_ann_recall" -> sAnnRecallSql,
    "s_ann_recall_panel" -> sAnnRecallPanelSql,
    "s_matryoshka_recall" -> sMatryoshkaRecallSql,
    "s_ann_lsh_batch" -> sAnnLshBatchSql,
    "s_ivf_ann" -> sIvfAnnSql,
    "s_ivf_ann_indexed" -> sIvfAnnSql,
    "s_ivf_filtered" -> sIvfFilteredSql,
    "s_blocked_knn" -> sBlockedKnnSql,
    "s_topk_agg" -> sTopkAggSql,
    "s_hard_negatives" -> sHardNegativesSql,
    "s_pq_adc" -> sPqAdcSql,
    "s_ivfpq_rerank" -> sIvfpqRerankSql,
    "s_ivfpq_batch" -> sIvfpqBatchSql,
    // the persisted index holds exactly the in-query quantizers/codes
    // (shared ivfAssignment + pqOneIterCodebooks), so the serving path
    // answers against the SAME oracle as the in-query composition
    "s_ivfpq_indexed" -> sIvfpqRerankSql,
    "s_kmeans" -> sKmeansSql,
    "s_ivf_trained" -> sIvfTrainedSql,
    "s_centroids" -> sCentroidsSql,
    "s_dim_reduce" -> sDimReduceSql,
    "s_mmr_rerank" -> sMmrRerankSql,
    "s_ann_drift" -> sAnnDriftSql,
    "s_hybrid_rrf" -> sHybridRrfSql)
}
