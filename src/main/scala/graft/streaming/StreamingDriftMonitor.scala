package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Quality

/** Continuous drift monitoring over a streamed table — the whole
  * drift QUARTET (PSI, χ² from bucket counts; KS, W1 from per-value
  * counts) off ONE incrementally-maintained state, the
  * `x_drift_psi_ivm` identity run for real: the baseline (extents +
  * counts) is frozen ONCE, then every micro-batch contributes only
  * its OWN counts (additive), so the monitor's per-batch work is one
  * narrow scan of the batch regardless of how much history has
  * accumulated. A 100 TB table under continuous ingest never rescans
  * the accumulated current version; each `report*` materializes its
  * statistic from count-sized state whenever asked.
  *
  * SLICED monitoring (`sliceCol`): production monitors drift per
  * source/lang/shard slice — a shift confined to one slice smears
  * below the whole-column alert threshold. The slice key is one more
  * grouping column on the SAME counts (extents stay whole-column so
  * slices bucket identically), so per-slice reports cost no extra
  * scan; every `report*` then leads with the slice column and each
  * slice alerts independently (spec-pinned equal to the batch
  * per-slice recompute).
  *
  * State discipline: the running counts live on the driver as a
  * (slice, column, bucket) → n map — (slices · (numericCols·buckets +
  * categorical cardinality)) entries, the k-means-model convention
  * for driver-sized reads. Replay safety is per batch id: a replay of
  * an already-absorbed micro-batch within the session is a no-op, so
  * at-least-once delivery yields exactly-once counts. The state is
  * SESSION-LIFETIME by design (a restarted query's checkpoint marks
  * old batches committed, so they do not replay into a fresh
  * monitor): DURABLE monitoring routes the same mergeable counts
  * through a stored table instead — persist each batch's
  * [[Quality.psiBucketCounts]] delta and refresh with
  * [[graft.Graft.mergeAggStates]], the exact identity
  * `x_drift_psi_ivm` proves; this in-memory monitor is the
  * dashboard-session form.
  */
class DriftMonitor private[streaming] (
    baseCounts: Seq[(String, String, String, Long)],
    baseValueCounts: Seq[(String, String, Double, Long)],
    extents: Map[String, (Option[Double], Option[Double])],
    numericCols: Seq[String], categoricalCols: Seq[String],
    valueCols: Seq[String], sliceCol: Option[String],
    buckets: Int, alert: Double) extends Serializable {

  private val cur = mutable.Map.empty[(String, String, String), Long]
  private val curVals = mutable.Map.empty[(String, String, Double), Long]
  private val applied = mutable.Set.empty[Long]

  private val groupCols = sliceCol.toSeq

  /** Slice values ride the counts as strings (one cast at the scan);
    * the unsliced monitor uses a single "" sentinel slice that never
    * reaches any report. */
  private def prepared(df: DataFrame): DataFrame =
    sliceCol.fold(df)(c => df.withColumn(c, col(c).cast("string")))

  private def sliceOf(r: org.apache.spark.sql.Row): String =
    if (sliceCol.isEmpty) "" else r.getString(0)

  private def off: Int = if (sliceCol.isEmpty) 0 else 1

  /** Fold one micro-batch's bucket counts (and, for `valueCols`, its
    * per-distinct-value counts — the KS/W1 state; discrete columns
    * only, the [[Quality.driftKs]] cardinality caveat) into the
    * running current-version state (bucket/value-count-sized collect;
    * one narrow scan of the batch per state family). Absorbing a
    * batch id twice is a no-op. */
  def absorb(batch: DataFrame, batchId: Long): Unit = synchronized {
    if (applied.add(batchId)) {
      val b = prepared(batch)
      Quality.psiBucketCounts(b, numericCols, categoricalCols,
          extents, buckets, groupCols)
        .collect().foreach { r =>
          val k = (sliceOf(r), r.getString(off), r.getString(off + 1))
          cur(k) = cur.getOrElse(k, 0L) + r.getLong(off + 2)
        }
      if (valueCols.nonEmpty)
        Quality.valueCounts(b, valueCols, groupCols).collect().foreach { r =>
          val k = (sliceOf(r), r.getString(off), r.getDouble(off + 1))
          curVals(k) = curVals.getOrElse(k, 0L) + r.getLong(off + 2)
        }
    }
  }

  private def bucketFrames(spark: SparkSession) = {
    import spark.implicits._
    sliceCol match {
      case Some(sc) =>
        (baseCounts.toDF(sc, "column", "bucket", "n"),
          cur.toSeq.map { case ((sl, c, b), n) => (sl, c, b, n) }
            .toDF(sc, "column", "bucket", "n"))
      case None =>
        (baseCounts.map { case (_, c, b, n) => (c, b, n) }
          .toDF("column", "bucket", "n"),
          cur.toSeq.map { case ((_, c, b), n) => (c, b, n) }
            .toDF("column", "bucket", "n"))
    }
  }

  /** The PSI report (…slice, column, n_base, n_cur, psi, drifted) for
    * everything absorbed so far against the frozen baseline — equals
    * [[Quality.driftPsi]] of the baseline vs the union of absorbed
    * batches EXACTLY (integer bucket counts; the `x_drift_psi_ivm`
    * identity), per slice when `sliceCol` is set. */
  def report(spark: SparkSession): DataFrame = {
    val (b, c) = synchronized(bucketFrames(spark))
    Quality.psiFromCounts(b, c, alert, groupCols)
  }

  /** The chi-square twin over the SAME incremental state — one
    * absorbed count table serves the whole drift triad's bucketed
    * members (see [[Quality.chi2FromCounts]]). */
  def reportChi2(spark: SparkSession): DataFrame = {
    val (b, c) = synchronized(bucketFrames(spark))
    Quality.chi2FromCounts(b, c, groupCols)
  }

  private def valueFrames(spark: SparkSession) = {
    import spark.implicits._
    require(valueCols.nonEmpty,
      "no valueCols configured — pass discrete columns to monitor() for KS/W1")
    sliceCol match {
      case Some(sc) =>
        (baseValueCounts.toDF(sc, "column", "v", "n"),
          curVals.toSeq.map { case ((sl, c, v), n) => (sl, c, v, n) }
            .toDF(sc, "column", "v", "n"))
      case None =>
        (baseValueCounts.map { case (_, c, v, n) => (c, v, n) }
          .toDF("column", "v", "n"),
          curVals.toSeq.map { case ((_, c, v), n) => (c, v, n) }
            .toDF("column", "v", "n"))
    }
  }

  /** KS over the incremental per-value counts ([[Quality.ksFromCounts]]) —
    * equals the batch [[Quality.driftKs]] of baseline vs everything
    * absorbed, exactly (integer counts). */
  def reportKs(spark: SparkSession): DataFrame = {
    val (b, c) = synchronized(valueFrames(spark))
    Quality.ksFromCounts(b, c, groupCols)
  }

  /** Wasserstein-1 over the same per-value counts
    * ([[Quality.w1FromCounts]]). */
  def reportW1(spark: SparkSession): DataFrame = {
    val (b, c) = synchronized(valueFrames(spark))
    Quality.w1FromCounts(b, c, groupCols)
  }
}

object StreamingDriftMonitor {

  /** Attach a drift monitor to a streaming frame: freezes the
    * baseline's extents and bucket counts (two driver-sized reads of
    * `base`, once), then absorbs every micro-batch into the running
    * counts. `sliceCol` turns every report per-slice (see class doc).
    * Returns the query and the monitor handle (`report` at any
    * time). */
  def monitor(stream: DataFrame, base: DataFrame, numericCols: Seq[String],
      categoricalCols: Seq[String], valueCols: Seq[String] = Nil,
      sliceCol: Option[String] = None,
      buckets: Int = 10, alert: Double = 0.2,
      checkpoint: Option[String] = None)
      : (StreamingQuery, DriftMonitor) = {
    val groupCols = sliceCol.toSeq
    def prep(df: DataFrame): DataFrame =
      sliceCol.fold(df)(c => df.withColumn(c, col(c).cast("string")))
    val off = if (sliceCol.isEmpty) 0 else 1
    def sliceOf(r: org.apache.spark.sql.Row): String =
      if (sliceCol.isEmpty) "" else r.getString(0)
    val baseP = prep(base)
    val extents = Quality.psiExtents(baseP, numericCols)
    val bc = Quality.psiBucketCounts(baseP, numericCols, categoricalCols,
        extents, buckets, groupCols)
      .collect().map(r => (sliceOf(r), r.getString(off),
        r.getString(off + 1), r.getLong(off + 2))).toSeq
    val bv =
      if (valueCols.isEmpty) Seq.empty[(String, String, Double, Long)]
      else Quality.valueCounts(baseP, valueCols, groupCols)
        .collect().map(r => (sliceOf(r), r.getString(off),
          r.getDouble(off + 1), r.getLong(off + 2))).toSeq
    val m = new DriftMonitor(bc, bv, extents, numericCols, categoricalCols,
      valueCols, sliceCol, buckets, alert)
    val w0 = stream.writeStream.outputMode("append")
    val w = checkpoint.fold(w0)(c => w0.option("checkpointLocation", c))
    val q = w.foreachBatch((b: DataFrame, id: Long) => m.absorb(b, id)).start()
    (q, m)
  }
}
