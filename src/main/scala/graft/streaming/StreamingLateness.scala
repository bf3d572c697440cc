package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Event-time lateness profiling — the measurement that SIZES a
  * watermark instead of guessing it: Spark's windowed aggregations
  * silently drop rows older than `watermark(delay)`, so the delay is
  * a correctness/latency trade a team should set from the observed
  * lateness distribution, not folklore. Each micro-batch is compared
  * against the maximum event time seen BEFORE it (the watermark
  * proxy, sans delay) and bucketed by how far behind it arrived;
  * the accumulated histogram answers "what fraction of events would
  * a 10-minute watermark drop?" directly.
  *
  * Same state discipline as [[StreamingDriftMonitor]]: per-batch work
  * is one narrow aggregate of the batch (bucket-count-sized collect),
  * driver-map state, replay-safe per batch id, SESSION-LIFETIME (a
  * durable profile persists the per-batch bucket deltas — counts are
  * additive — and merges on read; this in-memory form is the
  * watermark-tuning session's tool).
  */
class LatenessMonitor private[streaming] (tsCol: String,
    bucketsMs: Seq[Long]) extends Serializable {

  private val counts = mutable.Map.empty[String, Long]
  private val applied = mutable.Set.empty[Long]
  private var maxSeenMs: Option[Long] = None

  private def bucketName(i: Int): String =
    if (i == 0) "on_time"
    else if (i < bucketsMs.size + 1) s"late_lt_${bucketsMs(i - 1) / 1000}s"
    else if (i == bucketsMs.size + 1) "late_beyond"
    else "null_ts"

  /** Fold one micro-batch in: lateness = (max event time seen before
    * this batch) − row event time, bucketed on the configured
    * thresholds; rows at or beyond the frontier count on_time. */
  def absorb(batch: DataFrame, batchId: Long): Unit = synchronized {
    if (applied.add(batchId) && !batch.isEmpty) {
      val ts = col(tsCol).cast("timestamp")
      val frontier = maxSeenMs
      val lateMs = frontier match {
        case None => lit(0L)
        case Some(f) => greatest(lit(0L),
          lit(f) - (unix_millis(ts)))
      }
      val bucket = bucketsMs.zipWithIndex.foldRight(
          lit(bucketsMs.size + 1)) { case ((b, i), els) =>
        when(lateMs < b, lit(i + 1)).otherwise(els)
      }
      val rows = batch
        .select(when(ts.isNull, lit(bucketsMs.size + 2))
            .when(lateMs <= 0L, lit(0)).otherwise(bucket).as("b"),
          unix_millis(ts).as("ms"))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("n"), max(col("ms")).as("mx"))
        .collect()
      rows.foreach { r =>
        val name = bucketName(r.getInt(0))
        counts(name) = counts.getOrElse(name, 0L) + r.getLong(1)
      }
      // max(ms) is NULL for the null_ts group (and would throw via
      // getLong); the frontier only advances on observed event times.
      val nonNull = rows.toSeq.filterNot(_.isNullAt(2)).map(_.getLong(2))
      if (nonNull.nonEmpty) {
        val batchMax = nonNull.max
        maxSeenMs = Some(maxSeenMs.fold(batchMax)(math.max(_, batchMax)))
      }
    }
  }

  /** The accumulated lateness histogram `(bucket, n_events)` plus the
    * drop fraction a watermark at each threshold would have caused. */
  def report(spark: SparkSession): DataFrame = synchronized {
    import spark.implicits._
    val total = counts.values.sum
    (0 to bucketsMs.size + 2).map { i =>
      val name = bucketName(i)
      (name, counts.getOrElse(name, 0L))
    }.toDF("bucket", "n_events")
      .withColumn("share_ppm",
        when(lit(total) === 0L, lit(0L))
          .otherwise(col("n_events") * lit(1000000L) / lit(total))
          .cast("long"))
  }
}

object StreamingLateness {

  /** Attach a lateness profiler to a streaming frame with event-time
    * column `tsCol`. Default thresholds: 1s, 10s, 60s. */
  def monitor(stream: DataFrame, tsCol: String,
      bucketsMs: Seq[Long] = Seq(1000L, 10000L, 60000L),
      checkpoint: Option[String] = None)
      : (StreamingQuery, LatenessMonitor) = {
    val m = new LatenessMonitor(tsCol, bucketsMs.sorted)
    val w0 = stream.writeStream.outputMode("append")
    val w = checkpoint.fold(w0)(c => w0.option("checkpointLocation", c))
    val q = w.foreachBatch((b: DataFrame, id: Long) => m.absorb(b, id)).start()
    (q, m)
  }
}
