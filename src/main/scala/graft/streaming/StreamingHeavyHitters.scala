package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.CountMinSketch

import graft.operators.TextAnalysis

/** Streaming heavy hitters over an UNBOUNDED token universe — the
  * candidates-then-estimate split of [[TextAnalysis.frequentTermsOf]]
  * run continuously: per micro-batch, Misra-Gries sketches generate
  * bounded candidates (k counters per partition, zero vocabulary
  * shuffle) and a Count-Min sketch absorbs every token's count
  * (associative merge — ONE depth×width integer table on the driver
  * at any stream length). The report lists every candidate whose CMS
  * estimate clears the global threshold, with the estimate attached.
  *
  * Why no global heavy hitter can be missed — the per-batch
  * pigeonhole EXTENDS across batches: a token with total count
  * > N/(k+1) must exceed len_b/(k+1) in at least one batch b
  * (otherwise its total would be ≤ Σ len_b/(k+1) = N/(k+1)), and a
  * token above a batch's threshold holds a Misra-Gries counter there,
  * so it enters the candidate union. CMS estimates are one-sided
  * (never under the true count), so the threshold filter cannot drop
  * a true heavy hitter either; false candidates ride along with
  * honest estimates ≤ true + ε·N — run the exact verify pass
  * ([[TextAnalysis.frequentTermsOf]]'s second scan) over the
  * candidate list when exactness is needed. Driver state: the
  * candidate set, pruned each batch to tokens above HALF the current
  * threshold (see [[prune]] — O(k·partitions), not growing with batch
  * count) + one CMS; replay-safe per batch id.
  */
class HeavyHittersMonitor private[streaming] (k: Int, eps: Double,
    confidence: Double, seed: Int) extends Serializable {

  private val candidates = mutable.Set.empty[String]
  private val applied = mutable.Set.empty[Long]
  private val sketch: CountMinSketch = CountMinSketch.create(eps, confidence, seed)
  private var nTok = 0L

  private def toks(batch: DataFrame): DataFrame =
    batch.select(explode(filter(
      TextAnalysis.tokens(coalesce(col("text"), lit(""))),
      t => t =!= "")).as("token"))

  /** Fold one micro-batch in: per-partition Misra-Gries candidates
    * (bounded collect) + the batch's CMS merged into the running one.
    * Absorbing a batch id twice is a no-op. */
  def absorb(batch: DataFrame, batchId: Long): Unit = synchronized {
    if (applied.add(batchId)) {
      val s = batch.sparkSession
      import s.implicits._
      val t = toks(batch)
      candidates ++= t.as[String]
        .mapPartitions(it => TextAnalysis.misraGries(it, k)).collect()
      val row = t.agg(
        expr(s"count_min_sketch(token, ${eps}d, ${confidence}d, $seed)"),
        count(lit(1))).head()
      if (row.getLong(1) > 0L) {
        sketch.mergeInPlace(CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0))))
        nTok += row.getLong(1)
      }
      prune()
    }
  }

  /** Bound the driver-side candidate set: drop candidates whose CMS
    * estimate is below HALF the current threshold n/(k+1). Sound:
    * estimates are one-sided, so a pruned token's true count at prune
    * time t is < n_t/(2(k+1)); if its FINAL total exceeds N/(k+1) it
    * must accrue > (N − n_t/2)/(k+1) > (N − n_t)/(k+1) = Σ_{b>t}
    * len_b/(k+1) after t, so by the per-batch pigeonhole it exceeds
    * some single later batch's threshold and re-enters via that
    * batch's Misra-Gries pass — completeness is preserved while the
    * set stays O(k·partitions) instead of growing with batch count. */
  private def prune(): Unit = {
    val n = nTok
    candidates.filterInPlace(t =>
      sketch.estimateCount(t) * 2 * (k + 1) >= n)
  }

  /** Candidates whose estimated count clears the global threshold
    * est·(k+1) > N — `(token, est_count)`, descending. Superset of
    * the exact heavy hitters of everything absorbed (see class doc);
    * estimates are one-sided within ε·N. */
  def report(spark: SparkSession): DataFrame = synchronized {
    import spark.implicits._
    val n = nTok
    candidates.toSeq.map(t => (t, sketch.estimateCount(t)))
      .filter { case (_, est) => est * (k + 1) > n }
      .toDF("token", "est_count")
      .orderBy(col("est_count").desc, col("token"))
  }

  /** Total tokens absorbed (the threshold's denominator). */
  def totalTokens: Long = synchronized(nTok)
}

object StreamingHeavyHitters {

  /** Attach a heavy-hitters monitor to a streaming `(…, text)` frame:
    * every token with global count > N/(k+1) is guaranteed present in
    * the report at any point. */
  def monitor(stream: DataFrame, k: Int = 2000, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42,
      checkpoint: Option[String] = None)
      : (StreamingQuery, HeavyHittersMonitor) = {
    val m = new HeavyHittersMonitor(k, eps, confidence, seed)
    val w0 = stream.writeStream.outputMode("append")
    val w = checkpoint.fold(w0)(c => w0.option("checkpointLocation", c))
    val q = w.foreachBatch((b: DataFrame, id: Long) => m.absorb(b, id)).start()
    (q, m)
  }
}
