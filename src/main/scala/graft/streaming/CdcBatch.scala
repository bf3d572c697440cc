package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The one micro-batch sink under the streaming ingests
  * ([[StreamingCorpusIngest]], [[StreamingTextIngest]],
  * [[StreamingAnnIngest]]): every `ingest` and `cdc` entry point is a
  * call to [[ingest]] or [[cdc]] with its key column and the store
  * [[Surface]]s the batch lands on. A plain `ingest` is a CDC stream
  * whose every row is an upsert; there is no second path.
  *
  * Protocol per micro-batch (`foreachBatch`, Spark's default
  * `ProcessingTime(0)` trigger, one batch at a time — which is what
  * satisfies the stores' one-writer-per-root manifest contract):
  *  1. tag it `<prefix>-<batchId>` (`stream-` for ingest, `cdc-` for
  *     CDC; the tags are what the stores' `batch:` ledgers hold);
  *  2. skip an empty batch, so it burns no version;
  *  3. skip every surface whose ledger already holds the tag (a replay
  *     after a crash between two surfaces' publishes applies only the
  *     missing one);
  *  4. reduce the batch to the latest event per key ([[latestPerKey]]),
  *     persisted once for the surfaces' passes;
  *  5. split it into key-disjoint deletes (the key column) and upserts
  *     (the reduced rows minus `op` and `seq`);
  *  6. apply each pending surface in order, its tag riding the surface's
  *     LAST publish (the upsert when there is one, else the delete).
  *
  * Why the tag rides the last publish: a crash between a surface's two
  * publishes leaves no tag, so the replay re-runs the delete half —
  * a no-op against already-dead ids — and lands the upsert half once;
  * a crash after the tagged publish replays into a ledger skip. A tag
  * on the first publish would make that replay skip the unapplied
  * upserts. Exactly-once effect per surface from at-least-once
  * delivery, the ledger riding the same atomic manifest move as the
  * data.
  *
  * Reduction rules: the index upsert contract is one version per key
  * per generation (two "latest" versions of a key cannot be ordered by
  * any latest-wins rule — [[graft.operators.TextIndex.upsert]] enforces
  * it), and the deletes-then-upserts application order means an
  * un-reduced upsert-then-delete of one key would RESURRECT the row
  * (deletes run first). Reducing first makes the two halves
  * key-disjoint, so application order is a non-event. When the batch
  * carries `seq` (producer-assigned, monotone per key — a Kafka
  * offset, a CDC LSN), the highest `seq` wins; on an equal-`seq` tie
  * the DELETE wins (a tie means the producer broke its own ordering
  * contract, and serving a row whose deletion raced is the worse
  * failure). Without `seq`, events within one micro-batch have no
  * defined order, so an upsert beats a delete for the same key
  * (same-batch delete+re-send nets to the re-send), and TWO upserts of
  * one key fail the batch before any publish — nothing can say which
  * is "latest", and picking one silently corrupts the stores. */
private[streaming] object CdcBatch {

  /** One micro-batch reduced and split: `dels` holds the deleted keys,
    * `ups` the upserted rows (None when there are none). */
  final case class Halves(dels: DataFrame, ups: Option[DataFrame], tag: String) {
    /** The tag for the delete publish: only when no upsert follows. */
    def delTag: Option[String] = if (ups.isEmpty) Some(tag) else None
  }

  /** One store a batch lands on: its root, its ledger check
    * `(session, root, tag)` and its apply, which puts `tag` on its
    * last publish. */
  final case class Surface(root: String,
      batchApplied: (SparkSession, String, String) => Boolean,
      apply: Halves => Unit)

  /** The index apply: deletes (when any), then upserts. */
  def deleteThenUpsert(delete: (DataFrame, Option[String]) => Any,
      upsert: (DataFrame, Option[String]) => Any): Halves => Unit = h => {
    if (!h.dels.isEmpty) delete(h.dels, h.delTag)
    h.ups.foreach(upsert(_, Some(h.tag)))
  }

  /** Ingest a stream of rows keyed by `key`, every row an upsert;
    * tags `stream-<id>`. `afterBatch` runs after every non-empty
    * batch, replayed or not. */
  def ingest(rows: DataFrame, checkpoint: String, key: String,
      surfaces: Seq[Surface],
      afterBatch: (SparkSession, Long) => Unit = (_, _) => ()): StreamingQuery =
    sink(rows.withColumn("op", lit("upsert")), checkpoint, "stream", key,
      surfaces, afterBatch)

  /** Ingest a CDC stream `(op, key, …[, seq])`, `op ∈ {upsert,
    * delete}`; tags `cdc-<id>`. */
  def cdc(changes: DataFrame, checkpoint: String, key: String,
      surfaces: Seq[Surface]): StreamingQuery =
    sink(changes, checkpoint, "cdc", key, surfaces, (_, _) => ())

  private def sink(changes: DataFrame, checkpoint: String, prefix: String,
      key: String, surfaces: Seq[Surface],
      afterBatch: (SparkSession, Long) => Unit): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val tag = s"$prefix-$id"
          val pending = surfaces.filterNot(f => f.batchApplied(s, f.root, tag))
          if (pending.nonEmpty) {
            val b = latestPerKey(batch, key).persist()
            try {
              val ups = b.filter(col("op") === "upsert").drop("op", "seq")
              val h = Halves(b.filter(col("op") === "delete").select(col(key)),
                Some(ups).filterNot(_.isEmpty), tag)
              pending.foreach(_.apply(h))
            } finally { b.unpersist(); () }
          }
          afterBatch(s, id)
        }
      }
      .start()

  /** Reduce `batch` to one event per `key`, ordered by `seq` iff the
    * batch has it (the class doc has the rules). Returns the batch's
    * columns, `seq` included. */
  private def latestPerKey(batch: DataFrame, key: String): DataFrame = {
    val hasSeq = batch.columns.contains("seq")
    val isUp = when(col("op") === "upsert", 1).otherwise(0)
    val w =
      if (hasSeq)
        Window.partitionBy(col(key)).orderBy(col("seq").desc, isUp.asc)
      else
        Window.partitionBy(col(key)).orderBy(isUp.desc)
    val ranked = batch.withColumn("__rn", row_number().over(w))
    if (!hasSeq) {
      // upserts sort first, so a key with two upserts puts one at
      // rank 2 — the only rank-2 row that can be an upsert
      val dup = ranked
        .filter(col("__rn") === 2 && col("op") === "upsert")
        .select(col(key)).limit(1).collect()
      require(dup.isEmpty,
        s"CDC batch has two upserts for $key=${dup.headOption.map(_.get(0))} " +
          "with no 'seq' ordering column — no latest-wins rule can order them; " +
          "add a per-key monotone 'seq' column to the stream")
    }
    ranked.filter(col("__rn") === 1).drop("__rn")
  }
}
