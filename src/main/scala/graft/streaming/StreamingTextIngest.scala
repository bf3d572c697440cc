package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextIndex

/** Continuous ingestion into the persisted BM25 text index: each
  * micro-batch lands as one index generation (two when it carries both
  * deletes and upserts), so a probe sees a batch entirely or not at
  * all; re-sent doc_ids supersede their old version exactly (see
  * [[TextIndex.upsert]]). The batch protocol — tag, ledger skip,
  * latest-per-key reduction, deletes then upserts — is [[CdcBatch]]'s.
  * Per-batch work is one tokenize + aggregate over the batch,
  * independent of index size. */
object StreamingTextIngest {

  /** The index as a [[CdcBatch]] surface. */
  private[streaming] def surface(root: String): CdcBatch.Surface =
    CdcBatch.Surface(root, TextIndex.batchApplied,
      CdcBatch.deleteThenUpsert(TextIndex.delete(_, root, _),
        TextIndex.upsert(_, root, _)))

  /** Attach a streaming `(doc_id, text)` frame to the index founded at
    * `root` (already [[TextIndex.build]]t); every micro-batch upserts
    * as one new generation. */
  def ingest(docs: DataFrame, root: String, checkpoint: String): StreamingQuery =
    CdcBatch.ingest(docs, checkpoint, "doc_id", Seq(surface(root)))

  /** CDC ingestion of `(op, doc_id, text[, seq])` with
    * `op ∈ {upsert, delete}` (text null on deletes), reduced per batch
    * by [[CdcBatch.latestPerKey]]. */
  def cdc(changes: DataFrame, root: String, checkpoint: String): StreamingQuery =
    CdcBatch.cdc(changes, checkpoint, "doc_id", Seq(surface(root)))
}
