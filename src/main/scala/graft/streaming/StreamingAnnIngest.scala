package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.AnnIndex

/** Continuous ingestion into the persisted ANN index, the streaming
  * twin of [[AnnIndex.upsert]]: each micro-batch lands as one index
  * generation (two when it carries both deletes and upserts), assigned
  * against the FROZEN stored seeds and encoded with the FROZEN stored
  * codebooks, so a probe sees a batch entirely or not at all. The
  * batch protocol — tag, ledger skip, latest-per-key reduction, deletes
  * then upserts — is [[CdcBatch]]'s; the ledger matters beyond row
  * duplication here, because a re-applied batch would merge its sums
  * into the running centroid stats twice. Per-batch work is
  * `O(|batch| · cells)`, independent of index size; compact
  * ([[AnnIndex.compact]]) on whatever cadence bounds the generation
  * count. */
object StreamingAnnIngest {

  /** The index as a [[CdcBatch]] surface. */
  private def surface(root: String): CdcBatch.Surface =
    CdcBatch.Surface(root, AnnIndex.batchApplied,
      CdcBatch.deleteThenUpsert(AnnIndex.delete(_, root, _),
        AnnIndex.upsert(_, root, _)))

  /** Attach a streaming `(vec_id, label, embedding)` frame to the index
    * founded at `root`; every micro-batch upserts as one new
    * generation. The index must already be [[AnnIndex.build]]t — the
    * founding batch freezes both quantizers. */
  def ingest(vectors: DataFrame, root: String, checkpoint: String): StreamingQuery =
    CdcBatch.ingest(vectors, checkpoint, "vec_id", Seq(surface(root)))

  /** CDC ingestion of `(op, vec_id, label, embedding[, seq])` with
    * `op ∈ {upsert, delete}` (embedding/label null on deletes), reduced
    * per batch by [[CdcBatch.latestPerKey]]. */
  def cdc(changes: DataFrame, root: String, checkpoint: String): StreamingQuery =
    CdcBatch.cdc(changes, checkpoint, "vec_id", Seq(surface(root)))
}
