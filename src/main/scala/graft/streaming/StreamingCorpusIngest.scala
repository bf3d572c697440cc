package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextIndex
import graft.sources.CorpusStore

/** Continuous ingestion into BOTH document surfaces at once — the
  * versioned corpus lake ([[CorpusStore]]) and the BM25 index
  * ([[TextIndex]]) — so what the lake stores and what retrieval serves
  * never drift: every micro-batch lands as one corpus version and one
  * index generation, and the (corpus version, index version) pair
  * captured after any batch is a consistent training-run pin. Each
  * surface keeps its own `batch:` ledger, so a crash between the two
  * publishes replays only the missing half ([[CdcBatch]] has the
  * protocol). On the corpus, re-sent doc_ids are erase + append (the
  * store's unique-id contract): the copy-on-write [[CorpusStore
  * .forget]] rewrites only the segments holding superseded ids. */
object StreamingCorpusIngest {

  /** The corpus as a [[CdcBatch]] surface: one erase covers both
    * halves (deleted ids go, and re-sent upsert ids make room for their
    * new version), then the upserts append as one segment. */
  private def surface(root: String): CdcBatch.Surface =
    CdcBatch.Surface(root, CorpusStore.batchApplied, h => {
      CorpusStore.forget(h.dels.sparkSession, root,
        h.ups.fold(h.dels)(u => h.dels.unionByName(u.select(col("doc_id")))),
        h.delTag)
      h.ups.foreach(CorpusStore.append(_, root, Some(h.tag)))
    })

  /** Attach a streaming `(doc_id, text)` frame to a corpus store and
    * a text index (both must exist — [[CorpusStore.create]] +
    * [[TextIndex.build]], typically from the same founding frame).
    *
    * `compactEvery > 0` runs the maintenance policies after every
    * `compactEvery`-th batch: the corpus folds its small streamed
    * segments when more than `maxSmallSegments` have accumulated
    * ([[CorpusStore.compactIfFragmented]]) and the index folds when its
    * dead-posting fraction exceeds budget
    * ([[TextIndex.compactIfBloated]]). Both republish with the `batch:`
    * ledger intact, so a fold between a batch's publish and its
    * checkpoint commit cannot make a replay re-apply the batch. */
  def ingest(docs: DataFrame, corpusRoot: String, indexRoot: String,
      checkpoint: String, compactEvery: Int = 0, maxSmallSegments: Int = 16,
      smallSegBytes: Long = 64L * 1024 * 1024): StreamingQuery =
    CdcBatch.ingest(docs, checkpoint, "doc_id",
      Seq(surface(corpusRoot), StreamingTextIngest.surface(indexRoot)),
      (s, id) =>
        if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
          CorpusStore.compactIfFragmented(s, corpusRoot, maxSmallSegments,
            smallSegBytes)
          TextIndex.compactIfBloated(s, indexRoot)
          ()
        })

  /** CDC ingestion of `(op, doc_id, text[, seq])` with
    * `op ∈ {upsert, delete}` into both surfaces. */
  def cdc(changes: DataFrame, corpusRoot: String, indexRoot: String,
      checkpoint: String): StreamingQuery =
    CdcBatch.cdc(changes, checkpoint, "doc_id",
      Seq(surface(corpusRoot), StreamingTextIngest.surface(indexRoot)))
}
