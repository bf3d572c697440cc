package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, TextIndex}
import graft.sources.CorpusStore

/** The right-to-be-forgotten pipeline — ONE deletion request applied
  * to every surface a document lives on, atomically enough to audit:
  * the parquet corpus (anti-join rewrite into a new versioned dir —
  * published files are immutable, so "delete" is "write survivors,
  * repoint"), the BM25 text index (a pure-negation generation,
  * [[TextIndex.delete]]), and the vector index (tombstones,
  * [[AnnIndex.delete]]). This is the composite a GDPR/DMCA erasure
  * request actually runs: forgetting a doc from the corpus but not
  * from the serving indexes is a compliance failure, and the three
  * surfaces have three different deletion mechanics — which is
  * exactly why the pipeline exists.
  *
  * Scale shape: the corpus rewrite is one anti-join against a
  * broadcast id set (erasure requests are human-scale — thousands,
  * not billions — so the broadcast always fits); both index deletes
  * append tombstone/negation generations without touching published
  * bytes (each is one id-pruned scan of the live registry). Nothing
  * rescans anything proportional to corpus size except the one
  * survivor write the immutable-file model forces — and that rewrite
  * is per PARTITION at 100 TB: route it through a partition-pruned
  * predicate when ids carry their partition (date, shard), so only
  * touched partitions rewrite.
  *
  * Audit: returns one row per surface `(surface, n_before, n_deleted,
  * n_after)` — the erasure certificate. The spec pins the cross-
  * surface law: after forget, corpus survivors == BM25-served corpus
  * == ANN-probeable ids, and re-running the same forget is a no-op
  * (both index deletes are idempotent; the corpus anti-join finds
  * nothing).
  */
object Forget {

  /** Apply one erasure request: `ids` (column `doc_id`) leave the
    * corpus at `corpusDir` (rewritten to `corpusDir-v2`... the caller
    * repoints), the text index at `textRoot`, and the vector index at
    * `annRoot` (vec_id == doc_id in this deployment's contract).
    * Either index root may be absent (None) when the deployment
    * doesn't serve that modality. */
  def forget(docs: DataFrame, ids: DataFrame, survivorsOut: String,
      textRoot: Option[String], annRoot: Option[String]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val idsB = broadcast(ids.select(col("doc_id")).distinct())
    val before = docs.count()
    val survivors = docs.join(idsB, Seq("doc_id"), "left_anti")
    survivors.write.mode("overwrite").parquet(survivorsOut)
    val after = s.read.parquet(survivorsOut).count()
    val corpusRow = ("corpus", before, before - after, after)

    val textRow = textRoot.map { root =>
      val b = TextIndex.liveDocCount(s, root)
      TextIndex.delete(ids, root)
      val a = TextIndex.liveDocCount(s, root)
      ("text_index", b, b - a, a)
    }
    val annRow = annRoot.map { root =>
      def live() = AnnIndex.driftStats(s, root)
        .agg(sum(col("n_live"))).head().getLong(0)
      val b = live()
      AnnIndex.delete(ids.select(col("doc_id").as("vec_id")), root)
      val a = live()
      ("ann_index", b, b - a, a)
    }
    (Seq(corpusRow) ++ textRow ++ annRow)
      .toDF("surface", "n_before", "n_deleted", "n_after")
  }

  /** [[forget]] routed through a VERSIONED corpus ([[CorpusStore]]):
    * the erasure publishes a new corpus version (copy-on-write — only
    * segments holding matched docs rewrite) instead of rewriting a
    * bare dir in place, and the certificate carries each surface's
    * `(v_before, v_after)` snapshot pair — so "this request was erased
    * from corpus v_after" is a REPLAYABLE claim (`CorpusStore.asOf` /
    * each index's `asOf` re-reads either side), which the in-place
    * form could never make. Version columns are the index families'
    * manifest snapshot versions; a surface not deployed simply has no
    * row. */
  def forgetVersioned(s: SparkSession, corpusRoot: String, ids: DataFrame,
      textRoot: Option[String], annRoot: Option[String]): DataFrame = {
    import s.implicits._
    val before = CorpusStore.read(s, corpusRoot).count()
    val cert = CorpusStore.forget(s, corpusRoot, ids).head()
    val corpusRow = ("corpus", before, cert.getAs[Long]("n_deleted"),
      before - cert.getAs[Long]("n_deleted"),
      cert.getAs[Long]("v_before"), cert.getAs[Long]("v_after"))

    val textRow = textRoot.map { root =>
      val vb = TextIndex.currentVersion(s, root)
      val b = TextIndex.liveDocCount(s, root)
      TextIndex.delete(ids, root)
      val a = TextIndex.liveDocCount(s, root)
      ("text_index", b, b - a, a, vb, TextIndex.currentVersion(s, root))
    }
    val annRow = annRoot.map { root =>
      def live() = AnnIndex.driftStats(s, root)
        .agg(sum(col("n_live"))).head().getLong(0)
      val vb = AnnIndex.currentVersion(s, root)
      val b = live()
      AnnIndex.delete(ids.select(col("doc_id").as("vec_id")), root)
      val a = live()
      ("ann_index", b, b - a, a, vb, AnnIndex.currentVersion(s, root))
    }
    (Seq(corpusRow) ++ textRow ++ annRow)
      .toDF("surface", "n_before", "n_deleted", "n_after",
        "v_before", "v_after")
  }
}
