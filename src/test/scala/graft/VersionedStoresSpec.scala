package graft

import java.io.IOException
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{AnnIndex, TextIndex}
import graft.sources.CorpusStore

/** Store-level laws of the shared versioned-root lifecycle: rollback
  * crash safety, temp-file collection and the versioned erasure
  * certificate on swept roots. */
class VersionedStoresSpec extends SparkSpec {

  test("a corpus rollback crashed right after its live restore leaves every retained asOf(n) replaying the corpus published as n") {
    import spark.implicits._
    CrashFs.register(spark)
    val root = CrashFs.tempRoot("graft_rb_crash") + "/c"
    def batch(ids: Range): DataFrame = ids.map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    def ids(df: DataFrame): Seq[Long] = df.select("doc_id").as[Long].collect().sorted.toSeq
    val published = mutable.Map.empty[Long, Seq[Long]]
    def record(v: Long): Unit = published(v) = ids(CorpusStore.read(spark, root))
    record(CorpusStore.create(batch(0 until 5), root))
    record(CorpusStore.append(batch(5 until 10), root))
    record(CorpusStore.append(batch(10 until 15), root))
    // crash the first create/rename/delete after the live manifest is
    // restored (the lock file's release runs after the crash, unhurt)
    var restored = false
    var crashed = false
    CrashFs.hook = (op, p) => {
      if (restored && !crashed) {
        crashed = true
        throw new IOException(s"injected crash at $op of $p")
      }
      if (op == "rename" && p.getName == "_GRAFT_CORPUS_MANIFEST") restored = true
    }
    try intercept[IOException](CorpusStore.rollbackTo(spark, root, 1L))
    finally CrashFs.disarm()
    assert(crashed)
    assert(ids(CorpusStore.read(spark, root)) == published(1L))
    // the next write reuses the abandoned suffix's segment numbers
    record(CorpusStore.append(batch(20 until 25), root))
    CorpusStore.snapshots(spark, root).foreach { v =>
      assert(ids(CorpusStore.asOf(spark, root, v)) == published(v), s"asOf($v)")
    }
  }

  test("every store's sweep collects stale manifest and pin temp files") {
    import spark.implicits._
    val temps = Seq(".manifest-1", ".pins-1")
    def planted(root: String): String = {
      temps.foreach(n => Files.write(Paths.get(root, n), "torn".getBytes("UTF-8")))
      root
    }
    def tmp(prefix: String) = Files.createTempDirectory(prefix).toString
    val docs = Seq((1L, "vector alpha"), (2L, "hash beta")).toDF("doc_id", "text")
    val cRoot = tmp("graft_tmp_c") + "/c"
    CorpusStore.create(docs, cRoot)
    val tRoot = tmp("graft_tmp_t")
    TextIndex.build(docs, tRoot)
    val aRoot = tmp("graft_tmp_a")
    AnnIndex.build(Tables.embeddings(spark, sf).filter(col("vec_id") < 60), aRoot)
    Seq[(String, String => Seq[String])](
      planted(cRoot) -> (r => CorpusStore.sweepUnreferenced(spark, r, graceMs = -1L)),
      planted(tRoot) -> (r => TextIndex.sweepUnreferenced(spark, r, graceMs = -1L)),
      planted(aRoot) -> (r => AnnIndex.sweepUnreferenced(spark, r, graceMs = -1L))
    ).foreach { case (root, sweep) =>
      val swept = sweep(root)
      temps.foreach(n => assert(!Files.exists(Paths.get(root, n)), s"$root: $swept"))
    }
  }

  test("forgetVersioned certifies v_after = v_before + 1 on text and ann roots whose snapshots were all swept") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 60)
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 60)
    val cRoot = Files.createTempDirectory("graft_fv_c").toString + "/c"
    val tRoot = Files.createTempDirectory("graft_fv_t").toString
    val aRoot = Files.createTempDirectory("graft_fv_a").toString
    CorpusStore.create(docs, cRoot)
    TextIndex.build(docs, tRoot)
    AnnIndex.build(emb, aRoot)
    TextIndex.sweepUnreferenced(spark, tRoot, graceMs = -1L)
    AnnIndex.sweepUnreferenced(spark, aRoot, graceMs = -1L)
    assert(TextIndex.snapshots(spark, tRoot).isEmpty && AnnIndex.snapshots(spark, aRoot).isEmpty)
    val cert = pipelines.Forget.forgetVersioned(spark, cRoot, Seq(3L, 7L).toDF("doc_id"),
        Some(tRoot), Some(aRoot))
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("text_index", "ann_index").foreach { surface =>
      val r = cert(surface)
      assert(r.getAs[Long]("n_deleted") == 2L, s"$surface: $r")
      assert(r.getAs[Long]("v_after") == r.getAs[Long]("v_before") + 1, s"$surface: $r")
    }
  }
}
