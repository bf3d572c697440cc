package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {

  test("streamingTumbling produces the same result as the batch tumbling agg") {
    val q = EventStreams.streamingTumbling(spark, sf)
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
        .orderBy("window_start", "event_type").collect().toSeq
      val batch = EventStreams.queries("st_tumbling")(spark, sf)
        .orderBy("window_start", "event_type").collect().toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("runningUserStats accumulates state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.UserEvent]
    val q = EventStreams.runningUserStats(input.toDS())
      .writeStream.format("memory").queryName("user_stats")
      .outputMode("update").start()
    try {
      input.addData(EventStreams.UserEvent(1L, 10.0), EventStreams.UserEvent(1L, 5.0),
        EventStreams.UserEvent(2L, 7.0))
      q.processAllAvailable()
      input.addData(EventStreams.UserEvent(1L, 20.0))
      q.processAllAvailable()
      val rows = spark.table("user_stats")
        .groupBy("user_id").agg(max("n").as("n"), max("sum").as("sum"), max("max").as("max"))
        .orderBy("user_id").collect().toSeq
      assert(rows == Seq(Row(1L, 3L, 35.0, 20.0), Row(2L, 1L, 7.0, 7.0)))
    } finally q.stop()
  }

  test("sessions: no two sessions of one user overlap") {
    val df = EventStreams.queries("st_session")(spark, sf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("session_start")
    val overlaps = df
      .withColumn("prev_end", lag("session_end", 1).over(w))
      .filter(col("prev_end").isNotNull && col("session_start") < col("prev_end"))
    assert(overlaps.count() == 0)
  }

  test("streaming session windows: closed sessions equal the batch sessions, including a late-arrival MERGE of two provisional sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Long) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + h * 3600000L)
    val input = MemoryStream[(Long, Long)] // (user_id, hour offset)
    val events = input.toDF().toDF("user_id", "h")
      .withColumn("ts", timestamp_millis(col("h") * 3600000L +
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime)))
      .drop("h")
      .withWatermark("ts", "6 hours")
    val q = EventStreams.sessions(events)
      .writeStream.format("memory").queryName("sess_law")
      .outputMode("append").start()
    try {
      // batch 1: user 1 at h=0 and h=10 — with the 8h gap these are TWO
      // provisional sessions; user 2 one event
      input.addData((1L, 0L), (1L, 10L), (2L, 1L))
      q.processAllAvailable()
      // batch 2: the LATE event (h=5 arrives after h=10; watermark is
      // 10h − 6h = 4h, so 5h is within-watermark) BRIDGES user 1's two
      // provisional sessions — the state store must MERGE them
      input.addData((1L, 5L))
      q.processAllAvailable()
      // nothing closed yet: watermark (4h) is before every session end
      assert(spark.table("sess_law").isEmpty)
      // batch 3: a sentinel far ahead pushes the watermark past every
      // close — the merged sessions emit exactly once
      input.addData((9L, 100L))
      q.processAllAvailable()
      val streamed = spark.table("sess_law")
        .orderBy("user_id").collect().toSeq
      // LAW: streamed closed sessions == the batch transform over the
      // same events (sentinel excluded — its session never closed)
      val all = Seq((1L, t(0)), (1L, t(10)), (2L, t(1)), (1L, t(5)))
        .toDF("user_id", "ts")
      val batch = EventStreams.sessions(all).orderBy("user_id").collect().toSeq
      assert(streamed == batch, s"\n$streamed\nvs\n$batch")
      // the merge really happened: user 1 has ONE session of 3 events
      // spanning [0h, 10h + 8h)
      assert(streamed.length == 2)
      val u1 = streamed.head
      assert(u1.getLong(0) == 1L && u1.getTimestamp(1) == t(0) &&
        u1.getTimestamp(2) == t(18) && u1.getLong(3) == 3L, u1.toString)
      // and the batch twin agrees with TimeSeries.sessionize's
      // gap-island formulation on (start, count) — the two session
      // operators share semantics away from exact-gap boundaries
      val ts = graft.operators.TimeSeries.sessionize(
          all.withColumn("event_id", col("user_id"))
            .withColumn("value", lit(1.0)),
          "user_id", "ts", "event_id", "value", gapMinutes = 480)
        .select(col("user_id"), col("session_start"), col("n_events"))
        .orderBy("user_id").collect().toSeq
      assert(ts == streamed.map(r => Row(r.getLong(0), r.getTimestamp(1), r.getLong(3))))
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to prior views within the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
    def t(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val views = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def df(m: MemoryStream[(Long, java.sql.Timestamp, Double)]) =
      m.toDF().toDF("user_id", "ts", "value")
    val q = EventStreams.attributedPurchases(df(views), df(purchases))
      .writeStream.format("memory").queryName("attrib_out")
      .outputMode("append").start()
    try {
      views.addData((1L, t(1), 0.0), (2L, t(2), 0.0))
      purchases.addData((1L, t(3), 9.99), (2L, t(1), 5.0)) // user2 bought BEFORE viewing
      q.processAllAvailable()
      val got = spark.table("attrib_out").select("user_id", "value").collect().toSeq
      assert(got == Seq(Row(1L, 9.99))) // only user1's purchase follows a view
    } finally q.stop()
  }

  test("streaming dedup drops watermark-window re-deliveries across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = EventStreams.dedupedEvents(
        input.toDF().toDF("user_id", "ts", "event_type"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData((1L, t(1), "click"), (1L, t(2), "click"), (2L, t(1), "view"))
      q.processAllAvailable()
      input.addData((1L, t(3), "click")) // re-delivery in a later micro-batch
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .groupBy("user_id", "event_type").count().collect().toSeq
      assert(got.forall(_.getLong(2) == 1L), got.toString)
      assert(got.length == 2)
    } finally q.stop()
  }

  test("streaming near-dup dedup flags boilerplate against earlier state, passes novel docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog again and again " +
      "while the patient heron watches the shallow river bend for fish"
    val textB = textA + " tonight"  // near-identical: one trailing token
    val textC = "completely unrelated content about parquet file footers " +
      "and shuffle partition sizing with no shared phrasing whatsoever"
    val input = MemoryStream[(Long, String)]
    val verdicts = streaming.StreamingDedup.nearDupVerdicts(
      input.toDF().toDF("doc_id", "text"))
    val q = verdicts.writeStream.format("memory").queryName("near_dup_out")
      .outputMode("append").start()
    try {
      input.addData((1L, textA))
      q.processAllAvailable()
      input.addData((2L, textB), (3L, textC))
      q.processAllAvailable()
      val out = spark.table("near_dup_out")
        .collect().map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long])))
      // doc 1 seeded state: no prior match in any band
      assert(out.filter(_._1 == 1L).forall(_._2.isEmpty))
      // doc 2 is a near-dup of 1: flagged with canonical id 1 in >=1 band
      assert(out.filter(_._1 == 2L).exists(_._2.contains(1L)))
      // doc 3 shares nothing: never flagged
      assert(out.filter(_._1 == 3L).forall(_._2.isEmpty))
    } finally q.stop()
  }

  test("idempotent foreachBatch sink: replaying a batch rewrites, never duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-eo").toString
    val input = MemoryStream[(Long, String)]
    val q = streaming.EventStreams.idempotentParquetSink(
      input.toDF().toDF("user_id", "event_type"), s"$dir/out", s"$dir/ckpt")
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
      assert(out.count() == 3)
      // simulate the failure-replay path through the SINK'S OWN write
      // function: re-running an already-committed batch id must leave
      // one copy (a regression to append mode fails here)
      streaming.EventStreams.writeBatch(
        Seq((1L, "a"), (2L, "b")).toDF("user_id", "event_type"), s"$dir/out", 0L)
      assert(spark.read.parquet(s"$dir/out").count() == 3)
      // batch id rides along as a partition column for downstream audit
      assert(spark.read.parquet(s"$dir/out").select("batch").distinct().count() == 2)
    } finally q.stop()
  }

  test("stream-static broadcast join enriches every micro-batch") {
    import spark.implicits._
    val dim = Seq(("click", "ui"), ("view", "ui"), ("purchase", "commerce"))
      .toDF("event_type", "category")
    val q = streaming.EventStreams.streamingEnrichedCounts(spark, sf, dim)
      .writeStream.format("memory").queryName("enriched_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enriched_out")
        .orderBy(asc_nulls_first("category")).collect().toSeq
      val want = streaming.EventStreams.enriched(Tables.events(spark, sf), dim)
        .groupBy(col("category")).agg(count(lit(1)).as("n_events"))
        .orderBy(asc_nulls_first("category")).collect().toSeq
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming ANN ingest: each micro-batch is one generation; probe == full rebuild") {
    import spark.implicits._
    val v = Tables.embeddings(spark, sf)
    val maxId = v.agg(max("vec_id")).collect()(0).getLong(0)
    val cut = maxId * 7 / 10
    val base = v.filter(col("vec_id") <= cut)
    val rest = v.filter(col("vec_id") > cut)
      .select(col("vec_id"), col("label"), col("embedding"))
      .as[(Long, Int, Array[Float])].collect()
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val root = java.nio.file.Files.createTempDirectory("graft-ann-stream").toString
    val full = java.nio.file.Files.createTempDirectory("graft-ann-stream-full").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ann-stream-ck").toString
    Graft.ann.build(base, "vec_id", "embedding", "label", root)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Int, Array[Float])]
    val q = streaming.StreamingAnnIngest.ingest(
      input.toDF().toDF("vec_id", "label", "embedding"), root, ckpt)
    try {
      input.addData(b1.toSeq)
      q.processAllAvailable()
      input.addData(b2.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    // two micro-batches → two new generations behind the base one
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_GRAFT_IVF_MANIFEST")), "UTF-8")
    assert(manifest.split("\n").head == "2", manifest)
    val qv = v.filter(col("vec_id") === 0L).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    Graft.ann.build(v, "vec_id", "embedding", "label", full)
    val streamed = Graft.ann.probe(spark, root, qv, nprobe = 2, k = 10).collect().toSeq
    val rebuilt = Graft.ann.probe(spark, full, qv, nprobe = 2, k = 10).collect().toSeq
    assert(streamed.nonEmpty && streamed == rebuilt,
      s"stream-ingested index diverged from rebuild:\n$streamed\nvs\n$rebuilt")
    val adcStreamed = Graft.ann.probeAdc(spark, root, qv).collect().toSeq
    val adcRebuilt = Graft.ann.probeAdc(spark, full, qv).collect().toSeq
    assert(adcStreamed == adcRebuilt)
    // the idempotence ledger rode the atomic manifest publish: the two
    // applied batch ids answer true, an unseen one false — this is
    // what makes a foreachBatch replay skip instead of double-merging
    // the batch's sums into the running centroid stats
    assert(graft.operators.AnnIndex.batchApplied(spark, root, "stream-0"))
    assert(graft.operators.AnnIndex.batchApplied(spark, root, "stream-1"))
    assert(!graft.operators.AnnIndex.batchApplied(spark, root, "stream-99"))
  }

  test("CDC ANN stream: mixed upserts+deletes per batch; probe == rebuild of the surviving corpus") {
    import spark.implicits._
    val v = Tables.embeddings(spark, sf)
    val base = v.filter(col("vec_id") <= 300)
    val root = java.nio.file.Files.createTempDirectory("graft-ann-cdc").toString
    val full = java.nio.file.Files.createTempDirectory("graft-ann-cdc-full").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ann-cdc-ck").toString
    Graft.ann.build(base, "vec_id", "embedding", "label", root)
    def ups(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Int, Array[Float])] =
      df.select(col("vec_id"), col("label"), col("embedding"))
        .as[(Long, Int, Array[Float])].collect().toSeq
        .map { case (id, l, e) => ("upsert", id, l, e) }
    def dels(ids: Long*): Seq[(String, Long, Int, Array[Float])] =
      ids.map(id => ("delete", id, 0, Array.empty[Float]))
    // batch 0: append 301..340, delete 100..104; batch 1: revive 102
    // with a new label, delete 200 (deletes stay far above the frozen
    // seed ids < 8 and the PQ training sample < 64, so the expected-
    // corpus rebuild freezes IDENTICAL quantizers)
    val newbies = v.filter(col("vec_id") > 300 && col("vec_id") <= 340)
    val revived = v.filter(col("vec_id") === 102).withColumn("label", lit(99))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Int, Array[Float])]
    val q = streaming.StreamingAnnIngest.cdc(
      input.toDF().toDF("op", "vec_id", "label", "embedding"), root, ckpt)
    try {
      input.addData(ups(newbies) ++ dels(100L, 101L, 102L, 103L, 104L))
      q.processAllAvailable()
      input.addData(ups(revived) ++ dels(200L))
      q.processAllAvailable()
    } finally q.stop()
    val expected = base
      .filter(!col("vec_id").isin(100L, 101L, 102L, 103L, 104L, 200L))
      .unionByName(newbies).unionByName(revived)
    Graft.ann.build(expected, "vec_id", "embedding", "label", full)
    // deleted ids are invisible, the revived one serves its new label
    // (nprobe = all cells, so centroid drift can't hide the hit)
    val hit102 = Graft.ann.probe(spark, root,
      v.filter(col("vec_id") === 102L).select("embedding")
        .collect()(0).getSeq[Float](0).toArray, nprobe = 8, k = 3).collect()
    assert(hit102.exists(r => r.getLong(0) == 102L && r.getInt(1) == 99))
    assert(graft.operators.AnnIndex.batchApplied(spark, root, "cdc-0"))
    assert(graft.operators.AnnIndex.batchApplied(spark, root, "cdc-1"))
    assert(!graft.operators.AnnIndex.batchApplied(spark, root, "cdc-9"))
    // compaction purges the deleted/superseded mass from the running
    // stats; the CDC root's centroids then equal a fresh build of the
    // surviving corpus EXACTLY (float32-in-double sums are exact, so
    // order cannot perturb them) and the probes must match bit-for-bit
    Graft.ann.compact(spark, root)
    val qv = v.filter(col("vec_id") === 0L).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val streamed = Graft.ann.probe(spark, root, qv, nprobe = 2, k = 10).collect().toSeq
    val rebuilt = Graft.ann.probe(spark, full, qv, nprobe = 2, k = 10).collect().toSeq
    assert(streamed.nonEmpty && streamed == rebuilt,
      s"CDC-ingested index diverged from surviving-corpus rebuild:\n$streamed\nvs\n$rebuilt")
    // the idempotence ledger SURVIVES compaction: an in-cadence policy
    // compaction between a streamed batch's publish and its checkpoint
    // commit must not let a crash replay re-apply the batch
    assert(graft.operators.AnnIndex.batchApplied(spark, root, "cdc-0"))
    assert(graft.operators.AnnIndex.batchApplied(spark, root, "cdc-1"))
    assert(!graft.operators.AnnIndex.batchApplied(spark, root, "cdc-9"))
  }

  test("CDC text stream: document revisions + deletions; BM25 == in-query on the surviving corpus") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-text-cdc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-text-cdc-ck").toString
    val v1 = Seq(
      (1L, "vector hash stream alpha"), (2L, "vector vector beta"),
      (3L, "hash gamma"), (4L, "stream delta"), (5L, "epsilon"),
      (6L, "vector stream eta")).toDF("doc_id", "text")
    graft.operators.TextIndex.build(v1, root)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    val q = streaming.StreamingTextIngest.cdc(
      input.toDF().toDF("op", "doc_id", "text"), root, ckpt)
    try {
      // batch 0: REVISE doc 2 (loses "vector"), add doc 7, delete doc 3
      input.addData(Seq(("upsert", 2L, "beta beta hash"),
        ("upsert", 7L, "vector theta"), ("delete", 3L, "")))
      q.processAllAvailable()
      // batch 1: delete doc 4, revive doc 3 with new text
      input.addData(Seq(("delete", 4L, ""), ("upsert", 3L, "hash hash vector")))
      q.processAllAvailable()
    } finally q.stop()
    val surviving = Seq(
      (1L, "vector hash stream alpha"), (2L, "beta beta hash"),
      (3L, "hash hash vector"), (5L, "epsilon"), (6L, "vector stream eta"),
      (7L, "vector theta")).toDF("doc_id", "text")
    val served = Graft.text.bm25TopkAt(spark, root,
      Seq("vector", "hash", "stream"), 10).collect().toSeq
    val expected = graft.operators.TextAnalysis
      .bm25TopkOf(surviving, Seq("vector", "hash", "stream"), 10).collect().toSeq
    assert(served.nonEmpty && served == expected,
      s"CDC text index diverged:\n$served\nvs\n$expected")
    assert(graft.operators.TextIndex.batchApplied(spark, root, "cdc-0"))
    assert(graft.operators.TextIndex.batchApplied(spark, root, "cdc-1"))
    // MIXED-replay pin: the tag covers a delete+upsert batch as a
    // unit — batchApplied answers true, so a full replay skips both
    // halves together (no partial re-application of the already-seen
    // ops). The OTHER crash point — between the two publishes, tag not
    // yet recorded — replays the delete half as a pure no-op against
    // already-dead ids:
    val reDel = graft.operators.TextIndex
      .delete(Seq(4L).toDF("doc_id"), root).collect()(0)
    assert(reDel.getLong(0) == -1L && reDel.getLong(1) == 0L)
    // the idempotence ledger SURVIVES compaction (an in-cadence policy
    // compaction must not let a crash replay re-apply a batch), and
    // serving is unchanged by it
    Graft.text.bm25IndexCompact(spark, root)
    assert(graft.operators.TextIndex.batchApplied(spark, root, "cdc-0"))
    assert(graft.operators.TextIndex.batchApplied(spark, root, "cdc-1"))
    val afterCompact = Graft.text.bm25TopkAt(spark, root,
      Seq("vector", "hash", "stream"), 10).collect().toSeq
    assert(afterCompact == expected)
  }

  test("dual-surface CDC: corpus store and text index stay consistent per batch; mid-stream (corpus v, index v) pin replays retrieval over the pinned documents") {
    import spark.implicits._
    val corpus = java.nio.file.Files.createTempDirectory("graft-dual-corpus").toString
    val index = java.nio.file.Files.createTempDirectory("graft-dual-index").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-dual-ck").toString
    val terms = Seq("vector", "hash", "stream")
    val v1 = Seq(
      (1L, "vector hash stream alpha"), (2L, "vector vector beta"),
      (3L, "hash gamma"), (4L, "stream delta"), (5L, "epsilon"),
      (6L, "vector stream eta")).toDF("doc_id", "text")
    sources.CorpusStore.create(v1, corpus)
    graft.operators.TextIndex.build(v1, index)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    val q = streaming.StreamingCorpusIngest.cdc(
      input.toDF().toDF("op", "doc_id", "text"), corpus, index, ckpt)
    def servedNow() = Graft.text.bm25TopkAt(spark, index, terms, 10).collect().toSeq
    def inQueryOf(docs: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.bm25TopkOf(docs, terms, 10).collect().toSeq
    try {
      input.addData(Seq(("upsert", 2L, "beta beta hash"),
        ("upsert", 7L, "vector theta"), ("delete", 3L, "")))
      q.processAllAvailable()
      // a consistent pin taken between batches
      val vc0 = sources.CorpusStore.currentVersion(spark, corpus)
      val vi0 = Graft.text.bm25Snapshots(spark, index).max
      val expected0 = inQueryOf(sources.CorpusStore.read(spark, corpus))
      assert(servedNow() == expected0)
      input.addData(Seq(("delete", 4L, ""), ("upsert", 3L, "hash hash vector")))
      q.processAllAvailable()
      // live surfaces agree after every batch
      val live = sources.CorpusStore.read(spark, corpus)
      assert(live.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        == Seq(1L, 2L, 3L, 5L, 6L, 7L))
      assert(servedNow() == inQueryOf(live))
      // the mid-stream pin replays: index served AS OF vi0 equals the
      // in-query scorer over the corpus AS OF vc0 — the training-run
      // pin held across a later revision that MOVED doc 3's content
      assert(Graft.text.bm25TopkAt(spark, index, terms, 10, asOf = Some(vi0))
        .collect().toSeq
        == inQueryOf(sources.CorpusStore.asOf(spark, corpus, vc0)))
      // both ledgers carry both batches — a full replay skips whole
      assert(sources.CorpusStore.batchApplied(spark, corpus, "cdc-0"))
      assert(sources.CorpusStore.batchApplied(spark, corpus, "cdc-1"))
      assert(graft.operators.TextIndex.batchApplied(spark, index, "cdc-0"))
      assert(graft.operators.TextIndex.batchApplied(spark, index, "cdc-1"))
      // the crash-between-publishes replay half: re-erasing dead ids
      // publishes nothing on the corpus (no-op certificate)
      val re = sources.CorpusStore.forget(spark, corpus, Seq(4L).toDF("doc_id"))
        .collect()(0)
      assert(re.getLong(0) == re.getLong(1) && re.getLong(4) == 0L)
      // …but a TAGGED no-match erase records its ledger line (the
      // delete-only CDC batch shape): replay skips by record, not by
      // accidental rescan-idempotence
      val reTagged = sources.CorpusStore.forget(spark, corpus,
        Seq(4L).toDF("doc_id"), Some("cdc-9")).collect()(0)
      assert(reTagged.getLong(4) == 0L &&
        reTagged.getLong(1) == reTagged.getLong(0) + 1)
      assert(sources.CorpusStore.batchApplied(spark, corpus, "cdc-9"))
      // COMPACTION LAW: bin-packing the streamed micro-batch segments
      // must not move the ledger (a crash replay still skips), the
      // live read, or the MID-STREAM PIN — the pinned (vc0, vi0) pair
      // taken BEFORE compaction replays byte-identically after it
      val preCompactLive = sources.CorpusStore.read(spark, corpus)
        .orderBy("doc_id").collect().toSeq
      val acct = Graft.corpus.compact(spark, corpus).collect()(0)
      assert(acct.getAs[Long]("segs_folded") >= 2L)
      assert(sources.CorpusStore.snapshotDiff(spark, corpus,
        acct.getAs[Long]("v_before"), acct.getAs[Long]("v_after")).isEmpty)
      assert(sources.CorpusStore.batchApplied(spark, corpus, "cdc-0"))
      assert(sources.CorpusStore.batchApplied(spark, corpus, "cdc-1"))
      assert(sources.CorpusStore.read(spark, corpus)
        .orderBy("doc_id").collect().toSeq == preCompactLive)
      assert(Graft.text.bm25TopkAt(spark, index, terms, 10, asOf = Some(vi0))
        .collect().toSeq
        == inQueryOf(sources.CorpusStore.asOf(spark, corpus, vc0)))
    } finally q.stop()
  }

  test("streamed ingest with in-cadence compaction: segment count tracks corpus size, ledger and mid-stream snapshots survive the folds") {
    import spark.implicits._
    val corpus = java.nio.file.Files.createTempDirectory("graft-ing-cmp-c").toString + "/c"
    val index = java.nio.file.Files.createTempDirectory("graft-ing-cmp-i").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ing-cmp-ck").toString
    val v1 = Seq((1L, "vector alpha"), (2L, "hash beta")).toDF("doc_id", "text")
    sources.CorpusStore.create(v1, corpus)
    graft.operators.TextIndex.build(v1, index)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = streaming.StreamingCorpusIngest.ingest(
      input.toDF().toDF("doc_id", "text"), corpus, index, ckpt,
      compactEvery = 2, maxSmallSegments = 1)
    var pinV = 0L
    try {
      for (b <- 0 until 5) {
        // every batch adds one new doc AND revises doc 2 — the
        // erase+append churn that fragments an uncompacted lake
        input.addData((10L + b, s"stream doc $b vector"), (2L, s"hash beta rev$b"))
        q.processAllAvailable()
        if (b == 1) pinV = sources.CorpusStore.currentVersion(spark, corpus)
      }
    } finally q.stop()
    val live = sources.CorpusStore.read(spark, corpus)
    assert(live.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 10L, 11L, 12L, 13L, 14L))
    assert(live.filter(col("doc_id") === 2L).select("text")
      .collect()(0).getString(0) == "hash beta rev4")
    // WITHOUT compaction, 5 batches leave ≥ 10 segments (append +
    // erase-rewrite each); the in-cadence policy folded them
    val segs = live.inputFiles.map(_.split("/").takeRight(2)(0)).distinct
    assert(segs.length <= 3, segs.mkString(","))
    // the ledger survives every fold — a crash replay still skips
    for (b <- 0 until 5)
      assert(sources.CorpusStore.batchApplied(spark, corpus, s"stream-$b"),
        s"stream-$b lost from the ledger")
    // a mid-stream snapshot taken before later folds still replays
    assert(sources.CorpusStore.asOf(spark, corpus, pinV)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 10L, 11L))
    // the text surface stayed consistent through its own policy loop
    val terms = Seq("vector", "hash")
    assert(Graft.text.bm25TopkAt(spark, index, terms, 10).collect().toSeq ==
      graft.operators.TextAnalysis.bm25TopkOf(
        live.select(col("doc_id"), col("text")), terms, 10).collect().toSeq)
  }

  test("streamed corpus ingest: a doc_id doubled in one batch fails the query before any publish") {
    import spark.implicits._
    val corpus = java.nio.file.Files.createTempDirectory("graft-ing-dup-c").toString
    val index = java.nio.file.Files.createTempDirectory("graft-ing-dup-i").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ing-dup-ck").toString
    val v1 = Seq((1L, "vector alpha"), (2L, "hash beta")).toDF("doc_id", "text")
    sources.CorpusStore.create(v1, corpus)
    graft.operators.TextIndex.build(v1, index)
    val vc0 = sources.CorpusStore.currentVersion(spark, corpus)
    val vi0 = graft.operators.TextIndex.currentVersion(spark, index)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = streaming.StreamingCorpusIngest.ingest(
      input.toDF().toDF("doc_id", "text"), corpus, index, ckpt)
    try {
      input.addData((5L, "stream five"), (5L, "stream five again"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
    } finally q.stop()
    // neither surface published: no version, no ledger line, so the
    // corpus cannot hold two rows of doc 5 and a replay is not skipped
    assert(sources.CorpusStore.currentVersion(spark, corpus) == vc0)
    assert(!sources.CorpusStore.batchApplied(spark, corpus, "stream-0"))
    assert(graft.operators.TextIndex.currentVersion(spark, index) == vi0)
    assert(sources.CorpusStore.read(spark, corpus).count() == 2L)
  }

  test("streaming ANN ingest: a vec_id doubled in one batch fails the query and publishes nothing") {
    import spark.implicits._
    val v = Tables.embeddings(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft-ann-dup").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ann-dup-ck").toString
    Graft.ann.build(v.filter(col("vec_id") <= 100), "vec_id", "embedding", "label", root)
    def head() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_GRAFT_IVF_MANIFEST")), "UTF-8").split("\n").head
    val head0 = head()
    val (l150, e150) = v.filter(col("vec_id") === 150L)
      .select(col("label"), col("embedding"))
      .as[(Int, Array[Float])].collect()(0)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Int, Array[Float])]
    val q = streaming.StreamingAnnIngest.ingest(
      input.toDF().toDF("vec_id", "label", "embedding"), root, ckpt)
    try {
      input.addData(Seq((150L, l150, e150), (150L, l150, e150)))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(head() == head0)
    assert(!graft.operators.AnnIndex.batchApplied(spark, root, "stream-0"))
  }

  test("dual-surface ingest replay: a batch whose corpus half already published lands only on the index") {
    import spark.implicits._
    val corpus = java.nio.file.Files.createTempDirectory("graft-ing-rep-c").toString
    val index = java.nio.file.Files.createTempDirectory("graft-ing-rep-i").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ing-rep-ck").toString
    val v1 = Seq((1L, "vector alpha"), (2L, "hash beta")).toDF("doc_id", "text")
    sources.CorpusStore.create(v1, corpus)
    graft.operators.TextIndex.build(v1, index)
    // batch 0's corpus half, published as the sink publishes it, then
    // a crash before the index half: erase the re-sent ids, append
    // with the tag
    val batch0 = Seq((2L, "hash beta rev"), (3L, "vector stream gamma"))
    sources.CorpusStore.forget(spark, corpus, batch0.toDF("doc_id", "text").select("doc_id"))
    sources.CorpusStore.append(batch0.toDF("doc_id", "text"), corpus, Some("stream-0"))
    val vHand = sources.CorpusStore.currentVersion(spark, corpus)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = streaming.StreamingCorpusIngest.ingest(
      input.toDF().toDF("doc_id", "text"), corpus, index, ckpt)
    try {
      input.addData(batch0)
      q.processAllAvailable()
    } finally q.stop()
    // the corpus skipped by its ledger, the index caught up
    assert(sources.CorpusStore.currentVersion(spark, corpus) == vHand)
    assert(graft.operators.TextIndex.batchApplied(spark, index, "stream-0"))
    val live = sources.CorpusStore.read(spark, corpus)
    assert(live.orderBy("doc_id").collect().toSeq == Seq(Row(1L, "vector alpha"),
      Row(2L, "hash beta rev"), Row(3L, "vector stream gamma")))
    val terms = Seq("vector", "hash", "stream")
    assert(Graft.text.bm25TopkAt(spark, index, terms, 10).collect().toSeq ==
      graft.operators.TextAnalysis.bm25TopkOf(live, terms, 10).collect().toSeq)
  }

  test("CDC batch reduction: seq orders multiple events per key within one micro-batch") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-text-cdc-seq").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-text-cdc-seq-ck").toString
    graft.operators.TextIndex.build(Seq(
      (1L, "vector hash alpha"), (2L, "vector old"), (9L, "stream nine"))
      .toDF("doc_id", "text"), root)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, String, Long)]
    val q = streaming.StreamingTextIngest.cdc(
      input.toDF().toDF("op", "doc_id", "text", "seq"), root, ckpt)
    try {
      // one batch, three same-key conflicts, ordered by seq:
      //  - doc 2: two revisions → the higher-seq one alone lands
      //  - doc 8: upsert then delete → never becomes visible (the
      //    un-reduced deletes-first order would have resurrected it)
      //  - doc 9: delete then re-send → revived with the new text
      input.addData(Seq(
        ("upsert", 2L, "rev a", 1L), ("upsert", 2L, "rev b vector", 2L),
        ("upsert", 8L, "hash eight", 1L), ("delete", 8L, "", 2L),
        ("delete", 9L, "", 1L), ("upsert", 9L, "stream nine revived", 2L)))
      q.processAllAvailable()
    } finally q.stop()
    val surviving = Seq(
      (1L, "vector hash alpha"), (2L, "rev b vector"),
      (9L, "stream nine revived")).toDF("doc_id", "text")
    val served = Graft.text.bm25TopkAt(spark, root,
      Seq("vector", "hash", "stream"), 10).collect().toSeq
    val expected = graft.operators.TextAnalysis
      .bm25TopkOf(surviving, Seq("vector", "hash", "stream"), 10).collect().toSeq
    assert(served.nonEmpty && served == expected,
      s"seq-reduced CDC batch diverged:\n$served\nvs\n$expected")
  }

  test("CDC without seq: two upserts of one key in a batch fail loudly instead of corrupting") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-text-cdc-dup").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-text-cdc-dup-ck").toString
    graft.operators.TextIndex.build(
      Seq((1L, "vector alpha")).toDF("doc_id", "text"), root)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    val q = streaming.StreamingTextIngest.cdc(
      input.toDF().toDF("op", "doc_id", "text"), root, ckpt)
    try {
      input.addData(Seq(("upsert", 2L, "first"), ("upsert", 2L, "second")))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: chain(t.getCause)
      assert(chain(ex).exists(t =>
        t.getMessage != null && t.getMessage.contains("no latest-wins rule")), ex.toString)
    } finally q.stop()
    // the failed batch published nothing: the index still serves gen-0
    val served = Graft.text.bm25TopkAt(spark, root, Seq("vector"), 5).collect().toSeq
    val expected = graft.operators.TextAnalysis.bm25TopkOf(
      Seq((1L, "vector alpha")).toDF("doc_id", "text"), Seq("vector"), 5)
      .collect().toSeq
    assert(served == expected)
  }

  test("CDC ANN: upsert-then-delete of one vec within a batch stays dead (seq-ordered reduction)") {
    import spark.implicits._
    val v = Tables.embeddings(spark, sf)
    val base = v.filter(col("vec_id") <= 100)
    val root = java.nio.file.Files.createTempDirectory("graft-ann-cdc-seq").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ann-cdc-seq-ck").toString
    Graft.ann.build(base, "vec_id", "embedding", "label", root)
    val e150 = v.filter(col("vec_id") === 150L)
      .select(col("label"), col("embedding"))
      .as[(Int, Array[Float])].collect()(0)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Int, Array[Float], Long)]
    val q = streaming.StreamingAnnIngest.cdc(
      input.toDF().toDF("op", "vec_id", "label", "embedding", "seq"), root, ckpt)
    try {
      // same batch: add vec 150, then delete it (higher seq) — the
      // delete must win; un-reduced, deletes-first would resurrect it
      input.addData(Seq(
        ("upsert", 150L, e150._1, e150._2, 1L),
        ("delete", 150L, 0, Array.empty[Float], 2L)))
      q.processAllAvailable()
    } finally q.stop()
    val hits = Graft.ann.probe(spark, root, e150._2, nprobe = 8, k = 10).collect()
    assert(hits.nonEmpty && !hits.exists(_.getLong(0) == 150L),
      s"vec 150 resurrected: ${hits.mkString(",")}")
  }

  test("streaming text ingest: micro-batches become generations; BM25 == in-query exactly") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(col("doc_id") % 3 === 0)
    val rest = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val (b1, b2) = rest.splitAt(rest.length / 2)
    val root = java.nio.file.Files.createTempDirectory("graft-text-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-text-stream-ck").toString
    graft.operators.TextIndex.build(base, root)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = streaming.StreamingTextIngest.ingest(
      input.toDF().toDF("doc_id", "text"), root, ckpt)
    try {
      input.addData(b1.toSeq)
      q.processAllAvailable()
      input.addData(b2.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val served = Graft.text.bm25TopkAt(spark, root, Seq("vector", "hash"), 15)
      .collect().toSeq
    val inQuery = graft.operators.TextAnalysis
      .bm25TopkOf(docs, Seq("vector", "hash"), 15).collect().toSeq
    assert(served.nonEmpty && served == inQuery,
      s"stream-ingested text index diverged from in-query BM25:\n$served\nvs\n$inQuery")
    // the idempotence ledger rode the atomic manifest publish
    assert(graft.operators.TextIndex.batchApplied(spark, root, "stream-0"))
    assert(graft.operators.TextIndex.batchApplied(spark, root, "stream-1"))
    assert(!graft.operators.TextIndex.batchApplied(spark, root, "stream-99"))
  }

  test("drift monitor: incrementally absorbed PSI equals the batch recompute; replays are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (0 until 200)
      .map(i => (i % 100 * 1.0, if (i % 2 == 0) "a" else "b")).toDF("x", "c")
    val batch1 = (0 until 100).map(i => ((i % 50) + 50.0, "a"))
    val batch2 = (0 until 60).map(i => (i % 30 * 1.0, "z"))
    val input = MemoryStream[(Double, String)]
    val (q, m) = streaming.StreamingDriftMonitor.monitor(
      input.toDF().toDF("x", "c"), base, Seq("x"), Seq("c"),
      valueCols = Seq("x"))
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()
    val cur = (batch1 ++ batch2).toDF("x", "c")
    val want = graft.operators.Quality
      .driftPsi(base, cur, Seq("x"), Seq("c")).collect().toSeq
    val got = m.report(spark).collect().toSeq
    assert(got == want, s"monitor diverged from batch recompute:\n$got\nvs\n$want")
    assert(want.exists(_.getAs[Boolean]("drifted")),
      "planted shift should trip at least one alert")
    // replaying an already-absorbed batch id must not double-count
    m.absorb(cur, 0L)
    assert(m.report(spark).collect().toSeq == want)
    // the chi-square report runs off the SAME absorbed state
    val wantChi2 = graft.operators.Quality
      .driftChi2(base, cur, Seq("x"), Seq("c")).collect().toSeq
    assert(m.reportChi2(spark).collect().toSeq == wantChi2)
    // ...and the value-level statistics run off the absorbed
    // per-value counts: the whole drift QUARTET from one monitor
    assert(m.reportKs(spark).collect().toSeq ==
      graft.operators.Quality.driftKs(base, cur, Seq("x")).collect().toSeq)
    assert(m.reportW1(spark).collect().toSeq ==
      graft.operators.Quality.driftW1(base, cur, Seq("x")).collect().toSeq)
  }

  test("sliced drift monitor: per-slice quartet reports equal the batch per-slice recompute; a shift confined to one slice alerts only there") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two sources; the planted numeric shift lives ONLY in source s2
    val base = (0 until 400).map { i =>
      (i % 100 * 1.0, if (i % 2 == 0) "a" else "b", if (i % 2 == 0) "s1" else "s2")
    }.toDF("x", "c", "src")
    val batch1 = (0 until 100).map(i => (i % 100 * 1.0, "a", "s1")) // s1: no shift
    val batch2 = (0 until 100).map(i => ((i % 40) + 60.0, "b", "s2")) // s2: shifted up
    val input = MemoryStream[(Double, String, String)]
    val (q, m) = streaming.StreamingDriftMonitor.monitor(
      input.toDF().toDF("x", "c", "src"), base, Seq("x"), Seq("c"),
      valueCols = Seq("x"), sliceCol = Some("src"))
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()
    val cur = (batch1 ++ batch2).toDF("x", "c", "src")
    val g = Seq("src")
    // the law: every sliced monitor report equals its batch per-slice
    // recompute exactly (integer counts — no association drift)
    val wantPsi = graft.operators.Quality
      .driftPsi(base, cur, Seq("x"), Seq("c"), groupCols = g).collect().toSeq
    assert(m.report(spark).collect().toSeq == wantPsi)
    assert(m.reportChi2(spark).collect().toSeq ==
      graft.operators.Quality.driftChi2(base, cur, Seq("x"), Seq("c"),
        groupCols = g).collect().toSeq)
    assert(m.reportKs(spark).collect().toSeq ==
      graft.operators.Quality.driftKs(base, cur, Seq("x"), groupCols = g)
        .collect().toSeq)
    assert(m.reportW1(spark).collect().toSeq ==
      graft.operators.Quality.driftW1(base, cur, Seq("x"), groupCols = g)
        .collect().toSeq)
    // slice isolation: x drifted in s2, not in s1 — the per-slice
    // report localizes what a whole-column report would smear
    val psiBySlice = wantPsi.map(r =>
      (r.getString(0), r.getString(1)) -> r.getAs[Boolean]("drifted")).toMap
    assert(psiBySlice(("s2", "x")), psiBySlice.toString)
    assert(!psiBySlice(("s1", "x")), psiBySlice.toString)
  }

  test("heavy-hitters monitor: never misses a global heavy hitter, even one spread thin across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(41)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh", "ii", "jj")
    // 'hot' is heavy GLOBALLY but deliberately diluted per batch
    def mkBatch(nHot: Int, nNoise: Int): Seq[String] = {
      val toks = Seq.fill(nHot)("hot") ++
        (0 until nNoise).map(_ => vocab(rnd.nextInt(vocab.size)))
      rnd.shuffle(toks).grouped(9).map(_.mkString(" ")).toSeq
    }
    val b1 = mkBatch(40, 150)
    val b2 = mkBatch(45, 160)
    val b3 = mkBatch(38, 140)
    val k = 4
    val input = MemoryStream[String]
    val (q, m) = streaming.StreamingHeavyHitters.monitor(
      input.toDF().toDF("text"), k = k, eps = 0.01)
    try {
      Seq(b1, b2, b3).foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val all = (b1 ++ b2 ++ b3).flatMap(_.split(" ")).filter(_.nonEmpty)
    val n = all.size
    assert(m.totalTokens == n)
    val exact = all.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * (k + 1) > n }.toMap
    assert(exact.contains("hot"), "fixture must plant a global heavy hitter")
    val got = m.report(spark).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // completeness: every exact heavy hitter is reported...
    exact.foreach { case (t, c) =>
      assert(got.contains(t), s"missed heavy hitter $t")
      // ...with a one-sided estimate within eps·N
      assert(got(t) >= c && got(t) <= c + math.ceil(0.01 * n).toLong,
        s"$t est ${got(t)} vs exact $c")
    }
    // replaying an absorbed batch id must not double-count
    m.absorb(Seq("hot hot hot").toDF("text"), 0L)
    assert(m.totalTokens == n)
  }

  test("lateness monitor: buckets arrivals against the running event-time frontier") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val input = MemoryStream[(Option[java.sql.Timestamp], String)]
    val (q, m) = streaming.StreamingLateness.monitor(
      input.toDF().toDF("ts", "v"), "ts")
    try {
      // first batch: ALL-NULL event times — must not crash, must not
      // advance the frontier, counts into the null_ts bucket
      input.addData((None, "n0"), (None, "n1"))
      q.processAllAvailable()
      // second batch: no frontier yet — everything on time
      input.addData((Some(t("10:00:00")), "a"), (Some(t("10:05:00")), "b"))
      q.processAllAvailable()
      // third batch vs frontier 10:05:00; a null ts rides along
      input.addData(
        (Some(t("10:04:59.5")), "c"),  // 0.5 s late  -> late_lt_1s
        (Some(t("10:04:30")), "d"),    // 30 s late   -> late_lt_60s
        (Some(t("09:00:00")), "e"),    // 65 min late -> late_beyond
        (Some(t("10:06:00")), "f"),    // ahead       -> on_time
        (None, "n2"))                  // null        -> null_ts
      q.processAllAvailable()
    } finally q.stop()
    val got = m.report(spark).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("on_time" -> 3L, "late_lt_1s" -> 1L,
      "late_lt_10s" -> 0L, "late_lt_60s" -> 1L, "late_beyond" -> 1L,
      "null_ts" -> 3L), got.toString)
    // replay of an absorbed batch id is a no-op
    m.absorb(Seq((Some(t("08:00:00")), "x")).toDF("ts", "v"), 1L)
    assert(m.report(spark).collect().map(_.getLong(1)).sum == 9L)
  }
}
