package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.pipelines.HiCsa
import graft.sources.Sources

/** Golden-parity tests (SURVEY §5.2): miniature fixtures exercising the
  * reference pipeline's observable quirks — NA string-coercion, inner vs
  * outer explode, keep-first dedup, positional repair, alphabetical
  * db_merge ordering — with exact expected rows. */
class HiCsaSpec extends SparkSpec {
  import spark.implicits._

  private def scraped = Seq(
    // (Mitigation, Practice, Description, Resource, doc_pos)
    ("Soil Health", "Cover Crop", "plant cover", "/docs/cc.pdf", 1L),
    ("Soil Health", "Cover Crop", "dup practice, later pos", "http://x/cc2", 2L),
    ("Energy Efficiency", "Old A", "desc a", "http://x/a", 3L),
    ("Energy Efficiency", "Old B", "desc b", "http://x/b", 4L),
    ("Nutrient Mgmt", null, "no practice scraped", "http://x/n", 5L))
    .toDF("Mitigation", "Practice", "Description", "Resource", "doc_pos")

  private val lexicon = Seq("cover" -> "Cover Crop", "nutrient" -> "Nutrient Plan")

  test("technicalDb absolutizes only relative URLs (P7)") {
    val t = HiCsa.technicalDb(scraped, "https://base.org")
    val urls = t.orderBy("doc_pos").select("Resource").as[String].collect().toSeq
    assert(urls == Seq("https://base.org/docs/cc.pdf", "http://x/cc2",
      "http://x/a", "http://x/b", "http://x/n"))
  }

  test("practiceLookup keeps the FIRST occurrence in document order (U4)") {
    val lookup = HiCsa.practiceLookup(HiCsa.technicalDb(scraped, "https://base.org"))
    val cc = lookup.filter(col("Practice") === "Cover Crop").collect()
    assert(cc.length == 1 && cc(0).getString(1) == "Soil Health")
  }

  test("policyDb: NA coercion, outer explode, lookup join with null misses (F6/X2/J1)") {
    val policy = Seq(
      // matches both lexicon keywords -> 2 rows
      (Option("P1"), Option("covers cover and nutrient goals"), Option("v1"),
        Option("cover nutrient"), Option("r1")),
      // matches nothing, all-null paste inputs -> the literal NA row
      (Option.empty[String], Option.empty[String], Option.empty[String],
        Option("unrelated goals"), Option("r2")))
      .toDF("GuidingPolicy", "PolicyDescription", "Verbiage", "CsaGoals", "Resource")
    val pracMiti = Seq(("Cover Crop", "Soil Health")).toDF("Practice", "Mitigation")
    val rows = HiCsa.policyDb(policy, lexicon, pracMiti)
      .orderBy(asc_nulls_last("Practice")).collect().toSeq
    assert(rows == Seq(
      Row("Policy", "Soil Health", "Cover Crop", "P1: covers cover and nutrient goals See v1.", "r1"),
      // practice matched by the classifier but absent from the lookup -> null Mitigation
      Row("Policy", null, "Nutrient Plan", "P1: covers cover and nutrient goals See v1.", "r1"),
      // no classifier match -> single row with null practice + R's "NA" coercion
      Row("Policy", null, null, "NA: NA See NA.", "r2")))
  }

  test("repairTechnical overwrites by POSITION; repairNaPractice fills both constants (W3)") {
    val repaired = HiCsa.repairTechnical(scraped, "Energy Efficiency", Seq("New A", "New B"))
    val energy = repaired.filter(col("Mitigation") === "Energy Efficiency")
      .orderBy("doc_pos").select("Practice").as[String].collect().toSeq
    assert(energy == Seq("New A", "New B"))
    // Rmd:582-583: null-Practice rows get BOTH constants (Mitigation
    // keyed off the ORIGINAL null Practice), other rows untouched
    val filled = HiCsa.repairNaPractice(repaired, "Conservation Efforts", "Support Pollinators")
    val naRow = filled.filter(col("doc_pos") === 5L).collect()(0)
    assert(naRow.getString(0) == "Conservation Efforts")
    assert(naRow.getString(1) == "Support Pollinators")
    assert(filled.filter(col("Mitigation") === "Nutrient Mgmt").count() == 0)
    assert(filled.filter(col("Practice") === "New A").count() == 1)
    // Rmd:585: targeted rewrite hits only the named mitigation
    val rewritten = HiCsa.repairPracticeWhere(filled, "Soil Health", "Wetland Restoration")
    assert(rewritten.filter(col("Practice") === "Wetland Restoration").count() == 2)
  }

  test("finalDb unions the three streams, drops null mitigation, canonical order (U2/P2)") {
    val tech = HiCsa.repairTechnical(
      HiCsa.technicalDb(scraped, "https://base.org"), "Energy Efficiency", Seq("New A", "New B"))
    val policy = Seq(("Policy", "Soil Health", "Cover Crop", "d", "r"))
      .toDF("Type", "Mitigation", "Practice", "Description", "Resource")
    val support = Seq(
      (Option("Support"), Option("Outreach"), Option.empty[String], Option("s-desc"), Option("s-r")),
      (Option("Support"), Option("Outreach"), Option.empty[String], Option.empty[String], Option("dropped")))
      .toDF("Type", "Mitigation", "Practice", "Description", "Resource")
    val db = HiCsa.finalDb(tech, policy, HiCsa.supportDb(support))
    assert(db.columns.toSeq == Seq("Type", "Mitigation", "Practice", "Description", "Resource"))
    assert(db.count() == 7) // 5 technical + 1 policy + 1 support (null-desc dropped)
    assert(db.filter(col("Type") === "Support").count() == 1)
    val preview = HiCsa.preview(db, 3).select("Mitigation").as[String].collect().toSeq
    assert(preview == preview.sorted)
  }

  test("cacheOrCompute computes once, then serves the parquet cache (S1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cache").toString
    val path = s"$dir/cached"
    var computes = 0
    def thunk = { computes += 1; Seq((1, "a"), (2, "b")).toDF("k", "v") }
    val first = Sources.cacheOrCompute(spark, path)(thunk)
    assert(first.count() == 2 && computes == 1)
    val second = Sources.cacheOrCompute(spark, path)(thunk)
    assert(second.count() == 2 && computes == 1) // cache hit: thunk not re-evaluated
  }

  test("headerless CSV scan yields positional columns (S5)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv")
    val f = dir.resolve("t.csv")
    java.nio.file.Files.writeString(f, "a,1\nb,2\n")
    val df = Sources.readHeaderlessCsv(spark, f.toString)
    assert(df.columns.toSeq == Seq("_c0", "_c1"))
    assert(df.count() == 2)
  }

  test("JSONL round-trips with explicit schema; corrupt lines land in _corrupt_record") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    Sources.writeJsonl(
      Tables.documents(spark, sf).select("doc_id", "lang").limit(50), s"$dir/docs")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType)))
    val back = Sources.readJsonl(spark, s"$dir/docs", schema)
    assert(back.count() == 50)
    assert(back.schema == schema)
    // corrupt line: PERMISSIVE mode captures instead of failing the job
    val f = java.nio.file.Paths.get(dir, "bad.jsonl")
    java.nio.file.Files.writeString(f, "{\"doc_id\": 1, \"lang\": \"en\"}\nnot json at all\n")
    // cache first: Spark disallows querying only the corrupt-record
    // column straight off the raw file (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val withCorrupt = Sources.readJsonl(spark, f.toString,
      schema.add(StructField("_corrupt_record", StringType))).cache()
    try {
      assert(withCorrupt.count() == 2)
      assert(withCorrupt.filter(col("_corrupt_record").isNotNull).count() == 1)
    } finally withCorrupt.unpersist()
  }

  test("parquet sink round-trips with and without compression (K1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val df = Seq((1, "x")).toDF("k", "v")
    Sources.writeParquet(df, s"$dir/c", compressed = true)
    Sources.writeParquet(df, s"$dir/u", compressed = false)
    assert(spark.read.parquet(s"$dir/c").collect().toSeq ==
      spark.read.parquet(s"$dir/u").collect().toSeq)
  }

  test("ORC sink/scan round-trips and pushes predicates to the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val df = Tables.orders(spark, sf)
    Sources.writeOrc(df, s"$dir/o", compressed = true)
    Sources.writeOrc(df, s"$dir/u", compressed = false)
    val back = Sources.readOrc(spark, s"$dir/o")
    assert(back.count() == df.count())
    assert(Sources.readOrc(spark, s"$dir/u").count() == df.count())
    // same pushdown machinery as parquet: the filter reaches the ORC scan
    val q = back.filter(col("o_orderpriority") === "1-URGENT")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority,1-URGENT)]"), p)
    assert(q.count() == df.filter(col("o_orderpriority") === "1-URGENT").count())
  }

  test("compact rewrites a many-small-files directory into the computed file count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    Tables.orders(spark, sf).repartition(20).write.parquet(s"$dir/small")
    val smallFiles = new java.io.File(s"$dir/small").listFiles.count(_.getName.endsWith(".parquet"))
    assert(smallFiles == 20)
    // target far above the data size → everything compacts to one file
    val n = Sources.compact(spark, s"$dir/small", s"$dir/big")
    assert(n == 1)
    val bigFiles = new java.io.File(s"$dir/big").listFiles.count(_.getName.endsWith(".parquet"))
    assert(bigFiles == 1)
    assert(spark.read.parquet(s"$dir/big").count() == Tables.orders(spark, sf).count())
  }

  test("writeBucketed/bucketedTable: layout round-trips; multi-writer keeps bucket files consistent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt").toString
    val df = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // multi-writer path: 2 writer tasks → up to 2 files per bucket;
    // rows still land in the right bucket, contents round-trip exactly
    Sources.writeBucketed(df, s"$dir/o", "o_orderkey", buckets = 4, writerTasks = 2)
    val tbl = s"graft_bkt_spec_${System.nanoTime()}"
    val back = Sources.bucketedTable(spark, tbl, s"$dir/o",
      df.schema.toDDL, "o_orderkey", 4)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    // the catalog entry reports the bucket spec and the scan uses it:
    // a self-join on the bucket key plans without any exchange
    val j = back.as("a").join(back.hint("merge").as("b"), "o_orderkey")
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("SelectedBucketsCount"), p)
    assert(!p.contains("Exchange"), p)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("writeSortedByKey lays out tight key ranges per file (scan pruning)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sorted").toString
    val df = Tables.orders(spark, sf)
    Sources.writeSortedByKey(df, s"$dir/o", "o_orderkey", 4)
    val back = spark.read.parquet(s"$dir/o")
    assert(back.count() == df.count())
    // file ranges must not overlap: max(key) of file i < min(key) of file i+1
    val ranges = back
      .withColumn("f", col("_metadata.file_path"))
      .groupBy("f").agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .orderBy("lo").collect()
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"))
      case _ =>
    }
  }

  test("the range writers lay out an input the same way whatever the session ran before") {
    // Spark's range exchange seeds its sample with the RDD id; 6000 rows
    // is more than it samples for 16 files, so that layout moved with
    // the number of RDDs built before the write
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    def layout(write: String => Unit): Seq[(Long, Long, Long)] = {
      spark.sparkContext.parallelize(1 to 2) // one more RDD id
      val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
      write(dir)
      spark.read.parquet(dir).groupBy(col("_metadata.file_path"))
        .agg(min("l_orderkey"), max("l_orderkey"), count(lit(1))).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    }
    val sorted = (d: String) => Sources.writeSortedByKey(li, d, "l_orderkey", 16)
    val z = (d: String) => Sources.writeZOrdered(li, d, Seq("l_orderkey", "l_partkey"), 16)
    assert(layout(sorted) == layout(sorted))
    assert(layout(z) == layout(z))
  }

  test("writeZOrdered clusters BOTH keys: a range filter on either dim touches few files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val nFiles = 16
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_quantity")
    Sources.writeZOrdered(li, s"$dir/z", Seq("l_orderkey", "l_partkey"), nFiles)
    Sources.writeSortedByKey(li, s"$dir/s", "l_orderkey", nFiles)
    val z = spark.read.parquet(s"$dir/z")
    assert(z.count() == li.count())
    // proxy for row-group pruning: how many files CONTAIN rows of a
    // narrow range on each dim (a pruned scan reads only those)
    def filesTouched(path: String, predCol: String, lo: Long, hi: Long): Long =
      spark.read.parquet(path)
        .filter(col(predCol) >= lo && col(predCol) <= hi)
        .select(col("_metadata.file_path")).distinct().count()
    val Row(pkLo: Long, pkHi: Long) = li
      .agg(min("l_partkey").as("lo"), max("l_partkey").as("hi")).collect()(0)
    val pkMid = (pkLo + pkHi) / 2
    val pkW = math.max(1L, (pkHi - pkLo) / 16)
    // on the SECONDARY dim the single-key layout scatters the range
    // across ~every file; the z-layout confines it to a fraction
    val zTouch = filesTouched(s"$dir/z", "l_partkey", pkMid, pkMid + pkW)
    val sTouch = filesTouched(s"$dir/s", "l_partkey", pkMid, pkMid + pkW)
    assert(zTouch < sTouch,
      s"z-order touched $zTouch files vs sorted layout $sTouch")
    assert(zTouch <= nFiles / 2, s"z-order touched $zTouch of $nFiles files")
    // the Morton tradeoff: dim A gives up some of its perfect sorted
    // locality to buy dim B's — A must still prune (fewer than all
    // files), and ACROSS both query shapes the z layout reads fewer
    // files than the single-key layout
    val Row(okLo: Long, okHi: Long) = li
      .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi")).collect()(0)
    val okW = math.max(1L, (okHi - okLo) / 16)
    val zTouchA = filesTouched(s"$dir/z", "l_orderkey", (okLo + okHi) / 2, (okLo + okHi) / 2 + okW)
    val sTouchA = filesTouched(s"$dir/s", "l_orderkey", (okLo + okHi) / 2, (okLo + okHi) / 2 + okW)
    assert(zTouchA < nFiles, s"z-order touched all $nFiles files on dim A")
    assert(zTouchA + zTouch < sTouchA + sTouch,
      s"z layout ($zTouchA + $zTouch) should beat sorted ($sTouchA + $sTouch) across both dims")
  }

  test("withDocPos assigns a stable dense global position without a global sort") {
    val dir = java.nio.file.Files.createTempDirectory("graft-docpos").toString
    import spark.implicits._
    Sources.writeParquet((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(5), s"$dir/t")
    val a = Sources.withDocPos(spark, s"$dir/t")
    val b = Sources.withDocPos(spark, s"$dir/t")
    assert(a.count() == 100)
    // dense 0..99, and identical across re-reads
    assert(a.select("doc_pos").as[Long].collect().sorted.toSeq == (0L until 100L))
    assert(a.orderBy("doc_pos").select("k").collect().toSeq ==
      b.orderBy("doc_pos").select("k").collect().toSeq)
  }
}
