package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{Relational, SchemaUnion}

class RelationalSpec extends SparkSpec {

  test("every registered query runs and every query has its oracle") {
    assert(SparkEntry.queries.nonEmpty)
    val missingOracle = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missingOracle.isEmpty, s"oracles without queries: $missingOracle")
  }

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("dbMerge: union of columns, NULL padding, alphabetical order") {
    import spark.implicits._
    val x = Seq((1, "a")).toDF("k", "b_col")
    val y = Seq((2, 9.5)).toDF("k", "a_col")
    val m = SchemaUnion.dbMerge(x, y)
    assert(m.columns.toSeq == Seq("a_col", "b_col", "k"))
    val rows = m.orderBy("k").collect().toSeq
    assert(rows == Seq(Row(null, "a", 1), Row(9.5, null, 2)))
  }

  test("u1 schema union pads missing columns with null") {
    val df = Relational.queries("u1_schema_union")(spark, sf)
    assert(df.columns.toSeq == df.columns.toSeq.sorted)
    assert(df.filter(col("nation").isNull).count() > 0)
    assert(df.filter(col("acctbal").isNull).count() > 0)
  }

  test("u4 keep-first dedup keeps exactly one row per key") {
    val df = Relational.queries("u4_keepfirst_dedup")(spark, sf)
    assert(df.groupBy("o_custkey").count().filter(col("count") > 1).count() == 0)
  }

  test("x2 explode_outer emits a NULL row for unmatched docs") {
    val df = Relational.queries("x2_classify_explode_outer")(spark, sf)
    val docs = Tables.documents(spark, sf).count()
    // every doc appears at least once (outer), matched docs more than once
    assert(df.select("doc_id").distinct().count() == docs)
  }

  test("x1 double explode word counts reconstruct sentence sizes") {
    val df = Relational.queries("x1_double_explode")(spark, sf)
    val bad = df.groupBy("doc_id", "sent_idx").count()
      .filter(col("count") <= 3) // kept sentences all have > 3 words
    assert(bad.count() == 0)
  }

  test("w1 fill-forward never un-fills within a user") {
    val df = Relational.queries("w1_fill_forward")(spark, sf)
    assert(df.count() == Tables.events(spark, sf).count())
  }

  test("w3 positional repair rewrites exactly 5 rows") {
    val df = Relational.queries("w3_positional_repair")(spark, sf)
    assert(df.filter(col("source_fixed").startsWith("repair-")).count() == 5)
  }

  test("q3 ordered limit is deterministic") {
    val a = Relational.queries("q3_top_revenue")(spark, sf).collect().toSeq
    val b = Relational.queries("q3_top_revenue")(spark, sf).collect().toSeq
    assert(a == b && a.size == 10)
  }

  test("f6 NA-coercion produces literal NA prefix for nullified fields") {
    val df = Relational.queries("f6_na_concat")(spark, sf)
    assert(df.filter(col("description").startsWith("NA: ")).count() > 0)
    assert(df.filter(col("description").isNull).count() == 0)
  }

  test("a8 approx sketches are within their published bounds (the oracle contract)") {
    // the query itself now carries the approx-vs-exact check as
    // within_bounds booleans (r3 VERDICT #1); a drifting sketch flips
    // one to false and fails BOTH this spec and the driver oracle
    val rows = SparkEntry.queries("a8_approx_stats")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(r.fieldIndex("parts_within_bounds")), s"HLL++ out of bounds: $r")
      assert(r.getBoolean(r.fieldIndex("median_within_bounds")), s"approx median out of bounds: $r")
    }
    // and the exact stats the oracle compares against are the true ones
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("parts"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("exact_parts")) == exact(r.getString(0)))
    }
  }

  test("registerViews serves the CURRENT dir's data — no stale memo (ADVICE r3)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    graft.operators.SqlSurface.registerViews(spark, sf)
    val fullCount = spark.sql("SELECT count(*) AS n FROM region").collect()(0).getLong(0)
    assert(fullCount > 3)
    // a second dir with the same tables but a truncated region: the old
    // SparkSession-keyed memo would keep serving the first registration
    val dir2 = Files.createTempDirectory("graft-views").toString
    Tables.names.foreach { t =>
      Files.copy(Paths.get(sf, s"$t.parquet"), Paths.get(dir2, s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Tables.region(spark, sf).limit(3).write.mode("overwrite")
      .parquet(s"$dir2/region.parquet")
    graft.operators.SqlSurface.registerViews(spark, dir2)
    assert(spark.sql("SELECT count(*) AS n FROM region").collect()(0).getLong(0) == 3)
    // and re-registering the original dir switches straight back
    graft.operators.SqlSurface.registerViews(spark, sf)
    assert(spark.sql("SELECT count(*) AS n FROM region").collect()(0).getLong(0) == fullCount)
  }

  test("upsertByKey replaces null-keyed rows too (null-safe anti-join)") {
    import spark.implicits._
    val base = Seq((Option(1L), "old1"), (Option.empty[Long], "oldnull"), (Option(2L), "keep"))
      .toDF("id", "v")
    val updates = Seq((Option(1L), "new1"), (Option.empty[Long], "newnull")).toDF("id", "v")
    val out = graft.operators.RelationalExt.upsertByKey(base, updates, Seq("id")).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1)).toMap
    assert(out == Map(1L -> "new1", -1L -> "newnull", 2L -> "keep"))
  }

  test("j4 salted join populates all salt values (true 8-way split)") {
    // regression for r3 VERDICT #2: l_linenumber % 8 never yielded salt 0
    val salts = Tables.lineitem(spark, sf)
      .select(pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(8)).as("salt"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(salts == (0 until 8).toSet, s"salt values: $salts")
  }

  test("u9 merge identity: merge(agg(base), agg(delta)) == agg(base UNION delta), one-sided keys included") {
    import spark.implicits._
    val base = Seq((1L, 2L, BigDecimal("10.00")), (2L, 1L, BigDecimal("5.50")))
      .toDF("k", "n_orders", "revenue")
    val delta = Seq((2L, 3L, BigDecimal("1.25")), (3L, 1L, BigDecimal("7.00")))
      .toDF("k", "n_orders", "revenue")
    val merged = operators.RelationalExt
      .mergeAggStates(base, delta, Seq("k"), Seq("n_orders", "revenue"))
      .select(col("k"), col("n_orders"), col("revenue").cast("double"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(merged.toSeq == Seq((1L, 2L, 10.0), (2L, 4L, 6.75), (3L, 1L, 7.0)))
  }


  test("u11 join-view decomposition: incremental refresh == full recompute on random disjoint splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for (round <- 1 to 3) {
      val facts = (0 until 40).map(i =>
        (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(100)))
      val dims = (0L until 8L).map(k => (k, s"d$k"))
      val (aRows, daRows) = facts.partition(_ => rnd.nextBoolean())
      val (bRows, dbRows) = dims.partition(_ => rnd.nextBoolean())
      val a = aRows.toDF("fid", "k", "v"); val da = daRows.toDF("fid", "k", "v")
      val bNew = dims.toDF("k", "name"); val db = dbRows.toDF("k", "name")
      val bOld = bRows.toDF("k", "name")
      val incr = operators.RelationalExt.mergeJoinView(
        a.join(bOld, Seq("k")), a, da, bNew, db, Seq("k"))
      val full = facts.toDF("fid", "k", "v").join(dims.toDF("k", "name"), Seq("k"))
      assert(incr.exceptAll(full).isEmpty && full.exceptAll(incr).isEmpty,
        s"round $round: decomposition != recompute")
    }
  }

  test("u12 distinct-state merge: estimate(merge(base, delta)) == estimate(single-pass sketch of the union), one-sided keys included") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (0 until 300).map(_ => (rnd.nextInt(4).toLong, rnd.nextInt(60).toLong))
    val (bRows, dRows) = rows.partition(_ => rnd.nextBoolean())
    // key 9 exists only in the delta — the carry-through case
    val dAll = dRows ++ Seq((9L, 1L), (9L, 2L))
    def sk(xs: Seq[(Long, Long)]) = xs.toDF("k", "v").groupBy("k")
      .agg(hll_sketch_agg(col("v"), lit(12)).as("sk"))
    val merged = operators.RelationalExt
      .mergeDistinctStates(sk(bRows), sk(dAll), Seq("k"), "sk")
      .select(col("k"), hll_sketch_estimate(col("sk")).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = sk(bRows ++ dAll)
      .select(col("k"), hll_sketch_estimate(col("sk")).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // register max-merge is LOSSLESS vs the single-pass sketch — exact
    // equality, not approximate agreement
    assert(merged == whole, s"$merged vs $whole")
    assert(merged.contains(9L))
  }

  test("f_bits: algebraic identities of the bitwise family hold row-wise") {
    val out = Relational.queries("f_bits")(spark, sf)
    // AND + OR = a + b; XOR = OR - AND; shifts are *4 and div 2
    assert(out.filter(col("b_and") + col("b_or") =!= col("l_orderkey") + col("l_partkey")).count() == 0)
    assert(out.filter(col("b_xor") =!= col("b_or") - col("b_and")).count() == 0)
    assert(out.filter(col("b_shl") =!= col("l_orderkey") * 4).count() == 0)
    assert(out.filter(col("b_shr") =!= expr("l_orderkey DIV 2")).count() == 0)
    assert(out.filter(col("b_pop") < 0 || col("b_pop") > 64).count() == 0)
  }


  test("a13_mode: one row per group; no value beats the mode's count") {
    val out = operators.RelationalExt.queries("a13_mode")(spark, sf)
    val groups = Tables.lineitem(spark, sf).select("l_returnflag").distinct().count()
    assert(out.count() == groups)
    val counts = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_quantity")).count()
    val maxes = counts.groupBy("l_returnflag").agg(max("count").as("mx"))
    assert(out.join(maxes, "l_returnflag")
      .filter(col("n_occurrences") =!= col("mx")).count() == 0)
  }

  test("pipeline_release_manifest: shares sum to 1 per split; docs reconcile with clean corpus") {
    val out = pipelines.CleanCorpus.queries("pipeline_release_manifest")(spark, sf)
    val bad = out.groupBy("split").agg(sum("lang_share").as("s"))
      .filter(abs(col("s") - 1.0) > 1e-4)
    assert(bad.count() == 0)
    val kept = pipelines.CleanCorpus.queries("pipeline_clean_corpus")(spark, sf).count()
    assert(out.agg(sum("n_docs")).collect()(0).getLong(0) == kept)
  }

  test("a14 winsorize approx: a one-row group's envelope is its value, not NULL") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-winsor-one").toString
    val li = Tables.lineitem(spark, sf)
    // every existing flag keeps its rows; flag 'Z' gets exactly one
    li.unionByName(li.limit(1).withColumn("l_returnflag", lit("Z")))
      .write.parquet(s"$tmp/lineitem.parquet")
    val one = operators.RelationalExt.queries("a14_winsorize_approx")(spark, tmp)
      .filter(col("flag") === "Z").collect()
    assert(one.length == 1)
    val r = one.head
    assert(r.getAs[Long]("n") == 1)
    // the sketch's bounds equal the one value and sit inside the
    // exact envelope; a NULL envelope made both checks NULL
    assert(r.getAs[Any]("lo_within_bounds") == true &&
      r.getAs[Any]("hi_within_bounds") == true, s"envelope: $r")
  }

}
