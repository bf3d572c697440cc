package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational breadth beyond the reference's direct surface (SURVEY
  * §2.4/§2.5 note these as "trivially available" — made explicit here
  * so the engine's join/set/agg surface is complete): semi/anti joins,
  * intersect/except, rollup/cube, pivot, and the salted-join skew
  * mitigation pattern.
  */
object RelationalExt {
  type Q = (SparkSession, String) => DataFrame

  private val Salt = 8

  // ----------------------------------------------------------------
  // Salted join — the manual skew-mitigation pattern
  // ----------------------------------------------------------------

  /** Skew-proof fact join: the big side salts its key (deterministic
    * salt from an existing column), the small side replicates across
    * all salt values; the join key becomes (key, salt), splitting any
    * hot key across Salt reducers. Semantically identical to the plain
    * join — the oracle IS the plain join. AQE's skew-join handles the
    * common case at runtime; explicit salting is the belt-and-braces
    * pattern for known-pathological keys at 100 TB. */
  private def j4SaltedJoin: Q = (s, dir) => {
    // pmod(hash) covers ALL Salt values: l_linenumber % 8 over TPC-H's
    // 1..7 range never produced salt 0, so 1/8 of the replicated build
    // side was dead weight carried through the shuffle (r3 VERDICT #2)
    val l = Tables.lineitem(s, dir)
      .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(Salt)))
    // SHUFFLE_HASH, not broadcast: the planner otherwise broadcasts the
    // REPLICATED build side (8x orders — a multi-second single-threaded
    // driver hash-relation build here, an 8x-inflated broadcast at any
    // scale), which defeats the pattern: salting exists to level a
    // SHUFFLED join's reducers (guide §2.5/§3.1 — the build side per
    // partition is the small one, hash beats sort-merge, and a
    // broadcastable side would need no salt at all)
    val o = Tables.orders(s, dir)
      .withColumn("salt", explode(sequence(lit(0), lit(Salt - 1))))
      .hint("shuffle_hash")
    l.join(o, l("l_orderkey") === o("o_orderkey") && l("salt") === o("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        // exact decimal sum; final cast to double = comparator-stable repr
        sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))"))
          .cast("double").as("revenue"))
  }

  private val j4SaltedJoinSql =
    """SELECT o_orderpriority, count(*) AS n_items,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  // ----------------------------------------------------------------
  // Semi / anti joins
  // ----------------------------------------------------------------

  /** Customers with vs without orders: left_semi ∪ left_anti, tagged —
    * the J3 `visited` check's two halves made explicit. */
  private def j5SemiAnti: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).select(col("o_custkey"))
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("active").as("status"))
    val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("prospect").as("status"))
    withOrders.unionByName(without)
  }

  private val j5SemiAntiSql =
    """SELECT c_custkey, 'active' AS status FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |UNION ALL
      |SELECT c_custkey, 'prospect' FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  // ----------------------------------------------------------------
  // Bloom-filter semi-join reduction
  // ----------------------------------------------------------------

  /** Bloom capacity the demo sizes for: production passes the dim
    * side's expected key count from table stats. 1M items over 8M bits
    * ≈ 2% fpp at capacity (far lower when under-filled); the serialized
    * filter is ~1 MB — a broadcast-scale constant. */
  private val BloomExpectedItems = 1000000L
  private val BloomNumBits = 8000000L

  /** Reusable bloom semi-join reduction: filter `fact` down to rows
    * whose `factKey` might match `dim`'s `dimKey` BEFORE any shuffle.
    * Two jobs: (1) build the filter with Spark's own mergeable
    * `BloomFilterAggregate` (map-side partials, one ~1 MB row to the
    * driver — model-sized, like a k-means model); (2) apply Spark's
    * codegen'd `might_contain` with the filter riding the plan as a
    * foldable binary literal, deserialized once per task. False
    * positives pass (and must be removed by the real join downstream);
    * false negatives are impossible, so the reduction is semantically
    * free. */
  def bloomReduce(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, expectedItems: Long = BloomExpectedItems,
      numBits: Long = BloomNumBits): DataFrame = {
    org.apache.spark.sql.graft.GraftFunctions.register(fact.sparkSession)
    val bloom = dim.agg(call_function("graft_bloom_agg",
      col(dimKey), lit(expectedItems), lit(numBits)).as("bf"))
      .head.getAs[Array[Byte]](0)
    fact.filter(call_function("graft_bloom_contains", lit(bloom), col(factKey)))
  }

  /** The explicit form of Spark's runtime-filter optimization
    * (`InjectRuntimeFilter`), exposed as an operator for the shapes the
    * optimizer rule won't fire on — a pre-computed/cached dim frame, a
    * filter reused across many queries, or a dim predicate too complex
    * for its heuristics. The urgent-orders dim keeps ~20% of orders, so
    * the bloom drops ~80% of lineitem BEFORE the join's exchange — at
    * 100 TB that is the difference between shuffling 100 TB and 20 TB
    * of fact rows. The join itself then removes bloom false positives:
    * the result equals the plain join exactly (the oracle IS the plain
    * join). */
  private def j8BloomJoin: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val l = bloomReduce(Tables.lineitem(s, dir), "l_orderkey", o, "o_orderkey")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))"))
          .cast("double").as("revenue"))
  }

  private val j8BloomJoinSql =
    """SELECT l_linestatus, count(*) AS n_items,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_linestatus""".stripMargin

  // ----------------------------------------------------------------
  // Bucketed co-located join: zero-exchange SMJ over two fact tables
  // ----------------------------------------------------------------

  private val BktVersion = 1
  private[operators] val BktBuckets = 8

  /** Build-and-register one bucketed join side: the FILES are built
    * once per source fingerprint through the shared cached-index
    * machinery — written `bucketBy(n, key).sortBy(key)` with ONE
    * writer task, so every bucket is exactly one sorted file (the
    * shape Spark requires to trust the sort order at read) — and the
    * catalog entry (in-memory here, so per-JVM) is re-created over the
    * existing files with the same `CLUSTERED BY` DDL: the standard
    * external-bucketed-table deployment — data on the object store,
    * DDL in the metastore. The table name carries the live build
    * path's hash, so a fingerprint rebuild can never serve through a
    * stale catalog entry. */
  private def bucketedView(s: SparkSession, dir: String, table: String,
      key: String, projection: DataFrame => DataFrame): String = {
    val path = Similarity.cachedIndex(s, dir, s"bkt_$table", BktVersion,
        srcTable = s"$table.parquet") { p =>
      graft.sources.Sources.writeBucketed(
        projection(Tables(s, dir, table)), p, key, BktBuckets)
    }
    val tbl = s"graft_bkt_${table}_${java.lang.Integer.toHexString(path.hashCode)}"
    graft.sources.Sources.bucketedTable(s, tbl, path,
      projection(Tables(s, dir, table)).schema.toDDL, key, BktBuckets)
    tbl
  }

  /** `j9_bucketed_join` — the co-location answer to the 100 TB
    * fact-to-fact join: both sides PRE-BUCKETED on the join key into
    * the same bucket count, so join, per-order aggregate, AND top-k
    * all run with ZERO shuffle exchanges (PlanSpec-pinned) — the scan
    * partitioning satisfies the SMJ's distribution, the join's
    * partitioning satisfies the aggregate's (o_orderkey is a subset of
    * the grouping keys), and the final ordering is a
    * TakeOrderedAndProject. At 100 TB this is THE nightly-pipeline
    * layout decision: pay the layout shuffle once at ingest, then
    * every downstream orderkey join is exchange-free; bucket count
    * scales to thousands (it is the join parallelism), 8 here only to
    * match the sandbox's data size. The `merge` hint keeps the plan
    * SMJ so the demo measures the bucketed path, not a
    * broadcast-sized special case. */
  private def j9BucketedJoin: Q = (s, dir) => {
    val oTbl = bucketedView(s, dir, "orders", "o_orderkey",
      _.select(col("o_orderkey"), col("o_orderpriority")))
    val lTbl = bucketedView(s, dir, "lineitem", "l_orderkey",
      _.select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")))
    val o = s.table(oTbl)
    val l = s.table(lTbl)
    l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))")).as("rev"))
      .orderBy(col("rev").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_orderpriority"), col("n_items"),
        col("rev").cast("double").as("revenue"))
  }

  private val j9BucketedJoinSql =
    """SELECT o_orderkey, o_orderpriority, count(*) AS n_items,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderkey, o_orderpriority
      |ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))) DESC, o_orderkey
      |LIMIT 10""".stripMargin

  // ----------------------------------------------------------------
  // Materialized-view rewrite (aggregate navigation)
  // ----------------------------------------------------------------

  private val MatViewVersion = 1

  /** The lineitem summary [[org.apache.spark.sql.graft.MatViewRewrite]]
    * navigates to: grouped by the (returnflag, linestatus) keys with
    * count(*) and sum/min/max of quantity — the u9 incremental-agg
    * shape persisted as a table (built through the shared cached-index
    * machinery: fingerprinted against the source, rebuilt iff lineitem
    * changes, atomically published). */
  private def lineitemMatView(s: SparkSession, dir: String): String =
    Similarity.cachedIndex(s, dir, "matview_li", MatViewVersion,
        srcTable = "lineitem.parquet") { path =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity")).as("s_qty"),
          min(col("l_quantity")).as("mn_qty"),
          max(col("l_quantity")).as("mx_qty"))
        .coalesce(1)
        .write.parquet(path)
    }

  /** `u10_matview_rewrite` — aggregate navigation, end to end: the
    * query is written against the FACT table (filter on a key, group
    * by a key SUBSET, count/sum/min/max), the registered
    * [[org.apache.spark.sql.graft.MatViewRewrite]] rule rewrites it to
    * re-aggregate the summary instead, and the oracle (the same SQL
    * over the raw fact table in DuckDB) proves the navigation is
    * exact. The plan is PlanSpec-pinned to scan the summary, NOT
    * lineitem. At 100 TB this turns every matching dashboard query
    * from a full fact scan into a metadata-sized read; the summary
    * itself is maintained incrementally (`Graft.mergeAggStates`, u9).
    *
    * The view registration is scoped to query construction (the
    * rewrite is forced while registered, then deregistered) so the
    * REGISTERED suite's other lineitem aggregates keep their own
    * documented plans; a production deployment leaves the registry
    * standing — the rule is conservative enough to fire only on
    * exactly-answerable aggregates. */
  private def u10MatviewRewrite: Q = (s, dir) => {
    import org.apache.spark.sql.graft.MatViewRewrite
    val viewPath = lineitemMatView(s, dir)
    if (!s.experimental.extraOptimizations.contains(MatViewRewrite))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ MatViewRewrite
    val name = s"li_by_flag_status@$dir"
    MatViewRewrite.register(name, MatViewRewrite.MatView(
      basePathMarker = "lineitem.parquet",
      keys = Set("l_returnflag", "l_linestatus"),
      sumCols = Map("l_quantity" -> "s_qty"),
      countCol = "cnt",
      minCols = Map("l_quantity" -> "mn_qty"),
      maxCols = Map("l_quantity" -> "mx_qty"),
      view = () => s.read.parquet(viewPath).queryExecution.analyzed))
    try {
      val q = Tables.lineitem(s, dir)
        .filter(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).as("sum_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
      // force optimization while the view is registered: the rewrite
      // lands in the memoized optimizedPlan, which every later action
      // (Verify's write, Bench's run, PlanSpec's executedPlan) reuses
      q.queryExecution.optimizedPlan
      q
    } finally MatViewRewrite.unregister(name)
  }

  private val u10MatviewRewriteSql =
    """SELECT l_returnflag, count(*) AS n_items, sum(l_quantity) AS sum_qty,
      |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
      |FROM lineitem WHERE l_linestatus = 'F'
      |GROUP BY l_returnflag""".stripMargin

  // ----------------------------------------------------------------
  // Set operations
  // ----------------------------------------------------------------

  /** Nations having both customers and suppliers (INTERSECT distinct). */
  private def u5Intersect: Q = (s, dir) =>
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey")))

  private val u5IntersectSql =
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey FROM supplier""".stripMargin

  /** High-balance customers outside the BUILDING segment (EXCEPT
    * distinct; key-based EXCEPTs are all empty on this fully-dense
    * synthetic star, so the predicate form keeps the op observable). */
  private def u6Except: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    c.filter(col("c_acctbal") > 5000).select(col("c_custkey").as("custkey"))
      .except(c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("custkey")))
  }

  private val u6ExceptSql =
    """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin

  // ----------------------------------------------------------------
  // Upsert (MERGE / SCD-1): updates win by key, the rest carries over
  // ----------------------------------------------------------------

  /** Generic key-upsert: rows from `updates` replace same-key rows in
    * `base`; everything else carries over — the MERGE INTO shape on a
    * plain parquet lake (no transactional table format in the runtime:
    * the result is written back as a full or partition-scoped rewrite).
    * The anti-join is NULL-SAFE (`<=>`), so a null-keyed base row is
    * replaced by a null-keyed update instead of silently surviving
    * alongside it. Update rows pass through as-is: supplying several
    * update rows for one key is the caller's MERGE "multiple source
    * rows matched" error, not something this operator resolves. One
    * shuffle on the key for the anti-join; with both sides bucketed on
    * the key it co-locates (PlanSpec proves the bucketed no-shuffle
    * join). */
  def upsertByKey(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val upd = updates.select(keys.map(col): _*).distinct()
    val cond = keys.map(k => base(k) <=> upd(k)).reduce(_ && _)
    updates.unionByName(base.join(upd, cond, "left_anti"))
  }

  /** Harness binding: every 10th order arrives re-priced (+1.00,
    * exact in doubles — no rounding needed) and re-prioritized. */
  private def u7Upsert: Q = (s, dir) => {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"), col("o_totalprice"))
    val updates = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      .withColumn("o_orderpriority", lit("0-UPSERTED"))
    upsertByKey(base, updates, Seq("o_orderkey"))
  }

  // ----------------------------------------------------------------
  // SCD-2: history-preserving dimension from a change log
  // ----------------------------------------------------------------

  /** Slowly-changing-dimension TYPE 2 — the history-preserving
    * complement of [[upsertByKey]]'s replace-in-place: a change log
    * `(key, ts, attributes…)` becomes one VERSION ROW per change with
    * a validity interval — valid_from = the change's ts, valid_to =
    * the next change's ts for that key (null while current),
    * is_current on the open row. One shuffle on the key; the interval
    * assignment is a per-key lead() window ordered by (ts, tiebreak),
    * so same-instant changes resolve deterministically (the earlier
    * tiebreak's version gets a zero-length interval, exactly like a
    * warehouse batch that applies same-day changes in id order). */
  def scd2History(changes: DataFrame, keyCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Harness binding: each customer's order stream as an SCD-2 history
    * of their "latest order" attribute set. */
  private def u8Scd2: Q = (s, dir) =>
    scd2History(
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice")),
      "o_custkey", "o_orderdate", "o_orderkey")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("valid_from"), col("valid_to"), col("is_current"))

  private val u8Scd2Sql =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |       o_orderdate AS valid_from,
      |       lead(o_orderdate) OVER (PARTITION BY o_custkey
      |         ORDER BY o_orderdate, o_orderkey) AS valid_to,
      |       (lead(o_orderdate) OVER (PARTITION BY o_custkey
      |         ORDER BY o_orderdate, o_orderkey)) IS NULL AS is_current
      |FROM orders""".stripMargin

  private val u7UpsertSql =
    """WITH updates AS (
      |  SELECT o_orderkey, o_custkey, '0-UPSERTED' AS o_orderpriority,
      |         o_totalprice + 1.0 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 10 = 0)
      |SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice FROM updates
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
      |FROM orders o
      |WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = o.o_orderkey)""".stripMargin

  // ----------------------------------------------------------------
  // Incremental aggregate maintenance (materialized-rollup refresh)
  // ----------------------------------------------------------------

  /** The date at which the "already-materialized" history ends and the
    * "newly landed" delta partition begins. */
  private val IncAggCutoff = "1996-01-01"

  /** Merge two partial per-key aggregate tables into one — the
    * algebraic-merge step of incremental view maintenance: every
    * column in `addCols` (counts, sums — any type where merge = add;
    * DECIMAL sums stay exact through the merge) is summed across the
    * two sides with absent keys contributing zero. THE one
    * implementation — harness query and [[graft.Graft.mergeAggStates]]
    * both bind it. One shuffle on the keys; with the stored rollup
    * bucketed on the keys the join co-locates. */
  def mergeAggStates(base: DataFrame, delta: DataFrame, keys: Seq[String],
      addCols: Seq[String]): DataFrame = {
    val b = addCols.foldLeft(base)((df, c) => df.withColumnRenamed(c, s"__b_$c"))
    val d = addCols.foldLeft(delta)((df, c) => df.withColumnRenamed(c, s"__d_$c"))
    b.join(d, keys, "full_outer")
      .select(keys.map(col) ++ addCols.map(c =>
        (coalesce(col(s"__b_$c"), lit(0)) + coalesce(col(s"__d_$c"), lit(0))).as(c)): _*)
  }

  /** Incremental aggregate maintenance — how a 100 TB rollup absorbs a
    * daily partition without rescanning history: count and revenue are
    * ALGEBRAIC aggregates, so the maintained table is refreshed by
    * aggregating ONLY the newly landed delta (orders on/after the
    * cutoff) and merging per-key partial states with the existing
    * base aggregate. The oracle is the full recompute over all of
    * `orders`, so the correctness gate proves the maintenance
    * identity merge(agg(base), agg(delta)) == agg(base ∪ delta)
    * exactly (DECIMAL money arithmetic — no float drift between the
    * two association orders). At scale the base aggregate is a stored
    * table keyed/bucketed on `o_custkey`; here both sides derive from
    * the same scan with a partition-prunable date predicate. */
  private def u9IncrementalAgg: Q = (s, dir) => {
    def aggOf(df: DataFrame): DataFrame = df.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(o_totalprice AS DECIMAL(18,2))")).as("revenue"))
    val orders = Tables.orders(s, dir)
    val base = aggOf(orders.filter(col("o_orderdate") < lit(IncAggCutoff)))
    val delta = aggOf(orders.filter(col("o_orderdate") >= lit(IncAggCutoff)))
    mergeAggStates(base, delta, Seq("o_custkey"), Seq("n_orders", "revenue"))
      // merged DECIMAL cast to DOUBLE only at the very end
      // (comparator-stable repr, the r2 decimal lesson)
      .select(col("o_custkey"), col("n_orders"),
        col("revenue").cast("double").as("revenue"))
  }

  private val u9IncrementalAggSql =
    """SELECT o_custkey, count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY o_custkey""".stripMargin

  // ----------------------------------------------------------------
  // Incremental JOIN maintenance (materialized-join-view refresh)
  // ----------------------------------------------------------------

  /** Refresh a materialized join view under INSERT-only deltas on both
    * sides — the join half of incremental view maintenance ([[u9IncrementalAgg]]
    * is the aggregate half). With facts A += dA and dims B += dB
    * (B_new = B ∪ dB already stored), the delta decomposition
    *
    *   (A ∪ dA) ⋈ (B ∪ dB) = A⋈B  ∪  dA ⋈ B_new  ∪  A ⋈ dB
    *
    * is exact when the deltas are disjoint from their bases (append
    * partitions; updates route through upsert/SCD-2 instead — an
    * update re-sent as an insert would double-count). History A⋈B is
    * the STORED view, never recomputed: the refresh touches the new
    * facts against the current dim table (dA ⋈ B_new — dA-sized, the
    * daily partition) and old facts against only the NEW dim rows
    * (A ⋈ dB — dB broadcast, and with A bucketed on the key the scan
    * prunes to dB's buckets). At 100 TB both refresh terms are
    * delta-bounded; the full A⋈B rescan the naive refresh pays never
    * happens. */
  def mergeJoinView(baseView: DataFrame, a: DataFrame, da: DataFrame,
      bNew: DataFrame, db: DataFrame, keys: Seq[String]): DataFrame =
    baseView
      .unionByName(da.join(bNew, keys))
      .unionByName(a.join(broadcast(db), keys))

  /** Harness binding: the orders⋈customer view maintained across a
    * date-cutoff fact delta and a custkey-slice dim delta; the oracle
    * is the full-recompute join, so the gate proves the decomposition
    * identity exactly. */
  private def u11IncrementalJoin: Q = (s, dir) => {
    val orders = Tables.orders(s, dir).select(
      col("o_custkey").as("custkey"), col("o_orderkey"),
      col("o_totalprice").cast("double").as("o_totalprice"))
    val cust = Tables.customer(s, dir).select(
      col("c_custkey").as("custkey"), col("c_mktsegment"))
    val a = orders.filter(col("o_orderkey") % 7 =!= 0)
    val da = orders.filter(col("o_orderkey") % 7 === 0)
    val db = cust.filter(col("custkey") % 10 === 0)
    val bOld = cust.filter(col("custkey") % 10 =!= 0)
    val baseView = a.join(bOld, Seq("custkey"))
    mergeJoinView(baseView, a, da, cust, db, Seq("custkey"))
  }

  private val u11IncrementalJoinSql =
    """SELECT o_custkey AS custkey, o_orderkey,
      |       CAST(o_totalprice AS DOUBLE) AS o_totalprice, c_mktsegment
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  // ----------------------------------------------------------------
  // Incremental DISTINCT-count maintenance (HLL-mergeable state)
  // ----------------------------------------------------------------

  /** Merge two per-key HLL sketch-state tables — the DISTINCT-count
    * member of the IVM family ([[mergeAggStates]] covers additive
    * aggregates, [[mergeJoinView]] joins): COUNT DISTINCT is not
    * additive, but HLL registers max-merge, so the maintained state is
    * the sketch column and refresh = union. Register max-merge is
    * order-free AND lossless w.r.t. a single-pass sketch of the union
    * (same hashes → same registers), so estimate(merge(base, delta))
    * EQUALS estimate(sketch(base ∪ delta)) exactly — not just
    * approximately (spec-pinned). Absent keys carry the present side's
    * sketch through. One shuffle on the keys, sketch rows are
    * (1.5 KB · 2^lgK−…) fixed-size — the stored rollup stays tiny
    * however large the fact table. */
  def mergeDistinctStates(base: DataFrame, delta: DataFrame,
      keys: Seq[String], sketchCol: String): DataFrame = {
    val b = base.withColumnRenamed(sketchCol, "__b_sk")
    val d = delta.withColumnRenamed(sketchCol, "__d_sk")
    b.join(d, keys, "full_outer")
      .select(keys.map(col) :+
        when(col("__b_sk").isNull, col("__d_sk"))
          .when(col("__d_sk").isNull, col("__b_sk"))
          .otherwise(hll_union(col("__b_sk"), col("__d_sk")))
          .as(sketchCol): _*)
  }

  private val DistinctLgK = 14

  /** Harness binding: distinct customers per order priority maintained
    * across the [[IncAggCutoff]] date split. The oracle computes the
    * EXACT distinct count; the estimate ships as a within-bounds
    * boolean (the `a8_approx_stats` discipline — lgK 14 ≈ 0.8%
    * standard error, checked at ±5% + 16). */
  private def u12IncrementalDistinct: Q = (s, dir) => {
    def sk(df: DataFrame): DataFrame = df.groupBy(col("o_orderpriority"))
      .agg(hll_sketch_agg(col("o_custkey"), lit(DistinctLgK)).as("sk"))
    val orders = Tables.orders(s, dir)
    val merged = mergeDistinctStates(
      sk(orders.filter(col("o_orderdate") < lit(IncAggCutoff))),
      sk(orders.filter(col("o_orderdate") >= lit(IncAggCutoff))),
      Seq("o_orderpriority"), "sk")
    val exact = orders.groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("exact_custs"))
    exact.join(broadcast(merged), "o_orderpriority")
      .select(col("o_orderpriority"), col("exact_custs"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_custs"))
          <= col("exact_custs") * lit(0.05) + lit(16)).as("within_bounds"))
  }

  private val u12IncrementalDistinctSql =
    """SELECT o_orderpriority,
      |       count(DISTINCT o_custkey) AS exact_custs,
      |       true AS within_bounds
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // ----------------------------------------------------------------
  // Mode (most frequent value) per group — deterministic ties
  // ----------------------------------------------------------------

  /** Per-group MODE with a DETERMINISTIC tie-break: count each value,
    * rank per group by (count desc, value asc), keep rank 1. Built-in
    * `mode()` breaks ties arbitrarily in both engines — useless for an
    * exact oracle and for reproducible pipelines; this construction is
    * the portable form. Two stages: a partial-agg'd count (the only
    * pass over raw volume) and a group-count-sized window. */
  private def a13Mode: Q = (s, dir) => {
    val counts = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("n_occurrences"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("n_occurrences").desc, col("l_quantity").asc)
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_quantity"),
        col("n_occurrences"))
  }

  private val a13ModeSql =
    """SELECT l_returnflag, l_quantity AS mode_quantity, n_occurrences
      |FROM (SELECT l_returnflag, l_quantity, count(*) AS n_occurrences,
      |        row_number() OVER (PARTITION BY l_returnflag
      |          ORDER BY count(*) DESC, l_quantity) AS rn
      |      FROM lineitem GROUP BY l_returnflag, l_quantity)
      |WHERE rn = 1""".stripMargin

  // ----------------------------------------------------------------
  // Multi-dimensional aggregation
  // ----------------------------------------------------------------

  /** ROLLUP over (returnflag, linestatus): subtotals + grand total,
    * NULL-filled grouping columns — partial agg handles every grouping
    * set in one shuffle. */
  private def a5Rollup: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 6).as("sum_qty"))

  private val a5RollupSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |       round(sum(l_quantity), 6) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** CUBE over the same dimensions (adds the per-linestatus margins). */
  private def a6Cube: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))

  private val a6CubeSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  /** PIVOT linestatus → columns (explicit value list keeps the plan
    * single-pass; Spark pivots with an implicit distinct otherwise). */
  private def a7Pivot: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))

  private val a7PivotSql =
    """SELECT l_returnflag,
      |       count(*) FILTER (l_linestatus = 'F') AS F,
      |       count(*) FILTER (l_linestatus = 'O') AS O
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ----------------------------------------------------------------
  // Window-function suite
  // ----------------------------------------------------------------

  /** Ranking + offset window functions in one pass over per-customer
    * order history: rank, ntile quartile, lag/lead neighbours, running
    * sum — all sharing one (partition, order) so Spark evaluates them
    * in a single Window operator (one shuffle). */
  private def w4WindowFuncs: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderkey"),
      rank().over(w).cast("long").as("rnk"),
      ntile(4).over(w).cast("long").as("quartile"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      // running sum over the integer key, not the double price: window
      // accumulation order differs between engines (sequential vs
      // segment tree), so a double running sum is a latent 6dp-rounding
      // flake; integer addition is associative and exact
      sum(col("o_orderkey"))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
        .as("running_key_sum"))
  }

  private val w4WindowFuncsSql =
    """SELECT o_custkey, o_orderkey,
      | rank() OVER w AS rnk,
      | ntile(4) OVER w AS quartile,
      | lag(o_totalprice, 1) OVER w AS prev_price,
      | lead(o_totalprice, 1) OVER w AS next_price,
      | CAST(sum(o_orderkey) OVER (PARTITION BY o_custkey
      |   ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_key_sum
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  // ----------------------------------------------------------------
  // Date/time scalar functions
  // ----------------------------------------------------------------

  /** Temporal scalar surface over order dates: truncation, field
    * extraction, day arithmetic, day-difference to shipment. */
  private def fDates: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"),
        dayofweek(col("o_orderdate")).cast("long").as("o_dow"),
        date_trunc("month", col("o_orderdate")).as("o_month_start"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("days_to_ship"))
  }

  private val fDatesSql =
    """SELECT l_orderkey, l_linenumber,
      | year(o_orderdate) AS o_year,
      | month(o_orderdate) AS o_month,
      | dayofweek(o_orderdate) + 1 AS o_dow,
      | CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS o_month_start,
      | datediff('day', o_orderdate, l_shipdate) AS days_to_ship
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  // ----------------------------------------------------------------
  // Distribution aggregates
  // ----------------------------------------------------------------

  /** Sketch aggregates for 100 TB interactive analytics:
    * approx_count_distinct (HyperLogLog++) and approx percentiles
    * (Greenwald-Khanna). Sketch VALUES are engine-specific, so the
    * query is made oracle-checkable by CONTRACT instead (r3 VERDICT
    * #1): Spark emits each group's exact stats plus `within_bounds`
    * booleans — its own approx vs its own exact, against the published
    * error bounds — and the DuckDB oracle emits the same exact stats
    * with literal `true`s. The check fails iff a sketch drifts out of
    * bounds, which is exactly the sketch's correctness claim.
    *
    * Bounds: HLL++ at rsd = 0.02 ⇒ ±10 % is a 5σ envelope;
    * percentile_approx at accuracy 1000 guarantees rank error ≤ 1/1000,
    * so the approx median must lie within the exact [p45, p55] — a 50×
    * margin that still catches a broken sketch. */
  private def a8ApproxStats: Q = (s, dir) => {
    // Two aggregation passes joined on the 3-row group key, NOT one:
    // mixing the DISTINCT aggregate with the object-typed exact
    // `percentile` forces an Expand (×2 rows) and demotes the whole
    // aggregate to the sort-based fallback — measured 6.4 s isolated
    // at sf0.1 vs ~2 s for the split (each pass keeps its natural
    // hash-aggregate shape; the extra scan is cheap, the join is 3
    // broadcast rows).
    val li = Tables.lineitem(s, dir)
    val parts = li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
    val quants = li.groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, array(0.45, 0.5, 0.55))").as("qs"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("am"))
    parts.join(broadcast(quants), "l_returnflag")
      .select(col("l_returnflag"), col("exact_parts"),
        round(element_at(col("qs"), 2), 6).as("exact_median_qty"),
        (abs(col("approx_parts") - col("exact_parts"))
          <= col("exact_parts") * lit(0.10)).as("parts_within_bounds"),
        (col("am") >= element_at(col("qs"), 1)
          && col("am") <= element_at(col("qs"), 3)).as("median_within_bounds"))
  }

  private val a8ApproxStatsSql =
    """SELECT l_returnflag,
      |       count(DISTINCT l_partkey) AS exact_parts,
      |       round(quantile_cont(l_quantity, 0.5), 6) AS exact_median_qty,
      |       true AS parts_within_bounds,
      |       true AS median_within_bounds
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Exact interpolated percentiles — Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition. The
    * quartile vector is computed in ONE aggregate pass (array-typed
    * percentile), then projected to scalar columns: array-typed output
    * cells crash the driver comparator's pandas row-sort ("unhashable
    * numpy.ndarray"), and scalars also make the result directly usable
    * in SQL joins. */
  private def a9Percentiles: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").as("qs"))
      .select(col("l_returnflag"),
        round(element_at(col("qs"), 1), 6).as("q25"),
        round(element_at(col("qs"), 2), 6).as("q50"),
        round(element_at(col("qs"), 3), 6).as("q75"))

  private val a9PercentilesSql =
    """SELECT l_returnflag,
      | round(qs[1], 6) AS q25, round(qs[2], 6) AS q50, round(qs[3], 6) AS q75
      |FROM (SELECT l_returnflag, quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS qs
      |      FROM lineitem GROUP BY l_returnflag)""".stripMargin

  /** Equi-width histogram of the events value column (width 5): bucket
    * id + count + observed bounds. One partial-agg'd groupBy on a
    * handful of buckets — the profiling pass run before choosing join
    * salts or quantile cut points. floor of a double divide is the
    * same IEEE op in both engines, so bucket ids match exactly. */
  private def a10Histogram: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(floor(col("value") / 5.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 2).as("min_v"),
        round(max(col("value")), 2).as("max_v"))

  private val a10HistogramSql =
    """SELECT floor(value / 5.0)::BIGINT AS bucket, count(*) AS n,
      | round(min(value), 2) AS min_v, round(max(value), 2) AS max_v
      |FROM events GROUP BY floor(value / 5.0)::BIGINT""".stripMargin

  /** Bivariate statistics per group: Pearson correlation, sample
    * covariance, and the OLS regression line — `corr` / `covar_samp` /
    * `regr_slope` / `regr_intercept` are ANSI aggregates both engines
    * implement. One partial-agg'd groupBy carrying the (n, Σx, Σy,
    * Σxy, Σx², Σy²) moments — a single shuffle of 6 doubles per
    * group at any scale. Summation order differs between engines, so
    * the unit-scale corr rounds to 6 and the price-scale slope /
    * intercept / covariance to 2 (tolerance ≫ the ~1e-9 float-order
    * noise on 1e3-to-1e6-magnitude values). */
  private def a11CorrRegr: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("qty_price_covar"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 2).as("price_per_qty"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 2).as("price_at_zero"))

  private val a11CorrRegrSql =
    """SELECT l_returnflag,
      | round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
      | round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
      | round(regr_slope(l_extendedprice, l_quantity), 2) AS price_per_qty,
      | round(regr_intercept(l_extendedprice, l_quantity), 2) AS price_at_zero
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Z-score anomaly screening: per event type, count the events whose
    * value sits more than 3 sample-stddevs from the type mean — the
    * data-quality gate run before a feed is trusted. The per-type
    * moments come from an unframed window over the SAME partitioning
    * the final groupBy uses, so the whole query is ONE shuffle
    * (exchange reuse), never a two-scan join-back.
    *
    * Cross-engine discipline: m/sd carry ~1e-12 summation-order noise,
    * so the boundary test compares the ROUNDED z-score (an event flips
    * engines only if its true z sits within the noise of a 1e-6
    * rounding edge AND that edge is exactly 3.0 — vs any event within
    * noise of 3σ for the naive comparison). A constant-valued group
    * (sd = 0) is pinned to z = 0 on both sides: Spark's 0/0 division
    * is NULL, DuckDB's is NaN, which would otherwise stringify
    * differently. */
  private def a12Anomaly: Q = (s, dir) => {
    val w = Window.partitionBy(col("event_type"))
    Tables.events(s, dir)
      .withColumn("m", avg(col("value")).over(w))
      .withColumn("sd", stddev_samp(col("value")).over(w))
      .withColumn("z",
        when(col("sd") === 0.0, lit(0.0))
          .otherwise(round(abs(col("value") - col("m")) / col("sd"), 6)))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("z") > 3.0, 1L).otherwise(0L)).as("n_anomalies"),
        max(col("z")).as("max_zscore"))
  }

  private val a12AnomalySql =
    """SELECT event_type,
      | count(*) AS n_total,
      | sum(CASE WHEN z > 3.0 THEN 1 ELSE 0 END)::BIGINT AS n_anomalies,
      | max(z) AS max_zscore
      |FROM (SELECT event_type,
      |        CASE WHEN sd = 0 THEN 0.0
      |             ELSE round(abs(value - m) / sd, 6) END AS z
      |      FROM (SELECT event_type, value,
      |              avg(value) OVER w AS m,
      |              stddev_samp(value) OVER w AS sd
      |            FROM events WINDOW w AS (PARTITION BY event_type)))
      |GROUP BY event_type""".stripMargin

  // ----------------------------------------------------------------
  // TPC-H-shaped headline queries (multi-join chains for the optimizer)
  // ----------------------------------------------------------------

  /** Q5 shape: revenue by nation through a five-table join chain with a
    * same-nation constraint — dimensions broadcast, fact joins shuffle,
    * AQE reorders/coalesces. */
  private def q5NationRevenue: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    val sup = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val q5NationRevenueSql =
    """SELECT n_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** Q18 shape: large-order customers — aggregate, HAVING-filter, join
    * the qualifying keys back to the facts (the filter side is an
    * aggregation output, broadcast when small). */
  private def q18LargeOrders: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    val big = l.groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 6).as("total_qty"))
      .filter(col("total_qty") > 300)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    o.join(big, col("o_orderkey") === big("l_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("o_totalprice"), col("total_qty"))
  }

  private val q18LargeOrdersSql =
    """SELECT c_name, o_orderkey, o_totalprice, total_qty
      |FROM (SELECT l_orderkey, round(sum(l_quantity), 6) AS total_qty
      |      FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 6) > 300) big
      |JOIN orders ON o_orderkey = big.l_orderkey
      |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** Q7 shape: bilateral volume by (supplier-nation, customer-nation,
    * year) — the two-sided dimension join: the SAME broadcast dim
    * joins twice under different roles, the cross-nation filter runs
    * BEFORE the name joins (on the fact's int keys), and the year
    * extraction feeds the grouping. All pairs kept (no literal nation
    * constants): output is |nations|² × years, still tiny. */
  private def q7VolumeShipping: Q = (s, dir) => {
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .join(broadcast(n1), col("s_nationkey") === col("snk"))
      .join(broadcast(n2), col("c_nationkey") === col("cnk"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val q7VolumeShippingSql =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |       year(l_shipdate) AS l_year,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE s_nationkey <> c_nationkey
      |GROUP BY 1, 2, 3""".stripMargin

  /** Q10 shape: returned-item customer ranking — selective fact
    * filter, join chain, DECIMAL-exact revenue (identical ordering in
    * both engines, so the top-20 cut is deterministic), ordered
    * limit. */
  private def q10ReturnedItems: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))"))
          .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)

  private val q10ReturnedItemsSql =
    """SELECT c_custkey, c_name, n_name,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** Q21 shape: waiting-supplier count — the EXISTS + NOT EXISTS
    * pattern as one semi-join and one anti-join against the SAME
    * fact: a supplier's line qualifies when the finished order has
    * another supplier (semi) but nobody shipped strictly later than
    * this line (anti — this supplier was the last to ship). Both
    * self-joins shuffle on l_orderkey, so the exchange is planned
    * once and reused; per-order fan-out is bounded by
    * lines-per-order, never corpus-wide. (The classic predicate uses
    * receipt-vs-commit dates; this corpus carries only l_shipdate,
    * so lateness = shipped last in the order.) */
  private def q21WaitingSuppliers: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        col("l_shipdate").as("sd"))
    val others = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
    val later = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"),
        col("l_shipdate").as("sd3"))
    l.join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
        col("ok") === col("o_orderkey"), "left_semi")
      .join(others, col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
      .join(later,
        col("ok") === col("ok3") && col("sk") =!= col("sk3") && col("sd3") > col("sd"),
        "left_anti")
      .join(broadcast(Tables.supplier(s, dir)), col("sk") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_name"), col("n_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(20)
  }

  private val q21WaitingSuppliersSql =
    """SELECT s_name, n_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN supplier ON l1.l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > l1.l_shipdate)
      |GROUP BY s_name, n_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  /** Q13 shape: customer order-count distribution — the LEFT-join-
    * then-double-aggregate pattern. Planned scale-first: the order
    * counts come from a partial-aggregated groupBy over orders ALONE
    * (shuffling o_custkey counts, never the joined width), and only
    * then LEFT-join customer so zero-order customers surface as
    * coalesce(0) — the naive left-join-then-count shuffles the full
    * customer×orders join instead. The second aggregate (distribution
    * over counts) is over |customers| rows and collapses to at most
    * max-orders-per-customer groups. */
  private def q13CustomerDistribution: Q = (s, dir) => {
    val oc = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    Tables.customer(s, dir)
      .join(oc, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val q13CustomerDistributionSql =
    """WITH oc AS (SELECT o_custkey, count(*) AS n FROM orders
      |            WHERE o_orderpriority <> '1-URGENT' GROUP BY o_custkey)
      |SELECT c_count, count(*) AS custdist
      |FROM (SELECT coalesce(n, 0) AS c_count
      |      FROM customer LEFT JOIN oc ON c_custkey = o_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q17 shape: small-quantity revenue — the correlated-average
    * subquery (`l_quantity < 0.2 * avg over the same part`)
    * decorrelated into one per-part aggregate joined back to the
    * facts. The brand dim filter broadcasts FIRST so both the
    * threshold aggregate and the probe side scan only the brand's
    * lines; the per-part avg is DECIMAL-sum-exact then divided (double
    * division is deterministic, double SUM order is not), so the
    * strict `<` threshold cut lands identically in both engines. */
  private def q17SmallQtyRevenue: Q = (s, dir) => {
    val parts = Tables.part(s, dir)
      .filter(col("p_brand") === "Brand#1").select(col("p_partkey"))
    val pl = Tables.lineitem(s, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val thr = pl.groupBy(col("l_partkey"))
      .agg((lit(0.2) * (sum(expr("CAST(l_quantity AS DECIMAL(18,2))")).cast("double")
        / count(lit(1)))).as("thr"))
    pl.join(thr, "l_partkey")
      .filter(col("l_quantity") < col("thr"))
      .agg(
        (sum(expr("CAST(l_extendedprice AS DECIMAL(18,2))")).cast("double") / 7.0)
          .as("ay_raw"),
        count(lit(1)).as("n_lines"))
      // portable 6-dp rounding (TextAnalysis.r6): round(x,6) is Spark
      // BigDecimal HALF_UP vs DuckDB rint — a near-half sum/7.0 flips
      .select(expr(TextAnalysis.r6("ay_raw")).as("avg_yearly"), col("n_lines"))
  }

  private val q17SmallQtyRevenueSql =
    """WITH pl AS (SELECT l_partkey, l_quantity, l_extendedprice
      |            FROM lineitem JOIN part ON p_partkey = l_partkey
      |            WHERE p_brand = 'Brand#1'),
      |thr AS (SELECT l_partkey,
      |               0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)) AS thr
      |        FROM pl GROUP BY l_partkey)
      |SELECT floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0) * 1e6 + 0.5) / 1e6 AS avg_yearly,
      |       count(*) AS n_lines
      |FROM pl JOIN thr USING (l_partkey)
      |WHERE l_quantity < thr""".stripMargin

  /** Q22 shape: idle rich customers — scalar subquery (global average
    * balance over positive accounts, DECIMAL-exact for the same
    * engine-determinism reason as Q17) broadcast as a 1-row frame,
    * then an anti-join against orders. The classic predicate is "no
    * orders at all"; this corpus's every customer has orders, so the
    * anti side is the urgent-priority slice — same plan shape
    * (broadcast-able filtered key set), non-degenerate result. */
  private def q22IdleCustomers: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val avgBal = c.filter(col("c_acctbal") > 0.0)
      .agg((sum(expr("CAST(c_acctbal AS DECIMAL(18,2))")).cast("double")
        / count(lit(1))).as("avg_bal"))
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(expr("CAST(c_acctbal AS DECIMAL(18,2))")).cast("double").as("totacctbal"))
      .orderBy(col("c_nationkey").asc)
  }

  private val q22IdleCustomersSql =
    """SELECT c_nationkey, count(*) AS numcust,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |                   FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  // ---- r10 TPC-H widening: scan-only, disjunctive-pushdown, promo
  // ratio, top-by-max, EXISTS-with-date-arithmetic, distinct-count ----

  /** Q6 shape: forecast revenue change — no join at all; the entire
    * predicate (date window + discount band + quantity cap) must reach
    * the parquet scan as PushedFilters, the canonical selective-scan
    * query. Revenue is the DECIMAL-exact Σ price·discount (double
    * per-row products would sum in partition order) with one final
    * double cast + portable rounding. */
  private def q6ForecastRevenue: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01")
        && col("l_shipdate") < lit("1998-01-01")
        && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
        && col("l_quantity") < 24)
      .agg(
        sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))"))
          .cast("double").as("rev_raw"),
        count(lit(1)).as("n_lines"))
      .select(expr(TextAnalysis.r6("rev_raw")).as("revenue"), col("n_lines"))

  private val q6ForecastRevenueSql =
    """SELECT floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS revenue,
      |       count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  /** Q14 shape: promo revenue share — broadcast dim join + ONE
    * conditional aggregate; the ratio is two DECIMAL-exact sums and a
    * single double division (the only float op). */
  private def q14PromoEffect: Q = (s, dir) => {
    val dp = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-09-01") && col("l_shipdate") < lit("1997-10-01"))
      .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(expr(s"CASE WHEN p_type = 'PROMO' THEN $dp ELSE 0 END")).as("promo"),
        sum(expr(dp)).as("total"),
        count(lit(1)).as("n_lines"))
      .select(
        expr(TextAnalysis.r6("100.0 * CAST(promo AS DOUBLE) / CAST(total AS DOUBLE)"))
          .as("promo_pct"),
        col("n_lines"))
  }

  private val q14PromoEffectSql = {
    val dp = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
    s"""SELECT floor((100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN $dp ELSE 0 END) AS DOUBLE)
       |             / CAST(sum($dp) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS promo_pct,
       |       count(*) AS n_lines
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE l_shipdate >= '1997-09-01' AND l_shipdate < '1997-10-01'""".stripMargin
  }

  /** Q19 shape: disjunctive brand/size/quantity predicates — the OR of
    * three conjunct bundles must still evaluate inside the joined
    * codegen stage (no cartesian fallback), the classic
    * pushdown-through-OR query. */
  private def q19DisjunctivePred: Q = (s, dir) => {
    val dp = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)
          && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#13" && col("p_size").between(1, 10)
          && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#14" && col("p_size").between(1, 15)
          && col("l_quantity").between(20, 30)))
      .agg(sum(expr(dp)).cast("double").as("rev_raw"), count(lit(1)).as("n_lines"))
      .select(expr(TextAnalysis.r6("rev_raw")).as("revenue"), col("n_lines"))
  }

  private val q19DisjunctivePredSql = {
    val dp = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
    s"""SELECT floor(CAST(sum($dp) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS revenue,
       |       count(*) AS n_lines
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin
  }

  /** Q15 shape: top supplier by quarterly revenue — the CREATE VIEW +
    * max() self-reference decorrelated into one aggregate joined to
    * its own 1-row max (broadcast); the winner test is an EXACT
    * DECIMAL equality, not a float one. */
  private def q15TopSupplier: Q = (s, dir) => {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1997-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(expr(
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"))
        .as("tr"))
    rev.join(broadcast(rev.agg(max(col("tr")).as("mr"))), col("tr") === col("mr"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        expr(TextAnalysis.r6("CAST(tr AS DOUBLE)")).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  private val q15TopSupplierSql =
    """WITH rev AS (SELECT l_suppkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS tr
      |  FROM lineitem
      |  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name,
      |       floor(CAST(tr AS DOUBLE) * 1e6 + 0.5) / 1e6 AS total_revenue
      |FROM rev JOIN supplier ON s_suppkey = l_suppkey
      |WHERE tr = (SELECT max(tr) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** Q4 shape: order-priority counts gated by a correlated EXISTS with
    * DATE ARITHMETIC — orders having at least one line shipped more
    * than 60 days after the order date, planned as a semi-join (one
    * pass over each side, never a per-order subquery). */
  private def q4OrderPriority: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(l,
        o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private val q4OrderPrioritySql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Q16 shape: how many distinct suppliers stock each surviving part
    * profile — NOT-IN/≠ attribute exclusions on the dim, then a
    * distinct count of the fact side's suppliers per (brand, type,
    * size); the dim broadcasts, the only exchange carries (profile,
    * suppkey) pairs. */
  private def q16PartsSupplier: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(Tables.part(s, dir)
          .filter(col("p_brand") =!= "Brand#15"
            && !col("p_type").isin("PROMO")
            && col("p_size").isin(1, 5, 9, 14, 20, 28, 36, 45))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
      .limit(20)

  private val q16PartsSupplierSql =
    """SELECT p_brand, p_type, p_size,
      |       count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#15' AND p_type NOT IN ('PROMO')
      |  AND p_size IN (1, 5, 9, 14, 20, 28, 36, 45)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
      |LIMIT 20""".stripMargin

  /** Q2 shape: the minimum-cost supplier per part — TPC-H's correlated
    * MIN subquery decorrelated into an aggregate joined back on an
    * EXACT equality (min over identical per-row doubles, so the winner
    * test has no float-boundary hazard). The schema has no partsupp
    * table, so observed unit price (l_extendedprice / l_quantity)
    * plays supply cost — same shape, same plan. */
  private def q2MinCostSupplier: Q = (s, dir) => {
    val parts = Tables.part(s, dir).filter(col("p_size") < 10).select(col("p_partkey"))
    val pc = Tables.lineitem(s, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit"))
      .groupBy(col("l_partkey"), col("l_suppkey")).agg(min(col("unit")).as("uc"))
    val mn = pc.groupBy(col("l_partkey")).agg(min(col("uc")).as("mc"))
    pc.join(mn, Seq("l_partkey")).filter(col("uc") === col("mc"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey").as("p_partkey"), col("s_suppkey"), col("s_name"),
        expr(TextAnalysis.r6("uc")).as("unit_cost"))
      .orderBy(col("p_partkey"), col("s_suppkey"))
      .limit(25)
  }

  private val q2MinCostSupplierSql =
    """WITH pc AS (SELECT l_partkey, l_suppkey,
      |              min(l_extendedprice / l_quantity) AS uc
      |            FROM lineitem JOIN part ON p_partkey = l_partkey
      |            WHERE p_size < 10 GROUP BY l_partkey, l_suppkey),
      |mn AS (SELECT l_partkey, min(uc) AS mc FROM pc GROUP BY l_partkey)
      |SELECT pc.l_partkey AS p_partkey, s_suppkey, s_name,
      |       floor(uc * 1e6 + 0.5) / 1e6 AS unit_cost
      |FROM pc JOIN mn ON pc.l_partkey = mn.l_partkey AND uc = mc
      |JOIN supplier ON s_suppkey = l_suppkey
      |ORDER BY p_partkey, s_suppkey LIMIT 25""".stripMargin

  /** Q8 shape: a nation's market share inside one region's orders per
    * year — the two-sided dim pattern (customer nation restricted to
    * the region, supplier nation measured) with the share as two
    * DECIMAL-exact sums and one double division. */
  private def q8MarketShare: Q = (s, dir) => {
    val dp = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
    val asiaCust = Tables.customer(s, dir)
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(expr(s"CASE WHEN supp_nation = 'NATION_2' THEN $dp ELSE 0 END")).as("nat"),
        sum(expr(dp)).as("tot"),
        count(lit(1)).as("n_lines"))
      .select(col("o_year").cast("long").as("o_year"),
        expr(TextAnalysis.r6("CAST(nat AS DOUBLE) / CAST(tot AS DOUBLE)")).as("mkt_share"),
        col("n_lines"))
      .orderBy(col("o_year"))
  }

  private val q8MarketShareSql = {
    val dp = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  floor((CAST(sum(CASE WHEN sn.n_name = 'NATION_2' THEN $dp ELSE 0 END) AS DOUBLE)
       |         / CAST(sum($dp) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS mkt_share,
       |  count(*) AS n_lines
       |FROM lineitem
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |JOIN nation cn ON cn.n_nationkey = c_nationkey
       |JOIN region ON r_regionkey = cn.n_regionkey AND r_name = 'ASIA'
       |JOIN supplier ON s_suppkey = l_suppkey
       |JOIN nation sn ON sn.n_nationkey = s_nationkey
       |GROUP BY o_year ORDER BY o_year""".stripMargin
  }

  /** Q9 shape: product-line profit by supplier nation and year — the
    * widest join tree in TPC-H (lineitem + orders + part + supplier +
    * nation) with a LIKE filter on the part name. No partsupp table:
    * cost is 0.1·p_retailprice per unit (a DECIMAL-exact proxy that
    * keeps the revenue-minus-cost aggregate shape). */
  private def q9ProductProfit: Q = (s, dir) => {
    val dp = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
    val cost = "CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(2,1))"
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)
          .filter(col("p_name").like("%gear%"))
          .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, dir)
          .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(expr(s"$dp - ($cost)")).as("profit_raw"), count(lit(1)).as("n_lines"))
      .select(col("nation"), col("o_year").cast("long").as("o_year"),
        expr(TextAnalysis.r6("CAST(profit_raw AS DOUBLE)")).as("profit"),
        col("n_lines"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  private val q9ProductProfitSql = {
    val dp = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
    val cost = "CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(2,1))"
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  floor(CAST(sum($dp - ($cost)) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS profit,
       |  count(*) AS n_lines
       |FROM lineitem
       |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%gear%'
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN supplier ON s_suppkey = l_suppkey
       |JOIN nation ON n_nationkey = s_nationkey
       |GROUP BY n_name, o_year ORDER BY nation, o_year DESC""".stripMargin
  }

  /** Q11 shape: "important stock" — keep the parts whose flow value
    * exceeds a fraction of the global total (the scalar-subquery
    * HAVING). The threshold compares `value · 1000 > total` in exact
    * DECIMAL — no float boundary anywhere in the cut. */
  private def q11ImportantStock: Q = (s, dir) => {
    val value = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(expr("CAST(l_extendedprice AS DECIMAL(18,2))")).as("value"))
    val total = value.agg(sum(col("value")).as("total"))
    value.crossJoin(broadcast(total))
      .filter(col("value") * 1000 > col("total"))
      .select(col("l_partkey"),
        expr(TextAnalysis.r6("CAST(value AS DOUBLE)")).as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
      .limit(25)
  }

  private val q11ImportantStockSql =
    """WITH v AS (SELECT l_partkey,
      |             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
      |           FROM lineitem GROUP BY l_partkey),
      |t AS (SELECT sum(value) AS total FROM v)
      |SELECT l_partkey, floor(CAST(value AS DOUBLE) * 1e6 + 0.5) / 1e6 AS part_value
      |FROM v CROSS JOIN t
      |WHERE value * 1000 > total
      |ORDER BY value DESC, l_partkey LIMIT 25""".stripMargin

  /** Q12 shape: shipping-delay buckets vs order priority — the
    * CASE-aggregation-over-join query. No l_shipmode column: the
    * bucket is shipping LATENESS (ship > order + 60 days), which
    * keeps the exact two-bucket × priority-split contract with pure
    * integer-day arithmetic. */
  private def q12ShipPriority: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(when(datediff(col("l_shipdate"), col("o_orderdate")) > 60, "late")
        .otherwise("ontime").as("ship_bucket"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy(col("ship_bucket"))

  private val q12ShipPrioritySql =
    """SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60
      |            THEN 'late' ELSE 'ontime' END AS ship_bucket,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |GROUP BY ship_bucket ORDER BY ship_bucket""".stripMargin

  /** Q20 shape: dominant suppliers — suppliers who shipped more than
    * a tenth of a part family's total flow (the nested partsupp
    * excess-quantity predicate re-expressed over observed flow — in
    * this corpus suppliers per part are ~27, so a 10% share is a
    * strong concentration signal and the result is non-degenerate).
    * The cut is `10·supplier_qty > part_total` in exact DECIMAL. */
  private def q20ExcessSuppliers: Q = (s, dir) => {
    val flow = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)
          .filter(col("p_size") <= 3).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(expr("CAST(l_quantity AS DECIMAL(18,2))")).as("sqty"))
    val totals = flow.groupBy(col("l_partkey")).agg(sum(col("sqty")).as("ptotal"))
    flow.join(totals, Seq("l_partkey"))
      .filter(col("sqty") * 10 > col("ptotal"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_parts_major"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_parts_major"))
      .orderBy(col("n_parts_major").desc, col("s_suppkey"))
      .limit(25)
  }

  private val q20ExcessSuppliersSql =
    """WITH flow AS (SELECT l_partkey, l_suppkey,
      |                sum(CAST(l_quantity AS DECIMAL(18,2))) AS sqty
      |              FROM lineitem JOIN part ON p_partkey = l_partkey
      |              WHERE p_size <= 3 GROUP BY l_partkey, l_suppkey),
      |tot AS (SELECT l_partkey, sum(sqty) AS ptotal FROM flow GROUP BY l_partkey)
      |SELECT s_suppkey, s_name, n_parts_major
      |FROM (SELECT f.l_suppkey, count(*) AS n_parts_major
      |      FROM flow f JOIN tot t ON f.l_partkey = t.l_partkey
      |      WHERE sqty * 10 > ptotal GROUP BY f.l_suppkey)
      |JOIN supplier ON s_suppkey = l_suppkey
      |ORDER BY n_parts_major DESC, s_suppkey LIMIT 25""".stripMargin

  /** A15: explicit GROUPING SETS with a portable grouping id — the
    * general form rollup/cube are sugar over: three chosen grains in
    * ONE pass (Expand), the grain tagged by
    * `2·grouping(status) + grouping(priority)` (computed the same way
    * in both engines — DuckDB's GROUPING_ID bit order is not worth
    * depending on). */
  private def a15GroupingSets: Q = (s, dir) => {
    Tables.orders(s, dir).createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(2 * grouping(o_orderstatus) + grouping(o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS total
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
  }

  private val a15GroupingSetsSql =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(2 * grouping(o_orderstatus) + grouping(o_orderpriority) AS BIGINT) AS gid,
      |  count(*) AS n,
      |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** W5: the full rank-function family over one partition-ordered
    * window — rank/dense_rank (gaps vs no gaps under ties),
    * percent_rank and cume_dist (exact small-integer ratios, floor-
    * rounded portably), ntile (integer quartiles). Partitioned by
    * CUSTOMER — the high-cardinality production shape (r10 verdict
    * #7): partition count grows with the data, so parallelism scales
    * with volume instead of pinning at the key's distinct count (the
    * old 5-value priority key ran parallelism-5 at ANY volume — sweep
    * 4.08×). Whole-partition functions (percent_rank/cume_dist/ntile)
    * only ever see one customer's orders; top-2 per customer by
    * row_number bounds each group's output. ONE shuffle on the
    * partition key serves all six functions. */
  private def w5RankFamily: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .filter(col("rn") <= 2)
      .select(col("o_custkey"), col("rn").cast("long").as("rn"),
        col("o_orderkey"), col("rnk"), col("drnk"),
        expr(TextAnalysis.r6("pr")).as("pct_rank"),
        expr(TextAnalysis.r6("cd")).as("cume_dist"),
        col("quartile"))
    // no final orderBy: it would range-shuffle 2×|customers| rows for
    // presentation only (the harness comparator sorts rows itself) —
    // the PlanLint self-gate flagged exactly this exchange
  }

  private val w5RankFamilySql =
    """SELECT o_custkey, rn, o_orderkey, rnk, drnk,
      |  floor(pr * 1e6 + 0.5) / 1e6 AS pct_rank,
      |  floor(cd * 1e6 + 0.5) / 1e6 AS cume_dist,
      |  quartile
      |FROM (SELECT o_custkey, o_orderkey,
      |        CAST(row_number() OVER w AS BIGINT) AS rn,
      |        CAST(rank() OVER w AS BIGINT) AS rnk,
      |        CAST(dense_rank() OVER w AS BIGINT) AS drnk,
      |        percent_rank() OVER w AS pr,
      |        cume_dist() OVER w AS cd,
      |        CAST(ntile(4) OVER w AS BIGINT) AS quartile
      |      FROM orders
      |      WINDOW w AS (PARTITION BY o_custkey
      |                   ORDER BY o_totalprice DESC, o_orderkey))
      |WHERE rn <= 2
      |ORDER BY o_custkey, rn""".stripMargin

  /** A14: winsorized per-group aggregates — outlier-robust means via
    * exact order-statistic clipping at p05/p95. The cut ranks are pure
    * integer arithmetic (⌈n/20⌉ = (n+19) div 20 — no float percentile
    * definition to disagree on between engines), the clamp keeps the
    * raw column values, and the clipped mean is DECIMAL-sum-exact
    * before one double division.
    *
    * Scale note: exact selection does NOT need a full per-group sort.
    * The k-th order statistic equals the least DISTINCT value whose
    * cumulative count reaches k, so selection runs as a counting sort:
    * partial-aggregated (group, value) counts, then a window over the
    * distinct-value frame only. The sorted frame scales with value
    * CARDINALITY, not row count — the 10× sweep dropped 3.7× → flat
    * when the full-row row_number() sort was replaced by this. */
  /** The shared counting-sort frames: `counts(flag, v, c)` (ONE
    * lineitem scan — everything exact downstream derives from it) and
    * `cum` (the per-flag ordered cumulative counts over the DISTINCT
    * values — cardinality-, not row-scaled). */
  private def winsorCum(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // persist: the cardinality-bounded counts table feeds the ordered
    // window chain AND the weighted clip-aggregates (2-4 consumers per
    // query); without it each consumer re-runs the lineitem scan +
    // groupBy (the before-plan re-scanned lineitem per consumer)
    val counts = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
      .groupBy(col("flag"), col("v")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cum = counts
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("flag")).orderBy(col("v").asc)))
      .withColumn("n",
        sum(col("c")).over(Window.partitionBy(col("flag"))))
    (counts, cum)
  }

  /** Exact winsorized stats off the counting-sort frames. The clipped
    * mean and clip counts aggregate the WEIGHTED distinct values
    * (`Σ c·clip(v)` — exact-decimal, identical to the per-row sum), so
    * lineitem is scanned ONCE per query instead of twice (guide §1.2:
    * fewer passes; the r14 shape re-scanned raw rows for the final
    * clip-aggregate). */
  private def winsorExact(counts: DataFrame, cum: DataFrame): DataFrame =
    winsorExactFromBounds(counts, winsorBounds(cum, Nil))

  /** The p05/p95 cut bounds off the cumulative-count frame, plus any
    * caller-supplied aggregates that should ride the SAME groupBy (the
    * approx variant's percentile envelope — one window execution + one
    * aggregation job instead of two). */
  private def winsorBounds(cum: DataFrame,
      extraAggs: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val aggs = Seq(
      min(when(expr("cum >= (n + 19) div 20"), col("v"))).as("lo"),
      min(when(expr("cum >= (19 * n + 19) div 20"), col("v"))).as("hi")) ++ extraAggs
    cum.groupBy(col("flag")).agg(aggs.head, aggs.drop(1): _*)
  }

  private def winsorExactFromBounds(counts: DataFrame,
      bounds: DataFrame): DataFrame = {
    counts.join(broadcast(bounds.select(col("flag"), col("lo"), col("hi"))), "flag")
      .groupBy(col("flag"), col("lo"), col("hi"))
      .agg(sum(col("c")).as("n"),
        sum(when(col("v") < col("lo") || col("v") > col("hi"), col("c"))
          .otherwise(0L)).as("n_clipped"),
        expr(TextAnalysis.r6(
          "CAST(sum(CAST((CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END)" +
            " AS DECIMAL(18,2)) * c) AS DOUBLE) / sum(c)")).as("wmean"))
      .select(col("flag"), col("n"), col("n_clipped"), col("lo"), col("hi"), col("wmean"))
  }

  private def a14Winsorize: Q = (s, dir) => {
    val (counts, cum) = winsorCum(s, dir)
    winsorExact(counts, cum).orderBy(col("flag").asc)
  }

  private val a14WinsorizeSql =
    s"""WITH r AS (SELECT l_returnflag AS flag, l_extendedprice AS v,
      |    CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      |  FROM lineitem),
      |b AS (SELECT flag,
      |    max(CASE WHEN rn = (n + 19) // 20 THEN v END) AS lo,
      |    max(CASE WHEN rn = (19 * n + 19) // 20 THEN v END) AS hi
      |  FROM r GROUP BY flag)
      |SELECT flag, count(*) AS n,
      |  CAST(sum(CASE WHEN v < lo OR v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
      |  lo, hi,
      |  ${TextAnalysis.r6("CAST(sum(CAST((CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END)" +
            " AS DECIMAL(18,2))) AS DOUBLE) / count(*)")} AS wmean
      |FROM r JOIN b USING (flag)
      |GROUP BY flag, lo, hi
      |ORDER BY flag""".stripMargin

  /** A14-approx: winsorized means with GK-sketch bounds — the variant
    * a continuous 100 TB column NEEDS: [[a14Winsorize]]'s exact
    * counting sort scales with value CARDINALITY, which on a
    * continuous column approaches row count (the r10 verdict's one
    * remaining scale note); `percentile_approx` (Greenwald-Khanna,
    * accuracy 1000 ⇒ rank error ≤ n/1000) computes p05/p95 in one
    * mergeable-sketch pass whose state is BOUNDED regardless of
    * cardinality. Use the exact form when the column is
    * discrete/price-like (its clip bounds are exact order
    * statistics); switch here when distinct values ≈ rows.
    *
    * Sketch values are engine-specific, so the oracle checks the a8
    * CONTRACT: emit the exact stats plus within-bounds booleans —
    * approx p05/p95 inside the exact [p04,p06]/[p94,p96] envelopes
    * (a 50× margin over the guaranteed rank error) and the
    * approx-clipped mean within 1 % of the exact winsorized mean;
    * DuckDB emits the same exact stats with literal `true`s. */
  private def a14WinsorizeApprox: Q = (s, dir) => {
    val r = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
    val (counts, cum) = winsorCum(s, dir)
    // the GK sketch over the raw column IS the operator on display —
    // the one remaining row-scaled pass besides the counts build
    val ab = r.groupBy(col("flag"))
      .agg(expr("percentile_approx(v, array(0.05, 0.95), 1000)").as("ab"))
      .select(col("flag"),
        element_at(col("ab"), 1).as("alo"), element_at(col("ab"), 2).as("ahi"))
    // exact-percentile ENVELOPE off the counting-sort frame (same
    // order-statistic + linear interpolation arithmetic as Spark's
    // percentile(): 0-based position (n-1)·q, lower/higher neighbor
    // values, lower + (higher-lower)·frac) — the r14 shape paid a
    // separate percentile() pass that buffered EVERY raw row per
    // group in one aggregate (row-scaled memory, guide §5); this is
    // cardinality-scaled and rides the frames the exact stats already
    // built.
    val qs = Seq(0.04 -> "p04", 0.06 -> "p06", 0.94 -> "p94", 0.96 -> "p96")
    def pos(q: Double): org.apache.spark.sql.Column =
      (col("n") - lit(1L)).cast("double") * lit(q)
    // an n = 1 group has no higher neighbor: it falls back to the lower
    // one (frac is 0 there), so the envelope is the group's one value,
    // not NULL
    val envAggs = qs.flatMap { case (q, nm) =>
      val rank = floor(pos(q)).cast("long") + lit(1L)
      val lo = min(when(col("cum") >= rank, col("v"))).cast("double")
      Seq(lo.as(s"${nm}_lo"),
        coalesce(min(when(col("cum") >= rank + lit(1L), col("v"))).cast("double"), lo)
          .as(s"${nm}_hi"),
        max(pos(q) - floor(pos(q))).as(s"${nm}_f"))
    }
    // the envelope aggregates RIDE the exact-bounds groupBy — one
    // window execution and one aggregation job for both
    val boundsEnv = winsorBounds(cum, envAggs)
    val exact = winsorExactFromBounds(counts, boundsEnv).drop("n_clipped")
    val env = boundsEnv
      .select(col("flag") +: qs.map { case (_, nm) =>
        (col(s"${nm}_lo")
          + (col(s"${nm}_hi") - col(s"${nm}_lo")) * col(s"${nm}_f")).as(nm)
      }: _*)
    // approx-clipped mean from the weighted distinct values (Σ c·clip —
    // exact-decimal-identical to the per-row sum, no third raw scan)
    val am = counts.join(broadcast(ab), "flag")
      .groupBy(col("flag"), col("alo"), col("ahi"))
      .agg(expr(TextAnalysis.r6(
        "CAST(sum(CAST((CASE WHEN v < alo THEN alo WHEN v > ahi THEN ahi ELSE v END)" +
          " AS DECIMAL(18,2)) * c) AS DOUBLE) / sum(c)")).as("awmean"))
      .select(col("flag"), col("awmean"))
    exact.join(broadcast(ab), "flag").join(broadcast(env), "flag")
      .join(broadcast(am), "flag")
      .select(col("flag"), col("n"), col("lo"), col("hi"), col("wmean"),
        (col("alo") >= col("p04") && col("alo") <= col("p06")).as("lo_within_bounds"),
        (col("ahi") >= col("p94") && col("ahi") <= col("p96")).as("hi_within_bounds"),
        (abs(col("awmean") - col("wmean")) <= abs(col("wmean")) * lit(0.01))
          .as("wmean_within_bounds"))
      .orderBy(col("flag").asc)
  }

  private val a14WinsorizeApproxSql =
    s"""WITH r AS (SELECT l_returnflag AS flag, l_extendedprice AS v,
      |    CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      |  FROM lineitem),
      |b AS (SELECT flag,
      |    max(CASE WHEN rn = (n + 19) // 20 THEN v END) AS lo,
      |    max(CASE WHEN rn = (19 * n + 19) // 20 THEN v END) AS hi
      |  FROM r GROUP BY flag)
      |SELECT flag, count(*) AS n, lo, hi,
      |  ${TextAnalysis.r6("CAST(sum(CAST((CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END)" +
            " AS DECIMAL(18,2))) AS DOUBLE) / count(*)")} AS wmean,
      |  true AS lo_within_bounds,
      |  true AS hi_within_bounds,
      |  true AS wmean_within_bounds
      |FROM r JOIN b USING (flag)
      |GROUP BY flag, lo, hi
      |ORDER BY flag""".stripMargin

  // ----------------------------------------------------------------

  val queries: Map[String, Q] = Map(
    "q5_nation_revenue" -> q5NationRevenue,
    "q18_large_orders" -> q18LargeOrders,
    "q7_volume_shipping" -> q7VolumeShipping,
    "q10_returned_items" -> q10ReturnedItems,
    "q21_waiting_suppliers" -> q21WaitingSuppliers,
    "q13_customer_distribution" -> q13CustomerDistribution,
    "q17_small_qty_revenue" -> q17SmallQtyRevenue,
    "q22_idle_customers" -> q22IdleCustomers,
    "q2_min_cost_supplier" -> q2MinCostSupplier,
    "q4_order_priority" -> q4OrderPriority,
    "q6_forecast_revenue" -> q6ForecastRevenue,
    "q14_promo_effect" -> q14PromoEffect,
    "q15_top_supplier" -> q15TopSupplier,
    "q16_parts_supplier" -> q16PartsSupplier,
    "q19_disjunctive_pred" -> q19DisjunctivePred,
    "q8_market_share" -> q8MarketShare,
    "q9_product_profit" -> q9ProductProfit,
    "q11_important_stock" -> q11ImportantStock,
    "q12_ship_priority" -> q12ShipPriority,
    "q20_excess_suppliers" -> q20ExcessSuppliers,
    "a14_winsorize" -> a14Winsorize,
    "a14_winsorize_approx" -> a14WinsorizeApprox,
    "a15_grouping_sets" -> a15GroupingSets,
    "w5_rank_family" -> w5RankFamily,
    "a8_approx_stats" -> a8ApproxStats,
    "w4_window_funcs" -> w4WindowFuncs,
    "f_dates" -> fDates,
    "a9_percentiles" -> a9Percentiles,
    "a10_histogram" -> a10Histogram,
    "a11_corr_regr" -> a11CorrRegr,
    "a12_anomaly" -> a12Anomaly,
    "j4_salted_join" -> j4SaltedJoin,
    "j5_semi_anti" -> j5SemiAnti,
    "j8_bloom_join" -> j8BloomJoin,
    "j9_bucketed_join" -> j9BucketedJoin,
    "u10_matview_rewrite" -> u10MatviewRewrite,
    "u5_intersect" -> u5Intersect,
    "u6_except" -> u6Except,
    "u7_upsert" -> u7Upsert,
    "u8_scd2" -> u8Scd2,
    "u9_incremental_agg" -> u9IncrementalAgg,
    "u11_incremental_join" -> u11IncrementalJoin,
    "u12_incremental_distinct" -> u12IncrementalDistinct,
    "a13_mode" -> a13Mode,
    "a5_rollup" -> a5Rollup,
    "a6_cube" -> a6Cube,
    "a7_pivot" -> a7Pivot)

  val oracles: Map[String, String] = Map(
    "a8_approx_stats" -> a8ApproxStatsSql,
    "q5_nation_revenue" -> q5NationRevenueSql,
    "q18_large_orders" -> q18LargeOrdersSql,
    "q7_volume_shipping" -> q7VolumeShippingSql,
    "q10_returned_items" -> q10ReturnedItemsSql,
    "q21_waiting_suppliers" -> q21WaitingSuppliersSql,
    "q13_customer_distribution" -> q13CustomerDistributionSql,
    "q17_small_qty_revenue" -> q17SmallQtyRevenueSql,
    "q22_idle_customers" -> q22IdleCustomersSql,
    "q2_min_cost_supplier" -> q2MinCostSupplierSql,
    "q4_order_priority" -> q4OrderPrioritySql,
    "q6_forecast_revenue" -> q6ForecastRevenueSql,
    "q14_promo_effect" -> q14PromoEffectSql,
    "q15_top_supplier" -> q15TopSupplierSql,
    "q16_parts_supplier" -> q16PartsSupplierSql,
    "q19_disjunctive_pred" -> q19DisjunctivePredSql,
    "q8_market_share" -> q8MarketShareSql,
    "q9_product_profit" -> q9ProductProfitSql,
    "q11_important_stock" -> q11ImportantStockSql,
    "q12_ship_priority" -> q12ShipPrioritySql,
    "q20_excess_suppliers" -> q20ExcessSuppliersSql,
    "a14_winsorize" -> a14WinsorizeSql,
    "a14_winsorize_approx" -> a14WinsorizeApproxSql,
    "a15_grouping_sets" -> a15GroupingSetsSql,
    "w5_rank_family" -> w5RankFamilySql,
    "a9_percentiles" -> a9PercentilesSql,
    "a10_histogram" -> a10HistogramSql,
    "a11_corr_regr" -> a11CorrRegrSql,
    "a12_anomaly" -> a12AnomalySql,
    "w4_window_funcs" -> w4WindowFuncsSql,
    "f_dates" -> fDatesSql,
    "j4_salted_join" -> j4SaltedJoinSql,
    "j5_semi_anti" -> j5SemiAntiSql,
    "j8_bloom_join" -> j8BloomJoinSql,
    "j9_bucketed_join" -> j9BucketedJoinSql,
    "u10_matview_rewrite" -> u10MatviewRewriteSql,
    "u5_intersect" -> u5IntersectSql,
    "u6_except" -> u6ExceptSql,
    "u7_upsert" -> u7UpsertSql,
    "u8_scd2" -> u8Scd2Sql,
    "u9_incremental_agg" -> u9IncrementalAggSql,
    "u11_incremental_join" -> u11IncrementalJoinSql,
    "u12_incremental_distinct" -> u12IncrementalDistinctSql,
    "a13_mode" -> a13ModeSql,
    "a5_rollup" -> a5RollupSql,
    "a6_cube" -> a6CubeSql,
    "a7_pivot" -> a7PivotSql)
}
