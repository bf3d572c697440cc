package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the harness parquet tables (TESTDATA.md).
  *
  * Every `SparkEntry.queries` entry receives `(spark, sfDir)`; all table
  * access goes through here so the scan surface stays uniform (parquet,
  * column-pruned + filter-pushed by Catalyst — verify with
  * `.explain("formatted")`: `PushedFilters` / `ReadSchema`).
  *
  * Schemas are inferred once per file version. A plain
  * `spark.read.parquet` runs a whole Spark job (the parallel footer
  * merge) before the query starts; the pipelines read one or two tables
  * per step, so those jobs were 14 of the 33 in a warm `hicsa_etl` pass.
  * [[apply]] infers with Spark's own reader the first time and then
  * reads with that schema, which starts no job. The cache is keyed by
  * what the inferred schema depends on:
  *  - the table's files: qualified path plus each leaf file's name,
  *    length and modification time, so a rewritten table is a new key;
  *  - the session's `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*`
  *    settings, so flipping `nanosAsLong` (see [[events]]) is a new key.
  * The files are listed before every read and a cached schema is used
  * only for the exact listing it was inferred from, so it cannot go
  * stale: Spark writes a table under new file names, and a file
  * rewritten in place gets a new modification time. (A file changed
  * between the listing and the inference leaves an entry that no later
  * listing matches.) It holds StructTypes only — no session, no
  * DataFrame, no plan — one per (path, settings), replaced when the
  * files change. A missing table skips the cache, so the read fails as
  * Spark's does (`PATH_NOT_FOUND`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Version(files: Seq[(String, Long, Long)], schema: StructType)
  private val schemas = new ConcurrentHashMap[(String, Seq[(String, String)]), Version]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    fileVersion(spark, path) match {
      case None => spark.read.parquet(path) // missing: Spark's own PATH_NOT_FOUND
      case Some((qualified, files)) =>
        val key = (qualified, parquetSettings(spark))
        val schema = Option(schemas.get(key)).filter(_.files == files).fold {
          val inferred = spark.read.parquet(path).schema
          schemas.put(key, Version(files, inferred))
          inferred
        }(_.schema)
        spark.read.schema(schema).parquet(path)
    }
  }

  /** The qualified path and its leaf files' (name, length, modification
    * time) — a single file lists itself — or None when it does not exist. */
  private def fileVersion(spark: SparkSession, path: String): Option[(String, Seq[(String, Long, Long)])] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val it = fs.listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some((fs.makeQualified(p).toString, files.result()))
    } catch { case _: FileNotFoundException => None }
  }

  private def parquetSettings(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across harness data
    * generations: TIMESTAMP(NANOS) (which Spark 4 only reads as a long,
    * via the legacy conf), TIMESTAMP(MICROS) without timezone (read as
    * TIMESTAMP_NTZ), or a plain instant. Normalize all three to the
    * session-UTC TimestampType every consumer expects; DuckDB reads the
    * same file natively as TIMESTAMP either way, so oracle parity is
    * preserved. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.withColumn("ts", normalizedEventTs(raw.schema("ts").dataType))
  }

  /** The ts-normalizing column for a given physical type — shared with
    * the streaming source so batch and stream agree byte-for-byte.
    *
    * Every branch is SESSION-TIMEZONE-INDEPENDENT: the nanos-long
    * branch is epoch arithmetic, the instant branch is already
    * absolute, and the NTZ branch pins its wall-clock interpretation
    * to UTC explicitly via make_timestamp(..., 'UTC') — a plain
    * `cast(ts as timestamp)` would read the wall clock in whatever
    * spark.sql.session.timeZone the calling session happens to run
    * (the entry points all pin UTC, but correctness must not depend
    * on which session builder ran first). extract(SECOND) carries the
    * fractional micros (DECIMAL(8,6)), so sub-second precision
    * survives. */
  def normalizedEventTs(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    dt match {
      case LongType         => expr("timestamp_micros(ts div 1000)")
      case TimestampNTZType => expr(
        "make_timestamp(year(ts), month(ts), day(ts), hour(ts), minute(ts), " +
          "extract(SECOND FROM ts), 'UTC')")
      case _                => col("ts")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Spread a low-parallelism scan across the session's cores before a
    * HEAVY per-row pass (the multimodal codec round-trips: PNG/WAV
    * encode + decode per row). The harness parquet files are
    * single-row-group, so a scan plans ONE task no matter the core
    * count — profiled, the video featurize ran 2.4 s serial at
    * local[30] while 29 cores idled. When the scan plans fewer
    * partitions than `defaultParallelism`, a round-robin repartition
    * (deterministic: Spark sorts before round-robin, SPARK-23207)
    * moves the few narrow rows once and unlocks the cores; any
    * real-scale input already has enough splits, so this is the
    * identity there and no extra exchange is ever paid (guide §2.6
    * stragglers/idle capacity). NOT worth it before cheap per-row
    * passes (measured: it LOST time on the tokenize/shingle scans —
    * task+shuffle overhead exceeds the ~0.4 s serial saving); reserve
    * it for decode-grade work, ~1 ms+/row. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
