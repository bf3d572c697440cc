package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.StaticSQLConf

/** Shared measurement plumbing for [[Bench]] and [[ScaleCurve]] — one
  * copy of the methodology so the two stay comparable: thread cap
  * (ncpu − 2, the measured straggler fix from SURVEY §6), session
  * and codegen config (shared with Verify and the test session),
  * JVM/codegen warmup, noop-write forcing (honest full-plan
  * cost — count() lets Catalyst prune projections), and the
  * Locale-safe millisecond formatter. */
object BenchKit {

  /** Entries in Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Sized from
    * the measured working sets: one `corpus_prep` benchmark pass
    * compiles 237 distinct classes, one `hicsa_etl` pass 90, and one
    * Verify pass over all 234 named queries 2,614 at sf0.1 (2,811 at
    * sf0.01). At the default a `corpus_prep` pass evicts its own
    * classes before it reuses them. Holding a whole Verify pass costs
    * about 18 MB of metaspace (213 vs 195 MB at sf0.1). */
  val CodegenCacheEntries = 4096

  /** The codegen settings every session of the program is built with:
    *  - `spark.sql.codegen.useIdInClassName=false` names each
    *    whole-stage class without its codegen stage id. The id is
    *    assigned per plan (and again on every AQE re-plan), so with it
    *    identical code compiles again under a new name: one warm
    *    `g_cc_star` call compiled 145 classes from 28 distinct bodies.
    *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]].
    *    It is a static setting, read once when the JVM first generates
    *    code, so it only takes effect on the builder of the first
    *    session; a later `getOrCreate` cannot change it.
    * Together they make identical generated code compile once per JVM
    * instead of once per loop round, re-plan and pass (warm
    * `corpus_prep` pass: 331 compiles → 0, `hicsa_etl`: 22 → 0). */
  def withCodegenReuse(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.codegen.useIdInClassName", "false")
    .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toLong)

  /** Janino compiles of generated classes so far in this JVM (JVM-wide,
    * every session and executor thread). */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** local[threads] session with `cpus` shuffle partitions; threads
    * leave 2 cores for the launcher + driver dispatcher (measured
    * 146 s → 77 s for the full suite at sf0.1 on 32 vCPUs). Shuffle
    * width stays at the requested cpus — partition SIZING is about
    * data, not the local thread count. Codegen settings come from
    * [[withCodegenReuse]]. */
  def session(cpus: Int): SparkSession = {
    val threads = math.max(1, math.min(cpus, Runtime.getRuntime.availableProcessors() - 2))
    val spark = withCodegenReuse(SparkSession.builder())
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", cpus)
      // UTC everywhere: the events loader's TIMESTAMP_NTZ branch casts
      // through the session zone, so a non-UTC host would shift
      // instants relative to the (UTC-pinned) Verify/oracle sessions
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Initialize codegen/parquet machinery so the first timed query
    * isn't charged for JVM startup. */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(100000).selectExpr("sum(id)").collect()
    try { Tables.region(spark, sfDir).count(); () }
    catch { case _: Throwable => () }
  }

  /** Force with a noop WRITE, not count(): count() lets Catalyst prune
    * every projection not needed for row counting; the noop sink
    * evaluates every output column — the honest cost of the
    * materialized plan. Clears the cache after (queries are
    * independent; accumulated cache becomes GC pressure that taxes
    * later queries). Returns (seconds, succeeded). */
  def timeNoop(spark: SparkSession, df: => DataFrame): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok = try { df.write.mode("overwrite").format("noop").save(); true }
      catch { case _: Throwable => false }
    val t = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    (t, ok)
  }

  /** Millisecond-precision, Locale.ROOT (a comma-decimal default
    * locale must not corrupt the JSON). */
  def ms(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
}
