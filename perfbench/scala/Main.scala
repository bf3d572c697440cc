package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.{BenchKit, Graft, SparkEntry}

/** One benchmark run of one workload in one JVM:
  *
  * {{{Main <workload> <dataDir> <workDir> <repoDir> <seconds> <trace> <out.json>}}}
  *
  * Starts one session from `BenchKit.session(nproc)`, sets the workload
  * up, runs the untimed warm-up pass (whose outputs are checked) and
  * `warmPasses` more untimed passes, then timed passes for `seconds`.
  * With `trace = 1` half the timed passes are traced, alternating with
  * untraced ones.  Writes the raw records as JSON to `out.json`; the
  * Python side computes the metrics. */
object Main {
  implicit val formats: Formats = DefaultFormats

  /** (layer, named query) — layers are the repo's modules. */
  val hicsaEtl: Seq[(String, String)] = Seq(
    "scrape" -> "s3_html_parse",
    "scrape" -> "w1_scrape_fill",
    "relational" -> "w1_fill_forward",
    "scrape" -> "x1_nested_links",
    "relational" -> "x1_double_explode",
    "scrape" -> "a4_group_collect",
    "relational" -> "x2_classify_explode_outer",
    "relational" -> "j2_keyword_theta_join",
    "relational" -> "u1_schema_union",
    "relational" -> "u4_keepfirst_dedup",
    "relational" -> "w3_positional_repair",
    "flagship" -> "flagship_policy_db")

  val corpusPrep: Seq[(String, String)] = Seq(
    "similarity" -> "s_pq_adc",
    "dedup" -> "d_minhash_lsh",
    "text_analysis" -> "t_lm_score",
    "text_analysis" -> "t_bpe_encode",
    "graph" -> "g_cc_star")

  /** Untimed passes after the checked one.  Without them the JIT is
    * still compiling through the first timed passes, and the median
    * lands wherever the host let the compiler get to: `hicsa_etl`
    * (twelve queries, each run once per pass) fell from 5.7 s to 2.7 s
    * over five passes, and `corpus_prep` from 10 s to 8.2 s over its
    * first three timed passes, more slowly when the host was busy. */
  val warmPasses: Map[String, Int] = Map("hicsa_etl" -> 2, "corpus_prep" -> 1)

  val workloads: Map[String, Seq[(String, String)]] =
    Map("hicsa_etl" -> hicsaEtl, "corpus_prep" -> corpusPrep)

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, repoDir, secondsArg, traceArg, out) = args
    val seconds = secondsArg.toDouble
    val tracing = traceArg == "1"
    val t0 = System.nanoTime()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = BenchKit.session(nproc)
    Graft.register(spark)
    val rec = new Recorder(spark)
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.nanoTime() - t0) / 1e9}%.1fs")
    mark("session ready")

    val w = new QueryWorkload(workloads(workload), dataDir, workDir, rec)
    w.writeOracles()
    w.checkedPass()
    mark("checked pass done")
    (0 until warmPasses(workload)).foreach(_ => w.pass())
    rec.facts("setup_s") = (System.nanoTime() - t0) / 1e9
    System.gc()
    rec.timedPasses(seconds, traceHalf = tracing)(w.pass())
    // timing is over: the out-of-process checks may start now
    Files.writeString(Paths.get(s"$workDir/timed.done"), "")
    rec.facts("live_heap_mb") = rec.liveHeapMb()
    if (workload == "hicsa_etl") goldenCheck(rec, repoDir)

    val conf = rec.spark.conf
    val config = Map(
      "nproc" -> nproc.toString,
      "master" -> rec.spark.sparkContext.master,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory() / 1048576).toString,
      "spark" -> rec.spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jvm" -> System.getProperty("java.version"))
    Files.writeString(Paths.get(out), Serialization.write(Map(
      "config" -> config, "facts" -> rec.facts.toMap,
      "passes" -> rec.passes.toList, "ops" -> rec.ops.toList,
      "tasks" -> rec.trace.tasks.toList, "jobs" -> rec.trace.jobs.toMap,
      "scan_bytes" -> rec.trace.scanBytes.toMap, "checks" -> rec.checks.toList)))
    rec.spark.stop()
  }

  /** `Graft.hicsa.buildDatabase` on the reference fixtures must
    * reproduce the shipped 308×5 golden table row for row. */
  def goldenCheck(rec: Recorder, repoDir: String): Unit = {
    val spark = rec.spark
    def res(n: String) = spark.read.parquet(s"$repoDir/src/test/resources/hicsa/$n.parquet")
    rec.check("hicsa_golden", "buildDatabase differs from golden.parquet") {
      val db = Graft.hicsa.buildDatabase(res("elements"), res("policy"), res("support"),
        "https://www.nrcs.usda.gov").cache()
      val golden = res("golden")
      val ok = db.count() == 308 && db.columns.length == 5 &&
        db.exceptAll(golden).isEmpty && golden.exceptAll(db).isEmpty
      db.unpersist()
      ok
    }
  }
}

/** Named `SparkEntry.queries` entries, each forced with a noop write by
  * `BenchKit.timeNoop`.  The warm-up pass writes every output as parquet
  * under `workDir/out/<name>` instead, for the DuckDB oracle check. */
final class QueryWorkload(queries: Seq[(String, String)], dataDir: String,
    workDir: String, rec: Recorder) {
  private val spark: SparkSession = rec.spark
  private val fns = SparkEntry.queries

  /** The oracle SQL of this workload's queries, for the DuckDB check. */
  def writeOracles(): Unit = {
    val oracles = SparkEntry.oracleSql
    val mine = queries.map(_._2).filter(oracles.contains).map(n => n -> oracles(n)).toMap
    Files.createDirectories(Paths.get(workDir))
    Files.writeString(Paths.get(s"$workDir/oracle_sql.json"), Serialization.write(mine)(Main.formats))
  }

  def checkedPass(): Unit = queries.foreach { case (layer, name) =>
    rec.op(layer, name) {
      fns(name)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$workDir/out/$name")
    }
    spark.catalog.clearCache()
  }

  def pass(): Unit = queries.foreach { case (layer, name) =>
    rec.op(layer, name) {
      val (_, ok) = BenchKit.timeNoop(spark, fns(name)(spark, dataDir))
      if (!ok) sys.error(s"$name failed")
    }
  }
}
