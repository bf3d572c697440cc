package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = BenchKit.session(cpus)
    // Dev-only subset filter (comma-separated names); driver sets nothing
    // and gets the full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    BenchKit.warmup(spark, sfDir)
    // Two measurement passes, per-query MIN. The host shows bursty
    // external CPU contention (sampled /proc/stat during a run: steal
    // spikes to 15% + sys 20% for tens of seconds, inflating whichever
    // query is live 10-40×, a different one each run). A stall burst
    // can hit a query in one pass but almost never in both, and pass 1
    // doubles as JIT/codegen warmup — so min-of-2 is the steady-state
    // number. Data is re-read from parquet each pass (nothing cached
    // across queries; BenchKit.timeNoop clears the cache), so this
    // measures the engine, not a warm cache.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    def timeAll(): Map[String, (Double, Boolean)] = selected.map { case (name, fn) =>
      name -> BenchKit.timeNoop(spark, fn(spark, sfDir))
    }
    // Janino compiles per pass, read outside the per-query timings: a
    // warm pass should compile (almost) nothing — identical generated
    // code is reused from BenchKit's codegen cache
    val counted = (1 to passes).map { _ =>
      val c0 = BenchKit.compiles()
      val r = timeAll()
      (r, BenchKit.compiles() - c0)
    }
    val allPasses = counted.map(_._1)
    val compiles = counted.map(_._2)
    // min over SUCCESSFUL passes only — a pass that failed fast must
    // not win the min and silently deflate the timing; all-fail → -1
    val results: Map[String, Double] = allPasses.head.keys.map { k =>
      val good = allPasses.map(_(k)).collect { case (t, true) => t }
      k -> (if (good.nonEmpty) good.min else -1.0)
    }.toMap
    // millisecond precision keeps the JSON line short enough to survive
    // the driver's output-tail capture
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + BenchKit.ms(v) }
      .mkString("{", ",", "}")
    // a query that failed every pass carries the -1 sentinel; summing it
    // would silently deflate the headline total by 1s per failure — sum
    // successes only and surface the failures explicitly
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    val total = results.values.filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":${BenchKit.ms(total)},"unit":"sec","passes":$passes,"failed":$failedJson,"compiles":${compiles.mkString("[", ",", "]")},"queries":$qs,"sf":"$sfDir"}"""
    // belt & braces for the driver's parser: the JSON goes to a file as
    // well as stdout (r1's line was truncated by the log-tail capture;
    // r4's 2000-char tail truncated the total again — the repo-local
    // artifact survives any tail length). cwd may not be the repo (or
    // not writable) when launched bare — fall back to tmp so SOME
    // artifact always exists; the stdout line remains the last resort.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val fallback = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_bench.json").toString
    Seq(outPath, fallback).iterator.map { p =>
      try { java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n"); true }
      catch { case _: Throwable => false }
    }.find(identity)
    spark.stop()
    // print LAST, after Spark's shutdown noise, so the line sits at the
    // very end of the captured output. The stdout line must also FIT
    // the driver's 2000-char output tail: the full ~130-query map is
    // ~2700 chars, which pushed the line's HEAD (metric/value) out of
    // the r6 tail and left BENCH_r06.parsed null. So stdout carries the
    // total plus only the 25 slowest queries; the complete map lives in
    // bench_out.json (written above).
    val slowest = results.toSeq.sortBy { case (_, v) => -v }.take(25)
      .map { case (k, v) => s"\"" + k + "\":" + BenchKit.ms(v) }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${BenchKit.ms(total)},"unit":"sec","passes":$passes,"n_queries":${results.size},"failed":$failedJson,"full":"$outPath","queries":$slowest,"sf":"$sfDir"}""")
  }
}
