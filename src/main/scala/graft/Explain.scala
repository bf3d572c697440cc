package graft

/** Dev tool: print the formatted physical plan of a named query.
  * Usage: java ... graft.Explain <queryName>[,<name2>,...] [sfDir] [outDir]
  * With outDir, writes <outDir>/<name>.txt per query instead of stdout
  * (one session for the whole batch — ~10 s JVM start amortized). */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) Some(args(2)) else None
    // the bench's session, so plan dumps show the plans the bench runs
    val spark = BenchKit.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    names.foreach { name =>
      outDir match {
        case Some(d) =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          val plan = try {
            val df = SparkEntry.queries(name)(spark, sfDir)
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          } catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, s"$name.txt"), plan)
          println(s"[explain] wrote $d/$name.txt")
        case None =>
          SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
