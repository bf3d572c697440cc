package graft

/** Dev tool: dump the optimized logical plan of EVERY driver collect a
  * query's BUILDER performs (quantizer seeds/rounds, probe plans,
  * manifest pruning) — the plans [[Explain]] can't show because they
  * execute during construction and never appear in the returned frame.
  * Usage: java ... graft.ExplainCollects <queryName> [sfDir] [outFile]
  */
object ExplainCollects {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outFile = if (args.length > 2) Some(args(2)) else None
    // the bench's session, so plan dumps show the plans the bench runs
    val spark = BenchKit.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val sb = new StringBuilder
    var i = 0
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "collect") {
          i += 1
          sb.append(s"== builder collect #$i (optimized logical plan) ==\n")
          sb.append(qe.optimizedPlan.toString).append("\n")
          sb.append(s"-- physical --\n").append(qe.executedPlan.toString).append("\n\n")
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    SparkEntry.queries(name)(spark, sfDir)
    // drain the async listener bus so every collect is recorded
    org.apache.spark.sql.graft.ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(listener)
    outFile match {
      case Some(f) =>
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(f).toAbsolutePath.getParent)
        java.nio.file.Files.writeString(java.nio.file.Paths.get(f), sb.toString)
        println(s"[explain-collects] wrote $f ($i collects)")
      case None => println(sb.toString)
    }
    spark.stop()
  }
}
