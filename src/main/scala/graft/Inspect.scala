package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: inspect named queries on the bench's session
  * ([[BenchKit.session]]), so the plans and timings are the ones the
  * bench runs. Per query, one run writes three files:
  *
  *  - `<name>.plan.txt`: the formatted physical plan of the returned
  *    frame;
  *  - `<name>.collects.txt`: the optimized and physical plan of every
  *    driver collect the query's BUILDER performs (quantizer seeds and
  *    rounds, probe plans, manifest pruning) — plans that run during
  *    construction and never appear in the returned frame;
  *  - `<name>.profile.txt`: per-job wall time and per-stage task, CPU
  *    and GC time (stages over 200 ms of task time) over two noop
  *    passes with the cache cleared between them, so driver-side gaps
  *    (planning, codegen, collect latency) separate from executor
  *    work. Pass 1 warms JIT and codegen; pass 2 is the number.
  *
  * Usage: java ... graft.Inspect <q1,q2,...> [sfDir] [outDir]
  * `sfDir` defaults to `sf0.01` (relative to the working directory);
  * without `outDir` every file prints to stdout. `SPARK_GRAFT_CPUS`
  * sizes the session (default 4). */
object Inspect {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("sf0.01")
    val spark = BenchKit.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try run(spark, names, sfDir, args.lift(2)) finally spark.stop()
  }

  def run(spark: SparkSession, names: Seq[String], sfDir: String,
      outDir: Option[String]): Unit = {
    def emit(file: String, text: String): Unit = outDir match {
      case Some(d) =>
        Files.createDirectories(Paths.get(d))
        Files.writeString(Paths.get(d, file), text)
        println(s"[inspect] wrote $d/$file")
      case None => println(s"== $file ==\n$text")
    }
    names.foreach { name =>
      val (collects, plan) = collectsAndPlan(spark, name, sfDir)
      emit(s"$name.plan.txt", plan)
      emit(s"$name.collects.txt", collects)
      emit(s"$name.profile.txt", profile(spark, name, sfDir))
    }
  }

  /** Build the query once under a listener that records every builder
    * collect; returns the collects' plans and the frame's plan. */
  private def collectsAndPlan(spark: SparkSession, name: String,
      sfDir: String): (String, String) = {
    val sb = new StringBuffer
    var i = 0
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") {
          i += 1
          sb.append(s"== builder collect #$i (optimized logical plan) ==\n")
            .append(qe.optimizedPlan.toString).append("\n")
            .append("-- physical --\n").append(qe.executedPlan.toString).append("\n\n")
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val plan = try {
      SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
    } catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
    finally {
      ListenerBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    (s"$i builder collects\n\n$sb", plan)
  }

  private def profile(spark: SparkSession, name: String, sfDir: String): String = {
    val sb = new StringBuffer
    val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
    val taskMs = new java.util.concurrent.atomic.LongAdder
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart.put(j.jobId, j.time)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobStart.get(j.jobId)).foreach { t0 =>
          sb.append(f"[job] id=${j.jobId}%3d wall=${(j.time - t0) / 1000.0}%7.3fs\n")
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) taskMs.add(t.taskMetrics.executorRunTime)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val tm = Option(i.taskMetrics)
        val rt = tm.map(_.executorRunTime).getOrElse(0L)
        val gc = tm.map(_.jvmGCTime).getOrElse(0L)
        val cpu = tm.map(_.executorCpuTime / 1000000).getOrElse(0L)
        if (rt > 200)
          sb.append(f"[stage] id=${i.stageId}%4d tasks=${i.numTasks}%3d " +
            f"run=${rt / 1000.0}%7.3fs cpu=${cpu / 1000.0}%7.3fs gc=${gc / 1000.0}%6.3fs  " +
            s"${i.name.take(60)}\n")
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try (1 to 2).foreach { pass =>
      taskMs.reset()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      ListenerBus.drain(sc)
      sb.append(f"[pass $pass] wall=$wall%.3fs summedTask=${taskMs.sum() / 1000.0}%.3fs\n")
    } finally sc.removeSparkListener(listener)
    sb.toString
  }
}
