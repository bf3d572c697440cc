package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM session, sbt forks
  * the test JVM once; `Test / fork := true`). Built with the program's
  * codegen settings ([[BenchKit.withCodegenReuse]]) — this is the JVM's
  * first session, so the static codegen cache size takes effect. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = BenchKit.withCodegenReuse(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** Spark jobs that `body` starts: a listener counts the job starts
    * tagged with a job group unique to this call, so jobs of other work
    * in the shared session are not counted. The listener bus is drained
    * before the count is read. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobsDuring-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsDuring", interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.sql.graft.ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
