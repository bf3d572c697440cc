package graft

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
}
