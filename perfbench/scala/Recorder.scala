package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Times every call the benchmark makes into the program and keeps the
  * raw records the result is computed from.  In a traced pass each call
  * runs under its own job group so that [[Trace]] can attribute Spark
  * work to it. */
final class Recorder(val spark: SparkSession) {
  import Recorder._

  var pass = 0
  var traced = false
  val trace = new Trace
  val ops = mutable.ArrayBuffer.empty[Op]
  val passes = mutable.ArrayBuffer.empty[Pass]
  val checks = mutable.ArrayBuffer.empty[Check]
  val facts = mutable.LinkedHashMap.empty[String, Double]
  private var seq = 0

  /** Run `body` as one timed call; a call that throws is recorded as
    * failed and yields None. */
  def op[T](layer: String, name: String)(body: => T): Option[T] = {
    seq += 1
    val group = s"call-$seq"
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(group, s"$layer/$name", interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $layer/$name failed: $e")
        None
    }
    val secs = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    if (traced) sc.clearJobGroup()
    System.err.println(f"[perfbench] pass $pass $layer/$name ${secs}%.3fs")
    ops += Op(pass, traced, layer, name, group, t0, t1, secs, r.isDefined)
    r
  }

  def check(name: String, detail: => String = "")(cond: => Boolean): Boolean = {
    val ok = try cond catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] check $name threw: $e")
        false
    }
    checks += Check(name, ok, if (ok) "" else detail)
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
    ok
  }

  /** Run timed passes for `budgetS` seconds, at least `MinPasses` of
    * them: a new pass starts only when the last pass's duration still
    * fits the budget.  Three passes let the median drop one pass slowed
    * by a short spell of contention on the host.
    * An untimed full GC separates passes so that each starts from the
    * same heap state.
    *
    * With `traceHalf`, passes run untraced, traced, traced, untraced and
    * so on (at least two of each): the listener is attached for each
    * traced pass only, so traced and untraced passes share one JIT state
    * and a steady warm-up trend cancels out of their ratio. */
  def timedPasses(budgetS: Double, traceHalf: Boolean)(onePass: => Unit): Unit = {
    val sc = spark.sparkContext
    val minPasses = if (traceHalf) 4 else MinPasses
    val start = System.nanoTime()
    var n = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (n < minPasses || elapsed + last <= budgetS) {
      traced = traceHalf && (n % 4 == 1 || n % 4 == 2)
      pass += 1
      n += 1
      if (traced) sc.addSparkListener(trace)
      val gc0 = gcSeconds()
      val n0 = System.nanoTime()
      onePass
      last = (System.nanoTime() - n0) / 1e9
      val gc = gcSeconds() - gc0
      if (traced) {
        org.apache.spark.sql.perfbench.SparkAccess.drain(sc)
        sc.removeSparkListener(trace)
      }
      System.gc()
      passes += Pass(pass, traced, last, gc, usedHeapMb())
    }
    traced = false
  }

  /** Used heap after dropping cached data and two full GCs. */
  def liveHeapMb(): Double = {
    spark.catalog.clearCache()
    System.gc()
    System.gc()
    usedHeapMb()
  }
}

object Recorder {
  val MinPasses = 3

  final case class Op(pass: Int, traced: Boolean, layer: String, name: String,
      group: String, t0: Long, t1: Long, secs: Double, ok: Boolean)
  final case class Pass(pass: Int, traced: Boolean, wallS: Double, gcS: Double,
      heapMb: Double)
  final case class Check(name: String, ok: Boolean, detail: String)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def usedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
}
