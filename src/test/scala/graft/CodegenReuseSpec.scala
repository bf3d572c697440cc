package graft

import org.apache.spark.sql.internal.StaticSQLConf

/** Identical generated code compiles once per JVM. Spark's defaults
  * compile it again per codegen stage id (assigned per plan and per
  * AQE re-plan) and evict it from a 100-entry cache, so every round of
  * an iterative query recompiled its classes.
  *
  * The compile counter is JVM-wide. sbt runs the suites of the forked
  * test JVM one after another (`testForkedParallel` is false), so no
  * other suite's codegen lands between the two readings. */
class CodegenReuseSpec extends SparkSpec {

  test("the shared session carries the program's codegen cache size") {
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key).toInt ==
      BenchKit.CodegenCacheEntries)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("a second round of the iterative queries compiles no generated class") {
    val names = Seq("s_pq_adc", "d_minhash_lsh", "t_lm_score", "t_bpe_encode", "g_cc_star")
    def roundCompiles(): Long = {
      val before = BenchKit.compiles()
      names.foreach { n =>
        val (_, ok) = BenchKit.timeNoop(spark, SparkEntry.queries(n)(spark, sf))
        assert(ok, s"$n failed")
      }
      BenchKit.compiles() - before
    }
    roundCompiles() // fills the cache, or finds it filled by earlier suites
    assert(roundCompiles() == 0)
  }
}
