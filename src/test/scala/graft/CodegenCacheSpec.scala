package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark's codegen cache must hold every class a pass generates, or a
  * steady pass compiles its classes again (Janino, then the JIT). The
  * cache is sized once per JVM from `Session.configure`; Spark's default
  * of 100 is fewer than one headline pass generates. */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSession._

  private val key = "spark.sql.codegen.cache.maxEntries"

  /** Generated classes compiled so far in this JVM (every cache miss). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** 150 queries, each with its own literal, so each generates its own
    * whole-stage class: more than Spark's default cache holds. */
  private def pass(): Unit =
    (0 until 150).foreach { i =>
      spark.range(0, 8, 1, 1).selectExpr(s"id * ${i + 7919} + $i AS v").collect()
    }

  test("the session is built with the engine's codegen cache size") {
    assert(spark.conf.get(key) == "2000")
  }

  test("a second pass over more than 100 distinct classes compiles nothing") {
    val c0 = compiles
    pass()
    val c1 = compiles
    assert(c1 - c0 > 100, s"the first pass compiled only ${c1 - c0} classes")
    pass()
    assert(compiles - c1 == 0, s"the second pass recompiled ${compiles - c1} classes")
  }
}
