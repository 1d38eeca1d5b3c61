package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

/** The session's generated-class cache ([[Sessions.CodegenCacheEntries]])
  * holds a working set larger than Spark's default 100 classes: a query
  * rerun after 150 other generated classes compiles nothing. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  /** Classes janino compiled in this JVM so far. */
  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `body`'s result and the classes compiled while it ran. */
  private def compiledDuring[T](body: => T): (T, Long) = {
    val before = compiled
    val out = body
    (out, compiled - before)
  }

  test("a query's classes survive 150 other generated classes") {
    def probe() = spark.range(0, 1000, 1, 2)
      .select((col("id") % 13).as("k"), (col("id") * 7).as("v"))
      .groupBy("k").agg(sum("v").as("s")).orderBy("k").collect().toSeq
    val first = probe()
    // one projection per literal: each inlines its own constant, so each
    // is a distinct generated source and a distinct cache entry
    val (_, others) = compiledDuring {
      (0 until 150).foreach { i =>
        spark.range(1).select((col("id") + lit(7919000L + i)).as("x"))
          .collect()
      }
    }
    assert(others >= 150, s"the throwaway projections compiled $others classes")
    val (again, rerun) = compiledDuring(probe())
    assert(again === first)
    assert(rerun === 0, s"the rerun recompiled $rerun evicted classes")
  }

  test("the session's codegen cache size is the Sessions constant") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Sessions.CodegenCacheEntries.toString)
  }
}
