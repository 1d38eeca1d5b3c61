package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Checkpoints

/** The pinned-adjacency lifecycle ([[Checkpoints.pinned]]): the queries
  * that pin their adjacency leave no cached blocks and no cache entry once
  * built and run, and a loop that throws releases its pin too. */
class PinLifecycleSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  private def persistentRdds = spark.sparkContext.getPersistentRDDs

  /** The lineage cuts a result reads (local checkpoints, themselves
    * persisted blocks) may stay; any other persistent RDD is a pin. */
  private def assertNoPin(after: String): Unit = {
    val pins = persistentRdds.filter { case (_, rdd) => !rdd.isCheckpointed }
    assert(pins.isEmpty,
      s"$after left persistent RDDs ${pins.values.mkString(", ")}")
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$after left a cache-manager entry")
  }

  Seq("q114_pagerank", "q256_label_prop", "q257_sssp").foreach { name =>
    test(s"$name leaves no pin once built and run") {
      Sessions.release(spark)
      assertNoPin("the release before the query")
      assert(SparkEntry.queries(name)(spark, SparkSuite.sf).collect().nonEmpty)
      assertNoPin(name)
    }
  }

  test("a loop that throws inside pinned leaves no pin") {
    Sessions.release(spark)
    val adj = spark.range(100)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val thrown = intercept[IllegalStateException] {
      Checkpoints.pinned(adj, 100L) { pin =>
        assert(persistentRdds.nonEmpty && !spark.sharedState.cacheManager
          .isEmpty, "the adjacency is not pinned while the loop runs")
        assert(pin.count() == 100L)
        throw new IllegalStateException("loop failed")
      }
    }
    assert(thrown.getMessage == "loop failed")
    assertNoPin("the failed loop")
  }
}
