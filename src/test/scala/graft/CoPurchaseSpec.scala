package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CoPurchase, Collocations, Graph}

/** The suite-shared co-purchase frames: consumers read the staged copy,
  * never lineitem, and the algebraic equivalences the sharing relies on
  * are asserted against independent builds. */
class CoPurchaseSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session
  private val sf = SparkSuite.sf

  test("edges == legacy distinct-pair build over non-distinct items") {
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"))
    val legacy = items.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("pb")),
        Seq("l_orderkey"))
      .filter(col("pa") < col("pb"))
      .select(col("pa"), col("pb")).distinct()
    val shared = CoPurchase.edges(spark, sf)
    assert(shared.exceptAll(legacy).isEmpty && legacy.exceptAll(shared).isEmpty)
    assert(shared.count() > 0)
  }

  test("q232's L2 shortcut: shared pair counts == pruned-basket re-count") {
    // Apriori pruning removes only infrequent items; a pair's support is
    // bounded by either item's support, so the support-filtered pair list
    // is identical whether counted over full or pruned baskets.
    val s = Collocations.TripleSupport
    val items = CoPurchase.items(spark, sf)
    val freq = items.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_item"))
    val pruned = items.join(
      freq.filter(col("n_item") >= s).select(col("l_partkey")),
      Seq("l_partkey"), "left_semi")
    val overPruned = pruned
      .select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(pruned.select(col("l_orderkey"), col("l_partkey").as("pb")),
        Seq("l_orderkey"))
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= s)
    val shortcut = CoPurchase.pairs(spark, sf).filter(col("n_shared") >= s)
    assert(shortcut.exceptAll(overPruned).isEmpty &&
      overPruned.exceptAll(shortcut).isEmpty)
  }

  test("q139 reads the staged copy, not lineitem, on a fresh session") {
    // the full plan, its eagerly cut subtrees included (withNoCut)
    val plan = graft.ops.Checkpoints.withNoCut {
      Graph.q139Triangles(spark.newSession(), sf).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted"))
    }
    assert(plan.contains("pairs.parquet"), plan)
    assert(!plan.contains("lineitem"), "q139 scans lineitem")
  }
}
