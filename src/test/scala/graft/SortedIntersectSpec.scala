package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SortedIntersect.sorted_long_intersect

/** The triangle-closing merge kernel (q139/q242): on sorted distinct
  * inputs it must produce exactly `array_intersect`'s SET, inside
  * whole-stage codegen. */
class SortedIntersectSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  private val sortedDistinct: Gen[Seq[Long]] =
    Gen.listOf(Gen.chooseNum(-50L, 50L)).map(_.distinct.sorted.toSeq)

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("matches array_intersect's set on sorted distinct inputs (property)") {
    val sp = spark
    import sp.implicits._
    val pairs = samples(Gen.zip(sortedDistinct, sortedDistinct), 60) ++
      // deterministic edge shapes: empty/empty, disjoint, identical,
      // one-contains-other, single-element overlap at each end
      Seq(
        (Seq.empty[Long], Seq.empty[Long]),
        (Seq(1L, 2L, 3L), Seq(4L, 5L)),
        (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
        (Seq(1L, 2L, 3L, 4L), Seq(2L, 3L)),
        (Seq(1L, 9L), Seq(9L, 10L)),
        (Seq(1L, 9L), Seq(0L, 1L)))
    val df = pairs.toDF("a", "b").select(
      sorted_long_intersect(col("a"), col("b")).as("merge"),
      array_intersect(col("a"), col("b")).as("ref"))
    df.collect().zip(pairs).foreach { case (row, (a, b)) =>
      val merge = row.getSeq[Long](0)
      val ref = row.getSeq[Long](1)
      // merge output is ascending; array_intersect preserves first-arg
      // order, which on an ascending first arg is also ascending — so the
      // full sequences (not just sets) must agree
      assert(merge === ref, s"a=$a b=$b")
      assert(merge === merge.sorted, s"a=$a b=$b")
    }
  }

  test("null array yields null; empty arrays yield empty") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (Option(Seq(1L, 2L)), Option.empty[Seq[Long]]),
      (Option(Seq.empty[Long]), Option(Seq(1L, 2L)))
    ).toDF("a", "b").select(sorted_long_intersect(col("a"), col("b")).as("r"))
    val rows = df.collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getSeq[Long](0).isEmpty)
  }

  test("participates in whole-stage codegen (no interpreted fallback)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // range-backed, not a local relation: ConvertToLocalRelation would
      // fold a Seq.toDF projection at optimization time and leave zero
      // WholeStageCodegen subtrees to inspect
      val df = spark.range(4).select(
        sorted_long_intersect(
          array(lit(1L), lit(3L), col("id") + 5L),
          array(lit(3L), lit(5L), lit(9L))).as("r"))
      val gen = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(gen.contains("WholeStageCodegen"), s"codegen:\n${gen.take(2000)}")
      assert(gen.contains("fromPrimitiveArray"), "generated merge body missing")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("triangle closing on the fixture graph is unchanged by the kernel") {
    // End-to-end pin: triangleCounts over the sf0.001 co-purchase edges
    // must produce the identical frame whether the closing runs the merge
    // kernel (broadcast path, production default) or the wedge self-join
    // (kernel-free) — the two strategies cross-validate, so a silent
    // subset from an unsorted input would diverge here.
    val e = ops.CoPurchase.edges(spark, SparkSuite.sf)
    val viaKernel = ops.Graph.triangleCounts(e).collect().toSet
    val key = ops.Graph.TriangleBroadcastMaxEdgesKey
    spark.conf.set(key, "0") // force the wedge path
    try {
      val viaWedge = ops.Graph.triangleCounts(e).collect().toSet
      assert(viaKernel === viaWedge)
      assert(viaKernel.nonEmpty)
    } finally spark.conf.unset(key)
  }
}
