package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.ops

/** The Elkan-pruned exact flat assignment (VERDICT r13 #1): bit-identity
  * against the exploded [[ops.Centroids.assignMembers]] on BOTH measured
  * regimes (isotropic fixture, planted locality) plus the clone-blob
  * adversarial corpus, the skip ledger's conservation, and the
  * proven-safe property of every skipped pair (its exact distance,
  * recomputed, strictly exceeds the vector's upper bound — the triangle
  * inequality did not lie). The kernel's own bit-identity to the
  * quantize-then-sum form is pinned first: everything else rides on it.
  */
class PrunedAssignSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  private def k(n: Long): Long =
    math.max(2L, math.ceil(math.sqrt(n.toDouble)).toLong)

  /** Collect an assignment frame to a comparable (vec_id, cid, dist)
    * set. */
  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("quant_sqdist is bit-identical to the exploded quantize-then-sum") {
    val e = Tables.embeddings(spark, SparkSuite.sf)
    val qv = ops.Centroids.quantized(e)
    // exploded pairwise distances of every vector against the first 7
    // seeds, the assignMembers aggregate verbatim
    val cent = qv.filter(col("vec_id") < 7)
      .select(col("vec_id").as("cid"), col("pos"), col("q").as("cq"))
    val exploded = qv.join(cent, Seq("pos"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("q") - col("cq")) * (col("q") - col("cq"))).as("dist"))
    val sa = e.filter(col("vec_id") < 7)
      .select(col("vec_id").as("cid"), col("embedding").as("semb"))
    val kernel = e.crossJoin(broadcast(sa))
      .select(col("vec_id"), col("cid"),
        VectorFunctions.quant_sqdist(col("embedding"), col("semb"))
          .as("dist"))
    assert(exploded.join(kernel, Seq("vec_id", "cid"))
      .filter(not(exploded("dist") <=> kernel("dist"))).count() === 0)
    assert(exploded.count() === kernel.count())
  }

  test("pruned assignment bit-identical to flat on the isotropic fixture") {
    val e = Tables.embeddings(spark, SparkSuite.sf)
    val n = e.count()
    val flat = ops.Centroids.assignMembers(
      ops.Centroids.quantized(e), k(n), hintCentroids = false)
    val pruned = ops.Centroids.assignMembersPruned(e, k(n))
    assert(rows(flat) === rows(pruned))
  }

  test("pruned assignment bit-identical to flat on planted locality") {
    // the q271 planted-locality corpus: 20 tight blobs of 25, ids
    // interleaved — the regime where the bound actually prunes
    val rng = new scala.util.Random(11)
    val centers = Array.fill(20)(Array.fill(64)(rng.nextGaussian() * 10))
    val sp = spark
    import sp.implicits._
    val e = (0 until 500).map { i =>
      (i.toLong, centers(i % 20).map(c =>
        (c + 0.01 * rng.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val flat = ops.Centroids.assignMembers(
      ops.Centroids.quantized(e), k(500), hintCentroids = false)
    val pruned = ops.Centroids.assignMembersPruned(e, k(500))
    assert(rows(flat) === rows(pruned))
    // locality must actually prune (the accounting is exercised below
    // on the blob corpus; here just pin that the regime skips work)
    val acct = ops.Centroids.prunedAssignAccounting(e, 500L, k(500)).head()
    assert(acct.getLong(5) > 0L, "planted locality must prune pairs")
  }

  test("pruned assignment bit-identical on a clone blob; every skip safe") {
    // fixture + 100 clones of vector 0 above the id range — the
    // hot-cluster adversarial shape (SCALE_POINT_r11 §C) at spec scale
    val e0 = Tables.embeddings(spark, SparkSuite.sf)
      .select(col("vec_id"), col("embedding"))
    val maxId = e0.agg(max(col("vec_id"))).head().getLong(0)
    val proto = e0.filter(col("vec_id") === 0L)
      .head().getSeq[Float](1).toArray
    val rng = new scala.util.Random(31)
    val sp = spark
    import sp.implicits._
    val clones = (0 until 100).map { i =>
      (maxId + 1 + i,
        proto.map(x => x + 0.001f * rng.nextGaussian().toFloat))
    }
    val e = e0.unionByName(clones.toDF("vec_id", "embedding"))
    val n = e.count()
    val flat = ops.Centroids.assignMembers(
      ops.Centroids.quantized(e), k(n), hintCentroids = false)
    val pruned = ops.Centroids.assignMembersPruned(e, k(n))
    assert(rows(flat) === rows(pruned))

    // ---- the skip ledger: conservation + proven-safe skips ----------
    val acct = ops.Centroids.prunedAssignAccounting(e, n, k(n)).head()
    val (total, incell, prunedN, surv) =
      (acct.getLong(3), acct.getLong(4), acct.getLong(5), acct.getLong(6))
    assert(total === n * k(n))
    assert(incell + prunedN + surv === total,
      "incell + pruned + survivor must partition the pair space")
    assert(prunedN > 0L, "the blob must prune pairs")

    // safety: recompute the EXACT distance of every pruned pair and
    // compare against the upper bound it was pruned with — the bound
    // must hold STRICTLY (a tie would break the argmin-tie argument)
    val pf = ops.Centroids.prunedPairFrames(e, k(n), None, None)
    val sa = e.filter(col("vec_id") < k(n))
      .select(col("vec_id").as("fcid"), col("embedding").as("semb"))
    val skipped = pf.pairs.filter(pf.prunable)
      .select(col("vec_id"), col("fcid"), col("ubv"))
    val unsafe = skipped
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(sa), Seq("fcid"))
      .filter(VectorFunctions.quant_sqdist(col("embedding"), col("semb"))
        <= col("ubv"))
    assert(unsafe.count() === 0,
      "a pruned pair's exact distance must strictly exceed its bound")
  }

  test("own-center bound (VERDICT r14 #2): attribution conserves, it " +
    "prunes pairs the seed-cell bound misses, and every skip it alone " +
    "proves is safe on recomputation") {
    // the clone-blob corpus — the regime whose survivor tail the
    // second bound targets (√D ≈ √R pairs the first bound cannot cut)
    val e0 = Tables.embeddings(spark, SparkSuite.sf)
      .select(col("vec_id"), col("embedding"))
    val maxId = e0.agg(max(col("vec_id"))).head().getLong(0)
    val proto = e0.filter(col("vec_id") === 0L)
      .head().getSeq[Float](1).toArray
    val rng = new scala.util.Random(31)
    val sp = spark
    import sp.implicits._
    val clones = (0 until 100).map { i =>
      (maxId + 1 + i,
        proto.map(x => x + 0.001f * rng.nextGaussian().toFloat))
    }
    val e = e0.unionByName(clones.toDF("vec_id", "embedding"))
    val n = e.count()
    // production default: the own-center bound is MEASURED OFF
    // (OwnBoundDefaultRows — +62% wall for +0.07% skips, its doc)
    val acctProd = ops.Centroids.prunedAssignAccounting(e, n, k(n)).head()
    assert(acctProd.getLong(8) === 0L,
      "the production default must keep the own-center bound off")
    assert(acctProd.getLong(5) === acctProd.getLong(7),
      "with the bound off, pruned === tri")
    // enabled arm: attribution conserves and the bound proves pairs
    val acct = ops.Centroids.prunedAssignAccounting(e, n, k(n),
      ownBoundRows = ops.Centroids.OwnBoundMaxRows).head()
    val (union, tri, own) =
      (acct.getLong(5), acct.getLong(7), acct.getLong(8))
    assert(union <= tri + own && union >= math.max(tri, own),
      s"union $union must sit between max($tri, $own) and their sum")
    assert(own > 0L, "the own-center bound must prune on the blob")
    assert(union > tri,
      "the own-center bound must prune pairs the seed-cell bound missed")

    // safety of the pairs ONLY the own-center bound proves: recompute
    // their exact distances — strictly above the upper bound
    val pf = ops.Centroids.prunedPairFrames(e, k(n), None, None,
      ownBoundRows = ops.Centroids.OwnBoundMaxRows)
    val sa = e.filter(col("vec_id") < k(n))
      .select(col("vec_id").as("fcid"), col("embedding").as("semb2"))
    val unsafe = pf.pairs.filter(pf.prunableOwn && !pf.prunableTri)
      .select(col("vec_id"), col("fcid"), col("ubv"))
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(sa), Seq("fcid"))
      .filter(VectorFunctions.quant_sqdist(col("embedding"), col("semb2"))
        <= col("ubv"))
    assert(unsafe.count() === 0,
      "an own-center-pruned pair's exact distance must exceed its bound")

    // and the enabled arm stays bit-identical to the flat assignment
    val flat = ops.Centroids.assignMembers(
      ops.Centroids.quantized(e), k(n), hintCentroids = false)
    val prunedOwn = ops.Centroids.assignMembersPruned(e, k(n),
      ownBoundRows = ops.Centroids.OwnBoundMaxRows)
    assert(rows(flat) === rows(prunedOwn))
  }

  test("pruned assignment plan shape: the hinted shuffle_hash array " +
    "attaches survive planning, no pair-stage join degrades to " +
    "sort-merge") {
    // the IvfPrunedSpec pin's twin for the quantized-L2 pipeline: 3
    // ShuffledHashJoins (the two hints + one planner pick), at most
    // the 5 known narrow-frame SortMergeJoins, never a cartesian. A
    // dropped hint reads SHJ < 3 (the planner broadcasts the sub-10MB
    // corpus side — measured +115% and a 100 TB dead end); a
    // pair-stage degradation reads SMJ > 5 (sorting n·k array rows).
    val e = Tables.embeddings(spark, SparkSuite.sf)
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    val df = ops.Centroids.assignMembersPruned(e, k(n))
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString()
    assert("ShuffledHashJoin".r.findAllIn(p).length === 3, p)
    assert("SortMergeJoin".r.findAllIn(p).length <= 5, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("semAssign dispatches to the pruned path above the gate and the " +
    "result is row-identical to the exploded flat path") {
    val e = Tables.embeddings(spark, SparkSuite.sf)
    val n = e.count()
    val qv = ops.Centroids.quantized(e)
    val viaFlat = ops.Centroids.semAssign(qv, n, k(n))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // force the pruned branch at fixture size (pair gate = 0)
    val viaPruned = ops.Centroids.semAssign(qv, n, k(n),
        arrays = Some(e), prunedPairGate = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaFlat === viaPruned)
  }
}
