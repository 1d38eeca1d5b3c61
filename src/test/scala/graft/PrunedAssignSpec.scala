package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.ops

/** One body per property of the Elkan-pruned assignment core
  * ([[ops.PrunedAssign]]), run for each metric: PrunedAssignSpec runs
  * them at quantized L2, IvfPrunedSpec at rounded cosine. */
object PrunedAssignProps {
  private def spark = SparkSuite.session

  def k(n: Long): Long =
    math.max(2L, math.ceil(math.sqrt(n.toDouble)).toLong)

  /** One metric's side of the specs: its pruned operator, its flat and
    * pruned assignments as comparable row sets, and `reaches` — whether
    * an exact score would win or tie against a bound ub. */
  final case class Arm(metric: ops.PrunedAssign.Metric,
      operator: (DataFrame, Long) => DataFrame,
      flat: (DataFrame, Long, Long) => DataFrame,
      pruned: (DataFrame, Long, Long) => DataFrame,
      reaches: (Column, Column) => Column)

  /** Quantized L2: (vec_id, cid, dist) against the exploded
    * [[ops.Centroids.assignMembers]]. */
  val L2: Arm = Arm(ops.PrunedAssign.QuantL2,
    (e, kk) => ops.Centroids.assignMembersPruned(e, kk),
    (e, _, kk) => ops.Centroids.assignMembers(
      ops.Centroids.quantized(e), kk, hintCentroids = false),
    (e, _, kk) => ops.Centroids.assignMembersPruned(e, kk),
    _ <= _)

  /** Rounded cosine: (vec_id, cent_id) from [[ops.Similarity.ivfAssign]]'s
    * flat long-encoded argmax, and through its dispatch forced to the
    * pruned branch (pair gate 0). */
  val Cosine: Arm = Arm(ops.PrunedAssign.RoundedCosine,
    (e, kk) => ops.Similarity.ivfAssignPruned(e, kk),
    (e, _, kk) => ops.Similarity.ivfAssign(e,
      ops.Similarity.centSims(e, kk), kk),
    (e, n, kk) => ops.Similarity.ivfAssign(e,
      ops.Similarity.centSims(e, kk), kk, nHint = n, prunedPairGate = 0L),
    _ >= _)

  def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** The isotropic fixture corpus. */
  def fixture(): DataFrame = Tables.embeddings(spark, SparkSuite.sf)
    .select(col("vec_id"), col("embedding"))

  /** The q271 planted-locality corpus: 20 tight blobs of 25, ids
    * interleaved — the regime where the bound actually prunes. */
  def plantedLocality(): DataFrame = {
    val rng = new scala.util.Random(11)
    val centers = Array.fill(20)(Array.fill(64)(rng.nextGaussian() * 10))
    val sp = spark
    import sp.implicits._
    (0 until 500).map { i =>
      (i.toLong, centers(i % 20).map(c =>
        (c + 0.01 * rng.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
  }

  /** The fixture + 100 clones of vector 0 above the id range — the
    * hot-cluster adversarial shape (SCALE_POINT_r11 §C) at spec scale. */
  def cloneBlob(): DataFrame = {
    val e0 = fixture()
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
    e0.unionByName(clones.toDF("vec_id", "embedding"))
  }

  def assertBitIdentical(arm: Arm, e: DataFrame, n: Long, kk: Long): Unit =
    assert(rows(arm.flat(e, n, kk)) === rows(arm.pruned(e, n, kk)),
      s"k=$kk")

  /** The skip ledger row: (n, k, kc, total, incell, pruned, survivor). */
  def ledger(arm: Arm, e: DataFrame, n: Long): Row =
    ops.PrunedAssign.ledger(e, n, k(n), arm.metric).head()

  /** incell + pruned + survivor partition the n·k pair space, and the
    * corpus prunes. */
  def assertLedgerConserves(arm: Arm, e: DataFrame, n: Long): Unit = {
    val acct = ledger(arm, e, n)
    val (total, incell, prunedN, surv) =
      (acct.getLong(3), acct.getLong(4), acct.getLong(5), acct.getLong(6))
    assert(total === n * k(n))
    assert(incell + prunedN + surv === total,
      "incell + pruned + survivor must partition the pair space")
    assert(prunedN > 0L, "the corpus must prune pairs")
  }

  /** Recompute the EXACT score of every pruned pair and compare it with
    * the bound it was pruned against: it must be strictly worse (a tie
    * would let a smaller id steal the committed tie-break). */
  def assertSkipsSafe(arm: Arm, e: DataFrame, n: Long): Unit = {
    val pf = ops.PrunedAssign.frames(e, k(n), arm.metric)
    val seeds = e.filter(col("vec_id") < k(n))
      .select(col("vec_id").as("fcid"), col("embedding").as("semb2"))
    val unsafe = pf.pairs.filter(pf.prunable)
      .select(col("vec_id"), col("fcid"), col("ubv"))
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(seeds), Seq("fcid"))
      .filter(arm.reaches(
        arm.metric.exact(col("embedding"), col("semb2")), col("ubv")))
    assert(unsafe.count() === 0,
      "a pruned pair's exact score must be strictly worse than its bound")
  }

  /** The n·k pair rows exist only inside hash-join fold stages: the two
    * probe-side array attaches are hinted shuffle_hash (the planner's
    * sub-10MB broadcast of the corpus side is a 100 TB dead end, and a
    * sort-merge join there sorts n·k array-carrying rows). Executed
    * counts at fixture scale: exactly 3 ShuffledHashJoins (the hints +
    * one planner pick) and no MORE than the 5 known narrow-frame
    * SortMergeJoins (id-keyed, array-free — ub attach, combine, and
    * window-adjacent joins), never a cartesian. A dropped hint reads
    * SHJ < 3; a pair-stage degradation reads SMJ > 5. */
  def assertPlanShape(arm: Arm): Unit = {
    val e = fixture()
    val df = arm.operator(e, k(e.count()))
    df.write.format("noop").mode("overwrite").save()
    val p = df.queryExecution.executedPlan.toString()
    assert("ShuffledHashJoin".r.findAllIn(p).length === 3, p)
    assert("SortMergeJoin".r.findAllIn(p).length <= 5, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }
}

/** The Elkan-pruned exact flat assignment (VERDICT r13 #1) at quantized
  * L2: bit-identity against the exploded [[ops.Centroids.assignMembers]]
  * on BOTH measured regimes (isotropic fixture, planted locality) plus
  * the clone-blob adversarial corpus and a separate seed frame, the skip
  * ledger's conservation, and the proven-safe property of every skipped
  * pair (its exact distance, recomputed, strictly exceeds the vector's
  * upper bound — the triangle inequality did not lie). The kernel's own
  * bit-identity to the quantize-then-sum form is pinned first:
  * everything else rides on it.
  */
class PrunedAssignSpec extends AnyFunSuite {
  import PrunedAssignProps._
  private lazy val spark = SparkSuite.session

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
    val e = fixture()
    val n = e.count()
    assertBitIdentical(L2, e, n, k(n))
  }

  test("pruned assignment bit-identical to flat on planted locality") {
    val e = plantedLocality()
    assertBitIdentical(L2, e, 500L, k(500))
    // locality must actually prune (the accounting is exercised below
    // on the blob corpus; here just pin that the regime skips work)
    assert(ledger(L2, e, 500L).getLong(5) > 0L,
      "planted locality must prune pairs")
  }

  test("pruned assignment bit-identical on a clone blob; every skip safe") {
    val e = cloneBlob()
    val n = e.count()
    assertBitIdentical(L2, e, n, k(n))
    assertLedgerConserves(L2, e, n)
    assertSkipsSafe(L2, e, n)
  }

  test("pruned assignment against a separate seed frame (q272's batch " +
    "shape) equals the flat path row for row") {
    // a batch assigned against the STANDING corpus's seeds: the seed
    // cells, coarse centers and in-cell pass all read the seed frame,
    // the probe reads the batch
    val e = fixture()
    val standing = e.filter(col("vec_id") < 400L)
    val batch = e.filter(col("vec_id") >= 400L)
    val kk = k(standing.count())
    val flat = ops.Centroids.assignMembers(ops.Centroids.quantized(batch),
      kk, hintCentroids = false,
      seeds = Some(ops.Centroids.quantized(standing)))
    val pruned = ops.Centroids.assignMembersPruned(batch, kk,
      seedsEa = Some(standing))
    assert(pruned.count() === batch.count())
    assert(rows(flat) === rows(pruned))
  }

  test("pruned assignment plan shape: the hinted shuffle_hash array " +
    "attaches survive planning, no pair-stage join degrades to " +
    "sort-merge") {
    assertPlanShape(L2)
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
