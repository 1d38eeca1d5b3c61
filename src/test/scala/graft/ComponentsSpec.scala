package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Components

/** Connected components on planted graphs — the fixture oracle (q83) proves
  * the documents path end-to-end; these prove the transitive-closure
  * semantics and convergence behavior the oracle row can't isolate. */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session
  import spark.implicits._

  private def components(nodes: Seq[Long], edges: Seq[(Long, Long)],
      maxIter: Int = 30, localSolveMax: Long = 2000000L): Map[Long, Long] =
    Components.connectedComponents(
        nodes.toDF("id"), edges.toDF("src", "dst"), maxIter, localSolveMax)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("transitive closure merges chains; isolated nodes stay singleton") {
    // 1-2, 2-3: {1,2,3} even though 1 and 3 share no edge; 10-11 separate;
    // 20 isolated. Reversed orientation + duplicate edge tolerated.
    val out = components(Seq(1L, 2L, 3L, 10L, 11L, 20L),
      Seq((2L, 1L), (2L, 3L), (2L, 3L), (10L, 11L)))
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("path-halving converges on a long chain in O(log diameter) rounds") {
    // A 64-node chain has diameter 63; plain hash-min needs 63 rounds.
    // With halving every node must reach label 0 within 10 iterations.
    val n = 64L
    // localSolveMax = 0 forces the iterative join loop — this test is about
    // halving convergence, which the single-task path would bypass
    val out = components(0L until n, (0L until n - 1).map(i => (i, i + 1)),
      maxIter = 10, localSolveMax = 0L)
    assert(out.size === 64 && out.values.forall(_ == 0L))
  }

  test("an empty edge set yields all-singleton components") {
    val out = components(Seq(1L, 2L, 3L), Seq.empty)
    assert(out === Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("reliable-checkpoint mode: same fixpoint, checkpoint files on disk") {
    // spark.graft.checkpointDir flips every iterative op's lineage cut
    // from localCheckpoint to reliable checkpoints (the executor-loss-safe
    // cluster mode). Prove the switch actually engages (rdd-* dirs appear
    // under the configured path) and the result is the identical fixpoint.
    val dir = Scratch.lasting("graft-relcp").toString
    spark.conf.set(graft.ops.Checkpoints.DirKey, dir)
    try {
      val out = components(0L until 16L, (0L until 15L).map(i => (i, i + 1)),
        maxIter = 10, localSolveMax = 0L)
      assert(out.size === 16 && out.values.forall(_ == 0L))
      def rddDirs(f: java.io.File): Int =
        if (f.isDirectory)
          (if (f.getName.startsWith("rdd-")) 1 else 0) +
            f.listFiles().map(rddDirs).sum
        else 0
      assert(rddDirs(new java.io.File(dir)) > 0,
        "reliable mode must write rdd-* checkpoint dirs under the " +
          "configured directory")
    } finally spark.conf.unset(graft.ops.Checkpoints.DirKey)
  }

  test("q83 representative invariant holds on the fixture") {
    val rows = Components.q83DupGroups(spark, SparkSuite.sf).collect()
    val comp = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (id, c, isRep) = (r.getLong(0), r.getLong(1), r.getBoolean(3))
      assert(c <= id, s"component id must be the group minimum ($id -> $c)")
      assert(comp(c) === c, "the representative must label itself")
      assert(isRep === (id == c))
    }
    // group sizes are consistent: n_members counts the label's occurrences
    val sizes = rows.groupBy(_.getLong(1)).view.mapValues(_.length).toMap
    rows.foreach(r => assert(r.getLong(2) === sizes(r.getLong(1)).toLong))
  }
}
