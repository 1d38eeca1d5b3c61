package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract pins for the historically expensive queries (r5 verdict: q114
  * and q140 drifted ×2 in the driver bench against unchanged files, and
  * nothing caught it). Wall-clock alone cannot arbitrate across machines —
  * that is exactly the 191.7s-vs-152s r5 dispute — so the pins here are
  * the drift alarms that ARE machine-independent:
  *
  *  - PLAN pins: the structural property that makes the query cheap
  *    (q114's iteration must reuse the persisted hash-partitioned edge
  *    frame; q213 must not explode the corpus in its per-vector pass).
  *    If a Spark upgrade, fixture type change, or refactor silently
  *    reverts the plan, these fail loudly with the diff in hand.
  *  - CARDINALITY pins: q139/q140's intermediate sizes are deterministic
  *    functions of the fixture (seed=42); a regenerated fixture that
  *    moves the wedge/pair counts — the actual cost driver — trips these
  *    with the old-vs-new numbers, separating "data changed" from "plan
  *    changed" in one glance.
  *  - A coarse wall-clock tripwire per pinned query, wide enough for
  *    machine variance (sf0.001 queries run well under 2 s here), tight
  *    enough to catch the catastrophic (a cartesian, a lost broadcast, a
  *    driver-side loop).
  *
  * Isolated per-query sf0.1 timings live in TIMINGS_r6.md, committed per
  * round; in-suite numbers are NOT comparable to them (pool residue,
  * JIT) — label local numbers as local when citing.
  */
class BenchContractSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  private def df(name: String) =
    SparkEntry.queries(name)(spark, SparkSuite.sf)

  private def formattedPlan(name: String): String =
    df(name).queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q114 pin: iteration joins reuse the persisted partitioned edges") {
    // r16 cut the result before its determinism sort (the sampling
    // re-execution fix) and released the pinned cache after it, so the
    // RETURNED df's plan is just a checkpoint scan — open the checkpoint
    // seam to see the iteration subtree. Under withNoCut the pinned
    // cache is registered and released during construction (entry gone
    // by explain time), so the durable evidence is the SHUFFLE_HASH
    // join strategy + the explicit repartition, not InMemoryTableScan.
    val (p, analyzed) = graft.ops.Checkpoints.withNoCut {
      val q = df("q114_pagerank")
      (q.queryExecution.explainString(ExplainMode.fromString("formatted")),
        q.queryExecution.analyzed)
    }
    assert(p.contains("ShuffledHashJoin"),
      "the per-iteration rank join must be a shuffled hash join (rank " +
        "side build); a sort-merge join re-sorts the edge frame per round")
    // The pinned partitioning must carry an EXPLICIT numPartitions from
    // Scale.hashBuildParallelism — every iteration hash-BUILDS the rank
    // frame into it, so a session-count default turns node growth into
    // per-task build growth (the q139 sf2 OOM class).
    // Pinned on the ANALYZED plan: on the small fixture
    // EnsureRequirements rightly elides the physical exchange when the
    // computed count coincides with the join's existing partitioning —
    // the logical node is the durable evidence.
    val reps = analyzed.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical
          .RepartitionByExpression if r.optNumPartitions.isDefined => r
    }
    assert(reps.nonEmpty,
      "q114's pinned edge partitioning lost its explicit " +
        "Scale.hashBuildParallelism count")
  }

  test("q213 pin: per-vector pass folds arrays, never explodes the corpus") {
    val q = df("q213_label_outliers").queryExecution.optimizedPlan
    val generates = q.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(generates.size == 1,
      s"exactly one Generate (the k×d centroid build) is allowed; " +
        s"found ${generates.size} — an explode crept into the N-row " +
        "per-vector pass")
  }

  test("q139 pin: edge build runs once — no fact scan below the cut") {
    // The edge list (lineitem self-join + distinct) feeds three lineages
    // (degree aggregate, orientation probe, final degree spine). It is
    // materialized ONCE via cutLineage before the fan-out, so the final
    // plan must read only the checkpointed RDD — a lineitem scan
    // reappearing downstream means the dominant subtree is being
    // recomputed per consumer again (3× the edge build at any scale).
    val p = formattedPlan("q139_triangles")
    assert(!p.contains("lineitem"),
      "q139's final plan scans lineitem — the edge-list cut is gone and " +
        "the self-join + distinct recomputes per consumer")
  }

  test("q139 pin: both sides of the triangle-closing size gate") {
    // Below the gate (the default) the closing must be the broadcast
    // adjacency intersection — array_intersect over broadcast-joined
    // out-arrays, no shuffled join in the closing. Above the gate
    // (forced with gate=0) it must be the wedge self-join closed by a
    // SHUFFLE_HASH probe — no data-proportional broadcast anywhere.
    // Inspected on the PRE-CUT plan (triangleCountsPlan): the public
    // method materializes the node-cardinality result, which hides the
    // closing join behind a checkpoint scan.
    def closingPlan(maxBroadcastEdges: Long) = graft.ops.Graph
      .triangleCountsPlan(graft.ops.CoPurchase.edges(spark, SparkSuite.sf),
        maxBroadcastEdges)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    val below = closingPlan(graft.ops.Graph.TriangleBroadcastMaxEdges)
    assert(below.contains("sorted_long_intersect"),
      "gate's broadcast side lost the adjacency merge-intersect closing " +
        "(r16: the two-pointer kernel over sort_array'd out-arrays " +
        "replaced array_intersect's per-row hash set)")
    assert(below.contains("BroadcastHashJoin"),
      "gate's broadcast side: adjacency joins are no longer broadcast")
    val above = closingPlan(0L)
    assert(above.contains("ShuffledHashJoin"),
      "gate's shuffle side: the wedge closing probe must be a " +
        "shuffled hash join (sort-merge re-sorts the O(m^1.5) stream)")
    assert(!above.contains("sorted_long_intersect") &&
      !above.contains("array_intersect"),
      "gate=0 still builds broadcast adjacency arrays — the fallback " +
        "is not actually engaged")
    // The closing join's parallelism must be the EXPLICIT repartition
    // pair scaled by Scale.hashBuildParallelism, not an
    // ENSURE_REQUIREMENTS exchange at the fixed session count: the
    // build side grows with the graph, and the session-count shape
    // OOMed at the 24M-edge sf2 point ("not enough memory to build
    // hash map" ×136 in the r9 campaign log).
    assert("REPARTITION_BY_NUM".r.findAllIn(above).size >= 2,
      "wedge closing lost its explicit scaled co-partitioning — the " +
        "hash build is back to the fixed session parallelism that " +
        "OOMs once edges/partitions outgrows task memory")
  }

  test("broadcast-hint audit: no forced broadcast of an SF-proportional " +
    "frame (q247/q147/q129/q258)") {
    // The r6/r7 verdict family: a broadcast() hint that is harmless at
    // sf0.1 pins billions of rows to the driver at the 100 TB point.
    // q247/q147 are audited with the checkpoint seam open so the
    // subtrees normally executed behind a localCheckpoint stay visible
    // (they build lazily — neither has an eager count in its body).
    import graft.plans.PlanAudit
    graft.ops.Checkpoints.withNoCut {
      Seq("q247_modularity", "q147_rep_retention").foreach { n =>
        val bad = PlanAudit.broadcastHintedSides(df(n))
        assert(bad.isEmpty,
          s"$n carries forced broadcast hints: ${bad.map(_._1)} — " +
            "strategy choices there belong to AQE's runtime sizing")
      }
      // the globalRank/globalCumSum adopters legitimately broadcast
      // their ≤ #partitions-row `_pid` offset frame — the audit must
      // exempt that by shape and still flag any other hinted side
      Seq("q265_shard_plan", "q266_vocab_coverage").foreach { n =>
        val bad = PlanAudit.sfProportionalBroadcasts(df(n))
        assert(bad.isEmpty, s"$n: ${bad.mkString("; ")}")
      }
    }
    // q129/q258 keep their nation hint (25 rows, bounded); the audit
    // flags only hinted sides that reach an SF-proportional leaf
    Seq("q129_share", "q258_hhi").foreach { n =>
      val bad = PlanAudit.sfProportionalBroadcasts(df(n))
      assert(bad.isEmpty, s"$n: ${bad.mkString("; ")}")
    }
  }

  test("q251 pin: only the delta sides are broadcast-hinted") {
    // IVM contract: |Δ| is batch-bounded, the base/old frames are
    // SF-bounded. Exactly three hints (dO, dC, dC), each on a frame
    // whose mod-filter is the POSITIVE delta predicate; the base term's
    // join carries no hint at all.
    import graft.plans.PlanAudit
    val sides = PlanAudit.broadcastHintedSides(df("q251_ivm_join"))
    assert(sides.size == 3,
      s"expected the 3 delta-side hints, found ${sides.size}")
    sides.foreach { case (_, side) =>
      val conds = side.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.toString
      }
      // delta frame ⟺ a POSITIVE pmod predicate on its own key (the
      // optimizer also infers the join partner's negated predicate onto
      // the side via the equi-condition — ignore those)
      def positiveOn(c: String, key: String): Boolean = {
        val i = c.indexOf(s"pmod($key")
        i >= 0 && !(i >= 5 && c.regionMatches(i - 5, "NOT (", 0, 5))
      }
      assert(conds.nonEmpty && conds.forall(c =>
        positiveOn(c, "o_orderkey") || positiveOn(c, "c_custkey")),
        s"hinted side is not a delta frame (filters: $conds)")
    }
    val joins = df("q251_ivm_join").queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.count(j =>
      j.hint.leftHint.isEmpty && j.hint.rightHint.isEmpty) >= 1,
      "the base (old×old) term must join unhinted — AQE decides")
  }

  test("global-window audit: no partitionBy-less Window over an " +
    "SF-proportional frame (q98/q161/q179/q187/q201/q116)") {
    // The r7 verdict's second scale-killer family: Window.orderBy with
    // no partitionBy routes its whole input through ONE task. The five
    // converted queries (plus q116, the original globalRank adopter)
    // may keep global windows ONLY over the bounded per-partition
    // offset frame inside Scale.globalRank/globalCumSum (≤ #partitions
    // rows, grouped by _pid) or over frames that never touch an
    // SF-proportional leaf (10-row decile frames behind a checkpoint).
    // Audited with the checkpoint seam open so nothing hides behind a
    // cut. q201's body runs its k-core loop eagerly while building —
    // bounded rounds at sf0.001.
    import graft.plans.PlanAudit
    graft.ops.Checkpoints.withNoCut {
      Seq("q98_pareto", "q161_ks_test", "q179_gains",
          "q187_quantile_norm", "q116_discretize",
          "q265_shard_plan", "q266_vocab_coverage").foreach { n =>
        val bad = PlanAudit.suspectGlobalWindows(df(n))
        assert(bad.isEmpty, s"$n: ${bad.mkString("; ")}")
      }
    }
    // q201 executes per-round counts during construction; with cuts
    // ACTIVE its registered plan must still show no suspect window
    // (the p75 rank and loop frames sit behind cuts — what remains
    // visible is the final projection chain)
    val bad201 = PlanAudit.suspectGlobalWindows(df("q201_kcore"))
    assert(bad201.isEmpty, s"q201_kcore: ${bad201.mkString("; ")}")
  }

  test("persist A/B pins: the measured winners stay persisted, the " +
    "measured losers stay unpersisted (SCALE_POINT_r9 §E)") {
    // The round-9 leak-free persist A/B produced MEASURED verdicts that
    // previously lived only in prose; this pin makes a refactor that
    // flips any of them fail with the rationale in hand. Winners:
    // q268's assignment + member-embedding frames (1.35× at 10×), q270's
    // gram-bucket counts + 1024-row stats (2.3× — the dominant gram
    // explode otherwise runs twice), q273's member-component frame
    // (read by both the centroid and distance passes). Losers — persists
    // MEASURED WORSE and reverted, so they must stay absent: q269,
    // q271 (2× worse at 20× — InMemoryRelation scan loses to whole-stage
    // codegen over the parquet lineage). q272's r9 no-persist verdict
    // was RE-MEASURED and flipped in r10 when the two-path capped joins
    // changed its consumption structure (each side now feeds 4-5
    // consumers; unpersisted, the kept-index pair join re-ran per
    // consumer and sf0.1 tripled): mSt/keptSt/mB persisted, 6.8 s →
    // 3.7 s at sf0.1 and 40.3 s → 7.8 s vs r9 at the 20× point
    // (SCALE_POINT_r10 §B).
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation,
      InMemoryTableScanExec}
    // a persisted frame BUILT FROM another persisted frame hides the
    // inner cache inside its own cachedPlan (q272's kept-index wraps
    // mSt), so count caches recursively through InMemoryTableScanExec —
    // and under AQE the cachedPlan roots at an AdaptiveSparkPlanExec
    // whose input plan is a FIELD, not a child, so plain collect sees
    // nothing; descend through it explicitly
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[InMemoryRelation] = p.collect {
      case s: InMemoryTableScanExec => Seq(s.relation)
      case a: AdaptiveSparkPlanExec => scans(a.inputPlan)
    }.flatten
    def nested(r: InMemoryRelation): Seq[InMemoryRelation] =
      r +: scans(r.cacheBuilder.cachedPlan).flatMap(nested)
    def distinctCaches(name: String): Int = {
      Sessions.release(spark)
      try df(name).queryExecution.optimizedPlan.collect {
        case i: InMemoryRelation => nested(i)
      }.flatten.map(_.canonicalized).distinct.size
      finally Sessions.release(spark)
    }
    val expected = Seq(
      ("q268_semdedup", 2, "assignment members + member-embedding join " +
        "(1.35x at the 10x point)"),
      ("q270_dsir", 2, "per-(doc,bucket) gram counts + 1024-row bucket " +
        "stats (2.3x at the 10x point)"),
      ("q273_cluster_prune", 1, "member-component frame shared by the " +
        "centroid and distance passes"),
      ("q269_jl_projection", 0, "persist measured as a loss — reverted"),
      ("q271_hier_assign", 0, "persist measured 2x WORSE at 20x — " +
        "columnar-cache scan loses to whole-stage codegen"),
      ("q272_incr_semdedup", 2, "r11 two-regime form: the 2-column " +
        "assignment results persist unconditionally (keptSt-only persist " +
        "measured 5.8 s at sf0.1 vs 3.6 s with assignments materialized), " +
        "and at spec scale the cap-binding probe selects the plain join " +
        "regime with the embedding-joined frames count-gated UNpersisted " +
        "below SemScaleGate (sf0.1 3.6 -> 2.2 s; above the gate they " +
        "persist - sf2 nosort 6.95 -> 4.99 s - and a cap-BINDING corpus " +
        "persists mSt/keptSt/mB as in r10, the 5.2x-at-20x winner)"))
    expected.foreach { case (name, n, why) =>
      val got = distinctCaches(name)
      assert(got == n,
        s"$name: expected $n distinct InMemoryRelations, found $got — " +
          s"the persist A/B verdict was: $why (re-measure before " +
          "flipping; SCALE_POINT_r9 SSE correction record)")
    }
  }

  test("q139/q140 pin: deterministic wedge/pair cardinalities (sf0.001)") {
    // Cost ∝ these counts. The fixture is seeded, so they are constants;
    // a regenerated fixture that moves them explains a bench move as
    // data drift (and by how much) before anyone blames the plan.
    val tri = df("q139_triangles")
      .agg(count(lit(1)).as("rows"), sum(col("n_tri")).as("tri")).head()
    assert(tri.getLong(0) == 200L && tri.getLong(1) == 377904L,
      s"q139 cardinality moved: rows=${tri.getLong(0)} (pinned 200), " +
        s"Σn_tri=${tri.getLong(1)} (pinned 377904) — fixture drift")
    val lp = df("q140_link_predict")
      .agg(count(lit(1)).as("rows"), sum(col("common")).as("c")).head()
    assert(lp.getLong(0) == 15643L && lp.getLong(1) == 49022L,
      s"q140 cardinality moved: rows=${lp.getLong(0)} (pinned 15643), " +
        s"Σcommon=${lp.getLong(1)} (pinned 49022) — fixture drift")
  }

  test("pinned queries stay inside the coarse wall-clock tripwire") {
    val pinned = Seq("q114_pagerank", "q139_triangles", "q140_link_predict",
      "q104_interpolate", "q213_label_outliers")
    pinned.foreach { n =>
      val t0 = System.nanoTime()
      df(n).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      // sf0.001 runs land well under 2 s; 20 s tolerates slow CI boxes
      // while still catching a cartesian/collect/lost-broadcast blowup
      assert(secs < 20.0,
        f"$n took $secs%.1f s at sf0.001 — catastrophic regression " +
          "(cartesian? driver loop? lost broadcast?)")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
  }
}
