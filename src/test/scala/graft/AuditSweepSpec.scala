package graft

import org.scalatest.funsuite.AnyFunSuite

/** Ledger-wide scale-audit census — the closing pin for the r7/r8
  * scale-killer families. BenchContractSpec pins the historically weak
  * queries one by one; this spec runs BOTH static audits
  * ([[graft.plans.PlanAudit.suspectGlobalWindows]] and
  * [[graft.plans.PlanAudit.sfProportionalBroadcasts]]) over EVERY
  * registered query and asserts the findings match a written census
  * EXACTLY, in both directions:
  *
  *  - a NEW finding (a forced broadcast or single-partition window added
  *    anywhere in the 266-query ledger) fails the suite until it is
  *    either fixed or consciously added here with a justification;
  *  - a STALE census row (a site that got fixed) fails too, so the
  *    census never rots into a blanket waiver.
  *
  * Every census entry is a frame whose boundedness is SEMANTIC — real,
  * but invisible to the static audit (a filter to one query document, a
  * k-row centroid aggregate, a fixed eval suite). Frames with unbounded
  * growth (vocabulary, doc-cardinality, any SF-linear projection) are
  * NOT acceptable entries: those were de-hinted in round 9 (q12, q102,
  * q110/q148/q238's vocab joins, q151's dfreq+dl, q159, q160, q173) and
  * AQE's runtime sizing decides for them now.
  *
  * Both ledger censuses read the one ledger walk (`SparkSuite.ledger`,
  * [[graft.plans.AuditSweep.walk]]), which also backs OperatorSpec's run
  * check: each query is built once, with lineage cuts ACTIVE — it is
  * audited exactly as registered and executed (iterative queries execute
  * their bounded sf0.001 loops during construction; that is the price
  * of seeing the real plan).
  */
class AuditSweepSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  /** (query, kind) -> (expected count, why the frame is bounded). */
  private val census: Map[(String, String), (Int, String)] = Map(
    // ---- forced broadcasts of semantically bounded frames -------------
    ("q10_join_broadcast", "forced-broadcast") -> (1,
      "the SURVEY §2.3 broadcast-hash-join coverage row: the hint IS " +
        "the operator under test; production sizing guidance is q12's " +
        "unhinted form"),
    ("q15_join_range", "forced-broadcast") -> (1,
      "lineitem pre-aggregated to distinct integer quantities — the " +
        "l_quantity domain is 1..50, constant at any SF"),
    ("q112_winsorize", "forced-broadcast") -> (1,
      "per-returnflag p05/p95 threshold frame — 3 domain keys"),
    ("q117_markov", "forced-broadcast") -> (1,
      "per-state outflow totals — |event types| rows"),
    ("q50_similarity", "forced-broadcast") -> (1,
      "the single query vector (vec_id filter)"),
    ("q75_brute_topk", "forced-broadcast") -> (1,
      "the fixed probe-query vector set"),
    ("q76_ivf_topk", "forced-broadcast") -> (2,
      "k IVF centroids + the probe-query vectors"),
    ("q282_ivf_retrieve", "forced-broadcast") -> (2,
      "the production ivfRetrieve entry at fixture scale IS the q76 " +
        "plan (the measured k-rule resolves to fixed-8 below the " +
        "auto-probe gate): the same k=8 centroid + probe-query " +
        "constant frames"),
    ("q275_ivf_sweep", "forced-broadcast") -> (5,
      "the k=8-row centroid frame, read by the assignment and the " +
        "probe-rank branches of both the candidate-count and top-k " +
        "sides (4 plan occurrences), + the inlined q75 ground truth's " +
        "fixed 5-query probe set — all constant-cardinality at any SF"),
    ("q280_resolver_dial", "forced-broadcast") -> (5,
      "the q275 dial pipeline re-sliced to the resolver's 5-query " +
        "non-centroid predicate: the same k=8-row centroid frame (4 " +
        "plan occurrences) + the ground truth's fixed probe set — all " +
        "constant-cardinality; q281's SCALED quantizer deliberately " +
        "has no entry: its √n-row centroid frame is unbounded, so " +
        "centSims de-hints it (explode + equi-join, AQE-sized)"),
    ("q78_quantized_topk", "forced-broadcast") -> (1,
      "the probe-query vectors"),
    ("q66_kmeans_step", "forced-broadcast") -> (3,
      "the k-row centroid frame, used by assign/update/shift"),
    ("q213_label_outliers", "forced-broadcast") -> (1,
      "the k-row per-label centroid frame"),
    // q229_pq_adc's 4 forced broadcasts (PQ codebooks + the query's
    // sub-vector / full-vector frames) left this census in r16: the
    // determinism-sort cut puts the ADC path behind a checkpoint scan in
    // the returned plan. PlanSpec still pins them on the PRE-cut plan
    // via the withNoCut seam.
    ("q236_knn_classify", "forced-broadcast") -> (1,
      "the KnnProbes-row probe frame (vec_id < constant)"),
    ("q152_ann_recall", "forced-broadcast") -> (2,
      "exact ground-truth top-k for the fixed probe set (queries x k)"),
    ("q162_ndcg", "forced-broadcast") -> (2,
      "ideal + retrieved rankings for the fixed probe set"),
    ("q151_bm25", "forced-broadcast") -> (1,
      "one query document's distinct token set (bounded by doc length; " +
        "dfreq/dl were de-hinted in r9 — AQE sizes those)"),
    ("q176_rrf", "forced-broadcast") -> (2,
      "q151's query-term set + the single query embedding"),
    ("q57_decontaminate", "forced-broadcast") -> (4,
      "benchmark eval-suite ids and their grams — the eval suite is " +
        "fixed KB-MB content, corpus-independent (Curation.scala:73-75)"),
    ("q99_boilerplate", "forced-broadcast") -> (1,
      "terms with doc-frequency > 78% — at most avg_doc_len/0.78 " +
        "such terms exist, a corpus-size-independent bound"),
    ("q110_training_pipeline", "forced-broadcast") -> (1,
      "the q99 boilerplate-term set inside the pipeline (same bound)"),
    ("q251_ivm_join", "forced-broadcast") -> (3,
      "the IVM delta slices (batch-bounded pmod filters) — the " +
        "delta-only contract is separately pinned in BenchContractSpec"),
    // ---- partitionBy-less windows over bounded-DOMAIN aggregates ------
    ("q167_vocab_growth", "global-window") -> (1,
      "per-batch vocab-growth frame — constant batch count"),
    ("q209_budget_curriculum", "global-window") -> (1,
      "per-source density rank — |sources| rows"),
    ("q231_auc_rank", "global-window") -> (1,
      "distinct quantized scores (17 here; continuous scorers quantize " +
        "to fixed-point buckets first — the q210 discipline)"),
    ("q233_neyman_alloc", "global-window") -> (1,
      "per-source largest-remainder frame — |sources| rows"),
    ("q235_poisson_bootstrap", "global-window") -> (1,
      "B bootstrap replicate means — constant B"),
    ("q246_sax_motifs", "global-window") -> (1,
      "calendar-day grid — time-span-bounded, not data-bounded"))
    // NOTE deliberately no "fixed-hash-build" entries: a SHUFFLE_HASH
    // join whose build parallelism does not scale with its data has no
    // legitimate form (the build map cannot spill — the q139 sf2 OOM);
    // every such join must carry an explicit
    // Scale.hashBuildParallelism-sized repartition, so ANY finding of
    // that kind fails the sweep outright.

  test("rule of construction: a NEW query carrying any of the three " +
    "banned shapes is caught by the audits it would face unregistered") {
    // The census above is exact at today's ledger; this test pins the
    // OTHER direction of the guarantee — that the audits themselves
    // catch each scale-killer shape on a fresh, never-censused plan, so
    // a round-N+1 query registered without a census entry cannot carry
    // one silently (the sweep fails with "fix it or census it with a
    // justification"). Each shape is built synthetically from the real
    // SF-proportional tables, exactly as a careless new query would.
    import org.apache.spark.sql.functions._
    import graft.plans.PlanAudit
    val sf = SparkSuite.sf
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    // 1. forced broadcast of an SF-growing frame (the r6/r7 family)
    val badBcast = o.join(broadcast(li),
      col("o_orderkey") === col("l_orderkey"))
    assert(PlanAudit.sfProportionalBroadcasts(badBcast).nonEmpty,
      "a broadcast() hint on lineitem must be flagged")
    // 2. partitionBy-less window over an SF-growing frame (the r7 family)
    val badWin = li.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("l_orderkey"))))
    assert(PlanAudit.suspectGlobalWindows(badWin).nonEmpty,
      "a global row_number over lineitem must be flagged")
    // ...but the same window after a limit is row-bounded at any SF —
    // the audit must NOT cry wolf on the legitimate top-k re-rank idiom
    val okWin = li.orderBy(col("l_orderkey")).limit(10)
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("l_orderkey"))))
    assert(PlanAudit.suspectGlobalWindows(okWin).isEmpty,
      "rank-after-limit is provably bounded and must pass")
    // 3. SHUFFLE_HASH with no explicit scaled repartition (the q139 sf2
    //    OOM class — build maps cannot spill, fixed parallelism turns
    //    data growth into per-task build growth)
    val badHash = o.join(li.hint("SHUFFLE_HASH"),
      col("o_orderkey") === col("l_orderkey"))
    assert(PlanAudit.unguardedHashBuilds(badHash).nonEmpty,
      "an unguarded SHUFFLE_HASH build over lineitem must be flagged")
    // ...and the prescribed fix — an explicit count-derived repartition
    // on the join keys (Scale.hashBuildParallelism) — clears it
    val okHash = o.repartition(16, col("o_orderkey"))
      .join(li.hint("SHUFFLE_HASH").repartition(16, col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"))
    assert(PlanAudit.unguardedHashBuilds(okHash).isEmpty,
      "the explicit scaled-repartition guard must clear the finding")
  }

  test("recompute census: the SemDeDup family's plan diamonds resolve " +
    "to persisted frames in BOTH join regimes — no silent recompute") {
    // The r10 two-path cappedClusterJoin (and r11's probe-selected plain
    // regime) intentionally read the same side frames from multiple
    // branches. This pin runs the RecomputeAudit over the family at the
    // audit's production threshold (minCost = 2, the ledger walk's) and
    // asserts ZERO duplicated shuffle-bearing subtrees: every diamond
    // must sit under an InMemoryRelation (persisted-or-reused), not
    // re-derive pair joins per consumer. Asserted for the registered
    // queries (plain regime — the fixtures never bind the cap) AND for a
    // forced cap-binding blob (the capped+salted regime, whose cold+hot
    // branches are exactly the diamonds the r10 verdict asked censused).
    def dupsOf(mk: => org.apache.spark.sql.DataFrame): Seq[String] =
      try graft.plans.RecomputeAudit.duplicates(mk, minCost = 2)
        .map(d => s"${d.occurrences}x ${d.root} (cost ${d.cost})")
      finally Sessions.release(spark)
    Seq("q268_semdedup", "q272_incr_semdedup", "q273_cluster_prune",
      "q274_semdedup_capped").foreach { name =>
      val dups = dupsOf(graft.SparkEntry.queries(name)(spark, SparkSuite.sf))
      assert(dups.isEmpty,
        s"$name (plain regime): unexplained duplicated shuffle-bearing " +
          s"subtrees $dups — a shared frame lost its persist")
    }
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(23)
    def rv() = Array.fill(64)(rng.nextGaussian().toFloat)
    val bases = (0 until 40).map(i => (i.toLong, rv()))
    val clones = (0 until 200).map { i =>
      ((100 + i).toLong,
        bases.head._2.map(x => x + 0.001f * rng.nextGaussian().toFloat))
    }
    val blob = (bases ++ clones).toDF("vec_id", "embedding")
    val semDups = dupsOf(
      graft.ops.Centroids.semDedup(blob, tau = 0.95, cap = Some(5L)))
    assert(semDups.isEmpty,
      s"semDedup capped+salted: unexplained duplicated subtrees $semDups")
    // incrSemDedup's capped regime legitimately re-reads the PERSISTED
    // mB through the same cold-branch and hot-branch right-side
    // projections in BOTH the corpus compare and the batch compare —
    // two canonical subtrees, each twice. Their cost-2 reading is the
    // audit's coarse metric counting the k-row sizes join (AQE
    // broadcasts it) and the salt explode; no exchange and no pair join
    // re-executes — the frames below are InMemoryRelations. Censused,
    // exactly: a third occurrence or a deeper subtree means a persist
    // was lost.
    val incrDups = dupsOf(
      graft.ops.Centroids.incrSemDedup(blob, cap = Some(5L)))
    assert(incrDups.sorted === Seq("2x Project (cost 2)",
      "2x Project (cost 2)"),
      s"incrSemDedup capped+salted: expected exactly the two censused " +
        s"post-cache mB projections, got $incrDups")
  }

  test("q259's staging split is audit-clean and assignment-identical " +
    "to the single-partition-window form it replaced") {
    // The k-batch staging rank runs inside stageOnce, so the ledger
    // sweep never sees its plan (it audits the registered query's
    // streaming read). r11 verdict note #4: the old form used a global
    // row_number().over(Window.orderBy(...)) — the banned shape — with
    // only a comment as its waiver. The rework routes it through
    // globalRank; this test is the explicit census entry: the staging
    // plan must stay clean, and the batch assignment must not move.
    import org.apache.spark.sql.functions._
    import graft.ops.Checkpoints
    import graft.plans.PlanAudit
    val k = graft.streaming.Streams.LateBatches
    val ev = Tables.events(spark, SparkSuite.sf)
      .select(col("ts"), col("event_type"), col("value"), col("event_id"))
    val n = ev.count()
    Checkpoints.withNoCut {
      val split = graft.streaming.Streams.lateBatchSplit(ev, n, k)
      assert(PlanAudit.suspectGlobalWindows(split).isEmpty,
        "q259's staging rank regressed to a single-partition window")
      assert(PlanAudit.sfProportionalBroadcasts(split).isEmpty,
        "q259's staging split carries an SF-proportional broadcast")
    }
    val got = graft.streaming.Streams.lateBatchSplit(ev, n, k)
      .select(col("event_id"), col("batch"))
    val shifted = pmod(
      graft.functions.StableHash.intMix62(col("event_id"), 59L),
      lit(7L)) === 0L
    val old = ev
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))))
      .withColumn("batch2",
        least(lit(k - 1), expr(s"((rn - 1) * $k) div ${n}L") +
          when(shifted, 2L).otherwise(0L)))
      .select(col("event_id"), col("batch2"))
    val moved = got.join(old, Seq("event_id"))
      .filter(col("batch") =!= col("batch2")).count()
    assert(moved === 0L,
      s"$moved events changed staging batch vs the replaced form")
  }

  test("recompute ledger census (r13): every >=3-op duplicated subtree " +
    "matches a measured-rejection waiver exactly, both directions") {
    // VERDICT r12 #6: the recompute report could not tell a pinned
    // rejection from a never-examined diamond. The registry
    // (RecomputeAudit.measuredRejections) indexes the in-code
    // MEASURED-REJECTION notes; this census makes it load-bearing: a
    // NEW >=3-op diamond with no waiver fails the suite until it is
    // either cut (measured win) or pinned (measured rejection), and a
    // waiver whose finding disappeared fails too. <=3-op threshold
    // matches the r9/r12 campaigns' evidence boundary: every 2-op cut
    // A/B'd to date measured wash-or-regression, so that class stays
    // report-only.
    import graft.plans.RecomputeAudit
    val findings = SparkSuite.ledger.flatMap { w =>
      // a query whose plan could not be built is unaudited, not clean
      w.findings.find(_.kind == "build-error").foreach(e =>
        fail(s"recompute census: ${w.query} did not build: ${e.detail}"))
      w.dups.filter(_.cost >= 3).map(d => (w.query, d.root, d.occurrences, d.cost))
    }
    val waived = RecomputeAudit.measuredRejections.filter(_.cost >= 3)
      .map(w => (w.query, w.root, w.occurrences, w.cost))
    val unexamined = findings.diff(waived)
    assert(unexamined.isEmpty,
      "unexamined >=3-op duplicated subtrees — measure a cut (keep it " +
        "if it wins) or pin the rejection with an in-code note + " +
        s"registry entry: ${unexamined.sorted.mkString("; ")}")
    val stale = waived.diff(findings)
    assert(stale.isEmpty,
      "stale measured-rejection waivers (the diamond is gone — delete " +
        s"the entry so the waiver cannot rot): ${stale.sorted.mkString("; ")}")
  }

  test("ledger sweep: audit findings across all registered queries " +
    "match the bounded-frame census exactly") {
    val findings = SparkSuite.ledger.flatMap(_.findings)
    val errors = findings.filter(_.kind == "build-error")
    assert(errors.isEmpty, s"queries failed to build: $errors")
    val counts = findings.groupBy(f => (f.query, f.kind))
      .view.mapValues(_.size).toMap
    val unexpected = counts.filter { case (k, n) =>
      census.get(k).forall(_._1 != n) }
    assert(unexpected.isEmpty,
      "audit findings outside the census (new forced broadcast or " +
        "single-partition window — fix it or census it with a " +
        s"justification): ${unexpected.toSeq.sortBy(_._1).mkString("; ")}")
    val stale = census.filter { case (k, (n, _)) =>
      !counts.get(k).contains(n) }
    assert(stale.isEmpty,
      "stale census rows (the site was fixed — delete the entry so the " +
        s"waiver cannot rot): ${stale.keys.toSeq.sorted.mkString("; ")}")
  }
}
