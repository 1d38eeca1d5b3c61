package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._

/** Ledger-wide recompute audit — the machine-readable form of the
  * round-9 shared-frame lesson (SCALE_POINT_r9 §E): a frame consumed by
  * several downstream joins/aggregates MAY be re-derived per consumer
  * unless materialized, and a single-shot query with a diamond-shaped
  * plan pays that silently (measured 2.3× at the 20× point on q270
  * before its persist). Spark performs no common-subexpression
  * elimination across LOGICAL plan branches, so the duplicate subtrees
  * are visible statically: this audit finds MAXIMAL duplicated subtrees
  * (a duplicated node whose parent is not itself duplicated) whose
  * canonicalized form contains at least one shuffle-bearing operator
  * (Join/Aggregate/Window/Generate), i.e. potentially recomputed work
  * rather than a shared scan Parquet will serve from cache anyway.
  *
  * Report-only BY MEASURED NECESSITY, not politeness: a logical-plan
  * duplicate is usually already deduplicated physically. Spark's
  * ReuseExchange rule executes identical exchange subtrees ONCE, so a
  * diamond whose duplicate sides end at a shuffle boundary recomputes
  * nothing but the post-shuffle pipeline, and an InMemoryRelation scan
  * can replace a whole-stage-codegen pipeline at a net loss. The
  * round-9 A/Bs (leak-free bench — see the §E correction record):
  * eight flagged sites converted and REVERTED (q113 +33%, q161 +26%,
  * q169 +13%, rest wash), q269/q271's persists REVERTED
  * (q271 2× worse at 20×). Materialization paid in exactly two cases:
  * q270's 1024-row stats frame broadcasts once its size is known
  * instead of shuffling the corpus into a low-cardinality SMJ (2.3×),
  * and q268's four-way-consumed assignment (1.35×). Flag → measure →
  * then decide; the full record lives in SCALE_POINT_r9 §E.
  *
  * The report (every cost ≥ 2 finding, classified) is part of the one
  * ledger walk: `sbt "runMain graft.plans.AuditSweep <sfDir>"`.
  */
object RecomputeAudit {

  /** One maximal duplicated subtree: how many times it occurs in the
    * plan, how many shuffle-bearing operators it contains, and its root
    * node name for orientation. */
  final case class Dup(occurrences: Int, cost: Int, root: String)

  /** One audited-and-kept diamond: the finding's exact signature plus a
    * pointer to the in-code MEASURED-REJECTION note that records the
    * A/B. */
  final case class Waiver(query: String, root: String, occurrences: Int,
      cost: Int, note: String)

  /** Findings REJECTED BY MEASUREMENT (VERDICT r12 #6 — the report
    * previously could not tell a pinned rejection from a never-examined
    * diamond, so the artifact drifted toward noise). Every entry mirrors
    * an in-code MEASURED-REJECTION / rejection note at the duplicated
    * site — the full A/B numbers live there; this registry is the
    * machine-readable index the audit output and the AuditSweepSpec
    * census read. Both directions are spec-pinned: a NEW ≥3-op finding
    * with no entry fails the suite (unexamined work), and an entry whose
    * finding disappeared fails too (the waiver cannot rot into a blanket
    * exemption). ≤2-op findings stay report-only — the r9 campaign
    * measured that class as washes-or-regressions eight times out of
    * eight, so forcing an A/B per 2-op diamond would re-litigate a
    * settled question every round. */
  val measuredRejections: Seq[Waiver] = Seq(
    // q113_setsim_join's prefixes diamond (Project ×2, cost 4) left this
    // registry in r16: the determinism-sort cut added at the end of
    // similarPairs puts the whole pipeline behind a checkpoint scan, so
    // the audited (returned) plan no longer shows it. The rejection
    // history stays pinned in SetSim.scala's MEASURED-REJECTION note
    // (persist r9 +33%; localCheckpoint r12 wash-to-loss).
    Waiver("q169_kmv_overlap", "Join", 3, 3,
      "Aggregates.scala q169 note — r12 A/B rejected (nosort " +
        "min-of-two-rounds: sf0.1 1.13 vs 0.93 uncut, sf1 3.17 vs " +
        "3.30, sf2 5.33 vs 4.78): grams/sk are already checkpointed, " +
        "each recompute is a narrow re-aggregation of a materialized " +
        "RDD"),
    Waiver("q169_kmv_overlap", "Project", 2, 3,
      "same site and A/B as the q169 Join waiver (one cut covers both " +
        "findings; both rejected together)"),
    Waiver("q265_shard_plan", "Project", 2, 4,
      "Curation.scala shards note — A/B'd in r9 (persist, wash) and " +
        "r12 (localCheckpoint, sf0.1 0.68->0.66 s, sf1 1.52->1.42, " +
        "sf2 2.36->2.52: wash); the globalRank exchange is shared, " +
        "the recompute is the ShardCount-row post-shuffle tail"),
    Waiver("q275_ivf_sweep", "Join", 2, 6,
      "Similarity.scala q275 cands note — r12 A/B rejected (sf0.1 " +
        "1.24->1.40 s, sf1 1.55->1.72, sf2 1.83->1.85, timed " +
        "min-of-2); ReuseExchange shares the assignment and list-join " +
        "exchanges, the cut's eager job costs more than the recompute"),
    Waiver("q280_resolver_dial", "Join", 2, 6,
      "the SAME cands subtree and the same r12 A/B as the q275 Join " +
        "waiver: q280 is the q275 dial re-sliced to the resolver's " +
        "query predicate and folded to the per-nprobe aggregate — the " +
        "duplicated candidate join underneath is plan-identical"),
    Waiver("q72_ngram_jaccard", "Aggregate", 2, 3,
      "Dedup.scala ngramJaccard note — r13 A/B rejected " +
        "(worktree-alternating, timed min-of-2: persist(grams) sf0.1 " +
        "1.04->1.43 s, sf1 7.24->7.17 wash); the gram-distinct " +
        "exchange is shared, caching the exploded frame loses"),
    Waiver("q72_ngram_jaccard", "Project", 2, 3,
      "same site and A/B as the q72 Aggregate waiver (one persist " +
        "covers both findings; both rejected together)"),
    Waiver("q248_containment", "Aggregate", 2, 3,
      "Dedup.scala q248 note — r13 A/B rejected (persist(grams) sf0.1 " +
        "1.59->2.08 s, sf1 8.01->7.27 wash-to-win inside host spread; " +
        "the sf0.1 loss decides) — same diamond as q72's shared " +
        "machinery"),
    Waiver("q248_containment", "Project", 2, 3,
      "same site and A/B as the q248 Aggregate waiver"),
    Waiver("q210_centroid_sim", "Aggregate", 2, 3,
      "TrainingData.scala cent note — r13 A/B rejected " +
        "(localCheckpoint sf0.1 0.93->0.94 s, sf1 0.91->1.01): the " +
        "corpus posexplode exchange is shared, the recompute is the " +
        "k*d-row final aggregate"),
    Waiver("q269_jl_projection", "Aggregate", 2, 3,
      "Quantize.scala proj note — r13 A/B rejected (localCheckpoint " +
        "sf0.1 1.11->1.05 s wash, sf1 3.09->4.45 +44%): the eager cut " +
        "job grows with n while the recompute stays post-shuffle"))

  /** Classify one finding against the registry: an exact-signature
    * match is `rejected-by-measurement`; anything else is `unexamined`
    * (cost ≥3 unexamined findings fail AuditSweepSpec's census). */
  def classify(query: String, d: Dup): String =
    if (measuredRejections.exists(w => w.query == query &&
        w.root == d.root && w.occurrences == d.occurrences &&
        w.cost == d.cost)) "rejected-by-measurement"
    else "unexamined"

  private def cost(p: LogicalPlan): Int = p.collect {
    case _: Join => 1
    case _: Aggregate => 1
    case _: Window => 1
    case _: Generate => 1
  }.size

  /** Maximal duplicated subtrees in `df`'s optimized plan with at least
    * `minCost` shuffle-bearing operators. Subtrees under an
    * InMemoryRelation never appear here — a persisted frame IS the fix —
    * so adopting the q268/q270 persist pattern clears its finding. */
  def duplicates(df: DataFrame, minCost: Int = 1): Seq[Dup] = {
    val plan = df.queryExecution.optimizedPlan
    val counts = new scala.collection.mutable.HashMap[LogicalPlan, Int]
    plan.foreach { p => counts(p.canonicalized) =
      counts.getOrElse(p.canonicalized, 0) + 1 }
    def maximalDups(p: LogicalPlan, parentDup: Boolean): Seq[LogicalPlan] = {
      val dup = counts(p.canonicalized) > 1
      val here = if (dup && !parentDup) Seq(p) else Nil
      here ++ p.children.flatMap(maximalDups(_, dup))
    }
    maximalDups(plan, parentDup = false)
      .groupBy(_.canonicalized).values.map(_.head).toSeq
      .map(p => Dup(counts(p.canonicalized), cost(p), p.nodeName))
      .filter(_.cost >= minCost)
      .sortBy(d => (-d.cost * d.occurrences, d.root))
  }
}
