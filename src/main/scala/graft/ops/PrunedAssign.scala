package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Elkan-pruned EXACT nearest-seed assignment — the one core behind
  * [[Centroids.assignMembersPruned]] (quantized L2) and
  * [[Similarity.ivfAssignPruned]] (rounded cosine). Both assign every
  * vector of a raw (vec_id, embedding) corpus to its best seed among the
  * first `k` vectors, bit-identical to their flat forms, with proven-safe
  * candidate skips instead of the full n·k expansion:
  *
  *  1. coarse pass: bound-domain distance D from each vector to each of
  *     kc = ⌈√k⌉ coarse centers (the first kc seeds — exactly the
  *     two-level path's cells), n·kc folds; the nearest center is the
  *     vector's cell. Each seed's own cell and its distance R to that
  *     cell's center: k·kc folds, negligible;
  *  2. in-cell pass: exact scores to the own cell's seeds, n·(k/kc)
  *     expected folds; their best is the bound ub;
  *  3. skip test: by the triangle inequality d(x, f) ≥ |√D − √R| through
  *     seed f's own cell center, so f is SKIPPED when that lower bound
  *     proves its exact score strictly worse than ub — it can then
  *     neither win nor tie the argmin (ties break on exact equality,
  *     which a strict bound excludes). Borderline pairs are computed,
  *     never skipped, so a guard only ever costs work;
  *  4. exact pass over the survivors only; each caller combines its
  *     in-cell and survivor sides with its own tie-break.
  *
  * The [[Metric]] supplies only what differs: the bound-domain distance,
  * the exact score, the direction of "best" and the skip test.
  *
  * Work: n·kc + n·k/kc + |survivors| folds plus an n·k filter-only stage.
  * On clustered corpora (a crawl blob, planted locality) survivors ≈ 0
  * for blob members (measured 94% of all pairs pruned for clone-blob
  * vectors); on a fully isotropic corpus the bound degenerates (√D ≈ √R
  * for every pair, pruning ≈ kc/k) and the win is the kernel shape alone:
  * one fused codegen fold per PAIR instead of d hash-aggregate rows, and
  * no sort-merge join of n·k array-carrying rows.
  *
  * Plan shape, each a measured decision:
  *  - window frames stay NARROW (vec_id, ccid, cd, crk, vccid): the
  *    embedding is dropped before the window so no array-bearing frame is
  *    ever window-sorted (a first cut carried arrays there and the two
  *    window sorts + the ub sort-merge sort of ~300-byte rows ate the
  *    entire pruning win);
  *  - the coarse frame is deliberately NOT lineage-cut: its two consumers
  *    re-run the n·kc folds + one narrow window (a 1/√k fraction of total
  *    work), which measured cheaper than the eager checkpoint jobs (sf8 +
  *    blob full pruned 14.8 s with cuts, 11.6 without); AQE stage reuse
  *    still shares the probe exchange;
  *  - the embedding re-attaches by ONE n-to-n join per pass, hinted
  *    shuffle_hash: left to itself the planner BROADCASTS the array side
  *    whenever the corpus is under the 10 MB threshold — measured +115%
  *    at the 20k point (3.54 vs 1.88 s hinted) and a dead end at 100 TB,
  *    where an n-row broadcast cannot exist;
  *  - the ≤ k-row cell→seed frame AQE-broadcasts, so the ×(k/kc) and
  *    ×k expansions and their folds stay in-stage: the n·k pair rows
  *    exist solely inside one join + filter + fold stage — never
  *    shuffled, sorted or materialized;
  *  - survivors fold IN that stage (both arrays are already on the row):
  *    a first cut that joined arrays back by (vec_id, fcid) AFTER the
  *    filter measured 2.1–2.3× SLOWER than the flat form at every scale
  *    point (sf1 organic 5.5 vs 1.7 s, sf8+blob 31.8 vs 13.6 s) — the
  *    join-back shuffled the n·k survivor rows and re-materialized both
  *    arrays per row.
  *
  * Specs: PrunedAssignSpec and IvfPrunedSpec run one body per property
  * for both metrics — bit-identity to the flat path on the isotropic
  * fixture, planted locality and a clone blob; ledger conservation;
  * every skipped pair recomputed and proven strictly worse than ub; and
  * the plan-shape pin.
  */
private[graft] object PrunedAssign {

  /** What differs between the two metrics. Columns named here: `cd`
    * (D), `r` (R) and `ubv` (ub) on the pair frame. */
  private[graft] sealed trait Metric {
    /** Squared bound-domain distance — a true metric's square. */
    def bound(a: Column, b: Column): Column
    /** The committed score the assignment ranks by. */
    def exact(a: Column, b: Column): Column
    /** The best of a vector's in-cell scores: ub. */
    def best(score: Column): Column
    /** ub for a vector with no in-cell row: makes every pair
      * non-prunable. */
    def noBound: Column
    /** The proven-safe skip predicate over `cd`, `r` and `ubv`. */
    def prunable: Column
  }

  /** Exact BIGINT squared L2 in the quantized space
    * ([[graft.functions.QuantSqDist]], bit-identical to the exploded
    * quantize-then-sum), min-argmin. */
  private[graft] case object QuantL2 extends Metric {
    import graft.functions.VectorFunctions.quant_sqdist

    /** Conservative rounding guard for the double-domain skip test: D, R,
      * m are exact BIGINTs < 2⁵¹ (exactly representable as doubles), the
      * two products carry ≤ 2 ulps ≈ 4·2⁻⁵³ relative error, and the guard
      * is 9 orders of magnitude wider — a pair is pruned only when
      * m² > 4·D·R by a margin no rounding can fake. */
    private val PruneGuard = 1.0 + 1e-9

    def bound(a: Column, b: Column): Column = quant_sqdist(a, b)
    def exact(a: Column, b: Column): Column = quant_sqdist(a, b)
    def best(score: Column): Column = min(score)
    def noBound: Column = lit(Long.MaxValue)
    /** (√D − √R)² > ub ⟺ m := D + R − ub > 0 ∧ m² > 4·D·R; m itself is
      * exact LONG (D + R < 2⁵¹, no overflow). */
    def prunable: Column = {
      val m = col("cd") + col("r") - col("ubv")
      (m > 0L) &&
        (m.cast("double") * m.cast("double") >
          lit(4.0) * col("cd").cast("double") * col("r").cast("double") *
            lit(PruneGuard))
    }
  }

  /** Rounded cosine (the committed 4-dp values), max-argmax. Cosine is
    * scale-invariant, so every vector sits on the unit sphere where the
    * chordal distance d(x̂, ŷ)² = 2 − 2·cos(x, y) is a true metric — D
    * and R come from the SAME codegen'd cosine kernel the flat path
    * folds, no normalization pass. The triangle inequality then caps
    * cos(x, c) ≤ 1 − (√D − √R)²/2. */
  private[graft] case object RoundedCosine extends Metric {
    import Similarity.cosine

    /** Rounding + fp guard: a centroid is skipped only when its cosine
      * CEILING sits below ub by more than half the 4-dp rounding step
      * (5e-5 — past it the rounded cosine is strictly smaller, so the
      * pair can neither win nor tie even with the smallest-id tie-break)
      * plus 1e-6 of floating-point slack. The ceiling is three cosine
      * folds and two sqrts in doubles whose accumulated error at d = 64
      * is < 1e-12 — six orders inside the slack. */
    private val IvfPruneMargin = 5.0e-5 + 1.0e-6

    /** greatest(…, 0) guards the last-ulp cos > 1 of a self-pair — sqrt
      * of a negative is NaN and would silently disable the skip. */
    def bound(a: Column, b: Column): Column =
      greatest(lit(0.0), lit(2.0) - lit(2.0) * cosine(a, b))
    def exact(a: Column, b: Column): Column = round(cosine(a, b), 4)
    def best(score: Column): Column = max(score)
    /** Below any cosine. */
    def noBound: Column = lit(-2.0)
    def prunable: Column = {
      val diff = sqrt(col("cd")) - sqrt(col("r"))
      lit(1.0) - diff * diff / lit(2.0) < col("ubv") - lit(IvfPruneMargin)
    }
  }

  /** The pruned assignment's frames: `incell` the exact in-cell scores
    * (vec_id, fcid, score), `pairs` the bounded candidate frame for
    * every (vector, out-of-cell seed) with `prunable` its proven-safe
    * skip predicate, and `survivors` the exact scores of the pairs it
    * keeps (vec_id, fcid, score). */
  private[graft] final case class Frames(incell: DataFrame,
      pairs: DataFrame, prunable: Column, survivors: DataFrame, kc: Long)

  /** Build [[Frames]] over a raw (vec_id, embedding) corpus `ea0` with
    * seeds (default: `ea0` itself) filtered to vec_id < k. */
  private[graft] def frames(ea0: DataFrame, k: Long, metric: Metric,
      seeds: Option[DataFrame] = None,
      probeParallelism: Option[Int] = None): Frames = {
    val ea = ea0.select(col("vec_id"), col("embedding"))
    val sa = seeds.getOrElse(ea0)
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < k)
      .select(col("vec_id").as("fcid"), col("embedding").as("semb"))
    val kc = Centroids.seedCount(k)
    val ca = sa.filter(col("fcid") < kc)
      .select(col("fcid").as("ccid"), col("semb").as("cemb"))
    // the kc-way expansions are an explode of a literal id sequence + an
    // equi-join (AQE sizes the kc-row center side) — no cross join
    val scell = sa
      .select(col("fcid"), col("semb"),
        explode(sequence(lit(0L), lit(kc - 1L))).as("ccid"))
      .join(ca, Seq("ccid"))
      .select(col("fcid"), col("semb"), col("ccid"),
        metric.bound(col("semb"), col("cemb")).as("sd"))
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("fcid")).orderBy(col("sd"), col("ccid"))))
      .filter(col("srk") === 1)
      .select(col("fcid"), col("semb"), col("ccid"), col("sd").as("r"))
    val probe = probeParallelism
      .map(p => ea.repartition(p, col("vec_id"))).getOrElse(ea)
    val wv = Window.partitionBy(col("vec_id"))
    val coarseD = probe
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0L), lit(kc - 1L))).as("ccid"))
      .join(ca, Seq("ccid"))
      .select(col("vec_id"), col("ccid"),
        metric.bound(col("embedding"), col("cemb")).as("cd"))
      .withColumn("crk", row_number().over(
        wv.orderBy(col("cd"), col("ccid"))))
      .withColumn("vccid",
        max(when(col("crk") === 1, col("ccid"))).over(wv))
    val incell = coarseD.filter(col("crk") === 1)
      .select(col("vec_id"), col("ccid"))
      .join(probe.hint("shuffle_hash"), Seq("vec_id"))
      .join(scell.select(col("ccid"), col("fcid"), col("semb")),
        Seq("ccid"))
      .select(col("vec_id"), col("fcid"),
        metric.exact(col("embedding"), col("semb")).as("score"))
    val ub = incell.groupBy(col("vec_id"))
      .agg(metric.best(col("score")).as("ub"))
    // left join + noBound coalesce: a vector whose cell held no seed is
    // impossible (cell center g < kc IS seed g, so every selected cell
    // holds at least its own center — the q271 no-stranded-member
    // argument), but a frame bug here must surface as extra exact work,
    // not a wrong assignment
    val pairs = coarseD
      .filter(col("ccid") =!= col("vccid"))
      .join(ub, Seq("vec_id"), "left")
      .withColumn("ubv", coalesce(col("ub"), metric.noBound))
      .join(probe.hint("shuffle_hash"), Seq("vec_id"))
      .join(scell.select(col("fcid"), col("semb"), col("ccid"),
        col("r")), Seq("ccid"))
    val survivors = pairs.filter(!metric.prunable)
      .select(col("vec_id"), col("fcid"),
        metric.exact(col("embedding"), col("semb")).as("score"))
    Frames(incell, pairs, metric.prunable, survivors, kc)
  }

  /** The skip ledger (a bounded operator must COUNT what it skipped):
    * one row (n, k, kc, pairs_total, pairs_incell, pairs_pruned,
    * pairs_survivor) over this corpus. pairs_total = n·k; pairs_incell
    * are computed exactly in the upper-bound pass; of the out-of-cell
    * rest, pairs_pruned are skipped by the proven-safe bound and
    * pairs_survivor are computed exactly. incell + pruned + survivor =
    * total by construction. */
  private[graft] def ledger(ea: DataFrame, n: Long, k: Long,
      metric: Metric, seeds: Option[DataFrame] = None,
      probeParallelism: Option[Int] = None): DataFrame = {
    val pf = frames(ea, k, metric, seeds, probeParallelism)
    val outcell = pf.pairs.agg(
      coalesce(sum(when(pf.prunable, 1L).otherwise(0L)), lit(0L))
        .as("pairs_pruned"),
      coalesce(sum(when(pf.prunable, 0L).otherwise(1L)), lit(0L))
        .as("pairs_survivor"))
    pf.incell.agg(count(lit(1)).as("pairs_incell"))
      .crossJoin(outcell)
      .select(lit(n).as("n"), lit(k).as("k"), lit(pf.kc).as("kc"),
        lit(n * k).as("pairs_total"), col("pairs_incell"),
        col("pairs_pruned"), col("pairs_survivor"))
  }
}
