package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Static scale-audits over optimized logical plans — the machine-checkable
  * form of the 100 TB design contract. Two families of scale-killer are
  * pinned here so a refactor cannot silently reintroduce them:
  *
  *  - a FORCED `broadcast()` hint on a frame whose cardinality grows with
  *    the scale factor (TPC-H customer/supplier/part/orders/lineitem and
  *    the corpus tables all scale linearly — a hint that is harmless at
  *    sf0.1 pins billions of rows to the driver at the 100 TB point; the
  *    right call is no hint, letting AQE read the real post-shuffle size);
  *  - a partitionBy-less `Window.orderBy` over an SF-proportional frame,
  *    which Spark executes by routing the WHOLE frame through one task
  *    (`Exchange SinglePartition`) — correct, sub-second at sf0.1, and
  *    serial at 100×. The scalable form is [[graft.ops.Scale.globalRank]] /
  *    [[graft.ops.Scale.globalCumSum]] (range-partition, rank locally, add
  *    broadcast per-partition offsets).
  *
  * The audits run against `optimizedPlan` (hints are resolved onto Join
  * nodes there). [[AuditSweep.walk]] builds every query with its cuts
  * active, so a subtree executed eagerly behind a checkpoint shows only
  * as a checkpoint scan there; a spec that must see such a subtree
  * builds its query inside [[graft.ops.Checkpoints.withNoCut]].
  */
object PlanAudit {

  /** Tables whose row count grows linearly with the scale factor. A
    * broadcast of (an unreduced projection of) one of these is a
    * scale-killer; nation/region are genuinely bounded dimensions. */
  val SfProportional: Set[String] = Set("customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Hinted-side subtrees with a statically-proven row bound at or below
    * this are always broadcastable (1-row totals, literal frames). */
  val MaxRowsAllowed = 1000L

  /** Leaf tables a subtree scans, by parquet file name; leaves whose
    * provenance is invisible (LogicalRDD from a checkpoint, LocalRelation)
    * contribute nothing — build under withNoCut for full visibility. */
  def leafTables(p: LogicalPlan): Set[String] = {
    val file = "([A-Za-z0-9_]+)\\.parquet".r
    p.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.flatMap(rp =>
            file.findAllMatchIn(rp.toString).map(_.group(1)))
        case _ => Nil
      }
      case _ => Nil
    }.toSet
  }

  /** The plan node `p` resolves to once order-preserving, cardinality-
    * preserving-or-reducing wrappers are stripped: Project and Filter
    * never grow a frame, and Window adds columns without adding rows.
    * Used to classify a node's IMMEDIATE input — deliberately NOT a
    * whole-subtree search, which would whitelist anything merely
    * downstream of a safe frame (the round-8 audit loophole: any
    * global window built on a globalRank OUTPUT had the `_pid`
    * aggregate somewhere in its lineage and slipped through). */
  @annotation.tailrec
  private def stripWrappers(p: LogicalPlan): LogicalPlan = p match {
    case pr: Project => stripWrappers(pr.child)
    case f: Filter   => stripWrappers(f.child)
    case w: Window   => stripWrappers(w.child)
    case other       => other
  }

  /** True iff `p` IS (modulo Project/Filter/Window wrappers) the
    * per-partition offset frame of `Scale.globalRank`/`globalCumSum`:
    * an Aggregate grouped by the synthetic `_pid`. Such a frame has at
    * most #partitions rows regardless of scale factor — the one shape
    * that is always safe to broadcast or to rank in a single task. */
  private def isPidOffsetFrame(p: LogicalPlan): Boolean =
    stripWrappers(p) match {
      case a: Aggregate => a.groupingExpressions.exists(
        _.references.exists(_.name == "_pid"))
      case _ => false
    }

  /** One offending join side. */
  final case class BadBroadcast(side: String, tables: Set[String]) {
    override def toString = s"broadcast-hinted $side side scans " +
      s"SF-proportional ${tables.mkString("{", ",", "}")}"
  }

  private def isBroadcast(h: Option[HintInfo]): Boolean =
    h.exists(_.strategy.contains(BROADCAST))

  /** Every broadcast-HINTED join side in `df`'s optimized plan whose
    * subtree (a) has no small static row bound and (b) reaches an
    * SF-proportional leaf. AQE's own runtime-sized broadcasts are
    * invisible here by construction — only forced hints are audited,
    * which is the point: a hint overrides the size check that makes a
    * broadcast safe. */
  def sfProportionalBroadcasts(df: DataFrame): Seq[BadBroadcast] =
    df.queryExecution.optimizedPlan.collect {
      case j: Join =>
        Seq(("left", j.hint.leftHint, j.left),
            ("right", j.hint.rightHint, j.right))
          .filter { case (_, h, _) => isBroadcast(h) }
          .filter { case (_, _, side) =>
            !side.maxRows.exists(_ <= MaxRowsAllowed) }
          // the `_pid`-grouped offset frame inside globalRank/globalCumSum
          // is ≤ #partitions rows but carries no static maxRows (it is a
          // grouped Aggregate) and its leaves reach the SF-proportional
          // input being ranked — exempt it by SHAPE (immediate structure,
          // not lineage), or every globalRank adopter audited under the
          // no-cut seam reports its own legitimate offsets broadcast
          .filter { case (_, _, side) => !isPidOffsetFrame(side) }
          .flatMap { case (name, _, side) =>
            val bad = leafTables(side).intersect(SfProportional)
            if (bad.nonEmpty) Some(BadBroadcast(name, bad)) else None
          }
    }.flatten

  /** All broadcast-hinted join sides (allowed or not) — for pins that
    * assert an exact expected hint census (q251's delta-only contract). */
  def broadcastHintedSides(df: DataFrame): Seq[(String, LogicalPlan)] =
    df.queryExecution.optimizedPlan.collect {
      case j: Join =>
        Seq(("left", j.hint.leftHint, j.left),
            ("right", j.hint.rightHint, j.right))
          .collect { case (n, h, side) if isBroadcast(h) => (n, side) }
    }.flatten

  /** One partitionBy-less window. `offsetFrame` marks the one shape that
    * is ALWAYS fine: the ≤ #partitions-row per-partition offset frame
    * inside globalRank/globalCumSum (grouped by the synthetic `_pid`). */
  final case class GlobalWindow(orderCols: Seq[String],
      childTables: Set[String], offsetFrame: Boolean) {
    override def toString =
      s"Window.orderBy(${orderCols.mkString(",")}) over " +
        s"${childTables.mkString("{", ",", "}")}" +
        (if (offsetFrame) " [partition-offset frame]" else "")
  }

  /** One SHUFFLE_HASH join whose build parallelism is the session fixed
    * count. */
  final case class UnguardedHashBuild(tables: Set[String]) {
    override def toString = "SHUFFLE_HASH join reaching SF-proportional " +
      tables.mkString("{", ",", "}") + " with no explicit scaled " +
      "repartition on either side"
  }

  /** `p` with analyzed-plan wrappers stripped: Project/Filter (as
    * [[stripWrappers]]), plus SubqueryAlias and ResolvedHint, which the
    * optimizer removes but the ANALYZED plan still carries. */
  @annotation.tailrec
  private def stripAnalyzed(p: LogicalPlan): LogicalPlan = p match {
    case pr: Project       => stripAnalyzed(pr.child)
    case f: Filter         => stripAnalyzed(f.child)
    case s: SubqueryAlias  => stripAnalyzed(s.child)
    case h: ResolvedHint   => stripAnalyzed(h.child)
    case other             => other
  }

  /** SHUFFLE_HASH-hinted joins in `df`'s ANALYZED plan (hints are still
    * ResolvedHint wrappers there; the audit reads the analyzed plan
    * because the guard it looks for — the explicit repartition — usually
    * lives inside a PERSISTED frame, which the optimized plan hides
    * behind InMemoryRelation) whose subtree reaches an SF-proportional
    * leaf and where NEITHER side's immediate wrapper chain ends at a
    * RepartitionByExpression with an explicit partition count.
    *
    * Why this is a scale-killer class of its own: a hash join's build
    * map cannot spill, so at the session's fixed shuffle parallelism
    * per-task build bytes = rows/partitions grow linearly with the data
    * — measured in anger when the q139 wedge-closing join OOMed at the
    * 24M-edge sf2 point ("not enough memory to build hash map"). AQE
    * cannot save the shape (it only coalesces partitions — bigger
    * builds — and its skew split applies to the probe). The guard is
    * [[graft.ops.Scale.hashBuildParallelism]]: an explicit repartition
    * sized from a materialized row count, co-partitioning the join so
    * the explicit count IS the build parallelism. The chain check is
    * immediate structure, not a subtree search — a repartition deep in
    * the lineage on unrelated keys must not whitelist the join (the
    * round-8 collectFirst loophole, applied here from day one). */
  def unguardedHashBuilds(df: DataFrame): Seq[UnguardedHashBuild] = {
    // the hint must sit on the side's IMMEDIATE wrapper chain — Spark
    // attaches a join-strategy hint to the nearest enclosing Join, so a
    // deeper hint belongs to a deeper join and must not implicate this one
    @annotation.tailrec
    def immediateHint(p: LogicalPlan): Boolean = p match {
      case h: ResolvedHint  => h.hints.strategy.contains(SHUFFLE_HASH)
      case pr: Project      => immediateHint(pr.child)
      case f: Filter        => immediateHint(f.child)
      case s: SubqueryAlias => immediateHint(s.child)
      case _                => false
    }
    df.queryExecution.analyzed.collect {
      case j: Join if Seq(j.left, j.right).exists(immediateHint) =>
        val scaled = Seq(j.left, j.right).exists(s =>
          stripAnalyzed(s) match {
            case r: RepartitionByExpression => r.optNumPartitions.isDefined
            case _ => false
          })
        val bad = leafTables(j).intersect(SfProportional)
        if (bad.nonEmpty && !scaled) Some(UnguardedHashBuild(bad)) else None
    }.flatten
  }

  /** Every empty-partitionSpec Window whose input is statically bounded:
    * `child.maxRows` propagates through Project/Filter/Window from a
    * GlobalLimit, a LocalRelation, or a literal frame, so a rank over a
    * `limit(k)` result (the TakeOrderedAndProject + re-rank idiom in the
    * top-k queries) is provably ≤ k rows at ANY scale factor. */
  private def isRowBounded(p: LogicalPlan): Boolean =
    p.maxRows.exists(_ <= MaxRowsAllowed)

  /** The audit verdict for one query: global windows whose child reaches
    * an SF-proportional leaf and is NEITHER the bounded partition-offset
    * frame NOR statically row-bounded (rank-after-limit). Windows over
    * aggregates of bounded DOMAINS (day grids, deciles, per-source
    * frames) carry no static row bound — the caller pins those by exact
    * census with a written justification (AuditSweepSpec). */
  def suspectGlobalWindows(df: DataFrame): Seq[GlobalWindow] =
    df.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty &&
          !isRowBounded(w.child) && !isPidOffsetFrame(w.child) &&
          leafTables(w.child).intersect(SfProportional).nonEmpty =>
        GlobalWindow(w.orderSpec.map(_.child.references.toSeq
          .map(_.name).mkString("+")), leafTables(w.child), offsetFrame = false)
    }
}
