package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Checkpoints.CutOps

/** Distributed connected components over a near-duplicate pair graph —
  * the step after pairwise detection in every production dedup pipeline:
  * pairwise similarity (q70/q72/q73) gives EDGES, but "keep one copy per
  * duplicate group" needs the transitive closure (a~b, b~c ⇒ {a,b,c} is one
  * group even when a and c share nothing directly). The reference's ELT
  * tier has no equivalent; this is north-star dedup machinery
  * (BASELINE.json tier X).
  *
  * Algorithm: iterative hash-min label propagation with path-halving —
  * each round every node pulls the minimum label among itself and its
  * neighbors (one shuffle join + hash aggregate), then compresses
  * label := label(label) (a second self-join). Halving makes convergence
  * O(log diameter) rounds instead of O(diameter), the practical difference
  * between 5 and 50 Spark jobs on a chain-shaped cluster. This is the
  * two-phase shape of the MapReduce CC literature (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14 — their
  * large-star/small-star alternates the same min-propagate/compress moves).
  *
  * Scale design:
  *  - State per round is two narrow long columns (id, component) plus the
  *    symmetrized edge list — never document text or embeddings.
  *  - Every round's labels are `localCheckpoint`ed: iterative self-joins
  *    otherwise double the lineage each round and the planner chokes by
  *    round ~10; checkpointed RDDs are reclaimed by the ContextCleaner as
  *    prior rounds' plans are garbage-collected. Local checkpoints die
  *    with their executor — a long-lived cluster job sets
  *    [[Checkpoints.DirKey]] to flip every iterative op here (and in
  *    [[Graph]]/[[Dedup]]) to RELIABLE checkpoints that survive executor
  *    loss; local mode keeps the no-FS-round-trip default.
  *  - The min-label pull is a groupBy aggregate, so map-side partial
  *    combine collapses high-degree hub nodes before the shuffle — no
  *    whole-bucket-on-one-task straggler.
  *  - Convergence is detected with a label-sum probe per round (a cheap
  *    action over the narrow checkpointed frame,
  *    [[Checkpoints.untilStable]]), bounded by `maxIter` as a runaway
  *    guard.
  */
object Components {

  /** Connected components of the undirected graph (`nodes`: column `id`;
    * `edges`: columns `src`, `dst`, either orientation, self-loops and
    * duplicates tolerated). Returns (id, component) where component is the
    * minimum node id reachable from `id` — deterministic on any
    * partitioning and any iteration schedule, because the min-label
    * fixpoint is unique.
    *
    * Hybrid solve: when the symmetrized edge list fits comfortably in one
    * task (≤ `localSolveMax` rows — the count is free, the frame is already
    * checkpointed), the closure runs as a single-task union-find instead of
    * the O(log d)-round join loop. A dedup pair graph is tiny relative to
    * its corpus (pairs are band-bounded), so even 100 TB corpora often land
    * here after candidate generation; the iterative path remains the scale
    * fallback and both compute the identical min-label fixpoint
    * (union-by-min root = min reachable id; property-tested against each
    * other). Set `localSolveMax = 0` to force the iterative path. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 30, localSolveMax: Long = 2000000L): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .cutLineage()
    if (sym.count() <= localSolveMax) {
      // Single-task union-find with iterative path compression. Union
      // attaches the larger root under the smaller, so each final root is
      // the minimum id of its component — the same fixpoint the loop
      // computes. Runs on an executor (mapPartitions over coalesce(1)),
      // not the driver; state is one long→long entry per edge-touched node.
      val solved = sym
        .select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent(r)
            var c = x
            while (c != r) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          it.foreach { case (a, b) =>
            if (!parent.contains(a)) parent(a) = a
            if (!parent.contains(b)) parent(b) = b
            val ra = find(a); val rb = find(b)
            if (ra < rb) parent(rb) = ra
            else if (rb < ra) parent(ra) = rb
          }
          val ks = parent.keys.toArray
          ks.iterator.map(k => (k, find(k)))
        }
        .toDF("id", "component")
      return finishWithIsolated(nodes, solved)
    }
    // Active-set restriction: only edge-touched nodes can ever change
    // label, so the iteration runs over them alone. In a dedup corpus most
    // documents are singletons — they join back as their own component
    // after the loop, and every round's joins shrink from |V| to
    // |V_active| (often 10-100× smaller).
    val seed = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .cutLineage()
    // Convergence probe: labels decrease monotonically per node, so the
    // label-sum strictly decreases until the fixpoint — comparing two longs
    // replaces a per-round join-and-count with a shuffle-free aggregate
    // over the cut frame. (Exact: long sum of node ids, no overflow below
    // ~3·10⁹ nodes.) The sum over an empty active set is NULL, read as 0:
    // that is already the fixpoint.
    val (labels, _) = Checkpoints.untilStable(seed, maxIter) { labels =>
      // Pull phase: min label over the neighborhood (plus self, via the
      // left join below — isolated nodes keep their own label).
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("component")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("nbr_min"))
      val pulled = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
      // Compress phase (path-halving): component := component(component).
      // Labels are node ids, so the pulled frame doubles as the mapping.
      // Exactly ONE compress join per round: stacking extra lazy jumps
      // looks free but multiplies references to the un-checkpointed
      // `pulled`, and the re-planned/re-executed pull joins cost far more
      // than the rounds they save (measured 8 s → 230 s at sf0.1 with 3
      // stacked jumps). The tail rounds a single halving leaves behind
      // (changed counts in the single digits) are near-free — the frames
      // are checkpointed and tiny.
      pulled
        .join(pulled.select(col("id").as("p_id"), col("component").as("p_comp")),
          col("component") === col("p_id"), "left")
        .select(col("id"),
          coalesce(col("p_comp"), col("component")).as("component"))
    } { halved =>
      halved.agg(coalesce(sum(col("component")), lit(0L))).head().getLong(0)
    }
    finishWithIsolated(nodes, labels)
  }

  /** Edge-untouched nodes are their own component; union them back onto the
    * solved active set. */
  private def finishWithIsolated(nodes: DataFrame, labels: DataFrame): DataFrame = {
    val isolated = nodes
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    labels.unionByName(isolated)
  }

  /** Duplicate-group labeling over any (doc_id, text) frame: edges are the
    * banded shared-3-gram candidate pairs ([[Dedup.bandedGramPairs]] — in
    * production the band comes from q70's LSH buckets), groups are their
    * transitive closure. Emits each document's group id (min doc_id in the
    * group), the group size, and whether the doc is the canonical
    * representative. */
  def dupGroups(docs: DataFrame, W: Long = 10L): DataFrame = {
    val edges = Dedup.bandedGramPairs(Dedup.hashedGrams(docs), W)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val comp =
      connectedComponents(docs.select(col("doc_id").as("id")), edges)
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
    comp.join(sizes, Seq("component"))
      .select(col("id").as("doc_id"), col("component"), col("n_members"),
        (col("id") === col("component")).as("is_rep"))
      .orderBy(col("doc_id"))
  }

  /** q83_dup_groups — [[dupGroups]] (W=10) on the documents fixture. The
    * output is integers/booleans only, so the recursive oracle
    * hash-matches exactly. */
  def q83DupGroups(spark: SparkSession, sfDir: String): DataFrame =
    dupGroups(Tables.documents(spark, sfDir))

  /** q147_rep_retention — quality-aware duplicate retention: q83 labels
    * the duplicate groups, this picks WHICH copy survives. Production
    * dedup does not keep the min-id copy — it keeps the best one (longest,
    * highest quality score, freshest crawl). The representative is the
    * arg-max of (n_chars, doc_id) per component via a single `max_by` on a
    * packed unique BIGINT key (n_chars·2³³ + doc_id — DuckDB's `arg_max`
    * takes no composite key, so the tie-break is engineered into one
    * ordering integer, the q118 pattern). One extra group-cardinality
    * aggregate joined back over the q83 labeling; the corpus text never
    * shuffles. The representative frame is COMPONENT-cardinality —
    * duplicate groups grow with the corpus, so it must NOT be hint-
    * broadcast (at 100 TB it is billions of rows); the join is unhinted
    * and AQE broadcasts it only while its measured size qualifies.
    */
  def q147RepRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
    val groups = dupGroups(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("component"), col("n_members"))
    val labeled = groups.join(docs, Seq("doc_id"))
    val reps = labeled.groupBy(col("component"))
      .agg(max_by(col("doc_id"),
        // Injective only while 0 <= doc_id < 2^33 — guard so a fixture
        // with wider ids fails loudly rather than aliasing into n_chars.
        when(col("doc_id").between(0L, 8589934591L),
          col("n_chars") * lit(8589934592L) + col("doc_id"))
          .otherwise(raise_error(
            lit("q147 packed-key bound: doc_id outside [0, 2^33)"))
            .cast("long"))).as("rep_doc"))
    labeled.join(reps, Seq("component"))
      .select(col("doc_id"), col("component"), col("n_members"),
        col("n_chars"), col("rep_doc"),
        (col("doc_id") === col("rep_doc")).as("is_kept"))
      .orderBy(col("doc_id"))
  }

  /** Same recursive-CTE component fixpoint as q83, then DuckDB `arg_max`
    * on the identical packed key. */
  val q147Sql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, greatest(len(t) - 1, 2)),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      |  FROM toks WHERE len(t) >= 3),
      |pairs AS (
      |  SELECT g1.doc_id AS d1, g2.doc_id AS d2
      |  FROM grams g1 JOIN grams g2
      |    ON g1.gram = g2.gram
      |   AND g2.doc_id > g1.doc_id AND g2.doc_id <= g1.doc_id + 10
      |  GROUP BY 1, 2),
      |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
      |          UNION ALL SELECT d2, d1 FROM pairs),
      |walk(id, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.src, w.label FROM walk w JOIN edges e ON e.dst = w.id),
      |comp AS (SELECT id, min(label) AS component FROM walk GROUP BY 1),
      |sizes AS (SELECT component, count(*) AS n_members FROM comp GROUP BY 1),
      |labeled AS (
      |  SELECT d.doc_id, c.component, s.n_members, d.n_chars
      |  FROM documents d
      |  JOIN comp c ON c.id = d.doc_id
      |  JOIN sizes s USING (component)),
      |reps AS (
      |  SELECT component,
      |         arg_max(doc_id, n_chars * 8589934592 + doc_id) AS rep_doc
      |  FROM labeled GROUP BY component)
      |SELECT l.doc_id, l.component, l.n_members, l.n_chars, r.rep_doc,
      |       l.doc_id = r.rep_doc AS is_kept
      |FROM labeled l JOIN reps r USING (component)
      |ORDER BY l.doc_id""".stripMargin

  /** DuckDB computes the same fixpoint declaratively: the recursive CTE
    * enumerates every (node, reachable-node) pair and takes the min — the
    * engines agree because the min-reachable-label fixpoint is unique. */
  val q83Sql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, greatest(len(t) - 1, 2)),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      |  FROM toks WHERE len(t) >= 3),
      |pairs AS (
      |  SELECT g1.doc_id AS d1, g2.doc_id AS d2
      |  FROM grams g1 JOIN grams g2
      |    ON g1.gram = g2.gram
      |   AND g2.doc_id > g1.doc_id AND g2.doc_id <= g1.doc_id + 10
      |  GROUP BY 1, 2),
      |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
      |          UNION ALL SELECT d2, d1 FROM pairs),
      |walk(id, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.src, w.label FROM walk w JOIN edges e ON e.dst = w.id),
      |comp AS (SELECT id, min(label) AS component FROM walk GROUP BY 1),
      |sizes AS (SELECT component, count(*) AS n_members FROM comp GROUP BY 1)
      |SELECT c.id AS doc_id, c.component, s.n_members,
      |       (c.id = c.component) AS is_rep
      |FROM comp c JOIN sizes s USING (component)
      |ORDER BY doc_id""".stripMargin
}
