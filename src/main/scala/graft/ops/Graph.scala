package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Checkpoints.CutOps

/** Link-graph analysis over relational edges — the web-graph quality signal
  * a corpus-curation pipeline attaches to documents (host PageRank as a
  * quality prior). The reference's warehouse has no graph operator; this is
  * the Spark-first expression of one: each PageRank iteration is a single
  * shuffled equi-join (ranks ⋈ edges on the source key) followed by a hash
  * aggregate on the destination key — the Pregel-without-Pregel form.
  *
  * Arithmetic is FIXED-POINT: ranks are BIGINT micro-units (1e6 = rank 1.0)
  * and every contribution is `rank div outdegree` in integer division, with
  * the damping step `(15 · R0 + 85 · inflow) div 100`. Two engines disagree
  * about float summation order; they cannot disagree about integer sums, so
  * the oracle hash-checks the full rank vector exactly. The cost is ≤ 1
  * micro-unit of truncation per in-edge — bounded, documented, and
  * irrelevant to ranking order at any scale.
  *
  * Scale: edges are deduplicated once (one shuffle), then each iteration
  * re-shuffles only (node, rank) pairs — the frontier stays the node set,
  * never the fact table. Degree-skewed hubs are a hash-aggregate hot key,
  * which AQE splits; dangling nodes contribute nothing by definition here
  * (the variant choice is pinned in the oracle too).
  */
object Graph {

  /** Rank unit: 1.0 == 1e6 micro-units. */
  val Unit = 1000000L

  /** One damped fixed-point iteration: r'(v) = (15·Unit + 85·Σ_{u→v}
    * (r(u) div outdeg(u))) div 100. `ranks`: (node, rank); `edges`:
    * (src, dst) with `outdeg` attached per src.
    *
    * PRECONDITION: every node of `ranks` has at least one in-edge in
    * `edges` (true by construction for the symmetric/undirected graphs
    * every caller builds — each direction of an edge is present, so the
    * src node set equals the dst node set). Under it, the inflow
    * aggregate's key set IS the node set, so the former
    * `ranks LEFT JOIN inflow` spine (which re-exchanged the node frame a
    * second time per iteration to re-attach zero-inflow nodes) is an
    * identity and is dropped — one join + one exchange per iteration,
    * and the rank frame is read once, not twice. */
  def iterate(ranks: DataFrame, edges: DataFrame): DataFrame = {
    // SHUFFLE_HASH on the rank side: the edge frame arrives already
    // hash-partitioned on src (q114 pins it, Checkpoints.pinned), so an
    // SHJ building on the node-sized rank frame re-exchanges ONLY ranks and
    // never sorts or re-shuffles the edge side — a sort-merge join would
    // sort the big side every iteration. (No broadcast: the node set of
    // a production graph outgrows the driver.)
    edges
      .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"),
        "src")
      .select(col("dst").as("node"),
        expr("rank div outdeg").as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("inflow"))
      .select(col("node"),
        expr(s"(15 * ${Unit}L + 85 * inflow) div 100").as("rank"))
  }

  /** q114_pagerank — two fixed-point PageRank iterations over the
    * undirected customer–supplier co-purchase graph (each distinct
    * (customer, supplier) pair from orders ⋈ lineitem becomes one edge in
    * each direction). Returns the supplier side of the rank vector with
    * degrees; integer arithmetic end-to-end, so the oracle replays the
    * exact ranks. */
  def q114Pagerank(spark: SparkSession, sfDir: String): DataFrame = {
    // The UNDOUBLED pair frame is cut (half the bytes of the doubled edge
    // list); the symmetric edge list re-reads it as a narrow union.
    val pairs = custSuppPairs(spark, sfDir).cutLineage()
    val nodeBound = Tables.customer(spark, sfDir).count() +
      Tables.supplier(spark, sfDir).count()
    // The pin is the DEGREED edge frame: the outdeg aggregate's
    // requirement (hashpartitioning on src) is met by the pin's
    // repartition, and the degree join's two sides are that one exchange
    // (ReuseExchange) plus the exchange-free aggregate over it, so the
    // shuffle_hash hint builds on the node-sized outdeg frame and the
    // join output keeps the pinned partitioning (r16 A/B: one fewer full
    // edge-frame exchange than join-then-repartition).
    Checkpoints.pinned(undirected(pairs), nodeBound, edges =>
      edges.join(edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        .hint("shuffle_hash"), "src")) { degreed =>
      // each node's out-degree, read from the pin without an exchange;
      // the src column of the symmetric edge list holds every node, so
      // it is also r0's node set
      val outdeg = degreed.select(col("src").as("node"), col("outdeg"))
        .distinct()
      // each iterate reads its rank frame once: two iterations deep stays
      // a bounded single-pass plan without per-round cuts
      val r0 = outdeg.select(col("node"), lit(Unit).as("rank"))
      val r2 = iterate(iterate(r0, degreed), degreed)
      r2.filter(col("node") % 2 === 1)
        .join(outdeg, "node")
        .select(concat(lit("s"), expr("(node - 1) div 2")).as("node"),
          col("outdeg").as("degree"), col("rank"))
        // the iteration joins keep Spark's size estimate (which the cut
        // frame inherits) at the product of their inputs, so
        // SinglePartitionSort leaves the sort range-partitioned, and its
        // sample would re-run both iterations whole (4.0 s vs 3.2 s
        // nosort in the r16 baseline); the cut frame is |supplier| rows
        .cutLineage()
    }.orderBy(col("node"))
  }

  /** The customer–supplier co-purchase pairs of q114, q194 and q201: each
    * distinct (customer, supplier) of orders ⋈ lineitem, uncut. Node ids
    * are LONGS, customer `2k` and supplier `2k + 1`: every round shuffles
    * and joins on the node key, and a fixed 8-byte key beats a
    * variable-length string for hashing, comparison and shuffle volume.
    * The 'c…'/'s…' labels the oracle sees are a bijection of these ids,
    * rendered once at the end. */
  def custSuppPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"))
    o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("cnode"),
        (col("l_suppkey").cast("long") * 2 + 1).as("snode"))
      .distinct()
  }

  /** Both directions of an undirected pair frame: its first two columns
    * become (src, dst), then (dst, src); further columns ride along. */
  def undirected(pairs: DataFrame): DataFrame = {
    val Seq(a, b, rest @ _*) = pairs.columns.toSeq.map(col)
    pairs.select(a.as("src") +: b.as("dst") +: rest: _*)
      .unionAll(pairs.select(b.as("src") +: a.as("dst") +: rest: _*))
  }

  /** q139_triangles — per-node triangle counts over the part co-purchase
    * graph (parts linked when they appear in the same order). Triangle
    * enumeration is the classic degree-ordered wedge join (Suri &
    * Vassilvitskii, "Counting Triangles and the Curse of the Last Reducer",
    * WWW'11): orient every edge from its lower-(degree, id) endpoint to the
    * higher, pair the out-edges of each source (out-degree after
    * orientation is O(√m), so wedges are O(m^1.5) instead of Σ deg² — the
    * hub node that would otherwise generate deg² ≈ 10¹⁰ wedges at 100 TB
    * generates ≈ m), and close each wedge with one hash join back against
    * the oriented edge list. Every triangle is produced exactly once.
    *
    * The orientation key packs (degree, node) into one BIGINT
    * (`deg·2³² + id`) so the same total order drives both the edge
    * direction and the wedge-pair dedup in both engines. Counts are
    * integers end-to-end — the oracle replays them exactly.
    */
  def q139Triangles(spark: SparkSession, sfDir: String): DataFrame =
    triangleCounts(CoPurchase.edges(spark, sfDir))
      .withColumnRenamed("node", "part")
      .orderBy(col("part"))

  /** Oriented-edge-count ceiling for the broadcast-adjacency triangle
    * closing in [[triangleCounts]]. The broadcast ships ~one long per
    * edge (the out-adjacency arrays), so 8M edges ≈ 64 MB of payload keeps
    * the driver+executor copies comfortably inside default memory; a
    * graph above it takes the wedge self-join path whose closing probe is
    * a SHUFFLE_HASH join that never materializes the adjacency on one
    * machine. */
  val TriangleBroadcastMaxEdges = 8000000L

  /** Per-node triangle counts of the undirected simple graph `e`
    * (columns `pa` < `pb`, deduplicated). Returns (node, degree, n_tri)
    * for every edge-touched node, MATERIALIZED (see the tail note in
    * [[triangleCountsPlan]]). `maxBroadcastEdges` is the closing gate;
    * 0 forces the wedge path. */
  def triangleCounts(e: DataFrame,
      maxBroadcastEdges: Long = TriangleBroadcastMaxEdges): DataFrame =
    // Materialize the node-cardinality result: callers end in a
    // determinism orderBy whose RangePartitioning SAMPLES its child
    // before sorting it — without this cut the sampling pass re-executes
    // the whole closing join (measured at the sf1 scale point: the wedge
    // path re-ran and q139's sorted form cost 3× its nosort form). The
    // frame is |nodes| rows of three longs — the cut is noise.
    triangleCountsPlan(e, maxBroadcastEdges).cutLineage()

  /** [[triangleCounts]] WITHOUT the final materialization — the full
    * declarative plan, exposed so BenchContractSpec can pin both sides
    * of the closing-strategy gate (the cut in the public method hides
    * the closing join behind a checkpoint scan). */
  def triangleCountsPlan(e: DataFrame,
      maxBroadcastEdges: Long = TriangleBroadcastMaxEdges): DataFrame = {
    // PRECONDITION: `e` arrives MATERIALIZED or cheap to re-scan (the
    // staged parquet copy behind [[CoPurchase.edges]], Soak's explicit
    // cut). This operator consumes it from three independent lineages
    // (the degree aggregate, the orientation join's probe side, and the
    // final degree-spine join), so an expensive uncut subtree would run
    // 3×; but cutting HERE would re-copy a parquet-backed frame into
    // block storage on every execution (r16 measured it as waste).
    val ec = e
    // deg is consumed from three lineages (both orientation sides + the
    // final spine join) and re-aggregates the doubled edge frame per
    // consumer; cutting it was A/B'd in r16 and measured a wash (q139
    // 3.5-3.9 s either way, q242 marginally better WITHOUT) — the cut
    // job costs what the two saved re-aggregations of a materialized
    // frame cost. Left uncut.
    val deg = ec.select(col("pa").as("node"))
      .unionAll(ec.select(col("pb").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // oriented edge list, consumed three times (both wedge sides + the
    // closing probe) — materialize once, or the wedge join re-runs the
    // whole edge build per consumer
    val o = ec
      .join(deg.select(col("node").as("pa"), col("degree").as("da")), "pa")
      .join(deg.select(col("node").as("pb"), col("degree").as("db")), "pb")
      .select(
        expr("da * 4294967296L + pa").as("ka"),
        expr("db * 4294967296L + pb").as("kb"),
        col("pa"), col("pb"))
      .select(
        when(col("ka") < col("kb"), col("pa")).otherwise(col("pb")).as("src"),
        when(col("ka") < col("kb"), col("pb")).otherwise(col("pa")).as("dst"),
        // orientation key of the DESTINATION endpoint — the wedge-path
        // tie-break (kd(v) < kd(w) ⟺ the closing edge is oriented v→w)
        greatest(col("ka"), col("kb")).as("kd"))
      .cutLineage()
    // SIZE GATE on the closing strategy. `o` is checkpointed, so the
    // count is a narrow scan of materialized blocks, not a recompute —
    // the same cheap cardinality AQE would read from shuffle stats.
    val spark = o.sparkSession
    val orientedEdges = o.count()
    // Triangle {u,v,w} (orientation order u→v, u→w, v→w) — two closing
    // strategies behind the gate, both producing each triangle once:
    //
    //  - BROADCAST ADJACENCY (m ≤ gate): found at edge (u,v) as
    //    w ∈ N⁺(u) ∩ N⁺(v). Materializing the O(m^1.5) wedge stream
    //    (35M rows at sf0.1) and joining it back was measured at 10 s;
    //    the per-edge codegen'd `array_intersect` against broadcast
    //    out-adjacency arrays never materializes wedges at all, and its
    //    intermediate is the triangle list itself (~1M rows). Out-arrays
    //    are orientation-bounded at O(√m) entries, ~m longs total.
    //    NOT checkpointed despite the two broadcast consumers:
    //    serializing the array column costs more than re-running the
    //    aggregate over the already-checkpointed narrow edge frame
    //    (measured 5.1 s → 6.2 s).
    //
    //  - WEDGE SELF-JOIN (m > gate): at 10¹⁰ edges the adjacency
    //    broadcast is ~80 GB and dies on the driver, so pair the
    //    out-edges of each source (the O(m^1.5) wedge stream, kd-ordered
    //    so each unordered pair is generated once, in closing-edge
    //    orientation) and close with a SHUFFLE_HASH probe against the
    //    oriented edge list — hash, not sort-merge: the probe side is
    //    the wedge stream and sorting it is the 10 s failure mode above.
    //    Everything is partitioned; nothing data-proportional converges
    //    on one machine.
    val tri =
      if (orientedEdges <= maxBroadcastEdges) {
        // Out-arrays SORTED at build time (n·d·log d once) so the per-edge
        // closing runs the two-pointer merge kernel instead of
        // array_intersect's per-ROW hash-set build+probe (r16: the closing
        // projection was the measured 1.85 s hot spot of the pipeline and
        // array_intersect allocates an SQLOpenHashSet per oriented edge).
        // Same intersection SET — src-grouped dst values are distinct
        // (edges dedup'd) and both consumers are order-blind.
        val adj = o.groupBy(col("src"))
          .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
        o.select(col("src").as("u"), col("dst").as("v"))
          .join(
            broadcast(adj.select(col("src").as("u"), col("nbrs").as("nu"))),
            Seq("u"))
          .join(
            broadcast(adj.select(col("src").as("v"), col("nbrs").as("nv"))),
            Seq("v"))
          .select(col("u"), col("v"),
            explode(graft.functions.SortedIntersect.sorted_long_intersect(
              col("nu"), col("nv"))).as("w"))
      } else {
        val wedges = o
          .select(col("src").as("u"), col("dst").as("v"), col("kd").as("kv"))
          .join(o.select(col("src").as("u"), col("dst").as("w"),
            col("kd").as("kw")), Seq("u"))
          .filter(col("kv") < col("kw"))
          .select(col("u"), col("v"), col("w"))
        // The closing probe's BUILD side is the full oriented edge list,
        // hashed per partition — scale the join's parallelism with the
        // edge count the gate already materialized (the q139 OOM that
        // motivated Scale.hashBuildParallelism was measured HERE, at the
        // 24M-edge sf2 point). The explicit numPartitions also stops AQE
        // from coalescing the exchanges back into oversized builds;
        // co-partitioning both sides on (v, w) with the same count means
        // the join itself adds no further exchange.
        val closingParts = Scale.hashBuildParallelism(spark, orientedEdges)
        wedges.repartition(closingParts, col("v"), col("w"))
          .join(o.select(col("src").as("v"), col("dst").as("w"))
            .repartition(closingParts, col("v"), col("w"))
            .hint("shuffle_hash"),
            Seq("v", "w"))
          .select(col("u"), col("v"), col("w"))
      }
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  val q139Sql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |      FROM items a JOIN items b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (SELECT node, count(*) AS degree FROM (
      |          SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
      |        GROUP BY node),
      |ork AS (SELECT e.pa, e.pb,
      |               da.degree * 4294967296 + e.pa AS ka,
      |               db.degree * 4294967296 + e.pb AS kb
      |        FROM e JOIN deg da ON da.node = e.pa
      |               JOIN deg db ON db.node = e.pb),
      |o AS (SELECT CASE WHEN ka < kb THEN pa ELSE pb END AS src,
      |             CASE WHEN ka < kb THEN pb ELSE pa END AS dst,
      |             greatest(ka, kb) AS kd
      |      FROM ork),
      |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |        FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.kd < e2.kd
      |        JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
      |pern AS (SELECT node, count(*) AS n_tri FROM (
      |           SELECT a AS node FROM tri
      |           UNION ALL SELECT b FROM tri
      |           UNION ALL SELECT c FROM tri)
      |         GROUP BY node)
      |SELECT d.node AS part, d.degree,
      |       coalesce(p.n_tri, 0) AS n_tri
      |FROM deg d LEFT JOIN pern p ON p.node = d.node
      |ORDER BY part""".stripMargin

  /** BFS hop bound for q252 (the "six degrees" audit depth). */
  val BfsMaxHops = 6

  /** q252_bfs_layers — breadth-first reachability layers from the hub of
    * the co-purchase graph (the max-degree part, ties to the smaller id):
    * for each hop 0..[[BfsMaxHops]], how many parts sit EXACTLY that many
    * hops away, plus an unreached bucket (hop = −1). The layer profile is
    * the small-world / connectivity read (how much of the catalog is
    * within k recommendation hops of the hub) and the frontier pattern is
    * the third iterative-graph shape in the engine — layered EXPANSION
    * with a visited set — beside value iteration (q114) and min-label
    * fixpoint (q83/q201).
    *
    * Scale: each round joins the FRONTIER (shrinking) against the edge
    * list on the frontier's key and anti-joins the visited set — shuffle
    * is frontier-sized, the edge frame is built once and reused, and the
    * round count is the fixed hop bound, with lineage cut per round
    * ([[Checkpoints]]). min_node per layer makes the output
    * order-independent beyond counts.
    *
    * The loop is its own, not [[Checkpoints.rounds]]: a round cuts two
    * frames, the frontier and the visited set. Carrying only the visited
    * set with its hops (one cut per round, the frontier read back as the
    * last hop) measured 2.90 → 3.94 s at sf0.1 over 5 fresh-JVM pairs,
    * its later hops running ~300 ms jobs where this form runs ~50 ms. */
  def q252BfsLayers(spark: SparkSession, sfDir: String): DataFrame = {
    val adj = CoPurchase.adjacency(spark, sfDir).cutLineage()
    val seed = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("src")).limit(1)
      .select(col("src").as("node")).cutLineage()
    var frontier = seed
    var visited = seed.withColumn("hop", lit(0L))
    var hop = 0L
    while (hop < BfsMaxHops) {
      hop += 1
      val next = adj
        .join(frontier.select(col("node").as("src")), Seq("src"), "left_semi")
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .cutLineage()
      visited = visited.unionAll(next.withColumn("hop", lit(hop)))
        .cutLineage()
      frontier = next
    }
    val nodes = adj.select(col("src").as("node")).distinct()
    val layers = visited.groupBy(col("hop"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
    val unreached = nodes
      .join(visited.select(col("node")), Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"))
      .select(lit(-1L).as("hop"), col("n_nodes"), col("min_node"))
      .filter(col("n_nodes") > 0)
    layers.unionAll(unreached).orderBy(col("hop"))
  }

  val q252Sql: String = {
    // unrolled frontier expansion: rK = neighbors(r(K-1)) minus visited
    // AS MATERIALIZED is load-bearing: DuckDB INLINES plain CTEs, so the
    // r/v chains re-expand their whole ancestry at every reference —
    // exponential in the hop bound (measured minutes at sf0.01, 0.2 s
    // materialized). EXCEPT (not NOT IN) keeps each round one hash anti.
    val rounds = (1 to BfsMaxHops).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT DISTINCT a.dst AS node
         |  FROM adj a JOIN r${k - 1} f ON a.src = f.node
         |  EXCEPT SELECT node FROM v${k - 1}),
         |v$k AS MATERIALIZED (SELECT node FROM v${k - 1}
         |        UNION ALL SELECT node FROM r$k)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val layerRows = (0 to BfsMaxHops).map(k =>
      s"SELECT ${k} AS hop, CAST(count(*) AS BIGINT) AS n_nodes," +
        s" min(node) AS min_node FROM r$k")
      .mkString("\n", "\nUNION ALL\n", "\n")
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |      FROM items a JOIN items b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |adj AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e
       |        UNION ALL SELECT pb, pa FROM e),
       |deg AS (SELECT src, count(*) AS deg FROM adj GROUP BY src),
       |r0 AS MATERIALIZED (SELECT src AS node FROM deg
       |       ORDER BY deg DESC, src LIMIT 1),
       |v0 AS MATERIALIZED (SELECT node FROM r0)$rounds,
       |nodes AS (SELECT DISTINCT src AS node FROM adj),
       |unodes AS (SELECT node FROM nodes
       |           EXCEPT SELECT node FROM v$BfsMaxHops),
       |un AS (
       |  SELECT -1 AS hop, CAST(count(*) AS BIGINT) AS n_nodes,
       |         min(node) AS min_node
       |  FROM unodes)
       |SELECT CAST(hop AS BIGINT) AS hop, n_nodes, min_node FROM (
       |$layerRows
       |UNION ALL
       |SELECT hop, n_nodes, min_node FROM un)
       |WHERE n_nodes > 0
       |ORDER BY hop""".stripMargin
  }

  /** q247_modularity — Newman modularity of the co-purchase graph under
    * the BRAND partition: Q = Σ_c (m_c/m − (d_c/2m)²), computed as the
    * exact-integer form Σ_c (4m·m_c − d_c²) / (4m²) — every per-community
    * numerator is a BIGINT, contributions add linearly, and a ROLLUP
    * total row (brand = '*') IS the modularity, with ONE division per
    * emitted row (q242's trick, applied to community structure). Q > 0
    * means brands cluster in co-purchase behavior beyond degree chance;
    * per-brand contributions localize which communities carry it. The
    * community-QUALITY measure that complements q83/q68's community
    * DISCOVERY and q139/q242's local structure.
    *
    * Scale: one edge build (the q139 shape), part→brand joins, then
    * brand-cardinality aggregates; the rollup runs over ~25 community
    * rows. Nothing rescales with corpus beyond the edge list itself.
    *
    * NO forced broadcasts anywhere in this query: part is
    * SF-PROPORTIONAL (TPC-H part grows linearly with the fact table —
    * at the 100 TB design point the part→brand projection is billions
    * of keys, and a `broadcast()` hint would pin it to the driver
    * regardless of size). All join strategies are left to AQE, which
    * reads the REAL post-shuffle sizes at runtime: at any SF where a
    * side fits under the threshold AQE broadcasts it (the ~25-row
    * community aggregates always qualify); past the threshold it keeps
    * a shuffled join. Plan-pinned in BenchContractSpec: zero broadcast
    * hints in the optimized plan. */
  def q247Modularity(spark: SparkSession, sfDir: String): DataFrame = {
    val e = CoPurchase.edges(spark, sfDir)
    val brand = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_brand"))
    val eb = e
      .join(brand.select(col("p_partkey").as("pa"),
        col("p_brand").as("ba")), Seq("pa"))
      .join(brand.select(col("p_partkey").as("pb"),
        col("p_brand").as("bb")), Seq("pb"))
      .cutLineage()
    val mTot = eb.agg(count(lit(1)).as("m"))
    val intra = eb.filter(col("ba") === col("bb"))
      .groupBy(col("ba").as("community")).agg(count(lit(1)).as("m_c"))
    val degC = eb
      .select(col("ba").as("community"))
      .unionAll(eb.select(col("bb").as("community")))
      .groupBy(col("community")).agg(count(lit(1)).as("d_c"))
    // edge-touched node ids scale with |part| — SF-proportional, so the
    // semi-join is unhinted (AQE broadcasts it only while it measures
    // small); the community-cardinality frames (~25 rows) likewise reach
    // the node spine through AQE's runtime-sized decision, and the 1-row
    // total joins via a nested-loop cross join whose build side is
    // statically bounded (maxRows=1)
    val nodes = brand
      .join(e.select(col("pa").as("p_partkey"))
        .unionAll(e.select(col("pb").as("p_partkey"))).distinct(),
        Seq("p_partkey"), "left_semi")
      .groupBy(col("p_brand").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val per = nodes
      .join(degC, Seq("community"), "left")
      .join(intra, Seq("community"), "left")
      .crossJoin(mTot)
      .select(col("community"), col("n_nodes"),
        coalesce(col("d_c"), lit(0L)).as("d_c"),
        coalesce(col("m_c"), lit(0L)).as("m_c"), col("m"))
      .withColumn("t_num",
        col("m") * col("m_c") * 4 - col("d_c") * col("d_c"))
    per.rollup(col("community"))
      .agg(sum(col("n_nodes")).as("n_nodes"), sum(col("d_c")).as("d_c"),
        sum(col("m_c")).as("m_c"), sum(col("t_num")).as("t_num"),
        max(col("m")).as("m"))
      .select(coalesce(col("community"), lit("*")).as("community"),
        col("n_nodes"), col("d_c"), col("m_c"),
        (col("t_num").cast("double") /
          (col("m") * col("m") * 4).cast("double")).as("q_contrib"))
      .orderBy(col("community"))
  }

  val q247Sql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |      FROM items a JOIN items b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |eb AS (
      |  SELECT e.pa, e.pb, x.p_brand AS ba, y.p_brand AS bb
      |  FROM e JOIN part x ON x.p_partkey = e.pa
      |         JOIN part y ON y.p_partkey = e.pb),
      |mt AS (SELECT CAST(count(*) AS BIGINT) AS m FROM eb),
      |intra AS (
      |  SELECT ba AS community, CAST(count(*) AS BIGINT) AS m_c
      |  FROM eb WHERE ba = bb GROUP BY 1),
      |degc AS (
      |  SELECT community, CAST(count(*) AS BIGINT) AS d_c FROM (
      |    SELECT ba AS community FROM eb
      |    UNION ALL SELECT bb FROM eb)
      |  GROUP BY 1),
      |nodes AS (
      |  SELECT p.p_brand AS community, CAST(count(*) AS BIGINT) AS n_nodes
      |  FROM part p
      |  WHERE p.p_partkey IN (SELECT pa FROM e UNION SELECT pb FROM e)
      |  GROUP BY 1),
      |per AS (
      |  SELECT n.community, n.n_nodes,
      |         coalesce(d.d_c, 0) AS d_c,
      |         coalesce(i.m_c, 0) AS m_c,
      |         mt.m,
      |         mt.m * coalesce(i.m_c, 0) * 4
      |           - coalesce(d.d_c, 0) * coalesce(d.d_c, 0) AS t_num
      |  FROM nodes n
      |  LEFT JOIN degc d ON d.community = n.community
      |  LEFT JOIN intra i ON i.community = n.community
      |  CROSS JOIN mt)
      |SELECT coalesce(community, '*') AS community,
      |       CAST(sum(n_nodes) AS BIGINT) AS n_nodes,
      |       CAST(sum(d_c) AS BIGINT) AS d_c,
      |       CAST(sum(m_c) AS BIGINT) AS m_c,
      |       CAST(sum(t_num) AS DOUBLE)
      |         / CAST(max(m) * max(m) * 4 AS DOUBLE) AS q_contrib
      |FROM per GROUP BY ROLLUP(community)
      |ORDER BY community""".stripMargin

  /** q242_clustering_spectrum — the clustering-coefficient spectrum C(k)
    * of the co-purchase graph, plus the GLOBAL transitivity in the same
    * frame: per degree bucket (nodes with ≥ 2 neighbors), the
    * wedge-weighted mean clustering coefficient Σtri / Σwedges — which
    * within a single-degree bucket equals the plain mean of 2t/(d(d−1)),
    * since every node there closes the same C(d,2) wedges — and in the
    * ROLLUP total row (degree = −1 sentinel) equals 3·Δ/Σwedges, the
    * textbook transitivity, because Σ n_tri counts each triangle three
    * times. One operator, one formula, both statistics — and no per-node
    * IEEE division is ever summed (the order-dependence trap): every
    * bucket does exact integer Σtri / Σwedges ONCE. Declining C(k) is the
    * hierarchical-structure signature; transitivity ≫ random is the
    * small-world test — the two standard reads of q139's raw counts.
    *
    * Scale: everything after [[triangleCounts]] (q139's engine — the
    * O(m^1.5)-bounded adjacency-intersection closing) is a
    * degree-cardinality ROLLUP aggregate with map-side combine. */
  def q242ClusteringSpectrum(spark: SparkSession, sfDir: String): DataFrame = {
    triangleCounts(CoPurchase.edges(spark, sfDir))
      .filter(col("degree") >= 2)
      .select(col("degree"), col("n_tri"),
        expr("degree * (degree - 1) div 2").as("wedges"))
      .rollup(col("degree"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("n_tri")).as("sum_tri"),
        sum(col("wedges")).as("sum_wedges"))
      .select(coalesce(col("degree"), lit(-1L)).as("degree"),
        col("n_nodes"), col("sum_tri"), col("sum_wedges"),
        (col("sum_tri").cast("double") / col("sum_wedges").cast("double"))
          .as("coef"))
      .orderBy(col("degree"))
  }

  val q242Sql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |      FROM items a JOIN items b
      |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (SELECT node, count(*) AS degree FROM (
      |          SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
      |        GROUP BY node),
      |ork AS (SELECT e.pa, e.pb,
      |               da.degree * 4294967296 + e.pa AS ka,
      |               db.degree * 4294967296 + e.pb AS kb
      |        FROM e JOIN deg da ON da.node = e.pa
      |               JOIN deg db ON db.node = e.pb),
      |o AS (SELECT CASE WHEN ka < kb THEN pa ELSE pb END AS src,
      |             CASE WHEN ka < kb THEN pb ELSE pa END AS dst,
      |             greatest(ka, kb) AS kd
      |      FROM ork),
      |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |        FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.kd < e2.kd
      |        JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
      |pern AS (SELECT node, count(*) AS n_tri FROM (
      |           SELECT a AS node FROM tri
      |           UNION ALL SELECT b FROM tri
      |           UNION ALL SELECT c FROM tri)
      |         GROUP BY node),
      |base AS (
      |  SELECT d.degree, coalesce(p.n_tri, 0) AS n_tri,
      |         d.degree * (d.degree - 1) // 2 AS wedges
      |  FROM deg d LEFT JOIN pern p ON p.node = d.node
      |  WHERE d.degree >= 2)
      |SELECT coalesce(degree, -1) AS degree,
      |       CAST(count(*) AS BIGINT) AS n_nodes,
      |       CAST(sum(n_tri) AS BIGINT) AS sum_tri,
      |       CAST(sum(wedges) AS BIGINT) AS sum_wedges,
      |       CAST(sum(n_tri) AS DOUBLE) / CAST(sum(wedges) AS DOUBLE)
      |         AS coef
      |FROM base GROUP BY ROLLUP(degree)
      |ORDER BY degree""".stripMargin

  /** q140_link_predict — common-neighbor link prediction over the
    * repeat-co-purchase graph (part pairs bought together in ≥ 2 distinct
    * orders — the support filter is what makes open-neighborhood
    * enumeration tractable: Σ C(deg,2) on the support-filtered graph is
    * thousands of wedges where the raw graph's would be millions). For
    * every non-adjacent pair with ≥ 1 common neighbor: the common-neighbor
    * count, both degrees, and the neighborhood Jaccard
    * |N(a)∩N(b)| / |N(a)∪N(b)| — integer counts and ONE IEEE division, so
    * the oracle replays it bit-exactly.
    */
  def q140LinkPredict(spark: SparkSession, sfDir: String): DataFrame = {
    val sup = CoPurchase.pairs(spark, sfDir)
      .filter(col("n_shared") >= 2)
      .select(col("pa"), col("pb"))
    commonNeighborPairs(sup)
      .orderBy(desc("common"), col("a"), col("b"))
  }

  /** Common-neighbor statistics for every NON-adjacent pair of the sparse
    * undirected graph `sup` (columns `pa` < `pb`): count, both degrees,
    * neighborhood Jaccard. */
  def commonNeighborPairs(supRaw: DataFrame): DataFrame = {
    val sup = supRaw
      .cutLineage() // adjacency + degrees + the anti-join all read it
    val adj = sup.select(col("pa").as("node"), col("pb").as("nbr"))
      .unionAll(sup.select(col("pb").as("node"), col("pa").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val common = adj.select(col("node"), col("nbr").as("a"))
      .join(adj.select(col("node"), col("nbr").as("b")), Seq("node"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    common
      .join(sup, common("a") === sup("pa") && common("b") === sup("pb"),
        "left_anti")
      .join(deg.select(col("node").as("a"), col("degree").as("deg_a")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("deg_b")), "b")
      .select(col("a"), col("b"), col("common"), col("deg_a"), col("deg_b"),
        (col("common").cast("double") /
          (col("deg_a") + col("deg_b") - col("common")).cast("double"))
          .as("jaccard"))
      .orderBy(desc("common"), col("a"), col("b"))
  }

  val q140Sql: String =
    """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |sup AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
      |        FROM items a JOIN items b
      |          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |        GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS (SELECT pa AS node, pb AS nbr FROM sup
      |        UNION ALL SELECT pb, pa FROM sup),
      |deg AS (SELECT node, count(*) AS degree FROM adj GROUP BY node),
      |common AS (SELECT x.nbr AS a, y.nbr AS b, count(*) AS common
      |           FROM adj x JOIN adj y
      |             ON x.node = y.node AND x.nbr < y.nbr
      |           GROUP BY 1, 2),
      |nonedge AS (SELECT c.* FROM common c
      |            ANTI JOIN sup s ON c.a = s.pa AND c.b = s.pb)
      |SELECT n.a, n.b, n.common, da.degree AS deg_a, db.degree AS deg_b,
      |       CAST(n.common AS DOUBLE) /
      |         CAST(da.degree + db.degree - n.common AS DOUBLE) AS jaccard
      |FROM nonedge n
      |JOIN deg da ON da.node = n.a
      |JOIN deg db ON db.node = n.b
      |ORDER BY common DESC, a, b""".stripMargin

  val q114Sql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT 'c' || o_custkey AS cnode, 's' || l_suppkey AS snode
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (
      |  SELECT cnode AS src, snode AS dst FROM pairs
      |  UNION ALL
      |  SELECT snode AS src, cnode AS dst FROM pairs),
      |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
      |nodes AS (SELECT DISTINCT src AS node FROM edges),
      |r0 AS (SELECT node, 1000000::BIGINT AS rank FROM nodes),
      |r1 AS (
      |  SELECT n.node,
      |         CAST((15 * 1000000 + 85 * coalesce(i.inflow, 0)) // 100
      |              AS BIGINT) AS rank
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS node, sum(r.rank // d.outdeg) AS inflow
      |    FROM edges e
      |    JOIN r0 r ON r.node = e.src
      |    JOIN outdeg d ON d.src = e.src
      |    GROUP BY e.dst) i ON i.node = n.node),
      |r2 AS (
      |  SELECT n.node,
      |         CAST((15 * 1000000 + 85 * coalesce(i.inflow, 0)) // 100
      |              AS BIGINT) AS rank
      |  FROM nodes n LEFT JOIN (
      |    SELECT e.dst AS node, sum(r.rank // d.outdeg) AS inflow
      |    FROM edges e
      |    JOIN r1 r ON r.node = e.src
      |    JOIN outdeg d ON d.src = e.src
      |    GROUP BY e.dst) i ON i.node = n.node)
      |SELECT r2.node, d.outdeg AS degree, r2.rank
      |FROM r2 JOIN outdeg d ON d.src = r2.node
      |WHERE r2.node LIKE 's%'
      |ORDER BY r2.node""".stripMargin

  /** q194_degree_dist — degree distribution of the customer–supplier
    * co-purchase graph (q114's edge set) with a power-law tail check:
    * the histogram (nodes per degree) plus the log-log OLS slope — the
    * network-science QA that tells you whether a scraped link graph has
    * the heavy tail real graphs do (slope ≈ −2..−3) or is suspiciously
    * uniform (synthetic/spam). Log terms are log2 OF INTEGERS rounded
    * once to DECIMAL(18,6) (the q143 discipline); the OLS closed form is
    * exact decimal algebra with ONE IEEE division at the end, repeated
    * per row (the q183 window pattern).
    *
    * Scale: degrees are one hash aggregate over the edge list; the
    * histogram is a second, degree-cardinality aggregate; the regression
    * runs over the tiny histogram frame. */
  def q194DegreeDist(spark: SparkSession, sfDir: String): DataFrame = {
    // degrees are blind to the node ids' representation, so the long ids
    // of [[custSuppPairs]] give the oracle's string-id histogram
    val hist = undirected(custSuppPairs(spark, sfDir)).groupBy(col("src"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .select(col("degree"), col("n_nodes"),
        log2(col("degree").cast("double")).cast("decimal(18,6)").as("x"),
        log2(col("n_nodes").cast("double")).cast("decimal(18,6)").as("y"))
      .cutLineage() // degree-cardinality; feeds moments + output
    // moments stay exact decimals through the SUM, then convert once to
    // double (same nearest-double both engines) BEFORE the closed form:
    // decimal×decimal here overflows precision 38 and Spark's
    // allowPrecisionLoss rounding diverges from DuckDB's
    val m = hist.agg(count(lit(1)).cast("double").as("k"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"),
      sum(col("x") * col("x")).cast("double").as("sxx"))
    hist.crossJoin(broadcast(m))
      .select(col("degree"), col("n_nodes"),
        ((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")))
          .as("loglog_slope"))
      .orderBy(col("degree"))
  }

  val q194Sql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT 'c' || o.o_custkey AS cnode,
      |                  's' || l.l_suppkey AS snode
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |edges AS (
      |  SELECT cnode AS src FROM pairs
      |  UNION ALL
      |  SELECT snode AS src FROM pairs),
      |hist AS (
      |  SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes,
      |         CAST(log2(CAST(degree AS DOUBLE)) AS DECIMAL(18,6)) AS x,
      |         CAST(log2(CAST(count(*) AS DOUBLE)) AS DECIMAL(18,6)) AS y
      |  FROM (SELECT src, CAST(count(*) AS BIGINT) AS degree
      |        FROM edges GROUP BY src)
      |  GROUP BY degree),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS k,
      |         CAST(sum(x) AS DOUBLE) AS sx,
      |         CAST(sum(y) AS DOUBLE) AS sy,
      |         CAST(sum(x * y) AS DOUBLE) AS sxy,
      |         CAST(sum(x * x) AS DOUBLE) AS sxx
      |  FROM hist)
      |SELECT degree, n_nodes,
      |       (k * sxy - sx * sy) / (k * sxx - sx * sx) AS loglog_slope
      |FROM hist CROSS JOIN m ORDER BY degree""".stripMargin

  /** q201 unrolled peel rounds: the fixture fixpoints in 3; 6 leaves
    * slack, and the `converged` column REPORTS whether the last two
    * rounds agreed instead of silently truncating the peel. The core
    * order k is NOT a constant — it is the 75th-percentile degree of
    * the graph at hand (rank ⌈3n/4⌉ under the (degree, node) total
    * order), so the operator peels to a meaningful backbone at every
    * scale instead of carrying a fixture-tuned threshold. */
  val KCoreRounds = 6

  /** q201_kcore — k-core decomposition of the co-purchase graph by
    * iterative peeling: repeatedly drop nodes whose degree WITHIN the
    * surviving subgraph is < k. The density backbone extractor (community
    * cores, spam-farm detection, visualization skeletons). The loop is
    * data-independent (fixed [[KCoreRounds]] rounds, each a semi-join +
    * degree filter), so the oracle replays it as generated, unrolled
    * CTEs — all-integer, hash-exact, with convergence surfaced in-row.
    *
    * Scale: each round is one hash aggregate over the surviving edge
    * list (map-side combine) plus two semi-joins; the frontier only
    * shrinks. Per-round cuts bound the 6-round lineage. The loop is not
    * [[Checkpoints.untilStable]]: a round cuts twice (the survivors, then
    * the shrunk edge frame), probes between the two cuts, and skips the
    * converged round's rebuild. */
  def q201Kcore(spark: SparkSession, sfDir: String): DataFrame = {
    // Degrees — and therefore k, the survivors, and convergence — are
    // blind to the node ids' representation ([[custSuppPairs]]).
    val edges = undirected(custSuppPairs(spark, sfDir)).cutLineage()
    // k = p75 of the degree distribution: a one-row statistics read, the
    // same driver-side parameter derivation a cost-based planner makes
    // before picking a strategy (and the same exception to the
    // no-collect rule as the loop-control counts below). The rank is
    // the distributed partition-offset pass ([[Scale.globalRank]]) over
    // the node-cardinality degree frame — SF-proportional, so the
    // single-partition Window.orderBy + partitionBy-less count() pair
    // this replaces would serialize it at 100×; n arrives by a separate
    // driver-side count (loop-control class, like the rounds below).
    // Tie-break note: the oracle orders its degree rank by (d, src-string)
    // while this side orders by (d, src-long). Safe: a tie-break permutes
    // rows only WITHIN an equal-d run, and the value selected at position
    // ⌈3n/4⌉ is d itself, so every within-run order yields the same k.
    val degs = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .cutLineage()
    val nDegs = degs.count()
    val kVal = Scale.globalRank(degs, Seq(col("d"), col("src")))
      .filter(col("rank_idx") === lit((3L * nDegs + 3L) / 4L - 1L))
      .select(col("d")).head().getLong(0)
    // Each round shrinks the EDGE frame too (not just the node set), so
    // later rounds join ever-smaller inputs; and peeling is idempotent at
    // the fixpoint, so once the survivor count stops changing the
    // remaining unrolled rounds are identities and can be skipped — the
    // unrolled oracle computes the same set either way. The count() per
    // round is a driver-side LOOP-CONTROL read of a checkpointed
    // node-cardinality frame (the iterative-algorithm exception to the
    // no-collect rule — same as any Pregel-style convergence check).
    var cur = edges
    // |distinct src of the full edge list| IS |degs| — the loop seed used
    // to re-shuffle the edge frame for a distinct+count the kVal
    // derivation had already produced (r16; guide §2.4).
    var nPrev = nDegs
    var converged = false
    var round = 0
    while (round < KCoreRounds && !converged) {
      val alive = cur
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= kVal)
        .select(col("node"))
        .cutLineage()
      val n = alive.count()
      converged = n == nPrev
      nPrev = n
      round += 1
      // peeling is monotone (alive ⊆ previous alive), so an equal count
      // means the SAME set and the rebuild below is an identity — skip
      // the converged round's edge-frame double-join + checkpoint (r16).
      if (!converged) {
        cur = cur
          .join(alive.withColumnRenamed("node", "src"), "src")
          .join(alive.withColumnRenamed("node", "dst"), "dst")
          .cutLineage()
      }
    }
    cur.groupBy(col("src").as("nid"))
      .agg(count(lit(1)).as("core_degree"))
      .select(when(col("nid") % 2 === 0,
          concat(lit("c"), expr("nid div 2")))
          .otherwise(concat(lit("s"), expr("(nid - 1) div 2"))).as("node"),
        col("core_degree"))
      .crossJoin(broadcast(cur.sparkSession.range(1)
        .select(lit(kVal).as("k"), lit(converged).as("converged"))))
      .orderBy(col("node"))
  }

  /** Generated, unrolled oracle: round i's survivors as CTE a{i}, with
    * the same p75-degree threshold computed in a `kth` CTE. Every CTE is
    * MATERIALIZED: each round reads the previous one twice, and DuckDB
    * inlining the chain re-derives it exponentially (past 12 GB at sf0.1). */
  val q201Sql: String = {
    val peels = (1 to KCoreRounds).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT e.src AS node FROM edges e
         |  JOIN a${i - 1} s ON e.src = s.node
         |  JOIN a${i - 1} d ON e.dst = d.node
         |  GROUP BY e.src
         |  HAVING count(*) >= (SELECT k FROM kth))""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT 'c' || o.o_custkey AS cnode,
       |                  's' || l.l_suppkey AS snode
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |edges AS MATERIALIZED (
       |  SELECT cnode AS src, snode AS dst FROM pairs
       |  UNION ALL
       |  SELECT snode AS src, cnode AS dst FROM pairs),
       |kth AS MATERIALIZED (
       |  SELECT d AS k FROM (
       |    SELECT d, row_number() OVER (ORDER BY d, src) AS rn,
       |           count(*) OVER () AS n
       |    FROM (SELECT src, CAST(count(*) AS BIGINT) AS d
       |          FROM edges GROUP BY src))
       |  WHERE rn = (3 * n + 3) // 4),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |$peels,
       |conv AS MATERIALIZED (
       |  SELECT (SELECT count(*) FROM a${KCoreRounds - 1})
       |       = (SELECT count(*) FROM a$KCoreRounds) AS converged)
       |SELECT e.src AS node, CAST(count(*) AS BIGINT) AS core_degree,
       |       kth.k, conv.converged
       |FROM edges e
       |JOIN a$KCoreRounds s ON e.src = s.node
       |JOIN a$KCoreRounds d ON e.dst = d.node
       |CROSS JOIN kth CROSS JOIN conv
       |GROUP BY e.src, kth.k, conv.converged
       |ORDER BY e.src""".stripMargin
  }

  // ------------------------------------------------------------- HITS

  /** q255 quantization unit (2²⁰), iteration depth, and report size. */
  val HitsQ: Long = 1L << 20
  val HitsRounds = 2
  val HitsTopK = 10

  /** q255_hits — HITS hubs-and-authorities over the directed bipartite
    * purchase graph (customer → part, distinct edges from orders ⋈
    * lineitem): customers are hubs (they point), parts are authorities
    * (they are pointed at). [[HitsRounds]] mutual-reinforcement rounds —
    * auth(p) = Σ_{c→p} hub(c), hub(c) = Σ_{c→p} auth(p) — then the top
    * [[HitsTopK]] of each side by final score. Complements q114's
    * PageRank (endogenous importance on the undirected graph) with the
    * hub/authority decomposition the directed view supports.
    *
    * Determinism: Kleinberg normalizes with an L2 norm each round, which
    * needs sqrt and float sums — both engine-divergent. This uses the
    * equivalent MAX normalization instead: scores are BIGINT, each round
    * rescales by `score · 2²⁰ div max(score)` in integer division, and
    * ranking order under max-scaling equals L2-scaling order (both are
    * positive per-round scalar multiples of the same raw vector, modulo
    * the ≤ 1-unit floor truncation the 2²⁰ headroom makes rank-inert).
    * Integer sums, integer max, integer div — the oracle replays every
    * score exactly. Round 1's hub input is uniform 2²⁰, so auth₁
    * collapses to indeg · 2²⁰ — computed that way, skipping a join.
    *
    * Scale: each half-round is one (node, score)-against-edges equi-join
    * plus a map-side-combinable sum keyed by node — shuffle is edge-
    * cardinality ids+longs, never the fact table; the 1-row max
    * broadcasts; the deduplicated edge frame is checkpointed once and
    * reused by all 2·[[HitsRounds]] half-rounds. Headroom: score·2²⁰
    * caps at maxdeg·2⁴⁰, overflowing BIGINT past ~2²³ (≈8M) distinct
    * neighbors on one node; past that, drop to 2¹⁰ quantization (the
    * q204 discipline). Top-k is the q94 single-reduction form at k·2
    * rows. */
  def q255Hits(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
    val edges = o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select(col("o_custkey").cast("long").as("cust"),
        col("l_partkey").cast("long").as("part"))
      .distinct()
      .cutLineage()
    val indeg = edges.groupBy(col("part")).agg(count(lit(1)).as("indeg"))
    val outdeg = edges.groupBy(col("cust")).agg(count(lit(1)).as("outdeg"))
    // score · 2²⁰ div max — the integer max-normalization shared by both
    // halves; the 1-row max rides in on a broadcast. It reads the raw sum
    // frame twice (max agg + main), so the rounds cut the RAW sums:
    // uncut, each round's recompute doubles through the nested lineage —
    // 2^(2·rounds) replays of the first join. Node-sized frames.
    def rescale(scores: DataFrame, key: String): DataFrame =
      scores.crossJoin(broadcast(scores.agg(max(col("s")).as("mx"))))
        .select(col(key), expr(s"s * ${HitsQ}L div mx").as("s"))
    // half-round i sums the other side's rescaled scores: odd i the hubs
    // (from the authorities), even i the authorities (from the hubs)
    def half(raw: DataFrame, i: Int): DataFrame = {
      val (from, to) = if (i % 2 == 1) ("part", "cust") else ("cust", "part")
      edges.join(rescale(raw, from).withColumnRenamed("s", "x"), Seq(from))
        .groupBy(col(to)).agg(sum(col("x")).as("s"))
    }
    val auth0 = indeg.select(col("part"), (col("indeg") * HitsQ).as("s"))
      .cutLineage()
    val hubRaw = Checkpoints.rounds(auth0, 2 * HitsRounds - 1)(half)
    val auth = rescale(half(hubRaw, 2 * HitsRounds).cutLineage(), "part")
    val hub = rescale(hubRaw, "cust")
    // limit-after-sort lowers to TakeOrderedAndProject (one reduction, no
    // global shuffle); the rank window then orders HitsTopK rows only
    def top(scores: DataFrame, key: String, deg: DataFrame,
        side: String): DataFrame =
      scores.join(deg, Seq(key))
        .orderBy(col("s").desc, col(key)).limit(HitsTopK)
        .select(lit(side).as("side"),
          row_number().over(
            Window.orderBy(col("s").desc, col(key))).as("rnk"),
          col(key).as("node"), col("s").as("score"),
          col(deg.columns(1)).as("degree"))
    top(auth, "part", indeg, "authority")
      .unionAll(top(hub, "cust", outdeg, "hub"))
      .orderBy(col("side"), col("rnk"))
  }

  val q255Sql: String = {
    val q = HitsQ
    // unrolled half-rounds; aK/hK are raw sums, aKq/hKq max-rescaled
    val rounds = (1 to HitsRounds).map { k =>
      s"""h$k AS (SELECT cust, CAST(sum(aq) AS BIGINT) AS s
         |  FROM edges JOIN a${k - 1}q USING (part) GROUP BY cust),
         |h${k}q AS MATERIALIZED (
         |  SELECT cust, s * $q // (SELECT max(s) FROM h$k) AS hq FROM h$k),
         |a$k AS (SELECT part, CAST(sum(hq) AS BIGINT) AS s
         |  FROM edges JOIN h${k}q USING (cust) GROUP BY part),
         |a${k}q AS MATERIALIZED (
         |  SELECT part, s * $q // (SELECT max(s) FROM a$k) AS aq FROM a$k)"""
        .stripMargin
    }.mkString(",\n", ",\n", "")
    val last = HitsRounds
    s"""WITH edges AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |indeg AS (SELECT part, CAST(count(*) AS BIGINT) AS indeg
       |          FROM edges GROUP BY part),
       |outdeg AS (SELECT cust, CAST(count(*) AS BIGINT) AS outdeg
       |           FROM edges GROUP BY cust),
       |a0 AS (SELECT part, indeg * $q AS s FROM indeg),
       |a0q AS MATERIALIZED (
       |  SELECT part, s * $q // (SELECT max(s) FROM a0) AS aq FROM a0)$rounds,
       |ranked AS (
       |  SELECT 'authority' AS side,
       |         row_number() OVER (ORDER BY aq DESC, part) AS rnk,
       |         part AS node, aq AS score, indeg AS degree
       |  FROM a${last}q JOIN indeg USING (part)
       |  UNION ALL
       |  SELECT 'hub' AS side,
       |         row_number() OVER (ORDER BY hq DESC, cust) AS rnk,
       |         cust AS node, hq AS score, outdeg AS degree
       |  FROM h${last}q JOIN outdeg USING (cust))
       |SELECT side, CAST(rnk AS INT) AS rnk, node, score, degree
       |FROM ranked WHERE rnk <= $HitsTopK
       |ORDER BY side, rnk""".stripMargin
  }

  // ------------------------------------------------- label propagation

  /** q256 synchronous rounds. */
  val LpaRounds = 3

  /** q256_label_prop — synchronous label-propagation community detection
    * (Raghavan et al. 2007) over the undirected part co-purchase graph
    * (q252's adjacency): every node starts labeled with its own id, and
    * each round simultaneously adopts the label MOST FREQUENT among its
    * neighbors. After [[LpaRounds]] rounds, communities are reported as
    * (label, n_nodes, min_node). Complements q247 (modularity SCORES a
    * given partition) and q83 (components find connectivity, not
    * density): LPA DISCOVERS the dense groups.
    *
    * Classic LPA breaks ties randomly and is therefore unreproducible;
    * this variant pins the argmax totally — highest neighbor-label count,
    * then SMALLEST label — by packing (count, label) into one BIGINT,
    * `n · 2³¹ + (2³¹ − 1 − label)`, and taking max_by. The pack is
    * injective for label < 2³¹ (labels are always node ids, so one guard
    * covers every round) — out-of-range ids raise in BOTH engines rather
    * than silently aliasing the argmax (the q213 discipline). Integer
    * counts and integer packing: the oracle replays every round exactly.
    *
    * Scale: each round shuffles (dst, label) pairs — edge cardinality
    * with map-side combine on the pair key — then one node-cardinality
    * argmax; the adjacency is pinned once and reused, lineage is cut per
    * round ([[Checkpoints.pinned]], [[Checkpoints.rounds]]). Round count
    * is fixed, not convergence-polled: no driver-side fixpoint probe on
    * the hot path (q83's component solver shows the convergence-checked
    * form). Label skew (a community's label is every member's message)
    * is a hash-aggregate hot key, which AQE splits. */
  def q256LabelProp(spark: SparkSession, sfDir: String): DataFrame = {
    val pack = when(col("label").between(0L, 2147483647L),
      col("n") * lit(2147483648L) + (lit(2147483647L) - col("label")))
      .otherwise(raise_error(
        lit("q256 packed-argmax bound: label outside [0, 2^31)")))
    val labels = Checkpoints.pinned(CoPurchase.adjacency(spark, sfDir),
        Tables.part(spark, sfDir).count()) { adj =>
      val seed = adj.select(col("src").as("node"))
        .distinct().withColumn("label", col("node"))
      Checkpoints.rounds(seed, LpaRounds) { (labels, _) =>
        adj
          // SHUFFLE_HASH building on the node-sized label frame: the
          // pinned adjacency side is neither re-exchanged nor sorted
          .join(labels.select(col("node").as("src"), col("label"))
            .hint("shuffle_hash"), Seq("src"))
          .groupBy(col("dst"), col("label"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("dst"))
          .agg(max_by(col("label"), pack).as("label"))
          .select(col("dst").as("node"), col("label"))
      }
    }
    labels.groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
      .orderBy(col("label"))
  }

  val q256Sql: String = {
    val rounds = (1 to LpaRounds).map { k =>
      s"""m$k AS (
         |  SELECT a.dst, l.label, CAST(count(*) AS BIGINT) AS n
         |  FROM adj a JOIN l${k - 1} l ON a.src = l.node
         |  GROUP BY 1, 2),
         |l$k AS MATERIALIZED (
         |  SELECT dst AS node,
         |         max_by(label, CASE
         |           WHEN label BETWEEN 0 AND 2147483647
         |           THEN n * 2147483648 + (2147483647 - label)
         |           ELSE error('q256 packed-argmax bound') END) AS label
         |  FROM m$k GROUP BY dst)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
       |      FROM items a JOIN items b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       |adj AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e
       |        UNION ALL SELECT pb, pa FROM e),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS label FROM adj)$rounds
       |SELECT label, CAST(count(*) AS BIGINT) AS n_nodes,
       |       min(node) AS min_node
       |FROM l$LpaRounds
       |GROUP BY label
       |ORDER BY label""".stripMargin
  }

  // ------------------------------------------------------------- SSSP

  /** q257 relaxation rounds and report size. */
  val SsspRounds = 6
  val SsspTopK = 15

  /** q257_sssp — single-source shortest paths by [[SsspRounds]] rounds of
    * Bellman-Ford relaxation over the WEIGHTED part co-purchase graph:
    * edge weight `100 div n_shared + 1` (more shared baskets → shorter
    * hop), integer throughout, so relaxation is exact-min arithmetic with
    * nothing for the engines to disagree on. Source = the max-degree hub
    * (q252's seed). Returns the [[SsspTopK]] closest nodes by
    * (distance, node) plus the reached-node count on every row. Distinct
    * from q252's BFS — hop count ignores weights; this is the
    * cost-weighted metric a curation pipeline uses for graph-proximity
    * features.
    *
    * Semantics pin: K-round Bellman-Ford yields exact shortest distances
    * among paths of ≤ K edges — the bound both engines unroll
    * identically, converged or not (the spec checks convergence on the
    * fixture; production raises K or loops to fixpoint like q83).
    *
    * Scale: each round is one (frontier ⋈ edges) equi-join producing
    * edge-cardinality (node, candidate) pairs, then a map-side-
    * combinable min keyed by node — the same Pregel-without-Pregel shape
    * as q114, lineage cut per round. The weighted adjacency reads the
    * staged pairs and is pinned ([[Checkpoints.pinned]]); the 1-row
    * reached-count broadcasts; top-k lowers to TakeOrderedAndProject. */
  def q257Sssp(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weighted = CoPurchase.pairs(spark, sfDir)
      .select(col("pa"), col("pb"), expr("100 div n_shared + 1").as("w"))
    val dist = Checkpoints.pinned(undirected(weighted),
        Tables.part(spark, sfDir).count()) { adj =>
      val seed = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .orderBy(col("deg").desc, col("src")).limit(1)
        .select(col("src").as("node"), lit(0L).as("d"))
        .cutLineage()
      Checkpoints.rounds(seed, SsspRounds) { (dist, _) =>
        val relaxed = adj
          // build on the node-sized frontier; the pinned adjacency is
          // neither re-exchanged nor sorted
          .join(dist.select(col("node").as("src"), col("d"))
            .hint("shuffle_hash"), Seq("src"))
          .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
        dist.unionAll(relaxed)
          .groupBy(col("node")).agg(min(col("d")).as("d"))
      }
    }
    val reached = dist.agg(count(lit(1)).as("n_reached"))
    dist.orderBy(col("d"), col("node")).limit(SsspTopK)
      .select(
        row_number().over(Window.orderBy(col("d"), col("node"))).as("rnk"),
        col("node"), col("d").as("dist"))
      .crossJoin(broadcast(reached))
      .orderBy(col("rnk"))
  }

  val q257Sql: String = {
    val rounds = (1 to SsspRounds).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT node, min(d) AS d FROM (
         |    SELECT node, d FROM d${k - 1}
         |    UNION ALL
         |    SELECT a.dst AS node, f.d + a.w AS d
         |    FROM adj a JOIN d${k - 1} f ON a.src = f.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pairs AS (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
       |         CAST(count(*) AS BIGINT) AS n_shared
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2),
       |adj AS MATERIALIZED (
       |  SELECT pa AS src, pb AS dst, 100 // n_shared + 1 AS w FROM pairs
       |  UNION ALL
       |  SELECT pb, pa, 100 // n_shared + 1 FROM pairs),
       |d0 AS MATERIALIZED (
       |  SELECT src AS node, CAST(0 AS BIGINT) AS d
       |  FROM (SELECT src, count(*) AS deg FROM adj GROUP BY src
       |        ORDER BY deg DESC, src LIMIT 1))$rounds,
       |reached AS (SELECT CAST(count(*) AS BIGINT) AS n_reached
       |            FROM d$SsspRounds)
       |SELECT CAST(row_number() OVER (ORDER BY d, node) AS INT) AS rnk,
       |       node, CAST(d AS BIGINT) AS dist, n_reached
       |FROM d$SsspRounds CROSS JOIN reached
       |ORDER BY d, node LIMIT $SsspTopK""".stripMargin
  }
}
