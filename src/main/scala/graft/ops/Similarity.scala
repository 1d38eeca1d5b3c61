package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` fixture + as-of join — north-star
  * tier X (BASELINE.json).
  *
  * Scale design:
  *  - The cosine kernel is pure higher-order-function arithmetic
  *    (zip_with + aggregate) — codegen'd, no UDF, map-side only.
  *  - Brute-force scoring broadcasts the (tiny) query set against the corpus:
  *    linear scan, embarrassingly parallel — the right baseline at any scale.
  *  - The ANN variant buckets vectors by signed random hyperplanes (LSH):
  *    candidates shuffle on the bucket key only, so the per-query work drops
  *    from O(N) to O(N / 2^bits) expected — the scale path when N is 10^9+.
  *  - The as-of join avoids the classic per-row subquery (quadratic) by a
  *    single union + partitioned window scan: one shuffle on the key,
  *    last-non-null carry-forward — the standard scalable as-of shape.
  */
object Similarity {

  /** Cosine similarity between two float-array columns, computed in double —
    * the native codegen'd Catalyst expression
    * ([[graft.functions.CosineSimilarity]]). Folds in array order, so results
    * are deterministic on any partitioning and bit-identical to
    * [[cosineHof]] and the DuckDB oracle. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vector_cosine(a, b)

  /** The same kernel composed from built-in higher-order functions — kept as
    * the reference implementation the native expression is cross-checked
    * against (and the form SURVEY.md §4 ships first: compose built-ins,
    * measure, then specialize). */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    def dot(u: Column, v: Column) =
      aggregate(zip_with(u, v, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    def norm(u: Column) =
      sqrt(aggregate(transform(u, x => x * x), lit(0.0), (acc, x) => acc + x))
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** q50_similarity — the exact cosine kernel, oracle-checked: similarity of
    * vectors 1..200 to query vector 0, rounded to 4 dp (both engines sum the
    * 64 components in array order; rounding absorbs any last-ulp drift). */
  def q50Similarity(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_embedding"))
    e.filter(col("vec_id") >= 1 && col("vec_id") <= 200)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("q_embedding")), 4).as("cos_sim"))
      .orderBy(col("vec_id"))
  }

  val q50Sql: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |p AS (
      |  SELECT e.vec_id, e.label,
      |         unnest(e.embedding)::DOUBLE AS x,
      |         unnest(q.qe)::DOUBLE AS y
      |  FROM embeddings e, q
      |  WHERE e.vec_id BETWEEN 1 AND 200)
      |SELECT vec_id, label,
      |       round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4)
      |         AS cos_sim
      |FROM p GROUP BY vec_id, label ORDER BY vec_id""".stripMargin

  /** q73_embedding_neardup — embedding-cosine near-dup scoring over a bounded
    * candidate band (vec_id within 5), the same band-expansion trick as the
    * range join: the band explodes into equi-join keys, never a nested loop. */
  def q73EmbeddingNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val left = e.select(col("vec_id").as("v1"), col("embedding").as("emb1"),
      explode(sequence(col("vec_id") + 1, col("vec_id") + 5)).as("v2"))
    val right = e.select(col("vec_id").as("v2"), col("embedding").as("emb2"))
    left.join(right, Seq("v2"))
      .select(col("v1"), col("v2"),
        round(cosine(col("emb1"), col("emb2")), 4).as("cos_sim"))
      .orderBy(col("v1"), col("v2"))
  }

  val q73Sql: String =
    """WITH p AS (
      |  SELECT e1.vec_id AS v1, e2.vec_id AS v2,
      |         unnest(e1.embedding)::DOUBLE AS x,
      |         unnest(e2.embedding)::DOUBLE AS y
      |  FROM embeddings e1 JOIN embeddings e2
      |    ON e2.vec_id BETWEEN e1.vec_id + 1 AND e1.vec_id + 5)
      |SELECT v1, v2,
      |       round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4)
      |         AS cos_sim
      |FROM p GROUP BY v1, v2 ORDER BY v1, v2""".stripMargin

  /** q68_semantic_groups — semantic deduplication end-to-end: the banded
    * cosine pairs (q73's candidate generation) thresholded into an edge
    * list, closed transitively by [[Components.connectedComponents]], and
    * labeled with group size and a min-id representative — "keep one of
    * each meaning" where q83 is "keep one of each wording". The composition
    * is the point: pairwise similarity, graph closure, and group labeling
    * are the same three stages at 100 TB, each already scale-shaped
    * (banded candidate join, hybrid union-find/hash-min closure, map-side
    * combined aggregates). The DuckDB oracle recomputes the identical
    * fixpoint with a recursive CTE over the same thresholded pairs —
    * thresholding happens on the ROUNDED cosine both engines agree on
    * bit-for-bit, so no boundary flicker. */
  def q68SemanticGroups(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val edges = q73EmbeddingNeardup(spark, sfDir)
      .filter(col("cos_sim") >= 0.3)
      .select(col("v1").as("src"), col("v2").as("dst"))
    val comp = Components.connectedComponents(
      e.select(col("vec_id").as("id")), edges)
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
    comp.join(sizes, Seq("component"))
      .select(col("id").as("vec_id"), col("component").as("group_id"),
        col("n_members"), (col("id") === col("component")).as("is_rep"))
      .orderBy(col("vec_id"))
  }

  val q68Sql: String =
    """WITH RECURSIVE p AS (
      |  SELECT e1.vec_id AS v1, e2.vec_id AS v2,
      |         unnest(e1.embedding)::DOUBLE AS x,
      |         unnest(e2.embedding)::DOUBLE AS y
      |  FROM embeddings e1 JOIN embeddings e2
      |    ON e2.vec_id BETWEEN e1.vec_id + 1 AND e1.vec_id + 5),
      |sim AS (
      |  SELECT v1, v2,
      |         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4)
      |           AS cos_sim
      |  FROM p GROUP BY v1, v2),
      |edges AS (
      |  SELECT v1 AS src, v2 AS dst FROM sim WHERE cos_sim >= 0.3
      |  UNION ALL
      |  SELECT v2, v1 FROM sim WHERE cos_sim >= 0.3),
      |walk(id, label) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT e.src, w.label FROM walk w JOIN edges e ON e.dst = w.id),
      |comp AS (SELECT id, min(label) AS group_id FROM walk GROUP BY 1),
      |sizes AS (SELECT group_id, count(*) AS n_members FROM comp GROUP BY 1)
      |SELECT c.id AS vec_id, c.group_id, s.n_members,
      |       (c.id = c.group_id) AS is_rep
      |FROM comp c JOIN sizes s USING (group_id)
      |ORDER BY vec_id""".stripMargin

  /** Multi-table random-hyperplane LSH (seeded — signatures are stable across
    * runs and partitionings). OR-amplification across `NumTables` tables
    * trades candidate-set size for recall: a true neighbor is found if ANY
    * table buckets it with the query. Few bits/table + several tables suits
    * the near-orthogonal fixture vectors; a clustered production corpus at
    * 10^9+ vectors would raise BitsPerTable to shrink buckets. */
  private val NumTables = 8
  private val BitsPerTable = 2
  private val Dim = 64

  /** Seeded Gaussian hyperplanes for `numTables` tables × `bits` planes each
    * — stable across runs/partitionings for a given geometry. */
  private[ops] def makePlanes(numTables: Int,
      bits: Int): Array[Array[Array[Double]]] =
    Array.tabulate(numTables) { t =>
      val rng = new scala.util.Random(7 + t)
      Array.fill(bits, Dim)(rng.nextGaussian())
    }

  /** The fixed q74 geometry (8 tables × 2 bits — fixture-sized; the
    * production path [[lshNearDups]] derives its own from corpus size). */
  private[ops] val planes: Array[Array[Array[Double]]] =
    makePlanes(NumTables, BitsPerTable)

  /** LSH bucket id of an embedding in table `t`: sign bits of the dot
    * products with that table's fixed hyperplanes. */
  private[ops] def lshBucket(emb: Column, pl: Array[Array[Array[Double]]],
      t: Int): Column =
    pl(t).indices.map { j =>
      val plane = array(pl(t)(j).map(lit): _*)
      val d = aggregate(zip_with(transform(emb, x => x.cast("double")), plane,
        (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
      when(d >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** All (table, bucket) assignments of an embedding, as an array column. */
  private def lshAssignments(emb: Column,
      pl: Array[Array[Array[Double]]]): Column =
    array(pl.indices.map { t =>
      struct(lit(t).as("tbl"), lshBucket(emb, pl, t).as("bkt"))
    }: _*)

  /** (vec_id, embedding, tbl, bkt) — one row per LSH table assignment. */
  private def withLshBuckets(e: DataFrame,
      pl: Array[Array[Array[Double]]] = planes): DataFrame =
    e.select(col("vec_id"), col("embedding"),
        explode(lshAssignments(col("embedding"), pl)).as("a"))
      .select(col("vec_id"), col("embedding"),
        col("a.tbl").as("tbl"), col("a.bkt").as("bkt"))

  /** q74_ann_topk — approximate nearest neighbors: bucket the corpus in each
    * LSH table, union same-bucket candidates across tables (distinct), then
    * brute-force cosine only on that candidate set; top-5 per query. The
    * shuffle key is (table, bucket) — per-query work is O(candidates), not
    * O(corpus). Fully oracle-checked via [[q74Sql]] (generated SQL with the
    * seeded plane constants inlined as literals); approximation quality is
    * additionally covered by the ScalaTest recall test against the
    * brute-force baseline. */
  def q74AnnTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = withLshBuckets(Tables.embeddings(spark, sfDir))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("tbl"), col("bkt"))
    val cands = e.select(col("vec_id").as("cand_id"),
      col("embedding"), col("tbl"), col("bkt"))
    // Score BEFORE deduplicating pair collisions across tables: the kernel
    // is cheap, the 64-float embedding arrays are not — dropping them here
    // means the dedup + window shuffles move only (id, id, double) rows.
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("cand_id"))
    queries.join(cands, Seq("tbl", "bkt"))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("q_emb"), col("embedding")), 4).as("cos_sim"))
      .dropDuplicates("query_id", "cand_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Generated oracle SQL for q74: the LSH planes are fixed seeded doubles,
    * so they embed as literals (shortest round-trip repr — DuckDB parses
    * back the identical double). Both engines left-fold the dot product in
    * array order (Spark's `aggregate` is a strict left fold; the SQL sum is
    * an explicit left-associative term chain), so the sign bits — and hence
    * the bucket assignments — are bit-identical. */
  val q74Sql: String = {
    def dlit(d: Double): String = s"(${java.lang.Double.toString(d)})"
    def bktExpr(t: Int): String =
      (0 until BitsPerTable).map { j =>
        val dot = planes(t)(j).zipWithIndex
          .map { case (p, i) => s"embedding[${i + 1}]*${dlit(p)}" }
          .mkString(" + ")
        s"(CASE WHEN ($dot) >= 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
    val bktCols = (0 until NumTables)
      .map(t => s"${bktExpr(t)} AS bkt_$t").mkString(",\n         ")
    val unpivot = (0 until NumTables)
      .map(t => s"SELECT vec_id, $t AS tbl, bkt_$t AS bkt FROM b")
      .mkString("\n  UNION ALL ")
    s"""WITH b AS (
       |  SELECT vec_id,
       |         $bktCols
       |  FROM embeddings),
       |a AS (
       |  $unpivot),
       |pr AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
       |  FROM a q JOIN a c ON q.tbl = c.tbl AND q.bkt = c.bkt
       |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
       |p AS (
       |  SELECT pr.query_id, pr.cand_id,
       |         unnest(e1.embedding)::DOUBLE AS x,
       |         unnest(e2.embedding)::DOUBLE AS y
       |  FROM pr JOIN embeddings e1 ON e1.vec_id = pr.query_id
       |          JOIN embeddings e2 ON e2.vec_id = pr.cand_id),
       |s AS (
       |  SELECT query_id, cand_id,
       |         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4)
       |           AS cos_sim
       |  FROM p GROUP BY query_id, cand_id),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cos_sim DESC, cand_id) AS rank
       |  FROM s)
       |SELECT query_id, cand_id, cos_sim, rank FROM r
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** q75_brute_topk — the exact brute-force cosine top-k baseline the ANN
    * variant (q74) approximates: every query vector scored against the whole
    * corpus (broadcast query set → embarrassingly parallel linear scan), top
    * 5 by rounded score with a total tie-break. Fully oracle-checked — this
    * is the ground truth the ScalaTest recall measurement also uses. */
  def q75BruteTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("cand_id"))
    e.select(col("vec_id").as("cand_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("q_emb"), col("embedding")), 4).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The q75 brute-force oracle body with the query slice a parameter
    * (ADVICE r14: q280Sql was built by string-replacing the slice out
    * of q275Sql — textually fragile; both oracles now interpolate the
    * SAME predicate constant instead). `q75Sql` is this builder at the
    * historical registered slice, byte-for-byte the committed text. */
  private def bruteTopkSqlFor(slicePred: String): String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qe
      |  FROM embeddings WHERE $slicePred),
      |p AS (
      |  SELECT q.query_id, e.vec_id AS cand_id,
      |         unnest(e.embedding)::DOUBLE AS x,
      |         unnest(q.qe)::DOUBLE AS y
      |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
      |s AS (
      |  SELECT query_id, cand_id,
      |         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4)
      |           AS cos_sim
      |  FROM p GROUP BY query_id, cand_id),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |            ORDER BY cos_sim DESC, cand_id) AS rank
      |  FROM s)
      |SELECT query_id, cand_id, cos_sim, rank FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The historical registered query slice (q75/q275/q76: the first
    * five vectors). */
  private val Q75SliceSql = "vec_id < 5"

  val q75Sql: String = bruteTopkSqlFor(Q75SliceSql)

  /** q152_ann_recall — the index-quality audit a production vector store
    * runs before trusting its ANN path: recall@5 of the multi-table LSH
    * retrieval (q74) against the exact brute-force ground truth (q75),
    * per query. Everything upstream is already oracle-checked; this
    * closes the loop by making the APPROXIMATION ERROR itself an exact,
    * hash-checked quantity (hit counts are integers, recall is one IEEE
    * division). Queries with zero ANN hits still report (recall 0) —
    * silent misses are the failure mode the audit exists to catch. */
  def q152AnnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val ann = q74AnnTopk(spark, sfDir).select(col("query_id"), col("cand_id"))
    val brute = q75BruteTopk(spark, sfDir)
      .select(col("query_id"), col("cand_id"))
    val hits = brute.join(ann, Seq("query_id", "cand_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    brute.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0).as("recall"))
      .orderBy(col("query_id"))
  }

  /** Composed oracle: both sub-oracles inlined as subqueries (DuckDB
    * allows WITH inside FROM), joined on the retrieved pair. */
  val q152Sql: String =
    s"""WITH brute AS (SELECT query_id, cand_id FROM ($q75Sql)),
       |ann AS (SELECT query_id, cand_id FROM ($q74Sql)),
       |hits AS (
       |  SELECT b.query_id, count(*) AS n_hits
       |  FROM brute b SEMI JOIN ann a
       |    ON a.query_id = b.query_id AND a.cand_id = b.cand_id
       |  GROUP BY b.query_id)
       |SELECT q.query_id,
       |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5.0 AS recall
       |FROM (SELECT DISTINCT query_id FROM brute) q
       |LEFT JOIN hits h ON h.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin

  /** Target expected bucket population the default LSH geometry aims for:
    * candidate-join work is O(Σ bucket²) per table, so holding bucket size
    * roughly constant keeps candidate growth near-LINEAR in corpus size
    * (Soak's `lsh_neardup_scaling` probe asserts this). */
  private val TargetBucketSize = 250L

  /** bits ≈ log₂(N / target bucket size), clamped to [2, 24]. */
  private[graft] def bitsForCorpus(n: Long): Int =
    math.max(2, math.min(24,
      math.ceil(math.log((math.max(n, 1L).toDouble / TargetBucketSize))
        / math.log(2.0)).toInt))

  /** q76_ivf_topk — IVF-style ANN, the coarse-quantizer alternative to
    * q74's LSH: vectors are assigned to their nearest centroid (inverted
    * lists), queries probe only the top-`nprobe` closest lists and
    * brute-force within them. Fully oracle-checked (the argmax is over
    * 4-dp-rounded cosines with an id tie-break — engine-independent).
    *
    * Centroids here are a fixed slice of the corpus (vec_id < 8) so the
    * oracle can reproduce them; production would seed k-means|| for a few
    * rounds — the assignment/probe plan shapes are identical. Scale shape:
    * assignment is one broadcast pass + a narrow (vec_id, cent_id, cs)
    * hash-aggregate argmax (embeddings never shuffle); the probe join
    * touches only `nprobe/k` of the corpus per query. */
  def q76IvfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    ivfTopk(e, resolveNprobe(e, e.count()))
  }

  /** (vec_id, cent_id, cs) — every vector's rounded cosine to every
    * coarse centroid. The k = 8 historical form broadcasts the
    * CONSTANT centroid frame (census-waived in AuditSweepSpec); a
    * corpus-scaled k is a √n-row frame with unbounded growth, so it
    * takes the explode + equi-join form instead — no cross join, no
    * forced broadcast, AQE sizes the seed side at runtime (the r9
    * de-hint rule). Semantics are identical: exploded ids with no
    * matching seed produce no rows, exactly as the cross join scores
    * only the seeds present. */
  private[graft] def centSims(e: DataFrame, k: Long): DataFrame = {
    val cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
    val joined =
      if (k <= 8L) e.crossJoin(broadcast(cents))
      else e.select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0L), lit(k - 1L))).as("cent_id"))
        .join(cents, Seq("cent_id"))
    joined.select(col("vec_id"), col("cent_id"),
      round(cosine(col("embedding"), col("cent_emb")), 4).as("cs"))
  }

  /** PAIR-count floor (corpus rows × centroids) below which
    * [[ivfAssign]] keeps the single-pass long-encoded argmax over the
    * full n·k cosine frame and above which it takes the angular
    * Elkan-pruned exact form ([[ivfAssignPruned]], VERDICT r14 #1 —
    * the scaled-k dial resolve was the last heavy un-pruned kernel:
    * one corpus×k cosine assignment, O(n^1.5·d), 69.6 s at 320k). The
    * [[graft.ops.Centroids.PrunedAssignPairGate]] discipline: gate on
    * the WORK unit (pairs), measured crossover (SCALE_POINT_r15 §A,
    * same-session min-of-2, organic corpora — the no-locality worst
    * case for the bound): flat 2.12 s vs pruned 1.86 s at 2.84M pairs
    * (sf1, k = 142), flat 16.49 vs 2.57 at 22.6M (sf4, k = 283,
    * 6.4×), flat 108.2 vs 7.38 at 181M (sf16, k = 566, 14.7×). The
    * pruned form wins at every measured multi-million-pair point even
    * with ≤ 8% of pairs pruned, because the flat k > 8 shape pays a
    * sort-merge join of n·k array-carrying rows while the pruned
    * pipeline keeps every pair inside broadcast-join fold stages —
    * the gate's job is only to keep FIXTURE-scale jobs (≤ 90k pairs,
    * two orders below it) on their committed single-pass plan, where
    * the pruned pipeline's extra stages are pure task-scheduling
    * overhead. */
  private[graft] val IvfPrunedPairGate = 2000000L

  /** Angular Elkan-pruned EXACT IVF coarse assignment (VERDICT r14
    * #1) — bit-identical output to the flat long-encoded argmax over
    * [[centSims]] (the committed rounded-cosine semantics, smallest
    * cent_id winning ties), with proven-safe candidate skips instead
    * of the full n·k cosine expansion: the [[PrunedAssign]] core at its
    * rounded-cosine metric (the unit-sphere bound, plan shape and their
    * measurements are on its Scaladoc). Survivors' cosines are computed
    * by the SAME round(cosine, 4) expression the flat path folds, so
    * computed values are identical doubles. Returns (vec_id, cent_id). */
  private[graft] def ivfAssignPruned(e: DataFrame, k: Long,
      probeParallelism: Option[Int] = None): DataFrame = {
    val pf = PrunedAssign.frames(e, k, PrunedAssign.RoundedCosine,
      probeParallelism = probeParallelism)
    val stride = centStride(k)
    // the flat path's long-encoded argmax priority, per side, then a
    // per-vector combine — the union'd global aggregate would
    // repartition the in-cell ∪ survivor row set, while the two side
    // aggregates ride the probe's existing vec_id partitioning
    def pr(df: DataFrame): DataFrame = df
      .groupBy(col("vec_id"))
      .agg(max(round(col("score") * 10000).cast("long") * stride +
        (lit(stride - 1) - col("fcid"))).as("m"))
    val sv = pr(pf.survivors).select(col("vec_id"), col("m").as("sm"))
    // full outer: a vector with every out-of-cell pair pruned has no
    // survivor row (the common case on clustered mass); defensively,
    // a vector with no in-cell row combines from the survivor side
    pr(pf.incell).join(sv, Seq("vec_id"), "full_outer")
      .select(col("vec_id"),
        (lit(stride - 1) - pmod(greatest(col("m"), col("sm")),
          lit(stride))).as("cent_id"))
  }

  /** The IVF coarse assignment — (vec_id, cent_id) = argmax of the
    * 4-dp rounded cosine over the k centroids, smallest id winning
    * ties — with the scale path gated on the measured WORK unit: the
    * flat single-pass argmax over the shared n·k cosine frame below
    * [[IvfPrunedPairGate]] pairs (every oracle fixture and every
    * fixed-8 resolve — the committed plans), the angular Elkan-pruned
    * exact form above it. `nHint` is the caller's corpus count; a
    * caller without one (the registered fixed-k queries) passes −1
    * and keeps the flat path unconditionally. */
  private[graft] def ivfAssign(e: DataFrame, acs: DataFrame, k: Long,
      nHint: Long = -1L,
      prunedPairGate: Long = IvfPrunedPairGate): DataFrame = {
    val stride = centStride(k)
    // k ≤ 8 (the historical quantizer) keeps the flat form at ANY n:
    // its centSims is a broadcast cross-join — one in-stage pass, no
    // shuffle, none of the k > 8 sort-merge-join shape the pruned
    // pipeline exists to beat — and at 8 lists a kc = 3 coarse pass
    // visits 3 + 8/3 centers per vector, a wash with no headroom.
    if (k > 8L && nHint >= 0L && nHint * k > prunedPairGate)
      ivfAssignPruned(e, k,
        probeParallelism = Some(Centroids.prunedParallelism(
          e.sparkSession, nHint, k)))
    else acs
      .groupBy(col("vec_id"))
      .agg(max(round(col("cs") * 10000).cast("long") * stride +
        (lit(stride - 1) - col("cent_id"))).as("m"))
      .select(col("vec_id"),
        (lit(stride - 1) - pmod(col("m"), lit(stride))).as("cent_id"))
  }

  /** The IVF retrieval core over any (vec_id, embedding) frame at an
    * explicit `nprobe` — see [[q76IvfTopk]]. `k` sizes the coarse
    * quantizer (centroids = the first k vectors): 8 is the historical
    * q76 dial; q281 passes the corpus-scaled k = ⌈√n⌉ (VERDICT r13 #2 —
    * a fixed k leaves the inverted lists growing O(n/8) and the dial
    * saturating at a full scan; at k = √n the per-query scan fraction
    * is ~nprobe/√n). For k = 8 the derived stride reproduces the
    * historical 16/15 constants, so q76's plan and rows are unchanged
    * bit-for-bit. `nHint` routes the assignment's pair gate
    * ([[ivfAssign]]). */
  private[graft] def ivfTopk(e: DataFrame, nprobe: Long,
      k: Long = 8L, nHint: Long = -1L): DataFrame = {
    // centroid similarities, narrow rows only (score drops the arrays)
    val acs = centSims(e, k)
    // argmax as a plain LONG max — a struct max is not hash-aggregable
    // (primitive-buffer limitation) and falls back to SortAggregate with
    // two extra sorts; encoding the priority as one long keeps the argmax
    // in HashAggregate with map-side partial combine and whole-stage
    // codegen (asserted in PlanSpec). priority = round(cs·10⁴)·S +
    // (S−1 − cent_id) with S the next power of two ABOVE k: cs is
    // already 4-dp rounded so the ×S stride separates adjacent score
    // levels, and the (S−1 − cent_id) term makes the SMALLEST cent_id
    // win ties. No overflow at any realistic k: |cs4| ≤ 10⁴, so
    // |m| ≤ 10⁴·S + S — inside Int64 up to S = 2⁴⁸. Above the pair
    // gate the argmax takes the angular Elkan-pruned form instead
    // (bit-identical — [[ivfAssignPruned]]).
    val assigned = ivfAssign(e, acs, k, nHint)
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(desc("cs"), col("cent_id"))
    val probes = acs.filter(col("vec_id") < 5)
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cent_id"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("cand_id"))
    probes
      .join(assigned.select(col("vec_id").as("cand_id"), col("cent_id")),
        Seq("cent_id"))
      .filter(col("cand_id") =!= col("query_id"))
      .join(e.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb")), Seq("query_id"))
      .join(e.select(col("vec_id").as("cand_id"),
        col("embedding").as("c_emb")), Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("q_emb"), col("c_emb")), 4).as("cos_sim"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
  }

  val q76Sql: String =
    """WITH cents AS (
      |  SELECT vec_id AS cent_id, embedding AS cent_emb
      |  FROM embeddings WHERE vec_id < 8),
      |ap AS (
      |  SELECT e.vec_id, c.cent_id,
      |         unnest(e.embedding)::DOUBLE AS x,
      |         unnest(c.cent_emb)::DOUBLE AS y
      |  FROM embeddings e, cents c),
      |acs AS (
      |  SELECT vec_id, cent_id,
      |         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4) AS cs
      |  FROM ap GROUP BY vec_id, cent_id),
      |assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id
      |           ORDER BY cs DESC, cent_id) AS rk
      |    FROM acs) WHERE rk = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cent_id FROM (
      |    SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id
      |           ORDER BY cs DESC, cent_id) AS rk
      |    FROM acs WHERE vec_id < 5) WHERE rk <= 2),
      |cands AS (
      |  SELECT p.query_id, a.vec_id AS cand_id
      |  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
      |  WHERE a.vec_id <> p.query_id),
      |sp AS (
      |  SELECT cd.query_id, cd.cand_id,
      |         unnest(qe.embedding)::DOUBLE AS x,
      |         unnest(ce.embedding)::DOUBLE AS y
      |  FROM cands cd JOIN embeddings qe ON qe.vec_id = cd.query_id
      |                JOIN embeddings ce ON ce.vec_id = cd.cand_id),
      |s AS (
      |  SELECT query_id, cand_id,
      |         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4)
      |           AS cos_sim
      |  FROM sp GROUP BY query_id, cand_id),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |            ORDER BY cos_sim DESC, cand_id) AS rank
      |  FROM s)
      |SELECT query_id, cand_id, cos_sim, rank FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The tie-break stride of the long-encoded centroid argmax: the
    * next power of two STRICTLY above k (16 for the historical k = 8 —
    * the committed q76 constants). */
  private[graft] def centStride(k: Long): Long =
    java.lang.Long.highestOneBit(math.max(k, 1L)) * 2L

  /** The nprobe dial values q275 sweeps — powers of two up to k = 8
    * lists, so the last point probes EVERY list and its recall is
    * exactly 1.0 by construction (same rounded score + id tie-break as
    * the q75 ground truth) — the endpoint that anchors the curve. */
  private val IvfSweepProbes = Seq(1L, 2L, 4L, 8L)

  /** The dial values for a k-list quantizer: powers of two below k,
    * then k itself — the exact-endpoint anchor at any k (for k = 8
    * this is [[IvfSweepProbes]] verbatim). */
  private[graft] def sweepProbesFor(k: Long): Seq[Long] =
    Iterator.iterate(1L)(_ * 2L).takeWhile(_ < k).toSeq :+ k

  /** q76's dial point when [[resolveNprobe]] does not probe — the
    * historical registered value, so every oracle fixture (all below
    * [[IvfAutoProbeGate]]) is unchanged by construction. */
  private[graft] val IvfDefaultNprobe = 2L

  /** Corpus-count floor below which [[resolveNprobe]] keeps the default
    * dial point unconditionally — the [[graft.ops.Centroids]]
    * HierAutoProbeGate rationale: below it the whole retrieval is a few
    * task budgets and the dial probe costs more than any nprobe
    * mis-set; every oracle fixture sits under it. */
  private[graft] val IvfAutoProbeGate = 10000L

  /** Target sampled recall@5 for [[resolveNprobe]] as an exact integer
    * ratio (hits·den ≥ possible·num — the gate-threshold discipline):
    * 9/10. At 5 probe queries × 5 truths = 25 possible hits, clearing
    * it means ≤ 2 missed ground-truth neighbors across the sample. */
  private[graft] val IvfTargetRecallNum = 9L
  private[graft] val IvfTargetRecallDen = 10L

  /** Dial-probe executions this JVM — the memo spec's counter. */
  private[graft] val nprobeRuns =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Auto-select the IVF nprobe from the q275 dial (VERDICT r12 #4 —
    * the dial existed but nothing consumed it, the same gap the
    * hier-assignment gate had before resolveAssignGate): above
    * `autoProbeGate`, run [[ivfSweepDial]]'s fixed probe-query sample
    * once per corpus snapshot and pick the MINIMAL dial point whose
    * sampled recall clears [[IvfTargetRecallNum]]/Den — on a corpus
    * with real locality the nearest list already holds the true
    * neighbors (nprobe 1); on an isotropic corpus neighbors scatter
    * across lists and the resolver walks the dial up to the exact
    * endpoint (nprobe = k, recall 1.0 by construction, so a clearing
    * point always exists). Below the gate, [[IvfDefaultNprobe]] — every
    * oracle fixture, so q76's rows are unchanged by construction.
    *
    * Cost/scale: the probe is the dial itself — one corpus assignment
    * pass (O(n·k_cents·d), the index build the retrieval needs anyway)
    * plus |queries|-bounded list joins and a 5-query brute-force ground
    * truth (O(n·d) per query, linear) — memoized per corpus snapshot
    * exactly like the assignment gate, so a session (and a pipeline
    * run) pays it once, not once per retrieval. */
  private[graft] def resolveNprobe(e: DataFrame, n: Long,
      autoProbeGate: Long = IvfAutoProbeGate,
      k: Long = 8L): Long = {
    if (n <= autoProbeGate) IvfDefaultNprobe
    else {
      val (pick, hit) = Centroids.gateDecision("nprobe", Seq(e), n, k) {
        nprobeRuns.incrementAndGet()
        // per dial point: total sampled hits vs total possible (5 per
        // probe query with a full dial guaranteed to reach recall 1.0).
        // The probe queries are a NON-CENTROID slice — this matters: a
        // query that IS a centroid lands in its own list with cosine
        // 1.0 and its true neighbors (the vectors most similar to that
        // centroid) overwhelmingly assign there too, so centroid
        // queries read ~1.0 sampled recall on ANY corpus geometry
        // (measured: 25/25 at nprobe=1 even on isotropic noise) and
        // the dial would always pick 1. The registered q275 keeps the
        // historical centroid-coincident slice — it reports the dial
        // for q76's own fixed queries; the RESOLVER needs an unbiased
        // estimate of what a fresh query would see.
        val dial = resolverDial(e, k, nHint = n)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        val pick = dial
          .find { case (_, hits, possible) =>
            hits * IvfTargetRecallDen >= possible * IvfTargetRecallNum }
          .map(_._1).getOrElse(sweepProbesFor(k).max)
        // ADVICE r13: a corpus whose id space misses the probe-query
        // slice entirely yields an EMPTY dial — the pick above is then
        // the conservative endpoint with zero evidence behind it, and
        // that must be its own loud log line, not a normal-looking
        // dial readout.
        if (dial.isEmpty)
          println(s"[ivf-auto] n=$n: no probe queries in the dial " +
            s"slice — conservative endpoint nprobe=$pick (no recall " +
            "evidence; seed a query slice from ids present in this " +
            "corpus to measure)")
        else println(s"[ivf-auto] n=$n: dial " +
          dial.map { case (p, h, t) => s"$p->$h/$t" }.mkString(", ") +
          s" vs target $IvfTargetRecallNum/$IvfTargetRecallDen -> " +
          s"nprobe=$pick")
        pick
      }
      if (hit) println(s"[ivf-auto] n=$n: memoized -> nprobe=$pick")
      pick
    }
  }

  /** q275_ivf_sweep — the IVF recall-vs-cost DIAL CURVE: for each
    * nprobe in [[IvfSweepProbes]], retrieve top-5 per query through the
    * q76 inverted-list machinery and score recall@5 against the q75
    * exact ground truth, alongside the candidate count actually scanned
    * (the cost axis). This is THE operational artifact of an IVF
    * deployment: nprobe is the single production knob trading scan
    * fraction (~nprobe/k of the corpus per query) for recall, and the
    * committed curve — not a guess — is how it gets set. q76 runs the
    * index at one dial point; q152 audits one retrieval; this measures
    * the whole dial.
    *
    * Scale shape: the centroid-similarity frame and list assignment are
    * q76's (one broadcast pass over the corpus, narrow argmax rows —
    * embeddings never shuffle for the assignment); the sweep multiplies
    * only the PROBE side (|queries|·Σnprobe rows) before the list join,
    * so corpus-side work stays one assignment regardless of how many
    * dial points are swept. Candidates per (nprobe, query) are bounded
    * by the probed lists' population — the monotone cost column the
    * curve reports. Recall is exact and hash-checked: integer hit
    * counts against the 4-dp-rounded, id-tie-broken ground truth, one
    * IEEE division at the end (the q152 device, swept). */
  def q275IvfSweep(spark: SparkSession, sfDir: String): DataFrame =
    ivfSweepDial(Tables.embeddings(spark, sfDir))

  /** The recall-vs-cost dial core over any (vec_id, embedding) frame —
    * see [[q275IvfSweep]]. The exact ground truth is computed from the
    * SAME frame (the q75 brute-force body), so the dial is
    * self-contained: [[resolveNprobe]] runs it on whatever corpus it is
    * gating, not just the registered table. `queryPred` selects the
    * probe-query vectors — q275's registered (oracle-pinned) form keeps
    * the historical vec_id < 5; the resolver passes a NON-CENTROID
    * slice (see its doc for why that bias matters). */
  private[graft] def ivfSweepDial(e: DataFrame,
      queryPred: Column = col("vec_id") < 5,
      k: Long = 8L, nHint: Long = -1L): DataFrame = {
    val sweep = sweepProbesFor(k)
    val acs = centSims(e, k)
    // q76's long-encoded argmax (HashAggregate-able, codegen'd) below
    // the pair gate; the angular Elkan-pruned exact form above it
    val assigned = ivfAssign(e, acs, k, nHint)
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(desc("cs"), col("cent_id"))
    // rank all k lists once per query; each dial point reuses the rank
    val probes = acs.filter(queryPred)
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= sweep.max)
      .withColumn("nprobe", explode(array(sweep.map(lit): _*)))
      .filter(col("rk") <= col("nprobe"))
      .select(col("nprobe"), col("vec_id").as("query_id"), col("cent_id"))
    val cands = probes
      .join(assigned.select(col("vec_id").as("cand_id"), col("cent_id")),
        Seq("cent_id"))
      .filter(col("cand_id") =!= col("query_id"))
    // MEASURED-REJECTION NOTE (recompute audit: this 6-op subtree feeds
    // both `top` and `nCands`): a localCheckpoint here was A/B'd in r12
    // and rejected — sf0.1 1.24→1.40 s, sf1 1.55→1.72, sf2 1.83→1.85
    // (timed min-of-2). ReuseExchange already shares the assignment
    // aggregate and list-join exchanges; the duplicate is a narrow
    // post-shuffle tail, and the cut's eager job costs more than the
    // recompute at every measured point.
    val wTop = Window.partitionBy(col("nprobe"), col("query_id"))
      .orderBy(desc("cos_sim"), col("cand_id"))
    val top = cands
      .join(e.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb")), Seq("query_id"))
      .join(e.select(col("vec_id").as("cand_id"),
        col("embedding").as("c_emb")), Seq("cand_id"))
      .select(col("nprobe"), col("query_id"), col("cand_id"),
        round(cosine(col("q_emb"), col("c_emb")), 4).as("cos_sim"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 5)
    val nCands = cands.groupBy(col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("n_cands"))
    // ground truth from the SAME frame — the q75 brute-force body (for
    // the registered table this is plan-identical to q75BruteTopk)
    val q = e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val wTruth = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos_sim"), col("cand_id"))
    val truth = e.select(col("vec_id").as("cand_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("q_emb"), col("embedding")), 4).as("cos_sim"))
      .withColumn("rank", row_number().over(wTruth))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("cand_id"))
    val hits = top.select(col("nprobe"), col("query_id"), col("cand_id"))
      .join(truth, Seq("query_id", "cand_id"), "left_semi")
      .groupBy(col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("n_hits"))
    nCands
      .join(hits, Seq("nprobe", "query_id"), "left")
      .select(col("nprobe"), col("query_id"), col("n_cands"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / 5.0)
          .as("recall"))
      .orderBy(col("nprobe"), col("query_id"))
  }

  /** Composed oracle: the q76 index CTEs, swept over the dial values,
    * scored against the inlined q75 ground truth — the query slice a
    * parameter shared with [[bruteTopkSqlFor]] (ADVICE r14), so the
    * registered q275 (historical slice) and q280's dial (resolver
    * slice) are the same text modulo one interpolated predicate. */
  private def sweepSqlFor(slicePred: String): String =
    s"""WITH cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_emb
       |  FROM embeddings WHERE vec_id < 8),
       |ap AS (
       |  SELECT e.vec_id, c.cent_id,
       |         unnest(e.embedding)::DOUBLE AS x,
       |         unnest(c.cent_emb)::DOUBLE AS y
       |  FROM embeddings e, cents c),
       |acs AS (
       |  SELECT vec_id, cent_id,
       |         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4) AS cs
       |  FROM ap GROUP BY vec_id, cent_id),
       |assigned AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY cs DESC, cent_id) AS rk
       |    FROM acs) WHERE rk = 1),
       |pranks AS (
       |  SELECT vec_id AS query_id, cent_id, rk FROM (
       |    SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY cs DESC, cent_id) AS rk
       |    FROM acs WHERE $slicePred)
       |  WHERE rk <= ${IvfSweepProbes.max}),
       |probes AS (
       |  SELECT n.nprobe, p.query_id, p.cent_id
       |  FROM pranks p CROSS JOIN
       |       (SELECT unnest([${IvfSweepProbes.map(p => s"CAST($p AS BIGINT)").mkString(", ")}])
       |          AS nprobe) n
       |  WHERE p.rk <= n.nprobe),
       |cands AS (
       |  SELECT p.nprobe, p.query_id, a.vec_id AS cand_id
       |  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
       |  WHERE a.vec_id <> p.query_id),
       |sp AS (
       |  SELECT cd.nprobe, cd.query_id, cd.cand_id,
       |         unnest(qe.embedding)::DOUBLE AS x,
       |         unnest(ce.embedding)::DOUBLE AS y
       |  FROM cands cd JOIN embeddings qe ON qe.vec_id = cd.query_id
       |                JOIN embeddings ce ON ce.vec_id = cd.cand_id),
       |s AS (
       |  SELECT nprobe, query_id, cand_id,
       |         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4)
       |           AS cos_sim
       |  FROM sp GROUP BY nprobe, query_id, cand_id),
       |top AS (
       |  SELECT nprobe, query_id, cand_id FROM (
       |    SELECT nprobe, query_id, cand_id,
       |           row_number() OVER (PARTITION BY nprobe, query_id
       |             ORDER BY cos_sim DESC, cand_id) AS rank
       |    FROM s) WHERE rank <= 5),
       |truth AS (SELECT query_id, cand_id FROM (${bruteTopkSqlFor(slicePred)})),
       |hits AS (
       |  SELECT t.nprobe, t.query_id, count(*) AS n_hits
       |  FROM top t SEMI JOIN truth b
       |    ON b.query_id = t.query_id AND b.cand_id = t.cand_id
       |  GROUP BY t.nprobe, t.query_id),
       |nc AS (
       |  SELECT nprobe, query_id, CAST(count(*) AS BIGINT) AS n_cands
       |  FROM cands GROUP BY nprobe, query_id)
       |SELECT nc.nprobe, nc.query_id, nc.n_cands,
       |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5.0 AS recall
       |FROM nc LEFT JOIN hits h
       |  ON h.nprobe = nc.nprobe AND h.query_id = nc.query_id
       |ORDER BY nc.nprobe, nc.query_id""".stripMargin

  val q275Sql: String = sweepSqlFor(Q75SliceSql)

  /** The resolver's decision slice, PARAMETERIZED by the quantizer size
    * (ADVICE r14): vec_id ∈ [k, k+5) — five NON-CENTROID probe queries
    * (ids ≥ the k centroids; see [[resolveNprobe]]'s doc for why
    * centroid-coincident queries bias the dial to ~1.0 recall on any
    * geometry). The r14 form was the fixed [8, 13), which is this
    * predicate at the historical k = 8 — but at a scaled k = ⌈√n⌉ > 13
    * every one of those five ids IS a centroid of its own inverted
    * list, silently reintroducing the exact bias the non-centroid
    * slice exists to remove, so the slice now moves with k. */
  private[graft] def resolverQueryPred(k: Long): Column =
    col("vec_id") >= k && col("vec_id") < k + 5L

  /** [[resolverQueryPred]] at the historical k = 8, as DuckDB text for
    * the q280 oracle. */
  private[graft] val ResolverSliceSql = "vec_id >= 8 AND vec_id < 13"

  /** The per-nprobe aggregate [[resolveNprobe]] ACTUALLY decides on —
    * (nprobe, n_hits, n_possible, clears) over the non-centroid dial
    * slice, where `clears` is the exact-integer target test
    * (hits·den ≥ possible·num). q280 registers this frame verbatim, so
    * the DuckDB hash gate pins the resolver's real decision input
    * (VERDICT r13 #4 — q275's registered row pins only the historical
    * centroid-coincident slice).
    *
    * n_possible anchors at 5 × |probe queries present in the corpus|
    * (ADVICE r14): the r14 form counted 5 per (nprobe, query) row of
    * the sweep, and the sweep drops a query whose probed lists hold
    * only itself — a zero-candidate (hence zero-recall) query then
    * vanished from BOTH hits and possible, inflating sampled recall
    * exactly where the dial most needs to see the miss. Anchored at
    * the query slice itself, a candidate-less query counts 0/5. On
    * every corpus where all probe queries produce candidates at every
    * dial point (all registered fixtures) the two forms are equal. */
  private[graft] def resolverDial(e: DataFrame, k: Long = 8L,
      nHint: Long = -1L): DataFrame = {
    val pred = resolverQueryPred(k)
    val possible = e.filter(pred)
      .agg((count(lit(1)) * 5L).as("n_possible"))
    ivfSweepDial(e, pred, k, nHint)
      .groupBy(col("nprobe"))
      .agg(sum(col("n_hits")).as("n_hits"))
      .crossJoin(possible) // 1-row aggregate combine
      .select(col("nprobe"), col("n_hits"), col("n_possible"),
        when(col("n_hits") * IvfTargetRecallDen >=
          col("n_possible") * IvfTargetRecallNum, 1L)
          .otherwise(0L).as("clears"))
  }

  /** q280_resolver_dial — the nprobe resolver's decision input as an
    * oracle row (VERDICT r13 #4, the q277/q278 pattern: the number a
    * data-driven knob actually compares against its threshold must
    * itself be hash-checked): per dial point, the sampled hit/possible
    * counts over the resolver's exact non-centroid query slice and
    * whether that point clears the 9/10 target — the MINIMAL clearing
    * row is precisely [[resolveNprobe]]'s pick, spec-cross-equated in
    * SimilaritySpec. The fixture sits below [[IvfAutoProbeGate]] so
    * production would not probe it; like q277/q278 the query runs the
    * accounting unconditionally — what the resolver WOULD decide here
    * is exactly what it reports. Scale: the q275 sweep shape (one
    * corpus assignment, |queries|-bounded joins) folded to |dial| rows. */
  def q280ResolverDial(spark: SparkSession, sfDir: String): DataFrame =
    resolverDial(Tables.embeddings(spark, sfDir))
      .orderBy(col("nprobe"))

  /** Composed oracle: the q275 pipeline instantiated at the resolver's
    * query slice through the SAME parameterized builder the registered
    * q275 uses (ADVICE r14 — the r14 form post-hoc string-replaced the
    * slice out of q275Sql's finished text, which any future rewording
    * of q75Sql/q275Sql would silently corrupt), folded to the
    * per-nprobe decision aggregate with n_possible anchored at the
    * query slice itself (see [[resolverDial]]). */
  val q280Sql: String =
    s"""WITH dial AS (${sweepSqlFor(ResolverSliceSql)}),
       |np AS (SELECT 5 * count(*) AS n_possible
       |       FROM embeddings WHERE $ResolverSliceSql)
       |SELECT nprobe,
       |       CAST(sum(n_hits) AS BIGINT) AS n_hits,
       |       CAST(np.n_possible AS BIGINT) AS n_possible,
       |       CAST(CASE WHEN sum(n_hits) * $IvfTargetRecallDen >=
       |              np.n_possible * $IvfTargetRecallNum
       |            THEN 1 ELSE 0 END AS BIGINT) AS clears
       |FROM dial CROSS JOIN np
       |GROUP BY nprobe, np.n_possible ORDER BY nprobe""".stripMargin

  /** q281_ivf_scaled — IVF retrieval with the coarse quantizer SCALED
    * to the corpus: k = ⌈√n⌉ centroids (the first k vectors — q268's
    * deterministic seed-by-id-bound rule), nprobe from the resolver
    * (the dial default below the auto-probe gate, the measured dial
    * above it, memoized under the REAL k). This is the
    * r13 verdict's scale-headroom item #2: q76's fixed 8-centroid
    * quantizer leaves inverted lists growing O(n/8) and its dial
    * saturating at a full scan, while at k = √n the per-query scan
    * fraction is ~nprobe/√n → 0 with corpus growth (measured in
    * SCALE_POINT_r14). q76 stays registered as the historical
    * fixed-8 oracle row; the retrieval machinery is shared
    * ([[ivfTopk]] — the k = 8 plan and rows are bit-identical to
    * before the generalization). */
  def q281IvfScaled(spark: SparkSession, sfDir: String): DataFrame = {
    val e = ivfCorpus(spark, sfDir)
    val n = e.count()
    val k = math.max(2L, math.ceil(math.sqrt(n.toDouble)).toLong)
    ivfTopk(e, resolveNprobe(e, n, k = k), k = k, nHint = n)
  }

  /** The production IVF retrieval entry (VERDICT r14 #7): the
    * quantizer sized by the measured rule instead of a constant a
    * deployment edits — the historical fixed k = 8 below
    * [[IvfAutoProbeGate]] (every oracle fixture: at that size the
    * whole retrieval is a few task budgets and 8 lists are plenty),
    * the corpus-scaled k = ⌈√n⌉ above it (q281's rule — measured
    * dominant at every scale point: per-query scan fraction
    * ~nprobe/√n, falling 0.0072 → 0.0017 across 20k → 320k, vs the
    * fixed-8 dial saturating at a FULL scan per query at equal
    * sampled recall, SCALE_POINT_r14 §C). nprobe comes from the
    * resolver (the dial default below the auto-probe gate, the
    * measured minimal clearing point above it, memoized under the
    * real k), and the assignment takes the angular
    * Elkan-pruned path above [[IvfPrunedPairGate]] pairs. Below the
    * gate this IS the registered q76 plan (spec-pinned row equality
    * in IvfPrunedSpec). */
  def ivfRetrieve(e: DataFrame): DataFrame = {
    val n = e.count()
    val k =
      if (n <= IvfAutoProbeGate) 8L
      else math.max(2L, math.ceil(math.sqrt(n.toDouble)).toLong)
    ivfTopk(e, resolveNprobe(e, n, k = k), k = k, nHint = n)
  }

  /** q282_ivf_retrieve — [[ivfRetrieve]] (the PRODUCTION retrieval
    * entry with the measured k-rule and the resolver dial) under the
    * oracle gate. Below [[IvfAutoProbeGate]] (every fixture) the rule
    * resolves to the historical fixed-8 quantizer at the default dial
    * point, so the oracle IS q76's — the row exists so the path a
    * deployment actually calls is the path the hash gate checks (the
    * q280 discipline), and any drift in the default rule surfaces as
    * a hash mismatch instead of silently changing production
    * retrievals. */
  def q282IvfRetrieve(spark: SparkSession, sfDir: String): DataFrame =
    ivfRetrieve(ivfCorpus(spark, sfDir))

  /** The (vec_id, embedding) corpus q281 and q282 retrieve over. Both
    * entries build it here, so their nprobe dials hand
    * [[Centroids.gateDecision]] the same plan and a session probes the
    * corpus once: a frame that kept `label` would key a second dial. */
  private[graft] def ivfCorpus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))

  /** The production entry's fixture-scale oracle is exactly the
    * registered q76 pipeline (see [[q282IvfRetrieve]]). */
  val q282Sql: String = q76Sql

  /** The q76 oracle pipeline with k a scalar subquery (⌈√n⌉) instead
    * of the literal 8 — assignment/probe/top-k windows identical. */
  val q281Sql: String =
    """WITH n AS (SELECT count(*) AS n FROM embeddings),
      |k AS (SELECT GREATEST(2, CAST(ceil(sqrt(n)) AS BIGINT)) AS k FROM n),
      |cents AS (
      |  SELECT vec_id AS cent_id, embedding AS cent_emb
      |  FROM embeddings WHERE vec_id < (SELECT k FROM k)),
      |ap AS (
      |  SELECT e.vec_id, c.cent_id,
      |         unnest(e.embedding)::DOUBLE AS x,
      |         unnest(c.cent_emb)::DOUBLE AS y
      |  FROM embeddings e, cents c),
      |acs AS (
      |  SELECT vec_id, cent_id,
      |         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4) AS cs
      |  FROM ap GROUP BY vec_id, cent_id),
      |assigned AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id
      |           ORDER BY cs DESC, cent_id) AS rk
      |    FROM acs) WHERE rk = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cent_id FROM (
      |    SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id
      |           ORDER BY cs DESC, cent_id) AS rk
      |    FROM acs WHERE vec_id < 5) WHERE rk <= 2),
      |cands AS (
      |  SELECT p.query_id, a.vec_id AS cand_id
      |  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
      |  WHERE a.vec_id <> p.query_id),
      |sp AS (
      |  SELECT cd.query_id, cd.cand_id,
      |         unnest(qe.embedding)::DOUBLE AS x,
      |         unnest(ce.embedding)::DOUBLE AS y
      |  FROM cands cd JOIN embeddings qe ON qe.vec_id = cd.query_id
      |                JOIN embeddings ce ON ce.vec_id = cd.cand_id),
      |s AS (
      |  SELECT query_id, cand_id,
      |         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4)
      |           AS cos_sim
      |  FROM sp GROUP BY query_id, cand_id),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |            ORDER BY cos_sim DESC, cand_id) AS rank
      |  FROM s)
      |SELECT query_id, cand_id, cos_sim, rank FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Production-path embedding near-dup detection over any
    * (vec_id, embedding) frame: candidate pairs come from the multi-table
    * LSH buckets (not an id band — that bound in q73 exists only for oracle
    * checkability), scored with the native cosine kernel before the dedup
    * shuffle, thresholded.
    *
    * Geometry is a parameter: `bitsPerTable < 0` (the default) derives it
    * from the corpus size via [[bitsForCorpus]] (one count() job — cheap
    * metadata-only on parquet sources), so buckets stay ~[[TargetBucketSize]]
    * and the per-table self-join stays near-linear instead of the fixed
    * 4-buckets-per-table N²/16 it would degenerate to at production N.
    * More tables → higher recall (OR-amplification); more bits → smaller
    * buckets, lower recall per table. */
  def lshNearDups(embeddings: DataFrame, minCos: Double,
      numTables: Int = 8, bitsPerTable: Int = -1): DataFrame = {
    val bits =
      if (bitsPerTable > 0) bitsPerTable
      else bitsForCorpus(embeddings.count())
    // The hyperplane dot products are the expensive stage, and a self-join
    // would execute them once per side (exchange reuse cannot canonicalize
    // across HOF lambdas). So: materialize the NARROW assignment table
    // (vec_id, tbl, bkt — ~3 longs × numTables per vector) once via an
    // eager localCheckpoint (reclaimed by the ContextCleaner when the plan
    // is GC'd — a bare persist on a lazily-returned frame would leak),
    // generate candidate id-pairs from it, dedup them BEFORE scoring (one
    // kernel call per pair, not per bucket collision), then join the
    // embeddings back just for the surviving candidates.
    // Trade-off: localCheckpoint truncates lineage and stores blocks
    // unreplicated — an executor loss mid-job fails the job instead of
    // recomputing. On a long-lived production cluster prefer a reliable
    // checkpoint dir (sc.setCheckpointDir + .checkpoint()) or a
    // caller-managed persist/unpersist around a materialization point;
    // here the GC-managed lifecycle wins because this function returns a
    // lazy frame and cannot know when to unpersist.
    val assign = withLshBuckets(embeddings, makePlanes(numTables, bits))
      .select(col("vec_id"), col("tbl"), col("bkt"))
      .localCheckpoint()
    val pairs = assign.as("l").join(assign.as("r"),
        col("l.tbl") === col("r.tbl") && col("l.bkt") === col("r.bkt") &&
        col("r.vec_id") > col("l.vec_id"))
      .select(col("l.vec_id").as("v1"), col("r.vec_id").as("v2"))
      .dropDuplicates("v1", "v2")
    pairs
      .join(embeddings.select(col("vec_id").as("v1"),
        col("embedding").as("emb1")), "v1")
      .join(embeddings.select(col("vec_id").as("v2"),
        col("embedding").as("emb2")), "v2")
      .select(col("v1"), col("v2"),
        cosine(col("emb1"), col("emb2")).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
      .orderBy(col("v1"), col("v2"))
  }

  /** q16_asof — as-of join: for each purchase event, the most recent strictly
    * earlier click by the same user. Implemented as union + window
    * carry-forward (one shuffle on user_id), not a per-row subquery; at equal
    * timestamps purchases sort before clicks so the match is strict. */
  def q16Asof(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("is_click", when(col("event_type") === "click", 1)
        .otherwise(0))
      .withColumn("click_ts", when(col("is_click") === 1, col("ts")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_click"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_click_ts", last(col("click_ts"), ignoreNulls = true)
        .over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("last_click_ts"),
        (unix_micros(col("ts")) - unix_micros(col("last_click_ts")))
          .as("micros_since_click"))
      .orderBy(col("event_id"))
  }

  val q16Sql: String =
    """SELECT p.event_id, p.user_id, p.ts,
      |       (SELECT max(c.ts) FROM events c
      |        WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |          AND c.ts < p.ts) AS last_click_ts,
      |       epoch_us(p.ts) -
      |       epoch_us((SELECT max(c.ts) FROM events c
      |                 WHERE c.user_id = p.user_id
      |                   AND c.event_type = 'click'
      |                   AND c.ts < p.ts)) AS micros_since_click
      |FROM events p
      |WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id""".stripMargin

  /** q189_mrr — mean reciprocal rank of the ANN retrieval (q74) against
    * the exact ground truth (q75): per query, the reciprocal of the
    * FIRST ann rank whose candidate is truly top-5 (0 when the list
    * misses entirely — the silent-failure case q152's recall also
    * guards), plus the corpus MRR repeated per row. Complements recall
    * (did we find them?) with the rank-position lens (how high?). The
    * reciprocal is rounded once to DECIMAL(18,6), so the mean is an
    * exact decimal average.
    *
    * Scale: both inputs are already top-k frames (query-cardinality ×
    * k); everything here is semi-join + min over ≤5 rows per query. */
  def q189Mrr(spark: SparkSession, sfDir: String): DataFrame = {
    val ann = q74AnnTopk(spark, sfDir)
      .select(col("query_id"), col("cand_id"), col("rank"))
    val brute = q75BruteTopk(spark, sfDir)
      .select(col("query_id"), col("cand_id"))
    val firstHit = ann
      .join(brute, Seq("query_id", "cand_id"), "left_semi")
      .groupBy(col("query_id")).agg(min(col("rank")).as("first_hit"))
    val perQuery = brute.select(col("query_id")).distinct()
      .join(firstHit, Seq("query_id"), "left")
      .select(col("query_id"), col("first_hit"),
        coalesce((lit(1.0) / col("first_hit")).cast("decimal(18,6)"),
          lit(BigDecimal(0)).cast("decimal(18,6)")).as("rr_dec"))
      .localCheckpoint() // query-cardinality; feeds mean + output
    // exact decimal sum / count, ONE IEEE division — avg(decimal) has
    // engine-specific result types and must not be trusted cross-engine
    val mean = perQuery.agg((sum(col("rr_dec")).cast("double") /
      count(lit(1)).cast("double")).as("mrr"))
    perQuery.crossJoin(broadcast(mean))
      .select(col("query_id"), col("first_hit"),
        col("rr_dec").cast("double").as("rr"), col("mrr"))
      .orderBy(col("query_id"))
  }

  /** Composed oracle (the q152 pattern): both sub-oracles as subqueries. */
  val q189Sql: String =
    s"""WITH ann AS (SELECT query_id, cand_id, rank FROM ($q74Sql)),
       |brute AS (SELECT query_id, cand_id FROM ($q75Sql)),
       |fh AS (
       |  SELECT a.query_id, min(a.rank) AS first_hit
       |  FROM ann a SEMI JOIN brute b
       |    ON b.query_id = a.query_id AND b.cand_id = a.cand_id
       |  GROUP BY a.query_id),
       |pq AS (
       |  SELECT q.query_id, fh.first_hit,
       |         coalesce(CAST(CAST(1.0 AS DOUBLE) / fh.first_hit
       |                       AS DECIMAL(18,6)), 0) AS rr_dec
       |  FROM (SELECT DISTINCT query_id FROM brute) q
       |  LEFT JOIN fh USING (query_id)),
       |m AS (SELECT CAST(sum(rr_dec) AS DOUBLE)
       |             / CAST(count(*) AS DOUBLE) AS mrr FROM pq)
       |SELECT query_id, first_hit, CAST(rr_dec AS DOUBLE) AS rr, mrr
       |FROM pq CROSS JOIN m ORDER BY query_id""".stripMargin
}
