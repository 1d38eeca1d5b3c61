package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Checkpoints.CutOps

/** Int8 embedding quantization — the memory-bandwidth scale path for
  * similarity search (north-star tier X): 64 float32 components become 64
  * int8s, a 4× reduction in scan volume and cache footprint, which is the
  * dominant cost of a brute-force or IVF-probe pass at 10^9+ vectors.
  *
  * Symmetric per-vector scalar quantization: scale = max|x_i| / 127,
  * q_i = round(x_i / scale) ∈ [-127, 127]. For COSINE the per-vector scale
  * cancels out of the ratio entirely, so the quantized similarity is
  * Σq_a·q_b / (√Σq_a² · √Σq_b²) — all-integer sums (exact in any engine,
  * any partitioning, no float accumulation order to pin down) with a single
  * IEEE division at the end. That makes the quantized path MORE
  * deterministic than the float path, and fully oracle-checkable.
  *
  * Scale notes: quantization is pure map work (codegen'd HOFs, no shuffle);
  * storage-form output is array<tinyint> so parquet writes 1 byte/dim. The
  * scoring shape mirrors q75 (broadcast query set, linear scan) — swap in
  * the IVF/LSH bucketing from q74/q76 unchanged when N demands it.
  */
object Quantize {

  /** Quantized form of a float-array column, as integers (compute form).
    * No zero-vector guard: scale 0 would put NaN in every component, and
    * the embeddings fixture contains no zero vectors — a production corpus
    * would filter them before quantizing (they have no cosine direction). */
  def quantizeInt(emb: Column): Column = {
    val scale = aggregate(transform(emb, x => abs(x.cast("double"))),
      lit(0.0), (a, x) => greatest(a, x)) / lit(127.0)
    transform(emb, x => round(x.cast("double") / scale).cast("int"))
  }

  /** Storage form: array<tinyint> — 1 byte per dimension in parquet. */
  def quantizeInt8(emb: Column): Column =
    transform(quantizeInt(emb), x => x.cast("tinyint"))

  /** Cosine of two int-array columns: exact long sums, one final division. */
  def quantizedCosine(qa: Column, qb: Column): Column = {
    def dot(u: Column, v: Column) =
      aggregate(zip_with(u, v, (x, y) => (x * y).cast("long")),
        lit(0L), (acc, x) => acc + x)
    dot(qa, qb).cast("double") /
      (sqrt(dot(qa, qa).cast("double")) * sqrt(dot(qb, qb).cast("double")))
  }

  /** q78_quantized_topk — brute-force top-5 per query (vec_id < 5) over the
    * int8-quantized corpus: the q75 baseline run at a quarter of the memory
    * traffic. Rank agreement with q75 is measured in SimilaritySpec. */
  def q78QuantizedTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), quantizeInt(col("embedding")).as("qv"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("qcos"), col("cand_id"))
    e.select(col("vec_id").as("cand_id"), col("qv"))
      .crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        round(quantizedCosine(col("qq"), col("qv")), 4).as("qcos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------------------------ product quantization

  /** Subspace count (M), dims per subspace (D), codewords per subspace (K)
    * for q229. 64-dim vectors → 8 subspaces of 8 dims, 16 codewords each:
    * a PQ code is 8×4 bits = 32 bits per vector (the standard PQ8x4). */
  val PqM = 8
  val PqD = 8
  val PqK = 16

  /** Exact squared-L2 of two int-array columns: integer sums only. */
  def intL2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => ((x - y) * (x - y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** ADC shortlist size for q229 — candidates kept per query for the
    * exact rerank stage. */
  val PqShortlist = 50

  /** q229_pq_adc — product quantization with an asymmetric-distance (ADC)
    * scan and exact rerank — the serving shape of an IVFADC index: split
    * the int8-quantized corpus into [[PqM]] subvectors, pick a
    * deterministic [[PqK]]-codeword codebook per subspace (the KMV trick —
    * the K vectors whose id-mix ranks smallest in that subspace, a seeded
    * sample both engines replay), encode every vector as its per-subspace
    * nearest codeword, ADC-scan: for each probe query (vec_id<5) sum
    * per-subspace LUT distances between the RAW query subvector and each
    * candidate's codeword, keep the top-[[PqShortlist]], then RERANK the
    * shortlist by exact quantized L2 and emit the top-5. The rerank stage
    * is not optional at this code rate: clustered corpora collapse many
    * same-cluster candidates onto one 32-bit code, so ADC alone ties them —
    * measured mean exact-top-5 recall 0.12 without rerank vs ~1.0 with, at
    * a 10× candidate-set cut. `in_exact` audits each emitted hit against
    * the full-scan exact top-5 in-row. Codebook REFINEMENT (Lloyd
    * iterations) is q66's operator; this is the storage/serving half a
    * 10^9-vector index actually runs.
    *
    * Scale: the codebook is M·K tiny rows (broadcast); encoding is one
    * map-side join + a K-row argmin per (vector, subspace); the scan reads
    * 32-bit codes instead of 256-byte vectors — a 64× memory-traffic cut —
    * and the exact rerank touches [[PqShortlist]] vectors per query, not N.
    * (The in-row audit joins a full exact scan; that column is the
    * CORRECTNESS harness, dropped in production.) All distances are exact
    * integer sums (quantized components), so ranking is order-independent
    * and oracle-checkable; ties break on (distance, id) total order.
    * Reference has no vector tier (BASELINE.json north-star X). */
  def q229PqAdc(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.StableHash
    val qz = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), quantizeInt(col("embedding")).as("qv"))
    val sub = qz
      .select(col("vec_id"),
        explode(sequence(lit(0L), lit(PqM - 1L))).as("m"), col("qv"))
      .select(col("vec_id"), col("m"),
        slice(col("qv"), (col("m") * PqD + 1).cast("int"), lit(PqD)).as("sv"))
    val wSeed = Window.partitionBy(col("m"))
      .orderBy(col("h"), col("vec_id"))
    // KMV seed pick through the grouped-top-k operator: the window form
    // sorted ALL n·M subvector rows inside M partitions (parallelism
    // capped at M=8!) to keep K per subspace; the heap pass reduces each
    // map slice to ≤K rows per m pre-shuffle, and the k index is then a
    // window over the surviving M·K (=128) rows only — same (h, vec_id)
    // total order, so the selected set and indices are unchanged.
    val codebook = graft.plans.GroupedTopK.topKPerKey(
        sub.withColumn("h",
          StableHash.intMix62(col("vec_id") * PqM + col("m"), 101L)),
        Seq("m"), Seq("h" -> false, "vec_id" -> false), PqK)
      .withColumn("k", (row_number().over(wSeed) - 1).cast("long"))
      .select(col("m"), col("k"), col("sv").as("cw"))
    // Nearest-codeword argmin as a MAP-SIDE-COMBINABLE aggregate instead
    // of a row_number window: the window form exchanged AND sorted the
    // n·M·K joined rows just to keep rank 1 per (vector, subspace);
    // min_by over the (dd, k) total order (k is unique per group, so no
    // ties) collapses K:1 in the partial aggregate before the shuffle —
    // 16× fewer shuffled rows, no sort. Identical argmin by construction.
    val enc = sub.join(broadcast(codebook), Seq("m"))
      .select(col("vec_id"), col("m"), col("k"), col("cw"),
        intL2sq(col("sv"), col("cw")).as("dd"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("cw"), struct(col("dd"), col("k"))).as("cw"))
      .select(col("vec_id"), col("m"), col("cw"))
    val qsub = sub.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("m"), col("sv").as("qsv"))
    val adc = enc.join(broadcast(qsub), Seq("m"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        intL2sq(col("qsv"), col("cw")).as("t"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("t")).as("adc_d2"))
    val qfull = qz.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"))
    val wQ = Window.partitionBy(col("query_id"))
    val exactTop = qz.select(col("vec_id").as("cand_id"), col("qv"))
      .crossJoin(broadcast(qfull))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        intL2sq(col("qq"), col("qv")).as("d2"))
      .withColumn("erk",
        row_number().over(wQ.orderBy(col("d2"), col("cand_id"))))
      .filter(col("erk") <= 5)
      .select(col("query_id"), col("cand_id"), lit(1L).as("hit"))
    val shortlist = adc
      .withColumn("ark",
        row_number().over(wQ.orderBy(col("adc_d2"), col("cand_id"))))
      .filter(col("ark") <= PqShortlist)
      .select(col("query_id"), col("cand_id"), col("adc_d2"))
    shortlist
      .join(qz.select(col("vec_id").as("cand_id"), col("qv")), Seq("cand_id"))
      .join(broadcast(qfull), Seq("query_id"))
      .select(col("query_id"), col("cand_id"), col("adc_d2"),
        intL2sq(col("qq"), col("qv")).as("exact_d2"))
      .withColumn("rank",
        row_number().over(wQ.orderBy(col("exact_d2"), col("cand_id"))))
      .filter(col("rank") <= 5)
      .join(exactTop, Seq("query_id", "cand_id"), "left")
      .select(col("query_id"), col("cand_id"), col("adc_d2"),
        col("exact_d2"), col("rank"),
        coalesce(col("hit"), lit(0L)).as("in_exact"))
      // materialize before the determinism sort: the sort-merge join with
      // exactTop above the last exchange keeps Spark's size estimate at the
      // product of its inputs, so SinglePartitionSort cannot lower this
      // queries x shortlist sort and its range exchange still samples; the
      // cut makes that sample read the cut rows instead of re-running the
      // encode+ADC pipeline (r16 A/B)
      .cutLineage()
      .orderBy(col("query_id"), col("rank"))
  }

  val q229Sql: String = {
    def d2(a: String, b: String, n: Int): String =
      (1 to n).map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])").mkString(" + ")
    val mix = graft.functions.StableHash.intMix62Sql("vec_id*8+m", 101L)
    s"""WITH qz AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round(
       |           CAST(x AS DOUBLE) /
       |           (list_max(list_transform(embedding,
       |              y -> abs(CAST(y AS DOUBLE)))) / 127.0)) AS BIGINT))
       |           AS qv
       |  FROM embeddings),
       |sub AS (
       |  SELECT vec_id, m, list_slice(qv, m*8+1, m*8+8) AS sv
       |  FROM qz, range(8) t(m)),
       |seeds AS (
       |  SELECT m, sv,
       |         row_number() OVER (PARTITION BY m ORDER BY $mix, vec_id)
       |           - 1 AS k
       |  FROM sub),
       |cb AS (SELECT m, k, sv AS cw FROM seeds WHERE k < $PqK),
       |encd AS (
       |  SELECT vec_id, m, cw,
       |         row_number() OVER (PARTITION BY vec_id, m
       |           ORDER BY ${d2("sv", "cw", PqD)}, k) AS rk
       |  FROM sub JOIN cb USING (m)),
       |enc AS (SELECT vec_id, m, cw FROM encd WHERE rk = 1),
       |qsub AS (
       |  SELECT vec_id AS query_id, m, sv AS qsv
       |  FROM sub WHERE vec_id < 5),
       |adc AS (
       |  SELECT query_id, e.vec_id AS cand_id,
       |         CAST(sum(${d2("qsv", "cw", PqD)}) AS BIGINT) AS adc_d2
       |  FROM enc e JOIN qsub USING (m) WHERE e.vec_id <> query_id
       |  GROUP BY query_id, e.vec_id),
       |qfull AS (
       |  SELECT vec_id AS query_id, qv AS qq FROM qz WHERE vec_id < 5),
       |etop AS (
       |  SELECT query_id, c.vec_id AS cand_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY ${d2("qq", "qv", PqM * PqD)}, c.vec_id) AS erk
       |  FROM qz c, qfull WHERE c.vec_id <> query_id),
       |short AS (
       |  SELECT query_id, cand_id, adc_d2,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY adc_d2, cand_id) AS ark
       |  FROM adc),
       |rerank AS (
       |  SELECT s.query_id, s.cand_id, s.adc_d2,
       |         ${d2("qq", "qv", PqM * PqD)} AS exact_d2
       |  FROM short s
       |  JOIN qz c ON c.vec_id = s.cand_id
       |  JOIN qfull q ON q.query_id = s.query_id
       |  WHERE s.ark <= $PqShortlist),
       |final AS (
       |  SELECT query_id, cand_id, adc_d2, exact_d2,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY exact_d2, cand_id) AS rank
       |  FROM rerank)
       |SELECT f.query_id, f.cand_id, f.adc_d2, f.exact_d2, f.rank,
       |       CAST(CASE WHEN e.cand_id IS NULL THEN 0 ELSE 1 END
       |            AS BIGINT) AS in_exact
       |FROM final f LEFT JOIN (SELECT * FROM etop WHERE erk <= 5) e
       |  ON f.query_id = e.query_id AND f.cand_id = e.cand_id
       |WHERE f.rank <= 5
       |ORDER BY f.query_id, f.rank""".stripMargin
  }

  val q78Sql: String =
    """WITH qz AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(
      |           CAST(x AS DOUBLE) /
      |           (list_max(list_transform(embedding,
      |              y -> abs(CAST(y AS DOUBLE)))) / 127.0)) AS BIGINT))
      |           AS qv
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id AS query_id, qv AS qq FROM qz WHERE vec_id < 5),
      |p AS (
      |  SELECT q.query_id, e.vec_id AS cand_id,
      |         unnest(e.qv) AS x, unnest(q.qq) AS y
      |  FROM qz e, q WHERE e.vec_id <> q.query_id),
      |s AS (
      |  SELECT query_id, cand_id,
      |         round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4)
      |           AS qcos
      |  FROM p GROUP BY query_id, cand_id),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |            ORDER BY qcos DESC, cand_id) AS rank
      |  FROM s)
      |SELECT query_id, cand_id, qcos, rank FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Target dimension of the q269 random projection. 16 from 64 is the
    * 4× JL compression a pipeline uses for cheap pre-filtering before an
    * exact re-rank (same role as int8: shrink the scan, keep the
    * geometry). */
  val JlDim = 16

  /** Component quantization scale for the q269 integer arithmetic —
    * ⌊v·2²⁰⌋ is exact for |v| ≤ 1 (the q79/q66 device). */
  private val JlScale = 1048576L

  /** q269_jl_projection — Johnson–Lindenstrauss random-sign projection of
    * the embedding corpus (Achlioptas 2003's ±1 database-friendly form):
    * proj_j = Σ_pos sign(pos,j)·x_pos with sign drawn from the
    * [[graft.functions.StableHash.intMix62Col]] parity — a seedless,
    * engine-replayable "random" matrix. The output audits what JL
    * promises: for each near-band pair, the original squared distance,
    * the projected squared distance, and their ratio normalized by the
    * E[proj²] = m·d² identity — the distortion a pipeline checks before
    * trusting the compressed vectors for candidate generation.
    *
    * Determinism: a groupBy-sum of doubles is partition-order-dependent,
    * so components quantize to ⌊v·2²⁰⌋ BIGINT first and every sum is
    * exact integer arithmetic; the one IEEE division happens on exact
    * operands at the very end. Bounds: |qp_j| ≤ 64·2²⁰ = 2²⁶, pair terms
    * (qp₁−qp₂)² ≤ 2⁵⁴, summed over 16 dims < 2⁵⁸ — no overflow.
    *
    * Scale design:
    *  - The sign matrix is d·m = 1024 rows built from `spark.range` —
    *    CONSTANT cardinality (schema-fixed d, constant m), so its
    *    broadcast is legitimate at any corpus size (not the
    *    SF-proportional class the round-9 sweep de-hinted).
    *  - Projection is one narrow shuffle of n·m partial rows (map-side
    *    combine does the d-way sums early); no whole-vector array crosses
    *    the wire.
    *  - The distortion audit runs over the q73 band pairs (vec_id within
    *    5) — a bounded per-vector candidate set, linear in n, the same
    *    band-explosion device as the range join. */
  def q269JlProjection(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    // quantized component arrays (exact BIGINT folds, array order)
    val qe = e.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * lit(JlScale.toDouble)).cast("long"))
        .as("qemb"))
    val d = e.select(max(size(col("embedding")))).head().getInt(0)
    val signs = spark.range(d.toLong * JlDim)
      .select(expr(s"id div $JlDim").as("pos"),
        pmod(col("id"), lit(JlDim.toLong)).as("j"))
      .select(col("pos"), col("j"),
        (pmod(graft.functions.StableHash.intMix62Col(col("pos"), col("j")),
          lit(2L)) * 2L - 1L).as("sign"))
    val proj = qe
      .select(col("vec_id"), posexplode(col("qemb")).as(Seq("pos", "q")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("q"))
      .join(broadcast(signs), Seq("pos"))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("sign") * col("q")).as("qp"))
      // MEASURED-REJECTION NOTE (recompute audit: the n×16 projection
      // feeds both pair sides — 3-op finding): a localCheckpoint was
      // A/B'd in r13 and rejected — sf0.1 1.11→1.05 s (wash), sf1
      // 3.09→4.45 (+44%): the posexplode/broadcast-join exchange is
      // shared, the duplicate is the narrow final aggregate, and the
      // eager cut job grows with n while the recompute stays
      // post-shuffle. Registry: RecomputeAudit.measuredRejections.
    val pairs = qe
      .select(col("vec_id").as("v1"), col("qemb").as("qe1"),
        explode(sequence(col("vec_id") + 1, col("vec_id") + 5)).as("v2"))
      .join(qe.select(col("vec_id").as("v2"), col("qemb").as("qe2")),
        Seq("v2"))
      .select(col("v1"), col("v2"),
        aggregate(zip_with(col("qe1"), col("qe2"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
          .as("orig_d2q"))
    val projd = pairs
      .join(proj.select(col("vec_id").as("v1"), col("j"),
        col("qp").as("qp1")), Seq("v1"))
      .join(proj.select(col("vec_id").as("v2"), col("j"),
        col("qp").as("qp2")), Seq("v2", "j"))
      .groupBy(col("v1"), col("v2"), col("orig_d2q"))
      .agg(sum((col("qp1") - col("qp2")) * (col("qp1") - col("qp2")))
        .as("proj_d2q"))
    projd
      .select(col("v1"), col("v2"), col("orig_d2q"), col("proj_d2q"),
        when(col("orig_d2q") === 0L, lit(null).cast("double"))
          .otherwise(round(col("proj_d2q").cast("double") /
            (col("orig_d2q").cast("double") * lit(JlDim.toDouble)), 4))
          .as("distortion"))
      .orderBy(col("v1"), col("v2"))
  }

  val q269Sql: String = {
    val signExpr = graft.functions.StableHash.intMix62ColSql("pos", "j")
    s"""WITH d AS (SELECT max(len(embedding)) AS d FROM embeddings),
       |qe AS (
       |  SELECT vec_id,
       |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * $JlScale.0)
       |           AS BIGINT) AS q,
       |         unnest(generate_series(0, len(embedding) - 1)) AS pos
       |  FROM embeddings),
       |signs AS (
       |  SELECT i // $JlDim AS pos, i % $JlDim AS j,
       |         (($signExpr) % 2) * 2 - 1 AS sign
       |  FROM (SELECT unnest(generate_series(0,
       |          (SELECT d FROM d) * $JlDim - 1)) AS i)),
       |proj AS (
       |  SELECT q.vec_id, s.j, CAST(sum(s.sign * q.q) AS BIGINT) AS qp
       |  FROM qe q JOIN signs s ON s.pos = q.pos
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.vec_id AS v1, b.vec_id AS v2,
       |         CAST(sum((qa.q - qb.q) * (qa.q - qb.q)) AS BIGINT)
       |           AS orig_d2q
       |  FROM embeddings a
       |  JOIN embeddings b
       |    ON b.vec_id BETWEEN a.vec_id + 1 AND a.vec_id + 5
       |  JOIN qe qa ON qa.vec_id = a.vec_id
       |  JOIN qe qb ON qb.vec_id = b.vec_id AND qb.pos = qa.pos
       |  GROUP BY 1, 2),
       |projd AS (
       |  SELECT p.v1, p.v2, p.orig_d2q,
       |         CAST(sum((p1.qp - p2.qp) * (p1.qp - p2.qp)) AS BIGINT)
       |           AS proj_d2q
       |  FROM pairs p
       |  JOIN proj p1 ON p1.vec_id = p.v1
       |  JOIN proj p2 ON p2.vec_id = p.v2 AND p2.j = p1.j
       |  GROUP BY 1, 2, 3)
       |SELECT v1, v2, orig_d2q, proj_d2q,
       |       CASE WHEN orig_d2q = 0 THEN NULL
       |            ELSE round(CAST(proj_d2q AS DOUBLE) /
       |              (CAST(orig_d2q AS DOUBLE) * $JlDim.0), 4) END
       |         AS distortion
       |FROM projd ORDER BY v1, v2""".stripMargin
  }
}
