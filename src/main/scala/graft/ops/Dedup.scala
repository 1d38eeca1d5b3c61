package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Checkpoints.CutOps
import graft.functions.StableHash

/** Deduplication operators — north-star tier X (BASELINE.json): exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection over
  * `documents`.
  *
  * Scale design (these exist precisely for the 100 TB training-data case):
  *  - Exact dedup is a hash-groupBy on the dedup key — one shuffle whose
  *    cardinality is the number of distinct keys. The canonical representative
  *    is min(doc_id), which is deterministic (dropDuplicates is not).
  *  - MinHash signatures reduce to k plain `min` aggregates over map-side
  *    gram hashes (partial aggregation shrinks the shuffle to one row per
  *    doc per partition); the LSH bucket join moves only tiny
  *    (doc_id, band, signature) tuples, never document text.
  *  - SimHash likewise reduces each doc to 64 bit-counters map-side.
  *  - n-gram Jaccard joins on exploded distinct gram hashes; the candidate
  *    space is bounded by lifting the id-band predicate into the join key
  *    (in production the band comes from q70's LSH buckets).
  */
object Dedup {

  /** q36_dedup — exact dedup: canonical representative (min doc_id) per
    * distinct text. Deterministic replacement for dropDuplicates("text"). */
  def q36Dedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("text"))
      .orderBy(col("keep_id"))

  val q36Sql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, text
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------- MinHash

  /** Fixed affine permutation constants for MinHash: h_j(x) = (a_j·x+b_j) mod p
    * over the Mersenne prime 2^31-1. Generated from a fixed seed so
    * signatures are stable across runs and partitionings. */
  private val MinhashP = 2147483647L
  private val NumHashes = 16
  private val NumBands = 4 // 4 rows per band
  private[ops] val minhashCoeffs: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    Seq.fill(NumHashes)(
      (rng.nextInt(Int.MaxValue - 1).toLong + 1, rng.nextInt(Int.MaxValue).toLong))
  }

  /** 3-word shingles as rows (doc_id, gram), built entirely map-side:
    * zip the token array against its two shifted slices and explode — plain
    * codegen'd expressions, zero shuffle, linear at any scale. (Array
    * higher-order functions are deliberately avoided: HOF lambdas are not
    * whole-stage-codegen'd and CollapseProject inlines/recomputes them per
    * consumer — measured 8-19 s vs sub-second at sf0.1.) Slices index the
    * raw split (empties included), mirroring the q72 oracle's string_split
    * indexing; docs with <3 tokens produce no grams. */
  private[ops] def wordGrams(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val m = greatest(size(t) - 2, lit(0))
    docs
      .select(col("doc_id"),
        explode(arrays_zip(
          slice(t, lit(1), m).as("a"),
          slice(t, lit(2), m).as("b"),
          slice(t, lit(3), m).as("c"))).as("z"))
      .select(col("doc_id"),
        concat_ws(" ", col("z").getField("a"), col("z").getField("b"),
          col("z").getField("c")).as("gram"))
  }

  /** [[wordGrams]] plus a whole-text fallback gram for docs shorter than 3
    * tokens (so every document gets a MinHash signature). */
  private def gramsWithFallback(docs: DataFrame): DataFrame =
    wordGrams(docs).unionByName(
      docs.filter(size(split(col("text"), " ")) < 3)
        .select(col("doc_id"), col("text").as("gram")))

  /** 3-gram HASHES as rows (doc_id, gh), composed from per-token hashes:
    * each token is char-poly-hashed ONCE (the only non-codegen fold, linear
    * in text length), then each gram hash is a 3-long polynomial combine of
    * adjacent token hashes — the zip-slices-explode shape of [[wordGrams]]
    * over the hash array instead of re-folding every gram's ~20 chars
    * (a ~3× reduction in interpreted fold work; gram strings are never
    * materialized). Whole-text fallback hash for <3-token docs. The token
    * hash array lives in its own projection consumed across a Generate
    * boundary, so CollapseProject cannot triplicate the fold. Bounds:
    * th < 2³¹, ·65599 < 2⁴⁸ — overflow-free in both engines. */
  private[ops] def gramHashes(docs: DataFrame): DataFrame = {
    val th = transform(split(col("text"), " "),
      tok => StableHash.charPoly(tok, 131L, MinhashP))
    val hashed = docs.select(col("doc_id"), th.as("th"))
    val m = greatest(size(col("th")) - 2, lit(0))
    val combined = hashed
      .select(col("doc_id"),
        explode(arrays_zip(
          slice(col("th"), lit(1), m).as("a"),
          slice(col("th"), lit(2), m).as("b"),
          slice(col("th"), lit(3), m).as("c"))).as("z"))
      .select(col("doc_id"),
        pmod(pmod(col("z.a") * lit(65599L) + col("z.b"), lit(MinhashP))
          * lit(65599L) + col("z.c"), lit(MinhashP)).as("gh"))
    combined.unionByName(
      docs.filter(size(split(col("text"), " ")) < 3)
        .select(col("doc_id"),
          StableHash.charPoly(col("text"), 131L, MinhashP).as("gh")))
  }

  /** Per-document MinHash signatures sig_0..sig_k-1: min((a·h+b) mod p) over
    * the gram hashes — k plain `min` aggregates in one hash-aggregate pass
    * (partial map-side, final after one shuffle). The gram hash comes from
    * [[gramHashes]] (char-poly token hashes composed per gram) rather than
    * murmur3, so the WHOLE pipeline — signatures, band keys, cluster
    * representatives — is reproducible by the DuckDB oracle ([[q70Sql]]) in
    * exact BIGINT arithmetic. Bounds: a < 2³¹, gh < 2³¹ ⇒ a·gh + b < 2⁶² —
    * overflow-free in both engines. */
  private def signatures(docs: DataFrame): DataFrame = {
    val hashed = gramHashes(docs)
    val aggs = minhashCoeffs.zipWithIndex.map { case ((a, b), j) =>
      min(pmod(col("gh") * lit(a) + lit(b), lit(MinhashP))).as(s"sig_$j")
    }
    hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band-bucket rows (doc_id, band, sig) for any (doc_id, text)
    * frame — the INDEX rows a standing corpus materializes once and every
    * later batch probes ([[q261IncrementalLsh]]). Band key = polynomial
    * fold of the band's signature rows mod p (not murmur3 `hash`), so the
    * oracle can recompute it: acc ← (acc·65599 + sig_j) mod p. Bounds:
    * acc < 2³¹, ·65599 < 2⁴⁸ — overflow-free. LAZY — callers cut. */
  def bandBuckets(docs: DataFrame): DataFrame = {
    val signed = signatures(docs)
    val bandCols = (0 until NumBands).map { b =>
      val fold = (b * NumHashes / NumBands until (b + 1) * NumHashes / NumBands)
        .map(j => col(s"sig_$j"))
        .foldLeft(lit(0L): org.apache.spark.sql.Column)(
          (acc, s) => pmod(acc * lit(65599L) + s, lit(MinhashP)))
      struct(lit(b).as("band"), fold.as("sig"))
    }
    signed
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.sig").as("sig"))
  }

  /** MinHash+LSH near-duplicate clustering over any (doc_id, text) frame:
    * banded signatures bucket candidate duplicates; each document reports the
    * minimum doc_id among its bucket-mates as its cluster representative
    * (docs with no near-dup report themselves). */
  def minhashClusters(docs: DataFrame): DataFrame = {
    // Bucket minima via groupBy + join-back, NOT a whole-bucket window: a
    // window partitioned by (band, sig) routes every row of a bucket to ONE
    // task, so a mega-bucket (millions of identical boilerplate docs) becomes
    // the stage straggler at 100 TB. The groupBy gets map-side partial
    // combine — the hot bucket shrinks to one row per input partition before
    // the shuffle — and the join-back spreads the bucket across tasks again.
    // The narrow (doc_id, band, sig) frame is materialized ONCE via an eager
    // localCheckpoint before fanning out to its two consumers: exchange
    // reuse cannot fire here (the aggregate side pushes a partial-agg below
    // its shuffle, so the two exchanges have different children), and a
    // plain persist on a lazily-returned frame would leak cached blocks —
    // checkpointed RDDs are reclaimed by the ContextCleaner once the plan
    // is garbage-collected. ~16 bytes × bands per doc, spillable. (Same
    // executor-loss trade-off as lshNearDups — see Similarity.scala; a
    // long-lived cluster job would use a reliable checkpoint dir.)
    val buckets = bandBuckets(docs).cutLineage()
    val minima = buckets
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("bucket_rep"))
    buckets
      .join(minima, Seq("band", "sig"))
      .groupBy(col("doc_id"))
      .agg(min(col("bucket_rep")).as("cluster_rep"))
      .withColumn("is_duplicate", col("cluster_rep") < col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** q70_minhash_lsh — [[minhashClusters]] on the documents fixture. Fully
    * oracle-checked: every stage (gram hash, 16 affine permutations, band
    * fold, bucket minima, cluster representative) is exact BIGINT
    * mod-arithmetic that [[q70Sql]] replays in DuckDB with the permutation
    * constants inlined as literals. */
  def q70MinhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashClusters(Tables.documents(spark, sfDir))

  /** Generated oracle for q70: the MinHash permutation constants
    * ([[minhashCoeffs]], fixed seed) are embedded as literals — the q52Sql
    * generator pattern. Mirrors [[wordGrams]] indexing (raw split, empties
    * kept) and [[gramsWithFallback]]'s whole-text gram for <3-token docs. */
  /** Shared oracle CTE chain `toks → gh → sigs → buckets` over
    * `documents` — the SQL twin of [[bandBuckets]]; q70's and q261's
    * oracles both splice it ahead of their own tails. */
  private def lshBucketsCte: String = {
    val p = MinhashP
    val sigCols = minhashCoeffs.zipWithIndex.map { case ((a, b), j) =>
      s"min((gh * $a + $b) % $p) AS sig_$j"
    }.mkString(",\n         ")
    val bands = (0 until NumBands).map { b =>
      val fold = (b * NumHashes / NumBands until (b + 1) * NumHashes / NumBands)
        .map(j => s"sig_$j")
        .foldLeft("CAST(0 AS BIGINT)")((acc, s) => s"(($acc) * 65599 + $s) % $p")
      s"SELECT doc_id, $b AS band, $fold AS sig FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""toks AS (
       |  SELECT doc_id,
       |         list_transform(string_split(text, ' '),
       |           tok -> list_reduce(list_transform(string_split(tok, ''),
       |                  c -> CAST(ascii(c) AS BIGINT)),
       |                  (acc, x) -> (acc * 131 + x) % $p)) AS th
       |  FROM documents),
       |gh AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, greatest(len(th) - 1, 2)),
       |                i -> (((th[i] * 65599 + th[i+1]) % $p) * 65599
       |                      + th[i+2]) % $p)) AS gh
       |  FROM toks WHERE len(th) >= 3
       |  UNION ALL
       |  SELECT doc_id,
       |         list_reduce(list_transform(string_split(text, ''),
       |                     c -> CAST(ascii(c) AS BIGINT)),
       |                     (acc, x) -> (acc * 131 + x) % $p) AS gh
       |  FROM documents WHERE len(string_split(text, ' ')) < 3),
       |sigs AS (
       |  SELECT doc_id,
       |         $sigCols
       |  FROM gh GROUP BY doc_id),
       |buckets AS (
       |  $bands)""".stripMargin
  }

  val q70Sql: String =
    s"""WITH $lshBucketsCte,
       |minima AS (SELECT band, sig, min(doc_id) AS bucket_rep
       |           FROM buckets GROUP BY 1, 2),
       |reps AS (
       |  SELECT b.doc_id, min(m.bucket_rep) AS cluster_rep
       |  FROM buckets b JOIN minima m ON b.band = m.band AND b.sig = m.sig
       |  GROUP BY b.doc_id)
       |SELECT doc_id, cluster_rep, cluster_rep < doc_id AS is_duplicate
       |FROM reps ORDER BY doc_id""".stripMargin

  /** Incoming-batch membership predicate for q261 (mirrors q206's
    * every-10th-document split so the two incremental audits — exact and
    * near-dup — read the same snapshot boundary). */
  val IncrementalLshMod = 10L

  /** q261_incremental_lsh — cross-snapshot NEAR-duplicate detection, the
    * MinHash analogue of q206's exact incremental dedup: the incoming
    * batch (every 10th document) probes the standing corpus's
    * MATERIALIZED band index instead of re-clustering the whole corpus.
    * Each incoming document reports the minimum corpus doc sharing any
    * LSH bucket (`corpus_rep`), the minimum EARLIER batch doc sharing a
    * bucket (`batch_rep` — within-batch dups must not slip through just
    * because the corpus has not seen them), and a verdict:
    * dup_corpus ≻ dup_batch ≻ novel.
    *
    * Scale: the corpus side is touched ONLY through its (band, sig) →
    * min-doc index — one aggregated row per bucket, the thing a real
    * pipeline stores and appends to; it is never re-signed and never
    * re-scanned per batch. The batch computes its own signatures (k
    * map-side `min` aggregates over batch grams only) and the probe
    * shuffles (band, sig) keyed rows — index-row-count × probe-bucket
    * joins, never text, never all-pairs. Mega-buckets arrive
    * pre-collapsed to one row by the index aggregation. This is the
    * O(|Δ|) near-dup admission check a 100 TB corpus runs per ingest. */
  def q261IncrementalLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val incoming = docs.filter(col("doc_id") % IncrementalLshMod === 0)
    val corpus = docs.filter(col("doc_id") % IncrementalLshMod =!= 0)
    // the standing index: aggregated to one row per bucket BEFORE any
    // probe touches it (in production this frame is a stored table)
    val index = bandBuckets(corpus.select(col("doc_id"), col("text")))
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("corpus_rep"))
      .cutLineage()
    // probe rows: materialized once, consumed by both the corpus probe
    // and the within-batch self-check
    val probe = bandBuckets(incoming.select(col("doc_id"), col("text")))
      .cutLineage()
    val corpusHit = probe.join(index, Seq("band", "sig"))
      .groupBy(col("doc_id")).agg(min(col("corpus_rep")).as("corpus_rep"))
    val batchMin = probe.groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("batch_min"))
    val batchHit = probe.join(batchMin, Seq("band", "sig"))
      .filter(col("batch_min") < col("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("batch_min")).as("batch_rep"))
    incoming.select(col("doc_id"), col("source"))
      .join(corpusHit, Seq("doc_id"), "left")
      .join(batchHit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("corpus_rep"),
        col("batch_rep"),
        when(col("corpus_rep").isNotNull, "dup_corpus")
          .when(col("batch_rep").isNotNull, "dup_batch")
          .otherwise("novel").as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** q263_lsh_balance — the operational guardrail for LSH at scale: the
    * per-band bucket-size distribution, measured instead of argued. For
    * each band: bucket count, docs, the LARGEST bucket, the p95 bucket
    * (exact order-statistic pick — (band, sig) keys are unique, so the
    * row_number tie-break is total), the candidate-pair total
    * Σ s·(s−1)/2 — the actual cost driver of every LSH join downstream
    * (q70/q74/q261) — and the singleton share. A band whose max bucket
    * grows super-linearly with corpus size, or whose candidate pairs
    * outpace docs, is the signal to re-tune bands/rows or cap buckets
    * BEFORE the band join melts; this query is the thing a 100 TB
    * pipeline alerts on.
    *
    * Scale: one aggregate over the (band, sig) bucket frame (map-side
    * combinable — a mega-bucket collapses to one row per input
    * partition before the shuffle), then band-cardinality windows. The
    * corpus text never moves; only bucket keys do. */
  def q263LshBalance(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = bandBuckets(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")))
      .groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("s"))
      .cutLineage() // feeds the per-band aggregate AND the p95 pick
    val agg = sizes.groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("s")).as("n_docs"),
        max(col("s")).as("max_bucket"),
        sum(expr("s * (s - 1) div 2")).as("n_cand_pairs"),
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("n_singletons"))
    val pick = Window.partitionBy(col("band"))
      .orderBy(col("s"), col("sig"))
    val p95 = sizes
      .withColumn("rk", row_number().over(pick))
      .join(agg.select(col("band"), col("n_buckets")), Seq("band"))
      .filter(col("rk") === greatest(lit(1L),
        expr("(n_buckets * 95) div 100")))
      .select(col("band"), col("s").as("p95_bucket"))
    agg.join(p95, Seq("band"))
      .select(col("band"), col("n_buckets"), col("n_docs"),
        col("max_bucket"), col("p95_bucket"), col("n_cand_pairs"),
        col("n_singletons"))
      .orderBy(col("band"))
  }

  val q263Sql: String =
    s"""WITH $lshBucketsCte,
       |sizes AS (
       |  SELECT band, sig, CAST(count(*) AS BIGINT) AS s
       |  FROM buckets GROUP BY 1, 2),
       |agg AS (
       |  SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
       |         CAST(sum(s) AS BIGINT) AS n_docs,
       |         CAST(max(s) AS BIGINT) AS max_bucket,
       |         CAST(sum(s * (s - 1) // 2) AS BIGINT) AS n_cand_pairs,
       |         CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_singletons
       |  FROM sizes GROUP BY 1),
       |p95 AS (
       |  SELECT r.band, r.s AS p95_bucket
       |  FROM (SELECT band, sig, s,
       |               row_number() OVER (PARTITION BY band
       |                 ORDER BY s, sig) AS rk
       |        FROM sizes) r
       |  JOIN agg a ON a.band = r.band
       |  WHERE r.rk = greatest(1, (a.n_buckets * 95) // 100))
       |SELECT a.band, a.n_buckets, a.n_docs, a.max_bucket, p.p95_bucket,
       |       a.n_cand_pairs, a.n_singletons
       |FROM agg a JOIN p95 p ON p.band = a.band
       |ORDER BY a.band""".stripMargin

  /** Default bucket cap for [[bandBucketsCapped]]: far above the fixture's
    * measured max (q263: 4 at sf0.1 AND at the sf1 scale point — flat), so
    * production recall is untouched; a corpus whose boilerplate mega-bucket
    * crosses it degrades gracefully instead of melting the band join. */
  val LshBucketCap = 64

  /** [[bandBuckets]] annotated with each bucket's size `s` and a `kept`
    * flag (`s <= cap`) — the ACTION a 100 TB pipeline takes when q263's
    * balance report shows a mega-bucket. A bucket of s docs drives
    * s·(s−1)/2 candidate pairs in every downstream join (q70/q74/q261);
    * one boilerplate bucket of 10⁶ identical headers is 5·10¹¹ pairs —
    * the whole stage. Capping SKIPS those buckets from candidate
    * generation with explicit accounting (q264 reports pairs generated
    * vs skipped) rather than letting the join melt; a doc in a skipped
    * bucket still reaches every other band, so recall degrades only for
    * pairs whose ONLY collision is the mega-bucket — exactly the pairs
    * that are near-dups of half the corpus and get caught by exact-hash
    * dedup (q36) anyway. The size annotate is one map-side-combinable
    * aggregate + a (band,sig)-keyed join back — the mega-bucket collapses
    * to one row per input partition before the shuffle. */
  def bandBucketsCapped(docs: DataFrame, cap: Int = LshBucketCap): DataFrame = {
    val buckets = bandBuckets(docs).cutLineage()
    val sizes = buckets.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("s"))
    buckets.join(sizes, Seq("band", "sig"))
      .withColumn("kept", col("s") <= cap)
  }

  /** [[minhashClusters]] over capped buckets: cluster representatives are
    * computed from KEPT buckets only; a document all of whose buckets were
    * capped (possible only when every band collides into a mega-bucket)
    * falls back to representing itself — the doc spine is preserved by a
    * left join, never dropped. With `cap` ≥ the corpus's max bucket this
    * is bit-identical to [[minhashClusters]] (spec-asserted). */
  def minhashClustersCapped(docs: DataFrame, cap: Int = LshBucketCap): DataFrame = {
    val annotated = bandBucketsCapped(docs, cap).cutLineage()
    val kept = annotated.filter(col("kept"))
    val minima = kept
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("bucket_rep"))
    val reps = kept
      .join(minima, Seq("band", "sig"))
      .groupBy(col("doc_id"))
      .agg(min(col("bucket_rep")).as("kept_rep"))
    docs.select(col("doc_id"))
      .join(reps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_rep"), col("doc_id")).as("cluster_rep"))
      .withColumn("is_duplicate", col("cluster_rep") < col("doc_id"))
      .cutLineage()
      .orderBy(col("doc_id"))
  }

  /** Caps q264 reports at: a forced-skip demonstration (2 — the fixture
    * HAS buckets above it, so the skip accounting is exercised in the
    * oracle-checked row) and the production default. */
  private val Q264Caps = Seq(2, LshBucketCap)

  /** q264_lsh_capped — the capped-bucket accounting report: per (cap,
    * band), how many buckets the cap would skip and the candidate-pair
    * cost split into generated vs skipped. The operational complement of
    * q263's balance report: q263 WATCHES the distribution, this measures
    * what the cap ACTION costs (pairs_skipped = recall exposure,
    * pairs_generated = the bounded join the pipeline actually runs). At
    * the production cap the fixture skips nothing (max bucket 4, measured
    * flat at both scale points); cap=2 forces real skips so the
    * accounting path itself is oracle-verified, not just compiled.
    *
    * Scale: one bucket-size aggregate (map-side combinable), exploded
    * ×|caps| (a constant), re-aggregated at (cap, band) cardinality —
    * ≤ 8 output rows. Text never moves. */
  def q264LshCapped(spark: SparkSession, sfDir: String): DataFrame = {
    val sizes = bandBuckets(Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")))
      .groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("s"))
    sizes
      .withColumn("cap", explode(array(Q264Caps.map(lit): _*)))
      .groupBy(col("cap"), col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("s") > col("cap"), 1L).otherwise(0L))
          .as("n_capped_buckets"),
        sum(when(col("s") > col("cap"), col("s")).otherwise(0L))
          .as("docs_in_capped"),
        sum(when(col("s") <= col("cap"), expr("s * (s - 1) div 2"))
          .otherwise(0L)).as("pairs_generated"),
        sum(when(col("s") > col("cap"), expr("s * (s - 1) div 2"))
          .otherwise(0L)).as("pairs_skipped"))
      .orderBy(col("cap"), col("band"))
  }

  val q264Sql: String =
    s"""WITH $lshBucketsCte,
       |sizes AS (
       |  SELECT band, sig, CAST(count(*) AS BIGINT) AS s
       |  FROM buckets GROUP BY 1, 2),
       |capped AS (
       |  SELECT c.cap, z.band, z.s
       |  FROM sizes z CROSS JOIN
       |       (SELECT unnest([${Q264Caps.mkString(", ")}]) AS cap) c)
       |SELECT cap, band, CAST(count(*) AS BIGINT) AS n_buckets,
       |       CAST(sum(CASE WHEN s > cap THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_capped_buckets,
       |       CAST(sum(CASE WHEN s > cap THEN s ELSE 0 END) AS BIGINT)
       |         AS docs_in_capped,
       |       CAST(sum(CASE WHEN s <= cap THEN s * (s - 1) // 2
       |                ELSE 0 END) AS BIGINT) AS pairs_generated,
       |       CAST(sum(CASE WHEN s > cap THEN s * (s - 1) // 2
       |                ELSE 0 END) AS BIGINT) AS pairs_skipped
       |FROM capped GROUP BY cap, band
       |ORDER BY cap, band""".stripMargin

  val q261Sql: String =
    s"""WITH $lshBucketsCte,
       |idx AS (
       |  SELECT band, sig, min(doc_id) AS corpus_rep FROM buckets
       |  WHERE doc_id % $IncrementalLshMod <> 0 GROUP BY 1, 2),
       |probe AS (
       |  SELECT * FROM buckets WHERE doc_id % $IncrementalLshMod = 0),
       |bmin AS (
       |  SELECT band, sig, min(doc_id) AS batch_min FROM probe
       |  GROUP BY 1, 2),
       |chit AS (
       |  SELECT p.doc_id, min(i.corpus_rep) AS corpus_rep
       |  FROM probe p JOIN idx i ON p.band = i.band AND p.sig = i.sig
       |  GROUP BY 1),
       |bhit AS (
       |  SELECT p.doc_id, min(b.batch_min) AS batch_rep
       |  FROM probe p JOIN bmin b ON p.band = b.band AND p.sig = b.sig
       |  WHERE b.batch_min < p.doc_id GROUP BY 1)
       |SELECT d.doc_id, d.source, c.corpus_rep, b.batch_rep,
       |       CASE WHEN c.corpus_rep IS NOT NULL THEN 'dup_corpus'
       |            WHEN b.batch_rep IS NOT NULL THEN 'dup_batch'
       |            ELSE 'novel' END AS verdict
       |FROM documents d
       |LEFT JOIN chit c ON c.doc_id = d.doc_id
       |LEFT JOIN bhit b ON b.doc_id = d.doc_id
       |WHERE d.doc_id % $IncrementalLshMod = 0
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- SimHash

  /** SimHash bit width: two independent 31-bit char-polynomial hashes
    * composed ([[StableHash.charPoly62]]) — 62 bits instead of xxhash64's
    * 64, in exchange for a hash the SQL oracle can replay exactly. Hamming
    * geometry is unchanged for near-dup detection. */
  val SimhashBits = 62

  /** 62-bit SimHash per document over any (doc_id, text) frame: per-bit
    * majority vote over the token hashes, reduced map-side to 62 counters
    * (one hash-aggregate, partial combine before the shuffle). Docs within
    * a small Hamming distance are near-duplicates. The token hash is
    * computed once per token in its own projection; the 62 vote sums
    * consume it as an attribute, so the fold is never duplicated. */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      // codegen'd native form — bit-identical to StableHash.charPoly62,
      // but fused into the surrounding stage instead of an interpreted HOF
      .select(col("doc_id"),
        graft.functions.StableHashExpression.charPoly62(col("tok")).as("th"))
    val votes = (0 until SimhashBits).map { j =>
      sum(when(shiftright(col("th"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v_$j")
    }
    val sim = (0 until SimhashBits).map { j =>
      when(col(s"v_$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sim.as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** q71_simhash — [[simhash]] on the documents fixture. Fully
    * oracle-checked: [[q71Sql]] replays the token hash and the per-bit
    * majority votes in DuckDB. */
  def q71Simhash(spark: SparkSession, sfDir: String): DataFrame =
    simhash(Tables.documents(spark, sfDir))

  /** Generated oracle for q71. The bit loop is a lateral range(0, 62) join
    * rather than 62 generated CASE columns — same votes, compact SQL. */
  val q71Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |th AS (
       |  SELECT doc_id,
       |         list_reduce(list_transform(string_split(tok, ''),
       |                     c -> CAST(ascii(c) AS BIGINT)),
       |                     (acc, x) -> (acc * 131 + x) % ${StableHash.P1})
       |           * 2147483648
       |       + list_reduce(list_transform(string_split(tok, ''),
       |                     c -> CAST(ascii(c) AS BIGINT)),
       |                     (acc, x) -> (acc * 137 + x) % ${StableHash.P2})
       |           AS th
       |  FROM toks WHERE tok <> ''),
       |votes AS (
       |  SELECT doc_id, j,
       |         sum(CASE WHEN (th >> CAST(j AS INT)) & 1 = 1
       |                  THEN 1 ELSE -1 END) AS v
       |  FROM th, range(0, $SimhashBits) r(j)
       |  GROUP BY doc_id, j)
       |SELECT doc_id,
       |       CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << CAST(j AS INT)
       |                     ELSE 0 END) AS BIGINT) AS simhash
       |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- n-gram Jaccard

  /** Per-document distinct 3-gram sets, shrunk to 64-bit hashes before any
    * shuffle — (id, long) rows instead of ~25-char strings. Collision odds
    * at corpus vocabulary sizes are ~V²/2^65 (vanishing); intersection
    * counts are otherwise identical to the string form the oracles compute. */
  private[ops] def hashedGrams(docs: DataFrame): DataFrame =
    wordGrams(docs)
      .select(col("doc_id"), xxhash64(col("gram")).as("gram"))
      .distinct()

  /** Candidate pairs (d1 < d2 <= d1+W) sharing ≥1 gram, with the shared-gram
    * count. The band predicate is lifted into the equi-join key: d2 ∈
    * (d1, d1+W] implies d2 div W ∈ {d1 div W, d1 div W + 1}, so the left
    * side emits two bucket keys and the join matches on (gram, bucket).
    * Without this, a gram appearing in f documents produces f² candidate
    * rows before the band filter — quadratic in corpus size for common
    * grams; with it, pairs are bounded per (gram, bucket). */
  private[ops] def bandedGramPairs(grams: DataFrame, W: Long): DataFrame = {
    val g1 = grams.select(col("doc_id").as("d1"), col("gram").as("gram1"),
      explode(array(expr(s"doc_id div $W"), expr(s"doc_id div $W + 1")))
        .as("bk"))
    val g2 = grams.select(col("doc_id").as("d2"), col("gram").as("gram2"),
      expr(s"doc_id div $W").as("bk2"))
    g1.join(g2,
        col("gram1") === col("gram2") && col("bk") === col("bk2") &&
        col("d2") > col("d1") && col("d2") <= col("d1") + W)
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_inter"))
  }

  /** Exact 3-gram Jaccard similarity over a bounded candidate band
    * (0 < d2 - d1 <= W — in production the band comes from q70's LSH
    * buckets, keeping the pair space near-linear). Pure set-arithmetic on
    * exploded distinct grams. */
  def ngramJaccard(docs: DataFrame, W: Long): DataFrame = {
    // MEASURED-REJECTION NOTE (recompute audit: the distinct-gram frame
    // feeds both candidate sides and the sizes aggregate — two 3-op
    // findings): persisting it was A/B'd in r13 (worktree-alternating
    // runs, timed min-of-2) and rejected — sf0.1 1.04→1.43 s (+38%),
    // sf1 7.24→7.17 (wash). ReuseExchange runs the gram-distinct
    // exchange once; the duplicates are post-shuffle narrow tails, and
    // columnar-caching the exploded gram frame costs more than
    // recomputing them. Registry: RecomputeAudit.measuredRejections.
    val grams = hashedGrams(docs)
    val sizes = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    bandedGramPairs(grams, W)
      .join(sizes.toDF("d1", "n1"), "d1")
      .join(sizes.toDF("d2", "n2"), "d2")
      .select(col("d1"), col("d2"), col("n_inter"),
        (col("n_inter") / (col("n1") + col("n2") - col("n_inter")))
          .as("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** q72_ngram_jaccard — [[ngramJaccard]] (W=10) on the documents fixture;
    * fully oracle-checkable. */
  def q72NgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccard(Tables.documents(spark, sfDir), 10L)

  val q72Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, greatest(len(t) - 1, 2)),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      |  FROM toks WHERE len(t) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT g1.doc_id AS d1, g2.doc_id AS d2, count(*) AS n_inter
      |  FROM grams g1 JOIN grams g2
      |    ON g1.gram = g2.gram
      |   AND g2.doc_id > g1.doc_id AND g2.doc_id <= g1.doc_id + 10
      |  GROUP BY 1, 2)
      |SELECT d1, d2, n_inter,
      |       n_inter / (s1.n + s2.n - n_inter) AS jaccard
      |FROM inter
      |JOIN sizes s1 ON s1.doc_id = d1
      |JOIN sizes s2 ON s2.doc_id = d2
      |ORDER BY d1, d2""".stripMargin

  /** q248_containment — ASYMMETRIC near-duplicate detection: for each
    * banded candidate pair, the containment coefficient
    * C = |A∩B| / min(|A|,|B|) over distinct 3-gram sets, with the
    * contained (smaller-set) document identified in-row. Jaccard (q72)
    * misses the quote/boilerplate case this catches: a short document
    * pasted verbatim into a much longer one has LOW Jaccard (the union is
    * big) but containment ≈ 1 — the "near-superset" relation a curation
    * pipeline must treat as a duplicate of the smaller doc, not a novel
    * document. Same candidate machinery as q72 ([[bandedGramPairs]]), so
    * the two screens share one gram pass in production.
    *
    * Scale: identical shape to q72 — gram-hash-keyed candidate join
    * bounded by the band window, sizes joined at doc cardinality, one
    * division per pair. */
  def q248Containment(spark: SparkSession, sfDir: String): DataFrame = {
    // MEASURED-REJECTION NOTE (same diamond as q72 — shared machinery):
    // persisting grams A/B'd in r13 and rejected — sf0.1 1.59→2.08 s
    // (+31%), sf1 8.01→7.27 (wash-to-win inside host spread, the sf0.1
    // loss decides). Registry: RecomputeAudit.measuredRejections.
    val grams = hashedGrams(Tables.documents(spark, sfDir))
    val sizes = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    bandedGramPairs(grams, 10L)
      .join(sizes.toDF("d1", "n1"), "d1")
      .join(sizes.toDF("d2", "n2"), "d2")
      .select(col("d1"), col("d2"), col("n_inter"),
        least(col("n1"), col("n2")).as("n_small"),
        (col("n_inter") / least(col("n1"), col("n2"))).as("containment"),
        when(col("n1") <= col("n2"), col("d1")).otherwise(col("d2"))
          .as("contained_doc"))
      .withColumn("near_superset", col("containment") >= 0.5)
      .orderBy(col("d1"), col("d2"))
  }

  val q248Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, greatest(len(t) - 1, 2)),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      |  FROM toks WHERE len(t) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT g1.doc_id AS d1, g2.doc_id AS d2, count(*) AS n_inter
      |  FROM grams g1 JOIN grams g2
      |    ON g1.gram = g2.gram
      |   AND g2.doc_id > g1.doc_id AND g2.doc_id <= g1.doc_id + 10
      |  GROUP BY 1, 2)
      |SELECT d1, d2, n_inter,
      |       least(s1.n, s2.n) AS n_small,
      |       n_inter / least(s1.n, s2.n) AS containment,
      |       CASE WHEN s1.n <= s2.n THEN d1 ELSE d2 END AS contained_doc,
      |       n_inter / least(s1.n, s2.n) >= 0.5 AS near_superset
      |FROM inter
      |JOIN sizes s1 ON s1.doc_id = d1
      |JOIN sizes s2 ON s2.doc_id = d2
      |ORDER BY d1, d2""".stripMargin

  /** q172_lsh_audit — does the approximate dedup find what the exact one
    * finds? Confusion-matrix audit of MinHash+LSH cluster membership
    * ([[minhashClusters]], "in a multi-doc cluster") against the exact
    * shared-3-gram duplicate groups ([[Components.dupGroups]], "in a
    * multi-doc component"), with precision/recall in the same row. The
    * dedup-path counterpart of q152's ANN recall audit: the approximation
    * error is itself oracle-checked, because both sides replay exactly in
    * SQL (the q70 + q83 oracles compose as subqueries). Note the ground
    * truth is intentionally LOOSER than MinHash's target (any shared
    * 3-gram within the band window vs high-Jaccard similarity), so low
    * recall against it is the expected, truthful reading — the audit
    * exists to make that threshold gap a measured number, not a guess.
    *
    * Scale: both inputs are the already-scale-shaped q70/q83 plans; the
    * audit adds one cluster-cardinality aggregate, a doc-keyed join, and a
    * global one-row aggregate (map-side combine all the way). */
  def q172LshAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val cl = minhashClusters(docs)
      .select(col("doc_id"), col("cluster_rep"))
      .cutLineage() // two consumers: membership counts + join-back
    val lsh = cl
      .join(cl.groupBy(col("cluster_rep")).agg(count(lit(1)).as("cn")),
        Seq("cluster_rep"))
      .select(col("doc_id"), (col("cn") >= 2L).as("lsh_dup"))
    val ex = Components.dupGroups(docs)
      .select(col("doc_id"), (col("n_members") >= 2L).as("exact_dup"))
    lsh.join(ex, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lsh_dup") && col("exact_dup"), 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("lsh_dup") && !col("exact_dup"), 1L).otherwise(0L))
          .as("fp"),
        sum(when(!col("lsh_dup") && col("exact_dup"), 1L).otherwise(0L))
          .as("fn"),
        sum(when(!col("lsh_dup") && !col("exact_dup"), 1L).otherwise(0L))
          .as("tn"))
      .select(col("n_docs"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") === 0L, lit(0.0))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fp")))
          .as("lsh_precision"),
        when(col("tp") + col("fn") === 0L, lit(0.0))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fn")))
          .as("lsh_recall"))
  }

  /** Composed oracle for q172 — [[q70Sql]] and [[Components.q83Sql]] as
    * subqueries, the q152 composition pattern. */
  val q172Sql: String =
    s"""WITH cl AS (SELECT doc_id, cluster_rep FROM ($q70Sql)),
       |cs AS (SELECT cluster_rep, count(*) AS cn FROM cl GROUP BY 1),
       |lsh AS (SELECT cl.doc_id, cs.cn >= 2 AS lsh_dup
       |        FROM cl JOIN cs USING (cluster_rep)),
       |ex AS (SELECT doc_id, n_members >= 2 AS exact_dup
       |       FROM (${Components.q83Sql})),
       |j AS (SELECT l.lsh_dup, e.exact_dup
       |      FROM lsh l JOIN ex e USING (doc_id)),
       |c AS (SELECT count(*) AS n_docs,
       |  CAST(sum(CASE WHEN lsh_dup AND exact_dup THEN 1 ELSE 0 END)
       |       AS BIGINT) AS tp,
       |  CAST(sum(CASE WHEN lsh_dup AND NOT exact_dup THEN 1 ELSE 0 END)
       |       AS BIGINT) AS fp,
       |  CAST(sum(CASE WHEN NOT lsh_dup AND exact_dup THEN 1 ELSE 0 END)
       |       AS BIGINT) AS fn,
       |  CAST(sum(CASE WHEN NOT lsh_dup AND NOT exact_dup THEN 1 ELSE 0 END)
       |       AS BIGINT) AS tn
       |  FROM j)
       |SELECT n_docs, tp, fp, fn, tn,
       |       CASE WHEN tp + fp = 0 THEN 0.0
       |            ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS lsh_precision,
       |       CASE WHEN tp + fn = 0 THEN 0.0
       |            ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS lsh_recall
       |FROM c""".stripMargin

  // ------------------------------------------------------------- LSH sweep

  /** Band configurations evaluated by the sweep: every divisor split of the
    * [[NumHashes]]=16 signature (1·16 and 16·1 excluded as degenerate-cost /
    * degenerate-recall extremes that still appear via the monotonicity law
    * anchors 2 and 16). Boundaries NEST (band b of the nb-band config is
    * rows [b·16/nb, (b+1)·16/nb)), so an all-equal band at a coarser config
    * implies all-equal sub-bands at every finer config — candidate sets are
    * monotone in nb, which LshSweepSpec pins as a law. */
  private[ops] val SweepBands: Seq[Int] = Seq(2, 4, 8, 16)

  /** q223_lsh_sweep — LSH parameter tuning in ONE signature pass: evaluate
    * every [[SweepBands]] banding of the same 16-hash MinHash signature and
    * report, per configuration, the candidate-duplicate volume and its
    * precision/recall against the gram-overlap duplicate components
    * ([[Components.dupGroups]] — the same reference truth q172 audits
    * against). This is the production knob-turning query: before running
    * near-dedup over 100 TB you sweep (bands, rows) on a sample to pick the
    * operating point on the precision/recall curve, and the expensive part —
    * shingling + k permutations — must be paid once, not once per config.
    *
    * Scale: the signature frame (one row per doc, 16 longs) is materialized
    * once and each config re-derives its band keys by a NARROW projection of
    * that checkpoint (unlike q70, where the un-cut subtree below the bucket
    * fan-out was the whole signature pipeline, the recompute here is a
    * checkpoint scan + arithmetic — no shuffle, no shingling). Per config the
    * shuffles move (doc_id, band, sig) tuples and the bucket-count join gets
    * map-side combine; the reference-truth side is computed once and cut.
    * All counts are integers; the two ratios are single IEEE divisions —
    * hash-exact cross-engine. */
  def q223LshSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val signed = signatures(docs).cutLineage()
    val ref = Components.dupGroups(docs)
      .select(col("doc_id"), (col("n_members") >= 2L).as("ref_dup"))
      .cutLineage()
    // ALL four sweep configs in ONE pass (r15 optimization, guide §2.4):
    // the former per-config subtrees each paid their own explode,
    // bucket-count exchange, bucket⋈count join, and per-doc aggregate —
    // 4× every stage over the same signature frame, unioned at the end.
    // Tagging each band row with its config's band count `nb` and keying
    // every stage by (nb, …) computes the identical confusion counts in
    // one explode, one bucket aggregate, one join, and two aggregates —
    // same total row volume (Σ nb bands per doc), a quarter of the
    // stages/exchanges. Per-config folds are byte-identical to before.
    val bandCols = SweepBands.flatMap { nb =>
      (0 until nb).map { b =>
        val fold = (b * NumHashes / nb until (b + 1) * NumHashes / nb)
          .map(j => col(s"sig_$j"))
          .foldLeft(lit(0L): org.apache.spark.sql.Column)(
            (acc, s) => pmod(acc * lit(65599L) + s, lit(MinhashP)))
        struct(lit(nb).as("nb"), lit(b).as("band"), fold.as("sig"))
      }
    }
    val buckets = signed
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.nb").as("nb"),
        col("bk.band").as("band"), col("bk.sig").as("sig"))
    val counts = buckets.groupBy(col("nb"), col("band"), col("sig"))
      .agg(count(lit(1)).as("cn"))
    val flag = buckets.join(counts, Seq("nb", "band", "sig"))
      .groupBy(col("nb"), col("doc_id")).agg(max(col("cn")).as("mx"))
      .select(col("nb"), col("doc_id"), (col("mx") >= 2L).as("lsh_dup"))
    flag.join(ref, Seq("doc_id"))
      .groupBy(col("nb"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lsh_dup") && col("ref_dup"), 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("lsh_dup") && !col("ref_dup"), 1L).otherwise(0L))
          .as("fp"),
        sum(when(!col("lsh_dup") && col("ref_dup"), 1L).otherwise(0L))
          .as("fn"),
        sum(when(!col("lsh_dup") && !col("ref_dup"), 1L).otherwise(0L))
          .as("tn"))
      .select(col("nb").as("n_bands"),
        expr(s"$NumHashes div nb").cast("int").as("rows_per_band"),
        col("n_docs"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") === 0L, lit(0.0))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fp")))
          .as("lsh_precision"),
        when(col("tp") + col("fn") === 0L, lit(0.0))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fn")))
          .as("lsh_recall"))
      .orderBy(col("n_bands"))
  }

  /** Generated oracle for q223: [[q70Sql]]'s gram-hash/signature CTE prefix,
    * then per-[[SweepBands]] config the band fold, bucket counts, per-doc
    * candidate flag, and confusion counts against [[Components.q83Sql]] as
    * the reference truth (the q172 composition pattern). */
  val q223Sql: String = {
    val p = MinhashP
    val sigCols = minhashCoeffs.zipWithIndex.map { case ((a, b), j) =>
      s"min((gh * $a + $b) % $p) AS sig_$j"
    }.mkString(",\n         ")
    val configs = SweepBands.map { nb =>
      val bands = (0 until nb).map { b =>
        val fold = (b * NumHashes / nb until (b + 1) * NumHashes / nb)
          .map(j => s"sig_$j")
          .foldLeft("CAST(0 AS BIGINT)")(
            (acc, s) => s"(($acc) * 65599 + $s) % $p")
        s"SELECT doc_id, $b AS band, $fold AS sig FROM sigs"
      }.mkString("\n  UNION ALL\n  ")
      s"""b$nb AS (
         |  $bands),
         |c$nb AS (SELECT band, sig, count(*) AS cn FROM b$nb GROUP BY 1, 2),
         |f$nb AS (SELECT b.doc_id, max(c.cn) >= 2 AS lsh_dup
         |         FROM b$nb b JOIN c$nb c
         |           ON b.band = c.band AND b.sig = c.sig
         |         GROUP BY b.doc_id),
         |m$nb AS (
         |  SELECT $nb AS n_bands, ${NumHashes / nb} AS rows_per_band,
         |    count(*) AS n_docs,
         |    CAST(sum(CASE WHEN lsh_dup AND ref_dup THEN 1 ELSE 0 END)
         |         AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN lsh_dup AND NOT ref_dup THEN 1 ELSE 0 END)
         |         AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN NOT lsh_dup AND ref_dup THEN 1 ELSE 0 END)
         |         AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN NOT lsh_dup AND NOT ref_dup THEN 1 ELSE 0 END)
         |         AS BIGINT) AS tn
         |  FROM f$nb JOIN ref USING (doc_id))""".stripMargin
    }.mkString(",\n")
    val union = SweepBands.map { nb =>
      s"""SELECT n_bands, rows_per_band, n_docs, tp, fp, fn, tn,
         |  CASE WHEN tp + fp = 0 THEN 0.0
         |       ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS lsh_precision,
         |  CASE WHEN tp + fn = 0 THEN 0.0
         |       ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS lsh_recall
         |FROM m$nb""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         list_transform(string_split(text, ' '),
       |           tok -> list_reduce(list_transform(string_split(tok, ''),
       |                  c -> CAST(ascii(c) AS BIGINT)),
       |                  (acc, x) -> (acc * 131 + x) % $p)) AS th
       |  FROM documents),
       |gh AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, greatest(len(th) - 1, 2)),
       |                i -> (((th[i] * 65599 + th[i+1]) % $p) * 65599
       |                      + th[i+2]) % $p)) AS gh
       |  FROM toks WHERE len(th) >= 3
       |  UNION ALL
       |  SELECT doc_id,
       |         list_reduce(list_transform(string_split(text, ''),
       |                     c -> CAST(ascii(c) AS BIGINT)),
       |                     (acc, x) -> (acc * 131 + x) % $p) AS gh
       |  FROM documents WHERE len(string_split(text, ' ')) < 3),
       |sigs AS (
       |  SELECT doc_id,
       |         $sigCols
       |  FROM gh GROUP BY doc_id),
       |ref AS (SELECT doc_id, n_members >= 2 AS ref_dup
       |        FROM (${Components.q83Sql})),
       |$configs
       |$union
       |ORDER BY n_bands""".stripMargin
  }
}
