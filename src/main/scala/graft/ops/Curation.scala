package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation operators for training-data pipelines — the steps a
  * 100 TB pretraining corpus goes through between raw crawl and tokenizer:
  * benchmark decontamination, repetition-quality filtering (Gopher-style),
  * domain mixture control, sequence packing, and cross-document novelty.
  * The reference's ELT tier has no equivalent; these are north-star tier X
  * (BASELINE.json) alongside the dedup family in [[Dedup]]/[[Components]].
  *
  * Scale design notes per operator are on each method; the common rules:
  * gram streams are hashed to 64-bit longs before any shuffle, benchmark /
  * per-domain side tables are broadcast, window work is partitioned by a
  * parallel key (source), and all output arithmetic is exact integers or
  * single IEEE divisions of exact integers so the DuckDB oracle
  * hash-matches bit-for-bit.
  */
object Curation {

  // ------------------------------------------------------------ shared

  /** n-token shingles as rows (doc_id, [carry...], gram) — [[Dedup
    * .wordGrams]] generalized: zip the token array against n−1 shifted
    * slices and explode. Map-side only, codegen'd, zero shuffle.
    * Raw-split indexing (empties kept) mirrors the oracles' string_split.
    * `carry` columns ride through the explode so callers that need
    * per-doc attributes (e.g. source) never join them back onto the gram
    * stream — at corpus scale a doc_id→attribute join-back is a
    * doc-cardinality broadcast or a full shuffle; a carried column is
    * free. */
  private[ops] def nGrams(docs: DataFrame, n: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val t = split(col("text"), " ")
    val m = greatest(size(t) - (n - 1), lit(0))
    val parts = (1 to n).map(i => slice(t, lit(i), m).as(s"w$i"))
    val keep = col("doc_id") +: carry.map(col)
    docs
      .select(keep :+ explode(arrays_zip(parts: _*)).as("z"): _*)
      .select(keep :+
        concat_ws(" ", (1 to n).map(i => col(s"z.w$i")): _*).as("gram"): _*)
  }

  /** DuckDB twin of [[nGrams]] as a CTE body over `documents`. */
  private def nGramsSql(n: Int): String = {
    val concat = (0 until n).map(i => s"t[i+$i]").mkString(" || ' ' || ")
    s"""SELECT doc_id,
       |         unnest(list_transform(range(1, greatest(len(t) - ${n - 2}, 2)),
       |                i -> $concat)) AS gram
       |  FROM toks WHERE len(t) >= $n""".stripMargin
  }

  // ---------------------------------------------------- decontamination

  /** Benchmark membership predicate: a held-out eval slice planted inside
    * the corpus (every 20th doc). In production this side is a separate
    * tiny table of eval-set grams; the semantics are identical. */
  private val BenchMod = 20L
  private val BenchRem = 7L
  private val DecontamN = 5

  /** q57_decontaminate — benchmark decontamination: flag training documents
    * sharing at least one 5-gram with the held-out benchmark slice, with
    * the shared-gram count and fraction (the n-gram-overlap rule used to
    * scrub eval leakage from pretraining corpora; 5 tokens ≈ the 8-13-gram
    * rules at web scale, scaled to the fixture's ~54-token docs).
    *
    * Scale: train grams are (id, long-hash) rows; the benchmark gram set is
    * DISTINCT + broadcast (eval suites are KB-to-MB against a 100 TB
    * corpus — never shuffle the corpus for them). One hash aggregate per
    * doc after the broadcast semi-ish join; no corpus self-join. */
  def q57Decontaminate(spark: SparkSession, sfDir: String): DataFrame =
    decontaminate(Tables.documents(spark, sfDir),
      pmod(col("doc_id"), lit(BenchMod)) === lit(BenchRem))
      .orderBy(col("doc_id"))

  /** The decontamination core over any (doc_id, text) frame: rows where
    * `benchPred` holds are the benchmark slice; returns the contaminated
    * TRAIN docs with overlap counts. See [[q57Decontaminate]]. */
  def decontaminate(docs: DataFrame, benchPred: Column): DataFrame = {
    val grams = nGrams(docs, DecontamN)
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .distinct()
    val benchIds = docs.filter(benchPred).select(col("doc_id"))
    val benchGrams = grams.join(broadcast(benchIds), Seq("doc_id"))
      .select(col("gh")).distinct()
    val trainGrams = grams.join(broadcast(benchIds), Seq("doc_id"), "left_anti")
    val sizes = trainGrams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val shared = trainGrams
      .join(broadcast(benchGrams), Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    shared.join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("n_shared"), col("n_grams"),
        (col("n_shared") / col("n_grams")).as("shared_frac"))
  }

  val q57Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams AS (
       |  SELECT DISTINCT doc_id, gram FROM (
       |  ${nGramsSql(DecontamN)})),
       |bench AS (
       |  SELECT DISTINCT gram FROM grams WHERE doc_id % $BenchMod = $BenchRem),
       |train AS (SELECT * FROM grams WHERE doc_id % $BenchMod <> $BenchRem),
       |sizes AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY 1),
       |shared AS (
       |  SELECT t.doc_id, count(*) AS n_shared
       |  FROM train t JOIN bench b ON t.gram = b.gram GROUP BY 1)
       |SELECT s.doc_id, s.n_shared, z.n_grams,
       |       s.n_shared / z.n_grams AS shared_frac
       |FROM shared s JOIN sizes z USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- repetition quality

  /** q58_repetition — Gopher-style repetition signals per document:
    * distinct-token ratio, most-frequent-2-gram fraction, and the fraction
    * of 3-gram occurrences belonging to a repeated 3-gram, plus the
    * combined keep/flag decision (thresholds after Rae et al. 2021 §A1.1,
    * adapted to short fixture docs). Boilerplate and template spam show up
    * as high top2/dup3 long before exact dedup can catch them.
    *
    * Scale: three per-document hash aggregates over map-side gram streams,
    * joined on doc_id — each shuffle carries one row per (doc, gram),
    * partial-combined. Ratios are single IEEE divisions of exact counts. */
  def q58Repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val tokStats = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"))
    val top2 = nGrams(docs, 2)
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top2_count"), sum(col("c")).as("n_2grams"))
    val dup3 = nGrams(docs, 3)
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup3_count"),
        sum(col("c")).as("n_3grams"))
    tokStats.join(top2, Seq("doc_id")).join(dup3, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_distinct") / col("n_tokens")).as("distinct_ratio"),
        (col("top2_count") / col("n_2grams")).as("top2_frac"),
        (col("dup3_count") / col("n_3grams")).as("dup3_frac"),
        (col("n_distinct") / col("n_tokens") < 0.3 ||
          col("top2_count") / col("n_2grams") > 0.2 ||
          col("dup3_count") / col("n_3grams") > 0.4).as("flagged"))
      .orderBy(col("doc_id"))
  }

  val q58Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(t) AS tok FROM toks),
       |tokstats AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |         count(DISTINCT tok) AS n_distinct
       |  FROM tok WHERE tok <> '' GROUP BY 1),
       |g2 AS (SELECT doc_id, gram, count(*) AS c FROM (
       |  ${nGramsSql(2)}) GROUP BY 1, 2),
       |top2 AS (
       |  SELECT doc_id, max(c) AS top2_count, sum(c) AS n_2grams
       |  FROM g2 GROUP BY 1),
       |g3 AS (SELECT doc_id, gram, count(*) AS c FROM (
       |  ${nGramsSql(3)}) GROUP BY 1, 2),
       |dup3 AS (
       |  SELECT doc_id,
       |         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup3_count,
       |         sum(c) AS n_3grams
       |  FROM g3 GROUP BY 1)
       |SELECT t.doc_id, t.n_tokens,
       |       t.n_distinct / t.n_tokens AS distinct_ratio,
       |       p.top2_count / p.n_2grams AS top2_frac,
       |       d.dup3_count / d.n_3grams AS dup3_frac,
       |       (t.n_distinct / t.n_tokens < 0.3
       |        OR p.top2_count / p.n_2grams > 0.2
       |        OR d.dup3_count / d.n_3grams > 0.4) AS flagged
       |FROM tokstats t JOIN top2 p USING (doc_id) JOIN dup3 d USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- domain mixture

  /** Knuth multiplicative constant — the deterministic per-doc "random"
    * rank key for quota sampling (stable across runs and partitionings,
    * unlike rand()). */
  private val MixHashA = 2654435761L
  private val MixHashP = 1000000007L

  /** q59_domain_mix — per-domain quota sampling: cap each source at
    * quota = 60% of the mean docs-per-source, keeping a deterministic
    * pseudo-random subset (rank by hashed doc_id). This is the
    * crawl-domain rebalancing step of corpus assembly — cap the
    * over-crawled domains, keep the rest whole — with exact quota
    * satisfaction, not rate-approximate keep/drop.
    *
    * Output is the per-source audit row: docs seen, quota, docs kept, and
    * an exact checksum (sum of kept doc_ids) proving BOTH engines selected
    * the identical documents, not merely the same count.
    *
    * Scale: the rank window partitions by source — thousands of domains ⇒
    * thousands of independent partitions; a mega-domain is one task but
    * only over ITS rows (and the rank can fall back to approximate
    * per-partition quotas when one domain outgrows a task). Counts and
    * checksums are algebraic aggregates with map-side combine. */
  def q59DomainMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val total = docs.count() // tiny action on a counted parquet footer
    val nSources = docs.select(col("source")).distinct().count()
    val quota = (6L * (total / nSources)) / 10L
    val h = pmod(col("doc_id") * lit(MixHashA), lit(MixHashP))
    val ranked = docs
      .select(col("doc_id"), col("source"), h.as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("h"), col("doc_id"))))
    ranked
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rk") <= quota, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rk") <= quota, col("doc_id")).otherwise(0L))
          .as("kept_checksum"))
      .withColumn("quota", lit(quota))
      .select(col("source"), col("n_docs"), col("quota"), col("n_kept"),
        col("kept_checksum"))
      .orderBy(col("source"))
  }

  val q59Sql: String =
    s"""WITH params AS (
       |  SELECT (6 * ((SELECT count(*) FROM documents)
       |               // (SELECT count(DISTINCT source) FROM documents))) // 10
       |         AS quota),
       |ranked AS (
       |  SELECT doc_id, source,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY (doc_id * $MixHashA) % $MixHashP, doc_id) AS rk
       |  FROM documents)
       |SELECT source, count(*) AS n_docs,
       |       (SELECT quota FROM params) AS quota,
       |       CAST(sum(CASE WHEN rk <= (SELECT quota FROM params)
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN rk <= (SELECT quota FROM params)
       |                THEN doc_id ELSE 0 END) AS BIGINT) AS kept_checksum
       |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------- sequence packing

  private val PackChunk = 512L

  /** q64_packing — sequence packing: concatenate each source's documents in
    * doc_id order and chop the token stream into fixed 512-token training
    * chunks; emit each document's offset bookkeeping — start offset,
    * first/last chunk ids, and whether it straddles a chunk boundary (the
    * concat-then-chop packing used to build pretraining batches; per-source
    * streams mirror per-shard packing).
    *
    * Scale: the running offset is a window sum partitioned by source — each
    * shard packs independently and in parallel, which is exactly how the
    * production job shards (a global single-stream pack would serialize
    * into one task; sharded packing is the standard answer). Integer
    * arithmetic throughout. */
  def q64Packing(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val n = size(split(col("text"), " ")).cast("long")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withOff = docs
      .select(col("doc_id"), col("source"), n.as("n_tokens"))
      .withColumn("end_off", sum(col("n_tokens")).over(w))
      .withColumn("start_off", col("end_off") - col("n_tokens"))
    withOff
      .select(col("doc_id"), col("source"), col("n_tokens"), col("start_off"),
        expr(s"start_off div $PackChunk").as("first_chunk"),
        expr(s"(end_off - 1) div $PackChunk").as("last_chunk"))
      .withColumn("crosses_chunk", col("first_chunk") =!= col("last_chunk"))
      .orderBy(col("doc_id"))
  }

  val q64Sql: String =
    s"""WITH sized AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |offs AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS BIGINT) AS end_off
       |  FROM sized)
       |SELECT doc_id, source, n_tokens,
       |       end_off - n_tokens AS start_off,
       |       (end_off - n_tokens) // $PackChunk AS first_chunk,
       |       (end_off - 1) // $PackChunk AS last_chunk,
       |       ((end_off - n_tokens) // $PackChunk
       |         <> (end_off - 1) // $PackChunk) AS crosses_chunk
       |FROM offs ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- novelty

  /** q65_novelty — cross-document novelty scoring: for each document, the
    * fraction of its distinct 3-grams whose FIRST corpus occurrence (by
    * doc_id order) is this document. Late boilerplate scores near 0, fresh
    * content near 1 — the global-diversity counterpart to q58's
    * within-document repetition (novelty-based filtering/weighting in
    * data-curation pipelines).
    *
    * Scale: one shuffle keyed by gram hash for the global min (map-side
    * partial min collapses hot grams — no mega-bucket task), then a
    * doc-keyed count-if aggregate. Gram text never shuffles, only 64-bit
    * hashes. */
  def q65Novelty(spark: SparkSession, sfDir: String): DataFrame =
    novelty(Tables.documents(spark, sfDir))

  /** The novelty core over any (doc_id, text) frame — see [[q65Novelty]]. */
  def novelty(docs: DataFrame): DataFrame = {
    val grams = nGrams(docs, 3)
      .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
      .distinct()
    val first = grams.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel") / col("n_grams")).as("novelty_frac"))
      .orderBy(col("doc_id"))
  }

  val q65Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams AS (
       |  SELECT DISTINCT doc_id, gram FROM (
       |  ${nGramsSql(3)})),
       |first AS (SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY 1)
       |SELECT g.doc_id, count(*) AS n_grams,
       |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_novel,
       |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
       |         AS BIGINT) / count(*) AS novelty_frac
       |FROM grams g JOIN first f USING (gram)
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  // ------------------------------------------------- duplicated spans

  /** Span width for q166: 8-token windows, the "long enough to be
    * boilerplate, short enough to catch it" setting. */
  private val SpanW = 8

  /** q166_span_dedup — exact duplicated-substring detection: find every
    * 8-token span occurring more than once in the corpus, merge overlapping
    * and adjacent duplicated spans into maximal regions per document, and
    * report each document's duplicated-token footprint. This is the
    * substring-level dedup of "Deduplicating Training Data Makes Language
    * Models Better" (Lee et al. 2022) re-expressed relationally: the
    * suffix-array step becomes a gram-frequency shuffle, and the span
    * merging is the gaps-and-islands pattern in token space (running-max
    * sweep, q150's technique over positions instead of days).
    *
    * Scale: positional grams are map-side (`arrays_zip` slices +
    * `posexplode`); the duplicate test is one gram-keyed aggregate with
    * map-side partial counts (a hot boilerplate gram collapses per-task
    * before the exchange, no mega-bucket); the merge window partitions by
    * doc_id (bounded by tokens-per-doc). At 100 TB the gram strings would
    * hash to 64-bit before the shuffle (q72's trick); the fixture-exact
    * form keeps the strings so the oracle replays the identical duplicate
    * decision with zero collision caveat. */
  def q166SpanDedup(spark: SparkSession, sfDir: String): DataFrame =
    spanDedup(Tables.documents(spark, sfDir), SpanW)

  /** The span-dedup core over any (doc_id, text) frame — see
    * [[q166SpanDedup]]. */
  def spanDedup(docs: DataFrame, w: Int): DataFrame = {
    val t = split(col("text"), " ")
    val m = greatest(size(t) - (w - 1), lit(0))
    val parts = (1 to w).map(i => slice(t, lit(i), m).as(s"w$i"))
    // (doc_id, pos, gram): pos is the 1-based token index of span start
    val grams = docs
      .select(col("doc_id"), posexplode(arrays_zip(parts: _*))
        .as(Seq("p0", "z")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        concat_ws(" ", (1 to w).map(i => col(s"z.w$i")): _*).as("gram"))
    val dup = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("gram"))
    val dupPos = grams.join(dup, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = dupPos
      .withColumn("prev_end",
        max(col("pos") + (w - 1)).over(
          byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      // spans [p, p+w−1] merge when overlapping OR contiguous
      .withColumn("ns",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L)
          .otherwise(0L))
      .withColumn("span_id", sum(col("ns")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (w - 1)).as("e"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"))
    docs
      .select(col("doc_id"), size(t).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"))
          .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  val q166Sql: String = {
    val w = SpanW
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
       |              FROM documents),
       |g AS (
       |  SELECT doc_id,
       |         unnest(range(1, greatest(len(t) - ${w - 2}, 2))) AS pos,
       |         unnest(list_transform(range(1, greatest(len(t) - ${w - 2}, 2)),
       |                i -> list_aggregate(t[i:i+${w - 1}], 'string_agg', ' ')))
       |           AS gram
       |  FROM toks WHERE len(t) >= $w),
       |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
       |p AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
       |f AS (
       |  SELECT doc_id, pos,
       |         max(pos + ${w - 1}) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           AS prev_end
       |  FROM p),
       |si AS (
       |  SELECT doc_id, pos,
       |         sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
       |                  THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY pos
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS span_id
       |  FROM f),
       |sp AS (SELECT doc_id, span_id, min(pos) AS s,
       |              max(pos) + ${w - 1} AS e
       |       FROM si GROUP BY 1, 2),
       |pd AS (SELECT doc_id, count(*) AS n_dup_spans,
       |              CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
       |       FROM sp GROUP BY 1),
       |n AS (SELECT doc_id,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |      FROM documents)
       |SELECT n.doc_id, n.n_tokens,
       |       coalesce(pd.n_dup_spans, 0) AS n_dup_spans,
       |       coalesce(pd.dup_tokens, 0) AS dup_tokens,
       |       coalesce(pd.dup_tokens, 0) / n.n_tokens AS dup_frac
       |FROM n LEFT JOIN pd USING (doc_id)
       |ORDER BY n.doc_id""".stripMargin
  }

  // ------------------------------------------------- q265 shard plan

  /** Export shard fan-out for q265 — fixed so the round-robin deal (and
    * therefore the oracle) is deterministic. At 100 TB this is the shard
    * COUNT knob a pipeline sets to its writer parallelism. */
  val ShardCount = 16

  /** q265_shard_plan — token-balanced shard assignment for training-data
    * export: the step between a curated corpus and the fixed-size shard
    * files a data loader streams. Documents are ranked by (token count
    * desc, doc_id) and dealt round-robin across [[ShardCount]] shards —
    * the sorted round-robin ("longest first") static balancer, which
    * bounds the token spread between any two shards by one document per
    * deal cycle. The output is the plan's audit row per shard: doc count,
    * token total, largest document, and the global max/min shard totals
    * (equal-ish totals = healthy plan).
    *
    * Scale: the rank over ALL documents is the SF-proportional step, and
    * it runs through [[Scale.globalRank]] (range-partition + local rank +
    * broadcast offsets) — not a single-partition `Window.orderBy`, which
    * is exactly the shape the round-8 plan audit forbids. Everything
    * after the rank is a [[ShardCount]]-cardinality aggregate; the
    * max/min spread frame is ONE row and broadcast by hint. */
  def q265ShardPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
    val ranked = Scale.globalRank(toks,
      Seq(col("tokens").desc, col("doc_id")))
    val shards = ranked
      .withColumn("shard_id", col("rank_idx") % ShardCount)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("shard_tokens"),
        max(col("tokens")).as("largest_doc"))
    // MEASURED-REJECTION NOTE (recompute audit: this 4-op subtree feeds
    // both the spread aggregate and the final join): materializing it
    // was A/B'd in r9 (persist, wash) and r12 (localCheckpoint, sf0.1
    // 0.68→0.66 s, sf1 1.52→1.42, sf2 2.36→2.52: wash) and rejected —
    // the globalRank exchange is shared by ReuseExchange, so the
    // recompute is only the ShardCount-row post-shuffle tail, cheaper
    // than the cut's extra eager job.
    val spread = shards.agg(
      max(col("shard_tokens")).as("max_shard_tokens"),
      min(col("shard_tokens")).as("min_shard_tokens"))
    shards.crossJoin(broadcast(spread)).orderBy(col("shard_id"))
  }

  val q265Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |           AS tokens
       |  FROM documents),
       |ranked AS (
       |  SELECT doc_id, tokens,
       |         row_number() OVER (ORDER BY tokens DESC, doc_id) - 1
       |           AS rank_idx
       |  FROM toks),
       |shards AS (
       |  SELECT rank_idx % $ShardCount AS shard_id, count(*) AS n_docs,
       |         CAST(sum(tokens) AS BIGINT) AS shard_tokens,
       |         max(tokens) AS largest_doc
       |  FROM ranked GROUP BY 1)
       |SELECT shard_id, n_docs, shard_tokens, largest_doc,
       |       (SELECT max(shard_tokens) FROM shards) AS max_shard_tokens,
       |       (SELECT min(shard_tokens) FROM shards) AS min_shard_tokens
       |FROM shards ORDER BY shard_id""".stripMargin

  // --------------------------------------------------------------- DSIR

  /** Hashed-gram buckets for the q270 importance model. The paper uses
    * 10⁴ buckets for web-scale vocabularies; 1024 fits the fixture's
    * vocabulary at the same occupancy. CONSTANT at any corpus size — the
    * bucket-stats frame never grows with the data. */
  val DsirBuckets = 1024L

  /** Documents q270 selects (top-K by importance weight). */
  val DsirK = 100

  /** q270_dsir — Data Selection via Importance Resampling (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * 2023): score every raw-corpus document by how much more likely its
    * hashed-bigram profile is under the TARGET distribution than under
    * the raw distribution, and keep the top-K. Per doc z with bucket
    * counts c_b: log₂ w(z) = Σ_b c_b·(log₂ p_t(b) − log₂ p_r(b)) with
    * Laplace-smoothed bucket multinomials p(b) = (count_b+1)/(total+B).
    * The target is the planted q57 eval slice (doc_id % 20 == 7) — in
    * production a separate curated exemplar corpus; semantics identical.
    *
    * Scale design:
    *  - grams never travel as strings: each bigram hashes map-side to one
    *    of [[DsirBuckets]] buckets ([[graft.functions.StableHash]], SQL
    *    twin for the oracle), so the shuffle carries (doc, bucket, cnt)
    *    rows — at most 1024 per document regardless of length.
    *  - the bucket-stats frame is constant cardinality (1024 rows); its
    *    join is UNHINTED — AQE broadcasts it at runtime (the r9 de-hint
    *    rule).
    *  - per-doc log-weight sums use the q148 device: each term cast to
    *    DECIMAL(18,6) before summing, so the aggregate is exact and
    *    partition-order-independent; log₂ agreement at 6-dp truncation
    *    between Spark and DuckDB is production-proven by q148. The
    *    normalizer tail n_grams·(log₂(tr+B) − log₂(tt+B)) takes the same
    *    cast and is added in decimal, so `logw` is ONE decimal→double
    *    conversion: added as a raw double, the two engines' log₂ differed
    *    by 1 ulp in the tail at sf0.001.
    *  - top-K is orderBy+limit → TakeOrderedAndProject (k rows through
    *    the driver, the q33 pattern) — never a global sort of the
    *    corpus. */
  def q270Dsir(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // persisted: the per-(doc, bucket) counts feed the bucket-stats
    // aggregate AND the scoring join — unpersisted, the whole gram
    // explode + per-char hash runs twice (the dominant cost here)
    val bk = nGrams(docs, 2)
      .select(col("doc_id"),
        pmod(graft.functions.StableHash.charMix62(col("gram")),
          lit(DsirBuckets)).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .persist()
    val isTarget = pmod(col("doc_id"), lit(BenchMod)) === lit(BenchRem)
    val stats = bk.groupBy(col("bucket"))
      .agg(sum(when(isTarget, col("c")).otherwise(0L)).as("ct"),
        sum(when(!isTarget, col("c")).otherwise(0L)).as("cr"))
      .persist() // 1024 rows, read by the totals AND the scoring join
    val tot = stats.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    bk.filter(!isTarget)
      .join(stats, Seq("bucket")) // 1024 rows — AQE broadcasts
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        sum((col("c").cast("double") *
          (log2(col("ct") + 1) - log2(col("cr") + 1)))
          .cast("decimal(18,6)")).as("lw_dec"))
      .crossJoin(broadcast(tot)) // 1-row totals
      .select(col("doc_id"), col("n_grams"),
        (col("lw_dec") + (col("n_grams").cast("double") *
          (log2(col("tr") + DsirBuckets) - log2(col("tt") + DsirBuckets)))
          .cast("decimal(18,6)")).cast("double").as("logw"))
      .orderBy(desc("logw"), col("doc_id"))
      .limit(DsirK)
  }

  val q270Sql: String = {
    val h = graft.functions.StableHash.charMix62Sql("gram")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
       |              FROM documents),
       |grams AS (
       |  ${nGramsSql(2)}),
       |bk AS (
       |  SELECT doc_id, bucket, count(*) AS c FROM (
       |    SELECT doc_id, ($h) % $DsirBuckets AS bucket FROM grams)
       |  GROUP BY 1, 2),
       |stats AS (
       |  SELECT bucket,
       |         CAST(sum(CASE WHEN doc_id % $BenchMod = $BenchRem
       |                       THEN c ELSE 0 END) AS BIGINT) AS ct,
       |         CAST(sum(CASE WHEN doc_id % $BenchMod <> $BenchRem
       |                       THEN c ELSE 0 END) AS BIGINT) AS cr
       |  FROM bk GROUP BY 1),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
       |               CAST(sum(cr) AS BIGINT) AS tr FROM stats),
       |perdoc AS (
       |  SELECT b.doc_id, CAST(sum(b.c) AS BIGINT) AS n_grams,
       |         sum(CAST(CAST(b.c AS DOUBLE) *
       |               (log2(s.ct + 1) - log2(s.cr + 1))
       |             AS DECIMAL(18,6))) AS lw_dec
       |  FROM bk b JOIN stats s USING (bucket)
       |  WHERE b.doc_id % $BenchMod <> $BenchRem
       |  GROUP BY 1)
       |SELECT doc_id, n_grams,
       |       CAST(lw_dec + CAST(CAST(n_grams AS DOUBLE) *
       |         (log2(tr + $DsirBuckets) - log2(tt + $DsirBuckets))
       |         AS DECIMAL(18,6)) AS DOUBLE) AS logw
       |FROM perdoc, tot
       |ORDER BY logw DESC, doc_id LIMIT $DsirK""".stripMargin
  }
}
