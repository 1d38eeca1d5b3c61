package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Checkpoints.CutOps

/** Exact set-similarity self-join with prefix filtering (the PPJoin family:
  * Xiao et al., "Efficient Similarity Joins for Near Duplicate Detection",
  * WWW 2008) — the all-pairs Jaccard join the LSH operators (q70/q72)
  * approximate, made exact without going quadratic.
  *
  * The filter chain: order every document's shingle set by ascending global
  * document frequency (rarest first); for Jaccard ≥ t two sets MUST share at
  * least one shingle inside each one's first `n - ceil(t·n) + 1` shingles
  * under that common order, so only prefix shingles are exploded into the
  * candidate join. A length filter (`t·max(n1,n2) ≤ min(n1,n2)`) prunes
  * size-incompatible pairs before verification, and verification re-reads
  * only the two full shingle arrays per surviving candidate pair.
  *
  * Scale: the candidate join shuffles prefix postings, not full posting
  * lists — on near-dup-sparse corpora the prefix (rare shingles first) cuts
  * candidate volume by orders of magnitude vs the full inverted index, and
  * there is no id-band crutch (compare q72's `d2 ≤ d1 + 10`): this plan
  * finds ALL qualifying pairs in a 100 TB corpus. The df ranking is one
  * hash aggregate on shingle cardinality; mega-frequent shingles land at
  * prefix tails where they are exploded rarely. Threshold semantics use
  * integer cross-multiplication (`den·inter ≥ num·union`), never float
  * ceil, so the oracle replays exactly.
  */
object SetSim {

  /** Shingle width shared by the Spark side and the oracle SQL. */
  val W = 5

  /** Jaccard threshold as an exact rational num/den (0.5). */
  val Num = 1
  val Den = 2

  /** Distinct W-gram shingle ROWS per document: (doc_id, gram). Built as a
    * row stream — posexplode the tokens, then `lead` windows assemble each
    * gram — rather than a per-document `transform(sequence(...))` array:
    * higher-order functions are CodegenFallback (interpreted per element,
    * measured ~6× slower over the corpus), while posexplode + window +
    * concat_ws all stay inside codegen. */
  private def shingleRows(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", col("tok") +:
          (1 until W).map(o => lead(col("tok"), o).over(w)): _*).as("gram"),
        lead(col("tok"), W - 1).over(w).as("_last"))
      // a gram exists only where all W tokens do (docs shorter than W
      // tokens produce no grams, same as the oracle's len(t) >= W guard)
      .filter(col("_last").isNotNull)
      .select(col("doc_id"), col("gram"))
      .distinct()
  }

  /** All document pairs with shingle-Jaccard ≥ Num/Den, found via prefix
    * filtering + exact verification. Output matches the brute-force
    * all-pairs semantics the oracle computes. */
  def similarPairs(docs: DataFrame): DataFrame = {
    // The narrow (doc_id, gram) stream feeds five consumers (df ranking,
    // both prefix sides, both verify sides); materialize it once — the
    // GC-managed localCheckpoint pattern from lshNearDups
    // (Similarity.scala), chosen there over persist for lazily-returned
    // frames that cannot know when to unpersist.
    val gramd = shingleRows(docs).localCheckpoint()
    // verification needs each doc's full shingle set once more — as an
    // array; element order inside it is irrelevant (array_intersect)
    val sh = gramd.groupBy(col("doc_id"))
      .agg(collect_list(col("gram")).as("grams"),
        count(lit(1)).as("n"))

    // Global document frequency per shingle → the common prefix order.
    // (df, gram) is a total order, so both the ranking and the oracle's
    // brute force are deterministic.
    val df = gramd.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))

    // Prefix length for Jaccard t = Num/Den: n - ceil(t*n) + 1, with
    // ceil(t*n) = (Num*n + Den - 1) div Den in exact integer arithmetic.
    val prefixLen = col("n") - expr(s"($Num * n + ${Den - 1}) div $Den") + 1
    val rank = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("gram"))
    val docWin = Window.partitionBy(col("doc_id"))
    val prefixes = gramd.join(df, "gram")
      .withColumn("n", count(lit(1)).over(docWin))
      .withColumn("r", row_number().over(rank))
      .filter(col("r") <= prefixLen)
      .select(col("doc_id"), col("n"), col("gram"))
      // MEASURED-REJECTION NOTE (the recompute audit's 4-op finding on
      // this frame feeding both candidate sides): cutting it here was
      // A/B'd twice — persist in r9 (+33%) and localCheckpoint in r12
      // (sf0.1 2.41→2.53 s, sf1 7.70→7.40, sf2 12.44→13.09: wash-to-
      // loss) — and rejected both times. ReuseExchange already runs the
      // df-join/window exchanges once; the duplicate is post-shuffle
      // narrow work cheaper recomputed than re-read from blocks.

    // Candidate pairs: share ≥1 prefix shingle, sizes compatible. The
    // length filter is exact: J ≥ t ⇒ Num·max(n1,n2) ≤ Den·min(n1,n2).
    val a = prefixes.select(col("doc_id").as("d1"), col("n").as("n1"),
      col("gram"))
    val b = prefixes.select(col("doc_id").as("d2"), col("n").as("n2"),
      col("gram"))
    val candidates = a.join(b, Seq("gram"))
      .filter(col("d1") < col("d2") &&
        lit(Num) * greatest(col("n1"), col("n2")) <=
          lit(Den) * least(col("n1"), col("n2")))
      .select(col("d1"), col("d2"))
      .distinct()

    // Verification: re-attach the two full shingle arrays (broadcast-sized
    // here; at scale this is two shuffled equi-joins on doc_id) and compute
    // the exact intersection. The threshold test cross-multiplies integers.
    val g1 = sh.select(col("doc_id").as("d1"), col("grams").as("g1"),
      col("n").as("n1"))
    val g2 = sh.select(col("doc_id").as("d2"), col("grams").as("g2"),
      col("n").as("n2"))
    candidates.join(g1, "d1").join(g2, "d2")
      .withColumn("n_inter",
        size(array_intersect(col("g1"), col("g2"))).cast("long"))
      .withColumn("n_union", col("n1") + col("n2") - col("n_inter"))
      .filter(col("n_inter") * Den >= col("n_union") * Num)
      .select(col("d1"), col("d2"), col("n_inter"), col("n_union"),
        (col("n_inter").cast("double") / col("n_union").cast("double"))
          .as("jaccard"))
      // materialize before the determinism sort: the broadcast joins above
      // the last exchange keep Spark's size estimate at the product of
      // their inputs, so SinglePartitionSort cannot lower this sort and its
      // range exchange still samples; the cut makes that sample read the
      // surviving-pair rows instead of re-running the prefix-filter
      // candidate join (r16 A/B)
      .cutLineage()
      .orderBy(col("d1"), col("d2"))
  }

  /** q113_setsim_join — exact prefix-filtered Jaccard self-join over the
    * documents fixture. The oracle brute-forces all pairs; equality of the
    * two result sets is the completeness proof for the filter chain. */
  def q113SetsimJoin(spark: SparkSession, sfDir: String): DataFrame =
    similarPairs(Tables.documents(spark, sfDir))

  val q113Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           range(1, greatest(len(t) - ${W - 2}, 2)),
       |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
       |                t[i+3] || ' ' || t[i+4])) AS gs
       |  FROM toks WHERE len(t) >= $W),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2,
       |         len(list_intersect(a.gs, b.gs)) AS n_inter,
       |         len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))
       |           AS n_union
       |  FROM grams a JOIN grams b ON b.doc_id > a.doc_id)
       |SELECT d1, d2, n_inter, n_union,
       |       CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
       |FROM pairs
       |WHERE n_inter * $Den >= n_union * $Num
       |ORDER BY d1, d2""".stripMargin
}
