package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Bigram collocation mining — which word pairs co-occur more often than
  * their unigram frequencies predict. The association score is the LIFT
  * ratio p(xy) / (p(x)·p(y)) rather than log-PMI: the ratio needs only
  * multiplications and one division (bit-identical IEEE across engines),
  * whereas libm `log` is not guaranteed to round identically between
  * engines and would break the hash oracle.
  *
  * Scale: bigram expansion is map-side (`transform` over the token array —
  * no self-join on positions); both count aggregates shuffle vocabulary-
  * bounded keys with map-side combine; the unigram table and the 1-row
  * totals broadcast back into the bigram frame. The corpus itself is
  * never joined or shuffled row-per-token beyond the two bounded
  * aggregations.
  */
object Collocations {

  /** Minimum bigram support for q102 (keeps the tail of singleton pairs out
    * of the result; real corpora use far higher cutoffs). */
  val minSupport = 5

  def q102Collocations(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // adjacent-pair expansion inside the row: t[i] is 0-based subscripting;
    // docs with <2 tokens are excluded BEFORE sequence(0, size-2) can
    // produce a descending (0,-1) range
    val big = docs
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t)-2), i -> struct(t[i] AS w1, t[i+1] AS w2))"))
        .as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val uni = docs.select(explode(split(col("text"), " ")).as("w"))
    val un = uni.groupBy(col("w")).agg(count(lit(1)).as("n"))
    val bn = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_xy"))
    val tot = uni.agg(count(lit(1)).as("n_tok"))
      .crossJoin(broadcast(big.agg(count(lit(1)).as("n_big"))))
    // lift = (n_xy/n_big) / ((n_x/n_tok)(n_y/n_tok)), arranged with the
    // SAME association order as the oracle so the doubles match bitwise
    val lift = round(
      col("n_xy").cast("double") * col("n_tok") * col("n_tok") /
        (col("n_big").cast("double") * col("n1") * col("n2")), 6)
    // the unigram frame is vocabulary-cardinality — Heaps-law sublinear
    // but unbounded, so it carries no hint: AQE broadcasts it at runtime
    // while it fits and shuffles the join when a web-scale vocab doesn't.
    // The min-support filter on the probe side is what keeps either plan
    // cheap; tot (2 counters) stays hinted.
    bn
      .filter(col("n_xy") >= minSupport)
      .crossJoin(broadcast(tot))
      .join(un.select(col("w").as("w1"), col("n").as("n1")), "w1")
      .join(un.select(col("w").as("w2"), col("n").as("n2")), "w2")
      .select(col("w1"), col("w2"), col("n_xy"), lift.as("lift"))
      .orderBy(desc("lift"), col("w1"), col("w2"))
  }

  val q102Sql: String =
    s"""WITH toks AS (
       |  SELECT string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |big AS (
       |  SELECT t[i+1] AS w1, t[i+2] AS w2
       |  FROM toks, UNNEST(range(0, len(t)-1)) AS u(i)),
       |uni AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |un AS (SELECT w, count(*) AS n FROM uni GROUP BY w),
       |bn AS (SELECT w1, w2, count(*) AS n_xy FROM big GROUP BY w1, w2),
       |tot AS (SELECT (SELECT count(*) FROM uni) AS n_tok,
       |               (SELECT count(*) FROM big) AS n_big)
       |SELECT bn.w1, bn.w2, bn.n_xy,
       |       round(CAST(bn.n_xy AS DOUBLE) * tot.n_tok * tot.n_tok /
       |             (CAST(tot.n_big AS DOUBLE) * u1.n * u2.n), 6) AS lift
       |FROM bn
       |CROSS JOIN tot
       |JOIN un u1 ON bn.w1 = u1.w
       |JOIN un u2 ON bn.w2 = u2.w
       |WHERE bn.n_xy >= $minSupport
       |ORDER BY lift DESC, w1, w2""".stripMargin
  /** q120_basket_pairs — market-basket co-occurrence mining (the unordered
    * cousin of the q102 sequence collocations): part pairs appearing in the
    * same order, with support ≥ 3 and lift = P(pair) / (P(p1)·P(p2)) =
    * n_pair·n_baskets / (n1·n2) — integer products, one IEEE division, so
    * the oracle replays it exactly.
    *
    * Scale: the pair generator is a self-equi-join on the basket key, so
    * pair expansion is bounded by (basket size)² per order — never corpus²
    * — and the support threshold prunes AFTER a map-side-combinable count
    * on (p1, p2). A pathological mega-basket would need per-key capping
    * upstream; the fixture's max basket is 13 lines. The one driver-side
    * scalar (basket count) is a metadata-cheap count reused as a literal.
    */
  def q120BasketPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // the distinct item set feeds several lineages (the frequency frame,
    // the basket count) — each re-reads the staged parquet copy, never
    // lineitem
    val items = CoPurchase.items(spark, sfDir)
    val nBaskets = items.select(col("l_orderkey")).distinct().count()
    val pairs = CoPurchase.pairs(spark, sfDir)
      .select(col("pa").as("p1"), col("pb").as("p2"),
        col("n_shared").as("n_pair"))
      .filter(col("n_pair") >= 3)
    val freq = items.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_item"))
    pairs
      .join(freq.select(col("l_partkey").as("p1"), col("n_item").as("n1")),
        Seq("p1"))
      .join(freq.select(col("l_partkey").as("p2"), col("n_item").as("n2")),
        Seq("p2"))
      .select(col("p1"), col("p2"), col("n_pair"), col("n1"), col("n2"),
        ((col("n_pair") * nBaskets).cast("double") /
          (col("n1") * col("n2")).cast("double")).as("lift"))
      .orderBy(col("p1"), col("p2"))
  }

  val q120Sql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_pair
      |  FROM items a JOIN items b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 3),
      |freq AS (
      |  SELECT l_partkey, count(*) AS n_item FROM items GROUP BY 1),
      |nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items)
      |SELECT p1, p2, n_pair, f1.n_item AS n1, f2.n_item AS n2,
      |       CAST(n_pair * nb.n_baskets AS DOUBLE) /
      |         CAST(f1.n_item * f2.n_item AS DOUBLE) AS lift
      |FROM pairs
      |JOIN freq f1 ON f1.l_partkey = p1
      |JOIN freq f2 ON f2.l_partkey = p2
      |CROSS JOIN nb
      |ORDER BY p1, p2""".stripMargin

  /** Minimum support (baskets) at every Apriori level of q232. */
  val TripleSupport = 2

  /** q232_basket_triples — the level-3 Apriori step above q120's pairs,
    * run the level-wise way that scales: (1) L1 = items with support ≥ s,
    * and baskets PRUNED to L1 items (the Apriori downward-closure cut —
    * infrequent items can join no frequent triple); (2) L2 = frequent
    * pairs over the pruned baskets; (3) candidate triples generated by
    * prefix-joining L2 with itself ((a,b)+(a,c), b<c) and PRUNED again by
    * requiring the third sub-pair (b,c) ∈ L2; (4) support counted by
    * semi-joining the pruned baskets' triple expansion against the
    * candidate set. Downward closure makes steps 3–4 results identical to
    * a brute triple count at the same threshold — the candidate machinery
    * changes the COST, never the answer — which the spec asserts.
    *
    * Scale: triple expansion is (pruned basket size)³ per basket, never
    * corpus³, and the candidate semi-join shrinks the aggregate's input
    * to candidate-matching triples only; every aggregate is map-side
    * combinable on item-tuple keys. Lift = n_abc·nb² / (n_a·n_b·n_c):
    * integer products, one IEEE division. */
  def q232BasketTriples(spark: SparkSession, sfDir: String): DataFrame = {
    val s = TripleSupport
    val items = CoPurchase.items(spark, sfDir)
    val nBaskets = items.select(col("l_orderkey")).distinct().count()
    val freq = items.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_item"))
    val l1 = freq.filter(col("n_item") >= s)
    val pruned = items.join(l1.select(col("l_partkey")), Seq("l_partkey"),
      "left_semi").localCheckpoint()
    def side(n: Int) = pruned
      .select(col("l_orderkey"), col("l_partkey").as(s"p$n"))
    // L2 from the SHARED pair counts, not a pruned-basket re-count: a
    // pair's support is bounded by either item's support, so Apriori
    // pruning cannot change any count that survives the threshold —
    // the spec asserts this equivalence against the pruned re-count.
    val l2 = CoPurchase.pairs(spark, sfDir)
      .filter(col("n_shared") >= s)
      .select(col("pa").as("p1"), col("pb").as("p2"),
        col("n_shared").as("n_pair"))
      .localCheckpoint()
    val cands = l2.select(col("p1"), col("p2"))
      .join(l2.select(col("p1"), col("p2").as("p3")), Seq("p1"))
      .filter(col("p2") < col("p3"))
      .join(l2.select(col("p1").as("p2"), col("p2").as("p3")),
        Seq("p2", "p3"), "left_semi")
    val triples = side(1)
      .join(side(2), Seq("l_orderkey")).filter(col("p1") < col("p2"))
      .join(side(3), Seq("l_orderkey")).filter(col("p2") < col("p3"))
      .join(broadcast(cands), Seq("p1", "p2", "p3"), "left_semi")
      .groupBy(col("p1"), col("p2"), col("p3"))
      .agg(count(lit(1)).as("n_triple"))
      .filter(col("n_triple") >= s)
    def f(n: Int) = freq
      .select(col("l_partkey").as(s"p$n"), col("n_item").as(s"n$n"))
    triples
      .join(f(1), Seq("p1")).join(f(2), Seq("p2")).join(f(3), Seq("p3"))
      .select(col("p1"), col("p2"), col("p3"), col("n_triple"),
        col("n1"), col("n2"), col("n3"),
        // lift in IEEE from the start: the BIGINT product n_triple·nb²
        // (and the n1·n2·n3 denominator) can pass 2⁶³ at large scale,
        // where Spark's ANSI mode throws but DuckDB raises differently —
        // a silent engine divergence waiting to happen. The double chain
        // is associativity-mirrored in the oracle; at fixture scale every
        // product is < 2⁵³ so the values are bit-identical either way.
        ((col("n_triple").cast("double") * nBaskets * nBaskets) /
          (col("n1").cast("double") * col("n2") * col("n3"))).as("lift"))
      .orderBy(col("p1"), col("p2"), col("p3"))
  }

  val q232Sql: String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |freq AS (
       |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
       |  FROM items GROUP BY 1),
       |pruned AS (
       |  SELECT i.* FROM items i JOIN freq f ON i.l_partkey = f.l_partkey
       |  WHERE f.n_item >= $TripleSupport),
       |l2 AS (
       |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_pair
       |  FROM pruned a JOIN pruned b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= $TripleSupport),
       |cands AS (
       |  -- l2 rows are unique pairs, so these inner joins are exact
       |  -- semi-joins (no row multiplication) — EXISTS phrased as joins
       |  -- because DuckDB's decorrelation is pathological here
       |  SELECT x.p1, x.p2, y.p2 AS p3
       |  FROM l2 x
       |  JOIN l2 y ON x.p1 = y.p1 AND x.p2 < y.p2
       |  JOIN l2 z ON z.p1 = x.p2 AND z.p2 = y.p2),
       |triples AS (
       |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
       |         CAST(count(*) AS BIGINT) AS n_triple
       |  FROM pruned a
       |  JOIN pruned b ON a.l_orderkey = b.l_orderkey
       |               AND a.l_partkey < b.l_partkey
       |  JOIN pruned c ON a.l_orderkey = c.l_orderkey
       |               AND b.l_partkey < c.l_partkey
       |  JOIN cands k ON k.p1 = a.l_partkey AND k.p2 = b.l_partkey
       |              AND k.p3 = c.l_partkey
       |  GROUP BY 1, 2, 3 HAVING count(*) >= $TripleSupport),
       |nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items)
       |SELECT t.p1, t.p2, t.p3, t.n_triple,
       |       f1.n_item AS n1, f2.n_item AS n2, f3.n_item AS n3,
       |       -- double from the start, association mirroring the Spark
       |       -- chain: the BIGINT products can overflow at scale
       |       (CAST(t.n_triple AS DOUBLE) * nb.n_baskets * nb.n_baskets) /
       |         (CAST(f1.n_item AS DOUBLE) * f2.n_item * f3.n_item) AS lift
       |FROM triples t
       |JOIN freq f1 ON f1.l_partkey = t.p1
       |JOIN freq f2 ON f2.l_partkey = t.p2
       |JOIN freq f3 ON f3.l_partkey = t.p3
       |CROSS JOIN nb
       |ORDER BY t.p1, t.p2, t.p3""".stripMargin

  /** Minimum co-basket support for a q254 rule. */
  val RuleSupport = 3

  /** q254_assoc_rules — directed association rules over the frequent part
    * pairs q120 mines: each unordered pair {x, y} with support ≥
    * [[RuleSupport]] yields BOTH rules x→y and y→x, scored with the
    * standard rule metrics:
    *
    *   confidence(x→y) = n_xy / n_x          (how often y follows x)
    *   lift            = n_xy·nb / (n_x·n_y) (symmetric association)
    *   leverage        = P(xy) − P(x)·P(y)   (additive excess co-occurrence)
    *   conviction      = (1 − P(y)) / (1 − confidence), NULL at conf = 1
    *
    * Every metric is a short per-row chain of IEEE ops over exact BIGINT
    * counts — no aggregated doubles anywhere — so the oracle replays each
    * value bit-identically (the q120 discipline). Conviction's conf = 1
    * pole is surfaced as NULL via nullif rather than ±Inf: an infinite
    * conviction means "y always fires with x", which downstream ranking
    * treats as a separate class, not a sortable magnitude.
    *
    * Scale: everything downstream of the pair counts is pair-cardinality —
    * the rule expansion is a 2× union of the support-filtered pair list,
    * and the antecedent/consequent frequency joins key on single items.
    * The only corpus-sized work is q120's (basket-size²-bounded) pair
    * count, reused here unchanged; the 1-row basket total broadcasts. */
  def q254AssocRules(spark: SparkSession, sfDir: String): DataFrame = {
    val items = CoPurchase.items(spark, sfDir)
    val nBaskets = items.select(col("l_orderkey")).distinct().count()
    val pairs = CoPurchase.pairs(spark, sfDir)
      .select(col("pa").as("p1"), col("pb").as("p2"),
        col("n_shared").as("n_pair"))
      .filter(col("n_pair") >= RuleSupport)
    // both directions: {x,y} → (x⇒y) and (y⇒x)
    val rules = pairs.select(col("p1").as("ante"), col("p2").as("cons"),
        col("n_pair"))
      .unionAll(pairs.select(col("p2").as("ante"), col("p1").as("cons"),
        col("n_pair")))
    val freq = items.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_item"))
    val nb = lit(nBaskets).cast("double")
    val conf = col("n_pair").cast("double") / col("n_a").cast("double")
    rules
      .join(freq.select(col("l_partkey").as("ante"),
        col("n_item").as("n_a")), Seq("ante"))
      .join(freq.select(col("l_partkey").as("cons"),
        col("n_item").as("n_c")), Seq("cons"))
      .select(col("ante"), col("cons"), col("n_pair"), col("n_a"),
        col("n_c"),
        conf.as("confidence"),
        ((col("n_pair") * lit(nBaskets)).cast("double") /
          (col("n_a") * col("n_c")).cast("double")).as("lift"),
        (col("n_pair").cast("double") / nb -
          (col("n_a").cast("double") / nb) *
          (col("n_c").cast("double") / nb)).as("leverage"),
        ((lit(1.0) - col("n_c").cast("double") / nb) /
          nullif(lit(1.0) - conf, lit(0.0))).as("conviction"))
      .orderBy(col("ante"), col("cons"))
  }

  val q254Sql: String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pairs AS (
       |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
       |         CAST(count(*) AS BIGINT) AS n_pair
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= $RuleSupport),
       |rules AS (
       |  SELECT p1 AS ante, p2 AS cons, n_pair FROM pairs
       |  UNION ALL
       |  SELECT p2 AS ante, p1 AS cons, n_pair FROM pairs),
       |freq AS (
       |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
       |  FROM items GROUP BY 1),
       |nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items)
       |SELECT r.ante, r.cons, r.n_pair,
       |       fa.n_item AS n_a, fc.n_item AS n_c,
       |       CAST(r.n_pair AS DOUBLE) / CAST(fa.n_item AS DOUBLE)
       |         AS confidence,
       |       CAST(r.n_pair * nb.n_baskets AS DOUBLE) /
       |         CAST(fa.n_item * fc.n_item AS DOUBLE) AS lift,
       |       CAST(r.n_pair AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE) -
       |         (CAST(fa.n_item AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE)) *
       |         (CAST(fc.n_item AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE))
       |         AS leverage,
       |       (1.0 - CAST(fc.n_item AS DOUBLE) /
       |          CAST(nb.n_baskets AS DOUBLE)) /
       |         nullif(1.0 - CAST(r.n_pair AS DOUBLE) /
       |           CAST(fa.n_item AS DOUBLE), 0.0) AS conviction
       |FROM rules r
       |JOIN freq fa ON fa.l_partkey = r.ante
       |JOIN freq fc ON fc.l_partkey = r.cons
       |CROSS JOIN nb
       |ORDER BY r.ante, r.cons""".stripMargin
}
