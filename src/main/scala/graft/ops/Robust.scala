package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Checkpoints.CutOps

/** Robust statistics for data curation: median/MAD outlier flagging and
  * equal-frequency discretization. Both are rank-based, so the
  * cross-engine contract uses DISCRETE order statistics — an order
  * statistic SELECTS an existing double rather than interpolating one, and
  * selection plus IEEE subtract/abs/compare is bit-identical in any engine
  * (the q112 winsorization rule, extended to two-level medians here).
  *
  * Scale: the per-group medians shuffle once on the group key and pick the
  * (n+1)/2-th element with a window — group cardinality is the fixture's
  * five event types, but the same plan holds for millions of groups since
  * every window partitions by the group key (no global window anywhere).
  * The discretizer ranks with [[Scale.globalRank]] — range-partitioned
  * distributed sort + per-partition windows — not a one-partition global
  * `row_number`, so it survives a 100× scale-up where the naive NTILE
  * plan serializes.
  */
object Robust {

  /** Lower-median (discrete) of `valueCol` per `key`, tie-broken into a
    * total order by `tiebreak`: the element at 1-based position
    * (n+1) div 2. Returns (key, med). */
  private def discreteMedian(df: DataFrame, key: String, valueCol: String,
      tiebreak: String, out: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(valueCol), col(tiebreak))
    df.select(col(key), col(valueCol), col(tiebreak))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col(key))))
      // integer div — `/` would be double division under ANSI
      .filter(col("_rn") === expr("(_n + 1) div 2"))
      .select(col(key), col(valueCol).as(out))
  }

  /** q115_mad — per-event-type robust outlier report: discrete median,
    * median absolute deviation (again discrete), and the count of values
    * beyond 3·MAD. Every arithmetic step after selection (subtract, abs,
    * 3·x multiply, compare) is a single IEEE op on identical operands in
    * both engines. */
  def q115Mad(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"))
    val med = discreteMedian(ev, "event_type", "value", "event_id", "med")
    val dev = ev.join(med, "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = discreteMedian(
      dev.select(col("event_type"), col("dev"), col("event_id")),
      "event_type", "dev", "event_id", "mad")
    dev.join(mad, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("dev") > lit(3.0) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      // materialize before the determinism sort: the sort-merge join above
      // the last exchange keeps Spark's size estimate at the product of its
      // inputs, so SinglePartitionSort cannot lower this |event-type|-row
      // sort and its range exchange still samples; the cut makes that
      // sample read the cut rows instead of re-running the join (r16 A/B)
      .cutLineage()
      .orderBy(col("event_type"))
  }

  val q115Sql: String =
    """WITH ranked AS (
      |  SELECT event_type, event_id, value,
      |         row_number() OVER (PARTITION BY event_type
      |           ORDER BY value, event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |med AS (
      |  SELECT event_type, value AS med FROM ranked WHERE rn = (n + 1) // 2),
      |dev AS (
      |  SELECT e.event_type, e.event_id, abs(e.value - m.med) AS dev, m.med
      |  FROM events e JOIN med m ON e.event_type = m.event_type),
      |dranked AS (
      |  SELECT event_type, dev,
      |         row_number() OVER (PARTITION BY event_type
      |           ORDER BY dev, event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM dev),
      |mad AS (
      |  SELECT event_type, dev AS mad FROM dranked WHERE rn = (n + 1) // 2)
      |SELECT d.event_type, count(*) AS n_rows, max(d.med) AS med,
      |       max(m.mad) AS mad,
      |       CAST(sum(CASE WHEN d.dev > 3.0 * m.mad THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad m ON d.event_type = m.event_type
      |GROUP BY d.event_type
      |ORDER BY d.event_type""".stripMargin

  /** Bucket count shared with the oracle. */
  val Buckets = 8

  /** q116_discretize — equal-frequency bucketing of order totals: global
    * 0-based rank over the total order (o_totalprice, o_orderkey) via the
    * distributed [[Scale.globalRank]], bucket = (rank·k) div n + 1 (the
    * even-spread integer scheme; NTILE's front-loaded variant differs only
    * in which buckets carry the remainder), then per-bucket boundaries and
    * decimal-exact sums — the feature-discretization staple. */
  def q116Discretize(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    // One metadata-cheap count job up front: the bucket formula needs the
    // exact row count as a literal (same value the oracle's count(*) OVER ()
    // sees). Integer (rank·k) div n matches the oracle bit-for-bit.
    val n = o.count()
    Scale.globalRank(o, Seq(col("o_totalprice"), col("o_orderkey")))
      .withColumn("bucket", expr(s"(rank_idx * $Buckets) div ${n}L") + 1L)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        decSum(col("o_totalprice"), 2).as("sum_price"))
      .orderBy(col("bucket"))
  }

  val q116Sql: String =
    s"""WITH ranked AS (
       |  SELECT o_totalprice,
       |         row_number() OVER (ORDER BY o_totalprice, o_orderkey) - 1
       |           AS idx,
       |         count(*) OVER () AS n
       |  FROM orders),
       |bucketed AS (
       |  SELECT o_totalprice, (idx * $Buckets) // n + 1 AS bucket
       |  FROM ranked)
       |SELECT bucket, count(*) AS n_rows,
       |       min(o_totalprice) AS lo, max(o_totalprice) AS hi,
       |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |         AS sum_price
       |FROM bucketed
       |GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------- Poisson bootstrap

  /** Bootstrap replicate count for q235. */
  val BootB = 64

  /** Truncated-Poisson(1) weight ceiling for q235 (P(X>5) ≈ 6·10⁻⁴,
    * folded into w=5 — the standard truncation). */
  val BootWMax = 5

  /** Cumulative Poisson(1) thresholds on the 2^20 grid: u < t(k) ⇒ weight
    * k; computed once here and inlined as identical literals into both
    * engines. */
  val bootThresholds: Seq[Long] = {
    val pmf = (0 until BootWMax).scanLeft(math.exp(-1.0)) {
      case (p, k) => p / (k + 1.0)
    } // p(0)..p(WMax), p(k) = e^-1/k!
    pmf.take(BootWMax).scanLeft(0.0)(_ + _).tail // cdf(0)..cdf(WMax-1)
      .map(c => math.floor(c * (1L << 20)).toLong)
  }

  /** q235_poisson_bootstrap — a 95% bootstrap confidence interval for the
    * mean line-item price, by the only bootstrap that scales: POISSON
    * resampling (each row enters replicate b with weight ~Poisson(1),
    * independent per (row, b) — no sampling-without-replacement pass, no
    * global row count needed up front). Weights are deterministic: the
    * (row id, replicate) mix folded to 2^20 and cut at the inlined
    * truncated-Poisson(1) CDF thresholds, so both engines draw the SAME
    * resamples. Replicate means are exact-integer Σw·x/Σw with one IEEE
    * division; the interval is ORDER STATISTICS of the [[BootB]] replicate
    * means (ranks 2 and 63 of 64 ≈ the 2.5/97.5 percentiles — discrete
    * selection, no interpolation, the q112/q115 rule).
    *
    * Scale: the ×B row expansion is map-side only (a generated sequence,
    * no join), and the aggregate groups by replicate — map-side combine
    * reduces each task to B partial rows, so the shuffle is B·tasks rows
    * regardless of data size. The window ranks B=64 aggregate rows,
    * never data. At 100 TB this is one scan, B counters per task — the
    * same plan Poisson bootstrap was invented for. */
  def q235PoissonBootstrap(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.StableHash
    val rid = col("l_orderkey") * 8 + col("l_linenumber")
    val cents = (col("l_extendedprice").cast("decimal(18,2)") * 100)
      .cast("long")
    val base = Tables.lineitem(spark, sfDir)
      .select(rid.as("rid"), cents.as("x"))
    val u = pmod(StableHash.intMix62Col(col("rid"), col("b")),
      lit(1L << 20))
    // fold from the LARGEST threshold so the smallest lands outermost —
    // first-match-wins must test u < t(0) before u < t(1)
    val w = bootThresholds.zipWithIndex.reverse
      .foldLeft(lit(BootWMax.toLong): Column) {
        case (acc, (t, k)) => when(u < t, lit(k.toLong)).otherwise(acc)
      }
    val reps = base
      .select(col("rid"), col("x"),
        explode(sequence(lit(0L), lit(BootB - 1L))).as("b"))
      .select(col("b"), col("x"), w.as("w"))
      .groupBy(col("b"))
      .agg(sum(col("w") * col("x")).as("swx"), sum(col("w")).as("sw"))
      .select(col("b"),
        (col("swx").cast("double") / col("sw").cast("double")).as("m"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("m"), col("b"))))
    val full = base.agg(count(lit(1)).as("n_rows"),
      (sum(col("x")).cast("double") / count(lit(1)).cast("double"))
        .as("est_mean"))
    reps.agg(
        max(when(col("rnk") === 2, col("m"))).as("lo95"),
        max(when(col("rnk") === BootB - 1, col("m"))).as("hi95"),
        min(col("m")).as("min_rep"), max(col("m")).as("max_rep"))
      .crossJoin(broadcast(full))
      .select(col("n_rows"), lit(BootB.toLong).as("n_replicates"),
        col("est_mean"), col("lo95"), col("hi95"),
        col("min_rep"), col("max_rep"))
  }

  val q235Sql: String = {
    import graft.functions.StableHash
    val mix = StableHash.intMix62ColSql("rid", "b")
    val wCase = bootThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("CASE ", " ", s" ELSE $BootWMax END")
    s"""WITH base AS (
       |  SELECT l_orderkey * 8 + l_linenumber AS rid,
       |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
       |              AS BIGINT) AS x
       |  FROM lineitem),
       |expanded AS (
       |  SELECT b, x, ($mix) % ${1L << 20} AS u
       |  FROM base, range($BootB) t(b)),
       |reps AS (
       |  SELECT b,
       |         CAST(sum(($wCase) * x) AS BIGINT) AS swx,
       |         CAST(sum($wCase) AS BIGINT) AS sw
       |  FROM expanded GROUP BY b),
       |means AS (
       |  SELECT b, CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) AS m,
       |         row_number() OVER (ORDER BY CAST(swx AS DOUBLE)
       |           / CAST(sw AS DOUBLE), b) AS rnk
       |  FROM reps),
       |full_s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |         CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |           AS est_mean
       |  FROM base)
       |SELECT n_rows, CAST($BootB AS BIGINT) AS n_replicates, est_mean,
       |       (SELECT max(CASE WHEN rnk = 2 THEN m END) FROM means)
       |         AS lo95,
       |       (SELECT max(CASE WHEN rnk = ${BootB - 1} THEN m END)
       |        FROM means) AS hi95,
       |       (SELECT min(m) FROM means) AS min_rep,
       |       (SELECT max(m) FROM means) AS max_rep
       |FROM full_s""".stripMargin
  }

  // ---------------------------------------------------- weighted median

  /** q168_weighted_median — exact quantity-weighted median price per
    * supplier: order each supplier's line items by price and take the first
    * row where the cumulative quantity reaches half the total (the lower
    * weighted median — an exact order statistic, not an interpolation, so
    * it cross-engine hash-matches on raw doubles). The robust "typical
    * price actually paid" statistic — a high-volume cheap line pulls the
    * weighted median down where the unweighted median ignores volume.
    *
    * Scale: the cumulative weight is a window partitioned by supplier
    * (10k+ independent partitions, each bounded by lines-per-supplier);
    * the median pick is `min_by` over the flagged suffix — algebraic, map-
    * side combinable. A mega-group would swap the window for the q25
    * binned-percentile shape; at catalog-shaped cardinalities the
    * per-group sort IS the scalable plan. The tie-break (price, orderkey,
    * linenumber) is total, so cumw is deterministic. */
  def q168WeightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"), col("l_extendedprice").as("price"),
        col("l_quantity").cast("long").as("qty"),
        col("l_orderkey"), col("l_linenumber"))
    val byKey = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("price"), col("l_orderkey"), col("l_linenumber"))
    val cum = li
      .withColumn("cumw", sum(col("qty")).over(
        byKey.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("tot", sum(col("qty")).over(
        Window.partitionBy(col("l_suppkey"))))
    cum.filter(col("cumw") * 2 >= col("tot"))
      .groupBy(col("l_suppkey"))
      .agg(max(col("tot")).as("tot_qty"),
        count(lit(1)).as("n_upper"),
        min_by(col("price"), col("cumw")).as("wmedian_price"))
      .orderBy(col("l_suppkey"))
  }

  val q168Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_extendedprice AS price,
      |         CAST(l_quantity AS BIGINT) AS qty, l_orderkey, l_linenumber
      |  FROM lineitem),
      |c AS (
      |  SELECT l_suppkey, price,
      |         CAST(sum(qty) OVER (PARTITION BY l_suppkey
      |           ORDER BY price, l_orderkey, l_linenumber
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS BIGINT) AS cumw,
      |         CAST(sum(qty) OVER (PARTITION BY l_suppkey) AS BIGINT) AS tot
      |  FROM li)
      |SELECT l_suppkey, max(tot) AS tot_qty, count(*) AS n_upper,
      |       arg_min(price, cumw) AS wmedian_price
      |FROM c WHERE cumw * 2 >= tot
      |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin
}
