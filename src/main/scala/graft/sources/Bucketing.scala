package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.decSum

/** Bucketed table layout — the co-located-join storage strategy
  * (SURVEY.md §2.1/§2.3 scale notes).
  *
  * At 100 TB the dominant cost of a fact-fact join (orders ⋈ lineitem,
  * the reference's implied-warehouse FK pair, `/root/reference/setup.py:87-88`)
  * is shuffling BOTH sides on the join key for every query. Bucketing pays
  * that shuffle once at write time: each table is hash-partitioned into the
  * same number of buckets on its join key and the layout is recorded in the
  * catalog, so every subsequent join of the two tables is exchange-free —
  * each task zips bucket i of one table with bucket i of the other. This is
  * the storage-side answer to the same problem AQE and broadcast solve at
  * runtime, and the right default for a fact table that is joined on the
  * same key by many downstream queries (the training-data-pipeline shape:
  * every epoch re-joins examples to labels/features on the same id).
  *
  * Scale notes:
  *  - Bucket counts must MATCH (or divide evenly, with
  *    `spark.sql.bucketing.coalesceBucketsInJoin.enabled`) for the
  *    exchange to be elided; both writers take the count from one place.
  *  - Bucket count sizes the join parallelism: pick ≈ cluster cores ×
  *    a small factor at production scale (buckets are split across files
  *    per writing task but each bucket is one join task's input).
  *  - `sortBy` inside the bucket lets the sort-merge join skip the
  *    per-task sort when each bucket lands in a single file.
  */
object Bucketing {

  /** Write `df` as a parquet table bucketed (and intra-bucket sorted) on
    * `key`, registered in the session catalog at an explicit external
    * `path`. Bucketing requires the catalog — a plain path write cannot
    * record the layout, which is exactly what the join planner consumes. */
  def writeBucketed(df: DataFrame, table: String, path: String,
      buckets: Int, key: String): Unit =
    df.write.format("parquet")
      .mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** One source of truth for the pair layout: both sides of the FK join
    * must agree or the planner reinstates the exchange. Local fixture
    * scale; production uses cores × small-factor (see scale notes). */
  val JoinBuckets = 8

  /** Write the orders/lineitem pair bucketed on the FK key into `root`,
    * registered under the given table-name prefix. */
  def writeTripPair(spark: SparkSession, sfDir: String, root: String,
      prefix: String = "graft_b"): Unit = {
    writeBucketed(Tables.orders(spark, sfDir), s"${prefix}_orders",
      s"$root/orders", JoinBuckets, "o_orderkey")
    writeBucketed(Tables.lineitem(spark, sfDir), s"${prefix}_lineitem",
      s"$root/lineitem", JoinBuckets, "l_orderkey")
  }

  /** The co-located join itself, from the catalog tables: exchange-free by
    * layout (asserted in PlanSpec — zero Exchange nodes in this frame's
    * executed plan). Callers add aggregation on top; only the join is
    * shuffle-free, an agg on non-bucket columns still exchanges once. */
  def colocatedJoin(spark: SparkSession, prefix: String = "graft_b"): DataFrame =
    spark.table(s"${prefix}_orders")
      .join(spark.table(s"${prefix}_lineitem"),
        col("o_orderkey") === col("l_orderkey"))

  /** The layout is written once per (session, sfDir) and reused by every
    * subsequent call — that amortization IS the pattern ("pay the shuffle
    * at write time, join exchange-free forever after"); re-running q18 in
    * one session must not re-pay the write, exactly as a production
    * warehouse would not re-bucket the fact table per query. */
  @volatile private var writtenFor: Option[String] = None

  /** q18_join_bucketed — ensure the pair is written bucketed (first call
    * per session), then run the FK join off the catalog layout: revenue by
    * (o_orderpriority, l_returnflag). Result is layout-independent, so the
    * plain-join oracle checks it; the exchange elision is asserted
    * separately in PlanSpec. */
  def q18JoinBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    synchronized {
      // the cache is only valid if THIS session's catalog still has the
      // tables — a new SparkSession in the same JVM starts empty
      val cached = writtenFor.contains(sfDir) &&
        spark.catalog.tableExists("graft_b_orders") &&
        spark.catalog.tableExists("graft_b_lineitem")
      if (!cached) {
        val root = graft.Scratch.lasting("graft-q18")
        writeTripPair(spark, sfDir, root.toString)
        writtenFor = Some(sfDir)
      }
    }
    colocatedJoin(spark)
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(
        decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("line_count"))
      .orderBy(col("o_orderpriority"), col("l_returnflag"))
  }

  val q18Sql: String =
    """SELECT o_orderpriority, l_returnflag,
      |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |       count(*) AS line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority, l_returnflag
      |ORDER BY o_orderpriority, l_returnflag""".stripMargin
}
