package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Schemas, Tables}
import graft.sources.WarehouseSink

/** The reference's literal product, assembled end-to-end on its own
  * 13-column trip schema: source scan → conform (rename/cast/project,
  * `/root/reference/data/emr/etl.py:21-43`) → idempotent warehouse append
  * (`etl.py:45-55` + the existence-check guard,
  * `save_nyc_data_to_s3.py:58-78`) → year-partitioned raw-zone landing
  * (`save_nyc_data_to_s3.py:36-48`) → read-back.
  *
  * The trips themselves are synthesized deterministically from `orders`
  * (the driver fixtures carry no fhvhv table), with source-style column
  * names and types so the conform boundary does real work: `PULocationID`/
  * `DOLocationID` arrive as BIGINT under their upstream names and an extra
  * column rides along that the fixed projection must drop.
  *
  * Scale notes: the whole path is shuffle-free (narrow projections + two
  * appends + a partitioned write); idempotency is a broadcast anti-join on
  * the natural key, so a re-run of a 100 TB load moves only the key
  * columns. The read-back's determinism sort exists for the oracle hash
  * only — production appends are unordered, like the reference's.
  */
object Pipeline {

  /** Whole-minute interval addition — exact µs integer arithmetic in both
    * engines, and (unlike unix_micros) defined on the fixture's
    * TIMESTAMP_NTZ o_orderdate. */
  private def plusMinutes(ts: org.apache.spark.sql.Column,
      minutes: org.apache.spark.sql.Column) =
    ts + make_dt_interval(lit(0), lit(0), minutes.cast("int"), lit(0))

  /** Source-shaped synthetic trips: one trip per order, all columns pure
    * deterministic functions of (o_orderkey, o_custkey, o_orderdate,
    * o_totalprice). `dispatching_base_num` embeds the unique o_orderkey —
    * the natural key downstream dedup and ordering hang off. */
  def syntheticTripsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val k = col("o_orderkey")
    o.select(
      concat(lit("HV"), lpad((k % 4).cast("string"), 4, "0"))
        .as("hvfhs_license_num"),
      concat(lit("B"), lpad(k.cast("string"), 8, "0"))
        .as("dispatching_base_num"),
      col("o_orderdate").as("request_datetime"),
      when(k % 7 === 0, lit(null).cast("timestamp"))
        .otherwise(plusMinutes(col("o_orderdate"), k % 10))
        .as("on_scene_datetime"),
      plusMinutes(col("o_orderdate"), k % 10 + 2).as("pickup_datetime"),
      plusMinutes(col("o_orderdate"), k % 10 + 2 + k % 120 + 5)
        .as("dropoff_datetime"),
      (col("o_custkey") % 265 + 1).as("PULocationID"), // BIGINT: conform casts
      (k % 265 + 1).as("DOLocationID"),
      (col("o_totalprice") * 0.08875).as("sales_tax"),
      when(k % 2 === 0, 2.75).otherwise(0.0).as("congestion_surcharge"),
      when(k % 10 === 0, 2.5).otherwise(0.0).as("airport_fee"),
      (col("o_totalprice") * 0.1).as("tips"),
      (col("o_totalprice") * 0.7).as("driver_pay"),
      col("o_orderstatus").as("extra_upstream_noise")) // conform must drop
  }

  /** Natural key for idempotent appends (no nullable columns — anti-join
    * equality would pass NULL-keyed rows through and double-load them). */
  val tripKey: Seq[String] = Seq("dispatching_base_num", "request_datetime")

  /** Run the full pipeline into `root`: conform → first warehouse load →
    * guarded second load (must append zero rows) → raw-zone landing.
    * Returns the conformed frame for read-back comparison. */
  def runTripPipeline(spark: SparkSession, sfDir: String,
      root: String): DataFrame = {
    // Materialize the conformed frame ONCE (r15 optimization, guide §5):
    // three actions consume it — the first warehouse load, the guarded
    // re-load's delta side, and the raw-zone landing — and each would
    // otherwise re-run the source scan + conform projection end-to-end.
    // Narrow projected rows; the cut is the standard multi-consumer
    // treatment (triangleCounts' note).
    val conformed = Schemas.conform(syntheticTripsRaw(spark, sfDir),
      Schemas.fhvhvTripdata, Schemas.fhvhvRenames).localCheckpoint()
    val wh = s"$root/warehouse"
    // The raw-zone landing depends ONLY on the checkpointed conformed
    // frame — not on the warehouse dir the load/guard sequence builds —
    // so it runs as a concurrent driver-thread job (guide §2.6): its
    // tasks back-fill the executor slots the warehouse jobs' stragglers
    // leave idle. Different output directories, disjoint side effects;
    // the thread is JOINED (and its failure rethrown) before return, so
    // callers still observe a fully-landed pipeline. It runs under its own
    // job group: when the warehouse load fails, the landing is cancelled
    // (re-cancelled until the thread ends, so a job it submits after the
    // first cancel dies too) and the LOAD's error surfaces, promptly.
    val rawGroup = s"graft-q04-raw-zone-${java.util.UUID.randomUUID}"
    var rawFailure: Option[Throwable] = None
    val rawLanding = new Thread(() => {
      spark.sparkContext.setJobGroup(rawGroup, "q04 raw-zone landing")
      try WarehouseSink.rawZoneAppend(conformed, s"$root/raw",
        "pickup_datetime")
      catch { case t: Throwable => rawFailure = Some(t) }
    }, "graft-q04-raw-zone")
    rawLanding.start()
    try {
      conformed.write.mode("append").parquet(wh)
      // the reference's existence-check guard, replayed as a real re-run:
      // everything is already loaded, so the delta must be empty — if the
      // guard is broken the warehouse doubles and the oracle hash fails
      WarehouseSink.dedupAppend(conformed,
          Tables.parquet(spark, wh, conformed.schema), tripKey)
        .write.mode("append").parquet(wh)
    } catch { case t: Throwable =>
      while (rawLanding.isAlive) {
        spark.sparkContext.cancelJobGroup(rawGroup)
        rawLanding.join(50)
      }
      throw t
    }
    rawLanding.join()
    rawFailure.foreach(throw _)
    conformed
  }

  /** q04_pipeline — the assembled pipeline, oracle-checked: runs the two
    * loads into a fresh scratch dir, then returns the warehouse read-back
    * in natural-key order. Row count (and hence the hash) proves the
    * idempotency guard: a broken dedup yields 2× rows.
    *
    * NOTE: construction is EAGER (the loads are actions) — plan-only
    * consumers like [[graft.Explain]] see just the read-back scan. q18
    * (bucketed write) and q92 (sketch collect) share this property; every
    * other registered query is a pure lazy plan. The scratch dir is a
    * [[graft.Scratch.perQuery]] one: [[graft.Sessions.release]] deletes it
    * after the query has run, so a ledger pass that builds q04 four times
    * does not accumulate /tmp copies. */
  def q04Pipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val root = graft.Scratch.perQuery("graft-q04")
    runTripPipeline(spark, sfDir, root.toString)
    // the declared DDL, not footer inference: the read-back's column order
    // is the contract's, whatever order a file was written in
    Tables.parquet(spark, s"$root/warehouse", Schemas.fhvhvTripdata)
      .orderBy(col("dispatching_base_num"))
  }

  val q04Sql: String =
    """SELECT 'HV' || lpad(CAST(o_orderkey % 4 AS VARCHAR), 4, '0')
      |         AS hvfhs_license_num,
      |       'B' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0')
      |         AS dispatching_base_num,
      |       o_orderdate AS request_datetime,
      |       CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |            ELSE o_orderdate + (o_orderkey % 10) * INTERVAL 1 MINUTE
      |       END AS on_scene_datetime,
      |       o_orderdate + (o_orderkey % 10 + 2) * INTERVAL 1 MINUTE
      |         AS pickup_datetime,
      |       o_orderdate + (o_orderkey % 10 + 2 + o_orderkey % 120 + 5)
      |         * INTERVAL 1 MINUTE AS dropoff_datetime,
      |       CAST(o_custkey % 265 + 1 AS INTEGER) AS pu_location_id,
      |       CAST(o_orderkey % 265 + 1 AS INTEGER) AS do_location_id,
      |       o_totalprice * 0.08875 AS sales_tax,
      |       CASE WHEN o_orderkey % 2 = 0 THEN 2.75 ELSE 0.0 END
      |         AS congestion_surcharge,
      |       CASE WHEN o_orderkey % 10 = 0 THEN 2.5 ELSE 0.0 END
      |         AS airport_fee,
      |       o_totalprice * 0.1 AS tips,
      |       o_totalprice * 0.7 AS driver_pay
      |FROM orders ORDER BY dispatching_base_num""".stripMargin
}
