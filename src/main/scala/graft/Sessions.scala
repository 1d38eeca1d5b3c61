package graft

import org.apache.spark.sql.SparkSession

/** One place for local-session construction so the configs every entry point
  * must agree on (UTC, nanosAsLong for the events fixture, the graft SQL
  * extensions, CPU-matched shuffle partitions) cannot drift between Verify,
  * Bench, Explain, Soak, and the test suites. */
object Sessions {
  /** Local cores for the mains: `SPARK_GRAFT_CPUS`, else every processor
    * the JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def local(cpus: String, appName: String = "graft"): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Release what one query left behind, before the next one runs.
    * clearCache first: unpersisting blocks alone leaves the CacheManager
    * ENTRY alive, and plan-equality substitution would splice one query's
    * persisted frame (q268/q270/q273) into every later query that builds
    * the same subtree. Then unpersist every RDD, BLOCKING: localCheckpoint
    * blocks are otherwise freed only at GC and starve later queries (r03:
    * q99 31.8 s in-suite vs 1.5 s alone; non-blocking, r5 still saw ~1.5×).
    * Last, delete the [[Scratch.perQuery]] dirs. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    Scratch.releaseQueryDirs()
  }
}
