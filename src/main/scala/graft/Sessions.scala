package graft

import org.apache.spark.sql.SparkSession

/** One place for local-session construction so the configs every entry point
  * must agree on (UTC, nanosAsLong for the events fixture, the graft SQL
  * extensions, CPU-matched shuffle partitions, the generated-class cache size)
  * cannot drift between Verify, Bench, Explain, Soak, AuditSweep, the
  * perfbench harness and the test suites. */
object Sessions {
  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache holds
    * one janino-compiled class per distinct generated source, so a working
    * set of generated code larger than the cache is recompiled on every
    * pass. Measured per JVM (perfbench, sf0.01, 4 cores): `curation_ingest`
    * compiles about 165 distinct classes (set-up 23, its untimed output
    * pass 94, the monthly loop, compaction and read-back 46) and
    * `warehouse_sql` 63. At 100 entries each `curation_ingest` round
    * recompiled about 145 classes (1.8 s of janino), 88 of them in the
    * sorted query pass; at 1000 its query passes compile nothing but
    * q125's (below). 1000 holds the larger working set six times over; the
    * traced run's peak RSS read 1301 MB at 100 entries and 1394 MB here.
    * The whole ledger under [[graft.Bench]] is larger than this (about 5000
    * classes at sf0.001), so its nosort pass still recompiles what the
    * sorted pass compiled.
    *
    * It is a static conf, read once per JVM when Spark's `CodeGenerator`
    * is first loaded; every program builds its session here before it
    * generates code. The bound stays: Spark's loading cache still evicts
    * past this many entries, least recently used first within each of its
    * segments.
    *
    * Not covered: the cache keys on (the compiling thread's context
    * classloader, source), and each stream drain
    * ([[graft.streaming.Streams.drain]]) runs its tasks under a classloader
    * of its own. So q125 recompiles the same 6 classes on every drain,
    * whatever this size. */
  val CodegenCacheEntries: Int = 1000

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
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toLong)
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
