package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (TESTDATA.md / FIXTURES.md §B).
  *
  * Mirrors the reference's schema-on-read posture: parquet schema is inferred
  * from footers (reference: `data/emr/etl.py:20` reads with inference), and any
  * narrowing to a fixed contract happens in the ingest operators
  * ([[graft.ops.Ingest]]), not here. Inference runs ONCE per file version
  * ([[parquet]]): the reference's warehouse declares its schema by DDL
  * and its ad-hoc queries never re-derive it, so neither do these loaders —
  * a repeated read of an unchanged file launches no Spark job.
  *
  * Scale note: each loader is a plain parquet scan, so Catalyst pushes column
  * pruning and predicate filters down into the vectorized reader. At 100 TB the
  * same call reads a partitioned directory tree instead of a single file —
  * nothing here assumes single-file input.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** All access routes through here so format quirks are handled once:
    * `events` always arrives with its µs timestamp (see [[events]]) no
    * matter which entry point a caller uses. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir) else raw(spark, sfDir, name)

  private def raw(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Inferred schema per path: (file version key, schema). One entry per
    * path — a changed file replaces it. */
  private val schemaMemo =
    scala.collection.concurrent.TrieMap.empty[String, (String, StructType)]

  /** The one batch parquet read of the program. Footer inference is a
    * Spark job, most of a read's cost when the schema is not given, so its
    * result is memoized JVM-wide under the file version: the
    * [[fileInventory]] of `path` plus every set `spark.sql.parquet.*` /
    * `spark.sql.legacy.parquet.*` conf (nanosAsLong flips `events.ts`
    * between BIGINT and a timestamp). A hit launches no job; a rewritten
    * file re-infers. Every call returns a FRESH relation: caching the
    * DataFrame itself would hand two reads the same attribute ids and break
    * self-joins. A path with no files under it (missing, or a glob) is
    * never memoized, so Spark reports it exactly as before. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val inv = fileInventory(spark, path)
    val key = inv + "|" + spark.conf.getAll.toSeq.sorted.collect {
      case (k, v) if k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") => s"$k=$v"
    }.mkString(";")
    schemaMemo.get(path) match {
      case Some((k, schema)) if k == key => parquet(spark, path, schema)
      case _ =>
        val df = spark.read.parquet(path)
        if (inv.nonEmpty) schemaMemo.put(path, (key, df.schema))
        df
    }
  }

  /** A parquet read whose schema is already known: declared by contract,
    * or the writer's own schema when the caller just wrote `path` (such
    * reads never enter the memo — the directory is the caller's). */
  def parquet(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** `path:len:mtime` of every file under `path` (recursive, sorted,
    * `;`-joined) — the version of a file-backed input. Empty when nothing
    * is there. Assumes millisecond mtimes: on a filesystem with coarse
    * (1 s) granularity a same-length rewrite inside the window is
    * invisible here. */
  private[graft] def fileInventory(spark: SparkSession, path: String): String =
    listing(spark, path)
      .map(st => s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(";")

  /** Total length of every file under `path`, from the same one listing
    * as [[fileInventory]] (no Spark job); 0 when nothing is there. */
  private[graft] def fileBytes(spark: SparkSession, path: String): Long =
    listing(spark, path).map(_.getLen).sum

  private def listing(spark: SparkSession,
      path: String): Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val it = fs.listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
  }

  /** The bytes a frame reads: the [[fileInventory]] of every input file
    * of its file-backed relations, sorted and `;`-joined — "" for a frame
    * with no file-backed relation (an in-memory frame's full structural
    * plan already carries its data). The gate memo
    * ([[graft.ops.Similarity.gateDecision]]) keys on it beside the
    * canonicalized plan, which names relations by path only, so a corpus
    * rewritten in place re-probes instead of replaying a stale decision. */
  private[graft] def fileInventory(df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val files = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.inputFiles.toSeq
        case _ => Seq.empty[String]
      }
    }.flatten
    files.sorted.map(fileInventory(df.sparkSession, _)).mkString(";")
  }

  /** The on-disk schema, BEFORE any loader conversion — what a
    * `readStream.schema(...)` against the files themselves must use (for
    * `events` under nanosAsLong that means `ts: BIGINT`, not the converted
    * timestamp [[events]] exposes). */
  def rawSchema(spark: SparkSession, sfDir: String, name: String): StructType =
    raw(spark, sfDir, name).schema

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.ts` normalization — the driver has shipped this column in two
    * physical forms across fixture generations, and every operator downstream
    * expects an instant (`TimestampType`):
    *
    *  - parquet TIMESTAMP(NANOS): Spark's reader rejects it unless
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (Verify / Bench / test
    *    sessions set it); the column arrives as BIGINT nanoseconds and is
    *    floor-divided to µs — the same truncation DuckDB applies on read.
    *    `div` is 64-bit integer division (double division would lose
    *    precision: ns epochs ≈ 1.7e18 > 2^53).
    *  - plain `timestamp[us]` with no UTC-adjustment flag: Spark 4 infers
    *    TIMESTAMP_NTZ. The session TZ is pinned to UTC (build.sbt /
    *    SparkSessionFactory), so casting to TimestampType is a pure
    *    reinterpretation of the same µs value — DuckDB already reads the
    *    column as naive µs, so oracle hashes are unaffected.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = raw(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Unique total-order key for `lineitem` row-level outputs.
    *
    * The synthetic data does NOT make (l_orderkey, l_linenumber) unique
    * (verified at sf0.01: 60000 rows, 45832 distinct pairs), but adding
    * (l_partkey, l_extendedprice) does. Every row-level lineitem query must
    * end with this ordering so the driver's hash compare is deterministic.
    */
  val lineitemKey: Seq[String] =
    Seq("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
}
