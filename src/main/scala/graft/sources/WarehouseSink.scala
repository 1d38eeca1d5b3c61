package graft.sources

import org.apache.spark.sql.functions.{col, year}
import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.Tables

/** Sinks — the reference's output surface re-expressed (SURVEY.md §2.1).
  *
  * The reference appends to Redshift over JDBC with an S3 staging dir
  * (`/root/reference/data/emr/etl.py:45-55`) and lands raw files in a
  * year-partitioned S3 layout (`save_nyc_data_to_s3.py:36-48`). Locally the
  * JDBC path cannot be exercised (zero egress, no warehouse), so the writer
  * builders are thin and the parquet forms are the tested paths — the driver
  * harness itself is the parquet sink (Verify.scala).
  *
  * Scale notes: JDBC append parallelism is per-partition (one connection per
  * partition — size with repartition(n) to match the warehouse's ingest
  * concurrency); the raw-zone writer partitions by year so downstream reads
  * prune partitions (the layout the reference builds by hand with f-strings).
  */
object WarehouseSink {

  /** JDBC append writer, configured like the reference's Redshift sink
    * (`etl.py:45-55`): blind append, driver-supplied URL/table. Returns the
    * configured writer so callers decide when to `.save()`. */
  def jdbcAppend(df: DataFrame, url: String, table: String,
      properties: Map[String, String] = Map.empty) = {
    val w = df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .mode(SaveMode.Append)
    properties.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }
  }

  /** Staged JDBC load — the reference's actual Redshift shape
    * (`etl.py:45-55` writes through an S3 tempdir) modeled end-to-end
    * rather than as a blind direct append: the frame is materialized ONCE
    * to a staging directory (the durable handoff — at warehouse scale the
    * bulk COPY reads these files directly), and the JDBC load reads the
    * STAGED COPY, never the upstream lineage. Consequences the direct
    * path lacks: a failed or retried load re-reads cheap staged files
    * instead of recomputing the whole pipeline; the staged dir doubles as
    * the load audit trail; and the upstream job can release its resources
    * before the warehouse ingests. Returns the staged row count (the
    * number a load-verification step compares against the warehouse-side
    * count). Staging files are LEFT IN PLACE — retention is the caller's
    * lifecycle policy, as with the reference's tempdir. */
  def stagedJdbcLoad(df: DataFrame, stagingDir: String, url: String,
      table: String, properties: Map[String, String] = Map.empty): Long = {
    df.write.mode(SaveMode.Overwrite).parquet(stagingDir)
    val staged = Tables.parquet(df.sparkSession, stagingDir, df.schema)
    jdbcAppend(staged, url, table, properties).save()
    staged.count()
  }

  /** Raw-zone writer: the reference's `raw/fhvhv/{year}/...` layout
    * (`save_nyc_data_to_s3.py:42-44`) as a real partitioned parquet write —
    * read-side partition pruning replaces its hand-built key strings. */
  def rawZoneAppend(df: DataFrame, root: String, tsCol: String): Unit =
    df.withColumn("year", year(col(tsCol)))
      .write.partitionBy("year")
      .mode(SaveMode.Append)
      .parquet(root)

  /** Deduplicated append — closes the reference's double-load hole (its
    * idempotency branch guards the download, but the JDBC append is blind,
    * `etl.py:53-55`): left-anti join against the existing sink keys before
    * appending. The result keeps `df`'s column order: a USING join puts
    * the keys first, and appending that would leave the sink with files
    * in two column orders. */
  def dedupAppend(df: DataFrame, existing: DataFrame,
      keys: Seq[String]): DataFrame =
    df.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .select(df.columns.toSeq.map(col): _*)

  /** One partition's compaction verdict from [[compactionPlan]]. */
  case class CompactionEntry(partition: String, n_files: Long,
      bytes: Long, target_files: Int, compact: Boolean)

  /** Small-file compaction for the year-partitioned raw zone — the
    * maintenance job every append-mode lake layout eventually needs: a
    * monthly append run ([[rawZoneAppend]]) leaves one small file per
    * micro-batch per partition, and scan planning degrades with file count
    * (driver-side listing, per-file open cost, tiny row groups defeating
    * the columnar reader). This is the OPTIMIZE/bin-packing shape of the
    * table-format world expressed on plain parquet.
    *
    * [[compactionPlan]] lists partition directories via the Hadoop
    * FileSystem API (driver-side metadata only — file COUNTS and sizes,
    * never data) and flags partitions where files-per-partition exceeds
    * what `targetBytes` sizing requires. [[compactPartition]] rewrites one
    * flagged partition with `repartition(targetFiles)` into a temp dir and
    * atomically swaps it in — rewrite cost is one partition's data, not the
    * table, and partitions compact independently (schedule them as
    * separate parallel jobs at scale). */
  def compactionPlan(spark: org.apache.spark.sql.SparkSession, root: String,
      targetBytes: Long): Seq[CompactionEntry] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    parts.map { p =>
      val files = fs.listStatus(p.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val bytes = files.map(_.getLen).sum
      val target = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      CompactionEntry(p.getPath.getName, files.length.toLong, bytes, target,
        compact = files.length > target)
    }.toSeq.sortBy(_.partition)
  }

  /** Rewrite one partition directory into `targetFiles` files. The swap is
    * rename-based: write to `<dir>.compact.tmp`, move the old dir aside,
    * move the new one in, delete the old — the window where readers see a
    * missing dir is two renames (a table format's metadata commit removes
    * even that; this is the plain-parquet approximation). */
  def compactPartition(spark: org.apache.spark.sql.SparkSession, root: String,
      partition: String, targetFiles: Int): Unit = {
    val dir = new org.apache.hadoop.fs.Path(root, partition)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(root, partition + ".compact.tmp")
    val old = new org.apache.hadoop.fs.Path(root, partition + ".compact.old")
    Tables.parquet(spark, dir.toString)
      .repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    require(fs.rename(dir, old), s"could not move $dir aside")
    require(fs.rename(tmp, dir), s"could not move compacted files into $dir")
    fs.delete(old, true): Unit
  }
}
