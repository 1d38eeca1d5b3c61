package graft.sources

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Schemas, Tables}

/** Input sources beyond parquet — CSV and JSON-lines readers with the same
  * ingest-boundary policy as the parquet path (SURVEY.md §1.3): read with an
  * explicit or inferred schema, then [[graft.Schemas.conform]] to the fixed
  * target. The reference reads only parquet (`etl.py:20`); these cover the
  * interchange formats a warehouse ingest layer meets in practice.
  *
  * Scale notes: CSV/JSON scans are splittable line formats — they
  * parallelize by input split like parquet, but carry no column pruning or
  * predicate pushdown and parse every byte, so at 100 TB they are landing
  * formats to be converted once (via [[WarehouseSink.rawZoneAppend]]) and
  * queried as parquet, never the steady-state query substrate. Schemas are
  * passed explicitly: schema inference reads the input twice.
  */
object Readers {

  /** CSV with an explicit schema (header expected, ISO-8601 timestamps —
    * the format Spark's own CSV writer emits). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .schema(schema)
      .csv(path)

  /** JSON-lines with an explicit schema. */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Full ingest boundary: read (any of the three formats) then conform to
    * a fixed target schema — the reference's cast/rename/project contract
    * (`etl.py:21-43`) applied uniformly across formats. */
  def ingest(spark: SparkSession, path: String, format: String,
      sourceSchema: StructType, target: StructType,
      renames: Map[String, String] = Map.empty): DataFrame = {
    val raw = format match {
      case "parquet" => Tables.parquet(spark, path)
      // ORC ships with Spark and keeps its own schema like parquet —
      // no declared read schema needed, conform() enforces the contract
      case "orc"     => spark.read.orc(path)
      case "csv"     => csv(spark, path, sourceSchema)
      case "json"    => jsonLines(spark, path, sourceSchema)
      case other     => throw new IllegalArgumentException(
        s"unsupported ingest format: $other")
    }
    Schemas.conform(raw, target, renames)
  }
}
