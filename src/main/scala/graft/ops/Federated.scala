package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.Tables
import graft.sources.Readers

/** Federated multi-format reads — one logical table served from parquet,
  * ORC, CSV and JSON-lines simultaneously, every leg passing through the
  * same [[Readers.ingest]] conform boundary. The point the oracle proves:
  * the ingest contract is FORMAT-INDEPENDENT — all four legs produce
  * bit-identical aggregates, so a 100 TB lake migrating formats (or
  * serving a mixed vintage) runs the same query unchanged.
  *
  * Scale: a union is a no-shuffle concatenation; each leg keeps its own
  * pushdown behavior (columnar pruning for parquet/ORC, whole-row parse
  * for CSV/JSON — the cost difference is the formats', not the plan's).
  */
object Federated {

  private val cols = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderpriority", StringType),
    StructField("o_totalprice", DoubleType)))

  /** The staged copy of the 3-column orders slice in `format`, written
    * once per version of `orders` ([[graft.Scratch.staged]]) — fixture
    * prep, not the operator under test (the q119 staging discipline). */
  private def stage(spark: SparkSession, sfDir: String,
      format: String): String =
    graft.Scratch.staged(spark, s"graft-fed-$format",
        Seq(s"$sfDir/orders.parquet")) { dir =>
      val slice = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
      val w = slice.coalesce(2).write.mode("overwrite")
      format match {
        case "orc"  => w.orc(s"$dir/data")
        case "csv"  => w.option("header", "true").csv(s"$dir/data")
        case "json" => w.json(s"$dir/data")
      }
    } + "/data"

  /** q127_federated — the same aggregate over four physical formats of one
    * logical table, tagged per leg; every (fmt, priority) row must carry
    * identical counts and decimal-exact sums or the conform boundary leaks
    * format artifacts (CSV/JSON double round-trips, ORC schema drift). */
  def q127Federated(spark: SparkSession, sfDir: String): DataFrame = {
    val parquetLeg = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val legs = Seq("orc", "csv", "json").map { f =>
      Readers.ingest(spark, stage(spark, sfDir, f), f, cols, cols)
        .withColumn("fmt", lit(f))
    } :+ parquetLeg.withColumn("fmt", lit("parquet"))
    legs.reduce(_.unionByName(_))
      .groupBy(col("fmt"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        decSum(col("o_totalprice"), 2).as("sum_price"))
      .orderBy(col("fmt"), col("o_orderpriority"))
  }

  val q127Sql: String =
    """WITH agg AS (
      |  SELECT o_orderpriority, count(*) AS n_rows,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |           AS sum_price
      |  FROM orders GROUP BY 1),
      |fmts AS (SELECT unnest(['csv','json','orc','parquet']) AS fmt)
      |SELECT fmt, o_orderpriority, n_rows, sum_price
      |FROM agg CROSS JOIN fmts
      |ORDER BY fmt, o_orderpriority""".stripMargin

  private val docCols = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("text", StringType)))

  /** The staged free-text copy of `documents` in `format`, for the
    * q08/q09 round-trips (written once per version, as [[stage]]). */
  private def stageDocs(spark: SparkSession, sfDir: String,
      format: String): String =
    graft.Scratch.staged(spark, s"graft-rt-$format",
        Seq(s"$sfDir/documents.parquet")) { dir =>
      val slice = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("text"))
      val w = slice.coalesce(2).write.mode("overwrite")
      format match {
        case "csv"  => w.option("header", "true").csv(s"$dir/data")
        case "json" => w.json(s"$dir/data")
      }
    } + "/data"

  /** Round-trip core for q08/q09: sink the documents table to a line
    * format, read it back through the [[Readers]] ingest boundary, and
    * emit the rows THEMSELVES — the driver's hash compare against the
    * plain-parquet oracle then proves the round-trip is byte-exact on
    * free text (CSV quoting, JSON escaping, integer width survival).
    * The aggregate-level cousin is q127; this is the row-level contract.
    * (The fixture text is single-line; a corpus with embedded newlines
    * would add `multiLine` on the CSV read — documented, not needed.)
    *
    * Scale: the write is a per-partition parallel sink, the read a
    * splittable line-format scan — both format-conversion passes a
    * landing zone makes exactly once (see [[Readers]] notes). */
  private def roundTrip(spark: SparkSession, sfDir: String,
      format: String): DataFrame =
    Readers.ingest(spark, stageDocs(spark, sfDir, format), format,
      docCols, docCols)
      .orderBy(col("doc_id"))

  /** q08_csv_roundtrip — documents → CSV sink → CSV source, row-identical. */
  def q08CsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame =
    roundTrip(spark, sfDir, "csv")

  /** q09_jsonl_roundtrip — documents → JSON-lines sink → source. */
  def q09JsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame =
    roundTrip(spark, sfDir, "json")

  private val rtSql =
    """SELECT doc_id, lang, source, n_chars, text
      |FROM documents ORDER BY doc_id""".stripMargin
  val q08Sql: String = rtSql
  val q09Sql: String = rtSql
}
