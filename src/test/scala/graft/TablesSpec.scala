package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import SparkSuite.jobsDuring

/** The schema memo behind [[Tables.parquet]]: one footer inference per
  * file version, a fresh relation per read. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Write `df` as ONE parquet file at `dst`, replacing what is there —
    * an in-place rewrite under the same file name, as a fixture refresh
    * does it. */
  private def writeFile(df: DataFrame, dst: String): Unit = {
    val tmp = Scratch.lasting("graft_tables_stage").toString + "/p"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(dst),
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  test("a repeated read of an unchanged fixture launches no job and equals spark.read") {
    val first = s"${SparkSuite.sf}/${Tables.names.head}.parquet"
    // the counter sees footer inference: a plain read launches a job
    assert(jobsDuring(spark.read.parquet(first))._2 >= 1)
    Tables.names.foreach { name =>
      val path = s"${SparkSuite.sf}/$name.parquet"
      Tables.parquet(spark, path)
      val (df, jobs) = jobsDuring(Tables.parquet(spark, path))
      assert(jobs === 0, s"$name: a memo hit launched $jobs job(s)")
      val ref = spark.read.parquet(path)
      assert(df.schema === ref.schema, name)
      assert(rows(df) === rows(ref), name)
    }
  }

  test("an in-place rewrite with a different column set re-infers") {
    val file = Scratch.lasting("graft_tables_rewrite").toString +
      "/t.parquet"
    val base = spark.range(5).select(col("id").as("a"), (col("id") * 2).as("b"))
    writeFile(base, file)
    assert(Tables.parquet(spark, file).columns.toSeq === Seq("a", "b"))
    assert(jobsDuring(Tables.parquet(spark, file))._2 === 0)
    // past the coarsest mtime granularity a filesystem may report
    Thread.sleep(1100)
    writeFile(base.withColumn("c", lit("x")), file)
    val (df, jobs) = jobsDuring(Tables.parquet(spark, file))
    assert(jobs >= 1, "the rewrite hit the stale entry")
    assert(df.columns.toSeq === Seq("a", "b", "c"))
    assert(df.filter(col("c") === "x").count() === 5)
  }

  test("toggling nanosAsLong changes events.ts: the conf is part of the key") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // an events fixture of the older generation: ts as TIMESTAMP(NANOS)
    val sfDir = Scratch.lasting("graft_tables_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |}""".stripMargin)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$sfDir/events.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try {
      assert(Tables.rawSchema(spark, sfDir, "events")("ts").dataType === LongType)
      val ev = Tables.events(spark, sfDir)
      assert(ev.schema("ts").dataType === TimestampType)
      assert(ev.select(unix_micros(col("ts"))).head().getLong(0) ===
        1700000000123456L)
      spark.conf.set(key, "false")
      // without the flag Spark rejects the NANOS column; a memo that
      // ignored the conf would hand back the BIGINT schema instead
      val err = intercept[Exception](Tables.events(spark, sfDir))
      assert(err.getMessage.contains("NANOS"), err.getMessage)
      spark.conf.set(key, "true")
      assert(Tables.rawSchema(spark, sfDir, "events")("ts").dataType === LongType)
    } finally spark.conf.set(key, prev)
  }

  test("two reads of one table are distinct relations: a self-join resolves") {
    val a = Tables.orders(spark, SparkSuite.sf)
    val b = Tables.orders(spark, SparkSuite.sf)
    val ids = (df: DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(a) intersect ids(b)).isEmpty)
    val j = a.join(b, a("o_orderkey") === b("o_orderkey"))
      .select(a("o_custkey"), b("o_totalprice"))
    assert(j.count() === a.count())
  }
}
