package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.WarehouseSink
import graft.streaming.Streams

/** Ingest-boundary contracts, sinks, and the custom stateful sessionizer. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  test("Schemas.conform renames, casts, reorders, and fails on missing") {
    val sp = spark
    import sp.implicits._
    val src = Seq(("HV0003", "B02764", 132L, 7L, 1.25))
      .toDF("hvfhs_license_num", "dispatching_base_num", "PULocationID",
        "DOLocationID", "tips")
    val target = StructType(Seq(
      StructField("hvfhs_license_num", StringType),
      StructField("pu_location_id", IntegerType),
      StructField("do_location_id", IntegerType),
      StructField("tips", DoubleType)))
    val out = Schemas.conform(src, target, Schemas.fhvhvRenames)
    assert(out.schema.fieldNames.toSeq ===
      Seq("hvfhs_license_num", "pu_location_id", "do_location_id", "tips"))
    assert(out.schema("pu_location_id").dataType === IntegerType)
    assert(out.head() === org.apache.spark.sql.Row("HV0003", 132, 7, 1.25))

    val broken = src.drop("PULocationID")
    val err = intercept[IllegalArgumentException] {
      Schemas.conform(broken, target, Schemas.fhvhvRenames)
    }
    assert(err.getMessage.contains("pu_location_id"))
  }

  test("q04 assembled pipeline: conform contract, idempotent re-run, pruning") {
    val root = Scratch.lasting("graft_q04_spec").toString
    val conformed = ops.Pipeline.runTripPipeline(spark, SparkSuite.sf, root)
    // conform enforced the 13-column DDL (noise column dropped, types cast;
    // nullability is tighter where columns are literal-derived — fine)
    assert(conformed.schema.map(f => (f.name, f.dataType)) ===
      Schemas.fhvhvTripdata.map(f => (f.name, f.dataType)))
    val n = conformed.count()
    // the guarded second load appended ZERO rows — the warehouse holds
    // exactly one copy
    assert(spark.read.parquet(s"$root/warehouse").count() === n)
    // and an explicit third replay is an empty delta
    assert(WarehouseSink.dedupAppend(conformed,
      spark.read.parquet(s"$root/warehouse"), ops.Pipeline.tripKey)
      .count() === 0)
    // raw zone landed year-partitioned; a year filter prunes to that year
    val years = new java.io.File(s"$root/raw").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("year="))
    assert(years.length > 1)
    val y = years.head.stripPrefix("year=").toInt
    val pruned = spark.read.parquet(s"$root/raw")
      .filter(col("year") === y)
    assert(pruned.count() ===
      conformed.filter(year(col("pickup_datetime")) === y).count())
  }

  test("q04: every warehouse file and every construction keeps the DDL order") {
    val ddl = Schemas.fhvhvTripdata.fieldNames.toSeq
    val root = Scratch.lasting("graft_q04_order").toString
    ops.Pipeline.runTripPipeline(spark, SparkSuite.sf, root)
    // the guarded re-load appends an (empty) file too: both loads must
    // write the conformed order, or footer inference picks either
    val files = new java.io.File(s"$root/warehouse").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 2)
    files.foreach(f => assert(
      spark.read.parquet(f.toString).columns.toSeq === ddl, f.getName))
    (1 to 3).foreach { i =>
      assert(ops.Pipeline.q04Pipeline(spark, SparkSuite.sf).columns.toSeq ===
        ddl, s"construction $i")
    }
  }

  test("q04: a failed warehouse load cancels the raw-zone landing") {
    import org.apache.spark.scheduler.{JobFailed, SparkListener,
      SparkListenerJobEnd, SparkListenerJobStart}
    // ~750k source trips, so the landing outlives the failed load
    val sfDir = Scratch.lasting("graft_q04_fault_sf").toString
    Tables.orders(spark, SparkSuite.sf)
      .crossJoin(spark.range(500).withColumnRenamed("id", "rep"))
      .withColumn("o_orderkey", col("o_orderkey") * 1000 + col("rep"))
      .drop("rep")
      .write.parquet(s"$sfDir/orders.parquet")
    val root = Scratch.lasting("graft_q04_fault").toString
    // a plain FILE where the warehouse directory must go: the load fails
    Files.createFile(java.nio.file.Paths.get(root, "warehouse"))
    val rawJobs = scala.collection.concurrent.TrieMap.empty[Int, Boolean]
    val ended = scala.collection.concurrent.TrieMap.empty[Int, Boolean]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p =>
              Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith("graft-q04-raw-zone")))
          rawJobs.put(e.jobId, true): Unit
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.put(e.jobId, e.jobResult.isInstanceOf[JobFailed]): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val err = intercept[Exception](
        ops.Pipeline.runTripPipeline(spark, sfDir, root))
      // the load's own error, not the landing's cancellation
      assert(!String.valueOf(err.getMessage).contains("cancelled"),
        err.getMessage)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
        "a job is still running after the pipeline returned")
      // no raw-zone job ran to completion: each one started was cancelled
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!rawJobs.keys.forall(ended.contains) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(rawJobs.nonEmpty, "the landing never started a job")
      rawJobs.keys.foreach(id =>
        assert(ended.get(id) === Some(true), s"raw-zone job $id completed"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("raw-zone writer produces a year-partitioned pruned layout") {
    val root = Scratch.lasting("graft_rawzone").toString
    val li = Tables.lineitem(spark, SparkSuite.sf)
    WarehouseSink.rawZoneAppend(li, root, "l_shipdate")
    // layout on disk is year=YYYY directories (the reference's raw/{year}/)
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("year=")).sorted
    assert(dirs.nonEmpty && dirs.head === "year=1995")
    // read-side partition pruning: a year filter must scan only that dir
    val pruned = spark.read.parquet(root).filter(col("year") === 1998)
    val expected = li.filter(year(col("l_shipdate")) === 1998).count()
    assert(pruned.count() === expected)
    assert(dirs.length > 1) // multiple partitions exist, pruning is real
  }

  test("dynamic partition pruning fires on a year-partitioned fact join") {
    // the 100 TB path: a dim filter known only at runtime prunes the
    // partitioned fact scan via a DPP subquery — without it every year
    // directory is read
    val root = Scratch.lasting("graft_dpp").toString
    WarehouseSink.rawZoneAppend(Tables.lineitem(spark, SparkSuite.sf),
      root, "l_shipdate")
    val fact = spark.read.parquet(root)
    val dim = Tables.orders(spark, SparkSuite.sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(year(col("o_orderdate")).as("year")).distinct()
    val joined = fact.join(dim, Seq("year"))
      .groupBy(col("year")).agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruning"),
      s"expected a DPP subquery in the partition filters:\n$plan")
    assert(joined.count() > 0)
  }

  test("dedupAppend suppresses already-loaded keys (double-load hole)") {
    val li = Tables.lineitem(spark, SparkSuite.sf).limit(1000)
    val existing = li.limit(400)
    val delta = WarehouseSink.dedupAppend(li, existing, Tables.lineitemKey)
    assert(delta.count() === 600)
    // re-appending the same batch yields nothing
    assert(WarehouseSink.dedupAppend(existing, existing,
      Tables.lineitemKey).count() === 0)
  }

  test("dedupAppend keeps its input's column order") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1.0, 1L, "a"), (2.0, 2L, "b")).toDF("v", "k", "w")
    val existing = Seq((9.0, 1L, "z")).toDF("v", "k", "w")
    val out = WarehouseSink.dedupAppend(df, existing, Seq("k"))
    // a USING anti-join alone would put the key first: k, v, w
    assert(out.columns.toSeq === Seq("v", "k", "w"))
    assert(out.collect().toSeq === Seq(org.apache.spark.sql.Row(2.0, 2L, "b")))
  }

  test("CSV and JSON round-trip lineitem losslessly through the readers") {
    val li = Tables.lineitem(spark, SparkSuite.sf)
    val csvDir = Scratch.lasting("graft_csv").toString + "/data"
    val jsonDir = Scratch.lasting("graft_json").toString + "/data"
    li.write.option("header", "true").csv(csvDir)
    li.write.json(jsonDir)
    val backCsv = graft.sources.Readers.csv(spark, csvDir, li.schema)
    val backJson = graft.sources.Readers.jsonLines(spark, jsonDir, li.schema)
    Seq(backCsv, backJson).foreach { back =>
      assert(back.schema === li.schema)
      assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
    }
  }

  test("Readers.ingest conforms any format to the fixed target schema") {
    val li = Tables.lineitem(spark, SparkSuite.sf)
    val dir = Scratch.lasting("graft_ingest").toString + "/data"
    li.write.option("header", "true").csv(dir)
    val target = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("order_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("l_quantity",
        org.apache.spark.sql.types.IntegerType)))
    val out = graft.sources.Readers.ingest(spark, dir, "csv", li.schema,
      target, Map("l_orderkey" -> "order_id"))
    assert(out.schema.fieldNames.toSeq === Seq("order_id", "l_quantity"))
    assert(out.schema("l_quantity").dataType.typeName === "integer")
    assert(out.count() === li.count())
  }

  test("tableSchema(events) drives a readStream against the raw files") {
    val sp = spark
    val schema = Schemas.tableSchema(sp, SparkSuite.sf, "events")
    // the driver has shipped two on-disk layouts across fixture generations:
    // TIMESTAMP(NANOS) (arrives as long under nanosAsLong) and plain
    // timestamp[us] (arrives as timestamp_ntz) — accept either
    assert(Set("long", "timestamp_ntz")(schema("ts").dataType.typeName),
      s"readStream schema must match the on-disk layout, got ${schema("ts").dataType.typeName}")
    // and it must actually work as a streaming source schema (the file
    // source requires a directory, so stage the fixture file into one)
    val srcDir = Scratch.lasting("graft_ev_stream_src")
    Files.copy(java.nio.file.Paths.get(s"${SparkSuite.sf}/events.parquet"),
      srcDir.resolve("events.parquet"))
    val outDir = Scratch.lasting("graft_ev_stream_out").toString
    val ckpt = Scratch.lasting("graft_ev_stream_ckpt").toString
    val q = sp.readStream.schema(schema)
      .parquet(srcDir.toString)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(sp.read.parquet(outDir).count() ===
      Tables.events(sp, SparkSuite.sf).count())
  }

  test("custom sessionizer: in-batch session split + timeout emission") {
    val sp = spark
    import sp.implicits._
    implicit val session = sp
    implicit val sqlCtx = sp.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)

    val input = MemoryStream[Streams.Ev]
    val sessions = Streams.sessionize(
      input.toDS().withWatermark("ts", "0 seconds"), gapMinutes = 30)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_custom").start()
    try {
      // user 7: two bursts separated by 50 min inside one batch → the first
      // session closes inline
      input.addData(
        Streams.Ev(7L, ts("2024-01-01 09:00:00"), 1.0),
        Streams.Ev(7L, ts("2024-01-01 09:10:00"), 2.0),
        Streams.Ev(7L, ts("2024-01-01 10:00:00"), 4.0))
      q.processAllAvailable()
      // another user far in the future pushes the watermark → user 7's open
      // session times out and is emitted
      input.addData(Streams.Ev(8L, ts("2024-01-01 13:00:00"), 8.0))
      q.processAllAvailable()
      input.addData(Streams.Ev(9L, ts("2024-01-01 18:00:00"), 0.5))
      q.processAllAvailable()

      val rows = sp.table("sess_custom")
        .select(col("user_id"), col("session_start").cast("string"),
          col("session_end").cast("string"), col("n_events"),
          col("sum_value"))
        .as[(Long, String, String, Long, Double)].collect().toSet
      assert(rows.contains(
        (7L, "2024-01-01 09:00:00", "2024-01-01 09:40:00", 2L, 3.0)),
        s"got $rows")
      assert(rows.contains(
        (7L, "2024-01-01 10:00:00", "2024-01-01 10:30:00", 1L, 4.0)),
        s"got $rows")
    } finally q.stop()
  }

  test("custom sessionizer agrees with batch session_window on the fixture") {
    val sp = spark
    import sp.implicits._
    implicit val session = sp
    implicit val sqlCtx = sp.sqlContext
    val ev = Tables.events(sp, SparkSuite.sf)
      .select(col("user_id"), col("ts"), col("value"))
      .as[Streams.Ev].collect().toSeq

    val input = MemoryStream[Streams.Ev]
    val q = Streams.sessionize(
      input.toDS().withWatermark("ts", "0 seconds"), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_parity").start()
    try {
      input.addData(ev)
      q.processAllAvailable()
      // sentinel far-future event flushes every open session via timeout
      input.addData(Streams.Ev(-1L,
        Timestamp.valueOf("2030-01-01 00:00:00"), 0.0))
      q.processAllAvailable()

      val streamed = sp.table("sess_parity")
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      val batch = ops.Events.q62Sessionize(sp, SparkSuite.sf)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
        .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
      val missing = batch -- streamed
      val extra = streamed -- batch
      assert(missing.isEmpty && extra.isEmpty,
        s"missing=${missing.take(3)} extra=${extra.take(3)}")
    } finally q.stop()
  }

  test("custom sessionizer handles out-of-order events across batches") {
    val sp = spark
    import sp.implicits._
    implicit val session = sp
    implicit val sqlCtx = sp.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)

    val input = MemoryStream[Streams.Ev]
    val q = Streams.sessionize(
      input.toDS().withWatermark("ts", "4 hours"), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_late").start()
    try {
      // batch 1: an on-time event at 10:00
      input.addData(Streams.Ev(7L, ts("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      // batch 2: two LATE events — 09:00 opens a distinct earlier session,
      // 09:50 arrives within gap of 10:00 and must extend that session's
      // start downward (batch session_window semantics)
      input.addData(
        Streams.Ev(7L, ts("2024-01-01 09:00:00"), 2.0),
        Streams.Ev(7L, ts("2024-01-01 09:50:00"), 4.0))
      q.processAllAvailable()
      // flush: far-future sentinel pushes the watermark past everything
      input.addData(Streams.Ev(8L, ts("2024-01-02 00:00:00"), 0.0))
      q.processAllAvailable()
      input.addData(Streams.Ev(9L, ts("2024-01-03 00:00:00"), 0.0))
      q.processAllAvailable()

      val rows = sp.table("sess_late").filter(col("user_id") === 7L)
        .select(col("session_start").cast("string"),
          col("session_end").cast("string"), col("n_events"),
          col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows === Set(
        ("2024-01-01 09:00:00", "2024-01-01 09:30:00", 1L, 2.0),
        ("2024-01-01 09:50:00", "2024-01-01 10:30:00", 2L, 5.0)),
        s"got $rows")
    } finally q.stop()
  }

  test("streaming windowedCounts emits finalized windows under watermark") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Timestamp, String, Double)]
    val out = Streams.windowedCounts(
      input.toDF().toDF("ts", "event_type", "value"),
      window_ = "1 hour", watermark = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("wc_stream").start()
    try {
      input.addData((ts("2024-01-01 10:10:00"), "click", 2.0),
        (ts("2024-01-01 10:20:00"), "click", 3.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 12:00:00"), "view", 1.0))
      q.processAllAvailable()
      val rows = sp.table("wc_stream")
        .select(col("window_start").cast("string"), col("event_type"),
          col("n_events"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows.contains(("2024-01-01 10:00:00", "click", 2L, 5.0)),
        s"got $rows")
    } finally q.stop()
  }
  test("raw zone joins prune partitions dynamically from the dim filter") {
    import org.apache.spark.sql.functions._
    val root = Scratch.lasting("graft-dpp").toString
    sources.WarehouseSink.rawZoneAppend(
      Tables.lineitem(spark, SparkSuite.sf), root, "l_shipdate")
    // a dimension that names years only indirectly (filter on a non-key
    // column): static pruning cannot help, only DPP can inject the year
    // list into the fact scan at runtime
    val dim = spark.range(1990, 2040)
      .select(col("id").cast("int").as("y"),
        (col("id") % 2).as("flag"))
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      val joined = spark.read.parquet(root)
        .join(dim.filter(col("flag") === 0), col("year") === col("y"))
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("dynamicpruning"),
        s"no dynamic partition pruning in:\n$plan")
      // and the join is still correct
      val expected = Tables.lineitem(spark, SparkSuite.sf)
        .filter((year(col("l_shipdate")) % 2) === 0).count()
      assert(joined.count() === expected)
    } finally spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats", "true")
  }
}
