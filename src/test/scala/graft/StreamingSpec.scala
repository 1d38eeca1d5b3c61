package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming smoke tests — SURVEY.md §2.8: watermarked event-time
  * windows over a MemoryStream, and exactly-once incremental file ingestion
  * with Trigger.AvailableNow (the streaming-native form of the reference's
  * head-object-then-skip idempotency branch,
  * `/root/reference/data/airflow/dags/save_nyc_data_to_s3.py:58-78`). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked tumbling window aggregates late data correctly") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = input.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_smoke").start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:55:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "view", 3.0))
      q.processAllAvailable()
      // one late-but-within-watermark event lands in the 10:00 window
      input.addData((ts("2024-01-01 10:30:00"), "click", 4.0))
      q.processAllAvailable()
      val rows = sp.table("win_smoke")
        .select(col("window.start").cast("string"), col("event_type"),
          col("n"))
        .as[(String, String, Long)].collect().toSet
      assert(rows.contains(("2024-01-01 10:00:00", "click", 3L)))
      assert(rows.contains(("2024-01-01 11:00:00", "view", 1L)))
    } finally q.stop()
  }

  test("transformWithState quota: per-key cap holds across batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // transformWithState requires the RocksDB state store; scope the
    // provider switch to this query and restore the session default after
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getAll.get(key)
    sp.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = Scratch.lasting("tws_quota").toString
    val input = MemoryStream[(Long, Double)]
    val out = graft.streaming.Streams.quotaEnforce(input.toDS(), quota = 3L)
    val q = out.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("tws_quota").start()
    try {
      input.addData((1L, 1.0), (1L, 1.0), (2L, 1.0))
      q.processAllAvailable()
      input.addData((1L, 1.0), (1L, 1.0), (2L, 1.0))
      q.processAllAvailable()
      val rows = sp.table("tws_quota")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      // batch 1: both keys under quota; batch 2: key 1 hits the cap and
      // drops the overflow, key 2 still accumulating
      assert(rows === Set(
        (1L, 2L, 2L, 0L, 2L), (2L, 1L, 1L, 0L, 1L),
        (1L, 2L, 1L, 1L, 3L), (2L, 1L, 1L, 0L, 2L)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => sp.conf.set(key, v)
        case None    => sp.conf.unset(key)
      }
    }
  }

  test("session window assigns a gap-separated user to two sessions") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("sess_smoke").start()
    try {
      input.addData(
        (ts("2024-01-01 09:00:00"), 7L),
        (ts("2024-01-01 09:10:00"), 7L), // same session (gap 10m)
        (ts("2024-01-01 10:00:00"), 7L)) // gap 50m → new session
      q.processAllAvailable()
      val n = sp.table("sess_smoke").count()
      assert(n === 2, s"expected 2 sessions, got $n")
    } finally q.stop()
  }

  test("dedupStream drops in-horizon duplicates and evicts expired state") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val deduped = streaming.Streams.dedupStream(
      input.toDF().toDF("doc_id", "ts", "payload"),
      keys = Seq("doc_id"), tsCol = "ts", watermark = "1 hour")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    try {
      // same key twice in one batch + once more in the next batch, all
      // within the watermark horizon → exactly one output row
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "a"),
        (1L, ts("2024-01-01 10:00:30"), "a-dup-same-batch"),
        (2L, ts("2024-01-01 10:01:00"), "b"))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 10:20:00"), "a-dup-next-batch"))
      q.processAllAvailable()
      assert(sp.table("dedup_stream").groupBy("doc_id").count()
        .as[(Long, Long)].collect().toMap === Map(1L -> 1L, 2L -> 1L))

      // advance event time far past the horizon: key 1's dedup state has
      // been evicted, so a very late duplicate re-emits — the documented
      // bounded-state trade, asserted so the contract can't drift silently
      input.addData((9L, ts("2024-01-01 20:00:00"), "advance-watermark"))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 19:30:00"), "a-after-horizon"))
      q.processAllAvailable()
      assert(sp.table("dedup_stream").filter(col("doc_id") === 1L).count()
        === 2)
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks within the window") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = streaming.Streams.streamIntervalJoin(
      imps.toDF().toDF("imp_id", "imp_ts"),
      clicks.toDF().toDF("click_imp_id", "click_ts"),
      maxDelaySeconds = 3600L, watermark = "2 hours")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin").start()
    try {
      imps.addData((10L, ts("2024-01-01 10:00:00")),
        (11L, ts("2024-01-01 10:05:00")))
      clicks.addData(
        (10L, ts("2024-01-01 10:20:00")), // within 1h → attributed
        (11L, ts("2024-01-01 11:30:00")), // 85m later → outside window
        (12L, ts("2024-01-01 10:10:00"))) // no matching impression
      q.processAllAvailable()
      val got = sp.table("ssjoin").select("imp_id", "click_ts")
        .as[(Long, Timestamp)].collect().toSet
      assert(got === Set((10L, ts("2024-01-01 10:20:00"))))
    } finally q.stop()
  }

  test("stream-static enrichment joins each batch to the dimension") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val facts = MemoryStream[(Long, String)]
    val dim = Seq(("click", "interactive"), ("view", "passive"))
      .toDF("event_type", "category")
    val enriched = streaming.Streams.streamStaticEnrich(
      facts.toDF().toDF("event_id", "event_type"), dim, "event_type")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("ssenrich").start()
    try {
      facts.addData((1L, "click"), (2L, "view"))
      q.processAllAvailable()
      facts.addData((3L, "scroll")) // no dim row → left join passes it through
      q.processAllAvailable()
      val got = sp.table("ssenrich")
        .select("event_id", "category")
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toSet
      assert(got === Set(1L -> Some("interactive"), 2L -> Some("passive"),
        3L -> None))
    } finally q.stop()
  }

  test("streaming upsert folds change batches into a converging snapshot") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val dir = Scratch.lasting("graft-upsert-").toString
    val changes = MemoryStream[(Long, String, Timestamp)]
    def run(): Unit = streaming.Streams.upsertStream(
      changes.toDF().toDF("k", "v", "ts"), "k", "v", "ts",
      s"$dir/snapshot", s"$dir/ckpt")
    def snapshot(): Map[Long, String] =
      sp.read.parquet(s"$dir/snapshot")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    changes.addData((1L, "a", ts("2024-01-01 10:00:00")),
      (2L, "b", ts("2024-01-01 10:01:00")))
    run()
    assert(snapshot() === Map(1L -> "a", 2L -> "b"))
    // second drain: an update for k=1 plus an OLDER duplicate that must
    // lose the within-batch latest-wins tie, and a brand-new key
    changes.addData(
      (1L, "a2", ts("2024-01-01 11:00:00")),
      (1L, "stale", ts("2024-01-01 09:00:00")),
      (3L, "c", ts("2024-01-01 11:05:00")))
    run()
    assert(snapshot() === Map(1L -> "a2", 2L -> "b", 3L -> "c"))
  }

  test("q125 restages a fixture rewritten in place, never a stale copy") {
    val sfDir = Scratch.lasting("graft_q125_fixture").toString
    val src = spark.read.parquet(s"${SparkSuite.sf}/events.parquet")
    def expected = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .distinct().count()
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"$sfDir/events.parquet")
    write(src.filter(col("user_id") % 2 === 0))
    assert(graft.streaming.Streams.q125StreamDedup(spark, sfDir).count() ===
      expected)
    Thread.sleep(1100)
    write(src.filter(col("user_id") % 2 =!= 0))
    val after = graft.streaming.Streams.q125StreamDedup(spark, sfDir)
    assert(after.count() === expected)
    assert(after.filter(col("user_id") % 2 === 0).isEmpty,
      "q125 replayed the staged copy of the old fixture")
  }

  test("AvailableNow file stream ingests each file exactly once") {
    val sp = spark
    val srcDir = Scratch.lasting("graft_stream_src").toString
    val ckpt = Scratch.lasting("graft_stream_ckpt").toString
    val outDir = Scratch.lasting("graft_stream_out").toString

    def runOnce(): Unit = streaming.Streams.ingestAvailableNow(sp, srcDir,
      Tables.lineitem(sp, SparkSuite.sf).schema, outDir, ckpt)
    def sunk(): Long = sp.read.parquet(outDir).count()

    Tables.lineitem(sp, SparkSuite.sf).limit(100)
      .write.mode("append").parquet(srcDir)
    runOnce()
    assert(sunk() === 100)

    // re-run with no new files: checkpoint must suppress re-ingestion
    runOnce()
    assert(sunk() === 100)

    // a second "month" arrives → only the delta is processed
    Tables.lineitem(sp, SparkSuite.sf).limit(50)
      .write.mode("append").parquet(srcDir)
    runOnce()
    assert(sunk() === 150)
  }

  test("stateless preprocessing stages (redact + chunk) run on a stream") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // PII redaction and chunking are pure map work, so the SAME operator
    // code runs unchanged in a streaming plan (the corpus-statistics stages
    // — dedup, boilerplate — are batch-scoped by design)
    val input = MemoryStream[(Long, String)]
    val chunked = ops.Chunking.chunkTokens(
      input.toDF().toDF("doc_id", "text")
        .select(col("doc_id"), ops.Privacy.redact(col("text")).as("text")),
      "text", size = 3, stride = 2)
    val q = chunked.writeStream.outputMode("append")
      .format("memory").queryName("chunk_stream").start()
    try {
      input.addData((1L, "a b c d e contact bob@mail.com now"),
        (2L, "x y z"))
      q.processAllAvailable()
      val rows = sp.table("chunk_stream").collect()
      // doc 1: 8 tokens after redaction -> starts 0,2,4,6; doc 2: starts 0,2
      assert(rows.length === 6)
      val doc1 = rows.filter(_.getLong(0) == 1L)
        .map(_.getString(2)).mkString(" ")
      assert(doc1.contains("<EMAIL>") && !doc1.contains("bob@mail.com"))
      // batch parity: identical input through the identical operators
      val batch = ops.Chunking.chunkTokens(
        Seq((1L, "a b c d e contact bob@mail.com now"), (2L, "x y z"))
          .toDF("doc_id", "text")
          .select(col("doc_id"), ops.Privacy.redact(col("text")).as("text")),
        "text", size = 3, stride = 2).collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sortBy(t => (t._1, t._2)).toSeq ===
        batch.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
          .sortBy(t => (t._1, t._2)).toSeq)
    } finally q.stop()
  }

  test("q249 streamed CDC fold equals the batch compaction row-for-row") {
    val sf = SparkSuite.sf
    val stream = graft.streaming.Streams.q249StreamCdc(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6),
        r.getDouble(7), r.getTimestamp(8))).toSet
    val batch = graft.ops.Merge.q240CdcReplay(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6),
        r.getDouble(7), r.getTimestamp(8))).toSet
    assert(stream === batch,
      s"stream-vs-batch diff: ${stream.diff(batch).take(3)} / " +
        s"${batch.diff(stream).take(3)}")
    assert(batch.nonEmpty)
  }

  test("late filter lags eviction by one batch (q259's semantics pin)") {
    // Spark >= 3.4 two-watermark design, measured and relied on by
    // q259's oracle: eviction uses max event time through batch b-1,
    // the late-data filter uses batch b-2. Four single-file batches:
    //   b0: t=10000   b1: t=20000
    //   b2: t=100 (window end 110 <= late-wm 10000 -> DROPPED)
    //       t=19000 (end 19010 > late-wm 10000 -> KEPT, though it is
    //        below the eviction wm 20000 — the one-batch grace)
    //   b3: flush t=30000 (own window never closes)
    // If a Spark upgrade changes the lag or the boundary rule, this
    // fails before the q259 oracle mismatch does, with the story in
    // hand.
    val sp = spark
    import sp.implicits._
    def t(s: Long) = new Timestamp(s * 1000L)
    val dir = Scratch.lasting("graft-wmlag").toString
    streaming.Streams.stageFiles(dir, Seq(
      Seq((t(10000), "b0")),
      Seq((t(20000), "b1")),
      Seq((t(100), "lag2-late"), (t(19000), "lag1-late")),
      Seq((t(30000), "flush"))).map(_.toDF("ts", "k")))
    val schema = spark.read.parquet(dir).schema
    val out = streaming.Streams.drain(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(dir)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "10 seconds"), col("k"))
        .agg(count(lit(1)).as("n")), "wmlag")
    val emitted = out.select(col("k")).collect().map(_.getString(0)).toSet
    assert(emitted === Set("b0", "b1", "lag1-late"),
      s"watermark lag semantics moved: emitted $emitted")
  }

  test("a drain that fails at run time restores the session's state confs") {
    val sp = spark
    import sp.implicits._
    val parts = "spark.sql.shuffle.partitions"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val before = sp.conf.get(parts)
    assert(before != "8", "the drain's setting must differ to be seen")
    assert(!sp.conf.getAll.contains(provider))
    val dir = Scratch.lasting("graft-drain-fail").toString + "/in"
    Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").write.parquet(dir)
    val boom = udf { (k: Long) =>
      if (k > 0) throw new IllegalStateException("boom") else k }
    val src = sp.readStream.schema("k BIGINT, v DOUBLE").parquet(dir)
      .select(boom(col("k")).as("_1"), col("v").as("_2"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      streaming.Streams.drain(src, "fail-stateless"))
    assert(sp.conf.get(parts) === before)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      streaming.Streams.drain(
        streaming.Streams.quotaEnforce(src.as[(Long, Double)], 1L),
        "fail-tws", "update"))
    assert(sp.conf.get(parts) === before)
    assert(!sp.conf.getAll.contains(provider),
      "a failed transformWithState drain left the RocksDB provider set")
  }

  test("q259 drops real late rows, emits no duplicate windows (sf0.001)") {
    val sf = SparkSuite.sf
    val out = graft.streaming.Streams.q259StreamLate(spark, sf)
      .localCheckpoint()
    val input = Tables.events(spark, sf).count()
    val kept = out.agg(sum(col("n_events"))).head.getLong(0)
    assert(kept < input, s"no rows dropped (kept $kept of $input) — " +
      "the late-shift fixture is vacuous")
    assert(kept > input / 2, s"only $kept of $input kept — drop rule " +
      "far too aggressive")
    val dup = out.groupBy(col("window_start"), col("event_type"))
      .count().filter(col("count") > 1).count()
    assert(dup === 0L, "duplicate (window, type) emissions — a late row " +
      "re-opened an evicted window")
  }
}
