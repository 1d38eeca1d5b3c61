package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** Structured Streaming surface — SURVEY.md §2.8.
  *
  * The reference's "streaming" is an Airflow cron + existence-check
  * micro-batch (`save_nyc_data_to_s3.py:54-78`). These are the
  * streaming-native equivalents: exactly-once incremental file ingestion
  * (checkpoint-tracked, subsuming the head-object/skip branch), watermarked
  * event-time aggregation, and a custom stateful sessionizer via
  * flatMapGroupsWithState (the custom-state extension point).
  *
  * Scale notes: the file source lists and checkpoints file names — state is
  * O(files), not O(rows); windowed aggregation state is bounded by the
  * watermark horizon × group cardinality; the sessionizer keeps one small
  * state record per active key and emits+evicts on event-time timeout.
  *
  * Every stream here runs through one start/await core, [[runAvailableNow]];
  * the registered queries (q119, q125, q136, q219, q222, q227, q249, q259)
  * reach it through [[drain]], which owns their sink, checkpoint, scoped
  * state confs and read-back. Inputs whose batch boundaries are part of the
  * semantics stage through [[stageFiles]].
  */
object Streams {

  /** The one start/await core: run `stream` with its checkpoint at
    * `checkpoint` as an AvailableNow drain (everything present at start, in
    * as many micro-batches as the source's limits make, then stop), with
    * the sink `sink` configures. `confs` hold on the session only while
    * the query starts and runs; each key is restored in `finally`, unset
    * if it was unset, so a stream that fails to start or to run leaves
    * the session as it found it. */
  private def runAvailableNow(stream: DataFrame, checkpoint: String,
      outputMode: String, confs: Map[String, String])(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val spark = stream.sparkSession
    val set = spark.conf.getAll
    val prev = confs.keys.toList.map(k => k -> set.get(k))
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      sink(stream.writeStream.outputMode(outputMode)
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow()))
        .start().awaitTermination()
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Drain a registered streaming query into a fresh
    * [[graft.Scratch.perQuery]] dir (`out` and `cp` under
    * `graft-<name>…`) and read the output back with the stream's schema.
    * `append` writes the parquet file sink; `update` appends each
    * micro-batch's rows through foreachBatch, because the file sink takes
    * append only.
    *
    * State confs, set here only: a stateful operator keeps one state store
    * per shuffle partition, and each store commits a checkpoint file every
    * micro-batch. So the stream runs at 8 shuffle partitions, sized to its
    * state rather than to the session's CPU-matched batch default, which
    * bounds that fixed per-batch cost at any core count. Each drain starts
    * a fresh checkpoint, so the count is free to differ from other runs,
    * and results are partitioning-blind (watermarks are global, state is
    * keyed; a stateless stream has no shuffle to size). A plan holding a
    * `TransformWithState` node also gets the RocksDB state store that
    * operator requires, with changelog checkpointing: each micro-batch
    * commits per-partition deltas instead of uploading a full snapshot. */
  private[graft] def drain(stream: Dataset[_], name: String,
      outputMode: String = "append"): DataFrame = {
    val root = graft.Scratch.perQuery(s"graft-$name")
    val out = s"$root/out"
    val rocksDb =
      if (stream.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState]))
        Map("spark.sql.streaming.stateStore.providerClass" ->
            ("org.apache.spark.sql.execution.streaming.state." +
              "RocksDBStateStoreProvider"),
          ("spark.sql.streaming.stateStore.rocksdb." +
            "changelogCheckpointing.enabled") -> "true")
      else Map.empty[String, String]
    runAvailableNow(stream.toDF(), s"$root/cp", outputMode,
        Map("spark.sql.shuffle.partitions" -> "8") ++ rocksDb) { w =>
      if (outputMode == "append") w.format("parquet").option("path", out)
      else w.foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
      }
    }
    graft.Tables.parquet(stream.sparkSession, out, stream.schema)
  }

  /** Stage `batches` under `dir` as one parquet file each, `b<i>.parquet`,
    * with mtimes 60 s apart, oldest first. FileStreamSource orders files by
    * modification time (latestFirst=false), so a drain with
    * `maxFilesPerTrigger=1` replays them as exactly one micro-batch each,
    * in order: the batch boundaries are pinned, not left to
    * directory-listing luck. */
  private[graft] def stageFiles(dir: String, batches: Seq[DataFrame]): Unit = {
    val tmp = graft.Scratch.perQuery("graft-stage")
    val base = System.currentTimeMillis() - 600000L
    batches.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.parquet(s"$tmp/b$i")
      val part = new java.io.File(s"$tmp/b$i").listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(dir, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(base + i * 60000L): scala.Unit
    }
  }

  /** Incremental exactly-once ingestion: process whatever files have arrived
    * under `srcDir` since the last checkpoint, append to `destDir`, stop.
    * Run per schedule tick — the reference's monthly DAG run
    * (`save_nyc_data_to_s3.py:51-56`) becomes one AvailableNow drain. */
  def ingestAvailableNow(spark: SparkSession, srcDir: String, schema: StructType,
      destDir: String, checkpoint: String): Unit =
    runAvailableNow(spark.readStream.schema(schema).parquet(srcDir),
        checkpoint, "append", Map.empty)(
      _.format("parquet").option("path", destDir))

  /** Watermarked tumbling-window counts/sums per event type — the streaming
    * twin of [[graft.ops.Events.q60WindowTumbling]] (same expressions, plus
    * the watermark bounding state and late data). */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      // decimal partial sums: exact and order-independent across
      // micro-batch/partition merge order (the README determinism rule —
      // a plain double sum here would vary with state merge order)
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming deduplication with BOUNDED state: drops duplicate keys that
    * arrive within the watermark delay of each other, then evicts the key's
    * state once the watermark passes it. The training-data-pipeline staple —
    * upstream crawlers and retried producers emit the same record more than
    * once, and plain `dropDuplicates` on a stream would keep every key ever
    * seen (state O(distinct keys forever), an unbounded-memory design at
    * 100 TB/day). This form keeps state O(keys per watermark horizon).
    *
    * Contract: exact dedup for duplicates that arrive within `watermark` of
    * the first copy; a copy arriving later than that may be re-emitted —
    * the standard at-scale trade (bounded state for a bounded dedup
    * horizon). Downstream exact dedup (q36) covers the archival layer. */
  def dedupStream(df: DataFrame, keys: Seq[String], tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Watermarked stream-stream interval join (click attribution shape):
    * joins each click to its impression when the click lands within
    * `maxDelaySeconds` of the impression. Expects `impressions(imp_id,
    * imp_ts, …)` and `clicks(click_imp_id, click_ts, …)`.
    *
    * Both sides are watermarked and the join predicate carries the
    * time-range bound, so Spark derives a state eviction horizon for BOTH
    * buffers (impression state lives watermark + maxDelay, click state
    * lives watermark) — without the range condition a stream-stream join
    * must buffer one side forever. That predicate is the difference
    * between a bounded-state operator and an OOM at production volume. */
  def streamIntervalJoin(impressions: DataFrame, clicks: DataFrame,
      maxDelaySeconds: Long = 3600L,
      watermark: String = "2 hours"): DataFrame =
    impressions.withWatermark("imp_ts", watermark)
      .join(
        clicks.withWatermark("click_ts", watermark),
        expr(
          s"""imp_id = click_imp_id
             |AND click_ts >= imp_ts
             |AND click_ts <= imp_ts + INTERVAL $maxDelaySeconds SECONDS
             |""".stripMargin),
        "inner")

  /** Streaming MERGE: maintain a keyed parquet snapshot from a change
    * stream via foreachBatch + [[graft.ops.Merge.upsert]] — the
    * micro-batch loop every streaming warehouse sink runs (Delta's
    * streaming MERGE is this exact shape with a transactional commit).
    * Each batch folds into the snapshot keyed by `key`; within a batch the
    * highest `tsCol` row per key wins, so replays and out-of-order
    * duplicates converge to the same snapshot (idempotent against
    * micro-batch re-execution — Spark may re-run a batch after a failure,
    * and a blind append would double rows where this MERGE cannot).
    *
    * Scale: one full-outer join per batch between the snapshot and a
    * batch-sized change set; the snapshot rewrite is the cost of
    * file-format simplicity (a table format with row-level merge amortizes
    * it — the operator shape is unchanged). */
  def upsertStream(changes: DataFrame, key: String, payload: String,
      tsCol: String, snapshotDir: String, checkpoint: String): Unit =
    runAvailableNow(changes, checkpoint, "append", Map.empty) {
      _.foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.expressions.Window
        // latest-wins needs a TOTAL order: ties on tsCol break on the
        // payload, or a re-executed batch could pick a different winner
        // and the replayed snapshot would diverge
        val latest = batch
          .withColumn("__rn", row_number().over(
            Window.partitionBy(key).orderBy(col(tsCol).desc, col(payload).desc)))
          .filter(col("__rn") === 1)
          .select(key, payload)
        // Only a verified-absent snapshot means "first batch" — a blanket
        // catch would turn any transient read failure (or a crash between
        // the delete and rename below) into a silent snapshot wipe.
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        val dst = new org.apache.hadoop.fs.Path(snapshotDir)
        val next = new org.apache.hadoop.fs.Path(snapshotDir + "_next")
        // complete an interrupted swap (crash between delete and rename):
        // the merged result of the interrupted batch lives in _next. The
        // rename result MUST be checked — on filesystems that return false
        // instead of throwing, ignoring it would fall through to the
        // empty-base branch and overwrite the only surviving copy.
        if (!fs.exists(dst) && fs.exists(next))
          require(fs.rename(next, dst),
            s"failed to promote interrupted snapshot swap")
        val base =
          if (fs.exists(dst))
            graft.Tables.parquet(spark, snapshotDir).select(key, payload)
          else latest.limit(0)
        graft.ops.Merge.upsert(base, latest, key, payload)
          .select(key, payload)
          .write.mode("overwrite").parquet(snapshotDir + "_next")
        // swap for a local demo — the delete→rename window is the
        // non-atomic residue a table format's transactional commit removes
        // (recovered above by completing the rename on restart). A false
        // return fails the batch: the data is safe in _next and the retry
        // takes the recovery path.
        fs.delete(dst, true)
        require(fs.rename(next, dst), "snapshot swap rename failed")
        ()
      }
    }

  /** Stream-static dimension enrichment: every micro-batch joins against
    * the static frame — the streaming read side of the warehouse dim tables
    * ([[graft.ops.Relational.q10JoinBroadcast]]'s streaming twin). Left
    * join so unmatched facts flow through (dropping them silently in an
    * ingest path loses data).
    *
    * Scale: keeps NO streaming state — the static side is re-planned per
    * batch, and the explicit broadcast keeps the fact micro-batch from
    * shuffling (a shuffled stream-static join would re-partition every
    * batch forever). A dimension past broadcast size belongs in a
    * stream-stream join with a slowly-refreshed changelog instead. */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Input/state/output records for the custom sessionizer. State holds ALL
    * sessions not yet finalized by the watermark (late events within the
    * allowed lateness may still extend or create earlier sessions). */
  final case class Ev(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, lastMicros: Long, n: Long,
      sum: Double)
  final case class UserSessions(sessions: Seq[SessionState])
  final case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, sum_value: Double)

  /** Custom stateful sessionization via flatMapGroupsWithState. Semantics
    * match batch session_window exactly for all events within the watermark
    * lateness bound: state keeps every session whose end the watermark has
    * not yet passed, so an out-of-order event can still open or extend an
    * earlier session; sessions are emitted (and evicted) only once the
    * watermark guarantees no merge can change them — the same retention rule
    * Spark's own streaming session_window applies. Events strictly before
    * the watermark are dropped (they can no longer be placed correctly); an
    * event exactly AT the watermark is still accepted, the safer boundary
    * since open sessions ending at the watermark have not been finalized
    * yet. This is
    * the §2.8 custom-state path — session_window covers the declarative case
    * ([[graft.ops.Events.q62Sessionize]]); this operator is the template for
    * logic session_window cannot express (value-dependent gaps, per-session
    * running features). */
  def sessionize(events: Dataset[Ev], gapMinutes: Long = 30)(
      implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L

    // Full µs precision: Timestamp.getTime only carries milliseconds; the
    // sub-ms part lives in getNanos. Dropping it would make the streaming
    // sessionizer disagree with the µs-exact batch q62 on near-gap events.
    def micros(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def toTs(us: Long): Timestamp = {
      val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    def out(user: Long, s: SessionState): SessionOut =
      SessionOut(user, toTs(s.start), toTs(s.lastMicros + gapMicros), s.n,
        s.sum)
    // two sessions merge iff their [start, last+gap) windows overlap
    def merge(sorted: Seq[SessionState]): Seq[SessionState] =
      sorted.foldLeft(List.empty[SessionState]) {
        case (prev :: rest, s) if s.start < prev.lastMicros + gapMicros =>
          prev.copy(lastMicros = math.max(prev.lastMicros, s.lastMicros),
            n = prev.n + s.n, sum = prev.sum + s.sum) :: rest
        case (acc, s) => s :: acc
      }.reverse

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSessions, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[UserSessions]) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val existing = state.getOption.map(_.sessions).getOrElse(Nil)
          // each fresh event is a unit session; too-late events are dropped
          val fresh = evs
            .map(e => (micros(e.ts), e.value))
            .filter { case (t, _) => t >= wmMicros }
            .map { case (t, v) => SessionState(t, t, 1, v) }
            .toSeq
          val merged = merge((existing ++ fresh)
            .sortBy(s => (s.start, s.lastMicros, s.sum)))
          // finalized = the watermark has passed the session end, so no
          // in-lateness event can extend or merge it anymore
          val (done, open) =
            merged.partition(_.lastMicros + gapMicros <= wmMicros)
          if (open.isEmpty) state.remove()
          else {
            state.update(UserSessions(open))
            // round UP to ms (floor could fire 999 µs early); clamp above
            // the watermark (setTimeoutTimestamp rejects earlier values)
            val endMs = (open.map(_.lastMicros).min + gapMicros + 999L) / 1000L
            state.setTimeoutTimestamp(
              math.max(endMs, state.getCurrentWatermarkMs() + 1L))
          }
          done.map(out(user, _)).iterator
      }
  }

  /** Per-batch quota audit row emitted by [[quotaEnforce]]. */
  case class QuotaUpdate(key: Long, arrived: Long, accepted: Long,
      dropped: Long, total: Long)

  /** Per-key ingestion quota enforcement on the Spark 4 `transformWithState`
    * API (the arbitrary-state successor to flatMapGroupsWithState, RocksDB
    * state store): each key may contribute at most `quota` rows over the
    * stream's lifetime; the processor keeps one ValueState[Long] per key
    * and reports, per batch, how many rows arrived, were accepted, and were
    * dropped. This is the streaming face of corpus quota control
    * ([[graft.ops.Curation.q59DomainMix]] is the batch face): a hot crawl
    * domain cannot flood the corpus past its cap no matter how long the
    * stream runs.
    *
    * Scale: state is ONE long per key ever seen (bounded by key
    * cardinality, not stream length; add a TTLConfig for keys that should
    * forget), updates are local to the key's shuffle partition, and the
    * emitted audit rows are one per (key, batch). */
  class QuotaProcessor(quota: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), QuotaUpdate] {
    @transient private var total: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      total = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[QuotaUpdate] = {
      val before = if (total.exists()) total.get() else 0L
      var arrived = 0L
      while (rows.hasNext) { rows.next(); arrived += 1 }
      val accepted = math.min(arrived, math.max(quota - before, 0L))
      val after = before + accepted
      total.update(after)
      Iterator.single(QuotaUpdate(key, arrived, accepted, arrived - accepted, after))
    }
  }

  /** [[QuotaProcessor]] applied to a (key, value) stream. */
  def quotaEnforce(events: Dataset[(Long, Double)],
      quota: Long): Dataset[QuotaUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .transformWithState(new QuotaProcessor(quota),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }
  /** Temp dirs of already-staged stream INPUTS, keyed by fixture and the
    * source's file version ([[graft.Tables.fileInventory]] of the events
    * fixture every staged input derives from): the registered streaming
    * queries run several times per bench JVM (2 passes × 2 runs), and
    * re-writing identical source files each time bills fixture prep — not
    * the streaming operator under test — to the timing. A source rewritten
    * in place stages afresh instead of replaying a stale copy. The
    * sink/checkpoint dirs stay fresh per invocation: they are
    * [[graft.Scratch.perQuery]] dirs, deleted by [[graft.Sessions.release]]. */
  private val stagedInputs =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private def stageOnce(spark: SparkSession, fixture: String, sfDir: String)(
      write: String => Unit): String =
    stagedInputs.getOrElseUpdate((fixture,
        graft.Tables.fileInventory(spark, s"$sfDir/events.parquet")), {
      val dir = graft.Scratch.lasting(s"graft-$fixture")
      write(dir.toString)
      dir.toString
    })

  /** q119_stream_join — run [[streamIntervalJoin]] end-to-end as a real
    * streaming query and hash-check the result against the batch range
    * join. The events fixture splits into two file-source streams (views
    * as "impressions" keyed by user, purchases as "clicks"); AvailableNow
    * drains each side in a single batch, so the watermark drops nothing
    * and the inner join's output equals the batch join the oracle
    * computes — the state-eviction machinery still runs (both sides are
    * watermarked and the predicate carries the time bound), it just never
    * fires inside one batch. Same eager write-then-read structure as the
    * q04 pipeline. */
  def q119StreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // the helper's contract: impressions(imp_id, imp_ts), clicks keyed by
    // click_imp_id — here the attribution key is the user
    val in = stageOnce(spark, "q119in", sfDir) { dir =>
      val ev = graft.Tables.events(spark, sfDir)
      ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("imp_id"),
          col("ts").as("imp_ts"))
        .coalesce(1).write.parquet(s"$dir/views")
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"),
          col("user_id").as("click_imp_id"), col("ts").as("click_ts"))
        .coalesce(1).write.parquet(s"$dir/buys")
    }
    val vSchema = graft.Tables.parquet(spark, s"$in/views").schema
    val bSchema = graft.Tables.parquet(spark, s"$in/buys").schema
    drain(streamIntervalJoin(
      spark.readStream.schema(vSchema).parquet(s"$in/views"),
      spark.readStream.schema(bSchema).parquet(s"$in/buys"),
      maxDelaySeconds = 3600L, watermark = "60 minutes")
      .select(col("imp_id").as("user_id"), col("view_id"), col("buy_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("imp_ts")))
          .as("gap_us")), "q119")
      .orderBy(col("view_id"), col("buy_id"))
  }

  val q119Sql: String =
    """SELECT a.user_id, a.event_id AS view_id, b.event_id AS buy_id,
      |       epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_type = 'view' AND b.event_type = 'purchase'
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
      |ORDER BY view_id, buy_id""".stripMargin
  /** q125_stream_dedup — [[dedupStream]] run end-to-end: events stream in
    * from a file source, `dropDuplicatesWithinWatermark` collapses each
    * (user, event_type, day) to its first arrival, and the sink holds the
    * distinct key set. Output projects ONLY the dedup keys: within-group
    * arrival order (and therefore which copy's payload survives) is
    * execution-dependent, the key set is not — same determinism discipline
    * as q36's representative rule. AvailableNow drains in one batch, so
    * the watermark evicts nothing and the key set equals the oracle's
    * SELECT DISTINCT. */
  def q125StreamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val in = stageOnce(spark, "q125in", sfDir) { dir =>
      graft.Tables.events(spark, sfDir)
        .select(col("ts"), col("user_id"), col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .coalesce(1).write.parquet(s"$dir/in")
    }
    val schema = graft.Tables.parquet(spark, s"$in/in").schema
    drain(dedupStream(
        spark.readStream.schema(schema).parquet(s"$in/in"),
        Seq("user_id", "event_type", "day"), "ts")
      .select(col("user_id"), col("event_type"), col("day")), "q125")
      .orderBy(col("user_id"), col("event_type"), col("day"))
  }

  val q125Sql: String =
    """SELECT DISTINCT user_id, event_type, date_trunc('day', ts) AS day
      |FROM events
      |ORDER BY user_id, event_type, day""".stripMargin
  /** q136_stream_window — [[windowedCounts]] run end-to-end as a streaming
    * query: the events fixture streams from the (q125-shared staging
    * pattern) file source, the watermarked tumbling-window aggregate folds
    * per (hour, type), and the sink holds the finalized windows. Append
    * mode only emits a window once the watermark passes it; AvailableNow
    * advances the watermark to the data's end after the last batch, so
    * every window finalizes and the result equals q60's batch aggregate —
    * which is exactly the oracle used here. */
  def q136StreamWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val in = stageOnce(spark, "q136in", sfDir) { dir =>
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("ts"), col("event_type"), col("value"))
      // Append mode only emits a window once the watermark PASSES its end,
      // and the watermark trails max event time by the delay — without
      // help, the trailing windows would still sit in state when the
      // drained query stops. The flush sentinel (far past the real data)
      // pushes the final watermark beyond every real window; its own
      // window is dropped on read-back. This is the standard
      // finalize-a-bounded-replay trick; a live pipeline never needs it
      // (the next day's data is the sentinel).
      val flush = ev.agg(max(col("ts")).as("m"))
        .select(expr("m + INTERVAL '10' HOUR").as("ts"),
          lit("__flush").as("event_type"), lit(0.0).as("value"))
      ev.unionByName(flush).coalesce(1).write.parquet(s"$dir/in")
    }
    val schema = graft.Tables.parquet(spark, s"$in/in").schema
    drain(windowedCounts(spark.readStream.schema(schema).parquet(s"$in/in")),
        "q136")
      .filter(col("event_type") =!= "__flush")
      .orderBy(col("window_start"), col("event_type"))
  }

  val q136Sql: String = graft.ops.Events.q60Sql

  /** q227_stream_enrich — [[streamStaticEnrich]] run end-to-end as a
    * streaming query: the events fixture streams from a file source and
    * every micro-batch left-joins the broadcast customer dimension — the
    * most common production streaming shape (enrich-on-ingest), and the
    * streaming twin of q10's broadcast dimension join. STATELESS by
    * design: no watermark, no state store, nothing to finalize —
    * AvailableNow drains the whole fixture and the output must equal the
    * batch left join, which is exactly the oracle. Left join so unmatched
    * facts flow through (an inner join on an incomplete dimension silently
    * drops ingest data).
    *
    * Scale: the broadcast hint keeps each fact micro-batch from ever
    * shuffling; the dimension is re-planned per batch (picking up slowly
    * changing dims on restart) — a dimension past broadcast size belongs
    * in a stream-stream changelog join (q119's shape) instead. */
  def q227StreamEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val in = stageOnce(spark, "q227in", sfDir) { dir =>
      graft.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"))
        .coalesce(1).write.parquet(s"$dir/in")
    }
    val schema = graft.Tables.parquet(spark, s"$in/in").schema
    val dim = graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"), col("c_nationkey"),
        col("c_mktsegment"))
    drain(streamStaticEnrich(
        spark.readStream.schema(schema).parquet(s"$in/in"), dim, "user_id"),
        "q227")
      .select(col("event_id"), col("user_id"), col("c_nationkey"),
        col("c_mktsegment"))
      .orderBy(col("event_id"))
  }

  val q227Sql: String =
    """SELECT e.event_id, e.user_id, c.c_nationkey, c.c_mktsegment
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY e.event_id""".stripMargin

  /** q219_stream_sessions — the CUSTOM stateful sessionizer
    * ([[sessionize]], flatMapGroupsWithState + event-time timeouts) run
    * end-to-end as a streaming query and hash-checked against the batch
    * gaps-and-islands oracle. This is the §2.8 custom-state path proven at
    * the same bar as the declarative ops: q62 proves `session_window`,
    * this proves the hand-rolled state machine that covers what
    * session_window cannot (value-dependent gaps, per-session running
    * features) — identical output on identical input is exactly the claim.
    *
    * Determinism: `value` is pre-quantized to CENTS (floor(v·100+0.5) as
    * an integer-valued double), so per-session sums are exact integer
    * additions — order-independent across micro-batch/arrival order, and
    * equal to the oracle's BIGINT cents sum. The q136 flush sentinel
    * (user −1 far past the data) pushes the final watermark beyond every
    * real session's end+gap so event-time timeouts emit everything;
    * sentinel rows are dropped on read-back. */
  def q219StreamSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val in = stageOnce(spark, "q219in", sfDir) { dir =>
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"),
          floor(col("value") * 100 + 0.5).cast("double").as("value"))
      val flush = ev.agg(max(col("ts")).as("m"))
        .select(lit(-1L).as("user_id"),
          expr("m + INTERVAL '10' HOUR").as("ts"),
          lit(0.0).as("value"))
      ev.unionByName(flush).coalesce(1).write.parquet(s"$dir/in")
    }
    val schema = graft.Tables.parquet(spark, s"$in/in").schema
    val src = spark.readStream.schema(schema).parquet(s"$in/in")
      .withWatermark("ts", "0 seconds")
      .as[Ev]
    drain(sessionize(src, gapMinutes = 30), "q219")
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("sum_value").cast("long").as("sum_cents"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** q222's per-key lifetime quota. ~67 events per user at sf0.01 split
    * into two ~33-row batches: batch 1 fits under the cap, batch 2 hits
    * it — both the accumulate and the drop paths execute. */
  val StreamQuota = 40L

  /** q222_stream_quota — [[quotaEnforce]] (the Spark-4 `transformWithState`
    * processor) run end-to-end as a real streaming query and hash-checked
    * against a two-phase cumulative-cap oracle. The last §2.8 capability
    * that was ledger-visible only as a unit test.
    *
    * Batch boundaries ARE the semantics under test (the cap must hold
    * ACROSS batches, with state carrying the running total), so they are
    * made deterministic: the input stages as two single-file batches
    * (event_id parity) with strictly increasing mtimes, and
    * `maxFilesPerTrigger=1` + AvailableNow replays them oldest-first as
    * exactly two micro-batches. The file sink takes append only, so the
    * update-mode audit rows land via foreachBatch — the standard
    * update-stream-to-files bridge.
    *
    * Determinism: every audit column is an integer count; rows order by
    * (key, total, arrived, accepted DESC). Each key emits at most one
    * row per phase and total is monotone NON-strict, so (key, total,
    * arrived) alone ties when phase 1 fills the quota and phase 2
    * accepts 0 from the same arrival count (sf0.1 has four such keys);
    * accepted then differs (quota vs 0), and DESC puts phase 1 first.
    * Rows equal in all four columns are identical, so their order is
    * immaterial. */
  def q222StreamQuota(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val in = stageOnce(spark, "q222in", sfDir) { dir =>
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("value"))
      stageFiles(dir, Seq(ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 =!= 0))
        .map(_.select(col("user_id"), col("value"))))
    }
    val schema = graft.Tables.parquet(spark, in).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .select(col("user_id").as("_1"), col("value").as("_2"))
      .as[(Long, Double)]
    drain(quotaEnforce(src, StreamQuota), "q222", "update")
      .select(col("key"), col("arrived"), col("accepted"), col("dropped"),
        col("total"))
      .orderBy(col("key"), col("total"), col("arrived"),
        col("accepted").desc)
  }

  /** Two-phase cumulative-cap oracle: phase = event_id parity (exactly
    * the staged batch split), phase-2 headroom = quota − phase-1 total. */
  val q222Sql: String =
    s"""WITH p1 AS (
       |  SELECT user_id AS key, count(*) AS arrived
       |  FROM events WHERE event_id % 2 = 0 GROUP BY 1),
       |p2 AS (
       |  SELECT user_id AS key, count(*) AS arrived
       |  FROM events WHERE event_id % 2 <> 0 GROUP BY 1),
       |r1 AS (
       |  SELECT key, arrived,
       |         least(arrived, $StreamQuota) AS accepted,
       |         least(arrived, $StreamQuota) AS total
       |  FROM p1),
       |r2 AS (
       |  SELECT p.key, p.arrived,
       |         least(p.arrived,
       |               greatest($StreamQuota - coalesce(r.total, 0), 0))
       |           AS accepted,
       |         coalesce(r.total, 0)
       |           + least(p.arrived,
       |                   greatest($StreamQuota - coalesce(r.total, 0), 0))
       |           AS total
       |  FROM p2 p LEFT JOIN r1 r ON r.key = p.key)
       |SELECT key, CAST(arrived AS BIGINT) AS arrived,
       |       CAST(accepted AS BIGINT) AS accepted,
       |       CAST(arrived - accepted AS BIGINT) AS dropped,
       |       CAST(total AS BIGINT) AS total
       |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
       |ORDER BY key, total, arrived, accepted DESC""".stripMargin

  // ------------------------------------------------------------ stream CDC

  /** Per-key CDC fold state: op counters + the argmax-(ts, id) op. */
  case class CdcState(nOps: Long, nIns: Long, nUpd: Long, nDel: Long,
      lastTs: Long, lastId: Long, lastOp: String, lastValue: Double)

  /** Running emission of [[CdcProcessor]] — one row per (key, batch). */
  case class CdcUpdate(key: Long, n_ops: Long, n_inserts: Long,
      n_updates: Long, n_deletes: Long, last_ts_us: Long, last_id: Long,
      last_op: String, last_value: Double)

  /** The q240 CDC compaction fold as STREAMING STATE: counters are
    * commutative sums and "last op" is an argmax over the total order
    * (ts, event_id) — a commutative-monoid merge, so the fold's result
    * is independent of how the log is split into batches (the staged
    * replay deliberately interleaves time ranges across batches to
    * prove it). State is one fixed-size record per live key. */
  class CdcProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, String, Double), CdcUpdate] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[CdcState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[CdcState]("cdc",
        org.apache.spark.sql.Encoders.product[CdcState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, String, Double)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CdcUpdate] = {
      var s = if (st.exists()) st.get()
        else CdcState(0L, 0L, 0L, 0L, Long.MinValue, Long.MinValue, "", 0.0)
      while (rows.hasNext) {
        val (_, ts, id, op, v) = rows.next()
        s = CdcState(
          s.nOps + 1,
          s.nIns + (if (op == "I") 1 else 0),
          s.nUpd + (if (op == "U") 1 else 0),
          s.nDel + (if (op == "D") 1 else 0),
          if (ts > s.lastTs || (ts == s.lastTs && id > s.lastId)) ts
          else s.lastTs,
          if (ts > s.lastTs || (ts == s.lastTs && id > s.lastId)) id
          else s.lastId,
          if (ts > s.lastTs || (ts == s.lastTs && id > s.lastId)) op
          else s.lastOp,
          if (ts > s.lastTs || (ts == s.lastTs && id > s.lastId)) v
          else s.lastValue)
      }
      st.update(s)
      Iterator.single(CdcUpdate(key, s.nOps, s.nIns, s.nUpd, s.nDel,
        s.lastTs, s.lastId, s.lastOp, s.lastValue))
    }
  }

  /** q249_stream_cdc — [[graft.ops.Merge.q240CdcReplay]] run as a REAL
    * streaming query through [[CdcProcessor]] (transformWithState +
    * RocksDB state store) and verified against the SAME DuckDB oracle as
    * the batch operator — batch/stream parity for the lakehouse
    * compaction fold, the q219-sessionizer treatment applied to CDC. The
    * log is staged as two files split by event-id PARITY, so each
    * batch's time range fully overlaps the other's: any
    * arrival-order-dependence in the fold would flip `last_*` columns
    * and fail the hash. Emissions are running totals (update mode); the
    * read-back keeps each key's final state (max n_ops — monotone per
    * touch), derives `n_nonfinal_deletes` as deletes-before-last, and
    * drops keys whose final op is a tombstone.
    *
    * Scale: state is one fixed-width record per live key, partitioned by
    * key; emissions are one row per (key, batch). Exactly the compaction
    * service shape. */
  def q249StreamCdc(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.StableHash
    val in = stageOnce(spark, "q249in", sfDir) { dir =>
      val h = pmod(StableHash.intMix62(col("event_id"), 41L), lit(10L))
      val log = graft.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          when(h === 0L, "D").when(h <= 2L, "I").otherwise("U").as("op"))
      stageFiles(dir, Seq(log.filter(col("event_id") % 2 === 0),
        log.filter(col("event_id") % 2 =!= 0)))
    }
    val schema = graft.Tables.parquet(spark, in).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .select(col("user_id").as("_1"), col("ts_us").as("_2"),
        col("event_id").as("_3"), col("op").as("_4"), col("value").as("_5"))
      .as[(Long, Long, Long, String, Double)]
    import org.apache.spark.sql.expressions.Window
    drain(src.groupByKey(_._1)
        .transformWithState(new CdcProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update()), "q249", "update")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("n_ops").desc)))
      .filter(col("rn") === 1)
      .filter(col("last_op") =!= "D")
      .select(col("key").as("user_id"), col("n_ops"), col("n_inserts"),
        col("n_updates"), col("n_deletes"),
        (col("n_deletes") -
          when(col("last_op") === "D", 1L).otherwise(0L))
          .as("n_nonfinal_deletes"),
        col("last_op"), col("last_value"),
        timestamp_micros(col("last_ts_us")).as("last_ts"))
      .orderBy(col("user_id"))
  }

  /** Shared oracle with the batch operator — parity is the point. */
  val q249Sql: String = graft.ops.Merge.q240Sql

  /** Number of arrival micro-batches q259 stages. */
  val LateBatches = 4

  /** Watermark delay for q259, in minutes. */
  val LateDelayMin = 30

  /** q259_stream_late — the watermark/late-data path as an ORACLE row:
    * a windowed streaming aggregate where the watermark REALLY drops
    * rows, hash-checked against a DuckDB replay of Spark's own
    * semantics. The events fixture is globally time-sorted, so late
    * arrival is manufactured deterministically: rows are ranked by
    * (ts, event_id), split into [[LateBatches]] arrival quartiles, and a
    * hash-chosen ~1/7 of rows ([[graft.functions.StableHash.intMix62]],
    * replayable in SQL) is shifted TWO batches later — those rows arrive
    * a quartile (~days) after their event time, far beyond the
    * [[LateDelayMin]]-minute delay, so all but the window-boundary
    * stragglers are dropped. Files are staged with ordered mtimes and
    * consumed with maxFilesPerTrigger=1, making the batch sequence — and
    * therefore the watermark trajectory — deterministic.
    *
    * The oracle replays the exact rule Spark's streaming aggregation
    * applies — measured here and pinned in StreamingSpec, because it is
    * subtler than the docs suggest. Spark ≥3.4 carries TWO watermarks
    * per batch: the EVICTION watermark (max event time through batch
    * b−1, minus delay) decides which windows finalize at the end of
    * batch b, while the LATE-DATA filter uses the PREVIOUS batch's
    * eviction watermark — max event time through batch b−2, minus
    * delay. An input row is dropped iff its WINDOW END is at or below
    * that lagged watermark (the filter is on the group's finality, not
    * the row's own timestamp). The two-batch lag is why a one-batch
    * shift would never drop anything in a back-to-back drain: rows must
    * arrive two batches after their event-time cohort to be late. The
    * identical threshold on both sides also means a surviving late row
    * can never target an already-emitted window — no duplicates, which
    * the spec asserts. The q136 flush sentinel in the last file pushes
    * the final watermark past every real window so append mode emits
    * them all.
    *
    * Scale: same bounded-state shape as q136 — state is windows inside
    * the watermark horizon × type cardinality; the drop filter runs
    * map-side before any shuffle. The staging rank is a test-fixture
    * device, not part of the operator. */
  def q259StreamLate(spark: SparkSession, sfDir: String): DataFrame = {
    val k = LateBatches
    val in = stageOnce(spark, "q259in", sfDir) { dir =>
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("ts"), col("event_type"), col("value"), col("event_id"))
      val n = ev.count()
      val ranked = lateBatchSplit(ev, n, k)
      stageFiles(dir, (0 until k).map { b =>
        val part = ranked.filter(col("batch") === b)
          .select(col("ts"), col("event_type"), col("value"))
        if (b == k - 1)
          part.unionByName(ev.agg(max(col("ts")).as("m"))
            .select(expr("m + INTERVAL '10' HOUR").as("ts"),
              lit("__flush").as("event_type"), lit(0.0).as("value")))
        else part
      })
    }
    val schema = graft.Tables.parquet(spark, in).schema
    drain(windowedCounts(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(in),
        "1 hour", s"$LateDelayMin minutes"), "q259")
      .filter(col("event_type") =!= "__flush")
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Deterministic k-batch split of the events fixture for q259's
    * staging: rank by (ts, event_id) — a total order, event_id unique —
    * and deal contiguous rank ranges into k batches, with `shifted`
    * rows (the deterministic 1-in-7 hash slice) arriving two batches
    * after their event-time cohort. Although this runs ONCE per session
    * as fixture construction, the rank is SF-proportional, so it goes
    * through [[graft.ops.Scale.globalRank]] (range-partition + local
    * rank + broadcast offsets) rather than the single-partition
    * `Window.orderBy` it replaced (r11 verdict note #4) — the same rule
    * every ranked operator follows, and AuditSweepSpec now audits this
    * staging plan explicitly instead of it hiding inside [[stageOnce]].
    * rank_idx is 0-based, so batch = (rank_idx·k) div n (+2 if
    * shifted, capped at k−1) — identical assignment to the oracle's
    * 1-based `((rn − 1)·k) // n`. */
  private[graft] def lateBatchSplit(ev: org.apache.spark.sql.DataFrame,
      n: Long, k: Int): org.apache.spark.sql.DataFrame = {
    val shifted = pmod(
      graft.functions.StableHash.intMix62(col("event_id"), 59L),
      lit(7L)) === 0L
    graft.ops.Scale.globalRank(ev, Seq(col("ts"), col("event_id")))
      .withColumn("batch",
        least(lit(k - 1), expr(s"(rank_idx * $k) div ${n}L") +
          when(shifted, 2L).otherwise(0L)))
  }

  /** DuckDB replay of the watermark trajectory and drop rule (Scaladoc
    * above): batch assignment, per-batch high-water marks, the LAGGED
    * (2 PRECEDING — late-events watermark trails eviction by one batch)
    * window-end drop filter, then the q60 aggregate over survivors. */
  val q259Sql: String = {
    val mix = graft.functions.StableHash.intMix62Sql("event_id", 59L)
    val delayUs = LateDelayMin * 60L * 1000000L
    s"""WITH ev AS (
       |  SELECT event_type, epoch_us(ts) AS us, value,
       |         row_number() OVER (ORDER BY ts, event_id) AS rn,
       |         count(*) OVER () AS n,
       |         ($mix) % 7 = 0 AS shifted
       |  FROM events),
       |b AS (
       |  SELECT event_type, us, value,
       |         least(${LateBatches - 1}, ((rn - 1) * $LateBatches) // n +
       |           CASE WHEN shifted THEN 2 ELSE 0 END) AS batch
       |  FROM ev),
       |bmax AS (SELECT batch, max(us) AS mx FROM b GROUP BY batch),
       |wm AS (
       |  SELECT batch,
       |         max(mx) OVER (ORDER BY batch
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
       |           - $delayUs AS w
       |  FROM bmax),
       |kept AS (
       |  SELECT b.event_type, b.us, b.value
       |  FROM b JOIN wm USING (batch)
       |  WHERE wm.w IS NULL
       |     OR ((b.us // 3600000000) + 1) * 3600000000 > wm.w)
       |SELECT make_timestamp((us // 3600000000) * 3600000000)
       |         AS window_start,
       |       event_type, count(*) AS n_events,
       |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
       |         AS sum_value
       |FROM kept GROUP BY 1, 2
       |ORDER BY window_start, event_type""".stripMargin
  }

  /** Batch oracle: 30-minute-gap sessions with end = last event + gap and
    * exact cents sums — the q62 gaps-and-islands shape with the
    * sessionizer's [start, last+gap) window convention. */
  val q219Sql: String =
    """WITH ev AS (
      |  SELECT user_id, ts,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |g AS (
      |  SELECT user_id, ts, cents,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id
      |                                 ORDER BY ts, cents) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id
      |                                      ORDER BY ts, cents)
      |                   >= INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM ev),
      |s AS (
      |  SELECT user_id, ts, cents,
      |         sum(new_s) OVER (PARTITION BY user_id
      |                          ORDER BY ts, cents) AS sid
      |  FROM g)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL 30 MINUTE AS session_end,
      |       count(*) AS n_events,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin
}
