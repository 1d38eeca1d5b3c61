package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.Success
import org.apache.spark.perfbench.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbench.PlanSurgeon
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Schemas, Sessions, SparkEntry}
import graft.ops.{CoPurchase, Pipeline}
import graft.sources.WarehouseSink

/** JVM side of the benchmark. It drives the program only through its public
  * surfaces and writes one raw JSON record (timings, spans, listener
  * counters, ingest invariants) plus the query outputs the correctness check
  * reads; every derived metric is computed by `perfbench/metrics.py`.
  *
  * Usage: `Harness key=value ...` with the keys of [[Config]], as
  * `perfbench/run.py` passes them. */
object Harness {

  final case class Config(workload: String, data: String, out: String,
      queries: Seq[String], trips: Seq[String], tripRows: Map[String, Long],
      copurchase: Boolean, cores: Int, rounds: Int, trace: Boolean,
      runId: String)

  private def parseArgs(args: Array[String]): Config = {
    val kv = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    def list(k: String) = kv.get(k).filter(_.nonEmpty).toSeq
      .flatMap(_.split(","))
    val trips = list("trips")
    Config(kv("workload"), kv("data"), kv("out"), list("queries"), trips,
      trips.zip(list("trip_rows").map(_.toLong)).toMap,
      kv("copurchase") == "1", kv("cores").toInt, kv("rounds").toInt,
      kv("trace") == "1", kv("run_id"))
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Run `body`; the failure, if any, as one line (null on success). */
  def attempt(body: => Unit): String =
    try { body; null }
    catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }

  def main(args: Array[String]): Unit = {
    val mainEntered = System.currentTimeMillis()
    val cfg = parseArgs(args)
    val jvmBootS =
      (mainEntered - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> cfg.workload, "trace" -> cfg.trace,
      "run_id" -> cfg.runId,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "jdk_version" -> System.getProperty("java.version"),
      "xmx_bytes" -> Runtime.getRuntime.maxMemory())
    val tracer = new Tracer(cfg.runId, cfg.trace)
    val exec = new ExecListener
    val streams = new StreamListener
    val plans = new PlanListener

    // ---- set-up, cold: this JVM has run nothing else. Session start, a
    // warm-up scan and, where the workload reads them, the suite-shared
    // co-purchase frames (built once per session, as graft.Bench does) ----
    val t0 = now()
    val spark = tracer.span("sessions.start") {
      Sessions.local(cfg.cores.toString, "perfbench")
    }
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    val t1 = now()
    tracer.span("sessions.warmup") { warmup(spark, cfg.data) }
    val t2 = now()
    if (cfg.copurchase) tracer.span("copurchase.build") {
      CoPurchase.materialize(spark, cfg.data)
    }
    record("setup") = Map("jvm_boot_s" -> jvmBootS,
      "start_s" -> secs(t0, t1), "warmup_s" -> secs(t1, t2),
      "copurchase_s" -> secs(t2, now()))
    record("oracle") = cfg.queries.flatMap(q =>
      SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    if (cfg.trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.streams.addListener(streams)
      spark.listenerManager.register(plans)
    }
    val ctx = new Ctx(spark, cfg, tracer, exec, streams, plans)

    // ---- outputs for the correctness check: untimed, written before the
    // measured rounds so that this first execution of every query (codegen,
    // JIT) also serves as their warm-up; compared after the JVM exits ----
    val o0 = now()
    record("outputs") = cfg.queries.map { q =>
      val err = attempt {
        SparkEntry.queries(q)(spark, cfg.data)
          .write.mode("overwrite").parquet(s"${cfg.out}/outputs/$q")
      }
      ctx.release()
      Map("query" -> q, "error" -> err)
    }
    record("outputs_s") = secs(o0, now())

    // ---- measured rounds ----------------------------------------------
    val rounds = mutable.ArrayBuffer[Map[String, Any]]()
    if (cfg.trace) {
      // the traced round first, so that its monthly loop is as cold as in
      // an untraced run. Then the overhead pair: the queries untraced,
      // then traced again, both after the first round has warmed them.
      rounds += ctx.round(loop = true)
      tracer.enabled = false
      rounds += ctx.round(loop = false)
      tracer.enabled = true
      rounds += ctx.round(loop = false)
      record("kernels") = tracer.span("functions") { Kernels.run(spark, cfg) }
    } else {
      // closed loop: each operation starts when the previous one ended
      for (_ <- 1 to cfg.rounds) rounds += ctx.round(loop = true)
    }
    record("rounds") = rounds.toSeq
    record("main_s") = (System.currentTimeMillis() - mainEntered) / 1e3
    record("peak_rss_mb") = peakRssMb()
    tracer.enabled = false
    if (ctx.ingestChecks.nonEmpty) record("ingest_checks") = ctx.ingestChecks
    if (cfg.trace) {
      ListenerBridge.drain(spark.sparkContext)
      record("groups") = exec.groupsJson
      record("spans") = tracer.spansJson
    }
    Files.write(Paths.get(cfg.out, "raw.json"),
      Json(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** First contact with the data: parquet reader, codegen and one shuffle.
    * The untimed output pass that follows warms every query's own code. */
  private def warmup(spark: SparkSession, data: String): Unit =
    spark.read.parquet(s"$data/lineitem.parquet")
      .groupBy("l_returnflag").count().collect(): Unit

  /** VmHWM of this process: the peak resident set since start. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** State shared by the rounds of one run. */
  final class Ctx(val spark: SparkSession, cfg: Config, tracer: Tracer,
      exec: ExecListener, streams: StreamListener, plans: PlanListener) {
    var ingestChecks: Map[String, Any] = Map.empty

    /** Between-query hygiene, as `graft.Bench` does it: drop CacheManager
      * entries, then unpersist every live RDD, blocking. Returns the number
      * of persisted RDDs that were still alive. */
    def release(): Int = {
      val left = spark.sparkContext.getPersistentRDDs.size
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      left
    }

    private var rounds = 0

    /** One round of the workload's fixed operation list: the monthly loop
      * (when the workload has trip files and `loop` is set), then every
      * registered query twice, first as registered (determinism sort
      * included) and then with its top sort removed. */
    def round(loop: Boolean): Map[String, Any] = {
      val index = rounds
      rounds += 1
      if (tracer.enabled) ListenerBridge.drain(spark.sparkContext)
      val before = exec.total.copy()
      exec.resetMaxima()
      val streamsBefore = streams.snapshot
      val t0 = now()
      val (ops, ingest) = tracer.span("round") {
        val ing =
          if (loop && cfg.trips.nonEmpty) Some(monthlyLoop(index)) else None
        val qs = cfg.queries.flatMap(q =>
          Seq(runQuery(q, nosort = false), runQuery(q, nosort = true)))
        (ing.map(_._1).getOrElse(Nil) ++ qs, ing.map(_._2))
      }
      val base = Map[String, Any]("traced" -> tracer.enabled,
        "wall_s" -> secs(t0, now()), "ops" -> ops) ++
        ingest.map(i => "ingest" -> i)
      if (!tracer.enabled) base
      else {
        ListenerBridge.drain(spark.sparkContext)
        base ++ Map("exec" -> exec.total.minus(before).json,
          "streams" -> streams.since(streamsBefore))
      }
    }

    /** One registered query: construction (`fn(spark, dir)`, eager work
      * included), optional top-sort removal, execution of the full
      * physical plan into the noop sink. When traced, its planning phases
      * are those of the query execution that ran (see [[PlanListener]])
      * plus the analysis the constructed Dataset paid eagerly. */
    def runQuery(q: String, nosort: Boolean): Map[String, Any] =
      tracer.span(if (nosort) s"$q/nosort" else q) {
        val t0 = now()
        var phases = Map.empty[String, Double]
        val err = attempt {
          val df = tracer.span("entry.construct") {
            SparkEntry.queries(q)(spark, cfg.data)
          }
          val run =
            if (nosort) PlanSurgeon.withoutTopSort(df).getOrElse(df) else df
          if (tracer.enabled) {
            // read before the write, which may extend the same tracker
            phases = PlanListener.phases(run.queryExecution)
              .filter(_._1 == "analysis")
            // executions that construction ran eagerly are not this plan's
            ListenerBridge.drain(spark.sparkContext)
            plans.take()
          }
          tracer.span("exec.run") {
            run.write.format("noop").mode("overwrite").save()
          }
          if (tracer.enabled) {
            ListenerBridge.drain(spark.sparkContext)
            plans.take().foreach { case (k, v) =>
              phases += k -> (phases.getOrElse(k, 0.0) + v)
            }
          }
        }
        val latency = secs(t0, now())
        val t1 = now()
        val left = tracer.span("cache.release") { release() }
        Map("name" -> q, "mode" -> (if (nosort) "nosort" else "sort"),
          "latency_s" -> latency, "error" -> err,
          "rdds_left" -> left, "release_s" -> secs(t1, now()),
          "phases" -> phases)
      }

    private def fileStats(root: String): (Long, Long) = {
      val p = Paths.get(root)
      if (!Files.exists(p)) return (0L, 0L)
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala
          .filter(f => Files.isRegularFile(f) &&
            f.getFileName.toString.endsWith(".parquet")).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }

    /** The reference's monthly ELT over the generated source files: per
      * month conform, guard against the growing warehouse, append, land in
      * the raw zone; then one whole month re-delivered, raw-zone compaction
      * and a read-back. Each round starts from an empty warehouse. */
    def monthlyLoop(index: Int): (Seq[Map[String, Any]], Map[String, Any]) = {
      val root = s"${cfg.out}/ingest/pass-$index"
      val wh = s"$root/warehouse"
      val raw = s"$root/raw"
      val deliveries = cfg.trips :+ cfg.trips(cfg.trips.size / 2)
      val t0 = now()
      val months = deliveries.zipWithIndex.map { case (file, m) =>
        tracer.span("sink.month") {
          val a = now()
          val offered = tracer.span("sink.conform") {
            Schemas.conform(spark.read.parquet(file), Schemas.fhvhvTripdata,
              Schemas.fhvhvRenames).localCheckpoint()
          }
          val b = now()
          val existing =
            if (Files.exists(Paths.get(wh))) spark.read.parquet(wh)
            else spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              Schemas.fhvhvTripdata)
          val (delta, nAppended) = tracer.span("sink.guard") {
            val d = WarehouseSink.dedupAppend(offered, existing,
              Pipeline.tripKey).localCheckpoint()
            (d, d.count())
          }
          val c = now()
          tracer.span("sink.append") { delta.write.mode("append").parquet(wh) }
          val d = now()
          tracer.span("sink.raw_zone") {
            WarehouseSink.rawZoneAppend(delta, raw, "pickup_datetime")
          }
          val e = now()
          release()
          Map("name" -> s"month-${m + 1}", "mode" -> "load",
            "latency_s" -> secs(a, e),
            "conform_s" -> secs(a, b), "guard_s" -> secs(b, c),
            "append_s" -> secs(c, d), "raw_zone_s" -> secs(d, e),
            "rows_offered" -> cfg.tripRows(file), "rows_appended" -> nAppended,
            "redelivery" -> (m == cfg.trips.size), "error" -> null)
        }
      }
      val loopS = secs(t0, now())
      val (filesWritten, bytesWritten) = {
        val (f1, b1) = fileStats(wh); val (f2, b2) = fileStats(raw)
        (f1 + f2, b1 + b2)
      }
      val c0 = now()
      tracer.span("sink.compact") {
        WarehouseSink.compactionPlan(spark, raw, 128L << 20)
          .filter(_.compact)
          .foreach(e => WarehouseSink.compactPartition(spark, raw,
            e.partition, e.target_files))
      }
      val compactS = secs(c0, now())
      val (filesAfter, bytesAfter) = {
        val (f1, b1) = fileStats(wh); val (f2, b2) = fileStats(raw)
        (f1 + f2, b1 + b2)
      }
      val r0 = now()
      val readback = tracer.span("sink.readback") { Readback.run(spark, wh, raw) }
      val readbackS = secs(r0, now())
      release()
      val loop = Map[String, Any]("loop_s" -> loopS, "compact_s" -> compactS,
        "readback_s" -> readbackS, "files_written" -> filesWritten,
        "bytes_written" -> bytesWritten, "files_after_compact" -> filesAfter,
        "bytes_after_compact" -> bytesAfter)
      ingestChecks = Map("readback" -> readback)
      val ops = months :+ Map[String, Any]("name" -> "readback",
        "mode" -> "readback", "latency_s" -> readbackS, "error" -> null)
      (ops, loop)
    }
  }
}

/** The read-after-write query set of the monthly loop: a year-pruned
  * raw-zone scan, the raw zone's row count, warehouse aggregates, the
  * warehouse's distinct natural keys. Sums go through DECIMAL so they are exact and comparable with
  * DuckDB. */
object Readback {
  private def money(c: String) =
    sum(col(c).cast("decimal(18,2)")).cast("double").as(s"sum_$c")

  def run(spark: SparkSession, wh: String, raw: String): Map[String, Any] = {
    val zone = spark.read.parquet(raw)
    val y2024 = zone.where(col("year") === 2024)
      .agg(count(lit(1)).as("rows"), money("driver_pay"), money("tips"))
      .collect().head
    val w = spark.read.parquet(wh)
    val byLicense = w.groupBy("hvfhs_license_num")
      .agg(count(lit(1)).as("rows"), money("driver_pay"), money("tips"),
        money("sales_tax"), max("dropoff_datetime").cast("string").as("last"))
      .orderBy("hvfhs_license_num").collect()
      .map(r => Seq(r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getString(5)))
    val keys = w.select(Pipeline.tripKey.map(col): _*).distinct().count()
    Map("raw_2024_rows" -> y2024.getLong(0),
      "raw_2024_driver_pay" -> y2024.getDouble(1),
      "raw_2024_tips" -> y2024.getDouble(2),
      "raw_rows" -> zone.count(),
      "warehouse_rows" -> byLicense.map(_(1).asInstanceOf[Long]).sum,
      "warehouse_keys" -> keys, "by_license" -> byLicense.toSeq)
  }
}

/** Fixed micro-queries over the public kernels of `graft.functions`. Each
  * runs twice; the faster run gives the rate. */
object Kernels {
  import graft.functions.SortedIntersect.sorted_long_intersect

  private def rate(rows: Long)(body: => Unit): Double = {
    val best = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.min
    rows / best
  }

  def run(spark: SparkSession, cfg: Harness.Config): Map[String, Any] = {
    val emb = spark.read.parquet(s"${cfg.data}/embeddings.parquet")
    val probes = emb.where(col("vec_id") < 100)
      .select(col("embedding").as("q"))
    val pairs = emb.count() * probes.count()
    val cosine = rate(pairs) {
      emb.crossJoin(probes)
        .selectExpr("sum(vector_cosine(embedding, q))").collect(): Unit
    }
    val docs = spark.read.parquet(s"${cfg.data}/documents.parquet")
    val reps = 40
    val hashRows = docs.count() * reps
    val hash = rate(hashRows) {
      docs.withColumn("r", explode(sequence(lit(1), lit(reps))))
        .selectExpr("max(char_mix62(concat(text, r)))").collect(): Unit
    }
    val n = 200000L
    val sets = spark.range(n).select(
      sequence(col("id") % 50, col("id") % 50 + 64).as("a"),
      sequence(col("id") % 37, col("id") % 37 + 128, lit(2L)).as("b"))
    val intersect = rate(n) {
      sets.agg(sum(size(sorted_long_intersect(col("a"), col("b")))))
        .collect(): Unit
    }
    Map("vector_cosine_rows_per_s" -> cosine,
      "stable_hash_rows_per_s" -> hash,
      "sorted_intersect_rows_per_s" -> intersect)
  }
}

/** One span: a call into a layer, with the span that caused it. */
final case class Span(id: Int, name: String, parent: Int, start: Long,
    var end: Long)

/** In-memory spans. Each span sets the Spark job group to its own id, so
  * every job it launches (also from threads it starts) is attributed to it;
  * the parent's group is restored on exit. */
final class Tracer(runId: String, var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private val origin = System.nanoTime()
  var sc: org.apache.spark.SparkContext = _

  private def group(id: Int): Unit = if (sc != null) {
    if (id < 0) sc.clearJobGroup()
    else sc.setJobGroup(s"$runId:$id", s"span $id", interruptOnCancel = false)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(id, name, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
      stack = id :: stack
      group(id)
      try body
      finally {
        spans(id).end = System.nanoTime()
        stack = stack.tail
        group(stack.headOption.getOrElse(-1))
      }
    }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> runId,
    "start_s" -> (s.start - origin) / 1e9, "end_s" -> (s.end - origin) / 1e9))
}

/** Task counters of one job group (or of everything). */
final case class Agg(var jobs: Long = 0, var stages: Long = 0,
    var tasks: Long = 0, var failedTasks: Long = 0, var runMs: Long = 0,
    var cpuNs: Long = 0, var shuffleWrite: Long = 0,
    var shuffleRead: Long = 0, var fetchWaitMs: Long = 0,
    var spill: Long = 0, var gcMs: Long = 0, var peakMem: Long = 0,
    var skew: Double = 0) {
  def minus(o: Agg): Agg = Agg(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, failedTasks - o.failedTasks, runMs - o.runMs,
    cpuNs - o.cpuNs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, fetchWaitMs - o.fetchWaitMs,
    spill - o.spill, gcMs - o.gcMs, peakMem, skew)
  def json: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "run_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9,
    "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead,
    "fetch_wait_s" -> fetchWaitMs / 1e3, "spill_bytes" -> spill,
    "gc_s" -> gcMs / 1e3, "peak_exec_mem_bytes" -> peakMem,
    "task_skew" -> skew)
}

/** Task-level counters summed per job group and in total. */
final class ExecListener extends SparkListener {
  /** Running totals; `peakMem` and `skew` are maxima, reset by [[reset]]. */
  val total = Agg()
  private val byGroup = mutable.Map[String, Agg]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageDurations = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  private def both(g: String)(f: Agg => Unit): Unit = synchronized {
    f(total); f(byGroup.getOrElseUpdate(g, Agg()))
  }

  def resetMaxima(): Unit = synchronized { total.peakMem = 0; total.skew = 0 }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    synchronized { e.stageInfos.foreach(s => stageGroup(s.stageId) = g) }
    both(g)(_.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val g = synchronized(stageGroup.getOrElse(id, "-"))
    val durs = synchronized(stageDurations.remove(id)).getOrElse(Nil).sorted
    val skew = if (durs.size < 2) 1.0
      else durs.last.toDouble / math.max(1L, durs(durs.size / 2))
    both(g) { a => a.stages += 1; a.skew = math.max(a.skew, skew) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = synchronized(stageGroup.getOrElse(e.stageId, "-"))
    synchronized {
      stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer())
        .append(e.taskInfo.duration)
    }
    val m = e.taskMetrics
    both(g) { a =>
      a.tasks += 1
      if (e.reason != Success) a.failedTasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  def groupsJson: Map[String, Map[String, Any]] =
    synchronized(byGroup.toMap.map { case (k, v) => k -> v.json })
}

/** Planning-phase times (`QueryPlanningTracker`) of every SQL execution
  * the session reports: for the noop write of a query, the execution that
  * actually optimizes and plans it, so nothing is planned twice. */
final class PlanListener extends QueryExecutionListener {
  private val seen =
    new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Double]]()

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = seen.add(PlanListener.phases(qe)): Unit
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = seen.add(PlanListener.phases(qe)): Unit

  /** Phase times summed over the executions reported since the last call. */
  def take(): Map[String, Double] = {
    val out = mutable.Map[String, Double]()
    var p = seen.poll()
    while (p != null) {
      p.foreach { case (k, v) => out(k) = out.getOrElse(k, 0.0) + v }
      p = seen.poll()
    }
    out.toMap
  }
}

object PlanListener {
  def phases(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
}

/** Micro-batch progress summed over every streaming query. */
final class StreamListener extends StreamingQueryListener {
  private var batches = 0L
  private var triggerMs = 0L
  private var addBatchMs = 0L
  private var commitMs = 0L
  private val state = mutable.Map[java.util.UUID, (Long, Long)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches += 1
      triggerMs += ms("triggerExecution")
      addBatchMs += ms("addBatch")
      commitMs += ms("commitOffsets") + ms("commitBatch") + ms("walCommit")
      state(p.runId) = (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }

  /** Totals so far; state is the last reported size of every query run. */
  def snapshot: Map[String, Double] = synchronized(Map(
    "microbatches" -> batches.toDouble, "trigger_s" -> triggerMs / 1e3,
    "add_batch_s" -> addBatchMs / 1e3, "commit_s" -> commitMs / 1e3,
    "state_rows" -> state.values.map(_._1).sum.toDouble,
    "state_mem_bytes" -> state.values.map(_._2).sum.toDouble))

  /** Counter growth since `before`; state sizes are levels, not counts. */
  def since(before: Map[String, Double]): Map[String, Double] =
    snapshot.map { case (k, v) =>
      k -> (if (k.startsWith("state_")) v else v - before.getOrElse(k, 0.0))
    }
}

/** Minimal JSON writer for the raw record. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case x => str(x.toString)
  }
}
