package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Checkpoints.CutOps

/** Event-time windowing — SURVEY.md §2.8 (north-star tier X).
  *
  * The reference's "streaming" is an orchestrated monthly micro-batch
  * (`save_nyc_data_to_s3.py:54-78`) with no event-time semantics; these
  * operators add the real thing over the `events` fixture. They are written
  * as batch queries on the same `window()`/`session_window()` expressions
  * Structured Streaming uses, so the identical plan runs under `readStream`
  * with a watermark (see the streaming suite in src/test).
  *
  * Scale: all three group by (window, key) — a single hash-aggregate shuffle
  * whose cardinality is windows × keys, independent of input row count.
  * Sliding windows multiply input by windows-per-event (4 here) BEFORE the
  * map-side partial aggregate, so shuffle volume stays at group cardinality.
  */
object Events {

  /** q60_window_tumbling — 1-hour tumbling count/sum per event type.
    * `window(ts, "1 hour").start` is the epoch-aligned hour floor, exactly
    * DuckDB's `date_trunc('hour', ts)`. */
  def q60WindowTumbling(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        decSum(col("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  val q60Sql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** q61_window_sliding — 1-hour windows sliding every 15 minutes: each event
    * lands in exactly 4 windows whose starts are the four 15-minute floors in
    * (ts-60m, ts]. The oracle reconstructs the same windows with integer µs
    * arithmetic (900_000_000 µs = 15 min). */
  def q61WindowSliding(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"))
      .orderBy(col("window_start"), col("event_type"))

  val q61Sql: String =
    """WITH expanded AS (
      |  SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000
      |                        - CAST(k AS BIGINT) * 900000000) AS window_start,
      |         event_type
      |  FROM events, (SELECT unnest([0, 1, 2, 3]) AS k))
      |SELECT window_start, event_type, count(*) AS n_events
      |FROM expanded
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** q62_sessionize — session windows with a 30-minute inactivity gap per
    * user. Spark merges an event into the open session iff it starts strictly
    * before prev_end = prev_ts + gap (the window is half-open), so the oracle
    * starts a new session when the gap is >= 30 minutes. session_end follows
    * Spark's definition: last event + gap. */
  def q62Sessionize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        decSum(col("value"), 2).as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  val q62Sql: String =
    """WITH g AS (
      |  SELECT user_id, ts, value, event_id,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id
      |                                 ORDER BY ts, event_id) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id
      |                                      ORDER BY ts, event_id)
      |                   >= INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |s AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                             ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g)
      |SELECT user_id,
      |       min(ts) AS session_start,
      |       max(ts) + INTERVAL 30 MINUTE AS session_end,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** q63_gapfill — per-user hourly resample with forward fill: densify each
    * user's observed span onto an hourly grid, mark gap hours, and carry the
    * last observed hourly sum forward (the standard time-series
    * regularization step ahead of feature extraction).
    *
    * Scale: the grid generates from one row per user (`sequence` + `explode`
    * is map-side expansion bounded by span-hours, never by event count); the
    * hourly aggregate shuffles at (user, hour) cardinality with map-side
    * combine; the fill window partitions per user — millions of small
    * partitions, not one. */
  def q63Gapfill(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Aggregate FIRST, materialize ONCE (guide §2.3/§5): the hourly
    // aggregate keeps its map-side partial combine (fact rows collapse
    // to (user, hr) partials BEFORE the shuffle — r15 repartitioned the
    // RAW events by user_id under the aggregate, forfeiting the combine;
    // the driver measured the q104 twin at 2.9 → 3.9 s), and the
    // checkpoint cuts the frame's THREE consumers (grid bounds, the
    // grid⋈hourly join, the fill window) down to narrow re-reads of
    // |user-hours| rows — declaratively, the outer-join's null filter
    // makes the two subtrees differ, so ReuseExchange cannot fire and
    // the fact scan + aggregate ran twice. Grid bounds over hourly.hr
    // equal bounds over raw hr (hourly holds exactly the distinct
    // (user, hr) pairs).
    val hourly = Tables.events(spark, sfDir)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"),
        col("value"))
      .groupBy(col("user_id"), col("hr"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value"), 2).as("sum_value"))
      .cutLineage()
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
          .as("hr"))
    val fill = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        // gap = the grid hour had NO events (join miss); keying this on the
        // nullable sum would mislabel an hour whose events all carry NULL
        col("n_events").isNull.as("is_gap"),
        last(col("sum_value"), ignoreNulls = true).over(fill)
          .as("filled_value"))
      // materialize before the determinism sort: the grid join keeps
      // Spark's size estimate at the product of its inputs, so
      // SinglePartitionSort leaves this |user-hours|-row sort (1M rows at
      // sf0.1) range-partitioned, and the range exchange SAMPLES its child;
      // the cut makes the sample read the cut rows instead of re-running
      // the join+window chain (timed 1.9 s vs 0.88 s nosort before the cut)
      .cutLineage()
      .orderBy(col("user_id"), col("hr"))
  }

  val q63Sql: String =
    """WITH ev AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hr, value FROM events),
      |hourly AS (
      |  SELECT user_id, hr, CAST(count(*) AS BIGINT) AS n_events,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM ev GROUP BY user_id, hr),
      |grid AS (
      |  SELECT user_id,
      |         unnest(generate_series(min(hr), max(hr), INTERVAL 1 HOUR)) AS hr
      |  FROM ev GROUP BY user_id)
      |SELECT g.user_id, g.hr,
      |       coalesce(h.n_events, 0) AS n_events,
      |       h.n_events IS NULL AS is_gap,
      |       last_value(h.sum_value IGNORE NULLS)
      |         OVER (PARTITION BY g.user_id ORDER BY g.hr
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS filled_value
      |FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
      |ORDER BY g.user_id, g.hr""".stripMargin

  /** q96_funnel — conversion-funnel analysis: for every `view`, did the
    * same user `click` within the following hour? Daily view counts,
    * conversions, and the conversion rate — the product-analytics staple
    * over an event stream.
    *
    * Scale: the candidate join is EQUI on user_id with the hour band as a
    * residual predicate — per-user event counts bound the pair space, so
    * no all-pairs blowup; timestamps compare as exact epoch-µs integers
    * (cross-engine determinism, same device as q95); the per-view min and
    * the daily rollup are both partial-aggregating hash aggregates. */
  def q96Funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("ep"), col("event_type"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"), col("ep").as("view_ep"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ep").as("click_ep"))
    val conv = views.join(clicks, Seq("user_id"))
      .where(col("click_ep") > col("view_ep") &&
        col("click_ep") <= col("view_ep") + lit(3600000000L))
      .groupBy(col("view_id"))
      .agg(min(col("click_ep")).as("first_click_ep"))
    views.join(conv, Seq("view_id"), "left")
      .groupBy(date_trunc("day", col("view_ts")).as("day"))
      .agg(count(lit(1)).as("n_views"),
        count(col("first_click_ep")).as("n_converted"))
      .withColumn("conversion",
        col("n_converted").cast("double") / col("n_views").cast("double"))
      .orderBy(col("day"))
  }

  val q96Sql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, ts, epoch_us(ts) AS ep, event_type
      |  FROM events),
      |views AS (
      |  SELECT event_id AS view_id, user_id, ts AS view_ts, ep AS view_ep
      |  FROM ev WHERE event_type = 'view'),
      |clicks AS (
      |  SELECT user_id, ep AS click_ep FROM ev WHERE event_type = 'click'),
      |conv AS (
      |  SELECT view_id, min(click_ep) AS first_click_ep
      |  FROM views JOIN clicks USING (user_id)
      |  WHERE click_ep > view_ep AND click_ep <= view_ep + 3600000000
      |  GROUP BY view_id)
      |SELECT date_trunc('day', view_ts) AS day,
      |       CAST(count(*) AS BIGINT) AS n_views,
      |       CAST(count(first_click_ep) AS BIGINT) AS n_converted,
      |       CAST(count(first_click_ep) AS DOUBLE) / count(*) AS conversion
      |FROM views LEFT JOIN conv USING (view_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Funnel window for q241: the whole 3-step sequence must complete
    * within 2 h of the anchor view (exact epoch-µs arithmetic). */
  val FunnelWindowUs = 7200000000L

  /** q241_window_funnel — the ClickHouse-`windowFunnel` shape: for each
    * anchor `view`, how DEEP does the ordered sequence
    * view → click → purchase get within [[FunnelWindowUs]] of the view,
    * with GREEDY-EARLIEST step matching (step k+1 is the first qualifying
    * event strictly after the matched step k — matching the earliest
    * click can only help, since any purchase after a later click is also
    * after the earliest one). q96 measures one edge of this funnel; this
    * is the full-depth distribution product analytics actually reads,
    * plus the mean full-funnel latency for completed sequences.
    *
    * Scale: two equi-joins on user_id with time-band residuals — pair
    * space bounded by per-user event counts, never corpus²; each step
    * resolves with a map-side-combinable min per anchor; the report is a
    * 3-row depth histogram. Timestamps compare as exact epoch-µs
    * integers; latency means are exact-integer sums with one division. */
  def q241WindowFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ep"), col("event_type"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ep").as("view_ep"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ep").as("click_ep"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ep").as("buy_ep"))
    val step2 = views.join(clicks, Seq("user_id"))
      .where(col("click_ep") > col("view_ep") &&
        col("click_ep") <= col("view_ep") + FunnelWindowUs)
      .groupBy(col("view_id"))
      .agg(min(col("click_ep")).as("first_click_ep"))
    val step3 = views.join(step2, Seq("view_id"))
      .join(purchases, Seq("user_id"))
      .where(col("buy_ep") > col("first_click_ep") &&
        col("buy_ep") <= col("view_ep") + FunnelWindowUs)
      .groupBy(col("view_id"))
      .agg(min(col("buy_ep")).as("first_buy_ep"))
    val depths = views
      .join(step2, Seq("view_id"), "left")
      .join(step3, Seq("view_id"), "left")
      .select(col("view_ep"),
        (lit(1) + when(col("first_click_ep").isNotNull, 1).otherwise(0) +
          when(col("first_buy_ep").isNotNull, 1).otherwise(0)).as("depth"),
        (col("first_buy_ep") - col("view_ep")).as("full_us"))
    val tot = depths.agg(count(lit(1)).as("n_views"))
    depths.groupBy(col("depth"))
      .agg(count(lit(1)).as("n_anchors"),
        sum(col("full_us")).as("sum_full_us"))
      .crossJoin(broadcast(tot))
      .select(col("depth"), col("n_anchors"),
        (col("n_anchors").cast("double") / col("n_views").cast("double"))
          .as("share"),
        when(col("depth") === 3,
          col("sum_full_us").cast("double") /
            col("n_anchors").cast("double") / 1000000.0)
          .as("mean_full_funnel_sec"))
      .orderBy(col("depth"))
  }

  /** q246_sax_motifs — Symbolic Aggregate approXimation of the daily
    * revenue series: z-normalize the per-day order totals against the
    * whole series (exact decimal sums feed the mean; the variance
    * numerator n·Σx²−(Σx)² stays exact in decimal(38,0)/HUGEINT; σ is one
    * correctly-rounded sqrt), map each day to a 4-letter alphabet at the
    * standard Gaussian quartile breakpoints ±0.6745 and 0, and count
    * every 3-day symbol motif — the discretize-then-index recipe behind
    * symbolic time-series search (SAX), giving a grep-able
    * representation of "revenue shape". Frequent motifs are recurring
    * local patterns; rare ones are anomaly candidates. Every z-score is
    * the same short IEEE chain on identical operands in both engines;
    * the breakpoint compare then yields identical symbols.
    *
    * Scale: the aggregate is fact-scale map-side-combinable; everything
    * after runs at DAY cardinality (2.4 k rows) — the lead() window over
    * the series and the motif count are series ops, the same contract as
    * q175/q177. Output is motif-alphabet bounded (≤ 64 rows). */
  def q246SaxMotifs(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(date_trunc("day", col("o_orderdate"))).as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).as("cents"))
    val mom = daily.agg(count(lit(1)).as("n"),
      sum(d38(col("cents"))).as("sx"),
      sum(d38(col("cents")) * d38(col("cents"))).as("sxx"))
    val stats = mom.select(col("n"),
      (col("sx").cast("double") / col("n").cast("double")).as("mu"),
      sqrt((d38(col("n")) * col("sxx") - col("sx") * col("sx"))
        .cast("double")).as("sd_num")) // σ·n = √(n·Σx²−(Σx)²)
    val sym = daily.crossJoin(broadcast(stats))
      .select(col("day"),
        // z = (x−μ)·n / σn — one subtract, one multiply, one divide
        ((col("cents").cast("double") - col("mu")) *
          col("n").cast("double") / col("sd_num")).as("z"))
      .select(col("day"),
        when(col("z") < -0.6745, "a").when(col("z") < 0.0, "b")
          .when(col("z") < 0.6745, "c").otherwise("d").as("sym"))
    val w = Window.orderBy(col("day"))
    sym
      .withColumn("s2", lead(col("sym"), 1).over(w))
      .withColumn("s3", lead(col("sym"), 2).over(w))
      .filter(col("s3").isNotNull)
      .select(concat(col("sym"), col("s2"), col("s3")).as("motif"))
      .groupBy(col("motif")).agg(count(lit(1)).as("n_windows"))
      .orderBy(col("motif"))
  }

  val q246Sql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
      |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |mom AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS sx,
      |         CAST(sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT))
      |              AS HUGEINT) AS sxx
      |  FROM daily),
      |stats AS (
      |  SELECT n, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
      |         sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE))
      |           AS sd_num
      |  FROM mom),
      |sym AS (
      |  SELECT day,
      |         CASE WHEN z < -0.6745 THEN 'a'
      |              WHEN z < 0.0 THEN 'b'
      |              WHEN z < 0.6745 THEN 'c'
      |              ELSE 'd' END AS sym
      |  FROM (SELECT day,
      |               (CAST(cents AS DOUBLE) - mu) * CAST(n AS DOUBLE)
      |                 / sd_num AS z
      |        FROM daily CROSS JOIN stats)),
      |tri AS (
      |  SELECT sym || lead(sym, 1) OVER (ORDER BY day)
      |             || lead(sym, 2) OVER (ORDER BY day) AS motif,
      |         lead(sym, 2) OVER (ORDER BY day) AS s3
      |  FROM sym)
      |SELECT motif, CAST(count(*) AS BIGINT) AS n_windows
      |FROM tri WHERE s3 IS NOT NULL
      |GROUP BY motif ORDER BY motif""".stripMargin

  val q241Sql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS ep, event_type
       |  FROM events),
       |views AS (
       |  SELECT event_id AS view_id, user_id, ep AS view_ep
       |  FROM ev WHERE event_type = 'view'),
       |clicks AS (
       |  SELECT user_id, ep AS click_ep FROM ev
       |  WHERE event_type = 'click'),
       |purchases AS (
       |  SELECT user_id, ep AS buy_ep FROM ev
       |  WHERE event_type = 'purchase'),
       |step2 AS (
       |  SELECT view_id, min(click_ep) AS first_click_ep
       |  FROM views JOIN clicks USING (user_id)
       |  WHERE click_ep > view_ep
       |    AND click_ep <= view_ep + $FunnelWindowUs
       |  GROUP BY view_id),
       |step3 AS (
       |  SELECT v.view_id, min(buy_ep) AS first_buy_ep
       |  FROM views v JOIN step2 s USING (view_id)
       |  JOIN purchases p USING (user_id)
       |  WHERE buy_ep > s.first_click_ep
       |    AND buy_ep <= v.view_ep + $FunnelWindowUs
       |  GROUP BY v.view_id),
       |depths AS (
       |  SELECT v.view_ep,
       |         1 + (CASE WHEN s2.first_click_ep IS NOT NULL
       |                   THEN 1 ELSE 0 END)
       |           + (CASE WHEN s3.first_buy_ep IS NOT NULL
       |                   THEN 1 ELSE 0 END) AS depth,
       |         s3.first_buy_ep - v.view_ep AS full_us
       |  FROM views v
       |  LEFT JOIN step2 s2 USING (view_id)
       |  LEFT JOIN step3 s3 USING (view_id)),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_views FROM depths)
       |SELECT depth, CAST(count(*) AS BIGINT) AS n_anchors,
       |       CAST(count(*) AS DOUBLE) / CAST(t.n_views AS DOUBLE)
       |         AS share,
       |       CASE WHEN depth = 3
       |            THEN CAST(sum(full_us) AS DOUBLE)
       |                 / CAST(count(*) AS DOUBLE) / 1000000.0
       |       END AS mean_full_funnel_sec
       |FROM depths CROSS JOIN tot t
       |GROUP BY depth, t.n_views
       |ORDER BY depth""".stripMargin

  /** q97_cohort — weekly retention matrix: users cohorted by first-signup
    * week, retention = fraction of the cohort active in each later week.
    * The other product-analytics staple next to the funnel (q96).
    *
    * Scale: the signup anchor is a per-user min (hash aggregate); the
    * activity join is equi on user_id; the matrix aggregate is
    * count-distinct at (cohort, offset) cardinality. Week offsets derive
    * from exact epoch-µs integer division of `date_trunc('week')` values,
    * so the bucketing is engine-exact. */
  def q97Cohort(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(unix_micros(date_trunc("week", col("ts"))))
        .as("cohort_ep"))
    val weekMicros = 7L * 86400L * 1000000L
    val active = ev.select(col("user_id"),
      unix_micros(date_trunc("week", col("ts"))).as("week_ep"))
    signups.join(active, Seq("user_id"))
      .filter(col("week_ep") >= col("cohort_ep"))
      .select(col("user_id"),
        timestamp_micros(col("cohort_ep")).as("cohort_week"),
        ((col("week_ep") - col("cohort_ep")) / lit(weekMicros))
          .cast("long").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active")))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("cohort_week"))))
      .withColumn("retention",
        col("n_active").cast("double") / col("cohort_size").cast("double"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q97Sql: String =
    """WITH signups AS (
      |  SELECT user_id,
      |         min(epoch_us(date_trunc('week', ts))) AS cohort_ep
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |active AS (
      |  SELECT user_id, epoch_us(date_trunc('week', ts)) AS week_ep
      |  FROM events),
      |cells AS (
      |  SELECT make_timestamp(cohort_ep) AS cohort_week,
      |         (week_ep - cohort_ep) // 604800000000 AS week_offset,
      |         count(DISTINCT s.user_id) AS n_active
      |  FROM signups s JOIN active a ON s.user_id = a.user_id
      |  WHERE week_ep >= cohort_ep
      |  GROUP BY 1, 2)
      |SELECT cohort_week, week_offset, n_active,
      |       max(CASE WHEN week_offset = 0 THEN n_active END)
      |         OVER (PARTITION BY cohort_week) AS cohort_size,
      |       CAST(n_active AS DOUBLE) /
      |         max(CASE WHEN week_offset = 0 THEN n_active END)
      |           OVER (PARTITION BY cohort_week) AS retention
      |FROM cells ORDER BY cohort_week, week_offset""".stripMargin

  /** q104_interpolate — LINEAR interpolation over the q63 hourly grid: gap
    * hours get prev + (next − prev) · Δt/Δspan instead of a flat forward
    * fill (the resampling mode a feature-extraction pipeline usually wants
    * for continuous measures). Endpoints degrade gracefully: a gap before
    * the first / after the last observation takes the nearest observed
    * value.
    *
    * Scale: identical shape to q63 — map-side grid expansion, one
    * (user, hour) aggregate, per-user window partitions. The interpolation
    * itself is two ignore-nulls window lookups (carry value+timestamp
    * forward and backward) plus pure double arithmetic, arranged
    * identically in both engines so the IEEE results match bitwise. */
  def q104Interpolate(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Aggregate FIRST, materialize ONCE (guide §2.3/§5): the hourly
    // aggregate keeps its map-side partial combine (fact rows collapse
    // to (user, hr) partials BEFORE the shuffle — r15 repartitioned the
    // RAW events by user_id under the aggregate, forfeiting the combine;
    // the driver measured 2.9 → 3.9 s), and the checkpoint cuts the
    // frame's THREE consumers (grid bounds, the grid⋈hourly join, both
    // interpolation windows) down to narrow re-reads of |user-hours|
    // rows — declaratively, the outer-join's null filter makes the two
    // subtrees differ, so ReuseExchange cannot fire and the fact scan +
    // aggregate ran twice. Grid bounds over hourly.hr equal bounds over
    // raw hr (hourly holds exactly the distinct (user, hr) pairs).
    val hourly = Tables.events(spark, sfDir)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"),
        col("value"))
      .groupBy(col("user_id"), col("hr"))
      .agg(decSum(col("value"), 2).as("sum_value"))
      .cutLineage()
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
          .as("hr"))
    val back = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The forward lookup runs as a BACKWARD accumulation over the reversed
    // ordering: Spark executes [unboundedPreceding, currentRow] frames as
    // an O(n) running accumulation, but [currentRow, unboundedFollowing]
    // re-scans the tail per row — O(n²) per partition, measured 16× slower
    // on this very query (29.7 s → sub-2 s at sf0.1).
    val fwdAsBack = Window.partitionBy(col("user_id")).orderBy(col("hr").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ep = col("hr").cast("long")
    val joined = grid.join(hourly, Seq("user_id", "hr"), "left")
      .withColumn("prev_v", last(col("sum_value"), ignoreNulls = true).over(back))
      .withColumn("prev_t",
        last(when(col("sum_value").isNotNull, ep), ignoreNulls = true).over(back))
      .withColumn("next_v",
        last(col("sum_value"), ignoreNulls = true).over(fwdAsBack))
      .withColumn("next_t",
        last(when(col("sum_value").isNotNull, ep), ignoreNulls = true).over(fwdAsBack))
    val frac = (ep - col("prev_t")).cast("double") /
      (col("next_t") - col("prev_t")).cast("double")
    joined
      // NO round() here: interpolation makes .xxxx5 midpoints routinely, and
      // Spark (decimal HALF_UP) vs DuckDB (float-multiply) round() disagree
      // exactly there. The raw doubles ARE bit-identical — every op is a
      // correctly-rounded IEEE +,-,*,/ in the same order in both engines.
      .select(col("user_id"), col("hr"), col("sum_value").isNull.as("is_gap"),
        when(col("sum_value").isNotNull, col("sum_value"))
          .when(col("prev_v").isNull, col("next_v"))
          .when(col("next_v").isNull, col("prev_v"))
          .otherwise(col("prev_v") +
            (col("next_v") - col("prev_v")) * frac)
          .as("interp_value"))
      // materialize before the determinism sort: as in q63, the grid join
      // keeps the size estimate high, so SinglePartitionSort leaves this
      // |user-hours|-row sort range-partitioned; the cut makes the range
      // sample read the cut rows instead of re-running the two-direction
      // window chain (timed 3.75 s vs 1.47 s nosort before the cut)
      .cutLineage()
      .orderBy(col("user_id"), col("hr"))
  }

  val q104Sql: String =
    """WITH ev AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hr, value FROM events),
      |hourly AS (
      |  SELECT user_id, hr,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM ev GROUP BY user_id, hr),
      |grid AS (
      |  SELECT user_id,
      |         unnest(generate_series(min(hr), max(hr), INTERVAL 1 HOUR)) AS hr
      |  FROM ev GROUP BY user_id),
      |j AS (
      |  SELECT g.user_id, g.hr, h.sum_value, epoch(g.hr) AS ep,
      |         last_value(h.sum_value IGNORE NULLS)
      |           OVER (PARTITION BY g.user_id ORDER BY g.hr
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS prev_v,
      |         last_value(CASE WHEN h.sum_value IS NOT NULL
      |                         THEN epoch(g.hr) END IGNORE NULLS)
      |           OVER (PARTITION BY g.user_id ORDER BY g.hr
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS prev_t,
      |         first_value(h.sum_value IGNORE NULLS)
      |           OVER (PARTITION BY g.user_id ORDER BY g.hr
      |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |           AS next_v,
      |         first_value(CASE WHEN h.sum_value IS NOT NULL
      |                          THEN epoch(g.hr) END IGNORE NULLS)
      |           OVER (PARTITION BY g.user_id ORDER BY g.hr
      |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |           AS next_t
      |  FROM grid g LEFT JOIN hourly h
      |    ON g.user_id = h.user_id AND g.hr = h.hr)
      |SELECT user_id, hr, sum_value IS NULL AS is_gap,
      |       CASE
      |         WHEN sum_value IS NOT NULL THEN sum_value
      |         WHEN prev_v IS NULL THEN next_v
      |         WHEN next_v IS NULL THEN prev_v
      |         ELSE prev_v + (next_v - prev_v) *
      |              (CAST(ep - prev_t AS DOUBLE) /
      |               CAST(next_t - prev_t AS DOUBLE))
      |       END AS interp_value
      |FROM j ORDER BY user_id, hr""".stripMargin
  /** q117_markov — first-order Markov transition matrix over each user's
    * event stream: order by (ts, event_id) — a provably total order since
    * event_id is unique — lag one step, count (prev → cur) transitions,
    * and divide by the source state's outflow for the transition
    * probability (one int/int IEEE division, identical in both engines).
    * The training-data cousin is session-shape modeling for bot/quality
    * filtering.
    *
    * Scale: one shuffle on user_id for the lag window, then a hash
    * aggregate on state-pair cardinality (|states|² keys, tiny); the
    * probability join adds a broadcast of the |states|-row outflow frame.
    */
  def q117Markov(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur"))
      .withColumn("prev", lag(col("cur"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("n"))
    val outflow = trans.groupBy(col("prev"))
      .agg(sum(col("n")).as("out_n"))
    trans.join(broadcast(outflow), "prev")
      .select(col("prev"), col("cur"), col("n"), col("out_n"),
        (col("n").cast("double") / col("out_n").cast("double")).as("p"))
      .orderBy(col("prev"), col("cur"))
  }

  val q117Sql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type AS cur,
      |         lag(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS prev
      |  FROM events),
      |trans AS (
      |  SELECT prev, cur, count(*) AS n
      |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur),
      |outflow AS (
      |  SELECT prev, CAST(sum(n) AS BIGINT) AS out_n
      |  FROM trans GROUP BY prev)
      |SELECT t.prev, t.cur, t.n, o.out_n,
      |       CAST(t.n AS DOUBLE) / CAST(o.out_n AS DOUBLE) AS p
      |FROM trans t JOIN outflow o ON t.prev = o.prev
      |ORDER BY t.prev, t.cur""".stripMargin
  /** q121_rolling_distinct — trailing-7-day distinct active users per day,
    * the DAU/WAU staple. A sliding COUNT(DISTINCT) cannot partial-aggregate
    * as a window, so the scalable form collapses events to the (day, user)
    * grid FIRST (one map-side-combinable distinct at day granularity), then
    * explodes each grid row into the ≤7 window-days it serves and runs one
    * exact distinct per window-day. Shuffle volume is 7 × |user-day grid|,
    * never 7 × |events|.
    *
    * Window-days beyond the last active day still report (they see trailing
    * activity); day arithmetic is timestamp + day intervals in both engines.
    */
  def q121RollingDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val grid = Tables.events(spark, sfDir)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
    grid
      .select(explode(expr(
        "sequence(day, day + INTERVAL '6' DAY, INTERVAL '1' DAY)"))
        .as("win_day"), col("user_id"))
      .groupBy(col("win_day"))
      .agg(countDistinct(col("user_id")).as("n_users_7d"),
        count(lit(1)).as("n_user_days"))
      .orderBy(col("win_day"))
  }

  val q121Sql: String =
    """WITH grid AS (
      |  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
      |ex AS (
      |  SELECT unnest(range(day, day + INTERVAL 7 DAY, INTERVAL 1 DAY))
      |           AS win_day,
      |         user_id
      |  FROM grid)
      |SELECT win_day, count(DISTINCT user_id) AS n_users_7d,
      |       count(*) AS n_user_days
      |FROM ex GROUP BY win_day ORDER BY win_day""".stripMargin
  /** q131_paths — top entry paths: each user's first three events (by the
    * total order (ts, event_id)) concatenated into a path string, then
    * counted across users — the funnel-shape mining behind "how do
    * sessions start". The per-user pivot is three conditional aggregates
    * over rank ≤ 3 (no collect_list: aggregate-value ordering stays
    * deterministic by construction), one shuffle on user_id, then a hash
    * aggregate at path cardinality.
    */
  def q131Paths(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"))
      .agg(
        max(when(col("rn") === 1, col("event_type"))).as("e1"),
        max(when(col("rn") === 2, col("event_type"))).as("e2"),
        max(when(col("rn") === 3, col("event_type"))).as("e3"))
      .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(desc("n_users"), col("path"))
  }

  val q131Sql: String =
    """WITH ranked AS (
      |  SELECT user_id, event_type,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS rn
      |  FROM events),
      |per_user AS (
      |  SELECT user_id,
      |         max(CASE WHEN rn = 1 THEN event_type END) AS e1,
      |         max(CASE WHEN rn = 2 THEN event_type END) AS e2,
      |         max(CASE WHEN rn = 3 THEN event_type END) AS e3
      |  FROM ranked WHERE rn <= 3 GROUP BY user_id),
      |paths AS (
      |  SELECT concat_ws('>', e1, e2, e3) AS path FROM per_user)
      |SELECT path, count(*) AS n_users
      |FROM paths GROUP BY path
      |ORDER BY n_users DESC, path""".stripMargin

  /** q146_decay — recency-weighted activity scoring: each event counts
    * 2^(−age/7d) toward its user's score, halving per week of age — the
    * exponential-decay engagement metric, in EXACTLY replayable form.
    * Transcendental decay (exp(−λ·age)) cannot cross-engine hash-match;
    * half-life decay at integer week granularity is a power-of-two
    * integer division — weight = 2²⁰ >> (age_days div 7) micro-units —
    * so scores are exact BIGINT sums in any order. The anchor is the
    * fixture's known end date (production passes "now"); ratios of the
    * micro-unit score to a plain count stay integer-exact.
    *
    * Scale: pure map arithmetic + one user-cardinality hash aggregate —
    * the decay weight needs no window, no join, no state.
    */
  def q146Decay(spark: SparkSession, sfDir: String): DataFrame = {
    val anchor = lit("2024-01-31").cast("date")
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        datediff(anchor, col("ts").cast("date")).as("age_days"))
      .select(col("user_id"), col("event_type"),
        // functions.shiftright only takes a literal shift — SQL form
        // accepts the computed one; `div` keeps the age integral.
        // Clamp to [0, 63]: Java shiftright masks the amount mod 64 while
        // DuckDB `>>` yields 0 past 63, and a post-anchor event would
        // shift by a negative amount — both undefined cross-engine.
        // Future events count at full weight; >63 weeks old decays to 0.
        expr("shiftright(1048576L, int(least(greatest(age_days, 0) div 7, 63)))")
          .as("w"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("w")).as("decayed_micro"),
        sum(when(col("event_type") === "purchase", col("w"))
          .otherwise(lit(0L))).as("purchase_micro"))
      .orderBy(col("user_id"))
  }

  val q146Sql: String =
    """WITH w AS (
      |  SELECT user_id, event_type,
      |         1048576::BIGINT >> least(greatest(date_diff('day',
      |             CAST(ts AS DATE), DATE '2024-01-31'), 0) // 7, 63) AS w
      |  FROM events)
      |SELECT user_id, count(*) AS n_events,
      |       CAST(sum(w) AS BIGINT) AS decayed_micro,
      |       CAST(sum(CASE WHEN event_type = 'purchase' THEN w
      |                     ELSE 0 END) AS BIGINT) AS purchase_micro
      |FROM w GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** q150_streaks — longest consecutive-active-day run per user: the
    * gaps-and-islands pattern (island key = day − row_number, constant
    * exactly while days are consecutive), the engagement metric behind
    * every "7-day streak" product surface. All integer day arithmetic.
    *
    * Scale: the window partitions by user (bounded rows per partition —
    * user-day grid, ≤ days-in-range per user), then two user-cardinality
    * aggregates. No global window, no self-join.
    */
  def q150Streaks(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .as("day"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day")
    val islands = days
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), max(col("day")).as("island_end"))
    islands.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        sum(col("len")).as("active_days"),
        // Injective only while a streak is < 1024 days — guard so a
        // wider fixture date range fails loudly, not mis-tie-breaking.
        max_by(col("len"),
          when(col("len").between(1L, 1023L),
            col("island_end") * lit(1024L) + col("len"))
            .otherwise(raise_error(
              lit("q150 packed-key bound: streak len outside [1, 1024)"))
              .cast("long")))
          .as("latest_streak"))
      .orderBy(col("user_id"))
  }

  val q150Sql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
      |  FROM events),
      |isl AS (
      |  SELECT user_id,
      |         day - row_number() OVER (PARTITION BY user_id ORDER BY day)
      |           AS island, day
      |  FROM days),
      |streaks AS (
      |  SELECT user_id, island, count(*) AS len, max(day) AS island_end
      |  FROM isl GROUP BY user_id, island)
      |SELECT user_id, count(*) AS n_streaks,
      |       max(len) AS longest_streak,
      |       CAST(sum(len) AS BIGINT) AS active_days,
      |       arg_max(len, island_end * 1024 + len) AS latest_streak
      |FROM streaks GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** q170_time_to_convert — signup-cohort conversion latency: per weekly
    * signup cohort, how many users converted (first purchase AT or after
    * their first signup) and the exact median seconds to convert (lower
    * median — an order statistic on integer seconds, so it cross-engine
    * hash-matches; no interpolation). The activation metric behind every
    * growth dashboard, composed from first-touch aggregates rather than a
    * sessionization pass.
    *
    * Scale: two user-cardinality aggregates (map-side min), one
    * user-keyed join, then cohort-partitioned windows over CONVERTED
    * users only — cohorts are the parallel axis, and a cohort's rows are
    * bounded by its membership. No event-grain window ever runs. */
  def q170TimeToConvert(spark: SparkSession, sfDir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
    val fs = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val fp = ev.filter(col("event_type") === "purchase")
      .join(fs, Seq("user_id"))
      .filter(col("ts") >= col("signup_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
    val u = fs.join(fp, Seq("user_id"), "left")
      .select(col("user_id"),
        date_trunc("week", col("signup_ts")).cast("date").as("cohort_week"),
        expr("(unix_micros(purchase_ts) - unix_micros(signup_ts))" +
          " div 1000000").as("secs"))
      .localCheckpoint() // feeds the cohort rollup AND the median window
    val coh = u.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_users"), count(col("secs")).as("n_converted"))
    val byCohort = W.partitionBy(col("cohort_week"))
    val med = u.filter(col("secs").isNotNull)
      .withColumn("rn", row_number().over(
        byCohort.orderBy(col("secs"), col("user_id"))))
      .withColumn("cnt", count(lit(1)).over(byCohort))
      .filter(col("rn") * 2 >= col("cnt"))
      .groupBy(col("cohort_week"))
      .agg(min(col("secs")).as("median_secs"))
    coh.join(med, Seq("cohort_week"), "left")
      .select(col("cohort_week"), col("n_users"), col("n_converted"),
        (col("n_converted").cast("double") / col("n_users")).as("conv_rate"),
        col("median_secs"))
      .orderBy(col("cohort_week"))
  }

  val q170Sql: String =
    """WITH fs AS (
      |  SELECT user_id, min(ts) AS signup_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |fp AS (
      |  SELECT e.user_id, min(e.ts) AS purchase_ts
      |  FROM events e JOIN fs ON fs.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= fs.signup_ts
      |  GROUP BY 1),
      |u AS (
      |  SELECT fs.user_id,
      |         CAST(date_trunc('week', fs.signup_ts) AS DATE) AS cohort_week,
      |         (epoch_us(fp.purchase_ts) - epoch_us(fs.signup_ts)) // 1000000
      |           AS secs
      |  FROM fs LEFT JOIN fp ON fp.user_id = fs.user_id),
      |coh AS (
      |  SELECT cohort_week, count(*) AS n_users, count(secs) AS n_converted
      |  FROM u GROUP BY 1),
      |conv AS (
      |  SELECT cohort_week, secs,
      |         row_number() OVER (PARTITION BY cohort_week
      |           ORDER BY secs, user_id) AS rn,
      |         count(*) OVER (PARTITION BY cohort_week) AS cnt
      |  FROM u WHERE secs IS NOT NULL),
      |med AS (
      |  SELECT cohort_week, min(secs) AS median_secs
      |  FROM conv WHERE rn * 2 >= cnt GROUP BY 1)
      |SELECT c.cohort_week, c.n_users, c.n_converted,
      |       CAST(c.n_converted AS DOUBLE) / c.n_users AS conv_rate,
      |       m.median_secs
      |FROM coh c LEFT JOIN med m USING (cohort_week)
      |ORDER BY c.cohort_week""".stripMargin

  /** Experiment-assignment salt for q174 (differs from every other
    * intMix62 consumer so bucketing is independent of sampling/sketches). */
  private val AbSalt = 7L

  /** q174_ab_test — deterministic experiment assignment and outcome
    * readout: users hash into variants A/B via the stable integer mix
    * (assignment is a pure function of user_id — replayable, no
    * coordination, the way real experiment routers bucket), outcome is
    * "ever purchased", and the one-row readout reports per-variant
    * conversion, absolute lift, and the 2×2 χ² statistic. The χ² is
    * rational-exact until the final squaring: (ad−bc) is computed in
    * BIGINT, then the square/ratio run in IEEE doubles with IDENTICAL
    * association order in both engines (counts past 2^26 would overflow
    * the BIGINT square — doubles keep the parity contract instead).
    *
    * Scale: one user-cardinality aggregate (max-when flattens events to a
    * per-user bit), then a single global 4-cell aggregate — map-side
    * combine end-to-end, no window, no join. */
  def q174AbTest(spark: SparkSession, sfDir: String): DataFrame = {
    // outcome = "ever made a HIGH-VALUE purchase": every fixture user
    // purchases something, so plain purchase would leave the χ²'s
    // non-converter margin empty (and the margins degenerate)
    val conv = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 250.0,
        1L).otherwise(0L)).as("converted"))
      .withColumn("variant",
        pmod(graft.functions.StableHash.intMix62(col("user_id"), AbSalt),
          lit(2L)))
    val cells = conv.agg(
      sum(when(col("variant") === 0L && col("converted") === 1L, 1L)
        .otherwise(0L)).as("a_conv"),
      sum(when(col("variant") === 0L && col("converted") === 0L, 1L)
        .otherwise(0L)).as("a_no"),
      sum(when(col("variant") === 1L && col("converted") === 1L, 1L)
        .otherwise(0L)).as("b_conv"),
      sum(when(col("variant") === 1L && col("converted") === 0L, 1L)
        .otherwise(0L)).as("b_no"))
    val n = col("a_conv") + col("a_no") + col("b_conv") + col("b_no")
    val det = col("a_conv") * col("b_no") - col("a_no") * col("b_conv")
    val rateA = col("a_conv").cast("double") / (col("a_conv") + col("a_no"))
    val rateB = col("b_conv").cast("double") / (col("b_conv") + col("b_no"))
    cells.select(
      (col("a_conv") + col("a_no")).as("n_a"), col("a_conv"),
      (col("b_conv") + col("b_no")).as("n_b"), col("b_conv"),
      rateA.as("rate_a"), rateB.as("rate_b"),
      (rateB - rateA).as("lift"),
      // degenerate margin (all or none convert) ⇒ χ² defined as 0, and
      // the guard keeps ANSI mode from throwing on the zero denominator
      when(col("a_conv") + col("b_conv") === 0L ||
          col("a_no") + col("b_no") === 0L, lit(0.0))
        .otherwise(
          (n.cast("double") * (det.cast("double") * det.cast("double"))) /
            ((col("a_conv") + col("a_no")).cast("double") *
              (col("b_conv") + col("b_no")).cast("double") *
              (col("a_conv") + col("b_conv")).cast("double") *
              (col("a_no") + col("b_no")).cast("double")))
        .as("chi2"))
  }

  val q174Sql: String =
    s"""WITH conv AS (
       |  SELECT user_id,
       |         max(CASE WHEN event_type = 'purchase' AND value > 250
       |                  THEN 1 ELSE 0 END) AS converted,
       |         (${graft.functions.StableHash.intMix62Sql("user_id", AbSalt)})
       |           % 2 AS variant
       |  FROM events GROUP BY user_id),
       |cells AS (
       |  SELECT
       |    CAST(sum(CASE WHEN variant = 0 AND converted = 1
       |             THEN 1 ELSE 0 END) AS BIGINT) AS a_conv,
       |    CAST(sum(CASE WHEN variant = 0 AND converted = 0
       |             THEN 1 ELSE 0 END) AS BIGINT) AS a_no,
       |    CAST(sum(CASE WHEN variant = 1 AND converted = 1
       |             THEN 1 ELSE 0 END) AS BIGINT) AS b_conv,
       |    CAST(sum(CASE WHEN variant = 1 AND converted = 0
       |             THEN 1 ELSE 0 END) AS BIGINT) AS b_no
       |  FROM conv)
       |SELECT a_conv + a_no AS n_a, a_conv,
       |       b_conv + b_no AS n_b, b_conv,
       |       CAST(a_conv AS DOUBLE) / (a_conv + a_no) AS rate_a,
       |       CAST(b_conv AS DOUBLE) / (b_conv + b_no) AS rate_b,
       |       CAST(b_conv AS DOUBLE) / (b_conv + b_no)
       |         - CAST(a_conv AS DOUBLE) / (a_conv + a_no) AS lift,
       |       CASE WHEN a_conv + b_conv = 0 OR a_no + b_no = 0 THEN 0.0
       |            ELSE (CAST(a_conv + a_no + b_conv + b_no AS DOUBLE)
       |              * (CAST(a_conv * b_no - a_no * b_conv AS DOUBLE)
       |                 * CAST(a_conv * b_no - a_no * b_conv AS DOUBLE)))
       |            / (CAST(a_conv + a_no AS DOUBLE)
       |               * CAST(b_conv + b_no AS DOUBLE)
       |               * CAST(a_conv + b_conv AS DOUBLE)
       |               * CAST(a_no + b_no AS DOUBLE)) END AS chi2
       |FROM cells""".stripMargin

  /** q175_autocorr — lag-k sample autocorrelation (k = 1..14) of the
    * daily event-count series: r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)².
    * The weekly-cycle detector behind capacity planning and anomaly
    * baselines. Cross-engine exactness by clearing the mean's fraction:
    * both sums are N²-scaled — num_k = Σ(N·x_t−S)(N·x_{t+k}−S),
    * den = Σ(N·x_t−S)² with S = Σx — computed in DECIMAL(38,0) (exact in
    * both engines, immune to the DuckDB HUGEINT-float64 drift), then ONE
    * IEEE division per lag.
    *
    * Scale: the only fact-sized stage is the daily hash-aggregate
    * (map-side combine, date-cardinality shuffle). Everything after runs
    * on the day-cardinality series — the lag pairing is a self-join on
    * row_number bounded to 14 rows per day, never fact-sized. */
  def q175Autocorr(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxLag = 14
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint() // day-cardinality; feeds rn + stats (one fact scan)
    val rn = daily
      .withColumn("rn", row_number().over(Window.orderBy(col("day"))))
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    // centered value scaled by N: c = N*x - S (integer, mean-free)
    val c = rn.crossJoin(broadcast(stats))
      .select(col("rn"),
        (col("n") * col("x") - col("s")).cast("decimal(38,0)").as("c"))
      .localCheckpoint() // feeds den + both lag-join sides
    val den = c.agg(sum(col("c") * col("c")).as("den"))
    val a = c.select(col("rn").as("rn_a"), col("c").as("c_a"))
    val b = c.select(col("rn").as("rn_b"), col("c").as("c_b"))
    a.join(b, col("rn_b") > col("rn_a") &&
        col("rn_b") <= col("rn_a") + maxLag)
      .select((col("rn_b") - col("rn_a")).as("lag"),
        (col("c_a") * col("c_b")).as("prod"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("prod")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        (col("num").cast("double") / col("den").cast("double")).as("r"))
      .orderBy(col("lag"))
  }

  val q175Sql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |rn AS (SELECT x, row_number() OVER (ORDER BY day) AS rn FROM daily),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |                 CAST(sum(x) AS BIGINT) AS s FROM daily),
      |c AS (SELECT rn, CAST(n * x - s AS DECIMAL(38,0)) AS c
      |      FROM rn CROSS JOIN stats),
      |den AS (SELECT CAST(sum(c * c) AS DECIMAL(38,0)) AS den FROM c),
      |pairs AS (
      |  SELECT b.rn - a.rn AS lag, a.c * b.c AS prod
      |  FROM c a JOIN c b ON b.rn > a.rn AND b.rn <= a.rn + 14)
      |SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(CAST(sum(prod) AS DECIMAL(38,0)) AS DOUBLE)
      |         / CAST(den AS DOUBLE) AS r
      |FROM pairs CROSS JOIN den
      |GROUP BY lag, den ORDER BY lag""".stripMargin

  /** q177_cusum — CUSUM changepoint scan per event type: the cumulative
    * sum of mean-deviations over the daily count series, whose extreme
    * |value| marks the most likely level-shift point (Page's statistic in
    * its N-scaled integer form: cusum_t = Σ_{i≤t}(N·x_i−S), exact BIGINT,
    * telescoping to 0 at t=N). Reported per type: the argmax day
    * (earliest on ties), the scaled extreme, and the mean-unit statistic
    * |cusum|/N as one IEEE division.
    *
    * Scale: fact-sized work is one (type, day) hash-aggregate; the scan
    * itself is a window over day-cardinality series per type — bounded
    * partitions, no fact-sized window. */
  def q177Cusum(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint() // (type, day)-cardinality; feeds stats + scan
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val scan = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = daily.join(broadcast(stats), "event_type")
      .withColumn("cusum", sum(col("n") * col("x") - col("s")).over(scan))
    val pick = Window.partitionBy(col("event_type"))
      .orderBy(desc("acusum"), col("day"))
    cusum
      .withColumn("acusum", abs(col("cusum")))
      .withColumn("rk", row_number().over(pick))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        col("day").as("cp_day"), col("cusum").as("cusum_scaled"),
        (col("acusum").cast("double") / col("n").cast("double"))
          .as("stat"))
      .orderBy(col("event_type"))
  }

  val q177Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS s
      |  FROM daily GROUP BY 1),
      |scan AS (
      |  SELECT d.event_type, d.day, st.n,
      |         CAST(sum(st.n * d.x - st.s) OVER (
      |           PARTITION BY d.event_type ORDER BY d.day
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum
      |  FROM daily d JOIN stats st USING (event_type)),
      |pick AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |            ORDER BY abs(cusum) DESC, day) AS rk
      |  FROM scan)
      |SELECT event_type, n AS n_days, day AS cp_day,
      |       cusum AS cusum_scaled,
      |       CAST(abs(cusum) AS DOUBLE) / CAST(n AS DOUBLE) AS stat
      |FROM pick WHERE rk = 1 ORDER BY event_type""".stripMargin

  /** q178_ohlc — hourly OHLC bars per event type: open/close are the
    * first/last `value` in the bar under the total (ts, event_id) order,
    * high/low the extremes, plus trade count and decimal-exact turnover.
    * The candlestick aggregation every market-data and metrics pipeline
    * runs. Open/close come from ONE window pass computing forward and
    * reverse row numbers (no self-join); all comparisons are on raw
    * doubles (picks, not sums), and the only float sum goes through the
    * DECIMAL(18,4) boundary both engines share.
    *
    * Scale: the window partitions by (type, hour) — thousands of small
    * partitions, no global sort; the aggregate is the same key, map-side
    * combinable. Bars × types cardinality output regardless of rows. */
  def q178Ohlc(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bars = Tables.events(spark, sfDir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
        col("ts"), col("event_id"), col("value"))
    val fwd = Window.partitionBy(col("event_type"), col("hr"))
      .orderBy(col("ts"), col("event_id"))
    val rev = Window.partitionBy(col("event_type"), col("hr"))
      .orderBy(desc("ts"), desc("event_id"))
    bars
      .withColumn("rn_f", row_number().over(fwd))
      .withColumn("rn_r", row_number().over(rev))
      .groupBy(col("event_type"), col("hr"))
      .agg(
        max(when(col("rn_f") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_r") === 1, col("value"))).as("close"),
        count(lit(1)).as("n_trades"),
        sum(col("value").cast("decimal(18,4)")).cast("double")
          .as("turnover"))
      .orderBy(col("event_type"), col("hr"))
  }

  val q178Sql: String =
    """WITH bars AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hr, ts, event_id,
      |         value,
      |         row_number() OVER (PARTITION BY event_type,
      |           date_trunc('hour', ts) ORDER BY ts, event_id) AS rn_f,
      |         row_number() OVER (PARTITION BY event_type,
      |           date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC)
      |           AS rn_r
      |  FROM events)
      |SELECT event_type, hr,
      |       max(CASE WHEN rn_f = 1 THEN value END) AS open,
      |       max(value) AS high, min(value) AS low,
      |       max(CASE WHEN rn_r = 1 THEN value END) AS close,
      |       CAST(count(*) AS BIGINT) AS n_trades,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS turnover
      |FROM bars GROUP BY event_type, hr
      |ORDER BY event_type, hr""".stripMargin

  /** q193_lateness — out-of-order-arrival audit per event type: treating
    * `event_id` as arrival order (the ingestion sequence) and `ts` as
    * event time, how late does data arrive relative to the high-water
    * mark already seen? Reports per type: events observed, how many
    * arrived late (event time below the running max), the worst lateness
    * in seconds, and the lower-p95 lateness — THE numbers that size a
    * streaming watermark (q60-q62's `withWatermark` delay) before
    * turning it on. Lateness is exact integer µs arithmetic; the p95 is
    * a row_number PICK, not a float quantile.
    *
    * Scale: one window pass partitioned by type in arrival order (the
    * same per-key scan a stateful streaming operator makes), then
    * type-cardinality aggregation; the p95 pick windows only the late
    * subset. */
  def q193Lateness(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arrival = Window.partitionBy(col("event_type"))
      .orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("hwm", max(col("us")).over(arrival))
      .withColumn("late_us", col("hwm") - col("us"))
      .localCheckpoint() // feeds the per-type aggregate + the p95 pick
    val agg = late.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late_us")).as("max_late_us"))
    val lateOnly = late.filter(col("late_us") > 0)
    val pick = Window.partitionBy(col("event_type"))
      .orderBy(col("late_us"), col("event_id"))
    val p95 = lateOnly
      .withColumn("rn", row_number().over(pick))
      .join(broadcast(lateOnly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_l"))), "event_type")
      .filter(col("rn") === expr("greatest(1, (n_l * 95) div 100)"))
      .select(col("event_type"), col("late_us").as("p95_late_us"))
    agg.join(broadcast(p95), Seq("event_type"), "left")
      .select(col("event_type"), col("n_events"), col("n_late"),
        (col("max_late_us").cast("double") / 1e6).as("max_late_secs"),
        (col("p95_late_us").cast("double") / 1e6).as("p95_late_secs"),
        (col("n_late").cast("double") / col("n_events").cast("double"))
          .as("late_share"))
      .orderBy(col("event_type"))
  }

  val q193Sql: String =
    """WITH ev AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS us
      |  FROM events),
      |scan AS (
      |  SELECT event_type, event_id, us,
      |         max(us) OVER (PARTITION BY event_type ORDER BY event_id
      |           ROWS UNBOUNDED PRECEDING) - us AS late_us
      |  FROM ev),
      |agg AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |         CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_late,
      |         CAST(max(late_us) AS BIGINT) AS max_late_us
      |  FROM scan GROUP BY 1),
      |lateonly AS (SELECT * FROM scan WHERE late_us > 0),
      |nl AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_l
      |       FROM lateonly GROUP BY 1),
      |p95 AS (
      |  SELECT l.event_type, l.late_us AS p95_late_us
      |  FROM (SELECT event_type, event_id, late_us,
      |               row_number() OVER (PARTITION BY event_type
      |                 ORDER BY late_us, event_id) AS rn
      |        FROM lateonly) l
      |  JOIN nl ON nl.event_type = l.event_type
      |  WHERE l.rn = greatest(1, (nl.n_l * 95) // 100))
      |SELECT a.event_type, a.n_events, a.n_late,
      |       CAST(a.max_late_us AS DOUBLE) / 1e6 AS max_late_secs,
      |       CAST(p.p95_late_us AS DOUBLE) / 1e6 AS p95_late_secs,
      |       CAST(a.n_late AS DOUBLE) / CAST(a.n_events AS DOUBLE)
      |         AS late_share
      |FROM agg a LEFT JOIN p95 p USING (event_type)
      |ORDER BY a.event_type""".stripMargin

  /** Attribution lookback for q200: a touch older than this no longer
    * gets credit (7 days in µs). */
  val AttributionWindowUs: Long = 7L * 24 * 3600 * 1000000L

  /** q200_attribution — last-touch revenue attribution: every purchase
    * credits its user's most recent PRECEDING non-purchase event within
    * a 7-day lookback; purchases with no eligible touch credit 'direct'.
    * The marketing-analytics workhorse. The "most recent preceding
    * touch" is TWO carry-forward picks over the same frame (the q16
    * as-of technique: `last(..., ignoreNulls)` over rows [-∞, -1]) —
    * channel and touch-time are picked from the same row by
    * construction, no struct comparison, no self-join. Revenue sums in
    * exact cents (floor(x·100+0.5), the cross-engine-safe form);
    * shares are single IEEE divisions.
    *
    * Scale: one window pass partitioned by user in event order (the
    * per-key sequential scan every sessionizer makes — bounded by
    * per-user history, not corpus size), then a channel-cardinality
    * aggregate with map-side combine. */
  def q200Attribution(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val touched = ev
      .withColumn("touch_ch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .withColumn("touch_us",
        last(when(col("event_type") =!= "purchase", col("us")),
          ignoreNulls = true).over(w))
    val attributed = touched
      .filter(col("event_type") === "purchase")
      .select(col("cents"),
        when(col("touch_ch").isNotNull &&
            col("us") - col("touch_us") <= AttributionWindowUs,
          col("touch_ch")).otherwise(lit("direct")).as("channel"))
    val per = attributed.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("cents")).as("cents"))
      .localCheckpoint() // channel-cardinality; feeds totals + output
    val tot = per.agg(sum(col("cents")).as("total_cents"))
    per.crossJoin(broadcast(tot))
      .select(col("channel"), col("n_purchases"),
        (col("cents").cast("double") / 100.0).as("revenue"),
        (col("cents").cast("double") / col("total_cents").cast("double"))
          .as("revenue_share"))
      .orderBy(col("channel"))
  }

  val q200Sql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
       |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
       |  FROM events),
       |touched AS (
       |  SELECT *,
       |         last_value(CASE WHEN event_type <> 'purchase'
       |                         THEN event_type END IGNORE NULLS)
       |           OVER (PARTITION BY user_id ORDER BY us, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           AS touch_ch,
       |         last_value(CASE WHEN event_type <> 'purchase'
       |                         THEN us END IGNORE NULLS)
       |           OVER (PARTITION BY user_id ORDER BY us, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           AS touch_us
       |  FROM ev),
       |attributed AS (
       |  SELECT cents,
       |         CASE WHEN touch_ch IS NOT NULL
       |                   AND us - touch_us <= ${AttributionWindowUs}
       |              THEN touch_ch ELSE 'direct' END AS channel
       |  FROM touched WHERE event_type = 'purchase'),
       |per AS (
       |  SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
       |         CAST(sum(cents) AS BIGINT) AS cents
       |  FROM attributed GROUP BY channel),
       |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM per)
       |SELECT channel, n_purchases,
       |       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       |       CAST(cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
       |         AS revenue_share
       |FROM per CROSS JOIN tot ORDER BY channel""".stripMargin

  /** q202_churn — week-over-week active-user accounting: per week, the
    * active count split into retained (also active the previous week)
    * and new, plus how many of the PREVIOUS week's actives churned, and
    * the retention rate. The product-analytics counterpart of q97's
    * cohort grid (q97 follows signup cohorts; this follows the whole
    * active base week to week). Weeks are epoch-µs of `date_trunc
    * ('week')` (the q97 technique — exact integer keys, +604800e6 steps,
    * DST-free under UTC). All-integer; the rate is one IEEE division.
    *
    * Scale: the fact collapses to DISTINCT (week, user) once (one
    * shuffle); retention is a self-join on (user, week−1) — key-bounded;
    * everything after is week-cardinality. */
  def q202Churn(spark: SparkSession, sfDir: String): DataFrame = {
    val WeekUs = 604800000000L
    val wu = Tables.events(spark, sfDir)
      .select(unix_micros(date_trunc("week", col("ts"))).as("week_ep"),
        col("user_id"))
      .distinct()
      .localCheckpoint() // (week × user); feeds actives + both join sides
    val active = wu.groupBy(col("week_ep")).agg(count(lit(1)).as("n_active"))
    val retained = wu.as("cur")
      .join(wu.select((col("week_ep") + WeekUs).as("week_ep"),
        col("user_id")).as("prev"), Seq("week_ep", "user_id"))
      .groupBy(col("week_ep")).agg(count(lit(1)).as("n_retained"))
    active.as("a")
      .join(broadcast(retained), Seq("week_ep"), "left")
      .join(broadcast(active.select((col("week_ep") + WeekUs).as("week_ep"),
        col("n_active").as("prev_active"))), Seq("week_ep"), "left")
      .select(col("week_ep"), col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        (col("n_active") - coalesce(col("n_retained"), lit(0L)))
          .as("n_new"),
        (coalesce(col("prev_active"), lit(0L)) -
          coalesce(col("n_retained"), lit(0L))).as("n_churned"),
        when(col("prev_active").isNotNull,
          coalesce(col("n_retained"), lit(0L)).cast("double") /
            col("prev_active").cast("double")).as("retention_rate"))
      .orderBy(col("week_ep"))
  }

  val q202Sql: String =
    """WITH wu AS (
      |  SELECT DISTINCT epoch_us(date_trunc('week', ts)) AS week_ep,
      |         user_id
      |  FROM events),
      |active AS (
      |  SELECT week_ep, CAST(count(*) AS BIGINT) AS n_active
      |  FROM wu GROUP BY 1),
      |retained AS (
      |  SELECT cur.week_ep, CAST(count(*) AS BIGINT) AS n_retained
      |  FROM wu cur JOIN wu prev
      |    ON prev.user_id = cur.user_id
      |   AND prev.week_ep + 604800000000 = cur.week_ep
      |  GROUP BY 1)
      |SELECT a.week_ep, a.n_active,
      |       coalesce(r.n_retained, 0) AS n_retained,
      |       a.n_active - coalesce(r.n_retained, 0) AS n_new,
      |       coalesce(p.n_active, 0) - coalesce(r.n_retained, 0)
      |         AS n_churned,
      |       CASE WHEN p.n_active IS NOT NULL
      |            THEN CAST(coalesce(r.n_retained, 0) AS DOUBLE)
      |                 / CAST(p.n_active AS DOUBLE) END AS retention_rate
      |FROM active a
      |LEFT JOIN retained r ON r.week_ep = a.week_ep
      |LEFT JOIN active p ON p.week_ep + 604800000000 = a.week_ep
      |ORDER BY a.week_ep""".stripMargin
}
