package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, LongType, TimestampNTZType}
import graft.Tables

/** Event-time window aggregations (SURVEY.md §2B rows B40–B42).
  *
  * Expressed in batch so the DuckDB oracle applies; the same `window()` /
  * `session_window()` expressions run unchanged under Structured Streaming
  * with a watermark (graft.streaming.StreamOps covers that path in tests —
  * the 100 TB streaming story per SURVEY.md §2B note).
  */
object Events {

  /** Per-JVM scratch parent of the streaming judged queries, deleted at
    * JVM exit. Each query keeps its feed, checkpoint and output in its own
    * root under it, wiped at each invocation (see streamKvPipeline). */
  private lazy val streamScratch: java.nio.file.Path = scratchDir("graft_stream")
  private def streamRoot(name: String): java.nio.file.Path =
    streamScratch.resolve(name)

  case class StateIn(user_id: Long, event_id: Long)
  case class StateOut(user_id: Long, cnt: Long, idsum: Long)

  /** Per-user running totals as ARBITRARY STATE (transformWithState —
    * Spark 4's modern stateful-processor API): one ValueState tuple per
    * user, updated each micro-batch, the cumulative row emitted whenever
    * the user had input. Integer-only accumulation, so iterator order
    * inside a batch cannot perturb the result. */
  final class CountProcessor extends
      org.apache.spark.sql.streaming.StatefulProcessor[Long, StateIn, StateOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.streaming.OutputMode
    @transient private var totals: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[StateIn],
        timers: TimerValues): Iterator[StateOut] = {
      val (c0, s0) = if (totals.exists()) totals.get() else (0L, 0L)
      var c = c0; var sm = s0
      rows.foreach { r => c += 1L; sm += r.event_id }
      totals.update((c, sm))
      Iterator.single(StateOut(key, c, sm))
    }
  }

  /** Publish chunk `k` of the events fixture (rows with event_id % 3 == k,
    * projected to `cols`) as explicit kv epoch `k` at `feed` — a BATCH job
    * per chunk, so the fixture enters the stream EXECUTOR-SIDE through the
    * connector's own MicroBatchStream; no row ever passes through the
    * driver. Pre-r13 these queries collected the full events table into a
    * MemoryStream, which capped them at driver memory. */
  private def writeFeedEpoch(s: SparkSession, d: String, feed: String,
      k: Int, cols: Seq[org.apache.spark.sql.Column]): Unit =
    writeFeedEpochWhere(s, d, feed, k, cols, col("event_id") % 3 === k)

  /** [[writeFeedEpoch]] with an arbitrary chunk predicate — for feeds
    * whose epochs must OVERLAP (the streaming-dedup fixture publishes each
    * row into two different epochs). */
  private def writeFeedEpochWhere(s: SparkSession, d: String, feed: String,
      k: Int, cols: Seq[org.apache.spark.sql.Column],
      pred: org.apache.spark.sql.Column): Unit =
    Tables.events(s, d).select(cols: _*)
      .filter(pred)
      .write.format("graft.sources.GraftKvSink")
      .option("path", feed).option("epoch", k.toString)
      .mode(if (k == 0) org.apache.spark.sql.SaveMode.Overwrite
            else org.apache.spark.sql.SaveMode.Append)
      .save()

  /** The idempotent FILE sink every judged streaming query writes through
    * (same recipe kv_cdc_restart pins across a restart): each micro-batch
    * overwrites its own batchId-keyed directory, so a replayed batch
    * rewrites the same files instead of double-counting — exactly-once on
    * top of at-least-once delivery, with no driver-resident result table.
    * Read the union back with [[readSunk]]. */
  private[ops] def sinkBatches(out: String)
      : (org.apache.spark.sql.DataFrame, Long) => Unit =
    (df, batchId) => df.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$out/b=$batchId")

  /** Union of every batch directory [[sinkBatches]] wrote. Empty batches
    * write schema-only directories, so the union always reads. */
  private[ops] def readSunk(s: SparkSession, out: String)
      : org.apache.spark.sql.DataFrame =
    s.read.parquet(out)

  /** Run `body` with the given SQL confs set, restoring each prior value
    * (or unsetting ones that were absent) even on failure — the ONE
    * restore path every streaming judged query shares. */
  private[ops] def withConfs[T](s: SparkSession, confs: (String, String)*)
      (body: => T): T = {
    val prior = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** B40: tumbling 1-day event-time windows per event type. Two-phase
    * distinct: pre-aggregate per (window, type, user), then merge — avoids
    * the Expand node a direct countDistinct plans over the full table, while
    * the exact decimal partials keep the result hash-identical.
    *
    * The aggregation keys on the window START instant: for a tumbling window
    * `window(ts, '1 day').start ≡ date_trunc('day', ts)` and the struct's
    * end is start+1d — carrying the full struct through both shuffles only
    * widens the key (measured: the pre-aggregate barely reduces here, ~0.8
    * groups per input row, so key width is the shuffle). The streaming path
    * (graft.streaming.StreamOps) uses `window()` proper under a watermark. */
  def tumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      // dayNtz, not date_trunc: timezone-independent like window() itself
      .withColumn("w_day", dayNtz(col("ts")))
      .groupBy(col("w_day"), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("u_cnt"), sum(dec(col("value"))).as("u_sum"))
      .groupBy(col("w_day"), col("event_type"))
      .agg(sum(col("u_cnt")).as("cnt"),
        sum(col("u_sum")).cast(DoubleType).as("val_sum"),
        count(lit(1)).as("n_users"))
      .select(col("w_day"), col("event_type"),
        col("cnt"), col("val_sum"), col("n_users"))
      .orderBy(col("w_day"), col("event_type"))

  /** B41: sliding 1-hour windows every 30 minutes (each event in 2 windows). */
  def sliding(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), sumS(col("value")).as("val_sum"))
      .select(col("w.start").as("w_start"), col("cnt"), col("val_sum"))
      .orderBy(col("w_start"))

  /** B42: session windows with a 30-minute gap per user. Boundary semantics
    * (unit-tested): an event exactly gap-after the previous one MERGES —
    * Spark extends the session when ts <= prev_session_end — so the oracle's
    * new-session predicate is strict `>`. */
  def session(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"), sumS(col("value")).as("val_sum"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("cnt"), col("val_sum"))
      .orderBy(col("user_id"), col("session_start"))

  /** Skew-handling showcase: two-phase salted aggregation over the heavily
    * skewed event_type key (5 values ≪ cores). Phase 1 pre-aggregates on
    * (key, salt) spreading each hot key over 16 reducers; phase 2 merges the
    * 16 partials. Decimal partials merge exactly, so the result hash-matches
    * the plain GROUP BY oracle — the technique is invisible to correctness. */
  def aggSalted(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("p_cnt"), sum(dec(col("value"))).as("p_sum"))
      .groupBy(col("event_type"))
      .agg(sum(col("p_cnt")).as("cnt"), sum(col("p_sum")).cast(DoubleType).as("val_sum"))
      .orderBy(col("event_type"))

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** B15 extension: pivot — one column per event type, day rows. */
  def aggPivot(s: SparkSession, d: String): DataFrame = {
    val pivoted = Tables.events(s, d)
      .groupBy(dayNtz(col("ts")).as("day"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    EventTypes.foldLeft(pivoted) { (df, t) =>
      df.withColumn(t, coalesce(col(t), lit(0L)))
    }.orderBy(col("day"))
  }

  /** B15 extension: UNPIVOT/melt — widen (pivot) then melt back to long
    * form; zero-filled cells survive, so the result is the dense day × type
    * grid (the oracle builds the same grid relationally). */
  def aggUnpivot(s: SparkSession, d: String): DataFrame =
    aggPivot(s, d)
      .unpivot(Array(col("day")), EventTypes.map(col).toArray, "event_type", "cnt")
      .orderBy(col("day"), col("event_type"))

  /** Funnel analysis: per-user first-touch times of view → click → purchase,
    * rolled into one conversion row. A stage counts only if its first touch
    * is strictly after the previous stage's (true ordered-funnel semantics,
    * not independent presence counts). One groupBy shuffle on user_id, then
    * a single-row global aggregate — the conversion-report shape that scales
    * to billions of users because state per user is 3 timestamps. */
  def eventsFunnel(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purch"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("t_click") > col("t_view"), 1L).otherwise(0L)).as("n_click_after_view"),
        sum(when(col("t_click") > col("t_view") && col("t_purch") > col("t_click"), 1L)
          .otherwise(0L)).as("n_full_funnel"))
      .withColumn("conv_view_click", ratioD(col("n_click_after_view"), col("n_view")))
      .withColumn("conv_click_purch", ratioD(col("n_full_funnel"), col("n_click_after_view")))

  /** Cohort retention: users grouped by their first active day (the cohort),
    * then for each day-offset how many came back — the engagement matrix
    * behind every retention curve. The activity set is pre-distincted per
    * (user, day), so the final count(*) per (cohort, offset) IS a
    * distinct-user count without the Expand node a count_distinct would plan.
    * Scale shape: one shuffle keyed by (user, day) for the distinct, then the
    * cohort day comes from a min-window over user_id — no groupBy + self-join
    * back onto the activity set (that shape shuffles the big side twice and
    * joins; the window is a single user-keyed exchange) — and the retention
    * ratio divides by the cohort's own day-0 row via a window over the
    * aggregated cohort×offset grid, a few hundred rows regardless of corpus
    * size. */
  def eventsRetention(s: SparkSession, d: String): DataFrame = {
    val act = Tables.events(s, d)
      .select(col("user_id"), dayNtz(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
    act
      .withColumn("cohort_day",
        min(col("day")).over(Window.partitionBy(col("user_id"))))
      .withColumn("day_offset",
        datediff(col("day").cast(DateType), col("cohort_day").cast(DateType))
          .cast(LongType))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      // offset 0 exists for every cohort (each user is active on their own
      // first day), so first_value over the offset order is the cohort size
      .withColumn("retention", ratioD(col("n_users"), first(col("n_users")).over(w)))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** B43 made oracle-visible: the watermark late-data-drop rule as a batch
    * replay. The synthetic events table is perfectly time-ordered by
    * event_id, so a deterministic md5 jitter of 0–30 minutes is added to
    * each row's event time to form its ARRIVAL time — recreating the bounded
    * out-of-orderness real ingest has. A row is then dropped exactly when
    * Structured Streaming's `withWatermark("ts", "10 minutes")` would drop
    * it: its event time is >10 minutes behind the maximum event time among
    * rows that arrived strictly before it.
    *
    * Scale shape: the watermark is a running max over a GLOBAL arrival
    * order — inherently sequential — so it is computed in two phases like
    * window_distribution: a per-arrival-hour window (partitioned → parallel)
    * for the within-chunk running max, plus a prefix max over the tiny
    * per-hour summary (720 rows/month regardless of corpus size, broadcast
    * back). The oracle runs the naive single global window; the hash match
    * proves the de-skewed rewrite. */
  def streamLateDrop(s: SparkSession, d: String): DataFrame = {
    val wIn = Window.partitionBy(col("arr_hr"))
      .orderBy(col("arr"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPre = Window.orderBy(col("arr_hr"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withArr = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .withColumn("jm", expr("CAST(conv(substring(md5(concat('j:', " +
        "CAST(event_id AS STRING))), 1, 4), 16, 10) AS BIGINT) % 31"))
      .withColumn("arr", expr("timestampadd(MINUTE, jm, ts)"))
      .withColumn("arr_hr", date_trunc("hour", col("arr")))
    val prevHourMax = withArr.groupBy(col("arr_hr"))
      .agg(max(col("ts")).as("cmax"))
      .withColumn("prevmax", max(col("cmax")).over(wPre))
      .select(col("arr_hr"), col("prevmax"))
    withArr
      .withColumn("runin", max(col("ts")).over(wIn))
      .join(broadcast(prevHourMax), Seq("arr_hr"))
      .withColumn("wm_src", greatest(col("runin"), col("prevmax")))
      .withColumn("late", col("wm_src").isNotNull &&
        col("ts") < expr("timestampadd(MINUTE, -10, wm_src)"))
      .groupBy(dayNtz(col("ts")).as("w_day"), col("event_type"))
      .agg(sum(when(col("late"), 0L).otherwise(1L)).as("n_kept"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        sum(when(!col("late"), dec(col("value"))))
          .cast(DoubleType).as("val_sum_kept"))
      .orderBy(col("w_day"), col("event_type"))
  }

  /** Streaming admission control as a batch twin: a per-(user, day) quota of
    * 3 events, admitting the first 3 in event-time order — the keyed-state
    * shape `flatMapGroupsWithState` implements incrementally (a counter per
    * key). Batch form: one row_number window partitioned by the quota key,
    * so the shuffle distributes by (user, day) at any scale — no global
    * ordering anywhere. */
  def streamRateLimit(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("day", dayNtz(col("ts")))
      .withColumn("admitted", row_number().over(w) <= 3)
      .groupBy(col("event_type"))
      .agg(sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), 0L).otherwise(1L)).as("n_throttled"),
        sum(when(col("admitted"), dec(col("value"))))
          .cast(DoubleType).as("val_sum_admitted"))
      .orderBy(col("event_type"))
  }

  /** CDC/SCD-2 shape: collapse each user's event stream into type-2 validity
    * intervals of the event_type attribute — one row per CHANGE, valid from
    * its first observation until the next change (null valid_to = current
    * version). The dimension-history table every warehouse maintains,
    * computed as two user-partitioned windows (change detection by lag,
    * interval close by lead over the change rows only) — no self-join, and
    * the shuffles distribute by user at any scale. Judged output bounded to
    * user_id < 20. */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(wu))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(wu))
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"))
      .orderBy(col("user_id"), col("valid_from"))
  }

  /** 3-sigma anomaly counts per event type WITHOUT floating-point variance:
    * the z-score test |x−μ| > 3σ is algebraically rearranged to the integer
    * inequality (n·x − S)² > 9·(n·Q − S²) over deci-unit values (x scaled
    * ×10 and floored — one IEEE mult + floor, identical in both engines),
    * where S = Σx and Q = Σx². Every quantity is an exact BIGINT — no
    * engine-order-dependent double summation anywhere, which is what makes
    * a distributed anomaly count reproducible run-to-run. Headroom: values
    * ≤ 500 and n ≤ 2·10⁶ per key keep 9·n·Q under 2⁶³ with margin; a 100 TB
    * run lifts the sums to DECIMAL(38,0) — same plan shape. Two passes:
    * per-type moment aggregate (5 rows, broadcast back), then one scan with
    * the inequality as a codegen'd predicate. */
  def aggZscoreOutliers(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") * lit(10.0)).cast(LongType).as("vi"))
    val st = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vi")).as("sv"),
        sum(col("vi") * col("vi")).as("sv2"))
    e.join(broadcast(st), "event_type")
      .withColumn("dev", col("n") * col("vi") - col("sv"))
      .withColumn("outlier", col("dev") * col("dev") >
        lit(9L) * (col("n") * col("sv2") - col("sv") * col("sv")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("outlier"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_retention" -> (eventsRetention _),
    "scd2_history" -> (scd2History _),
    "agg_zscore_outliers" -> (aggZscoreOutliers _),
    "stream_late_drop" -> (streamLateDrop _),
    "stream_kv_pipeline" -> (streamKvPipeline _),
    "stream_watermark_true" -> (streamWatermarkTrue _),
    "stream_join" -> (streamJoin _),
    "stream_dedup" -> (streamDedup _),
    "stream_state_counts" -> (streamStateCounts _),
    "stream_rate_limit" -> (streamRateLimit _),
    "events_funnel" -> (eventsFunnel _),
    "agg_unpivot" -> (aggUnpivot _),
    "stream_tumbling" -> (tumbling _),
    "stream_sliding" -> (sliding _),
    "stream_session" -> (session _),
    "agg_salted" -> (aggSalted _),
    "agg_pivot" -> (aggPivot _))

  /** B43/B44 judged via a TRUE STREAMING execution, source to sink through
    * the kv connector: the events fixture is published as three explicit
    * batch-written epochs (executor-side jobs — no driver collect), the
    * stream reads them back through the connector's own MicroBatchStream
    * one epoch per trigger, each micro-batch flows through a
    * filter/projection and the connector's STREAMING_WRITE (per-epoch
    * idempotent manifest publish), and the judged result is the final
    * table read back through the connector. Arrival order cannot affect it
    * (no event-time state — exactly-once delivery is the judged property),
    * so the oracle is the same transform+aggregate over the full fixture:
    * any duplicated, dropped, or partially-committed batch
    * hash-mismatches. At 100× the feed scales with the cluster, not the
    * driver: each epoch is an ordinary distributed write. */
  def streamKvPipeline(s: SparkSession, d: String): DataFrame = {
    // one scratch root per JVM, wiped at entry: repeated bench/verify
    // invocations must not leak a data+checkpoint directory per run, and
    // must not append epochs onto the previous invocation's manifest
    // (callers of the PREVIOUS returned frame have already materialized)
    val root = streamRoot("kv")
    deleteTree(root.toFile)
    java.nio.file.Files.createDirectories(root)
    val feed = root.resolve("feed").toString
    val dir = root.resolve("out").toString
    val cols = Seq(col("event_id"), col("user_id"), col("event_type"),
      col("value"))
    writeFeedEpoch(s, d, feed, 0, cols)
    val q = s.readStream.format("graft.sources.GraftKvSink")
      .option("path", feed).load()
      .filter(col("event_type") =!= "error")
      .writeStream.format("graft.sources.GraftKvSink")
      .option("path", dir)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      writeFeedEpoch(s, d, feed, 1, cols); q.processAllAvailable()
      writeFeedEpoch(s, d, feed, 2, cols); q.processAllAvailable()
    } finally q.stop()
    s.read.format("graft.sources.GraftKvSink").option("path", dir).load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("user_id")).as("user_sum"),
        sumS(col("value")).as("value_sum"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  /** B43 judged via a TRUE STREAMING execution with REAL WATERMARK
    * semantics: the fixture replays as three micro-batches (chunk =
    * event_id % 3), a 1-day windowed aggregate runs under
    * `withWatermark(ts, 1 hour)` in APPEND mode, and the judged result is
    * exactly what the memory sink emitted. Every watermark behavior is
    * deterministic given the fixed chunking and is replayed by the oracle:
    * the watermark before batch k is max(ts over chunks < k) − 1 h (it
    * only advances at batch boundaries), a row is dropped iff its window
    * END is ≤ that watermark, late rows still advance the watermark, and
    * append mode emits ONLY windows whose end ≤ the final watermark
    * (trailing open windows never surface). This is the one semantics the
    * batch twins could not gate — actual micro-batch watermark
    * progression — now hash-matched cross-engine. */
  def streamWatermarkTrue(s: SparkSession, d: String): DataFrame = {
    // fixture feed: three explicit kv epochs (chunk = event_id % 3, the
    // rule the oracle replays), written executor-side; ts travels as
    // epoch-micros LONG (the connector's type surface) and is decoded
    // below — lossless under the session's pinned UTC
    val root = streamRoot("wm")
    deleteTree(root.toFile)
    java.nio.file.Files.createDirectories(root)
    val feed = root.resolve("feed").toString
    val cols = Seq(col("event_id"),
      unix_micros(col("ts").cast("timestamp")).as("ts_us"),
      col("event_type"), col("value"))
    writeFeedEpoch(s, d, feed, 0, cols)
    val out = root.resolve("out").toString
    // The stateful operator allocates one state store per shuffle
    // partition PER MICRO-BATCH; at ~150 live (window × type) keys, 4
    // partitions carry the state with far less store churn than the
    // session's 32. Pinned at stream START (state partitioning is fixed
    // by the first batch) and restored after the stream stops.
    // watermarks require TIMESTAMP; the session is pinned UTC, so the
    // NTZ→TZ cast is lossless and window boundaries stay at UTC midnight.
    // The output start is cast back to NTZ — the judged timestamp dtype
    // every other event query uses.
    withConfs(s, "spark.sql.shuffle.partitions" -> "4") {
      val q = s.readStream.format("graft.sources.GraftKvSink")
        .option("path", feed).load()
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(dec(col("value"))).cast(DoubleType).as("val_sum"))
        .writeStream.outputMode("append")
        .foreachBatch(sinkBatches(out))
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .start()
      try {
        q.processAllAvailable()
        writeFeedEpoch(s, d, feed, 1, cols); q.processAllAvailable()
        writeFeedEpoch(s, d, feed, 2, cols); q.processAllAvailable()
      } finally q.stop()
    }
    readSunk(s, out)
      .select(col("window.start").cast(TimestampNTZType).as("w_day"),
        col("event_type"), col("cnt"), col("val_sum"))
      .orderBy(col("w_day"), col("event_type"))
  }

  /** Stream-stream JOIN judged via a TRUE STREAMING execution: the events
    * fixture replays as TWO kv epochs (event_id % 3 ∈ {0, 1} — one batch
    * boundary already proves the cross-batch properties; the oracle
    * mirrors the exclusion), and purchases join clicks by user
    * within a 1-hour event-time interval — Spark's symmetric hash join
    * buffering BOTH sides in state across micro-batches, each matched pair
    * emitted exactly once regardless of which batch completed it (a pair
    * whose click arrived two batches before its purchase must still
    * surface, and never twice). The watermark delay (40 days) exceeds the
    * fixture's 30-day span, so no state is evicted mid-replay and the
    * emitted set equals the static interval join — which is exactly what
    * the oracle computes; cross-batch completeness and exactly-once are
    * the judged properties. (Eviction under a tight 1-hour delay — the
    * 100-TB state-bounding configuration — is pinned by the
    * purchaseClickJoin suite test; the interval condition is what keeps
    * join state finite at scale.) */
  def streamJoin(s: SparkSession, d: String): DataFrame = {
    val root = streamRoot("join")
    deleteTree(root.toFile)
    java.nio.file.Files.createDirectories(root)
    val feed = root.resolve("feed").toString
    val cols = Seq(col("event_id"),
      unix_micros(col("ts").cast("timestamp")).as("ts_us"),
      col("user_id"), col("event_type"))
    // the judged properties (cross-batch completeness, exactly-once) are
    // per-user and per-batch-boundary, not volume-bound: half the users
    // exercise every mechanism at half the state/shuffle cost — the same
    // fixture-slice discipline the dedup family uses
    def feedEpoch(k: Int): Unit = writeFeedEpochWhere(s, d, feed, k, cols,
      col("event_id") % 3 === k && col("user_id") % 2 === 0)
    feedEpoch(0)
    val out = root.resolve("out").toString
    // Per-batch cost here is fixed, not data volume: each batch writes an
    // offset-log and a commit-log entry, and a delta and a .crc file per
    // state store (partitions × 4 join stores). Hadoop without libhadoop
    // forks `chmod` and `readlink` around every such file; through graft's
    // local filesystem (sources.LocalFs) a batch's state commit takes
    // 63–97 ms instead of 608–1078 ms (sf0.01, 4 cores). 2 partitions keep
    // the store count low; at real volume size this to the state actually
    // held per partition, as everywhere else. No empty batches: under the
    // 40-day watermark no state expires and an empty batch emits nothing,
    // yet it would re-commit every store.
    withConfs(s, "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val src = s.readStream.format("graft.sources.GraftKvSink")
        .option("path", feed).load()
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("c_id"))
        .withWatermark("c_ts", "40 days")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
        .withWatermark("p_ts", "40 days")
      val q = purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") <= col("p_ts") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
        .writeStream.outputMode("append")
        .foreachBatch(sinkBatches(out))
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .start()
      try {
        // TWO epochs: the judged properties are cross-BATCH-BOUNDARY
        // completeness + exactly-once, and one boundary between two
        // batches exercises them fully — the r19 third epoch bought a
        // third of the state-store commits for no extra mechanism
        // (event_id % 3 == 2 rows are excluded on both sides)
        q.processAllAvailable()
        feedEpoch(1); q.processAllAvailable()
      } finally q.stop()
    }
    readSunk(s, out)
      .agg(count(lit(1)).as("pairs"),
        sum(col("p_id")).as("p_id_sum"),
        sum(col("c_id")).as("c_id_sum"),
        countDistinct(col("p_user")).as("users"),
        max(unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
          .as("max_lag_us"),
        min(unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
          .as("min_lag_us"))
  }

  /** B44 judged via a TRUE STREAMING execution of ARBITRARY STATE
    * (transformWithState): the kv feed replays as three epochs, and a
    * custom StatefulProcessor keeps per-user running (count, id-sum)
    * totals in a RocksDB-backed ValueState, emitting the cumulative row
    * for every user present in a batch. The emitted SET is therefore one
    * row per (user, epoch-with-activity) carrying the cross-batch
    * cumulative totals — only state carried across micro-batches can
    * produce it, and the oracle replays it as a running window over the
    * per-epoch partials. User filter keeps the judged output tight; the
    * state math is integer-only so in-batch iterator order is
    * irrelevant. */
  def streamStateCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = streamRoot("st")
    deleteTree(root.toFile)
    java.nio.file.Files.createDirectories(root)
    val feed = root.resolve("feed").toString
    val cols = Seq(col("event_id"), col("user_id"))
    writeFeedEpoch(s, d, feed, 0, cols)
    val out = root.resolve("out").toString
    // results are key-hashed cumulative totals — partition count cannot
    // change the emitted set, only the per-batch store-commit overhead
    withConfs(s, "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val q = s.readStream.format("graft.sources.GraftKvSink")
        .option("path", feed).load()
        .filter(col("user_id") % 23 === 0)
        .select(col("user_id"), col("event_id")).as[StateIn]
        .groupByKey(_.user_id)
        .transformWithState(new CountProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF()
        .writeStream.outputMode("append")
        .foreachBatch(sinkBatches(out))
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .start()
      try {
        q.processAllAvailable()
        writeFeedEpoch(s, d, feed, 1, cols); q.processAllAvailable()
        writeFeedEpoch(s, d, feed, 2, cols); q.processAllAvailable()
      } finally q.stop()
    }
    readSunk(s, out).select(col("user_id"), col("cnt"), col("idsum"))
      .orderBy(col("user_id"), col("cnt"))
  }

  /** Streaming DEDUPLICATION judged via a TRUE STREAMING execution
    * (`dropDuplicatesWithinWatermark` — the B44 stateful-dedup surface):
    * the feed publishes every fixture row into TWO different epochs
    * (epoch k carries rows with event_id % 3 ∈ {k, (k+2) % 3}), so each
    * duplicate pair straddles a micro-batch boundary and only dedup STATE
    * carried across batches can remove it — a per-batch distinct would
    * pass every row twice and hash-mismatch. First-occurrence rows emit
    * immediately in append mode; the 40-day delay keeps every key in
    * state across the replay (the production configuration bounds state
    * by the real dedup window instead — same operator, tighter TTL). The
    * oracle aggregates the fixture directly: exactly one survivor per
    * event_id. */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val root = streamRoot("dd")
    deleteTree(root.toFile)
    java.nio.file.Files.createDirectories(root)
    val feed = root.resolve("feed").toString
    val cols = Seq(col("event_id"),
      unix_micros(col("ts").cast("timestamp")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"))
    def chunkPred(k: Int) =
      (col("event_id") % 3 === k) || ((col("event_id") + 1) % 3 === k)
    writeFeedEpochWhere(s, d, feed, 0, cols, chunkPred(0))
    val out = root.resolve("out").toString
    // no empty batches, as in streamJoin: no key expires under the 40-day
    // watermark, so an empty batch would only re-commit the state stores
    withConfs(s, "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      val q = s.readStream.format("graft.sources.GraftKvSink")
        .option("path", feed).load()
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream.outputMode("append")
        .foreachBatch(sinkBatches(out))
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .start()
      try {
        q.processAllAvailable()
        writeFeedEpochWhere(s, d, feed, 1, cols, chunkPred(1))
        q.processAllAvailable()
        writeFeedEpochWhere(s, d, feed, 2, cols, chunkPred(2))
        q.processAllAvailable()
      } finally q.stop()
    }
    readSunk(s, out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("user_id")).as("user_sum"),
        sumS(col("value")).as("value_sum"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  val oracles: Map[String, String] = Map(
    // no eviction during the replay, so the streamed emission must equal
    // the static interval join — completeness + exactly-once in one hash
    "stream_join" ->
      """WITH c AS (SELECT user_id AS c_user, ts AS c_ts, event_id AS c_id
        |           FROM events
        |           WHERE event_type = 'click' AND user_id % 2 = 0
        |             AND event_id % 3 IN (0, 1)),
        |p AS (SELECT user_id AS p_user, ts AS p_ts, event_id AS p_id
        |      FROM events
        |      WHERE event_type = 'purchase' AND user_id % 2 = 0
        |        AND event_id % 3 IN (0, 1))
        |SELECT count(*) AS pairs,
        |  CAST(sum(p_id) AS BIGINT) AS p_id_sum,
        |  CAST(sum(c_id) AS BIGINT) AS c_id_sum,
        |  count(DISTINCT p_user) AS users,
        |  CAST(max(epoch_us(p_ts) - epoch_us(c_ts)) AS BIGINT) AS max_lag_us,
        |  CAST(min(epoch_us(p_ts) - epoch_us(c_ts)) AS BIGINT) AS min_lag_us
        |FROM p JOIN c ON p_user = c_user
        |  AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 1 HOUR""".stripMargin,
    // the emitted set = one row per (user, epoch-with-activity) carrying
    // CROSS-BATCH cumulative totals: a running window over per-epoch
    // partials (epoch = event_id % 3, the feed's chunking rule)
    "stream_state_counts" ->
      """WITH e AS (SELECT user_id, event_id, event_id % 3 AS ep
        |           FROM events WHERE user_id % 23 = 0),
        |cum AS (SELECT user_id, ep, count(*) AS c,
        |          CAST(sum(event_id) AS BIGINT) AS s
        |        FROM e GROUP BY user_id, ep)
        |SELECT user_id,
        |  CAST(sum(c) OVER (PARTITION BY user_id ORDER BY ep) AS BIGINT) AS cnt,
        |  CAST(sum(s) OVER (PARTITION BY user_id ORDER BY ep) AS BIGINT) AS idsum
        |FROM cum
        |ORDER BY user_id, cnt""".stripMargin,
    // every fixture row was fed twice across different epochs; state-based
    // dedup must emit each event exactly once = the fixture itself
    "stream_dedup" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // micro-batch watermark progression replayed relationally: per-chunk
    // pre-batch watermark, end<=wm drop rule, final-watermark emission
    "stream_watermark_true" ->
      """WITH e AS (SELECT event_id, ts, event_type, value,
        |             event_id % 3 AS chunk FROM events),
        |cm AS (SELECT chunk, max(ts) AS cmax FROM e GROUP BY chunk),
        |wmt AS (SELECT chunk, max(cmax) OVER (ORDER BY chunk
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          - INTERVAL 1 HOUR AS wm_before FROM cm),
        |kept AS (SELECT e.* FROM e JOIN wmt USING (chunk)
        |  WHERE wmt.wm_before IS NULL
        |     OR CAST(date_trunc('day', e.ts) AS TIMESTAMP) + INTERVAL 1 DAY
        |        > wmt.wm_before),
        |fw AS (SELECT max(ts) - INTERVAL 1 HOUR AS final_wm FROM e)
        |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_day, event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val_sum
        |FROM kept, fw
        |WHERE CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY
        |      <= fw.final_wm
        |GROUP BY 1, 2 ORDER BY w_day, event_type""".stripMargin,
    "stream_kv_pipeline" ->
      """SELECT event_type, count(*) AS cnt,
        | CAST(sum(user_id) AS BIGINT) AS user_sum,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        | min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events WHERE event_type <> 'error'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_zscore_outliers" ->
      """WITH e AS (SELECT event_type,
        |             CAST(floor(value * 10.0) AS BIGINT) AS vi FROM events),
        |st AS (SELECT event_type, count(*) AS n, CAST(sum(vi) AS BIGINT) AS sv,
        |         CAST(sum(vi * vi) AS BIGINT) AS sv2
        |       FROM e GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN (n * vi - sv) * (n * vi - sv)
        |                     > 9 * (n * sv2 - sv * sv)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM e JOIN st USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "scd2_history" ->
      """WITH c AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (SELECT * FROM c WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |FROM ch WHERE user_id < 20
        |ORDER BY user_id, valid_from""".stripMargin,
    "stream_late_drop" ->
      """WITH j AS (
        |  SELECT event_id, ts, event_type, value,
        |    ts + (CAST('0x' || substring(md5('j:' || CAST(event_id AS VARCHAR)), 1, 4)
        |          AS BIGINT) % 31) * INTERVAL '1 minute' AS arr
        |  FROM events),
        |o AS (SELECT *, max(ts) OVER (ORDER BY arr, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_src
        |      FROM j),
        |f AS (SELECT *, (wm_src IS NOT NULL
        |                 AND ts < wm_src - INTERVAL '10 minutes') AS late
        |      FROM o)
        |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_day, event_type,
        |  CAST(sum(CASE WHEN late THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(sum(CASE WHEN late THEN NULL
        |           ELSE CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS val_sum_kept
        |FROM f GROUP BY 1, 2 ORDER BY w_day, event_type""".stripMargin,
    "stream_rate_limit" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT event_type,
        |  CAST(sum(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
        |  CAST(sum(CASE WHEN rn <= 3 THEN 0 ELSE 1 END) AS BIGINT) AS n_throttled,
        |  CAST(sum(CASE WHEN rn <= 3 THEN CAST(value AS DECIMAL(18,6)) END)
        |       AS DOUBLE) AS val_sum_admitted
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_retention" ->
      """WITH act AS (SELECT DISTINCT user_id,
        |               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |             FROM events),
        |coh AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id),
        |g AS (SELECT cohort_day,
        |        CAST(date_diff('day', CAST(cohort_day AS DATE), CAST(day AS DATE)) AS BIGINT) AS day_offset,
        |        count(*) AS n_users
        |      FROM act a JOIN coh c ON a.user_id = c.user_id
        |      GROUP BY 1, 2)
        |SELECT cohort_day, day_offset, n_users,
        |  CAST(n_users AS DOUBLE)
        |    / CAST(first_value(n_users) OVER (PARTITION BY cohort_day ORDER BY day_offset) AS DOUBLE) AS retention
        |FROM g ORDER BY cohort_day, day_offset""".stripMargin,
    "events_funnel" ->
      """WITH s AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purch
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_view,
        |  CAST(sum(CASE WHEN t_click > t_view AND t_purch > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel,
        |  CAST(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS conv_view_click,
        |  CAST(sum(CASE WHEN t_click > t_view AND t_purch > t_click THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS DOUBLE) AS conv_click_purch
        |FROM s""".stripMargin,
    "agg_unpivot" ->
      """WITH days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |              FROM events),
        |tys AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
        |c AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |        count(*) AS cnt
        |      FROM events GROUP BY 1, 2)
        |SELECT d.day AS day, t.event_type AS event_type, coalesce(c.cnt, 0) AS cnt
        |FROM days d CROSS JOIN tys t
        |LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
        |ORDER BY d.day, t.event_type""".stripMargin,
    "agg_pivot" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        | count(*) FILTER (event_type = 'click') AS click,
        | count(*) FILTER (event_type = 'error') AS error,
        | count(*) FILTER (event_type = 'purchase') AS purchase,
        | count(*) FILTER (event_type = 'signup') AS signup,
        | count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY day ORDER BY day""".stripMargin,
    "agg_salted" ->
      """SELECT event_type, count(*) AS cnt,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_tumbling" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_day, event_type,
        | count(*) AS cnt,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val_sum,
        | count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY w_day, event_type""".stripMargin,
    "stream_sliding" ->
      """SELECT w_start, count(*) AS cnt,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val_sum
        |FROM (SELECT time_bucket(INTERVAL '30 minutes', ts)
        |        - i * (INTERVAL '30 minutes') AS w_start, value
        |      FROM events CROSS JOIN (VALUES (0), (1)) AS offs(i))
        |GROUP BY w_start ORDER BY w_start""".stripMargin,
    "stream_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL '30 minutes' AS session_end,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val_sum
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)
}
