package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.{asMoney, dec2, epochMs}
import graft.streaming.EventPipelines

import graft.operators.Checkpoints.CutOps

/** Batch twins of the streaming pipelines (SURVEY §2.11) — the exact
  * transform objects from [[graft.streaming.EventPipelines]] applied to a
  * batch read of `events`, so the driver's DuckDB gate checks the same
  * code that runs under `readStream` (covered by StreamingSpec).
  */
object StreamingQueries extends QueryCatalog {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Resumable incremental batch (VERDICT r2 "Next round" #5) — the
    // batch twin of the reference's tri-state `qrt_found` resume pattern
    // (`etl_lalf_road_qrt_spatial_match.py:96-112`, etl-notes.md:229-236):
    // every run anti-joins the input against a persisted processed-keys
    // ledger and handles only the residue, so a crash-and-rerun never
    // reprocesses and a no-new-data rerun processes ZERO rows. Three runs
    // are encoded in one result row: the initial backfill (pre-cutoff),
    // the resume (the rest), and the idempotent third pass (must be 0).
    // localCheckpoint pins each run's result BEFORE the ledger append
    // that follows it — with lazy evaluation the later ledger state would
    // otherwise leak back into the earlier anti-join.
    "q_incremental_resume" -> ((s, dir) => {
      val ledger = tmp(s, "processed_ledger")
      val ev = Tables.events(s, dir).select(col("event_id"), col("ts"))
      val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")

      // Run 1: initial incremental load — everything before the cutoff.
      val run1 = ev.filter(col("ts") < cutoff).cutLineage()
      run1.select(col("event_id")).write.mode("overwrite").parquet(ledger)

      // Run 2: resume — anti-join the FULL input against the ledger;
      // only the post-cutoff residue survives. Ledger keys broadcast-free:
      // both sides hash on event_id (at 100 TB the ledger is fact-sized).
      val run2 = ev.join(s.read.parquet(ledger), Seq("event_id"),
        "left_anti").cutLineage()
      run2.select(col("event_id")).write.mode("append").parquet(ledger)

      // Run 3: nothing new — the anti-join must yield zero rows.
      val run3 = ev.join(s.read.parquet(ledger), Seq("event_id"),
        "left_anti").cutLineage()

      run1.agg(count(lit(1)).as("n_first"))
        .crossJoin(run2.agg(count(lit(1)).as("n_resumed")))
        .crossJoin(run3.agg(count(lit(1)).as("n_second_pass")))
    }),

    // Tumbling 1-day window aggregation (watermark is a no-op in batch).
    "q_stream_window_daily" -> ((s, dir) =>
      EventPipelines.windowedCounts(Tables.events(s, dir))
        .orderBy(col("window_ms"), col("event_type"))),

    // Trending top-2 event types per daily window (batch twin; the
    // streaming form ranks each micro-batch in foreachBatch —
    // StreamingSpec).
    "q_stream_topk" -> ((s, dir) =>
      EventPipelines.topKPerWindow(Tables.events(s, dir), k = 2)
        .orderBy(col("window_ms"), col("rnk"))),

    // Hopping 2-day/1-day windows: every event lands in exactly two
    // overlapping windows (batch twin; same plan streams with the
    // watermark bounding state).
    "q_stream_window_sliding" -> ((s, dir) =>
      EventPipelines.slidingCounts(Tables.events(s, dir))
        .orderBy(col("window_ms"), col("event_type"))),

    // Dedup twin: replayed (self-unioned) events collapse back to the
    // original set — the idempotent-reprocessing guarantee.
    "q_stream_dedup" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      EventPipelines.dedupBatch(e.unionByName(e))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_ids"))
        .orderBy(col("event_type"))
    }),

    // Session windows (30-minute gap) per user.
    "q_stream_sessions" -> ((s, dir) =>
      EventPipelines.sessions(Tables.events(s, dir))
        .orderBy(col("user_id"), col("session_start_ms"))),

    // Funnel analysis — ordered stage progression per user (first view →
    // first click within 2 h of it → first purchase within 2 h of that),
    // then users per deepest stage. The conversion window is what makes
    // a funnel a funnel (unbounded "ever after" degenerates to set
    // membership). Every step is a user-keyed min-agg or equi-join
    // (map-side combinable, one key family end to end) — the relational
    // form of sequential pattern matching over the event stream.
    "q_stream_funnel" -> ((s, dir) => {
      val window = expr("INTERVAL 2 HOURS")
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") >= col("t_view") &&
          col("ts") <= col("t_view") + window)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") >= col("t_click") &&
          col("ts") <= col("t_click") + window)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .otherwise(1).cast("int").as("stage"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("stage"))
    }),

    // Cohort retention — users grouped by first-seen day, counted per
    // elapsed-week offset. The cohort assignment is one user-keyed
    // min-agg; the (cohort, offset) matrix is a distinct + groupBy over
    // derived keys — no self-join, no window over the full stream.
    "q_stream_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      ev.join(cohort, Seq("user_id"))
        .select(col("user_id"),
          date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
          // explicit floor: Spark's int cast truncates, DuckDB's rounds —
          // floor() agrees everywhere for the non-negative offsets here
          floor(datediff(col("day"), col("cohort_day")) / 7).cast("int")
            .as("week_offset"))
        .distinct()
        .groupBy(col("cohort"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort"), col("week_offset"))
    }),

    // Stream-stream interval join, batch twin (the streaming run with two
    // MemoryStreams + watermark state expiry is in StreamingSpec):
    // purchase→view attribution within a 30-minute look-back per user.
    "q_stream_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      EventPipelines.attributeViews(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"))
        .orderBy(col("user_id"), col("purchase_id"), col("view_id"))
    }),

    // LEFT OUTER stream-stream join, batch twin (the watermark-gated
    // null emission is proven live in StreamingSpec): attribution
    // including the MISSES — purchases with no view in the 30-minute
    // lookback keep a row with view_id = -1, the "conversion without a
    // touchpoint" rows an attribution dashboard needs most. Same
    // bounded-state interval-join shape as q_stream_join.
    "q_stream_join_outer" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      EventPipelines.attributeViewsOuter(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"))
        .orderBy(col("user_id"), col("purchase_id"), col("view_id"))
    }),

    // Stream-static enrichment, batch twin (the streaming run with a
    // MemoryStream joining the parquet-backed dimension per micro-batch
    // is in StreamingSpec): events decorated with the customer market
    // segment via a broadcast LEFT join — unknown users surface as
    // UNKNOWN instead of dropping — then the monitor rollup. Stateless
    // on the stream side: no watermark, no state store; the static side
    // re-broadcasts per micro-batch, which is exactly the
    // reference-data-refresh semantics a dashboard enrichment wants.
    "q_stream_enrich" -> ((s, dir) => {
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      EventPipelines.enrichWithDim(Tables.events(s, dir), dim)
        .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN"))
            .as("segment"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          asMoney(sum(dec2(col("value")))).as("sum_value"))
        .orderBy(col("segment"), col("event_type"))
    }),

    // ONLINE anomaly detection, batch twin (streaming run with state
    // carried across time-split micro-batches is in StreamingSpec):
    // each event judged against its PREDECESSORS' running Welford stats
    // only — the live-monitor contrast to q_events_anomaly_zscore's
    // full-corpus statistics. The oracle replays the prefix semantics
    // with expanding window frames.
    "q_stream_anomaly" -> ((s, dir) => {
      EventPipelines.onlineAnomalies(Tables.events(s, dir))
        .orderBy(col("event_type"), col("event_id"))
    }),

    // Watermark late-drop audit — the batch twin of Structured
    // Streaming's `withWatermark` drop accounting: replaying each
    // keyed stream in ARRIVAL order (event_id = ingest sequence), an
    // event is "late" when its event time trails the key's
    // high-watermark (max event time seen so far) by more than the
    // 30-minute allowance — exactly the rows a `withWatermark("ts",
    // "30 minutes")` stateful agg would silently drop. Run over history
    // BEFORE picking the allowance, this query is how you SIZE the
    // watermark ("0.4% loss at 30 min"). The running max is a per-key
    // window — per-key streaming state, never a global sort.
    "q_stream_late_drops" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
          epochMs(col("ts")).as("ms"))
        .withColumn("hwm", max(col("ms")).over(w))
        .withColumn("late",
          col("hwm").isNotNull && col("ms") < col("hwm") - 1800000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
          round(sum(when(col("late"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 6).as("late_rate"))
        .orderBy(col("event_type"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q_incremental_resume" ->
      """SELECT
        |  (SELECT COUNT(*) FROM events
        |     WHERE ts < TIMESTAMP '2024-01-15 00:00:00') AS n_first,
        |  (SELECT COUNT(*) FROM events) -
        |  (SELECT COUNT(*) FROM events
        |     WHERE ts < TIMESTAMP '2024-01-15 00:00:00') AS n_resumed,
        |  CAST(0 AS BIGINT) AS n_second_pass""".stripMargin,
    "q_stream_window_daily" ->
      """SELECT epoch_ms(date_trunc('day', ts)) AS window_ms, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_ms, event_type""".stripMargin,

    "q_stream_window_sliding" ->
      """WITH exp AS (
        |  SELECT epoch_ms(date_trunc('day', ts) - (k * INTERVAL 1 DAY))
        |    AS window_ms, event_type
        |  FROM events, (SELECT unnest([0, 1]) AS k))
        |SELECT window_ms, event_type, COUNT(*) AS n
        |FROM exp GROUP BY 1, 2
        |ORDER BY window_ms, event_type""".stripMargin,

    "q_stream_topk" ->
      """WITH agg AS (
        |  SELECT epoch_ms(date_trunc('day', ts)) AS window_ms, event_type,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT window_ms, event_type, n, row_number() OVER (
        |    PARTITION BY window_ms ORDER BY n DESC, event_type) AS rnk
        |  FROM agg)
        |SELECT window_ms, rnk, event_type, n FROM r WHERE rnk <= 2
        |ORDER BY window_ms, rnk""".stripMargin,

    "q_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT event_id) AS n_ids
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 2 HOUR
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 2 HOUR
        |  GROUP BY e.user_id)
        |SELECT CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
        |  WHEN c.user_id IS NOT NULL THEN 2 ELSE 1 END AS INT) AS stage,
        |  COUNT(*) AS n_users
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |GROUP BY stage ORDER BY stage""".stripMargin,
    "q_stream_retention" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
        |m AS (
        |  SELECT DISTINCT e.user_id,
        |    strftime(cohort_day, '%Y-%m-%d') AS cohort,
        |    CAST(floor(date_diff('day', cohort_day, day) / 7) AS INT)
        |      AS week_offset
        |  FROM e JOIN cohort ON e.user_id = cohort.user_id)
        |SELECT cohort, week_offset, COUNT(*) AS n_users
        |FROM m GROUP BY cohort, week_offset
        |ORDER BY cohort, week_offset""".stripMargin,
    "q_stream_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
        |  epoch_ms(p.ts) AS purchase_ms, epoch_ms(v.ts) AS view_ms
        |FROM events p JOIN events v
        |  ON p.user_id = v.user_id
        | AND p.event_type = 'purchase' AND v.event_type = 'view'
        | AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts
        |ORDER BY p.user_id, purchase_id, view_id""".stripMargin,
    "q_stream_join_outer" ->
      """SELECT p.user_id, p.event_id AS purchase_id,
        |  COALESCE(v.event_id, -1) AS view_id,
        |  epoch_ms(p.ts) AS purchase_ms,
        |  COALESCE(epoch_ms(v.ts), -1) AS view_ms
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        | AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts
        |ORDER BY p.user_id, purchase_id, view_id""".stripMargin,

    // Session reconstruction via the gap rule: a new session starts when
    // the inter-event gap is >= 30 minutes (session_window's end bound is
    // exclusive); end = last event + gap.
    "q_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value, epoch_ms(ts) AS ms,
        |    epoch_us(ts) AS us,
        |    epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS prev_us
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |numbered AS (
        |  SELECT *, SUM(new_session) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ms) AS session_start_ms,
        |  MAX(ms) + 1800000 AS session_end_ms, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM numbered GROUP BY user_id, sid
        |ORDER BY user_id, session_start_ms""".stripMargin,
    "q_stream_enrich" ->
      """SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
        |  e.event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY segment, e.event_type
        |ORDER BY segment, e.event_type""".stripMargin,

    "q_stream_anomaly" ->
      """WITH w AS (
        |  SELECT event_id, event_type, value,
        |    COUNT(*) OVER pre AS cnt,
        |    AVG(value) OVER pre AS m,
        |    var_samp(value) OVER pre AS v
        |  FROM events
        |  WINDOW pre AS (PARTITION BY event_type
        |    ORDER BY epoch_ms(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, event_type, value,
        |  round((value - m) / sqrt(v), 6) AS z
        |FROM w
        |WHERE cnt >= 30 AND v > 0
        |  AND abs(round((value - m) / sqrt(v), 6)) >= 3.0
        |ORDER BY event_type, event_id""".stripMargin,

    "q_stream_late_drops" ->
      """WITH seq AS (
        |  SELECT event_type, event_id, epoch_ms(ts) AS ms,
        |    max(epoch_ms(ts)) OVER (PARTITION BY event_type
        |      ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM events),
        |flagged AS (
        |  SELECT event_type,
        |    (hwm IS NOT NULL AND ms < hwm - 1800000) AS late
        |  FROM seq)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  round(SUM(CASE WHEN late THEN 1 ELSE 0 END)::DOUBLE / COUNT(*),
        |    6) AS late_rate
        |FROM flagged GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
