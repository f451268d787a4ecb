package graft.queries

import org.apache.spark.sql.functions.col
import graft.QuerySpec
import graft.QuerySpec.sql
import graft.model.Tables
import graft.streaming.EventStreams

/** Batch-mode verification of the streaming transforms (SURVEY.md §2.10).
  * The SAME functions run over `readStream` inputs — batch-vs-stream
  * equivalence is pinned in StreamingSpec; here the batch results are
  * hash-matched against DuckDB (time_bucket / gaps-and-islands SQL).
  */
object StreamingQueries {

  val all: Seq[QuerySpec] = Seq(

    sql("st1_tumbling_window",
      "Streaming: tumbling 1h windowed counts + mean value (watermarked; batch = stream; mean in the exact-decimal davg discipline — value is 2dp by fixture contract, so the sum is exact and partition-order-independent)",
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, COUNT(*) AS n_events, ROUND((CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value)), 4) AS avg_value
        | FROM events WHERE user_id IS NOT NULL
        | GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin.replace("\n", "")) {
      (s, d) =>
        EventStreams.tumblingCounts(Tables.events(s, d))
    }.oracleOrder("window_start", "event_type"),

    sql("st2_session_window",
      "Streaming: per-user 5-minute-gap sessionization via session_window (batch = stream)",
      """WITH e AS (SELECT user_id, ts FROM events WHERE user_id IS NOT NULL),
        |x AS (SELECT user_id, ts,
        |  CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 5 MINUTE
        |       THEN 1 ELSE 0 END AS new_s FROM e),
        |y AS (SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x)
        |SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       strftime(MAX(ts) + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |       COUNT(*) AS n_events
        | FROM y GROUP BY user_id, sid
        | ORDER BY user_id, session_start""".stripMargin.replace("\n", "")) {
      (s, d) =>
        EventStreams.userSessions(Tables.events(s, d))
    }.oracleOrder("user_id", "session_start"),

    sql("st5_enriched_segments",
      "Streaming: stream-static enrichment — events ⋈ broadcast customer-segment dim, then 1h windowed counts per segment (batch = stream)",
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        | c_mktsegment AS segment, COUNT(*) AS n_events, ROUND((CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value)), 4) AS avg_value
        | FROM events JOIN customer ON user_id = c_custkey
        | WHERE user_id IS NOT NULL
        | GROUP BY 1, 2 ORDER BY window_start, segment""".stripMargin.replace("\n", "")) {
      (s, d) =>
        EventStreams.enrichedSegmentCounts(
          Tables.events(s, d),
          Tables.customer(s, d)
            .select(org.apache.spark.sql.functions.col("c_custkey").as("user_id"),
              org.apache.spark.sql.functions.col("c_mktsegment").as("segment")))
    }.oracleOrder("window_start", "segment"),

    sql("st4_sliding_window",
      "Streaming: sliding 1h windows hopping every 15min (4 overlapping windows per event; batch = stream)",
      """WITH e AS (SELECT event_type, value, time_bucket(INTERVAL '15 minutes', ts) AS tb
        |           FROM events WHERE user_id IS NOT NULL),
        |w AS (SELECT event_type, value, tb - i * INTERVAL 15 MINUTE AS ws
        |      FROM e, range(0, 4) t(i))
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |       COUNT(*) AS n_events, ROUND((CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value)), 4) AS avg_value
        | FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin.replace("\n", "")) {
      // oracle derivation: a 1h/15min hopping window contains ts iff its
      // start is one of the 4 slide-aligned marks in (ts-1h, ts] — i.e.
      // time_bucket(15min, ts) minus 0..3 slides, exactly
      (s, d) =>
        EventStreams.slidingCounts(Tables.events(s, d))
    }.oracleOrder("window_start", "event_type"),

    sql("st3_stream_join",
      "Streaming: stream-stream click->purchase attribution join (equality key + event-time range, both sides watermarked; batch = stream)",
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        | strftime(date_trunc('second', c.ts), '%Y-%m-%d %H:%M:%S') AS click_ts,
        | strftime(date_trunc('second', p.ts), '%Y-%m-%d %H:%M:%S') AS purchase_ts
        | FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND date_trunc('second', p.ts) >= date_trunc('second', c.ts)
        |  AND date_trunc('second', p.ts) <= date_trunc('second', c.ts) + INTERVAL 60 MINUTE
        | WHERE c.event_type = 'click' AND p.event_type = 'purchase' AND c.user_id IS NOT NULL
        | ORDER BY click_id, purchase_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        EventStreams.clickPurchaseJoin(Tables.events(s, d), Tables.events(s, d))
    }.oracleOrder("click_id", "purchase_id"),

    sql("st6_stream_left_join",
      "Streaming: stream-stream LEFT OUTER click->purchase join — every click appears, unconverted ones null-completed (the abandoned-journeys view an inner join drops); null rows emit once the watermark closes the click's horizon. Batch = stream (StreamingSpec pins the replay with a watermark-advancing sentinel)",
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        | strftime(date_trunc('second', c.ts), '%Y-%m-%d %H:%M:%S') AS click_ts,
        | strftime(date_trunc('second', p.ts), '%Y-%m-%d %H:%M:%S') AS purchase_ts
        | FROM events c LEFT JOIN events p
        |  ON c.user_id = p.user_id AND p.event_type = 'purchase' AND p.user_id IS NOT NULL
        |  AND date_trunc('second', p.ts) >= date_trunc('second', c.ts)
        |  AND date_trunc('second', p.ts) <= date_trunc('second', c.ts) + INTERVAL 60 MINUTE
        | WHERE c.event_type = 'click' AND c.user_id IS NOT NULL
        | ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin.replace("\n", "")) {
      (s, d) =>
        EventStreams.clickPurchaseJoinOuter(Tables.events(s, d), Tables.events(s, d))
    }.oracleOrder(col("click_id"), col("purchase_id").asc_nulls_first),

    sql("st8_stream_full_join",
      "Streaming: stream-stream FULL OUTER click->purchase join — the complete funnel ledger: matched attributions + unconverted clicks (null purchase side) + unattributed organic purchases (null click side, the class both one-sided joins drop). Null-completed rows emit when the opposite watermark closes their horizon. Batch = stream (StreamingSpec replay with dual-sided sentinel)",
      """WITH c AS (SELECT user_id, event_id AS click_id, date_trunc('second', ts) AS cts
        |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
        |p AS (SELECT user_id AS p_user_id, event_id AS purchase_id, date_trunc('second', ts) AS pts
        |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL)
        |SELECT COALESCE(c.user_id, p.p_user_id) AS user_id,
        | c.click_id, p.purchase_id,
        | strftime(c.cts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        | strftime(p.pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
        | FROM c FULL JOIN p
        |  ON c.user_id = p.p_user_id
        |  AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 60 MINUTE
        | ORDER BY user_id, click_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin.replace("\n", "")) {
      (s, d) =>
        EventStreams.clickPurchaseJoinFull(Tables.events(s, d), Tables.events(s, d))
    }.oracleOrder(col("user_id"), col("click_id").asc_nulls_first, col("purchase_id").asc_nulls_first),

    sql("st7_session_attribution",
      "Streaming COMPOSITION: the st6 left-outer click->purchase attribution join feeding the st2 session-window aggregation — per 5-min-gap click session, attributed pairs vs unconverted clicks (the funnel-dashboard serving shape; two chained stateful operators on a stream). Batch = stream (StreamingSpec pins the replay behind the admission guard with a watermark sentinel)",
      """WITH c AS (SELECT user_id, event_id AS click_id, date_trunc('second', ts) AS cts
        |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
        |x AS (SELECT user_id, click_id, cts,
        |  CASE WHEN LAG(cts) OVER (PARTITION BY user_id ORDER BY cts, click_id) IS NULL
        |         OR cts - LAG(cts) OVER (PARTITION BY user_id ORDER BY cts, click_id) >= INTERVAL 5 MINUTE
        |       THEN 1 ELSE 0 END AS new_s FROM c),
        |y AS (SELECT user_id, click_id, cts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY cts, click_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x),
        |p AS (SELECT y.user_id, y.sid, y.cts, e.event_id AS purchase_id
        |  FROM y LEFT JOIN events e ON e.user_id = y.user_id AND e.event_type = 'purchase'
        |    AND date_trunc('second', e.ts) >= y.cts
        |    AND date_trunc('second', e.ts) <= y.cts + INTERVAL 60 MINUTE)
        |SELECT user_id, strftime(MIN(cts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       strftime(MAX(cts) + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |       COUNT(purchase_id) AS n_attributions,
        |       COUNT(CASE WHEN purchase_id IS NULL THEN 1 END) AS n_unconverted_clicks
        | FROM p GROUP BY user_id, sid
        | ORDER BY user_id, session_start""".stripMargin.replace("\n", "")) {
      // oracle derivation: sessionize CLICKS gaps-and-islands style (same
      // >= gap rule as st2's proven oracle — ties share a session), then
      // hang each attribution pair / unconverted click off its click's
      // session and aggregate. session_window over the join output sees
      // the same click-ts set (duplicated click_ts rows don't move
      // session boundaries), so boundaries agree by construction.
      (s, d) =>
        EventStreams.sessionAttribution(Tables.events(s, d), Tables.events(s, d))
    }.oracleOrder("user_id", "session_start"),

    sql("st9_custom_state_tws",
      "Streaming: CUSTOM KEYED STATE via transformWithState — Spark 4's arbitrary-state API (named ValueState handles + TTL + timers, the successor to flatMapGroupsWithState) running per-user running totals. Money as cent-BIGINTs (ROUND before the cast) so the running sum is exact integer arithmetic — order-independent across micro-batch replays and engine-portable. Batch mode processes each key's rows in ONE handleInputRows call, so the emission IS the final aggregate the DuckDB oracle computes; the stream==batch and RocksDB-parity pins live in RocksDbParitySpec alongside the flatMapGroupsWithState twin",
      """SELECT user_id, COUNT(*) AS n_events,
        | CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        | CAST(SUM(CAST(ROUND(COALESCE(value, 0.0) * 100) AS BIGINT)) AS BIGINT) AS total_cents
        | FROM events WHERE user_id IS NOT NULL
        | GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        graft.streaming.StatefulOps.runningUserStatsTws(
          graft.streaming.StatefulOps.asUserEventsCents(Tables.events(s, d)))
          .toDF().orderBy("user_id")
    }
  )
}
