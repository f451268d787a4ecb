package graft.queries

import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.QuerySpec.sql

/** EP2/EP3 report SQL registered through the oracle gate — the same
  * `spark.sql` strings [[graft.pipeline.Reports]] serves as CSV artifacts
  * (PipelineSpec covers the artifact path; these entries hash-verify the
  * report CONTENT against DuckDB).
  */
object ReportQueries {

  val all: Seq[QuerySpec] = Seq(

    sql("ep2_analysis",
      "EP2: the reference's multi-key GROUP BY report SQL, content-verified",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS total_lines,
        | ROUND(AVG(l_extendedprice), 2) AS avg_price
        | FROM lineitem GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus LIMIT 100""".stripMargin.replace("\n", "")) {
      (s, d) => graft.pipeline.Reports.analysis(s, d)
    },

    sql("ep3_hourly_demand",
      "EP3: hourly-demand time-dimension report (the analytics the reference promises but dropped its datetime columns for)",
      """SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day, COUNT(*) AS n_events,
        | ROUND(AVG(value), 2) AS avg_value
        | FROM events WHERE user_id IS NOT NULL
        | GROUP BY hour(ts) ORDER BY hour_of_day""".stripMargin.replace("\n", "")) {
      (s, d) => graft.pipeline.Reports.hourlyDemand(s, d)
    },

    sql("ep4_funnel",
      "EP4: ordered-funnel conversion — users whose earliest view precedes a later click precedes a later purchase (the MATCH_RECOGNIZE-shaped query composed from per-stage min-ts contractions; reach tables are user-dim sized, never event-scale self-joins)",
      """WITH v AS (SELECT user_id, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t1 FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage,
        |         CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS users_reached
        |  UNION ALL SELECT 1, 'click', (SELECT COUNT(*) FROM c)
        |  UNION ALL SELECT 2, 'purchase', (SELECT COUNT(*) FROM p))
        | ORDER BY stage_idx""".stripMargin.replace("\n", "")) {
      (s, d) =>
        graft.ops.Funnel.funnelCounts(graft.model.Tables.events(s, d),
          Seq("view", "click", "purchase"))
          .orderBy("stage_idx")
    },

    sql("ep14_periodicity", {
      "EP14: traffic PERIODICITY signal — cosine similarity between the hourly-count series and its lag-1 / lag-24 shifts (over OBSERVED hours, the ep9 discipline): a lag-24 ratio near the lag-1 ratio says the load is daily-seasonal. Numerator and both norms are EXACT BIGINT sums of count products; doubles only in the final fixed sqrt/division shape (the ep9/a23 bit-portability argument)"
    },
      """WITH h AS (SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |l AS (SELECT cnt, LAG(cnt, 1) OVER (ORDER BY h) AS c1,
        |             LAG(cnt, 24) OVER (ORDER BY h) AS c24 FROM h),
        |r1 AS (SELECT CAST(1 AS INT) AS lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(cnt * c1) AS DOUBLE) /
        |   (sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) * sqrt(CAST(SUM(c1 * c1) AS DOUBLE))) AS r
        |  FROM l WHERE c1 IS NOT NULL),
        |r24 AS (SELECT CAST(24 AS INT) AS lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(cnt * c24) AS DOUBLE) /
        |   (sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) * sqrt(CAST(SUM(c24 * c24) AS DOUBLE))) AS r
        |  FROM l WHERE c24 IS NOT NULL)
        |SELECT * FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r24)
        | ORDER BY lag""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window.orderBy("h")
        val hourly = graft.model.Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("c1", lag(col("cnt"), 1).over(W))
          .withColumn("c24", lag(col("cnt"), 24).over(W))
        def ratio(k: Int, ck: String) = hourly.filter(col(ck).isNotNull)
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("cnt") * col(ck)).as("num"),
            sum(col("cnt") * col("cnt")).as("d1"),
            sum(col(ck) * col(ck)).as("d2"))
          .select(lit(k).as("lag"), col("n_pairs"),
            (col("num").cast("double") /
              (sqrt(col("d1").cast("double")) * sqrt(col("d2").cast("double")))).as("r"))
        ratio(1, "c1").unionByName(ratio(24, "c24")).orderBy("lag")
      }
    },

    sql("ep13_funnel_latency",
      "EP13: funnel CONVERSION-LATENCY distribution — per funnel transition (view→click, click→purchase), the distribution of seconds between a user's qualifying stage timestamps (from the same min-ts contractions as ep4, so ordering semantics stay in one place): count, min/max, exact p50/p90. Latencies are exact integer seconds (truncate-then-diff on both engines); percentiles interpolate like a18. The 'where does the funnel stall' follow-up to ep4's reach counts",
      """WITH v AS (SELECT user_id, MIN(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t1 FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY 1),
        |lat AS (
        |  SELECT 'view_to_click' AS transition, date_diff('second', v.t0, c.t1) AS s
        |   FROM c JOIN v USING (user_id)
        |  UNION ALL
        |  SELECT 'click_to_purchase', date_diff('second', c.t1, p.t2)
        |   FROM p JOIN c USING (user_id))
        |SELECT transition, COUNT(*) AS n_users, CAST(MIN(s) AS BIGINT) AS min_s,
        |  ROUND(quantile_cont(s, 0.5), 4) AS p50_s,
        |  ROUND(quantile_cont(s, 0.9), 4) AS p90_s,
        |  CAST(MAX(s) AS BIGINT) AS max_s
        | FROM lat GROUP BY transition ORDER BY transition""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val times = graft.ops.Funnel.funnelTimes(graft.model.Tables.events(s, d),
          Seq("view", "click", "purchase"))
        def leg(name: String, from: String, to: String) = times
          .filter(col(to).isNotNull)
          .select(lit(name).as("transition"),
            (unix_timestamp(col(to)) - unix_timestamp(col(from))).as("s"))
        leg("view_to_click", "t0", "t1")
          .unionByName(leg("click_to_purchase", "t1", "t2"))
          .groupBy("transition")
          .agg(count(lit(1)).as("n_users"),
            min(col("s")).as("min_s"),
            round(expr("percentile(s, 0.5)"), 4).as("p50_s"),
            round(expr("percentile(s, 0.9)"), 4).as("p90_s"),
            max(col("s")).as("max_s"))
          .orderBy("transition")
      }
    },

    sql("ep5_cohort_retention",
      "EP5: weekly cohort retention — users bucketed by ISO-Monday week of first activity, distinct active users per (cohort, week offset); user-dim intermediates, exact integer week arithmetic",
      """WITH f AS (SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cw
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w FROM events),
        |r AS (SELECT f.cw, CAST((a.w - f.cw) // 7 AS BIGINT) AS week_offset, a.user_id
        |  FROM a JOIN f USING (user_id))
        |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week, week_offset,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        | FROM r GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin.replace("\n", "")) {
      (s, d) =>
        graft.ops.Retention.weeklyCohorts(graft.model.Tables.events(s, d))
          .orderBy("cohort_week", "week_offset")
    },

    sql("ep6_event_transitions",
      "EP6: event-transition matrix — counts of consecutive (from → to) event-type steps per user in (ts, event_id) order; the Markov-chain view of user journeys, one user-partitioned window + one hash agg",
      """WITH s AS (SELECT user_id, event_type,
        |  LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
        |  FROM events)
        |SELECT from_type, event_type AS to_type, CAST(COUNT(*) AS BIGINT) AS n
        | FROM s WHERE from_type IS NOT NULL
        | GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin.replace("\n", "")) {
      (s, d) =>
        graft.ops.Funnel.transitions(graft.model.Tables.events(s, d))
          .orderBy("from_type", "to_type")
    },

    sql("ep7_sessionization",
      "EP7: batch sessionization — gap-based session assignment over the event archive (new session when >30 min since the user's previous event), the offline twin of the streaming session_window; exact microsecond arithmetic, one user-keyed window + one hash agg, no per-user event buffering",
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |g AS (SELECT user_id, event_id, t,
        |  CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
        |         OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 1800000000
        |       THEN 1 ELSE 0 END AS brk FROM e),
        |s AS (SELECT user_id, t,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
        | FROM g)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MAX(t) - MIN(t) AS BIGINT) AS duration_us
        | FROM s GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin.replace("\n", "")) {
      (s, d) =>
        graft.ops.Funnel.sessionize(
          graft.model.Tables.events(s, d), gapMicros = 1800L * 1000000L)
    }.oracleOrder("user_id", "session_seq"),

    sql("ep8_resample_locf",
      "EP8: time-series resampling — irregular per-user events land on a regular hourly grid (sequence + explode per user, bounded by the user's own span) with last-observation-carried-forward interpolation over the gaps (last(_, ignoreNulls) running window); the align-sensor-streams-before-joining primitive. Values pass through untouched (no arithmetic), so the oracle matches exactly; user sliver %10 keeps the grid verify-sized",
      """WITH e AS (SELECT user_id, ts, event_id, value FROM events WHERE user_id % 10 = 0),
        |hourly AS (SELECT user_id, date_trunc('hour', ts) AS h, value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM e),
        |obs AS (SELECT user_id, h, value, TRUE AS obs FROM hourly WHERE rn = 1),
        |grid AS (SELECT user_id, unnest(generate_series(min(h2), max(h2), INTERVAL 1 HOUR)) AS h
        |  FROM (SELECT user_id, date_trunc('hour', ts) AS h2 FROM e) GROUP BY user_id),
        |j AS (SELECT g.user_id, g.h, o.value, COALESCE(o.obs, FALSE) AS is_observed
        |  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h)
        |SELECT user_id, strftime(h, '%Y-%m-%d %H') AS hour_s,
        |  LAST_VALUE(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
        |  is_observed
        | FROM j ORDER BY user_id, hour_s""".stripMargin.replace("\n", "")) {
      (s, d) =>
        val W = org.apache.spark.sql.expressions.Window
        val e = graft.model.Tables.events(s, d)
          .filter(col("user_id") % 10 === 0)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .withColumn("h", date_trunc("hour", col("ts")))
        // one observation per (user, hour): the hour's LAST event wins,
        // deterministically under the (ts, event_id) total order
        val wHour = W.partitionBy("user_id", "h")
          .orderBy(col("ts").desc, col("event_id").desc)
        val obs = e.withColumn("rn", row_number().over(wHour))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("h"), col("value"), lit(true).as("obs"))
        // per-user hourly grid over the user's own span — sequence() is
        // per-row compute, so grid size scales with keys × span, never a
        // cross join against a global calendar
        val grid = e.groupBy("user_id")
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("user_id"),
            explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
        val wLocf = W.partitionBy("user_id").orderBy("h")
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        grid.join(obs, Seq("user_id", "h"), "left")
          .select(col("user_id"),
            date_format(col("h"), "yyyy-MM-dd HH").as("hour_s"),
            last(col("value"), ignoreNulls = true).over(wLocf).as("value_locf"),
            coalesce(col("obs"), lit(false)).as("is_observed"))
    }.oracleOrder("user_id", "hour_s"),

    sql("ep9_rolling_anomaly",
      "EP9: rolling z-score anomaly detection — each hour's event count scored against its trailing-24-observed-hours baseline (ROWS 24 PRECEDING..1 PRECEDING, the point under test excluded); z is derived from INTEGER power sums through a fixed IEEE shape ((x − s1/24) / (sqrt(24·s2 − s1²)/24) — every step correctly-rounded, bit-portable), |z| > 3 flags. The bad-ingest/traffic-spike monitor; the global window runs over the HOURLY AGG SLIVER (metadata-scale even at 100 TB of events), never the event stream",
      """WITH h AS (SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |r AS (SELECT h, cnt,
        |  CAST(SUM(cnt) OVER w AS BIGINT) AS s1,
        |  CAST(SUM(cnt*cnt) OVER w AS BIGINT) AS s2,
        |  COUNT(cnt) OVER w AS n
        |  FROM h WINDOW w AS (ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hr, cnt,
        |  CASE WHEN n = 24 AND 24*s2 - s1*s1 > 0
        |   THEN (CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / 24.0)
        |        / (sqrt(CAST(24*s2 - s1*s1 AS DOUBLE)) / 24.0) END AS z,
        |  CASE WHEN n = 24 AND 24*s2 - s1*s1 > 0
        |   THEN ABS((CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / 24.0)
        |        / (sqrt(CAST(24*s2 - s1*s1 AS DOUBLE)) / 24.0)) > 3.0
        |   ELSE FALSE END AS is_anomaly
        | FROM r ORDER BY hr""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val hours = graft.model.Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"))
        val w = W.orderBy("h").rowsBetween(-24, -1)
        // integer power sums over the window; variance numerator
        // 24·s2 − s1² stays exact BIGINT (cnt ≤ ~1e5/hour ⇒ no overflow
        // until ~6e8 events/hour), doubles only in the final fixed shape
        val scored = hours
          .withColumn("s1", sum(col("cnt")).over(w))
          .withColumn("s2", sum(col("cnt") * col("cnt")).over(w))
          .withColumn("n", count(col("cnt")).over(w))
          .withColumn("vnum", lit(24L) * col("s2") - col("s1") * col("s1"))
        val z = (col("cnt").cast("double") - col("s1").cast("double") / lit(24.0)) /
          (sqrt(col("vnum").cast("double")) / lit(24.0))
        scored.select(
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hr"),
          col("cnt"),
          when(col("n") === 24 && col("vnum") > 0, z).as("z"),
          when(col("n") === 24 && col("vnum") > 0, abs(z) > 3.0)
            .otherwise(lit(false)).as("is_anomaly"))
          .orderBy("hr")
      }
    },

    sql("ep11_ewma_smoothing", {
      "EP11: EWMA traffic smoothing — each hour's event count exponentially smoothed over its trailing 16 OBSERVED hours with α = 1/2 (finite-window renormalized form s = Σ wⱼ·xⱼ / Σ wⱼ, wⱼ = 2⁻ʲ). Every term is an integer scaled by a power of two, so numerator and denominator sums are EXACT in double regardless of order and the single final division is correctly rounded — a bit-portable EWMA with no fixed-point gymnastics; window runs over the hourly agg sliver like ep9"
    }, {
      val numSql = (0 until 16).map(j =>
        s"COALESCE(CAST(LAG(cnt, $j) OVER w AS DOUBLE) * ${java.lang.Double.toString(math.pow(0.5, j))}, 0)")
        .mkString(" + ")
      val denSql = (0 until 16).map(j =>
        s"CASE WHEN LAG(cnt, $j) OVER w IS NOT NULL THEN ${java.lang.Double.toString(math.pow(0.5, j))} ELSE 0 END")
        .mkString(" + ")
      s"""WITH h AS (SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1)
         |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hr, cnt,
         |  ($numSql) / ($denSql) AS ewma
         | FROM h WINDOW w AS (ORDER BY h)
         | ORDER BY hr""".stripMargin.replace("\n", "")
    }) {
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window.orderBy("h")
        val hours = graft.model.Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"))
        // α = 1/2 exactly: each term cnt·2⁻ʲ is exact (scaling by a
        // power of two), the 16-term sums stay exact (36 bits needed,
        // 53 available), so engine summation order cannot matter — the
        // whole expression is deterministic to the last bit
        val num = (0 until 16).map(j =>
          coalesce(lag(col("cnt"), j).over(W).cast("double") * lit(math.pow(0.5, j)),
            lit(0.0))).reduce(_ + _)
        val den = (0 until 16).map(j =>
          when(lag(col("cnt"), j).over(W).isNotNull, lit(math.pow(0.5, j)))
            .otherwise(lit(0.0))).reduce(_ + _)
        hours.select(
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hr"),
          col("cnt"), (num / den).as("ewma"))
          .orderBy("hr")
      }
    },

    sql("ep12_user_growth", {
      "EP12: user-growth accounting — per day: distinct active users, NEW users (first-ever activity), cumulative users to date, and returning users. A running COUNT(DISTINCT) window is unsupported/unscalable in any engine; the first-seen contraction makes it trivial: min(day) per user (user-dim sized) → new-user counts → one cumulative sum over the DAY SLIVER. The DAU/growth dashboard primitive"
    },
      """WITH e AS (SELECT user_id, date_trunc('day', ts) AS day
        |  FROM events WHERE user_id IS NOT NULL),
        |act AS (SELECT day, COUNT(DISTINCT user_id) AS active_users FROM e GROUP BY day),
        |fs AS (SELECT user_id, MIN(day) AS fday FROM e GROUP BY user_id),
        |nu AS (SELECT fday AS day, COUNT(*) AS nu FROM fs GROUP BY fday)
        |SELECT strftime(a.day, '%Y-%m-%d') AS day, a.active_users,
        |  CAST(COALESCE(n.nu, 0) AS BIGINT) AS new_users,
        |  CAST(SUM(COALESCE(n.nu, 0)) OVER (ORDER BY a.day) AS BIGINT) AS cum_users,
        |  a.active_users - CAST(COALESCE(n.nu, 0) AS BIGINT) AS returning_users
        | FROM act a LEFT JOIN nu n ON a.day = n.day
        | ORDER BY day""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window.orderBy("day")
        val e = graft.model.Tables.events(s, d)
          .filter(col("user_id").isNotNull)
          .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        val act = e.groupBy("day").agg(countDistinct(col("user_id")).as("active_users"))
        val nu = e.groupBy("user_id").agg(min(col("day")).as("day"))
          .groupBy("day").agg(count(lit(1)).as("nu"))
        act.join(nu, Seq("day"), "left")
          .withColumn("new_users", coalesce(col("nu"), lit(0L)))
          .select(
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("active_users"), col("new_users"),
            sum(col("new_users")).over(W).as("cum_users"),
            (col("active_users") - col("new_users")).as("returning_users"))
          .orderBy("day")
      }
    },

    sql("ep10_attribution",
      "EP10: LAST-CLICK revenue attribution — each purchase's value credits the channel of that user's most recent click at or before it (asofBackward carrying the matched row's PAYLOAD, not just its timestamp); purchases with no prior click land in '(organic)'. Deterministic tie rule (struct-greatest payload among same-instant clicks) mirrored exactly by the oracle's window ordering — a bare ASOF JOIN's tie pick would be partition-order luck",
      s"""WITH p AS (SELECT user_id, event_id, value, date_trunc('second', ts) AS t
         |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         |c AS (SELECT user_id, date_trunc('second', ts) AS t,
         |  'ch' || CAST(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) % 5 AS VARCHAR) AS channel
         |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
         |u AS (SELECT user_id, t, 0 AS side, channel, CAST(NULL AS DOUBLE) AS value FROM c
         |      UNION ALL SELECT user_id, t, 1, NULL, value FROM p),
         |f AS (SELECT user_id, t, side, value,
         |  LAST_VALUE(channel IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY t, side, channel
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS attr FROM u)
         |SELECT COALESCE(attr, '(organic)') AS channel,
         |  COUNT(*) AS n_purchases, ${graft.ops.Det.Sql.dsum("value")} AS revenue
         | FROM f WHERE side = 1 GROUP BY 1 ORDER BY channel""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val ev = graft.model.Tables.events(s, d).filter(col("user_id").isNotNull)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("value"),
            date_trunc("second", col("ts")).as("pts"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("user_id"), date_trunc("second", col("ts")).as("cts"),
            concat(lit("ch"),
              (regexp_extract(col("props"), "([0-9]+)", 1).cast("long") % 5)
                .cast("string")).as("channel"))
        graft.ops.AsOf.asofBackward(p, c, "user_id", "pts", "cts",
          "last_click_ts", payloadCols = Seq("channel"))
          .groupBy(coalesce(col("channel"), lit("(organic)")).as("channel"))
          .agg(count(lit(1)).as("n_purchases"),
            graft.ops.Det.dsum(col("value")).as("revenue"))
          .orderBy("channel")
      }
    },

    sql("ep16_top_paths",
      "EP16: top session-opening paths — the 20 most common first-3-event-type sequences across gap-sessionized sessions (>=3 events), ep7's session assignment reused row-level; the UX-flow / bot-pattern mining primitive. Path strings are built per session from the rank-ordered struct sort (array_sort(collect_list(struct(rn,type)))), the path agg runs on the session sliver, and the top-20 is a TakeOrderedAndProject — no corpus-wide sort",
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
        |g AS (SELECT user_id, event_id, event_type, t,
        |  CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
        |         OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 1800000000
        |       THEN 1 ELSE 0 END AS brk FROM e),
        |s AS (SELECT user_id, event_type, t, event_id,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid
        | FROM g),
        |r AS (SELECT user_id, sid, event_type,
        |  ROW_NUMBER() OVER (PARTITION BY user_id, sid ORDER BY t, event_id) AS rn FROM s),
        |p AS (SELECT user_id, sid, string_agg(event_type, '>' ORDER BY rn) AS path,
        |  COUNT(*) AS n3 FROM r WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        | FROM p WHERE n3 = 3 GROUP BY path
        | ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val sess = graft.ops.Funnel.assignSessions(
          graft.model.Tables.events(s, d), gapMicros = 1800L * 1000000L)
        val w = W.partitionBy("user_id", "session_seq")
          .orderBy(col("__t"), col("event_id"))
        sess.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .groupBy("user_id", "session_seq")
          .agg(count(lit(1)).as("n3"),
            array_join(transform(
              array_sort(collect_list(struct(col("rn"), col("event_type")))),
              x => x("event_type")), ">").as("path"))
          .filter(col("n3") === 3)
          .groupBy("path").agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_sessions").desc, col("path"))
          .limit(20)
      }
    },

    sql("ep15_km_survival",
      "EP15: Kaplan-Meier user-retention curve — per-user lifetime in days (first to last event), right-censored for users still active in the archive's final 7 days; daily survival S(t) as the running product of (1 - d_t/n_t), realized as exp(sum(ln)) on both engines over identical correctly-rounded per-day factors (IEEE div is exact-rounded; ln+round(4) is the t10/t12-proven portable shape). The churn/content-lifetime estimator; all work on the per-user sliver then a day-sliver window",
      """WITH span AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1),
        |mx AS (SELECT max(ts) AS tmax FROM events),
        |life AS (SELECT user_id, date_diff('day', t0, t1) AS days,
        |  CASE WHEN t1 >= tmax - INTERVAL 7 DAY THEN 0 ELSE 1 END AS observed
        |  FROM span, mx),
        |agg AS (SELECT days, CAST(SUM(observed) AS BIGINT) AS d,
        |  CAST(COUNT(*) AS BIGINT) AS ending FROM life GROUP BY 1),
        |r AS (SELECT days, d, ending,
        |  CAST(SUM(ending) OVER (ORDER BY days DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
        |  FROM agg),
        |k AS (SELECT days, d, n_risk,
        |  SUM(CASE WHEN d > 0 AND d < n_risk
        |      THEN ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)) ELSE 0.0 END)
        |    OVER (ORDER BY days ROWS UNBOUNDED PRECEDING) AS lnS,
        |  MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
        |    OVER (ORDER BY days ROWS UNBOUNDED PRECEDING) AS hit0 FROM r)
        |SELECT days, d AS n_events, n_risk,
        |  CASE WHEN hit0 = 1 THEN 0.0 ELSE ROUND(EXP(lnS), 4) END AS survival
        | FROM k ORDER BY days""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val ev = graft.model.Tables.events(s, d).filter(col("user_id").isNotNull)
        val span = ev.groupBy("user_id")
          .agg(min("ts").as("t0"), max("ts").as("t1"))
        val mx = ev.agg(max("ts").as("tmax")) // 1 row — AQE broadcasts
        val life = span.crossJoin(mx).select(
          datediff(to_date(col("t1")), to_date(col("t0"))).cast("long").as("days"),
          when(col("t1") >= col("tmax") - expr("INTERVAL 7 DAY"), 0L)
            .otherwise(1L).as("observed"))
        val agg = life.groupBy("days")
          .agg(sum("observed").as("d"), count(lit(1)).as("ending"))
        // n_risk(t) = users with lifetime >= t: reverse running sum on the
        // day sliver (<= archive-span rows even at 100 TB)
        val wRev = W.orderBy(col("days").desc)
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        val wFwd = W.orderBy(col("days"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        agg.withColumn("n_risk", sum("ending").over(wRev))
          .withColumn("lnS", sum(
            when(col("d") > 0 && col("d") < col("n_risk"),
              log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")))
              .otherwise(lit(0.0))).over(wFwd))
          // d == n_risk ⇒ the curve hits exactly 0 and stays there; kept out
          // of the log-sum (Spark log(0)=null vs DuckDB -inf would diverge)
          .withColumn("hit0", max(
            when(col("d") >= col("n_risk"), 1).otherwise(0)).over(wFwd))
          .select(col("days"), col("d").as("n_events"), col("n_risk"),
            when(col("hit0") === 1, lit(0.0))
              .otherwise(round(exp(col("lnS")), 4)).as("survival"))
          .orderBy("days")
      }
    },

    sql("ep17_cusum_changepoint",
      "EP17: CUSUM changepoint detection on hourly traffic — the sequential drift detector that catches a sustained level shift long before a per-point z-score (ep9) fires. The recursive S_t = max(0, S_{t-1} + dev_t) unrolls to the PREFIX-MIN identity S_t = P_t − min_{j≤t} P_j (P = running devsum), so the whole statistic is two running windows — no iteration, no state. Deviations are scaled by the hour count (cnt·H − total), keeping EVERYTHING exact BIGINT; alarms at 5 mean-hours of accumulated excess (> 5·total, still integer). Runs on the hourly agg sliver",
      """WITH h AS (SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |t AS (SELECT h, cnt, CAST(COUNT(*) OVER () AS BIGINT) AS nh,
        |  CAST(SUM(cnt) OVER () AS BIGINT) AS tot FROM h),
        |p AS (SELECT h, cnt, tot, CAST(SUM(cnt * nh - tot)
        |    OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pf FROM t),
        |s AS (SELECT h, cnt, tot, pf,
        |  CAST(MIN(pf) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pmin,
        |  CAST(MAX(pf) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pmax FROM p)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hr, cnt,
        |  CAST(pf - pmin AS BIGINT) AS s_pos, CAST(pmax - pf AS BIGINT) AS s_neg,
        |  pf - pmin > 5 * tot AS alarm_up, pmax - pf > 5 * tot AS alarm_down
        | FROM s ORDER BY hr""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val wAll = W.partitionBy()
        val wRun = W.orderBy("h").rowsBetween(W.unboundedPreceding, W.currentRow)
        val hours = graft.model.Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"))
        // cnt·H − total ≤ ~1e5·1e4 per hour ⇒ prefix sums bounded by
        // 1e9·H ~ 1e13, far inside BIGINT even at 1000× the fixture
        hours
          .withColumn("nh", count(lit(1)).over(wAll))
          .withColumn("tot", sum("cnt").over(wAll))
          .withColumn("pf", sum(col("cnt") * col("nh") - col("tot")).over(wRun))
          .withColumn("pmin", min("pf").over(wRun))
          .withColumn("pmax", max("pf").over(wRun))
          .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hr"),
            col("cnt"), (col("pf") - col("pmin")).as("s_pos"),
            (col("pmax") - col("pf")).as("s_neg"),
            (col("pf") - col("pmin") > lit(5L) * col("tot")).as("alarm_up"),
            (col("pmax") - col("pf") > lit(5L) * col("tot")).as("alarm_down"))
          .orderBy("hr")
      }
    },

    sql("ep18_stickiness",
      "EP18: product stickiness — per-day DAU, trailing-28-day MAU, and the DAU/MAU ratio in integer ppm, both distinct counts served from the SAME per-day U11 distinct states (u23's composition widened to the 28-day offset explode) — one state build feeds every window length; work ∝ state rows × window, never a 28-day event rescan per day. The engagement-trend line every growth dashboard opens with",
      """WITH e AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        |  FROM events WHERE user_id IS NOT NULL),
        |days AS (SELECT DISTINCT day FROM e),
        |dau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau FROM e GROUP BY 1),
        |mau AS (SELECT d.day, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS mau
        |  FROM days d JOIN e ON e.day BETWEEN d.day - 27 AND d.day GROUP BY d.day)
        |SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau, mau,
        |  CAST(dau * 1000000 // mau AS BIGINT) AS stickiness_ppm
        | FROM dau JOIN mau ON dau.day = mau.day ORDER BY day"""
        .stripMargin.replace("\n", "")) {
      (s, d) => {
        val e = graft.model.Tables.events(s, d)
          .filter(col("user_id").isNotNull)
          .select(date_trunc("day", col("ts")).cast("date").as("day"), col("user_id"))
        val st = graft.ops.Merge.partialDistinctState(e, Seq("day"), "user_id")
        val days = e.select("day").distinct()
        val dau = graft.ops.Merge.finalizeDistinct(st, Seq("day"))
          .select(col("day"), col("distinct_cnt").as("dau"))
        val contrib = st
          .select(col("day"), col("v"), explode(sequence(lit(0), lit(27))).as("off"))
          .select(date_add(col("day"), col("off")).as("day"), col("v"))
        val mau = graft.ops.Merge.finalizeDistinct(
            graft.ops.Merge.mergeDistinctStates(Seq(contrib))
              .join(days, Seq("day"), "left_semi"),
            Seq("day"))
          .select(col("day"), col("distinct_cnt").as("mau"))
        dau.join(mau, "day")
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("dau"), col("mau"),
            expr("dau * 1000000L div mau").as("stickiness_ppm"))
          .orderBy("day")
      }
    }
  )
}
