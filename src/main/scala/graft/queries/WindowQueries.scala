package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.QuerySpec.sql
import graft.model.Tables

/** W1 — window functions (SURVEY.md §2.6; ABSENT in the reference).
  *
  * Scale design: every window here partitions on a key (user_id/custkey/
  * priority), so the work is one hash shuffle on the partition key followed
  * by a per-partition sort — no global sort, no driver involvement. Skewed
  * partition keys are AQE's problem (skew-join splitting does not apply to
  * windows, but per-key cardinality in this corpus is bounded: orders per
  * customer, events per user).
  *
  * Determinism: window ORDER BY uses unique tie-break columns (event_id /
  * o_orderkey) so ROW_NUMBER/LAG agree bit-for-bit with the oracle. Event
  * windows order by event_id, not ts: Spark truncates the parquet NANOS
  * timestamps to micros (Tables.events) while DuckDB keeps nanos, so a
  * ts-ordered window could legitimately disagree on sub-microsecond ties.
  *
  * Oracle order: the w2–w8/w10 outputs are TABLE-sized (every order /
  * every event), so their total ORDER BY — needed only for the oracle's
  * row-ordered compare — is declared with `oracleOrder` and applied by
  * `run` alone; `production` writes the window output unsorted.
  * Group-sized outputs (w1/w9/w11) keep the sort in the body — it costs
  * nothing there.
  */
object WindowQueries {

  val all: Seq[QuerySpec] = Seq(

    sql("w1_topk_per_group",
      "W1: top-3 orders per customer via ROW_NUMBER (per-group top-k, the similarity-search substrate)",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 3
        | ORDER BY o_custkey, rn""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(w).cast("long").as("rn"))
          .filter(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      }
    },

    sql("w2_lag_lead",
      "W1: LAG/LEAD analytic functions over per-user event sequences",
      """SELECT user_id, event_id, value,
        | LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
        | LEAD(value) OVER (PARTITION BY user_id ORDER BY event_id) AS next_value
        | FROM events WHERE user_id IS NOT NULL
        | ORDER BY user_id, event_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        val w = Window.partitionBy("user_id").orderBy("event_id")
        Tables.events(s, d)
          .filter(col("user_id").isNotNull)
          .select(col("user_id"), col("event_id"), col("value"),
            lag("value", 1).over(w).as("prev_value"),
            lead("value", 1).over(w).as("next_value"))
    }.oracleOrder("user_id", "event_id"),

    sql("w3_sliding_avg",
      "W1: sliding frame aggregate (3-row moving average) per user",
      """SELECT user_id, event_id,
        | ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg
        | FROM events WHERE user_id IS NOT NULL
        | ORDER BY user_id, event_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(-2, Window.currentRow)
        Tables.events(s, d)
          .filter(col("user_id").isNotNull)
          .select(col("user_id"), col("event_id"),
            round(avg("value").over(w), 4).as("moving_avg"))
    }.oracleOrder("user_id", "event_id"),

    sql("w4_rank_dense",
      "W1: RANK and DENSE_RANK with value ties, partitioned by order priority",
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        | RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS price_rank,
        | DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS price_dense_rank
        | FROM orders
        | ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc)
        Tables.orders(s, d)
          .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
            rank().over(w).cast("long").as("price_rank"),
            dense_rank().over(w).cast("long").as("price_dense_rank"))
    }.oracleOrder(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey")),

    sql("w7_ntile_firstlast",
      "W1: NTILE quartiles + FIRST_VALUE/LAST_VALUE frame endpoints per priority",
      """SELECT o_orderpriority, o_orderkey,
        | CAST(NTILE(4) OVER (PARTITION BY o_orderpriority
        |   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS price_quartile,
        | FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority
        |   ORDER BY o_totalprice DESC, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS top_order,
        | LAST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority
        |   ORDER BY o_totalprice DESC, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS bottom_order
        | FROM orders ORDER BY o_orderpriority, o_orderkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        val ord = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, d)
          .select(col("o_orderpriority"), col("o_orderkey"),
            ntile(4).over(ord).cast("long").as("price_quartile"),
            first("o_orderkey").over(full).as("top_order"),
            last("o_orderkey").over(full).as("bottom_order"))
    }.oracleOrder("o_orderpriority", "o_orderkey"),

    sql("w6_range_frame",
      "W1: RANGE frame — events per user in the trailing hour (time-valued frame, not row-counted)",
      """SELECT user_id, event_id,
        | COUNT(*) OVER (PARTITION BY user_id
        |   ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour
        | FROM events WHERE user_id IS NOT NULL
        | ORDER BY user_id, event_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // RANGE frames bound by VALUE distance: epoch-second ordering makes
        // the frame a true trailing time window (peers with equal seconds
        // are always included together, so micros-vs-nanos storage cannot
        // flip membership)
        val w = Window.partitionBy("user_id")
          .orderBy(unix_timestamp(date_trunc("second", col("ts"))))
          .rangeBetween(-3600, Window.currentRow)
        Tables.events(s, d)
          .filter(col("user_id").isNotNull)
          .select(col("user_id"), col("event_id"),
            count(lit(1)).over(w).as("n_last_hour"))
    }.oracleOrder("user_id", "event_id"),

    sql("w8_pct_rank_cume",
      "W1: percent_rank + cume_dist per order priority (relative standing — both rank-derived, tie-stable)",
      """SELECT o_orderpriority, o_orderkey,
        | ROUND(PERCENT_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice), 6) AS pct_rank,
        | ROUND(CUME_DIST() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice), 6) AS cume
        | FROM orders ORDER BY o_orderpriority, o_orderkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // both functions depend only on the RANK of the order-by value,
        // so price ties produce identical output in any engine — no
        // tie-break column needed (unlike row_number-based queries)
        val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
        Tables.orders(s, d)
          .select(col("o_orderpriority"), col("o_orderkey"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
    }.oracleOrder("o_orderpriority", "o_orderkey"),

    sql("w5_running_sum",
      "W1: cumulative (unbounded-preceding) sum per customer, exact DECIMAL accumulation",
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        | FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
              .cast("double").as("running_total"))
    }.oracleOrder("o_custkey", "o_orderkey"),

    sql("w10_time_range_window",
      "W10: TIME-interval RANGE frame — per-user trailing-1-hour event count and exact-decimal value sum at every event (the velocity / rate-limit feature); RANGE peers at one instant share the frame in both engines, so second-truncated ties stay deterministic. One user-keyed window, no self-join against a time grid",
      """SELECT event_id, user_id,
        | CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
        | FROM (SELECT event_id, user_id, date_trunc('second', ts) AS ts, value
        |       FROM events WHERE user_id IS NOT NULL)
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        | ORDER BY event_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.events(s, d).filter(col("user_id").isNotNull)
          .select(col("event_id"), col("user_id"),
            date_trunc("second", col("ts")).as("ts"), col("value"))
          .selectExpr("event_id", "user_id",
            """CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
              | RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT) AS n_1h""".stripMargin.replace("\n", ""),
            """CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY ts
              | RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_1h""".stripMargin.replace("\n", ""))
    }.oracleOrder("event_id"),

    sql("w9_activity_streaks",
      "W9: gaps-and-islands — per-user consecutive-day activity streaks via the day-minus-row_number grouping trick (all integer day arithmetic, engine-exact); the retention/engagement-streak primitive. Work = one user-keyed window over the DISTINCT (user, day) sliver, never the event stream",
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |           WHERE user_id IS NOT NULL),
        |r AS (SELECT user_id, day,
        |  date_diff('day', DATE '1992-01-01', day)
        |    - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM d),
        |i AS (SELECT user_id, grp, COUNT(*) AS len FROM r GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |  CAST(MAX(len) AS BIGINT) AS longest_streak
        | FROM i GROUP BY 1 ORDER BY user_id""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val days = Tables.events(s, d).filter(col("user_id").isNotNull)
          .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        // consecutive days share (day_number − row_number): the island id
        val islands = days
          .withColumn("grp",
            datediff(col("day"), lit("1992-01-01").cast("date")).cast("long")
              - row_number().over(w))
          .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
        islands.groupBy("user_id")
          .agg(sum(col("len")).cast("long").as("n_active_days"),
            count(lit(1)).as("n_streaks"),
            max(col("len")).as("longest_streak"))
          .orderBy("user_id")
      }
    },

    sql("w11_rolling_median",
      "W11: rolling MEDIAN of daily revenue (trailing 7 rows) — the outlier-robust smoother a mean-based trend line can't give you (one bad ingest day drags a mean for a week, a median shrugs). Spark has no percentile window, so the frame's values ride a collect_list → array_sort and the median is indexed out — frame size is a CONSTANT 7, so the per-row array is O(1) and the whole thing stays one window pass over the day sliver; both engines index the same sorted list and average the two middles with one identical IEEE divide, so exact-decimal revenue doubles hash-match with no rounding",
      """WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
        |  ${DSUM} AS rev FROM lineitem GROUP BY 1),
        |w AS (SELECT day, rev, list_sort(list(rev) OVER
        |    (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr FROM d)
        |SELECT strftime(day, '%Y-%m-%d') AS day_s, rev,
        |  (arr[(len(arr) + 1) // 2] + arr[len(arr) // 2 + 1]) / 2.0 AS med7
        | FROM w ORDER BY day_s"""
        .stripMargin.replace("\n", "")
        .replace("${DSUM}", graft.ops.Det.Sql.dsum("l_extendedprice"))) {
      (s, d) => {
        val W = Window.orderBy("day").rowsBetween(-6, 0)
        val daily = Tables.lineitem(s, d)
          .groupBy(to_date(col("l_shipdate")).as("day"))
          .agg(graft.ops.Det.dsum(col("l_extendedprice")).as("rev"))
        daily
          .withColumn("arr", sort_array(collect_list(col("rev")).over(W)))
          .withColumn("n", size(col("arr")))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day_s"), col("rev"),
            ((element_at(col("arr"), ((col("n") + 1) / 2).cast("int"))
              + element_at(col("arr"), (col("n") / 2 + 1).cast("int"))) / 2.0)
              .as("med7"))
          .orderBy("day_s")
      }
    }
  )
}
