package graft.queries

import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.QuerySpec.sql
import graft.model.Tables
import graft.ops.Det

/** J1 — joins over the star schema (SURVEY.md §2.5).
  *
  * The reference has ZERO joins (its FK lookups are delegated to Postgres
  * views — reference: scripts/create_tables.sql:60-78); the target engine
  * needs them for the driver's TPC-H-shaped corpus (FIXTURES.md §B).
  *
  * Scale design: dimension tables (region, nation, supplier, part) are
  * broadcast explicitly — at 100 TB they stay KB–MB-sized, so every join
  * against them is a map-side hash join with no shuffle of the fact table.
  * Fact⋈fact joins (lineitem⋈orders) shuffle on the join key and are left
  * to Catalyst/AQE (sort-merge with skew splitting); forcing a broadcast
  * there would OOM at scale.
  */
object JoinQueries {

  import Det.{davg, dsum}
  import Det.Sql.{davg => savg, dsum => ssum}

  /** Net revenue per line (same money discipline as CoreQueries). */
  private def revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
  private val revenueSql = "l_extendedprice * (1.0 - l_discount)"

  val all: Seq[QuerySpec] = Seq(

    sql("j1_star_agg",
      "J1: 5-way star join (fact⋈fact shuffled, dims broadcast) + keyed agg",
      s"""SELECT r_name AS region_name, n_name AS nation_name, COUNT(*) AS total_lines,
         | ${ssum(revenueSql)} AS total_revenue,
         | ${savg("l_quantity")} AS avg_quantity
         | FROM lineitem
         | JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | JOIN nation ON c_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         | GROUP BY 1, 2 ORDER BY region_name, nation_name""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // widened (r19): parallelizes the fact side's pre-join map stage
        // (project + hash-partition of every line ran single-task)
        Tables.widened(s, d, "lineitem")
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
          .agg(
            count(lit(1)).as("total_lines"),
            dsum(revenue).as("total_revenue"),
            davg(col("l_quantity")).as("avg_quantity"))
          .orderBy("region_name", "nation_name")
    },

    sql("j2_left_join",
      "J1: left outer fact⋈fact join preserving orders with zero lineitems (pre-aggregated build side)",
      s"""SELECT o_orderkey, COUNT(l_orderkey) AS n_lines,
         | COALESCE(${ssum("l_quantity")}, 0.0) AS sum_quantity
         | FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
         | GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // aggregate lineitem per key BEFORE the join (Catalyst won't push
        // aggregation through an outer join itself) — the join then moves one
        // pre-aggregated row per order instead of every line: 4× fewer rows
        // and a fraction of the width through the shuffle, the difference
        // between shuffling 100 TB and shuffling the group summary at scale.
        // Semantics identical: missing orders surface count 0 / sum 0.0.
        // widened (r19): the per-order partial agg (one group per order) is
        // the heavy map stage and ran single-task on the one-row-group scan
        val lineAgg = Tables.widened(s, d, "lineitem").groupBy("l_orderkey")
          .agg(count(lit(1)).as("agg_n"), dsum(col("l_quantity")).as("agg_q"))
        Tables.orders(s, d)
          .join(lineAgg, col("o_orderkey") === col("l_orderkey"), "left")
          .select(col("o_orderkey"),
            coalesce(col("agg_n"), lit(0L)).as("n_lines"),
            coalesce(col("agg_q"), lit(0.0)).as("sum_quantity"))
    }.oracleOrder("o_orderkey"),

    sql("j3_semi_join",
      "J1: left-semi join — orders having at least one max-quantity line (no fact-side duplication)",
      """SELECT o_orderkey, o_totalprice FROM orders
        | WHERE EXISTS (SELECT 1 FROM lineitem
        |               WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        | ORDER BY o_orderkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.orders(s, d)
          .join(
            Tables.lineitem(s, d).filter(col("l_quantity") >= 48),
            col("o_orderkey") === col("l_orderkey"), "left_semi")
          .select("o_orderkey", "o_totalprice")
    }.oracleOrder("o_orderkey"),

    sql("j4_anti_join",
      "J1: left-anti join — orders with no lineitems at all",
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        | WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        | ORDER BY o_orderkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.orders(s, d)
          .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"), "left_anti")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .orderBy("o_orderkey")
    },

    sql("j6_asof_join",
      "J1+: backward as-of join — last click at or before each purchase, per user (union + running-window plan)",
      """WITH p AS (SELECT event_id, user_id, date_trunc('second', ts) AS pts FROM events
        |           WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |c AS (SELECT user_id, date_trunc('second', ts) AS cts FROM events
        |      WHERE event_type = 'click' AND user_id IS NOT NULL)
        |SELECT p.event_id, p.user_id, strftime(p.pts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |       strftime(c.cts, '%Y-%m-%d %H:%M:%S') AS last_click_ts
        | FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.pts >= c.cts
        | ORDER BY p.event_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // second-truncated on BOTH sides: Spark stores micros, the oracle
        // nanos — truncation makes the boundary comparison identical
        val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), date_trunc("second", col("ts")).as("pts"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("user_id"), date_trunc("second", col("ts")).as("cts"))
        graft.ops.AsOf.asofBackward(p, c, "user_id", "pts", "cts", "asof")
          .select(col("event_id"), col("user_id"),
            date_format(col("pts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
            date_format(col("asof"), "yyyy-MM-dd HH:mm:ss").as("last_click_ts"))
    }.oracleOrder("event_id"),

    sql("j12_asof_forward",
      "J1+: FORWARD as-of join with tolerance — next purchase at or after each click, nulled past 2 h (time-to-convert; pandas merge_asof direction='forward'). Same one-union one-window plan as j6, mirrored to look ahead; tolerance on exact epoch-second arithmetic",
      """WITH c AS (SELECT event_id, user_id, date_trunc('second', ts) AS cts FROM events
        |           WHERE event_type = 'click' AND user_id IS NOT NULL),
        |p AS (SELECT user_id, date_trunc('second', ts) AS pts FROM events
        |      WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |u AS (SELECT user_id, cts AS t, CAST(NULL AS TIMESTAMP) AS rt, 0 AS side, event_id FROM c
        |      UNION ALL SELECT user_id, pts, pts, 1, NULL FROM p),
        |f AS (SELECT user_id, t, side, event_id,
        |  FIRST_VALUE(rt IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t, side
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt FROM u)
        |SELECT event_id, user_id, strftime(t, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  strftime(CASE WHEN date_diff('second', t, nxt) <= 7200 THEN nxt END,
        |           '%Y-%m-%d %H:%M:%S') AS next_purchase_ts
        | FROM f WHERE side = 0 ORDER BY event_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // second-truncated on both sides (the j6 discipline) so the
        // inclusive >= boundary and the tolerance edge are identical in
        // both engines
        val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"),
            date_trunc("second", col("ts")).as("cts"))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), date_trunc("second", col("ts")).as("pts"))
        graft.ops.AsOf.asofForward(c, p, "user_id", "cts", "pts", "nxt",
          toleranceSeconds = Some(7200L))
          .select(col("event_id"), col("user_id"),
            date_format(col("cts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
            date_format(col("nxt"), "yyyy-MM-dd HH:mm:ss").as("next_purchase_ts"))
    }.oracleOrder("event_id"),

    sql("j13_asof_nearest",
      "J1+: NEAREST as-of join — each signup's closest click in absolute time within the user (pandas direction='nearest'; one backward + one forward window pass, exact ties prefer backward). Oracle mirrors both passes and the tie rule in integer-second arithmetic",
      """WITH s AS (SELECT event_id, user_id, date_trunc('second', ts) AS t FROM events
        |           WHERE event_type = 'signup' AND user_id IS NOT NULL),
        |c AS (SELECT user_id, date_trunc('second', ts) AS ct FROM events
        |      WHERE event_type = 'click' AND user_id IS NOT NULL),
        |ub AS (SELECT user_id, t, CAST(NULL AS TIMESTAMP) AS rt, 1 AS side, event_id FROM s
        |       UNION ALL SELECT user_id, ct, ct, 0, NULL FROM c),
        |b AS (SELECT event_id, bk FROM (
        |  SELECT event_id, side, LAST_VALUE(rt IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY t, side ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bk
        |  FROM ub) WHERE side = 1),
        |uf AS (SELECT user_id, t, CAST(NULL AS TIMESTAMP) AS rt, 0 AS side, event_id FROM s
        |       UNION ALL SELECT user_id, ct, ct, 1, NULL FROM c),
        |f AS (SELECT event_id, fw FROM (
        |  SELECT event_id, side, FIRST_VALUE(rt IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY t, side ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fw
        |  FROM uf) WHERE side = 0)
        |SELECT s.event_id, s.user_id, strftime(s.t, '%Y-%m-%d %H:%M:%S') AS signup_ts,
        |  strftime(CASE WHEN fw IS NULL THEN bk WHEN bk IS NULL THEN fw
        |    WHEN date_diff('second', s.t, fw) < date_diff('second', bk, s.t) THEN fw
        |    ELSE bk END, '%Y-%m-%d %H:%M:%S') AS nearest_click_ts
        | FROM s JOIN b USING (event_id) JOIN f USING (event_id)
        | ORDER BY event_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
        val su = ev.filter(col("event_type") === "signup")
          .select(col("event_id"), col("user_id"),
            date_trunc("second", col("ts")).as("t"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("user_id"), date_trunc("second", col("ts")).as("ct"))
        graft.ops.AsOf.asofNearest(su, c, "user_id", "t", "ct", "nearest")
          .select(col("event_id"), col("user_id"),
            date_format(col("t"), "yyyy-MM-dd HH:mm:ss").as("signup_ts"),
            date_format(col("nearest"), "yyyy-MM-dd HH:mm:ss").as("nearest_click_ts"))
    }.oracleOrder("event_id"),

    sql("j8_range_join",
      "J1+: point-in-interval range join — order prices vs per-priority price bands (grid-bucketized production plan)",
      s"""WITH bands AS (SELECT o_orderpriority AS band,
         |  ${savg("o_totalprice")} * 0.8 AS lo, ${savg("o_totalprice")} * 1.2 AS hi
         |  FROM orders GROUP BY o_orderpriority)
         |SELECT band, COUNT(*) AS n_orders, ${ssum("o_totalprice")} AS band_revenue
         | FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
         | GROUP BY band ORDER BY band""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // band bounds via exact-decimal means (Det.davg) so the interval
        // edges are bit-identical in both engines — a double-sum mean
        // could flip membership for a row exactly at a boundary
        val bands = Tables.orders(s, d)
          .groupBy(col("o_orderpriority").as("band"))
          .agg((davg(col("o_totalprice")) * 0.8).as("lo"),
            (davg(col("o_totalprice")) * 1.2).as("hi"))
        val pts = Tables.orders(s, d).select(col("o_totalprice"))
        graft.ops.RangeJoin.pointInIntervalNaive(pts, bands, "o_totalprice", "lo", "hi")
          .groupBy("band")
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("band_revenue"))
          .orderBy("band")
      }
    }.withBench { (s, d) =>
      // production: the grid-bucketized equality join (RangeJoin scaladoc:
      // the shape that survives millions of intervals where the broadcast
      // nested loop dies); parity with the naive plan pinned in
      // RangeJoinSpec. Width ~ interval length / 4 here.
      val bands = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("band"))
        .agg((davg(col("o_totalprice")) * 0.8).as("lo"),
          (davg(col("o_totalprice")) * 1.2).as("hi"))
      val pts = Tables.orders(s, d).select(col("o_totalprice"))
      graft.ops.RangeJoin.pointInInterval(pts, bands, "o_totalprice", "lo", "hi", 25000.0)
        .groupBy("band")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("band_revenue"))
    },

    sql("j10_full_outer",
      "J1: full outer join — deliberately offset key populations (even custkeys vs multiple-of-3 order owners) so BOTH unmatched sides appear; null-completed rows surface as typed defaults. One shuffle on the coalesced key, AQE sizes the strategy",
      s"""SELECT k, COALESCE(c_mktsegment, '(no-customer)') AS segment,
         | COALESCE(n_orders, 0) AS n_orders, COALESCE(spend, 0.0) AS spend
         | FROM (SELECT c_custkey AS k, c_mktsegment FROM customer WHERE c_custkey % 2 = 0) c
         | FULL JOIN (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_orders,
         |   ${ssum("o_totalprice")} AS spend
         |   FROM orders WHERE o_custkey % 3 = 0 GROUP BY 1) o USING (k)
         | ORDER BY k""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val cust = Tables.customer(s, d)
          .filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey").as("k"), col("c_mktsegment"))
        val ord = Tables.orders(s, d)
          .filter(col("o_custkey") % 3 === 0)
          .groupBy(col("o_custkey").as("k"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
        cust.join(ord, Seq("k"), "full")
          .select(col("k"),
            coalesce(col("c_mktsegment"), lit("(no-customer)")).as("segment"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("spend"), lit(0.0)).as("spend"))
          .orderBy("k")
      }
    },

    sql("j9_scd2_pit_join",
      "J1+: point-in-time (as-was) join — orders pick up the customer-segment version valid at their own order date from the u18 SCD-2 dimension; facts before the entity's first version keep a null segment ('(none)'). The no-future-leakage join a backfilled training set needs; equi-join on key + half-open interval filter, never a range-join explosion",
      s"""WITH chg AS (
         |  SELECT c_custkey, TIMESTAMP '1995-07-01' AS eff, c_mktsegment AS segment FROM customer
         |  UNION ALL
         |  SELECT c_custkey, CAST(DATE '1997-01-01' + CAST(c_custkey % 700 AS INT) AS TIMESTAMP), 'UPGRADED'
         |    FROM customer WHERE c_custkey % 3 = 0),
         | scd AS (
         |  SELECT c_custkey, segment, eff AS valid_from,
         |         LEAD(eff) OVER (PARTITION BY c_custkey ORDER BY eff) AS valid_to
         |  FROM chg)
         | SELECT COALESCE(segment, '(none)') AS segment_asof,
         |   COUNT(*) AS n_orders, ${ssum("o_totalprice")} AS revenue
         | FROM orders LEFT JOIN scd
         |   ON o_custkey = c_custkey AND valid_from <= o_orderdate
         |     AND (valid_to IS NULL OR o_orderdate < valid_to)
         | GROUP BY 1 ORDER BY segment_asof""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val dim = ExtraQueries.scd2Dimension(s, d)
        // conform o_orderdate to TimestampType (the fixture may carry
        // NTZ) so the interval comparison against the dimension's
        // TimestampType bounds resolves — same contract as events.ts
        val facts = Tables.normalizeEventTime(
          Tables.orders(s, d).select("o_custkey", "o_orderdate", "o_totalprice"),
          "o_orderdate")
        graft.ops.Scd.pointInTime(facts, dim, Seq("o_custkey" -> "c_custkey"), "o_orderdate")
          .groupBy(coalesce(col("segment"), lit("(none)")).as("segment_asof"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
          .orderBy("segment_asof")
      }
    },

    sql("j11_interval_overlap",
      "J1+: keyed INTERVAL-OVERLAP self-join — per-customer concurrent order windows ([orderdate, orderdate + priority-derived duration)); grid-bucketized equality join on (custkey, cell) with exactly-once first-cell emission, never a nested loop (ops/RangeJoin.intervalOverlap)",
      """WITH w AS (SELECT o_orderkey AS k, o_custkey AS c,
        |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS lo,
        |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) + o_orderkey % 30 + 1 AS hi
        |  FROM orders)
        |SELECT a.c AS custkey, COUNT(*) AS n_concurrent
        | FROM w a JOIN w b ON a.c = b.c AND a.k < b.k
        |   AND GREATEST(a.lo, b.lo) < LEAST(a.hi, b.hi)
        | GROUP BY 1 ORDER BY custkey""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // fulfillment window in epoch-days: [orderdate, orderdate + dur)
        // with dur = o_orderkey % 30 + 1 — integer day arithmetic, exact
        // in both engines; bucket width 16 ≈ the median window length
        def win(k: String, c: String, lo: String, hi: String) =
          Tables.orders(s, d).select(
            col("o_orderkey").as(k), col("o_custkey").as(c),
            // NTZ fixture timestamp → explicit date cast (j9 discipline)
            datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
              .cast("double").as(lo))
            .withColumn(hi, col(lo) + (col(k) % 30 + 1).cast("double"))
        graft.ops.RangeJoin.intervalOverlap(
          win("k1", "c1", "lo1", "hi1"), win("k2", "c2", "lo2", "hi2"),
          "lo1", "hi1", "lo2", "hi2", bucketWidth = 16.0,
          keys = Seq("c1" -> "c2"))
          .filter(col("k1") < col("k2"))
          .groupBy(col("c1").as("custkey"))
          .agg(count(lit(1)).as("n_concurrent"))
          .orderBy("custkey")
      }
    },

    sql("j5_broadcast_dim",
      "J1: explicit broadcast-hash join fact⋈dim (zero fact shuffle) + agg",
      s"""SELECT p_brand, COUNT(*) AS total_lines,
         | ${ssum(revenueSql)} AS total_revenue
         | FROM lineitem JOIN part ON l_partkey = p_partkey
         | GROUP BY p_brand ORDER BY p_brand""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(
            count(lit(1)).as("total_lines"),
            dsum(revenue).as("total_revenue"))
          .orderBy("p_brand")
    },

    sql("j15_shipping_priority",
      "J1+: TPC-H Q3-shaped SHIPPING PRIORITY — 3-way customer⋈orders⋈lineitem with a segment filter and date predicates on both fact sides, top-10 open orders by pending revenue; the classic fact⋈fact shuffle + dim-filter plan AQE must get right (customer-side filter reduces the build early, lineitem shuffles on orderkey once)",
      s"""SELECT l_orderkey, ${ssum(revenueSql)} AS revenue,
         | strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
         | FROM customer
         |  JOIN orders ON c_custkey = o_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey
         | WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
         | GROUP BY l_orderkey, o_orderdate, o_orderpriority
         | ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .join(Tables.orders(s, d)
            .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp")),
            col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, d)
            .filter(col("l_shipdate") > lit("1999-01-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("o_orderpriority"))
          .agg(dsum(revenue).as("revenue"))
          .select(col("l_orderkey"), col("revenue"), col("orderdate"), col("o_orderpriority"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
    },

    sql("j16_region_volume",
      "J1+: TPC-H Q5-shaped LOCAL SUPPLIER VOLUME — 6-way region⋈nation⋈supplier⋈customer⋈orders⋈lineitem where supplier and customer share a nation; per-nation revenue within one region and year. The widest join in the registry: three dims broadcast, the two facts shuffle once each, the s_nationkey = c_nationkey constraint rides the join condition instead of a post-filter",
      s"""SELECT n_name, ${ssum(revenueSql)} AS revenue
         | FROM region
         |  JOIN nation ON n_regionkey = r_regionkey
         |  JOIN supplier ON s_nationkey = n_nationkey
         |  JOIN customer ON c_nationkey = s_nationkey
         |  JOIN orders ON o_custkey = c_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey AND l_suppkey = s_suppkey
         | WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         | GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.region(s, d).filter(col("r_name") === "ASIA")
          .join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
          .join(Tables.supplier(s, d), col("s_nationkey") === col("n_nationkey"))
          .join(Tables.customer(s, d), col("c_nationkey") === col("s_nationkey"))
          .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
            col("o_custkey") === col("c_custkey"))
          // (r19: a lineitem widen was A/B-measured 1.56× SLOWER — the
          // fact side carries no pre-join agg, so the widen was a pure
          // extra exchange — and reverted)
          .join(Tables.lineitem(s, d),
            col("l_orderkey") === col("o_orderkey") &&
              col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("n_name"))
          .agg(dsum(revenue).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
    },

    sql("j17_below_avg_quantity",
      "J1+: TPC-H Q17-shaped CORRELATED SCALAR SUBQUERY — lines whose quantity is below a fifth of their part's average quantity (small-lot revenue per brand). The decorrelation test: Catalyst must rewrite the per-row subquery into ONE aggregate over lineitem grouped by partkey joined back — a mis-decorrelated plan re-executes the subquery per row, the 100 TB disaster class; PlanSpec pins single-aggregate-build-no-nested-loop. Threshold uses 5·q < avg (exact integral-double arithmetic) so row membership is engine-portable",
      s"""SELECT p_brand, COUNT(*) AS below_cnt,
         | ${ssum("l_extendedprice")} AS below_revenue
         | FROM lineitem JOIN part ON p_partkey = l_partkey
         | WHERE 5 * l_quantity < (
         |   SELECT AVG(l2.l_quantity) FROM lineitem l2
         |   WHERE l2.l_partkey = p_partkey)
         | GROUP BY p_brand ORDER BY p_brand""".stripMargin.replace("\n", "")) {
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("j17_lineitem")
        Tables.part(s, d).createOrReplaceTempView("j17_part")
        s.sql(
          s"""SELECT p_brand, COUNT(*) AS below_cnt,
             | ${ssum("l_extendedprice")} AS below_revenue
             | FROM j17_lineitem JOIN j17_part ON p_partkey = l_partkey
             | WHERE 5 * l_quantity < (
             |   SELECT AVG(l2.l_quantity) FROM j17_lineitem l2
             |   WHERE l2.l_partkey = p_partkey)
             | GROUP BY p_brand ORDER BY p_brand""".stripMargin)
      }
    },

    sql("j18_exclusive_returns",
      "J1+: TPC-H Q21-shaped EXISTS / NOT-EXISTS CHAIN — suppliers who were the ONLY supplier with returned lines on a finished multi-supplier order. Exercises Catalyst's rewrite of correlated exists into left-semi and not-exists into left-anti joins on the correlation key (never a per-row re-execution or a cartesian); PlanSpec pins the join kinds",
      """SELECT s_name, COUNT(*) AS numwait
        | FROM supplier
        |  JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |  JOIN orders ON o_orderkey = l1.l_orderkey
        | WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        | GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin.replace("\n", "")) {
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("j18_lineitem")
        Tables.orders(s, d).createOrReplaceTempView("j18_orders")
        Tables.supplier(s, d).createOrReplaceTempView("j18_supplier")
        s.sql(
          """SELECT s_name, COUNT(*) AS numwait
            | FROM j18_supplier
            |  JOIN j18_lineitem l1 ON s_suppkey = l1.l_suppkey
            |  JOIN j18_orders ON o_orderkey = l1.l_orderkey
            | WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
            |  AND EXISTS (
            |    SELECT 1 FROM j18_lineitem l2
            |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
            |  AND NOT EXISTS (
            |    SELECT 1 FROM j18_lineitem l3
            |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            |      AND l3.l_returnflag = 'R')
            | GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)
      }
    },

    sql("j19_excess_stock_suppliers",
      "J1+: TPC-H Q20-shaped NESTED correlated subquery — suppliers holding excess stock: an IN-subquery over supply relationships (distinct lineitem (partkey, suppkey) pairs standing in for partsupp) that itself contains a correlated SCALAR subquery on the two-column correlation key (stock proxy p_size*2 vs half the two-year shipped quantity; p_size*4 > SUM keeps the comparison integral). Two decorrelation levels must both rewrite — IN into a left-semi, the inner scalar into ONE (partkey, suppkey) aggregate joined back; PlanSpec pins no nested-loop/cartesian and a single aggregated build",
      """SELECT s_suppkey, s_name, n_name
        | FROM supplier JOIN nation ON s_nationkey = n_nationkey
        | WHERE s_suppkey IN (
        |   SELECT ps.l_suppkey
        |   FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |    JOIN part ON p_partkey = ps.l_partkey
        |   WHERE p_size >= 25
        |     AND p_size * 4 > (
        |       SELECT SUM(CAST(l.l_quantity AS BIGINT)) FROM lineitem l
        |       WHERE l.l_partkey = ps.l_partkey AND l.l_suppkey = ps.l_suppkey
        |         AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        |         AND l.l_shipdate < TIMESTAMP '1998-01-01'))
        | ORDER BY s_suppkey""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // (r19: a lineitem widen was A/B-measured noise-flat-to-slower
        // (1.17× vs a 1.13× unchanged control) and reverted)
        Tables.lineitem(s, d).createOrReplaceTempView("j19_lineitem")
        Tables.part(s, d).createOrReplaceTempView("j19_part")
        Tables.supplier(s, d).createOrReplaceTempView("j19_supplier")
        Tables.nation(s, d).createOrReplaceTempView("j19_nation")
        s.sql(
          """SELECT s_suppkey, s_name, n_name
            | FROM j19_supplier JOIN j19_nation ON s_nationkey = n_nationkey
            | WHERE s_suppkey IN (
            |   SELECT ps.l_suppkey
            |   FROM (SELECT DISTINCT l_partkey, l_suppkey FROM j19_lineitem) ps
            |    JOIN j19_part ON p_partkey = ps.l_partkey
            |   WHERE p_size >= 25
            |     AND p_size * 4 > (
            |       SELECT SUM(CAST(l.l_quantity AS BIGINT)) FROM j19_lineitem l
            |       WHERE l.l_partkey = ps.l_partkey AND l.l_suppkey = ps.l_suppkey
            |         AND l.l_shipdate >= TIMESTAMP '1996-01-01'
            |         AND l.l_shipdate < TIMESTAMP '1998-01-01'))
            | ORDER BY s_suppkey""".stripMargin)
      }
    },

    sql("j20_min_cost_supplier",
      "J1+: TPC-H Q2-shaped correlated MIN over a MULTI-JOIN subquery — for each size-30 part, the EUROPE supplier(s) achieving the region's minimum cost (cost = the cheapest extendedprice that (part, supplier) pair ever shipped at, min-selection only so doubles stay exact). The correlated scalar spans a 4-table join (supply⋈supplier⋈nation⋈region) that must decorrelate into ONE partkey-grouped min build with the dim filters applied INSIDE it — re-running a 4-way join per part row is the disaster class (the supply CTE inlining once per REFERENCE, 2×, is linear and fine; PlanSpec pins exactly 3 min builds)",
      """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |            MIN(l_extendedprice) AS ps_cost FROM lineitem GROUP BY 1, 2)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_type
        | FROM part, ps, supplier, nation, region
        | WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE' AND p_size = 30
        |  AND ps_cost = (
        |    SELECT MIN(ps2.ps_cost) FROM ps ps2, supplier s2, nation n2, region r2
        |    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        | ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // (r19: a lineitem widen was A/B-measured noise-flat across two
        // passes — the ps CTE inlines twice so the widen exchange paid
        // twice — and reverted)
        Tables.lineitem(s, d).createOrReplaceTempView("j20_lineitem")
        Tables.part(s, d).createOrReplaceTempView("j20_part")
        Tables.supplier(s, d).createOrReplaceTempView("j20_supplier")
        Tables.nation(s, d).createOrReplaceTempView("j20_nation")
        Tables.region(s, d).createOrReplaceTempView("j20_region")
        s.sql(
          """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
            |            MIN(l_extendedprice) AS ps_cost FROM j20_lineitem GROUP BY 1, 2)
            |SELECT s_acctbal, s_name, n_name, p_partkey, p_type
            | FROM j20_part, ps, j20_supplier, j20_nation, j20_region
            | WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
            |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
            |  AND r_name = 'EUROPE' AND p_size = 30
            |  AND ps_cost = (
            |    SELECT MIN(ps2.ps_cost) FROM ps ps2, j20_supplier s2, j20_nation n2, j20_region r2
            |    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
            |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
            |      AND r2.r_name = 'EUROPE')
            | ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin)
      }
    },
    // (r19: the ps CTE's two inlined copies share no exchange — the plan
    // shows two lineitem scans + two partial_min shuffles, zero
    // ReusedExchange — so a bench variant that localCheckpoints ps once
    // and feeds the same correlated SQL from the checkpoint was built and
    // A/B'd: 1.22 s -> 1.40/1.45 s across two passes at an identical dd2
    // control — the single-node materialization tax (serialize + re-scan
    // ~470k rows) exceeds the saved in-page-cache scan. REVERTED. At
    // cluster scale the once-materialized ps (partsupp-sized, ~1.5% of
    // lineitem's bytes) is the right call; locally the double scan wins.)

    sql("j21_lapsed_high_balance",
      "J1+: TPC-H Q22-shaped composition — the last classic subquery shape: TWO uncorrelated scalar subqueries (the positive-balance population's count and cent-exact sum, composing the above-average test as cents*n > total so no engine-ordered double sum exists; ROUND before the BIGINT cast because Spark truncates double->int where DuckDB rounds) AND a NOT EXISTS anti-join (no orders since 2000) in one WHERE — the lapsed high-balance customer report. Catalyst must plan the scalars as two one-row broadcast subqueries and the NOT EXISTS as a LeftAnti, never a per-row loop",
      s"""SELECT c_mktsegment, COUNT(*) AS numcust,
         | ${ssum("c_acctbal")} AS totacctbal
         | FROM customer
         | WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) *
         |   (SELECT COUNT(*) FROM customer c2 WHERE c2.c_acctbal > 0)
         |   > (SELECT SUM(CAST(ROUND(c3.c_acctbal * 100) AS BIGINT))
         |      FROM customer c3 WHERE c3.c_acctbal > 0)
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
         | GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin.replace("\n", "")) {
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("j21_customer")
        Tables.orders(s, d).createOrReplaceTempView("j21_orders")
        s.sql(
          s"""SELECT c_mktsegment, COUNT(*) AS numcust,
             | ${ssum("c_acctbal")} AS totacctbal
             | FROM j21_customer
             | WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) *
             |   (SELECT COUNT(*) FROM j21_customer c2 WHERE c2.c_acctbal > 0)
             |   > (SELECT SUM(CAST(ROUND(c3.c_acctbal * 100) AS BIGINT))
             |      FROM j21_customer c3 WHERE c3.c_acctbal > 0)
             |  AND NOT EXISTS (SELECT 1 FROM j21_orders
             |    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
             | GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      }
    },

    sql("j22_priority_returns",
      "J1+: TPC-H Q4-shaped EXISTS over a DATE-WINDOWED aggregate — per-priority count of H2-1996 orders with at least one returned line. The classic existence-test-feeding-an-agg shape: the date window must PUSH INTO the orders parquet scan (half a year of a 100 TB order archive is what gets read, not the archive), the EXISTS must plan as ONE LeftSemi on the correlation key (deduplicating multi-line matches for free — an inner join would double-count), never a per-order probe; PlanSpec pins both",
      """SELECT o_orderpriority, COUNT(*) AS order_count
        | FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |   AND o_orderdate < TIMESTAMP '1997-01-01'
        |   AND EXISTS (SELECT 1 FROM lineitem
        |     WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        | GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", "")) {
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("j22_orders")
        Tables.lineitem(s, d).createOrReplaceTempView("j22_lineitem")
        s.sql(
          """SELECT o_orderpriority, COUNT(*) AS order_count
            | FROM j22_orders
            | WHERE o_orderdate >= TIMESTAMP '1996-07-01'
            |   AND o_orderdate < TIMESTAMP '1997-01-01'
            |   AND EXISTS (SELECT 1 FROM j22_lineitem
            |     WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
            | GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      }
    },

    sql("j23_important_stock",
      "J1+: TPC-H Q11-shaped GROUP-HAVING-GLOBAL-SCALAR — per-part NATION_7 shipment value keeping only parts above 1/2000 of the nation's total: the HAVING clause compares each group's aggregate to an UNCORRELATED scalar subquery over the same fact slice. Catalyst must plan the scalar as ONE reusable one-row subquery (not re-aggregated per group) and the nation filter must reach both scans through the broadcast dim joins. Money in cent-BIGINTs (ROUND before the cast — Spark truncates double→int where DuckDB rounds) and threshold as value*2000 > total, so no engine-ordered double sum exists anywhere",
      """SELECT l_partkey,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_cents
        | FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        | WHERE n_name = 'NATION_7'
        | GROUP BY l_partkey
        | HAVING SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) * 2000 >
        |   (SELECT SUM(CAST(ROUND(l2.l_extendedprice * 100) AS BIGINT))
        |    FROM lineitem l2 JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |     JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |    WHERE n2.n_name = 'NATION_7')
        | ORDER BY value_cents DESC, l_partkey""".stripMargin.replace("\n", "")) {
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("j23_lineitem")
        Tables.supplier(s, d).createOrReplaceTempView("j23_supplier")
        Tables.nation(s, d).createOrReplaceTempView("j23_nation")
        s.sql(
          """SELECT l_partkey, SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS value_cents
            | FROM j23_lineitem JOIN j23_supplier ON s_suppkey = l_suppkey
            |  JOIN j23_nation ON s_nationkey = n_nationkey
            | WHERE n_name = 'NATION_7'
            | GROUP BY l_partkey
            | HAVING SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) * 2000 >
            |   (SELECT SUM(CAST(ROUND(l2.l_extendedprice * 100) AS BIGINT))
            |    FROM j23_lineitem l2 JOIN j23_supplier s2 ON s2.s_suppkey = l2.l_suppkey
            |     JOIN j23_nation n2 ON s2.s_nationkey = n2.n_nationkey
            |    WHERE n2.n_name = 'NATION_7')
            | ORDER BY value_cents DESC, l_partkey""".stripMargin)
      }
    },

    sql("j24_crossnation_volume",
      "J1+: TPC-H Q7-shaped VOLUME SHIPPING — revenue shipped between two specific nations by year, both directions. The classic dual-nation reporting join: the supplier's and customer's nation dims join INDEPENDENTLY (nation broadcast twice under different aliases) with the direction disjunction riding as a post-join filter, the ship-date window must push into the lineitem scan, and the only fact-fact shuffle is lineitem⋈orders — at 100 TB the two-nation filter prunes the output to a sliver but the plan must never cartesian the nation pair. Year extraction as a string (date_format/strftime) — the proven f8-portable shape; money through the exact-decimal sum",
      q7Text(identity, DuckDialect)) {
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("j24_lineitem")
        Tables.orders(s, d).createOrReplaceTempView("j24_orders")
        Tables.customer(s, d).createOrReplaceTempView("j24_customer")
        Tables.supplier(s, d).createOrReplaceTempView("j24_supplier")
        Tables.nation(s, d).createOrReplaceTempView("j24_nation")
        s.sql(q7Text(t => s"j24_$t", SparkDialect))
      }
    },

    sql("j25_market_share",
      "J1+: TPC-H Q8-shaped MARKET SHARE — one nation's share of yearly PROMO-part revenue among EUROPE customers: a conditional sum over a grouped total, the second classic multi-join reporting shape. 7-table join where part/supplier/nation/region broadcast, lineitem⋈orders is the one fact shuffle, and the share divides TWO exact-decimal sums in one IEEE double division (numerator = CASE-gated volume, denominator = all volume) so no engine-ordered double accumulation exists; the p_type filter must push into the part scan before its broadcast",
      q8Text(identity, DuckDialect)) {
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("j25_lineitem")
        Tables.orders(s, d).createOrReplaceTempView("j25_orders")
        Tables.customer(s, d).createOrReplaceTempView("j25_customer")
        Tables.supplier(s, d).createOrReplaceTempView("j25_supplier")
        Tables.nation(s, d).createOrReplaceTempView("j25_nation")
        Tables.region(s, d).createOrReplaceTempView("j25_region")
        Tables.part(s, d).createOrReplaceTempView("j25_part")
        s.sql(q8Text(t => s"j25_$t", SparkDialect))
      }
    },

    sql("j26_cust_order_counts",
      "J1+: TPC-H Q13-shaped CUSTOMER ORDER-COUNT DISTRIBUTION — how many customers placed N qualifying orders, INCLUDING the zero bucket. The one classic shape j1–j25 didn't cover: a LEFT OUTER join whose non-equi predicate (the order-priority analog of Q13's o_comment NOT LIKE) must ride the JOIN CONDITION — written as a WHERE it would null-drop exactly the zero-order customers the histogram exists to count. Scale: the fact side shuffles once on custkey (orders is the big side at 100 TB; customer⋈orders is the one real shuffle), the per-customer counts are one row per customer, and the final histogram groups those ~millions of count rows into a few dozen buckets — COUNT(o_orderkey) (not *) so unmatched rows count 0",
      """SELECT c_count, COUNT(*) AS custdist
        | FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |   ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '%URGENT%'
        |  GROUP BY c_custkey) c_orders
        | GROUP BY c_count
        | ORDER BY custdist DESC, c_count DESC""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d),
            col("c_custkey") === col("o_custkey") &&
              !col("o_orderpriority").like("%URGENT%"),
            "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
    },

    sql("j28_returned_revenue",
      "J1+: TPC-H Q10-shaped RETURNED-ITEM REVENUE — the top 20 customers by revenue lost to returns in a half-year window: 4-way customer⋈orders⋈lineitem⋈nation join where the returnflag and order-date filters push into their parquet scans (the scan reads one flag sliver of one half-year, not the archive), nation broadcasts, the facts shuffle once each, and the top-20 over grouped revenue plans as TakeOrderedAndProject — a per-partition heap of 20 rows, never a full sort of the customer dimension. Revenue through the exact-decimal sum; custkey tiebreak makes the cut deterministic",
      s"""SELECT c_custkey, c_name, ${ssum(revenueSql)} AS revenue, c_acctbal, n_name
         | FROM customer, orders, lineitem, nation
         | WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-07-01'
         |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
         | GROUP BY c_custkey, c_name, c_acctbal, n_name
         | ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d)
              .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-07-01").cast("timestamp")),
            col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
          .agg(dsum(revenue).as("revenue"))
          .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
    },

    sql("j27_large_orders",
      "J1+: TPC-H Q18-shaped LARGE VOLUME CUSTOMER — orders whose total quantity clears a threshold, with customer detail. The HAVING-IN composition: an aggregate-gated IN subquery (SUM(l_quantity) HAVING > 300) feeding a 3-way customer⋈orders⋈lineitem join, re-aggregated per order. Scale: the IN decorrelates to a LEFT SEMI join against ONE orderkey-grouped partial-aggregated build (map-side combine shrinks it to one row per order BEFORE its shuffle) — never a per-order re-scan; the semi join prunes orders to the large sliver before customer and lineitem join it, so the detail join moves only qualifying rows. Quantities through the exact-decimal sum; order date surfaced as a day string (raw timestamps never compared)",
      s"""SELECT c_name, c_custkey, o_orderkey,
         |  strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice,
         |  ${ssum("l_quantity")} AS total_qty
         | FROM customer, orders, lineitem
         | WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
         |   GROUP BY l_orderkey HAVING ${ssum("l_quantity")} > 300)
         |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
         | GROUP BY c_name, c_custkey, o_orderkey, o_date, o_totalprice
         | ORDER BY o_totalprice DESC, o_orderkey""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // (r19: a lineitem widen was A/B-measured noise-flat (1.12× vs a
        // 1.13× unchanged control) and reverted — the semi-join build is
        // AQE-sized already)
        val li = Tables.lineitem(s, d)
        val large = li.groupBy("l_orderkey")
          .agg(dsum(col("l_quantity")).as("big_qty"))
          .filter(col("big_qty") > 300.0)
          .select(col("l_orderkey").as("big_orderkey"))
        Tables.orders(s, d)
          .join(large, col("o_orderkey") === col("big_orderkey"), "left_semi")
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
            col("o_totalprice"))
          .agg(dsum(col("l_quantity")).as("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      }
    },

    sql("j29_clean_suppliers",
      "J1+: TPC-H Q16-shaped NOT IN — the NULL-AWARE ANTI JOIN, the last classic join plan class: per-brand distinct supplier counts excluding a complaint population via NOT IN. Unlike j4's NOT EXISTS (plain LeftAnti), NOT IN over a nullable key must plan as a null-aware anti join (BroadcastHashJoin isNullAwareAntiJoin=true, never the BroadcastNestedLoop fallback) because one NULL in the subquery legally empties the result. Both legs are exercised: the main branch excludes the 6 negative-balance suppliers (null-free population, meaningful rows), and the '(null-trap)' branch runs the SAME shape against a population that deliberately CONTAINS a NULL — its count must be 0 in any engine that implements three-valued NOT IN correctly, and would be a large number under the naive anti-join rewrite. Scale: the exclusion populations are dimension-sized broadcasts; the fact side never shuffles for them",
      q16Text(identity)) {
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("j29_lineitem")
        Tables.part(s, d).createOrReplaceTempView("j29_part")
        Tables.supplier(s, d).createOrReplaceTempView("j29_supplier")
        s.sql(q16Text(t => s"j29_$t"))
      }
    },

    sql("j30_disjunctive_revenue",
      "J1+: TPC-H Q19-shaped DISJUNCTIVE JOIN PREDICATE — revenue from three brand/size/quantity bundles OR-ed together, each bundle repeating the p_partkey = l_partkey equi-key. The plan trap: taken literally the ON clause is a disjunction (no single conjunct equi-condition), which degrades to a nested-loop join; Catalyst must factor the common equi-key OUT of the OR (extractCommonFactors in the optimizer) and plan ONE hash join carrying the residual disjunction as a join filter — and infer per-side slivers from the OR (the brand IN-set prunes the part build, the quantity envelope prunes the fact scan) so at 100 TB the scan reads three quantity bands of three brands, not the archive. PlanSpec refuses the nested-loop plan",
      q19Text(identity)) {
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("j30_lineitem")
        Tables.part(s, d).createOrReplaceTempView("j30_part")
        s.sql(q19Text(t => s"j30_$t"))
      }
    },

    sql("j31_top_supplier",
      "J1+: TPC-H Q15-shaped TOP SUPPLIER — the supplier(s) achieving the maximum revenue band over a half-year ship window: the per-supplier aggregate is consumed TWICE, once under MAX and once as the join detail. The plan trap this query pins: written as the classic uncorrelated scalar subquery, Spark RE-SCANS the fact table for the MAX (the join-inferred isnotnull breaks canonical plan equality, so ReuseExchange never fires — verified empirically), recomputing a 100 TB scan to find a max the plan already built. The engine's plan instead computes the per-supplier aggregate ONCE and takes the max with an empty-frame window over the aggregate sliver (~one row per supplier — single-partition is free at that cardinality), giving ONE lineitem scan by construction; PlanSpec pins the single scan. The oracle keeps the classic scalar-subquery text. Revenue is banded (exact cent sum, integer-divided by 12M) so the fixture carries a genuine 3-way TIE at the max — all tied suppliers must surface, pinning that max-selection doesn't arbitrarily pick one. ROUND before the cent cast (Spark truncates double→int where DuckDB rounds)",
      q15Text(identity, "//")) {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(expr(
            "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) div 12000000")
            .as("rev_band"))
        rev
          .withColumn("max_band", max(col("rev_band")).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .filter(col("rev_band") === col("max_band"))
          .join(Tables.supplier(s, d), col("s_suppkey") === col("supplier_no"))
          .select("s_suppkey", "s_name", "rev_band")
          .orderBy("s_suppkey")
      }
    },

    sql("j32_profit_by_nation",
      "J1+: TPC-H Q9-shaped PRODUCT-TYPE PROFIT — per-nation-per-year profit on red parts across the full 5-table join (part⋈supplier⋈lineitem⋈orders⋈nation), profit = revenue minus a retail-derived unit cost (p_retailprice·0.5 stands in for ps_supplycost; 0.5 is dyadic so the cost product is exact in double). The classic expression-heavy reporting join: the p_name LIKE filter must prune the part dim BEFORE its broadcast, the year extraction groups the fact sliver, and the whole amount expression is evaluated identically on both sides (one shared body) then accumulated in exact decimal — no engine-ordered double sum exists. Year through the same dialect seam as j24",
      q9Text(identity, DuckDialect)) {
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("j32_lineitem")
        Tables.orders(s, d).createOrReplaceTempView("j32_orders")
        Tables.part(s, d).createOrReplaceTempView("j32_part")
        Tables.supplier(s, d).createOrReplaceTempView("j32_supplier")
        Tables.nation(s, d).createOrReplaceTempView("j32_nation")
        s.sql(q9Text(t => s"j32_$t", SparkDialect))
      }
    },

    sql("j33_priority_shipping",
      "J1+: TPC-H Q12-shaped TWO-CLASS CASE AGGREGATE — per-returnflag counts of high- vs low-priority lines shipped within 1996 and at/after their order date. The classic pivot-in-place shape: ONE pass over the fact⋈fact join produces both classes as CASE-gated sums (a naive engine runs two filtered joins), the ship-date window pushes into the lineitem scan, and the cross-table l_shipdate >= o_orderdate predicate rides the join as a post-join filter it cannot push. Counts cast to BIGINT in the shared body (DuckDB SUM(int) widens to HUGEINT; Spark is already BIGINT — the cast makes the schemas agree)",
      q12Text(identity)) {
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("j33_lineitem")
        Tables.orders(s, d).createOrReplaceTempView("j33_orders")
        s.sql(q12Text(t => s"j33_$t"))
      }
    },

    sql("j34_promo_revenue",
      "J1+: TPC-H Q14-shaped PROMO RATIO — the share of March-1997 revenue earned by PROMO parts: a CASE-gated exact-decimal numerator over an exact-decimal denominator in ONE double multiply-divide (the j25 discipline — no engine-ordered double accumulation anywhere). One month of one type class: both the ship window and nothing else reach the lineitem scan, part broadcasts, and the single output row carries the line count so the sliver size itself is verified",
      q14Text(identity)) {
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("j34_lineitem")
        Tables.part(s, d).createOrReplaceTempView("j34_part")
        s.sql(q14Text(t => s"j34_$t"))
      }
    },

    sql("j35_lateral_topn",
      "J1+: correlated LATERAL subquery with ORDER BY + LIMIT — the top-2 parts by retail price per brand, written as the per-row lateral every SQL user reaches for. The plan trap this pins: executed literally, the lateral re-scans and re-sorts the part table once PER BRAND (the disaster class at 100 TB); Catalyst must DECORRELATE the limited-ordered subquery into ONE row_number window over a single scan filtered to rn <= 2, joined back on the correlation key — PlanSpec pins the window plan, exactly two part scans (brand list + detail), and no nested loop. Deterministic: the LIMIT's ORDER BY tie-breaks on p_partkey, so the cut is total in both engines",
      q35Text(identity)) {
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("j35_part")
        s.sql(q35Text(t => s"j35_$t"))
      }
    }
  )

  /** Dialect seams for the Q7/Q8 twin texts (VERDICT r13 ask #7): the two
    * renderings differ ONLY in year-of-timestamp extraction. Table
    * references are the other seam, passed per call site (bare names for
    * the DuckDB oracle, prefixed temp views for the Spark side) — one
    * shared body makes oracle/Spark drift a compile-time impossibility. */
  private def DuckDialect(c: String): String = s"strftime($c, '%Y')"
  private def SparkDialect(c: String): String = s"date_format($c, 'yyyy')"

  /** Q7 body — `t` renders a table reference, `year` the dialect's
    * year-of-timestamp (see [[DuckDialect]]/[[SparkDialect]]). */
  private def q7Text(t: String => String, year: String => String): String =
    s"""SELECT supp_nation, cust_nation, l_year, ${ssum("volume")} AS revenue
       | FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |   ${year("l_shipdate")} AS l_year,
       |   l_extendedprice * (1.0 - l_discount) AS volume
       |  FROM ${t("supplier")}, ${t("lineitem")}, ${t("orders")}, ${t("customer")},
       |   ${t("nation")} n1, ${t("nation")} n2
       |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
       |   AND c_custkey = o_custkey
       |   AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
       |   AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
       |     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
       |   AND l_shipdate >= TIMESTAMP '1996-01-01'
       |   AND l_shipdate < TIMESTAMP '1998-01-01') shipping
       | GROUP BY 1, 2, 3
       | ORDER BY supp_nation, cust_nation, l_year""".stripMargin.replace("\n", "")

  /** Q16-shaped body (j29) — table-ref seam only. Two NOT IN legs: the
    * main branch's population is null-free (meaningful per-brand counts),
    * the '(null-trap)' branch's population deliberately contains a NULL so
    * its count pins the empty-result three-valued semantics. */
  private def q16Text(t: String => String): String =
    s"""SELECT p_brand AS grp, COUNT(DISTINCT l_suppkey) AS supplier_cnt
       | FROM ${t("lineitem")} JOIN ${t("part")} ON p_partkey = l_partkey
       | WHERE p_size >= 40 AND p_brand <> 'Brand#5'
       |  AND l_suppkey NOT IN (
       |    SELECT s_suppkey FROM ${t("supplier")} WHERE s_acctbal < 0)
       | GROUP BY p_brand
       | UNION ALL
       | SELECT '(null-trap)' AS grp, COUNT(DISTINCT l_suppkey) AS supplier_cnt
       | FROM ${t("lineitem")}
       | WHERE l_suppkey NOT IN (
       |   SELECT CASE WHEN s_acctbal < 0 THEN NULL ELSE s_suppkey END
       |   FROM ${t("supplier")} WHERE s_acctbal < 1000)
       | ORDER BY grp""".stripMargin.replace("\n", "")

  /** Q19-shaped body (j30) — the whole disjunction lives in the ON clause;
    * each bundle repeats the equi-key so the optimizer can factor it out. */
  private def q19Text(t: String => String): String =
    s"""SELECT p_brand, COUNT(*) AS n_lines, ${ssum(revenueSql)} AS revenue
       | FROM ${t("lineitem")} JOIN ${t("part")}
       |  ON (p_partkey = l_partkey AND p_brand = 'Brand#12'
       |      AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       |  OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
       |      AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       |  OR (p_partkey = l_partkey AND p_brand = 'Brand#14'
       |      AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
       | GROUP BY p_brand ORDER BY p_brand""".stripMargin.replace("\n", "")

  /** Q15-shaped body (j31) — `div` is the integer-division operator seam
    * (Spark `div`, DuckDB `//`). The 12M-cent band width is chosen so the
    * sf0.01 fixture ties 3 suppliers at the max band. */
  private def q15Text(t: String => String, div: String): String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no,
       |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
       |      $div 12000000 AS rev_band
       |  FROM ${t("lineitem")}
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |    AND l_shipdate < TIMESTAMP '1996-07-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, rev_band
       | FROM ${t("supplier")} JOIN revenue ON s_suppkey = supplier_no
       | WHERE rev_band = (SELECT MAX(rev_band) FROM revenue)
       | ORDER BY s_suppkey""".stripMargin.replace("\n", "")

  /** Q9-shaped body (j32) — same seams as [[q7Text]]. The amount expression
    * is shared verbatim so both engines evaluate the identical IEEE ops
    * before the exact-decimal accumulation. */
  private def q9Text(t: String => String, year: String => String): String =
    s"""SELECT nation, o_year,
       | ${ssum("l_extendedprice * (1.0 - l_discount) - p_retailprice * 0.5 * l_quantity")} AS sum_profit
       | FROM (SELECT n_name AS nation, ${year("o_orderdate")} AS o_year,
       |   l_extendedprice, l_discount, p_retailprice, l_quantity
       |  FROM ${t("part")}, ${t("supplier")}, ${t("lineitem")}, ${t("orders")}, ${t("nation")}
       |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
       |   AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
       |   AND p_name LIKE '%red%') profit
       | GROUP BY nation, o_year
       | ORDER BY nation, o_year DESC""".stripMargin.replace("\n", "")

  /** Q12-shaped body (j33) — table-ref seam only. */
  private def q12Text(t: String => String): String =
    s"""SELECT l_returnflag,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       | FROM ${t("orders")} JOIN ${t("lineitem")} ON o_orderkey = l_orderkey
       | WHERE l_shipdate >= o_orderdate
       |  AND l_shipdate >= TIMESTAMP '1996-01-01'
       |  AND l_shipdate < TIMESTAMP '1997-01-01'
       | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", "")

  /** Q14-shaped body (j34) — table-ref seam only; the j25 exact-numerator /
    * exact-denominator / one-double-division discipline. */
  private def q14Text(t: String => String): String =
    s"""SELECT COUNT(*) AS n_lines,
       | ${ssum(s"CASE WHEN p_type = 'PROMO' THEN $revenueSql ELSE 0.0 END")}
       |   * 100.0 / ${ssum(revenueSql)} AS promo_pct
       | FROM ${t("lineitem")} JOIN ${t("part")} ON l_partkey = p_partkey
       | WHERE l_shipdate >= TIMESTAMP '1997-03-01'
       |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin.replace("\n", "")

  /** LATERAL top-n body (j35) — table-ref seam only. The inner ORDER BY
    * carries the p_partkey tie-break so the LIMIT cut is total. */
  private def q35Text(t: String => String): String =
    s"""SELECT p.p_brand, t.p_partkey, t.p_retailprice
       | FROM (SELECT DISTINCT p_brand FROM ${t("part")}) p,
       | LATERAL (SELECT p_partkey, p_retailprice FROM ${t("part")} i
       |          WHERE i.p_brand = p.p_brand
       |          ORDER BY p_retailprice DESC, p_partkey LIMIT 2) t
       | ORDER BY p.p_brand, t.p_retailprice DESC, t.p_partkey""".stripMargin.replace("\n", "")

  /** Q8 body — same seams as [[q7Text]]. */
  private def q8Text(t: String => String, year: String => String): String =
    s"""SELECT o_year,
       |  ${ssum("CASE WHEN nation = 'NATION_7' THEN volume ELSE 0.0 END")} /
       |  ${ssum("volume")} AS mkt_share
       | FROM (SELECT ${year("o_orderdate")} AS o_year,
       |   l_extendedprice * (1.0 - l_discount) AS volume,
       |   n2.n_name AS nation
       |  FROM ${t("part")}, ${t("supplier")}, ${t("lineitem")}, ${t("orders")}, ${t("customer")},
       |   ${t("nation")} n1, ${t("nation")} n2, ${t("region")}
       |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
       |   AND l_orderkey = o_orderkey AND o_custkey = c_custkey
       |   AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
       |   AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
       |   AND o_orderdate >= TIMESTAMP '1996-01-01'
       |   AND o_orderdate < TIMESTAMP '1998-01-01'
       |   AND p_type = 'PROMO') all_nations
       | GROUP BY o_year ORDER BY o_year""".stripMargin.replace("\n", "")
}
