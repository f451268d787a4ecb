package graft.queries

import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.QuerySpec.{rowsOnly, sql}
import graft.model.Tables
import graft.ops.{Cleaning, Det, Features, Quality}
import graft.ops.Cleaning.RangeRule

/** Reference-parity operator inventory (SURVEY.md §2) re-expressed over the
  * driver's TPC-H-ish corpus: `lineitem` stands in for the taxi-trip table
  * (FIXTURES.md §B usage mapping — quantity↔trip_distance, extendedprice↔
  * fare_amount, suppkey↔VendorID, returnflag↔payment_type).
  *
  * Every query here is deterministic per SURVEY.md §7.5 and carries a DuckDB
  * oracle. Money aggregates use exact DECIMAL accumulation ([[graft.ops.Det]])
  * so Spark and the oracle agree bit-for-bit with no rounding discipline.
  */
object CoreQueries {

  /** P1 cleaning chain constants (range-predicate analog of
    * reference src/data_processing/spark_processor.py:110-118). */
  val cleanRules: Seq[RangeRule] = Seq(
    RangeRule("l_quantity", lo = Some(0), hi = Some(50)),
    RangeRule("l_extendedprice", lo = Some(0), hi = Some(100000)),
    RangeRule("l_discount", lo = Some(0), hi = Some(0.08), loInclusive = true, hiInclusive = true),
    RangeRule("l_tax", lo = Some(0), hi = Some(0.06), loInclusive = true, hiInclusive = true))

  private val cleanWhere =
    """l_quantity > 0 AND l_quantity < 50
      | AND l_extendedprice > 0 AND l_extendedprice < 100000
      | AND l_discount >= 0 AND l_discount <= 0.08
      | AND l_tax >= 0 AND l_tax <= 0.06""".stripMargin.replace("\n", "")

  /** A8/A9 business rules — the single source shared by the registry
    * queries AND [[Quality.report]] (one implementation, two consumers). */
  val violationRules: Seq[Quality.Rule] = Seq(
    Quality.Rule("invalid_quantity", col("l_quantity") < 1 || col("l_quantity") > 45),
    Quality.Rule("invalid_price", col("l_extendedprice") < 1000 || col("l_extendedprice") > 100000),
    Quality.Rule("invalid_discount", col("l_discount") < 0 || col("l_discount") > 0.08))

  /** D1 bucket splits on l_quantity — left-closed (SURVEY.md §7.4.1). */
  val bucketSplits = Seq(10.0, 25.0, 40.0)
  val bucketLabels = Seq("low", "mid", "high", "very_high")

  private def bucket = Features.bucketize(col("l_quantity"), bucketSplits, bucketLabels)
  // private[graft]: Ddl.summaryViewDdl mirrors the reference's
  // distance_summary view over the same bucket expression
  private[graft] val bucketSql =
    """CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 25 THEN 'mid'
      | WHEN l_quantity < 40 THEN 'high' ELSE 'very_high' END""".stripMargin.replace("\n", "")

  /** Net revenue per line — 2dp×2dp ⇒ exactly 4 decimal digits. */
  private def revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
  private val revenueSql = "l_extendedprice * (1.0 - l_discount)"

  import Det.{davg, dsum, ravg, rstddev}
  import Det.Sql.{davg => savg, dsum => ssum, ravg => sravg, rstddev => srstddev}

  /** Q1's charge expression carries SIX meaningful decimal digits
    * (2dp price × 2dp discount complement × 2dp tax gross-up), past
    * [[Det]]'s DECIMAL(18,4) — accumulate it in DECIMAL(20,6). Shared
    * body, so both engines evaluate the identical IEEE product before
    * the identical exact cast. */
  private def ssum6(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(20,6))) AS DOUBLE)"

  /** Q1 body — table-ref seam only (bare name for the oracle, temp view
    * for the Spark side). */
  private def q1Text(t: String => String): String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${Det.Sql.dsum("l_quantity")} AS sum_qty,
       |  ${Det.Sql.dsum("l_extendedprice")} AS sum_base_price,
       |  ${Det.Sql.dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       |  ${ssum6("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       |  ${Det.Sql.davg("l_quantity")} AS avg_qty,
       |  ${Det.Sql.davg("l_extendedprice")} AS avg_price,
       |  ${Det.Sql.davg("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       | FROM ${t("lineitem")}
       | WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       | GROUP BY l_returnflag, l_linestatus
       | ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", "")

  val all: Seq[QuerySpec] = Seq(

    sql("a31_pricing_summary",
      "A1+: TPC-H Q1-shaped PRICING SUMMARY — the classic full-scan report: per (returnflag, linestatus), eight aggregates over one lineitem pass including the three-factor charge expression (price × discount complement × tax gross-up, SIX meaningful decimal digits → DECIMAL(20,6) accumulation, one notch past Det's 4dp money discipline). One scan, one hash aggregate, map-side combined — the shape that reads 100 TB once and moves a dozen rows. Shared body both sides so the IEEE products are identical before the exact casts",
      q1Text(identity)) {
      (s, d) => {
        // widened (r19): the Q1 pricing summary is one partial hash agg
        // over a single-row-group scan — widening parallelizes the
        // partial aggregation (the dominant cost; scan decode is small)
        Tables.widened(s, d, "lineitem").createOrReplaceTempView("a31_lineitem")
        s.sql(q1Text(t => s"a31_$t"))
      }
    },

    sql("a32_forecast_revenue",
      "A1+: TPC-H Q6-shaped FORECASTING REVENUE CHANGE — the pure pushed-filter aggregate: one year of shipments in a discount band under a quantity cap, revenue = sum(extendedprice × discount) in exact decimal. Every predicate reaches the parquet scan (PushedFilters carries the date window, the discount band and the quantity cap — at 100 TB the scan reads one year's row groups, and min/max stats skip most of those); the aggregate is one map-side-combined row. The discount-band literals compare against the same stored doubles in both engines, so band membership is bit-identical",
      s"""SELECT COUNT(*) AS n_lines,
         | ${ssum("l_extendedprice * l_discount")} AS revenue
         | FROM lineitem
         | WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount >= 0.05 AND l_discount <= 0.07
         |  AND l_quantity < 24""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24)
          .agg(count(lit(1)).as("n_lines"),
            Det.dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
    },

    sql("p1_clean_filter",
      "P1: chained range-predicate cleaning (pushed into the parquet scan)",
      s"""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
         | FROM lineitem WHERE $cleanWhere
         | ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Cleaning.applyRules(Tables.lineitem(s, d), cleanRules)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    }.oracleOrder("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax"),

    sql("p2_iqr_filter",
      "P2: two-pass IQR outlier removal, exact percentile (oracle mode)",
      """WITH q AS (SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
        |                  quantile_cont(l_extendedprice, 0.75) AS q3 FROM lineitem)
        |SELECT l.l_orderkey AS l_orderkey, l.l_linenumber AS l_linenumber,
        |       l.l_extendedprice AS l_extendedprice
        | FROM lineitem l, q
        | WHERE l.l_extendedprice >= q.q1 - 1.5 * (q.q3 - q.q1)
        |   AND l.l_extendedprice <= q.q3 + 1.5 * (q.q3 - q.q1)
        | ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Cleaning.iqrFilter(Tables.lineitem(s, d), "l_extendedprice", k = 1.5, exact = true)
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
    }.withBench { (s, d) =>
      // production: single-pass mergeable quantile sketch, unsorted output
      Cleaning.iqrFilter(Tables.lineitem(s, d), "l_extendedprice", k = 1.5, exact = false)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    },

    sql("p5_project_cast",
      "P5: projection + rename + down-cast (reference prepare_for_postgres)",
      """SELECT l_orderkey AS order_id, CAST(l_linenumber AS INT) AS line_no,
        | CAST(l_quantity AS REAL) AS quantity, CAST(l_extendedprice AS REAL) AS price,
        | l_returnflag AS return_flag
        | FROM lineitem ORDER BY order_id, line_no, quantity, price, return_flag""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d).select(
          col("l_orderkey").as("order_id"),
          col("l_linenumber").cast("int").as("line_no"),
          col("l_quantity").cast("float").as("quantity"),
          col("l_extendedprice").cast("float").as("price"),
          col("l_returnflag").as("return_flag"))
    }.oracleOrder("order_id", "line_no", "quantity", "price", "return_flag"),

    sql("d1_bucket_features",
      "D1–D3: left-closed bucketing + guarded division + guarded percentage",
      s"""SELECT l_orderkey, l_linenumber, $bucketSql AS quantity_bucket,
         | CASE WHEN l_quantity > 0 THEN l_extendedprice / l_quantity ELSE 0.0 END AS price_per_unit,
         | CASE WHEN l_extendedprice > 0 THEN (l_extendedprice * l_discount) / l_extendedprice * 100 ELSE 0.0 END AS discount_pct
         | FROM lineitem ORDER BY l_orderkey, l_linenumber, quantity_bucket, price_per_unit, discount_pct""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          bucket.as("quantity_bucket"),
          Features.guardedDiv(col("l_extendedprice"), col("l_quantity")).as("price_per_unit"),
          Features.guardedPct(col("l_extendedprice") * col("l_discount"), col("l_extendedprice")).as("discount_pct"))
    }.oracleOrder("l_orderkey", "l_linenumber", "quantity_bucket", "price_per_unit", "discount_pct"),

    sql("p12_expectation_suite",
      "P6+: DECLARATIVE EXPECTATION SUITE evaluated in ONE pass — the reference DECLARES a Great-Expectations bounds suite (data_validator.py:20-34) but never evaluates it (dead code behind an absent GX context); here the same vocabulary (not_null / between / in_set / match_regex, with GX's `mostly` threshold and ignore-nulls value semantics) compiles onto a single conditional-sum aggregate: a 50-expectation suite over 100 TB costs exactly one scan, not one job per expectation. Pass flags are exact BIGINT arithmetic ((evaluated-violations)*1e6 >= mostly_ppm*evaluated) — no double division anywhere. The in_set expectation carries mostly=0.9 and FAILS on this corpus (~1/3 'R' rows), proving the threshold machinery is live",
      """WITH m AS (SELECT
        |  CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |  CAST(COUNT(*) AS BIGINT) AS e1,
        |  CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |  CAST(SUM(CASE WHEN l_quantity IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS e2,
        |  CAST(SUM(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0 OR l_discount > 0.1) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |  CAST(SUM(CASE WHEN l_discount IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS e3,
        |  CAST(SUM(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N') THEN 1 ELSE 0 END) AS BIGINT) AS v4,
        |  CAST(SUM(CASE WHEN l_returnflag IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS e4,
        |  CAST(SUM(CASE WHEN l_linestatus IS NOT NULL AND NOT regexp_matches(l_linestatus, '^[OF]$') THEN 1 ELSE 0 END) AS BIGINT) AS v5,
        |  CAST(SUM(CASE WHEN l_linestatus IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS e5
        | FROM lineitem)
        |SELECT * FROM (
        | SELECT 'l_quantity_not_null' AS expectation, 'l_quantity' AS col_name, v1 AS violations, e1 AS evaluated, (e1-v1)*1000000 >= 1000000*e1 AS passed FROM m
        | UNION ALL SELECT 'l_quantity_between', 'l_quantity', v2, e2, (e2-v2)*1000000 >= 1000000*e2 FROM m
        | UNION ALL SELECT 'l_discount_between', 'l_discount', v3, e3, (e3-v3)*1000000 >= 1000000*e3 FROM m
        | UNION ALL SELECT 'l_returnflag_in_set', 'l_returnflag', v4, e4, (e4-v4)*1000000 >= 900000*e4 FROM m
        | UNION ALL SELECT 'l_linestatus_matches', 'l_linestatus', v5, e5, (e5-v5)*1000000 >= 1000000*e5 FROM m)
        |ORDER BY expectation""".stripMargin.replace("\n", "")) {
      (s, d) => {
        import graft.ops.Expectations._
        evaluateDF(Tables.lineitem(s, d), Seq(
          NotNull("l_quantity"),
          Between("l_quantity", 1, 50),
          Between("l_discount", 0, 0.1),
          InSet("l_returnflag", Seq("A", "N"), mostly = 0.9),
          Matches("l_linestatus", "^[OF]$")))
          .orderBy("expectation")
      }
    },

    sql("a1_supplier_stats",
      "A1: keyed hash aggregation (vendor-stats analog), partial+final agg",
      s"""SELECT l_suppkey, COUNT(*) AS total_lines,
         | ${ssum(revenueSql)} AS total_revenue,
         | ${savg("l_quantity")} AS avg_quantity,
         | ${savg("l_extendedprice")} AS avg_price,
         | ${savg("l_discount")} AS avg_discount
         | FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // widened (r19): partial agg parallelized (a31's rationale)
        Tables.widened(s, d, "lineitem").groupBy("l_suppkey").agg(
          count(lit(1)).as("total_lines"),
          dsum(revenue).as("total_revenue"),
          davg(col("l_quantity")).as("avg_quantity"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_discount"))
          .orderBy("l_suppkey")
    },

    sql("a2_bucket_stats",
      "A2: aggregation grouped on a derived (bucketed) column",
      s"""SELECT $bucketSql AS quantity_bucket, COUNT(*) AS total_lines,
         | ${savg("l_extendedprice")} AS avg_price,
         | ${savg("l_quantity")} AS avg_quantity,
         | ${sravg("CASE WHEN l_quantity > 0 THEN l_extendedprice / l_quantity ELSE 0.0 END")} AS avg_price_per_unit
         | FROM lineitem GROUP BY 1 ORDER BY quantity_bucket""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // widened (r19): partial agg parallelized (a31's rationale)
        Tables.widened(s, d, "lineitem")
          .withColumn("quantity_bucket", bucket)
          .groupBy("quantity_bucket").agg(
            count(lit(1)).as("total_lines"),
            davg(col("l_extendedprice")).as("avg_price"),
            davg(col("l_quantity")).as("avg_quantity"),
            ravg(Features.guardedDiv(col("l_extendedprice"), col("l_quantity"))).as("avg_price_per_unit"))
          .orderBy("quantity_bucket")
    },

    sql("a3_returnflag_stats",
      "A3: keyed aggregation + derived ratio-of-averages aggregate",
      s"""SELECT l_returnflag, COUNT(*) AS total_lines,
         | ${savg("l_extendedprice")} AS avg_price,
         | ${savg("l_extendedprice * l_discount")} AS avg_discount_value,
         | ${savg("l_extendedprice * (1.0 + l_tax)")} AS avg_total,
         | ${savg("l_extendedprice * l_discount")} / ${savg("l_extendedprice")} * 100 AS avg_discount_pct
         | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // widened (r19): partial agg parallelized (a31's rationale)
        Tables.widened(s, d, "lineitem").groupBy("l_returnflag").agg(
          count(lit(1)).as("total_lines"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_extendedprice") * col("l_discount")).as("avg_discount_value"),
          davg(col("l_extendedprice") * (lit(1.0) + col("l_tax"))).as("avg_total"),
          (davg(col("l_extendedprice") * col("l_discount")) / davg(col("l_extendedprice")) * 100)
            .as("avg_discount_pct"))
          .orderBy("l_returnflag")
    },

    sql("a4_global_stats",
      "A4: single-row global min/max/avg/stddev per numeric column (one pass)",
      s"""SELECT COUNT(*) AS total_rows,
         | MIN(l_quantity) AS min_quantity, MAX(l_quantity) AS max_quantity,
         | ${savg("l_quantity")} AS avg_quantity, ${srstddev("l_quantity", 4)} AS std_quantity,
         | MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
         | ${savg("l_extendedprice")} AS avg_price, ${srstddev("l_extendedprice", 2)} AS std_price,
         | MIN(l_discount) AS min_discount, MAX(l_discount) AS max_discount,
         | ${savg("l_discount")} AS avg_discount, ${srstddev("l_discount", 6)} AS std_discount
         | FROM lineitem""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d).agg(
          count(lit(1)).as("total_rows"),
          min("l_quantity").as("min_quantity"), max("l_quantity").as("max_quantity"),
          davg(col("l_quantity")).as("avg_quantity"), rstddev(col("l_quantity"), 4).as("std_quantity"),
          min("l_extendedprice").as("min_price"), max("l_extendedprice").as("max_price"),
          davg(col("l_extendedprice")).as("avg_price"), rstddev(col("l_extendedprice"), 2).as("std_price"),
          min("l_discount").as("min_discount"), max("l_discount").as("max_discount"),
          davg(col("l_discount")).as("avg_discount"), rstddev(col("l_discount"), 6).as("std_discount"))
    },

    sql("a5_percentiles",
      "A5: exact percentiles (oracle mode; percentile_approx is the 100TB path)",
      """SELECT ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS q25,
        | ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS q50,
        | ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS q75
        | FROM lineitem""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d).agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("q25"),
          round(expr("percentile(l_extendedprice, 0.50)"), 4).as("q50"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("q75"))
    }.withBench { (s, d) =>
      // production: one-pass mergeable sketch, constant memory per partition
      // (exact percentile buffers every value in one agg buffer — OOM at scale)
      Tables.lineitem(s, d).agg(
        round(expr("percentile_approx(l_extendedprice, 0.25, 10000)"), 4).as("q25"),
        round(expr("percentile_approx(l_extendedprice, 0.50, 10000)"), 4).as("q50"),
        round(expr("percentile_approx(l_extendedprice, 0.75, 10000)"), 4).as("q75"))
    },

    sql("a6_null_completeness",
      "A6: per-column null counts + completeness % in ONE pass (not the reference's N scans)",
      """SELECT COUNT(*) AS total_rows,
        | CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_id_nulls,
        | CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls,
        | CAST(SUM(CASE WHEN NULLIF(event_type, 'error') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS etype_nulls,
        | (COUNT(*) - SUM(CASE WHEN NULLIF(event_type, 'error') IS NULL THEN 1 ELSE 0 END)) * 100.0 / COUNT(*) AS etype_completeness
        | FROM events""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Quality.metricsPlan(Tables.events(s, d),
          columns = Seq("user_id", "value"),
          rules = Seq(Quality.Rule("etype_nulls", expr("nullif(event_type, 'error')").isNull)))
          .withColumn("etype_completeness",
            (col("total_rows") - col("etype_nulls")) * lit(100.0) / col("total_rows"))
    },

    sql("a7_duplicate_count",
      "A7: whole-row duplicate count (total − distinct), single distinct shuffle",
      """SELECT (SELECT COUNT(*) FROM lineitem) AS total_rows,
        | (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM lineitem)) AS distinct_rows,
        | (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM lineitem)) AS duplicate_count""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val li = Tables.lineitem(s, d)
        li.agg(count(lit(1)).as("total_rows"))
          .crossJoin(li.distinct().agg(count(lit(1)).as("distinct_rows")))
          .select(col("total_rows"), col("distinct_rows"),
            (col("total_rows") - col("distinct_rows")).as("duplicate_count"))
      }
    }.withBench { (s, d) =>
      // production: shuffle an 8-byte xxhash64 per row instead of the full
      // row width (collision probability ~n²/2⁶⁵ — negligible as a metric)
      // (r19: a widen was A/B-measured 1.28× SLOWER — the count_distinct
      // shuffle dominates, not the map side — and reverted)
      val li = Tables.lineitem(s, d)
      li.select(xxhash64(struct(li.columns.toIndexedSeq.map(col): _*)).as("h"))
        .agg(count(lit(1)).as("total_rows"),
          count_distinct(col("h")).as("distinct_rows"))
        .select(col("total_rows"), col("distinct_rows"),
          (col("total_rows") - col("distinct_rows")).as("duplicate_count"))
    },

    sql("a8_rule_violations",
      "A8: disjunctive business-rule violation counts, ONE conditional-agg pass",
      """SELECT COUNT(*) AS total_rows,
        | CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_quantity,
        | CAST(SUM(CASE WHEN l_extendedprice < 1000 OR l_extendedprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_price,
        | CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_discount
        | FROM lineitem""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Quality.metricsPlan(Tables.lineitem(s, d), columns = Nil, rules = violationRules)
    },

    sql("a9_quality_score",
      "A9: composite data-quality score max(0, (rows − Σviolations)/rows·100)",
      """SELECT total_rows, total_violations,
        | GREATEST(0.0, ROUND((total_rows - total_violations) * 100.0 / total_rows, 2)) AS quality_score
        | FROM (SELECT COUNT(*) AS total_rows,
        |   CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 45 THEN 1 ELSE 0 END)
        |   + SUM(CASE WHEN l_extendedprice < 1000 OR l_extendedprice > 100000 THEN 1 ELSE 0 END)
        |   + SUM(CASE WHEN l_discount < 0 OR l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS total_violations
        |  FROM lineitem)""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Quality.metricsPlan(Tables.lineitem(s, d), columns = Nil, rules = violationRules)
          .select(col("total_rows"),
            violationRules.map(r => col(r.name)).reduce(_ + _).as("total_violations"))
          .select(col("total_rows"), col("total_violations"),
            greatest(lit(0.0),
              round((col("total_rows") - col("total_violations")) * lit(100.0) / col("total_rows"), 2))
              .as("quality_score"))
    },

    sql("a10_multikey_group",
      "A10: multi-column GROUP BY + ORDER BY + LIMIT (reference report SQL)",
      s"""SELECT l_returnflag, $bucketSql AS quantity_bucket, COUNT(*) AS total_lines,
         | ${savg("l_extendedprice")} AS avg_price, ${savg("l_quantity")} AS avg_quantity
         | FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, quantity_bucket LIMIT 100""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // widened (r19): partial agg parallelized (a31's rationale)
        Tables.widened(s, d, "lineitem")
          .withColumn("quantity_bucket", bucket)
          .groupBy("l_returnflag", "quantity_bucket").agg(
            count(lit(1)).as("total_lines"),
            davg(col("l_extendedprice")).as("avg_price"),
            davg(col("l_quantity")).as("avg_quantity"))
          .orderBy("l_returnflag", "quantity_bucket")
          .limit(100)
    },

    sql("a11_summary_rollup",
      "A11: second-level aggregate over the A1 output (cross-DF roll-up)",
      s"""SELECT CAST(SUM(total_lines) AS BIGINT) AS grand_total_lines,
         | ${ssum("total_revenue")} AS grand_total_revenue,
         | ${savg("avg_quantity")} AS mean_avg_quantity,
         | ${savg("avg_price")} AS mean_avg_price
         | FROM (SELECT l_suppkey, COUNT(*) AS total_lines,
         |   ${ssum(revenueSql)} AS total_revenue,
         |   ${savg("l_quantity")} AS avg_quantity,
         |   ${savg("l_extendedprice")} AS avg_price
         |  FROM lineitem GROUP BY l_suppkey)""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // widened (r19): partial agg parallelized (a31's rationale)
        Tables.widened(s, d, "lineitem").groupBy("l_suppkey").agg(
          count(lit(1)).as("total_lines"),
          dsum(revenue).as("total_revenue"),
          davg(col("l_quantity")).as("avg_quantity"),
          davg(col("l_extendedprice")).as("avg_price"))
          .agg(
            sum("total_lines").as("grand_total_lines"),
            dsum(col("total_revenue")).as("grand_total_revenue"),
            davg(col("avg_quantity")).as("mean_avg_quantity"),
            davg(col("avg_price")).as("mean_avg_price"))
    },

    sql("o2_topk",
      "O2: ORDER BY … DESC LIMIT k — planned as TakeOrderedAndProject (no full sort)",
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        | FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
    },

    sql("u2_distinct",
      "U2: DISTINCT on a column subset",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        | ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d).select("l_returnflag", "l_linestatus")
          .distinct()
          .orderBy("l_returnflag", "l_linestatus")
    },

    sql("f_scalar_funcs",
      "F1–F6: scalar string/math/conditional/null functions in one projection",
      """SELECT p_partkey, UPPER(p_type) AS u_type, SUBSTRING(p_name, 1, 8) AS name_prefix,
        | LENGTH(p_name) AS name_len, ABS(p_size - 25) AS size_dist,
        | ROUND(p_retailprice * 1.1, 2) AS marked_up,
        | CASE WHEN p_size >= 25 THEN 'big' ELSE 'small' END AS size_class,
        | COALESCE(NULLIF(p_brand, 'Brand#1'), 'other') AS brand_or_other
        | FROM part ORDER BY p_partkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.part(s, d).select(
          col("p_partkey"),
          upper(col("p_type")).as("u_type"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          // cast: Spark length() is INT, DuckDB LENGTH is BIGINT — typed hash
          length(col("p_name")).cast("long").as("name_len"),
          abs(col("p_size") - 25).as("size_dist"),
          round(col("p_retailprice") * 1.1, 2).as("marked_up"),
          when(col("p_size") >= 25, "big").otherwise("small").as("size_class"),
          coalesce(expr("nullif(p_brand, 'Brand#1')"), lit("other")).as("brand_or_other"))
    }.oracleOrder("p_partkey")
  )
}
