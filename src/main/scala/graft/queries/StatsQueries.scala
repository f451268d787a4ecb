package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Parity, QuerySpec}
import graft.QuerySpec.sql
import graft.model.Tables
import graft.ops.Det

/** Statistical / relational breadth beyond the reference surface: higher
  * moments, correlation + regression aggregates, PIVOT, and a scalar
  * subquery — all single-pass partial+final hash aggregations (the same
  * distribution shape as any sum), so they scale like A1/A4.
  */
object StatsQueries {

  /** a21's 8-bucket histogram of l_extendedprice. `sketch` bins against
    * broadcast approx-percentile boundaries (production); otherwise
    * NTILE over a total order. */
  private def equiDepthHistogram(s: SparkSession, d: String, sketch: Boolean): DataFrame = {
    val li = Tables.lineitem(s, d)
    val binned =
      if (sketch) {
        val bnds = li.agg(percentile_approx(col("l_extendedprice"),
          array((1 to 7).map(i => lit(i / 8.0)): _*), lit(10000)).as("bnds"))
        li.crossJoin(broadcast(bnds))
          .select(col("l_extendedprice"),
            (size(filter(col("bnds"), b => b <= col("l_extendedprice"))) + 1)
              .cast("long").as("bucket"))
      } else {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        li.select(col("l_extendedprice"), ntile(8).over(w).cast("long").as("bucket"))
      }
    binned.groupBy("bucket")
      .agg(count(lit(1)).as("n_items"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
  }

  /** p10's per-status checksum over each canonically serialized order row.
    * `xor` is the production form, BIT XOR of xxhash64; otherwise the sum
    * of md5 28-bit prefixes, the oracle-portable form. */
  private def rowFingerprint(s: SparkSession, d: String, xor: Boolean): DataFrame = {
    val canon = concat_ws("|",
      col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
      col("o_orderstatus"), col("o_orderpriority"),
      date_format(col("o_orderdate"), "yyyy-MM-dd"),
      round(col("o_totalprice") * 100).cast("long").cast("string"))
    if (xor)
      Tables.orders(s, d)
        .select(col("o_orderstatus").as("status"), xxhash64(canon).as("h"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("checksum"))
    else
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_rows"),
          sum(conv(substring(md5(canon), 1, 7), 16, 10).cast("long")).as("checksum"))
  }

  val all: Seq[QuerySpec] = Seq(

    sql("g2_triangles",
      "G2: triangle enumeration — part triples pairwise co-ordered in ≥2 orders (market-basket cohesion over the co-order graph). Degree-ordered orientation (Suri–Vassilvitskii) bounds wedges to m^1.5 regardless of hub skew — never the naive 3-way self-join; the oracle IS that naive join, feasible only at oracle scale",
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pp AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT e1.p1 AS ta, e1.p2 AS tb, e2.p2 AS tc
        | FROM pp e1 JOIN pp e2 ON e1.p2 = e2.p1
        |  JOIN pp e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
        | ORDER BY ta, tb, tc""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // co-order pair graph: distinct (order, part) → within-order
        // self-join (≤ C(lines,2) per order, order-keyed shuffle) →
        // support filter. The pair graph is the ONLY corpus-scale step;
        // triangles runs on the 3k-edge sliver
        // widened (r19): the distinct's partial agg — the one
        // corpus-scale map stage of the co-order graph — parallelized
        val lp = Tables.widened(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = lp.join(lp.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
          .filter(col("pk") < col("pk2"))
          .groupBy(col("pk").as("id1"), col("pk2").as("id2"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
        graft.ops.Graph.triangles(pairs)
          .orderBy("ta", "tb", "tc")
      }
    },

    sql("g3_link_prediction",
      "G3: common-neighbor LINK PREDICTION over the co-order part graph — every non-adjacent part pair sharing >= 1 graph neighbor, scored by shared-neighbor count and neighborhood Jaccard (the 'likely next co-purchase' ranking). Wedge self-join through each shared neighbor + anti-join against existing edges; at hub-skewed scale the maxDegree cap bounds the wedge blowup (spec-pinned); Jaccard is one small-integer IEEE division, bit-portable",
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pp AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |adj AS (SELECT p1 AS id, p2 AS nb FROM pp UNION ALL SELECT p2, p1 FROM pp),
        |deg AS (SELECT id, COUNT(*) AS deg FROM adj GROUP BY id),
        |cand AS (SELECT x.id AS id1, y.id AS id2, COUNT(*) AS common
        |  FROM adj x JOIN adj y ON x.nb = y.nb AND x.id < y.id GROUP BY 1, 2),
        |fresh AS (SELECT c.id1, c.id2, c.common FROM cand c
        |  LEFT JOIN pp ON c.id1 = pp.p1 AND c.id2 = pp.p2 WHERE pp.p1 IS NULL)
        |SELECT id1, id2, common,
        |  CAST(common AS DOUBLE) / CAST(d1.deg + d2.deg - common AS DOUBLE) AS jaccard
        | FROM fresh JOIN deg d1 ON id1 = d1.id JOIN deg d2 ON id2 = d2.id
        | ORDER BY id1, id2""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // same corpus-scale step as g2 (the co-order pair graph); the
        // prediction runs on the edge sliver
        // widened (r19): the distinct's partial agg — the one
        // corpus-scale map stage of the co-order graph — parallelized
        val lp = Tables.widened(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = lp.join(lp.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
          .filter(col("pk") < col("pk2"))
          .groupBy(col("pk").as("id1"), col("pk2").as("id2"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
        graft.ops.Graph.linkCandidates(pairs)
    }.oracleOrder("id1", "id2"),

    sql("a25_benford_audit",
      "A25: BENFORD first-digit audit — leading digits of order totals vs the Benford expectation (hard-coded log10(1+1/d) ppm constants, summing to exactly 10⁶), per-digit chi-square contributions through the a23 fixed-IEEE shape. The fabricated-data / broken-generator detector; the first digit comes from integer-string slicing of FLOOR(x) — no log10, whose last-ulp behavior differs between engines. All 9 digits always present (zero-count digits included via the expectation side)",
      """WITH digits AS (SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |obs AS (SELECT digit, COUNT(*) AS obs FROM digits GROUP BY digit),
        |expd AS (SELECT * FROM (VALUES ('1', 301030), ('2', 176091), ('3', 124939),
        |  ('4', 96910), ('5', 79181), ('6', 66947), ('7', 57992), ('8', 51153),
        |  ('9', 45757)) AS t(digit, ppm)),
        |n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM obs)
        |SELECT e.digit, CAST(COALESCE(o.obs, 0) AS BIGINT) AS obs,
        |  CAST(n.n * e.ppm AS DOUBLE) / 1000000.0 AS exp_cnt,
        |  (CAST(COALESCE(o.obs, 0) AS DOUBLE) - CAST(n.n * e.ppm AS DOUBLE) / 1000000.0)
        |   * (CAST(COALESCE(o.obs, 0) AS DOUBLE) - CAST(n.n * e.ppm AS DOUBLE) / 1000000.0)
        |   / (CAST(n.n * e.ppm AS DOUBLE) / 1000000.0) AS chi2
        | FROM expd e LEFT JOIN obs o ON e.digit = o.digit CROSS JOIN n
        | ORDER BY e.digit""".stripMargin.replace("\n", "")) {
      (s, d) => {
        import s.implicits._
        // Benford ppm constants: round(log10(1+1/d)·10⁶), summing to 10⁶
        val expDf = Seq("1" -> 301030L, "2" -> 176091L, "3" -> 124939L,
          "4" -> 96910L, "5" -> 79181L, "6" -> 66947L, "7" -> 57992L,
          "8" -> 51153L, "9" -> 45757L).toDF("digit", "ppm")
        val obs = Tables.orders(s, d)
          .filter(col("o_totalprice") >= 1)
          // FLOOR then BIGINT: DuckDB ROUNDS on double→int casts while
          // Spark truncates — floor first makes both exact and equal
          .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1).as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("obs"))
        val n = obs.agg(sum(col("obs")).cast("long").as("n"))
        val expCnt = (col("n") * col("ppm")).cast("double") / lit(1000000.0)
        val diff = col("obs2").cast("double") - expCnt
        broadcast(expDf).join(obs, Seq("digit"), "left")
          .withColumn("obs2", coalesce(col("obs"), lit(0L)))
          .crossJoin(broadcast(n))
          .select(col("digit"), col("obs2").as("obs"),
            expCnt.as("exp_cnt"), (diff * diff / expCnt).as("chi2"))
          .orderBy("digit")
      }
    },

    sql("a19_unpivot_stats",
      "A19: UNPIVOT/stack — wide per-measure aggregates reshaped to long (measure, min, max, mean) rows",
      {
        val m = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        m.map(c =>
          s"""SELECT '$c' AS measure, MIN($c) AS min_v, MAX($c) AS max_v,
             | ${Det.Sql.davg(c)} AS mean_v FROM lineitem""".stripMargin.replace("\n", ""))
          .mkString("", " UNION ALL ", " ORDER BY measure")
      }) {
      (s, d) => {
        // ONE aggregation pass computes all 12 wide aggregates, then
        // stack() reshapes the single row to long format map-side — vs
        // the oracle's 4 UNION'd scans (fine for DuckDB, 4x the IO at
        // scale). min/max are exact; means are exact-decimal (Det.davg).
        val measures = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val aggs = measures.flatMap(c => Seq(
          min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
          Det.davg(col(c)).as(s"${c}_mean")))
        val stackArgs = measures
          .map(c => s"'$c', ${c}_min, ${c}_max, ${c}_mean").mkString(", ")
        // widened (r19): the 12-aggregate partial pass is the map-heavy
        // stage and ran single-task on the one-row-group scan
        Tables.widened(s, d, "lineitem")
          .agg(aggs.head, aggs.tail: _*)
          .select(expr(s"stack(${measures.size}, $stackArgs) AS (measure, min_v, max_v, mean_v)"))
          .orderBy("measure")
      }
    },

    sql("a15_moments",
      "A15: higher moments — skewness + excess kurtosis per numeric column, one pass",
      // Spark's skewness/kurtosis are the POPULATION definitions
      // (m3/m2^1.5 and m4/m2^2 - 3); DuckDB's built-ins are the
      // bias-corrected SAMPLE versions, so the oracle spells out the
      // moment formulas instead. Both are scale-free O(1) values: 6dp
      // rounding sits ~6 orders above cross-engine ulp noise.
      """WITH m AS (SELECT AVG(l_quantity) AS mq, AVG(l_extendedprice) AS mp, AVG(l_discount) AS md FROM lineitem),
        |s AS (SELECT
        |  AVG(POWER(l_quantity - mq, 2)) AS q2, AVG(POWER(l_quantity - mq, 3)) AS q3, AVG(POWER(l_quantity - mq, 4)) AS q4,
        |  AVG(POWER(l_extendedprice - mp, 2)) AS p2, AVG(POWER(l_extendedprice - mp, 3)) AS p3, AVG(POWER(l_extendedprice - mp, 4)) AS p4,
        |  AVG(POWER(l_discount - md, 2)) AS d2, AVG(POWER(l_discount - md, 3)) AS d3, AVG(POWER(l_discount - md, 4)) AS d4
        |  FROM lineitem, m)
        |SELECT ROUND(q3 / POWER(q2, 1.5), 6) AS skew_quantity, ROUND(q4 / (q2 * q2) - 3, 6) AS kurt_quantity,
        | ROUND(p3 / POWER(p2, 1.5), 6) AS skew_price, ROUND(p4 / (p2 * p2) - 3, 6) AS kurt_price,
        | ROUND(d3 / POWER(d2, 1.5), 6) AS skew_discount, ROUND(d4 / (d2 * d2) - 3, 6) AS kurt_discount
        | FROM s""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d).agg(
          round(skewness(col("l_quantity")), 6).as("skew_quantity"),
          round(kurtosis(col("l_quantity")), 6).as("kurt_quantity"),
          round(skewness(col("l_extendedprice")), 6).as("skew_price"),
          round(kurtosis(col("l_extendedprice")), 6).as("kurt_price"),
          round(skewness(col("l_discount")), 6).as("skew_discount"),
          round(kurtosis(col("l_discount")), 6).as("kurt_discount"))
    },

    sql("a16_correlation",
      "A16: Pearson correlation, sample covariance, and OLS regression aggregates (price ~ quantity)",
      """SELECT ROUND(CORR(l_extendedprice, l_quantity), 6) AS corr_price_qty,
        | ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 2) AS covar_price_qty,
        | ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
        | ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 2) AS intercept,
        | ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2
        | FROM lineitem""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d).agg(
          round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_price_qty"),
          round(covar_samp(col("l_extendedprice"), col("l_quantity")), 2).as("covar_price_qty"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2).as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"))
    },

    sql("a17_pivot",
      "A17: PIVOT — revenue per return flag by line status as columns (explicit value list, no discovery scan)",
      s"""SELECT l_returnflag,
         | ${Det.Sql.dsum("CASE WHEN l_linestatus = 'F' THEN l_extendedprice * (1.0 - l_discount) END")} AS revenue_f,
         | ${Det.Sql.dsum("CASE WHEN l_linestatus = 'O' THEN l_extendedprice * (1.0 - l_discount) END")} AS revenue_o
         | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // explicit pivot values: at scale, omitting them costs a separate
        // distinct-scan job AND makes the schema data-dependent
        // (r19: a widen was A/B-measured 1.55× SLOWER — pivot plans its
        // agg differently from the plain a3 shape — and reverted)
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .select(col("l_returnflag"),
            col("F").as("revenue_f"), col("O").as("revenue_o"))
          .orderBy("l_returnflag")
    },

    sql("a18_grouped_percentiles",
      "A18: per-group percentiles — exact for the oracle, sketch in production",
      """SELECT l_returnflag,
        | ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
        | ROUND(quantile_cont(l_extendedprice, 0.90), 4) AS p90,
        | ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_extendedprice, 0.50)"), 4).as("p50"),
            round(expr("percentile(l_extendedprice, 0.90)"), 4).as("p90"),
            round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
          .orderBy("l_returnflag")
    }.withBench(Parity.Structural("l_returnflag")) { (s, d) =>
      // production: per-group mergeable sketches — exact percentile
      // buffers every value of the group in one agg buffer (OOM at scale)
      // (r19: a widen was A/B-measured 1.27× vs a 1.17× control — the
      // sketch partials merge through an ObjectHashAggregate whose
      // exchange dominates — and reverted)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile_approx(l_extendedprice, 0.50, 10000)"), 4).as("p50"),
          round(expr("percentile_approx(l_extendedprice, 0.90, 10000)"), 4).as("p90"),
          round(expr("percentile_approx(l_extendedprice, 0.99, 10000)"), 4).as("p99"))
    },

    sql("o6_scalar_subquery",
      "O6: scalar-subquery threshold — per-flag stats over items priced above the global mean",
      s"""SELECT l_returnflag, COUNT(*) AS n_above,
         | ${Det.Sql.davg("l_extendedprice")} AS avg_above
         | FROM lineitem
         | WHERE l_extendedprice > (SELECT ${Det.Sql.davg("l_extendedprice")} FROM lineitem)
         | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // the scalar is computed once and broadcast — a 1-row build side,
        // not a driver round-trip; the threshold is an exact-decimal mean
        // so the boundary comparison cannot flip between engines
        val li = Tables.lineitem(s, d)
        val threshold = li.agg(Det.davg(col("l_extendedprice")).as("avg_price"))
        li.crossJoin(broadcast(threshold))
          .filter(col("l_extendedprice") > col("avg_price"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_above"),
            Det.davg(col("l_extendedprice")).as("avg_above"))
          .orderBy("l_returnflag")
      }
    },

    sql("a21_equidepth_histogram",
      "A21: equi-depth histogram (8 equal-count buckets of l_extendedprice) — NTILE over a TOTAL order for the oracle; production bins map-side against broadcast approx-percentile boundaries (no global window)",
      // the ORDER BY must be total (price ties broken by key) or NTILE's
      // assignment of tied rows is partition-order-dependent
      """SELECT bucket, COUNT(*) AS n_items,
        | MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
        | FROM (SELECT l_extendedprice,
        |   CAST(NTILE(8) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT) AS bucket
        |   FROM lineitem)
        | GROUP BY bucket ORDER BY bucket""".stripMargin.replace("\n", "")) {
      (s, d) => equiDepthHistogram(s, d, sketch = false)
    }.oracleOrder("bucket").withBench(Parity.Structural("bucket")) { (s, d) =>
      // production: exact equal counts need a global sort, which is the
      // wrong envelope at 100 TB — bin against broadcast one-pass
      // percentile-sketch boundaries instead (approximately equal depths,
      // fully map-side: bucket = #boundaries <= x)
      equiDepthHistogram(s, d, sketch = true)
    },

    sql("p9_anomalous_partitions",
      "P9: anomalous-partition detection — months whose average order price drifts > 8% from the exact global baseline (the bad-ingest-day detector); both averages exact-decimal so the flag comparison is engine-stable",
      s"""WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS mon, COUNT(*) AS n_orders,
         |  ${Det.Sql.davg("o_totalprice")} AS avg_price FROM orders GROUP BY 1),
         |g AS (SELECT ${Det.Sql.davg("o_totalprice")} AS gavg FROM orders)
         |SELECT mon, n_orders, ROUND(avg_price, 2) AS avg_price,
         |       ROUND((avg_price - gavg) / gavg, 4) AS pct_dev
         | FROM m, g WHERE ABS((avg_price - gavg) / gavg) > 0.08
         | ORDER BY mon""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // per-month partial+final agg + a 1-row broadcast baseline — the
        // whole check is two scans (or one, if the caller caches); at
        // 100 TB the month would be a partition column and the scan prunes
        val o = Tables.orders(s, d)
        val monthly = o
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mon"))
          .agg(count(lit(1)).as("n_orders"),
            Det.davg(col("o_totalprice")).as("avg_price"))
        val global = o.agg(Det.davg(col("o_totalprice")).as("gavg"))
        monthly.crossJoin(broadcast(global))
          .withColumn("pct_dev", (col("avg_price") - col("gavg")) / col("gavg"))
          .filter(abs(col("pct_dev")) > 0.08)
          .select(col("mon"), col("n_orders"),
            round(col("avg_price"), 2).as("avg_price"),
            round(col("pct_dev"), 4).as("pct_dev"))
          .orderBy("mon")
      }
    },

    sql("a20_histogram",
      "A20: equi-width histogram (16 bins over the global [min,max] of l_extendedprice) — the data-profiling primitive; bounds broadcast, bins one hash agg",
      // bin arithmetic is the SAME double expression shape in both engines
      // ((x-lo)/((hi-lo)/16)), so IEEE gives bit-identical bins; the top
      // edge (x == hi) clamps into the last bin. bin_lo MUST round at 6dp:
      // edges are (2dp money)/16 = exact 6-decimal values (1/16 = .0625,
      // /16 is a binary-exact divide), so 6dp recovers the exact edge in
      // both engines — while 4dp sits ON the …25/…50/…75 half-boundaries
      // where DuckDB (binary-double round) and Spark (HALF_UP on the
      // shortest decimal repr) legitimately disagree (seen at sf0.001)
      s"""WITH b AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem)
         |SELECT LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 16.0)) AS BIGINT), 15) AS bin,
         |       ROUND(MIN(lo + LEAST(CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 16.0)) AS BIGINT), 15) * ((hi - lo) / 16.0)), 6) AS bin_lo,
         |       COUNT(*) AS n_items,
         |       ${Det.Sql.dsum("l_extendedprice")} AS sum_price
         | FROM lineitem, b
         | GROUP BY 1 ORDER BY bin""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // bounds are a 1-row broadcast (o6 discipline — no driver
        // round-trip); binning + the rollup is one map-side expression
        // feeding one partial+final hash agg on ≤16 keys
        val li = Tables.lineitem(s, d)
        val bounds = li.agg(
          min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
        val width = (col("hi") - col("lo")) / 16.0
        val bin = least(floor((col("l_extendedprice") - col("lo")) / width), lit(15L))
        li.crossJoin(broadcast(bounds))
          .select(bin.as("bin"), col("lo"), col("hi"), col("l_extendedprice"))
          .groupBy("bin")
          .agg(
            round(min(col("lo") + col("bin") * ((col("hi") - col("lo")) / 16.0)), 6).as("bin_lo"),
            count(lit(1)).as("n_items"),
            Det.dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("bin")
      }
    },

    sql("a22_drift_tv",
      "A22: distribution-drift detection — per-bin parts-per-million shares of o_totalprice for two priority slices and their total-variation gap (the train/serve drift monitor, all BIGINT fixed-point so the oracle matches bit-for-bit)",
      // One scan → one ≤10-key hash agg; totals come from a window over
      // the 10-row agg output (never a second scan). Shares are integer
      // ppm via truncating division — the g1 fixed-point discipline
      // (DuckDB `//` floors, Spark DIV truncates; identical on the
      // nonnegative values here), so no double rounding anywhere.
      // TV distance = SUM(dppm)/2 is one more fold the caller does on
      // 10 rows; the per-bin decomposition IS the dashboard view.
      """WITH b AS (SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS isa
        | FROM orders),
        |c AS (SELECT bin, SUM(isa) AS n_a, SUM(1 - isa) AS n_b FROM b GROUP BY bin),
        |t AS (SELECT bin, n_a, n_b, SUM(n_a) OVER () AS tot_a, SUM(n_b) OVER () AS tot_b FROM c)
        |SELECT bin, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        | CAST((n_a * 1000000) // tot_a AS BIGINT) AS ppm_a,
        | CAST((n_b * 1000000) // tot_b AS BIGINT) AS ppm_b,
        | CAST(ABS((n_a * 1000000) // tot_a - (n_b * 1000000) // tot_b) AS BIGINT) AS dppm
        | FROM t ORDER BY bin""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val binned = Tables.orders(s, d).select(
          floor(col("o_totalprice") / 50000.0).cast("long").as("bin"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L).as("isa"))
        val counts = binned.groupBy("bin").agg(
          sum(col("isa")).as("n_a"),
          sum(lit(1L) - col("isa")).as("n_b"))
        // whole-frame window on the post-agg sliver (≤10 rows): the
        // single-partition shuffle moves bin counts, not orders
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy(lit(1))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        counts
          .withColumn("tot_a", sum("n_a").over(w))
          .withColumn("tot_b", sum("n_b").over(w))
          .select(col("bin"), col("n_a"), col("n_b"),
            expr("n_a * 1000000L div tot_a").as("ppm_a"),
            expr("n_b * 1000000L div tot_b").as("ppm_b"),
            abs(expr("n_a * 1000000L div tot_a") - expr("n_b * 1000000L div tot_b"))
              .as("dppm"))
          .orderBy("bin")
      }
    },

    sql("a23_drift_chisq",
      "A23: chi-square drift decomposition — per-bin two-sample chi-square contributions ((n−E)²/E under the pooled expectation) for the a22 slices; the significance-testable drift monitor. Chi-square over PSI by design: every input is an exact integer count and +,−,×,/ are IEEE-correctly-rounded, so a FIXED operation shape is bit-identical across engines — PSI's ln() is not correctly rounded and can flip a rounded 6dp digit",
      // One scan → one ≤10-key hash agg; totals via a window over the
      // agg sliver (the a22 shape). The arithmetic shape is spelled
      // identically on both sides: E_a = CAST(tot_a)·CAST(n_a+n_b)/
      // CAST(tot_a+tot_b), contribution (n−E)²/E, rounded 6dp at the
      // ~10-row aggregate level (§7.5(f)).
      """WITH b AS (SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS isa
        | FROM orders),
        |c AS (SELECT bin, SUM(isa) AS n_a, SUM(1 - isa) AS n_b FROM b GROUP BY bin),
        |t AS (SELECT bin, n_a, n_b, SUM(n_a) OVER () AS tot_a, SUM(n_b) OVER () AS tot_b FROM c),
        |e AS (SELECT bin, n_a, n_b,
        |  CAST(tot_a AS DOUBLE) * CAST(n_a + n_b AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE) AS e_a,
        |  CAST(tot_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE) / CAST(tot_a + tot_b AS DOUBLE) AS e_b
        | FROM t)
        |SELECT bin, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        | ROUND((CAST(n_a AS DOUBLE) - e_a) * (CAST(n_a AS DOUBLE) - e_a) / e_a
        |     + (CAST(n_b AS DOUBLE) - e_b) * (CAST(n_b AS DOUBLE) - e_b) / e_b, 6) AS chi
        | FROM e ORDER BY bin""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val binned = Tables.orders(s, d).select(
          floor(col("o_totalprice") / 50000.0).cast("long").as("bin"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L).as("isa"))
        val counts = binned.groupBy("bin").agg(
          sum(col("isa")).as("n_a"),
          sum(lit(1L) - col("isa")).as("n_b"))
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy(lit(1))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        val t = counts
          .withColumn("tot_a", sum("n_a").over(w))
          .withColumn("tot_b", sum("n_b").over(w))
        val pooled = (col("n_a") + col("n_b")).cast("double")
        val totAll = (col("tot_a") + col("tot_b")).cast("double")
        val eA = col("tot_a").cast("double") * pooled / totAll
        val eB = col("tot_b").cast("double") * pooled / totAll
        val dA = col("n_a").cast("double") - eA
        val dB = col("n_b").cast("double") - eB
        t.select(col("bin"), col("n_a"), col("n_b"),
            round(dA * dA / eA + dB * dB / eB, 6).as("chi"))
          .orderBy("bin")
      }
    },

    sql("a24_drift_ks",
      "A24: Kolmogorov–Smirnov drift decomposition — per-bin empirical-CDF gap between the a22 slices, CROSS-MULTIPLIED (|cum_a·tot_b − cum_b·tot_a|) so every value stays an exact BIGINT: the KS statistic is max(gap_num)/(tot_a·tot_b), and the max row is flagged without ever dividing. Completes the drift toolbox: TV (a22, share-space), chi-square (a23, significance), KS (CDF-space, binning-robust)",
      // One scan → ≤10-key agg → TWO windows on the agg sliver (the
      // cumulative sums and the global max), still never touching data
      // rows twice. Products ≤ n² ≈ 2.3e8 at sf0.1 — far inside BIGINT;
      // at 100 TB (n ≈ 1e12) the same query carries the cumulative
      // counts in DECIMAL(38,0) — documented here, not needed at test SF.
      """WITH b AS (SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS isa
        | FROM orders),
        |c AS (SELECT bin, SUM(isa) AS n_a, SUM(1 - isa) AS n_b FROM b GROUP BY bin),
        |t AS (SELECT bin, n_a, n_b,
        |  SUM(n_a) OVER (ORDER BY bin) AS cum_a, SUM(n_b) OVER (ORDER BY bin) AS cum_b,
        |  SUM(n_a) OVER () AS tot_a, SUM(n_b) OVER () AS tot_b FROM c),
        |g AS (SELECT bin, cum_a, cum_b, ABS(cum_a * tot_b - cum_b * tot_a) AS gap_num FROM t)
        |SELECT bin, CAST(cum_a AS BIGINT) AS cum_a, CAST(cum_b AS BIGINT) AS cum_b,
        | CAST(gap_num AS BIGINT) AS gap_num,
        | CAST(CASE WHEN gap_num = MAX(gap_num) OVER () THEN 1 ELSE 0 END AS BIGINT) AS is_ks
        | FROM g ORDER BY bin""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val binned = Tables.orders(s, d).select(
          floor(col("o_totalprice") / 50000.0).cast("long").as("bin"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L).as("isa"))
        val counts = binned.groupBy("bin").agg(
          sum(col("isa")).as("n_a"),
          sum(lit(1L) - col("isa")).as("n_b"))
        val W = org.apache.spark.sql.expressions.Window
        val wCum = W.partitionBy(lit(1)).orderBy("bin")
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        val wAll = W.partitionBy(lit(1))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        val g = counts
          .withColumn("cum_a", sum("n_a").over(wCum))
          .withColumn("cum_b", sum("n_b").over(wCum))
          .withColumn("tot_a", sum("n_a").over(wAll))
          .withColumn("tot_b", sum("n_b").over(wAll))
          .withColumn("gap_num",
            abs(col("cum_a") * col("tot_b") - col("cum_b") * col("tot_a")))
        g.select(col("bin"), col("cum_a"), col("cum_b"), col("gap_num"),
            when(col("gap_num") === max("gap_num").over(wAll), 1L)
              .otherwise(0L).as("is_ks"))
          .orderBy("bin")
      }
    },

    sql("g4_clustering_coefficient",
      "G4: local clustering coefficient — per-node triangle density 2·tri/(deg·(deg−1)) in integer ppm over the g2 co-order part graph (the community-tightness signal that separates genuine item clusters from hub artifacts). Triangle counts come from the SAME degree-ordered enumeration as g2 (wedges bounded m^1.5), per-node rollup + degree join run on the edge/node slivers; coefficients are exact truncating-div ppm, no floats anywhere",
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pp AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |tri AS (SELECT e1.p1 AS ta, e1.p2 AS tb, e2.p2 AS tc
        | FROM pp e1 JOIN pp e2 ON e1.p2 = e2.p1
        |  JOIN pp e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
        |tn AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM
        |  (SELECT ta AS id FROM tri UNION ALL SELECT tb FROM tri UNION ALL SELECT tc FROM tri)
        |  GROUP BY 1),
        |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM
        |  (SELECT p1 AS id FROM pp UNION ALL SELECT p2 FROM pp) GROUP BY 1)
        |SELECT deg.id AS id, deg, COALESCE(n_tri, 0) AS n_tri,
        |  CASE WHEN deg >= 2 THEN COALESCE(n_tri, 0) * 2000000 // (deg * (deg - 1))
        |       ELSE 0 END AS coeff_ppm
        | FROM deg LEFT JOIN tn ON deg.id = tn.id ORDER BY deg.id""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // widened (r19): the distinct's partial agg — the one
        // corpus-scale map stage of the co-order graph — parallelized
        val lp = Tables.widened(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        // the co-order pair graph (the one corpus-scale step) is
        // materialized: it feeds BOTH the triangle enumeration and the
        // degree table below — lazy, each would re-run the lineitem
        // self-join (r18; sliver snapshot, same discipline as Graph ops)
        val pairs = lp.join(lp.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
          .filter(col("pk") < col("pk2"))
          .groupBy(col("pk").as("id1"), col("pk2").as("id2"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
          .localCheckpoint()
        val tri = graft.ops.Graph.triangles(pairs)
        val tn = tri.select(col("ta").as("id"))
          .unionAll(tri.select(col("tb").as("id")))
          .unionAll(tri.select(col("tc").as("id")))
          .groupBy("id").agg(count(lit(1)).as("n_tri"))
        val deg = pairs.select(col("id1").as("id"))
          .unionAll(pairs.select(col("id2").as("id")))
          .groupBy("id").agg(count(lit(1)).as("deg"))
        deg.join(tn, Seq("id"), "left")
          .select(col("id"), col("deg"),
            coalesce(col("n_tri"), lit(0L)).as("n_tri"),
            when(col("deg") >= 2,
              expr("coalesce(n_tri, 0L) * 2000000L div (deg * (deg - 1))"))
              .otherwise(0L).as("coeff_ppm"))
          .orderBy("id")
      }
    },

    sql("g5_kcore", {
      "G5: 3-core extraction — iterative peeling of the co-order part graph down to the maximal subgraph where every node keeps >= 3 neighbors (the density filter that separates genuine item communities / spam rings from tree-like organic fringe). Peels to the FIXED POINT with a 15-sweep bound (each sweep: one degree agg + two id-keyed semi-joins on the checkpointed, shrinking edge sliver; early exit when a sweep removes nothing); the oracle unrolls the full 15 rounds as a MATERIALIZED CTE chain — identical output, since post-fixed-point rounds are no-ops"
    }, {
      // AS MATERIALIZED: without it DuckDB inlines each CTE at every
      // reference and the 15-round chain re-evaluates exponentially
      val rounds = (1 to 15).map { i =>
        s"""n$i AS MATERIALIZED (SELECT id FROM (SELECT p1 AS id FROM e${i - 1}
           | UNION ALL SELECT p2 FROM e${i - 1}) GROUP BY id HAVING COUNT(*) >= 3),
           |e$i AS MATERIALIZED (SELECT p1, p2 FROM e${i - 1}
           | JOIN n$i a ON p1 = a.id JOIN n$i b ON p2 = b.id)""".stripMargin
      }.mkString(",")
      s"""WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |$rounds
        |SELECT id, CAST(COUNT(*) AS BIGINT) AS core_deg FROM
        |  (SELECT p1 AS id FROM e15 UNION ALL SELECT p2 FROM e15)
        | GROUP BY id HAVING COUNT(*) >= 3 ORDER BY id""".stripMargin.replace("\n", "")
    }) {
      (s, d) => {
        // widened (r19): the distinct's partial agg — the one
        // corpus-scale map stage of the co-order graph — parallelized
        val lp = Tables.widened(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        val pairs = lp.join(lp.select(col("ok"), col("pk").as("pk2")), Seq("ok"))
          .filter(col("pk") < col("pk2"))
          .groupBy(col("pk").as("id1"), col("pk2").as("id2"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 2)
        graft.ops.Graph.kCore(pairs, k = 3, iters = 15).orderBy("id")
      }
    },

    sql("p11_k_anonymity",
      "P11: k-anonymity audit — the pre-release re-identification check: group the table by its quasi-identifier combination (nation x segment x $100-balance-band; band = exact cent integer div, no float boundary ambiguity) and report the equivalence-class size distribution with every class of size < 5 flagged risky. The one-number governance readout is the risky-rows mass: people indistinguishable from fewer than k-1 others. One hash agg to class sizes + one agg on the class-size SLIVER — corpus-scale scan, metadata-scale everything after",
      """WITH cls AS (SELECT COUNT(*) AS k_size
        |  FROM customer
        |  GROUP BY c_nationkey, c_mktsegment,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) // 10000)
        |SELECT k_size, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(k_size) AS BIGINT) AS n_rows,
        |  k_size < 5 AS risky
        | FROM cls GROUP BY k_size ORDER BY k_size""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // band from exact cents (ROUND first: Spark truncates double→int
        // where DuckDB rounds), integer div so the $100 boundaries are
        // bit-identical in both engines
        val band = expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) div 10000")
        Tables.customer(s, d)
          .groupBy(col("c_nationkey"), col("c_mktsegment"), band.as("band"))
          .agg(count(lit(1)).as("k_size"))
          .groupBy("k_size")
          .agg(count(lit(1)).as("n_classes"), sum("k_size").as("n_rows"))
          .withColumn("risky", col("k_size") < 5)
          .orderBy("k_size")
      }
    },

    sql("p10_row_fingerprint",
      "P10: table integrity fingerprint — every order row canonically serialized (keys, codes, day-formatted date, exact centi-cents) and hashed; per-status SUM of the 28-bit row hashes is an ORDER-INDEPENDENT checksum two sides of a replication/migration can compare without moving a row (a vanished, duplicated, or bit-flipped row shifts the sum; commutative ⇒ partition- and shuffle-layout-agnostic). Map-side hash + one tiny keyed agg; production swaps md5 for codegen'd xxhash64",
      """SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(('0x' || substr(md5(concat_ws('|',
        |    CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |    o_orderstatus, o_orderpriority, strftime(o_orderdate, '%Y-%m-%d'),
        |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR))), 1, 7))::BIGINT)
        |    AS BIGINT) AS checksum
        | FROM orders GROUP BY 1 ORDER BY status""".stripMargin.replace("\n", "")) {
      (s, d) => rowFingerprint(s, d, xor = false)
    }.oracleOrder("status").withBench(Parity.Structural("status", "n_rows")) { (s, d) =>
      // production accumulates by BIT XOR, not SUM: order-independent like
      // the sum, but it cannot overflow at any row count (ANSI mode aborts
      // a summed full-range xxhash64 on the second row) — and orders rows
      // are key-unique, so the xor's duplicate-pair blind spot is moot
      rowFingerprint(s, d, xor = true)
    },

    sql("a27_theil_sen",
      "A27: Theil–Sen robust trend — the median of all pairwise day-to-day revenue slopes over one year of the daily sliver (the estimator a single crazy day can't drag, unlike OLS; breakdown point 29%). Pairwise slopes are identical one-step IEEE divisions of exact-decimal revenue doubles over integer day gaps; the median is indexed out of the row_number order (never a quantile estimate), two middles averaged by one exact halving. The pair self-join runs on the YEAR-bounded day sliver (~66k pairs) — never the fact table",
      """WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day, ${DSUM} AS rev
        |  FROM lineitem WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
        |  GROUP BY 1),
        |p AS (SELECT (b.rev - a.rev) / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
        |  FROM d a JOIN d b ON a.day < b.day),
        |r AS (SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn,
        |  COUNT(*) OVER () AS n FROM p)
        |SELECT CAST(max(n) AS BIGINT) AS n_pairs,
        |  SUM(CASE WHEN rn = (n + 1) // 2 THEN slope ELSE 0 END) / 2.0
        |  + SUM(CASE WHEN rn = n // 2 + 1 THEN slope ELSE 0 END) / 2.0 AS median_slope
        | FROM r""".stripMargin.replace("\n", "")
        .replace("${DSUM}", graft.ops.Det.Sql.dsum("l_extendedprice"))) {
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val daily = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1996-01-01")
          .groupBy(to_date(col("l_shipdate")).as("day"))
          .agg(graft.ops.Det.dsum(col("l_extendedprice")).as("rev"))
        val b = daily.select(col("day").as("day2"), col("rev").as("rev2"))
        val slopes = daily.join(b, col("day") < col("day2"))
          .select(((col("rev2") - col("rev"))
            / datediff(col("day2"), col("day")).cast("double")).as("slope"))
        slopes
          .withColumn("rn", row_number().over(W.orderBy("slope")))
          .withColumn("n", count(lit(1)).over(W.partitionBy()))
          .agg(max("n").as("n_pairs"),
            (sum(when(col("rn") === expr("(n + 1) div 2"), col("slope")).otherwise(0.0)) / 2.0
              + sum(when(col("rn") === expr("n div 2 + 1"), col("slope")).otherwise(0.0)) / 2.0)
              .as("median_slope"))
      }
    },

    sql("a29_mann_whitney",
      "A29: Mann–Whitney U test — the NONPARAMETRIC twin of a28's Welch t: rank-based, so a handful of crazy outliers or a skewed metric can't fake or mask a shift (the robust A/B primitive for revenue-like long-tail metrics). Rank-free plan: average ranks come from the VALUE SLIVER's cumulative counts (avg_rank(v) = prev_cum + (cnt+1)/2), never a corpus-wide row_number — one hash agg to ~5k distinct centi-quantities, one window + one fold on that sliver. Everything is doubled (2·rank) so U and the rank sums are exact BIGINT; the tie-corrected z comes out of one fixed IEEE shape both engines evaluate identically",
      """WITH x AS (SELECT CAST(round(l_quantity * 100) AS BIGINT) AS v,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |vals AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(g) AS BIGINT) AS cnt1
        |  FROM x GROUP BY v),
        |rk AS (SELECT v, cnt, cnt1,
        |    COALESCE(CAST(SUM(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prev_cum
        |  FROM vals),
        |agg AS (SELECT CAST(SUM(cnt1 * (2 * prev_cum + cnt + 1)) AS BIGINT) AS r1_2,
        |    CAST(SUM(cnt1) AS BIGINT) AS n1, CAST(SUM(cnt - cnt1) AS BIGINT) AS n2,
        |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term,
        |    CAST(SUM(cnt) AS BIGINT) AS n
        |  FROM rk)
        |SELECT n1, n2, (r1_2 - n1 * (n1 + 1)) AS u2,
        |  ROUND((CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 * n2 AS DOUBLE))
        |    / (2.0 * SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
        |       * (CAST(n + 1 AS DOUBLE)
        |          - CAST(tie_term AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))))),
        |    6) AS z
        | FROM agg""".stripMargin.replace("\n", "")) {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val x = Tables.lineitem(s, d)
          .filter(col("l_returnflag").isin("A", "R"))
          .select(round(col("l_quantity") * 100).cast("long").as("v"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L).as("g"))
        val vals = x.groupBy("v")
          .agg(count(lit(1)).as("cnt"), sum("g").as("cnt1"))
        // global window runs on the ~5k-row value sliver (a22 discipline)
        val rk = vals.withColumn("prev_cum",
          coalesce(sum("cnt").over(Window.orderBy("v")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val agg = rk.agg(
          sum(col("cnt1") * (lit(2L) * col("prev_cum") + col("cnt") + 1)).as("r1_2"),
          sum("cnt1").as("n1"), sum(col("cnt") - col("cnt1")).as("n2"),
          sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie_term"),
          sum("cnt").as("n"))
        val u2 = col("r1_2") - col("n1") * (col("n1") + 1)
        val sigma2 = col("n1").cast("double") * col("n2").cast("double") / lit(12.0) *
          ((col("n") + 1).cast("double") -
            col("tie_term").cast("double") /
              (col("n").cast("double") * (col("n") - 1).cast("double")))
        agg.select(col("n1"), col("n2"), u2.as("u2"),
          round((u2.cast("double") - (col("n1") * col("n2")).cast("double")) /
            (lit(2.0) * sqrt(sigma2)), 6).as("z"))
      }
    },

    sql("a30_kruskal_wallis",
      "A30: Kruskal–Wallis H test — the k-SAMPLE extension of a29 (one-way ANOVA on ranks): are quantities drawn from the same distribution across ALL THREE return flags, without normality assumptions. Same rank-free machinery: per-group doubled rank sums from the value sliver's cumulative counts (exact BIGINT), the three groups pivoted into FIXED columns so no engine-ordered float sum exists, tie-corrected H through one fixed IEEE shape",
      """WITH x AS (SELECT CAST(round(l_quantity * 100) AS BIGINT) AS v, l_returnflag AS f
        |  FROM lineitem WHERE l_returnflag IN ('A', 'N', 'R')),
        |vals AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN f = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cn,
        |    CAST(SUM(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr
        |  FROM x GROUP BY v),
        |rk AS (SELECT v, cnt, ca, cn, cr,
        |    COALESCE(CAST(SUM(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS prev_cum
        |  FROM vals),
        |agg AS (SELECT
        |    CAST(SUM(ca * (2 * prev_cum + cnt + 1)) AS BIGINT) AS ra2,
        |    CAST(SUM(cn * (2 * prev_cum + cnt + 1)) AS BIGINT) AS rn2,
        |    CAST(SUM(cr * (2 * prev_cum + cnt + 1)) AS BIGINT) AS rr2,
        |    CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cn) AS BIGINT) AS nn,
        |    CAST(SUM(cr) AS BIGINT) AS nr,
        |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term,
        |    CAST(SUM(cnt) AS BIGINT) AS n
        |  FROM rk)
        |SELECT na AS n_a, nn AS n_n, nr AS n_r,
        |  ROUND((12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
        |     * (CAST(ra2 AS DOUBLE) * CAST(ra2 AS DOUBLE) / (4.0 * CAST(na AS DOUBLE))
        |      + CAST(rn2 AS DOUBLE) * CAST(rn2 AS DOUBLE) / (4.0 * CAST(nn AS DOUBLE))
        |      + CAST(rr2 AS DOUBLE) * CAST(rr2 AS DOUBLE) / (4.0 * CAST(nr AS DOUBLE)))
        |     - 3.0 * CAST(n + 1 AS DOUBLE))
        |   / (1.0 - CAST(tie_term AS DOUBLE)
        |       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))),
        |   6) AS h_stat
        | FROM agg""".stripMargin.replace("\n", "")) {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val x = Tables.lineitem(s, d)
          .filter(col("l_returnflag").isin("A", "N", "R"))
          .select(round(col("l_quantity") * 100).cast("long").as("v"),
            col("l_returnflag").as("f"))
        val vals = x.groupBy("v").agg(
          count(lit(1)).as("cnt"),
          sum(when(col("f") === "A", 1L).otherwise(0L)).as("ca"),
          sum(when(col("f") === "N", 1L).otherwise(0L)).as("cn"),
          sum(when(col("f") === "R", 1L).otherwise(0L)).as("cr"))
        val rk = vals.withColumn("prev_cum",
          coalesce(sum("cnt").over(Window.orderBy("v")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val w = lit(2L) * col("prev_cum") + col("cnt") + 1
        val agg = rk.agg(
          sum(col("ca") * w).as("ra2"), sum(col("cn") * w).as("rn2"),
          sum(col("cr") * w).as("rr2"),
          sum("ca").as("na"), sum("cn").as("nn"), sum("cr").as("nr"),
          sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie_term"),
          sum("cnt").as("n"))
        // groups land in FIXED columns: the three R²/n terms add in one
        // explicit order, so the double chain is identical both engines
        val nd = col("n").cast("double")
        def term(r2: String, nj: String) =
          col(r2).cast("double") * col(r2).cast("double") /
            (lit(4.0) * col(nj).cast("double"))
        val h = (lit(12.0) / (nd * (col("n") + 1).cast("double")) *
          (term("ra2", "na") + term("rn2", "nn") + term("rr2", "nr")) -
          lit(3.0) * (col("n") + 1).cast("double")) /
          (lit(1.0) - col("tie_term").cast("double") / (nd * nd * nd - nd))
        agg.select(col("na").as("n_a"), col("nn").as("n_n"), col("nr").as("n_r"),
          round(h, 6).as("h_stat"))
      }
    },

    sql("a28_welch_ttest",
      "A28: Welch two-sample t-test — does returned ('R') merchandise ship in different quantities than accepted ('A')? The unequal-variance A/B-test primitive behind every metrics dashboard. Quantities are exact 2-dp decimals scaled to integer centi-units, so n/Σx/Σx² are exact BIGINT power sums (map-side combine, two grand totals); t and the Welch–Satterthwaite df come out of one FIXED IEEE chain both engines evaluate identically — bit-portable without a stats library",
      """WITH q AS (SELECT l_returnflag AS f, CAST(round(l_quantity * 100) AS BIGINT) AS c
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |m AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s1,
        |  CAST(SUM(c * c) AS BIGINT) AS s2 FROM q GROUP BY 1),
        |w AS (SELECT
        |  MAX(CASE WHEN f = 'A' THEN n END) AS na, MAX(CASE WHEN f = 'A' THEN s1 END) AS sa1,
        |  MAX(CASE WHEN f = 'A' THEN s2 END) AS sa2,
        |  MAX(CASE WHEN f = 'R' THEN n END) AS nr, MAX(CASE WHEN f = 'R' THEN s1 END) AS sr1,
        |  MAX(CASE WHEN f = 'R' THEN s2 END) AS sr2 FROM m),
        |v AS (SELECT na, nr,
        |  CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
        |  CAST(sr1 AS DOUBLE) / CAST(nr AS DOUBLE) AS mr,
        |  (CAST(sa2 AS DOUBLE) - CAST(sa1 AS DOUBLE) * CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE))
        |    / CAST(na - 1 AS DOUBLE) / CAST(na AS DOUBLE) AS va_n,
        |  (CAST(sr2 AS DOUBLE) - CAST(sr1 AS DOUBLE) * CAST(sr1 AS DOUBLE) / CAST(nr AS DOUBLE))
        |    / CAST(nr - 1 AS DOUBLE) / CAST(nr AS DOUBLE) AS vr_n FROM w)
        |SELECT na AS n_a, nr AS n_r, ROUND(ma / 100.0, 4) AS mean_a, ROUND(mr / 100.0, 4) AS mean_r,
        |  ROUND((ma - mr) / sqrt(va_n + vr_n), 4) AS t_stat,
        |  ROUND((va_n + vr_n) * (va_n + vr_n)
        |    / (va_n * va_n / CAST(na - 1 AS DOUBLE) + vr_n * vr_n / CAST(nr - 1 AS DOUBLE)), 2) AS df
        | FROM v""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val m = Tables.lineitem(s, d)
          .filter(col("l_returnflag").isin("A", "R"))
          .select(col("l_returnflag").as("f"),
            round(col("l_quantity") * 100).cast("long").as("c"))
          .groupBy("f")
          .agg(count(lit(1)).as("n"), sum("c").as("s1"),
            sum(col("c") * col("c")).as("s2"))
        val w = m.agg(
          max(when(col("f") === "A", col("n"))).as("na"),
          max(when(col("f") === "A", col("s1"))).as("sa1"),
          max(when(col("f") === "A", col("s2"))).as("sa2"),
          max(when(col("f") === "R", col("n"))).as("nr"),
          max(when(col("f") === "R", col("s1"))).as("sr1"),
          max(when(col("f") === "R", col("s2"))).as("sr2"))
        val ma = col("sa1").cast("double") / col("na").cast("double")
        val mr = col("sr1").cast("double") / col("nr").cast("double")
        val vaN = (col("sa2").cast("double")
          - col("sa1").cast("double") * col("sa1").cast("double") / col("na").cast("double")) /
          (col("na") - 1).cast("double") / col("na").cast("double")
        val vrN = (col("sr2").cast("double")
          - col("sr1").cast("double") * col("sr1").cast("double") / col("nr").cast("double")) /
          (col("nr") - 1).cast("double") / col("nr").cast("double")
        w.select(col("na").as("n_a"), col("nr").as("n_r"),
          round(ma / 100.0, 4).as("mean_a"), round(mr / 100.0, 4).as("mean_r"),
          round((ma - mr) / sqrt(vaN + vrN), 4).as("t_stat"),
          round((vaN + vrN) * (vaN + vrN)
            / (vaN * vaN / (col("na") - 1).cast("double")
              + vrN * vrN / (col("nr") - 1).cast("double")), 2).as("df"))
      }
    },

    sql("a26_mutual_information",
      "A26: categorical dependence audit — per-cell pointwise mutual information and MI contribution over (returnflag × linestatus), from one contingency-table agg plus margin windows on the CELL SLIVER (≤ |A|·|B| rows at any scale). All counts exact BIGINT; pmi = ln of ONE correctly-rounded division of exact integer products (n·N and n_r·n_c stay ≤ ~1e12, no overflow), the t10/t12-proven portable shape; the redundant-feature / leaky-label detector",
      """WITH c AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT rf, ls, n,
        |  CAST(SUM(n) OVER (PARTITION BY rf) AS BIGINT) AS n_r,
        |  CAST(SUM(n) OVER (PARTITION BY ls) AS BIGINT) AS n_c,
        |  CAST(SUM(n) OVER () AS BIGINT) AS tot FROM c)
        |SELECT rf, ls, n,
        |  ROUND(ln(CAST(n * tot AS DOUBLE) / CAST(n_r * n_c AS DOUBLE)), 4) AS pmi,
        |  ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
        |    * ln(CAST(n * tot AS DOUBLE) / CAST(n_r * n_c AS DOUBLE)), 6) AS mi_part
        | FROM m ORDER BY rf, ls""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val cells = Tables.lineitem(s, d)
          .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
          .agg(count(lit(1)).as("n"))
        val m = cells
          .withColumn("n_r", sum("n").over(W.partitionBy("rf")))
          .withColumn("n_c", sum("n").over(W.partitionBy("ls")))
          .withColumn("tot", sum("n").over(W.partitionBy()))
        val ratio = (col("n") * col("tot")).cast("double") /
          (col("n_r") * col("n_c")).cast("double")
        m.select(col("rf"), col("ls"), col("n"),
            round(log(ratio), 4).as("pmi"),
            round(col("n").cast("double") / col("tot").cast("double")
              * log(ratio), 6).as("mi_part"))
          .orderBy("rf", "ls")
      }
    }
  )
}
