package graft.queries

import org.apache.spark.sql.functions._
import graft.QuerySpec
import graft.QuerySpec.{rowsOnly, sql}
import graft.model.Tables
import graft.ops.Det

/** Set operations (U1/U2-variant), sampling (O3), preview (O4), grouping
  * sets (A13), distinct aggregates (A14), and string/date helpers (F7/F8)
  * — the SURVEY.md Phase-5 items the reference lacks.
  */
object ExtraQueries {

  import Det.Sql.{dsum => ssum}

  /** Shared a13-family substrate: the fact aggregated ONCE to the
    * (flag, status) sliver with exact-decimal revenue partials. ROLLUP/
    * CUBE/GROUPING SETS then Expand ~6 rows instead of the fact — Spark's
    * grouping-sets plan otherwise replicates EVERY input row once per
    * grouping set before any aggregation (ds2's sf10 rung measured the
    * direct form at 2.4× the sliver form). Decimal sums and counts
    * re-aggregate associatively, so results are bit-identical. */
  private def a13Base(s: org.apache.spark.sql.SparkSession, d: String) = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 4)
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_part"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec))
          .as("rev_part"))
  }

  /** d4 PRODUCTION plan: plain-double z-score + min-max against broadcast
    * global stats — a feature pass feeds the next stage, so nothing is
    * rounded and nothing is sorted. The ORACLE variant below restructures
    * the outputs into exact decimals instead; round 6 proved per-row
    * `round(double)` is NOT engine-portable (Spark's Round goes through
    * BigDecimal — shortest-decimal repr, HALF_UP, and NO signed zero —
    * while DuckDB rounds the binary value, so 60k per-row roundings
    * guarantee a representation flip somewhere). */
  private def featureScaling(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame = {
    val li = Tables.lineitem(s, d)
    val p = col("l_extendedprice")
    val stats = li.agg(
      Det.davg(p).as("mu"),
      sum((p * p).cast(org.apache.spark.sql.types.DecimalType(38, 4)))
        .cast("double").as("sumsq"),
      count(lit(1)).as("n"),
      min(p).as("lo"), max(p).as("hi"))
    li.crossJoin(broadcast(stats))
      .select(col("l_orderkey"), col("l_linenumber"),
        ((p - col("mu")) /
          sqrt((col("sumsq") - col("mu") * col("mu") * col("n")) / (col("n") - 1)))
          .as("z_score"),
        ((p - col("lo")) / (col("hi") - col("lo"))).as("minmax"))
  }

  /** u15's versioned table, built once per corpus dir (base snapshot +
    * two delta changelogs; Bench calls this from the untimed prepare
    * hook, Verify builds on first use). */
  private val u15TablePath =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def ensureU15Table(s: org.apache.spark.sql.SparkSession, d: String): String =
    u15TablePath.getOrElseUpdate(d, {
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      val dir = java.nio.file.Files.createTempDirectory("graft-u15").toString + "/t"
      graft.io.Versioned.write(base, dir)
      // delta v2: %10==3 → 'U' at seq 2 (with a superseded seq-1 'X'
      // exercising in-batch latest-seq-wins), %10==7 deleted
      val d1 = base.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("op", lit("upsert")).withColumn("seq", lit(1L))
        .unionByName(base.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("op", lit("upsert")).withColumn("seq", lit(2L)))
        .unionByName(base.filter(col("o_orderkey") % 10 === 7)
          .withColumn("op", lit("delete")).withColumn("seq", lit(1L)))
      graft.io.Versioned.writeDelta(d1, dir, keys = Seq("o_orderkey"))
      // delta v3: inserts, plus %100==3 re-upserted to 'V' at seq 1 —
      // beats v2's seq-2 'U' because versions fold in order (seq only
      // ranks within one changelog batch)
      val d2 = base.filter(col("o_orderkey") % 100 === 1)
        .withColumn("o_orderkey", -col("o_orderkey"))
        .withColumn("o_orderstatus", lit("I"))
        .withColumn("op", lit("upsert")).withColumn("seq", lit(1L))
        .unionByName(base.filter(col("o_orderkey") % 100 === 3)
          .withColumn("o_orderstatus", lit("V"))
          .withColumn("op", lit("upsert")).withColumn("seq", lit(1L)))
      graft.io.Versioned.writeDelta(d2, dir, keys = Seq("o_orderkey"))
      dir
    })

  /** Deterministic customer-segment changelog for the SCD-2 queries
    * (u18 / j9): a base version for every customer effective 1995-07-01
    * (after the earliest orders, so pre-version facts exercise the
    * no-match path) plus an 'UPGRADED' version for custkey%3=0 at a
    * key-derived 1997-98 date. Mirrored literally by the oracle CTE. */
  private def scdChangelog(s: org.apache.spark.sql.SparkSession,
                           d: String): org.apache.spark.sql.DataFrame = {
    val cust = Tables.customer(s, d)
    cust.select(col("c_custkey"),
        lit("1995-07-01").cast("timestamp").as("eff"),
        col("c_mktsegment").as("segment"))
      .unionByName(cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"),
          date_add(lit("1997-01-01").cast("date"), (col("c_custkey") % 700).cast("int"))
            .cast("timestamp").as("eff"),
          lit("UPGRADED").as("segment")))
  }

  /** Shared with [[JoinQueries]] for the j9 point-in-time join. */
  private[queries] def scd2Dimension(s: org.apache.spark.sql.SparkSession,
                                     d: String): org.apache.spark.sql.DataFrame =
    graft.ops.Scd.buildScd2(scdChangelog(s, d), Seq("c_custkey"), "eff")

  val all: Seq[QuerySpec] = Seq(

    sql("u1_union_all",
      "U1: multi-month UNION ALL append (the reference's per-month loop made set-native)",
      """SELECT l_returnflag, COUNT(*) AS total_lines FROM
        | (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem)
        | GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val li = Tables.lineitem(s, d)
        li.unionByName(li)
          .groupBy("l_returnflag").agg(count(lit(1)).as("total_lines"))
          .orderBy("l_returnflag")
      }
    },

    sql("u3_intersect",
      "U1: INTERSECT — customers with both finished and open orders",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        | INTERSECT
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        | ORDER BY o_custkey""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val o = Tables.orders(s, d)
        o.filter(col("o_orderstatus") === "F").select("o_custkey")
          .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
          .orderBy("o_custkey")
      }
    },

    sql("u4_except",
      "U1: EXCEPT — customers with orders but none finished",
      """SELECT o_custkey FROM orders
        | EXCEPT
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        | ORDER BY o_custkey""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val o = Tables.orders(s, d)
        o.select("o_custkey")
          .except(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
          .orderBy("o_custkey")
      }
    },

    sql("u6_except_all",
      "U6: bag-semantics EXCEPT ALL — multiset difference preserves multiplicities (set EXCEPT would collapse them)",
      """SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n FROM (
        | SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'N'
        | EXCEPT ALL
        | SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
        | GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val li = Tables.lineitem(s, d)
        li.filter(col("l_returnflag") === "N").select("l_suppkey")
          .exceptAll(li.filter(col("l_returnflag") === "R").select("l_suppkey"))
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("n"))
          .orderBy("l_suppkey")
      }
    },

    sql("u7_snapshot_diff",
      "U7: snapshot diff — added/removed/changed rows between two table versions (one full-outer shuffle; the reprocessing-regression primitive)",
      // the "new" snapshot is a deterministic perturbation of orders:
      // drop keys %97, bump price on keys %89, add negated keys %83
      """WITH base AS (SELECT o_orderkey AS k, o_custkey AS c, o_totalprice AS p, o_orderstatus AS st FROM orders),
        |newv AS (
        | SELECT k, c, p + CASE WHEN k % 89 = 0 THEN 1.0 ELSE 0.0 END AS p, st FROM base WHERE k % 97 <> 0
        | UNION ALL SELECT -k, c, p, st FROM base WHERE k % 83 = 0),
        |d AS (SELECT COALESCE(o.k, n.k) AS o_orderkey,
        | CASE WHEN o.k IS NULL THEN 'added'
        |      WHEN n.k IS NULL THEN 'removed'
        |      WHEN o.c IS DISTINCT FROM n.c OR o.p IS DISTINCT FROM n.p
        |           OR o.st IS DISTINCT FROM n.st THEN 'changed'
        |      ELSE 'unchanged' END AS change
        | FROM base o FULL JOIN newv n ON o.k = n.k)
        |SELECT o_orderkey, change FROM d WHERE change <> 'unchanged'
        | ORDER BY o_orderkey, change""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val base = Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        val newSnap = base.filter(col("o_orderkey") % 97 =!= 0)
          .withColumn("o_totalprice",
            col("o_totalprice") + when(col("o_orderkey") % 89 === 0, 1.0).otherwise(0.0))
          .unionByName(base.filter(col("o_orderkey") % 83 === 0)
            .withColumn("o_orderkey", -col("o_orderkey")))
        graft.ops.Diff.snapshotDiff(base, newSnap, Seq("o_orderkey"))
          .orderBy("o_orderkey", "change")
      }
    }.withBench { (s, d) =>
      // production: value columns collapse to one xxhash64 before the
      // full-outer join — wide rows shuffle 8 payload bytes (parity with
      // the exact form pinned in DiffSpec)
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val newSnap = base.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          col("o_totalprice") + when(col("o_orderkey") % 89 === 0, 1.0).otherwise(0.0))
        .unionByName(base.filter(col("o_orderkey") % 83 === 0)
          .withColumn("o_orderkey", -col("o_orderkey")))
      graft.ops.Diff.snapshotDiffHashed(base, newSnap, Seq("o_orderkey"))
    },

    sql("u8_cdc_apply",
      "U8: MERGE/upsert — apply a CDC changelog (upsert/delete, out-of-order seq, latest-per-key wins) to a keyed snapshot in one anti-join + union; the idempotent incremental-load primitive",
      // changelog (from deterministic key classes): keys %10==3 get a
      // superseded seq-1 status 'X' then a winning seq-2 status 'U';
      // keys %10==7 are deleted at seq 1; negated keys %100==1 are inserts.
      // Expected = base minus deletions, %10==3 at status 'U', plus inserts.
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM (
        | SELECT o_orderkey, o_custkey,
        |        CASE WHEN o_orderkey % 10 = 3 THEN 'U' ELSE o_orderstatus END AS o_orderstatus
        |   FROM orders WHERE o_orderkey % 10 <> 7
        | UNION ALL
        | SELECT -o_orderkey, o_custkey, 'I' FROM orders WHERE o_orderkey % 100 = 1)
        | ORDER BY o_orderkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        val base = Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderstatus")
        val changes =
          base.filter(col("o_orderkey") % 10 === 3)
            .withColumn("o_orderstatus", lit("X"))
            .withColumn("op", lit("upsert")).withColumn("seq", lit(1L))
          .unionByName(base.filter(col("o_orderkey") % 10 === 3)
            .withColumn("o_orderstatus", lit("U"))
            .withColumn("op", lit("upsert")).withColumn("seq", lit(2L)))
          .unionByName(base.filter(col("o_orderkey") % 10 === 7)
            .withColumn("op", lit("delete")).withColumn("seq", lit(1L)))
          .unionByName(base.filter(col("o_orderkey") % 100 === 1)
            .withColumn("o_orderkey", -col("o_orderkey"))
            .withColumn("o_orderstatus", lit("I"))
            .withColumn("op", lit("upsert")).withColumn("seq", lit(1L)))
        graft.ops.Merge.applyChangeLog(base, changes, Seq("o_orderkey"))
    }.oracleOrder("o_orderkey"),

    sql("u15_versioned_delta",
      "U7++: delta-sized versioned snapshots — a full base snapshot plus a chain of two U8 CDC changelog versions (storage ∝ changes, not table size), resolved through Versioned.read. Exercises latest-seq-wins WITHIN a delta (superseded seq-1 'X') and version-order-wins ACROSS deltas (a later version's seq-1 overwrites an earlier version's seq-2); oracle replays the same deterministic key-class edits in SQL",
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM (
        | SELECT o_orderkey, o_custkey,
        |        CASE WHEN o_orderkey % 100 = 3 THEN 'V'
        |             WHEN o_orderkey % 10 = 3 THEN 'U'
        |             ELSE o_orderstatus END AS o_orderstatus
        |   FROM orders WHERE o_orderkey % 10 <> 7
        | UNION ALL
        | SELECT -o_orderkey, o_custkey, 'I' FROM orders WHERE o_orderkey % 100 = 1)
        | ORDER BY o_orderkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // a real version-history round-trip, not an in-memory fold: base
        // lands as full v1, two changelogs land as delta v2/v3 (each
        // writes only its changed rows), and the read resolves
        // base + chain through applyChangeLog. At 100 TB this is the
        // whole point: v2/v3 cost ∝ the day's changes while a write()
        // snapshot would copy the archive. The table builds ONCE per
        // corpus dir (Bench's untimed prepare hook), so timed passes
        // measure the chain-resolving read this query exists to
        // exercise, not three table writes per pass.
        graft.io.Versioned.read(s, ensureU15Table(s, d))
    }.oracleOrder("o_orderkey").withPrepare((s, d) => { ensureU15Table(s, d); () }),


    sql("u9_incremental_agg",
      "U9: incremental aggregation maintenance — merge per-key algebraic states (count/decimal-sum/min/max) from a prior slice and a new batch; bit-identical to full recompute, new data only is scanned",
      s"""SELECT l_returnflag, l_linestatus, COUNT(l_quantity) AS cnt,
         | ${ssum("l_quantity")} AS sum_v,
         | ${ssum("l_quantity")} / COUNT(l_quantity) AS avg_v,
         | MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v
         | FROM lineitem GROUP BY 1, 2
         | ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // the engine path NEVER aggregates the full table in one pass: the
        // "history" and "today's batch" slices are aggregated separately
        // (disjoint on l_orderkey % 5) and their states merged — the
        // incremental pattern where history states come from yesterday's
        // checkpoint instead of a rescan
        val keys = Seq("l_returnflag", "l_linestatus")
        val li = Tables.lineitem(s, d)
        val history = graft.ops.Merge.partialStats(
          li.filter(col("l_orderkey") % 5 =!= 0), keys, "l_quantity")
        val batch = graft.ops.Merge.partialStats(
          li.filter(col("l_orderkey") % 5 === 0), keys, "l_quantity")
        graft.ops.Merge.finalizeStats(
          graft.ops.Merge.mergeStats(Seq(history, batch), keys), keys)
          .orderBy("l_returnflag", "l_linestatus")
      }
    },

    sql("u10_incremental_quantiles",
      "U10: mergeable quantile state — per-slice value-histogram states merged across slices, exact interpolated finalize (quantile_cont semantics); the 'p95 updated nightly' dashboard without rescanning history. Oracle compares against a direct full-data quantile; production swaps the exact histogram for the fixed-bin-width sketch",
      """SELECT l_returnflag, l_linestatus,
        | ROUND(quantile_cont(l_quantity, 0.25), 4) AS q25,
        | ROUND(quantile_cont(l_quantity, 0.50), 4) AS q50,
        | ROUND(quantile_cont(l_quantity, 0.75), 4) AS q75,
        | ROUND(quantile_cont(l_quantity, 0.95), 4) AS q95
        | FROM lineitem GROUP BY 1, 2
        | ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // history/batch slices (disjoint on l_orderkey % 5, as in u9) are
        // histogrammed separately and their states merged — at scale the
        // history state comes from yesterday's parquet, not a rescan
        val keys = Seq("l_returnflag", "l_linestatus")
        val li = Tables.lineitem(s, d)
        val history = graft.ops.Merge.partialQuantileState(
          li.filter(col("l_orderkey") % 5 =!= 0), keys, "l_quantity")
        val batch = graft.ops.Merge.partialQuantileState(
          li.filter(col("l_orderkey") % 5 === 0), keys, "l_quantity")
        val q = graft.ops.Merge.finalizeQuantiles(
          graft.ops.Merge.mergeQuantileStates(Seq(history, batch), keys),
          keys, Seq(0.25, 0.50, 0.75, 0.95))
        // long → wide on the exact p literals inserted above
        q.groupBy(keys.map(col): _*)
          .agg(
            max(when(col("p") === 0.25, col("q"))).as("q25"),
            max(when(col("p") === 0.50, col("q"))).as("q50"),
            max(when(col("p") === 0.75, col("q"))).as("q75"),
            max(when(col("p") === 0.95, col("q"))).as("q95"))
          .orderBy("l_returnflag", "l_linestatus")
      }
    }.withBench { (s, d) =>
      // production: fixed-bin-width sketch state (state size bounded by
      // range/width regardless of value cardinality; finalize error ≤ one
      // bin width — MergeSpec pins the bound), no oracle sort
      val keys = Seq("l_returnflag", "l_linestatus")
      val li = Tables.lineitem(s, d)
      val history = graft.ops.Merge.binnedQuantileState(
        li.filter(col("l_orderkey") % 5 =!= 0), keys, "l_quantity", binWidth = 1.0)
      val batch = graft.ops.Merge.binnedQuantileState(
        li.filter(col("l_orderkey") % 5 === 0), keys, "l_quantity", binWidth = 1.0)
      graft.ops.Merge.finalizeQuantiles(
        graft.ops.Merge.mergeQuantileStates(Seq(history, batch), keys),
        keys, Seq(0.25, 0.50, 0.75, 0.95))
    },

    sql("u11_incremental_distinct",
      "U11: mergeable distinct-count state — per-slice distinct value sets merged by set union (overlap-safe, unlike the counting states), exact COUNT(DISTINCT) finalize; production swaps in the HLL sketch state (fixed-size registers, lossless max-merge) benched below",
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS distinct_cnt
        | FROM lineitem GROUP BY 1
        | ORDER BY l_returnflag""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // history/batch slices are disjoint on ROWS (l_orderkey % 5) but
        // OVERLAP heavily on partkey values — exactly what set-union
        // merge absorbs and a count-merge would double-count
        val keys = Seq("l_returnflag")
        val li = Tables.lineitem(s, d)
        val history = graft.ops.Merge.partialDistinctState(
          li.filter(col("l_orderkey") % 5 =!= 0), keys, "l_partkey")
        val batch = graft.ops.Merge.partialDistinctState(
          li.filter(col("l_orderkey") % 5 === 0), keys, "l_partkey")
        graft.ops.Merge.finalizeDistinct(
          graft.ops.Merge.mergeDistinctStates(Seq(history, batch)), keys)
          .orderBy("l_returnflag")
      }
    }.withBench { (s, d) =>
      // production: HLL sketch states (2^12 registers per key regardless
      // of cardinality); merged estimate == direct-sketch estimate and
      // ≤2% off exact — pinned in MergeSpec
      val keys = Seq("l_returnflag")
      val li = Tables.lineitem(s, d)
      val history = graft.ops.Merge.hllDistinctState(
        li.filter(col("l_orderkey") % 5 =!= 0), keys, "l_partkey")
      val batch = graft.ops.Merge.hllDistinctState(
        li.filter(col("l_orderkey") % 5 === 0), keys, "l_partkey")
      graft.ops.Merge.finalizeHllDistinct(
        graft.ops.Merge.mergeHllDistinctStates(Seq(history, batch), keys), keys)
    },

    sql("u12_incremental_moments",
      "U12: mergeable moment state — per-slice integer power sums (n, Σv..Σv⁴ in DECIMAL(38,0), bit-exact cross-engine) merged by addition; mean/variance/skewness/kurtosis derived at finalize through a fixed IEEE shape the oracle mirrors term by term (§7.5(f) rules 1+2)",
      """WITH b AS (SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS v
        |  FROM lineitem WHERE l_quantity IS NOT NULL),
        |st AS (SELECT l_returnflag, l_linestatus, COUNT(v) AS n,
        |  SUM(v) AS s1, SUM(v*v) AS s2, SUM(v*v*v) AS s3, SUM(v*v*v*v) AS s4
        |  FROM b GROUP BY 1, 2),
        |m AS (SELECT l_returnflag, l_linestatus, n,
        |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |  CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
        |  CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
        |  CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
        |  FROM st)
        |SELECT l_returnflag, l_linestatus, n, mu AS mean_v,
        | ROUND(r2 - mu*mu, 6) AS var_pop,
        | ROUND((r3 - 3*mu*r2 + 2*mu*mu*mu) / POWER(r2 - mu*mu, 1.5), 6) AS skew_v,
        | ROUND((r4 - 4*mu*r3 + 6*mu*mu*r2 - 3*mu*mu*mu*mu)
        |   / ((r2 - mu*mu) * (r2 - mu*mu)) - 3, 6) AS kurt_v
        | FROM m ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val keys = Seq("l_returnflag", "l_linestatus")
        val li = Tables.lineitem(s, d)
        val history = graft.ops.Merge.partialMomentState(
          li.filter(col("l_orderkey") % 5 =!= 0), keys, "l_quantity")
        val batch = graft.ops.Merge.partialMomentState(
          li.filter(col("l_orderkey") % 5 === 0), keys, "l_quantity")
        graft.ops.Merge.finalizeMoments(
          graft.ops.Merge.mergeMomentStates(Seq(history, batch), keys), keys)
          .orderBy("l_returnflag", "l_linestatus")
      }
    },

    sql("u13_incremental_topk",
      "U13: mergeable top-k heavy-hitter state — per-slice (key, value, cnt) frequency tables merged by count addition, top-5 tokens per source at finalize via one window over STATE rows; the nightly 'most frequent tokens per source' dashboard without rescanning history",
      """WITH tok AS (SELECT source, UNNEST(string_split(text, ' ')) AS v FROM documents),
        |c AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
        |r AS (SELECT source, v, cnt,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, v ASC) AS BIGINT) AS rn
        |  FROM c)
        |SELECT source, v, cnt, rn FROM r WHERE rn <= 5
        | ORDER BY source, rn""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            explode(graft.ops.TextOps.tokens(col("text"))).as("tok"))
        val history = graft.ops.Merge.partialFreqState(
          toks.filter(col("doc_id") % 5 =!= 0), Seq("source"), "tok")
        val batch = graft.ops.Merge.partialFreqState(
          toks.filter(col("doc_id") % 5 === 0), Seq("source"), "tok")
        graft.ops.Merge.finalizeTopK(
          graft.ops.Merge.mergeFreqStates(Seq(history, batch), Seq("source")),
          Seq("source"), 5)
          .orderBy("source", "rn")
      }
    },

    sql("u14_incremental_sample",
      "U14: mergeable uniform-sample state — per-slice bottom-k-by-hash (KMV) samples merged to exactly the sample a full rescan would draw (bottom-k(A∪B) == bottom-k of the slices' bottom-k's); the 'fixed 5-row audit sample per flag, updated per batch' primitive. md5 priority for the oracle, xxhash64 in production",
      """SELECT l_returnflag, l_orderkey, l_linenumber, rn FROM (
        | SELECT l_returnflag, l_orderkey, l_linenumber,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |   ORDER BY md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))) AS BIGINT) AS rn
        | FROM lineitem)
        | WHERE rn <= 5 ORDER BY l_returnflag, rn""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // history/batch slices (disjoint on l_orderkey % 5, the u9
        // discipline) are sampled separately and the STATES merged — at
        // scale the history state is yesterday's 5-rows-per-key parquet,
        // so maintaining the sample costs one window over the new batch
        // plus a merge over k·|keys| state rows, never a rescan
        val keys = Seq("l_returnflag")
        val li = Tables.lineitem(s, d)
          .select("l_returnflag", "l_orderkey", "l_linenumber")
        val pri = graft.ops.Merge.samplePriorityPortable(
          Seq("l_orderkey", "l_linenumber"))
        val history = graft.ops.Merge.partialSampleState(
          li.filter(col("l_orderkey") % 5 =!= 0), keys, pri, 5)
        val batch = graft.ops.Merge.partialSampleState(
          li.filter(col("l_orderkey") % 5 === 0), keys, pri, 5)
        graft.ops.Merge.finalizeSample(
          graft.ops.Merge.mergeSampleStates(Seq(history, batch), keys, 5), keys)
          .orderBy("l_returnflag", "rn")
      }
    }.withBench { (s, d) =>
      // production: xxhash64 priority (8-byte, Spark-native), no oracle sort
      val keys = Seq("l_returnflag")
      val li = Tables.lineitem(s, d)
        .select("l_returnflag", "l_orderkey", "l_linenumber")
      val pri = graft.ops.Merge.samplePriorityFast(Seq("l_orderkey", "l_linenumber"))
      val history = graft.ops.Merge.partialSampleState(
        li.filter(col("l_orderkey") % 5 =!= 0), keys, pri, 5)
      val batch = graft.ops.Merge.partialSampleState(
        li.filter(col("l_orderkey") % 5 === 0), keys, pri, 5)
      graft.ops.Merge.finalizeSample(
        graft.ops.Merge.mergeSampleStates(Seq(history, batch), keys, 5), keys)
    },

    sql("d8_target_encoding",
      "D8: leave-one-out target encoding with m-estimate smoothing — each order's priority encoded as (cat_sum − own_target + m·global_mean) / (cat_n − 1 + m), m=20: the classic high-cardinality-categorical feature WITHOUT self-leakage (own row excluded) or small-category blowup (prior pull). Category sums in exact DECIMAL; the encode itself is a fixed IEEE shape both engines replay bit-for-bit. Per-cat stats are a 5-row sliver joined back map-side — no window over the fact table",
      """WITH g AS (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |             / COUNT(*) AS gmean FROM orders),
        |c AS (SELECT o_orderpriority AS cat, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS s
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, o_orderpriority,
        |  (s - o_totalprice + 20.0 * gmean) / CAST(n - 1 + 20 AS DOUBLE) AS loo_encoding
        | FROM orders JOIN c ON o_orderpriority = cat CROSS JOIN g
        | ORDER BY o_orderkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        val W = org.apache.spark.sql.expressions.Window
        val Dec = org.apache.spark.sql.types.DecimalType(18, 4)
        val orders = Tables.orders(s, d)
        val cats = orders.groupBy(col("o_orderpriority").as("cat"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(Dec)).cast("double").as("s"))
        // global mean over the 5-row cat sliver (same value as a direct
        // global agg since the decimal sums add exactly)
        val w = W.partitionBy(lit(1))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        val withG = cats.withColumn("gmean",
          sum(col("s").cast(Dec)).over(w).cast("double") /
            sum(col("n")).over(w))
        orders.join(withG, col("o_orderpriority") === col("cat"))
          .select(col("o_orderkey"), col("o_orderpriority"),
            ((col("s") - col("o_totalprice") + lit(20.0) * col("gmean"))
              / (col("n") - 1 + 20).cast("double")).as("loo_encoding"))
    }.oracleOrder("o_orderkey"),

    sql("u19_kmv_overlap",
      "U19: KMV set-operation sketch — per-source bottom-256 shingle-hash states (value-keyed priorities, so slices may OVERLAP on values: merge dedups by (key, pri), at-least-once-safe) answer the cross-source distinct-overlap question the U11 distinct states cannot: for each source pair, the bottom-L of the two sketches' union is a uniform sample of the union of their shingle SETS and the both-present fraction estimates Jaccard (Beyer et al. SIGMOD'07); sets under k make the estimate exact. md5 priorities for the oracle, xxhash64 in production",
      s"""WITH sh AS (SELECT source, UNNEST(${graft.queries.DedupQueries.shingleListSql(3)}) AS g FROM documents),
         |st AS (SELECT source, pri FROM (
         |  SELECT source, md5(g) AS pri,
         |   ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(g)) AS rn
         |  FROM (SELECT DISTINCT source, g FROM sh)) WHERE rn <= 256),
         |ks AS (SELECT DISTINCT source FROM documents),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b FROM ks a JOIN ks b ON a.source < b.source),
         |u AS (SELECT src_a, src_b, pri,
         |  MAX(CASE WHEN st.source = src_a THEN 1 ELSE 0 END) AS ina,
         |  MAX(CASE WHEN st.source = src_b THEN 1 ELSE 0 END) AS inb
         | FROM pr JOIN st ON st.source = src_a OR st.source = src_b GROUP BY 1, 2, 3),
         |r AS (SELECT src_a, src_b, ina, inb,
         |  ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY pri) AS rn FROM u)
         |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS l,
         |  CAST(SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS matches,
         |  CAST(SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS jaccard_est
         | FROM r WHERE rn <= 256 GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // history/batch slices (doc_id parity) share most shingles —
        // exactly the value overlap the (key, pri) dedup merge absorbs.
        // Both slice states come from ONE corpus scan (kmvStateSliced
        // keyed on (source, parity)); the old two-kmvState form re-read
        // and re-exploded documents once per slice for the same rows.
        // Everything downstream is sketch-sized (|sources|·k rows).
        // widened substrate: the md5-per-shingle distinct is the heaviest
        // per-row map stage in the suite — the size-gated repartition
        // restores scan parallelism on the single-row-group corpus
        // (Tables.widened doc; 4.4 s -> 1.1 s state build, same JVM)
        val docs = Tables.widened(s, d, "documents")
        // token array STAGED as a projected attribute before the shingle
        // lambda (the Dedup.shinglesFromTokens contract): the inline
        // shingles(text) form re-splits the text per element_at — O(len²)
        // per doc and the heaviest interpreted loop in the suite when the
        // JIT lags behind (measured 16.6 s suite / 2.6 s solo at sf0.1;
        // staged: ~1 s both). Same shingle strings, same oracle rows.
        val sliced = graft.ops.Merge.kmvStateSliced(
          docs.select(col("source"), (col("doc_id") % 2).as("__slice"),
              col("text"), graft.ops.Dedup.tokens(col("text")).as("__ws"))
            .select(col("source"), col("__slice"),
              explode(graft.ops.Dedup.shinglesFromTokens(col("text"), col("__ws"))).as("g")),
          "source", "__slice", md5(col("g")), k = 256)
        val merged = graft.ops.Merge.mergeKmvStates(
          Seq(sliced.drop("__slice")), "source", k = 256)
        graft.ops.Merge.kmvPairwiseJaccard(merged, "source", k = 256)
          .orderBy("src_a", "src_b")
      }
    }.withBench { (s, d) =>
      // production: xxhash64 priorities (8-byte longs through every
      // shuffle instead of 32-char md5 text), no oracle sort; same
      // single-scan sliced-state + merge shape as the oracle form
      val docs = Tables.widened(s, d, "documents")
      // staged token array — same rationale as the oracle path above
      val sliced = graft.ops.Merge.kmvStateSliced(
        docs.select(col("source"), (col("doc_id") % 2).as("__slice"),
            col("text"), graft.ops.Dedup.tokens(col("text")).as("__ws"))
          .select(col("source"), col("__slice"),
            explode(graft.ops.Dedup.shinglesFromTokens(col("text"), col("__ws"))).as("g")),
        "source", "__slice", xxhash64(col("g")), k = 256)
      val merged = graft.ops.Merge.mergeKmvStates(
        Seq(sliced.drop("__slice")), "source", k = 256)
      graft.ops.Merge.kmvPairwiseJaccard(merged, "source", k = 256)
    },

    sql("u20_bloom_probe",
      "U20: mergeable BLOOM membership state — per-flag filters over referenced part keys held AS ROWS ((key, word, bits), 63-bit lanes), merged by bit_or (idempotent + commutative, at-least-once-safe), probed by the part dimension: no false negatives EVER, false positives at the textbook rate and DETERMINISTIC (both engines compute identical md5-window positions, so even the FPs hash-match). The pre-filter-before-expensive-semi-join primitive: state ≤ m/63 rows per key regardless of id-set size. md5 positions for the oracle, xxhash64 in production",
      """WITH v AS (SELECT DISTINCT l_returnflag AS rf, CAST(l_partkey AS VARCHAR) AS val FROM lineitem),
        |pos AS (SELECT rf, ('0x' || substr(md5(val), 1, 7))::BIGINT % 16384 AS p FROM v
        |        UNION ALL SELECT rf, ('0x' || substr(md5(val), 8, 7))::BIGINT % 16384 FROM v),
        |st AS (SELECT rf, p // 63 AS word,
        |  bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits FROM pos GROUP BY 1, 2),
        |f AS (SELECT DISTINCT l_returnflag AS rf FROM lineitem),
        |pr AS (SELECT rf, p_partkey, CAST(p_partkey AS VARCHAR) AS val FROM part CROSS JOIN f),
        |pp AS (SELECT rf, p_partkey, ('0x' || substr(md5(val), 1, 7))::BIGINT % 16384 AS p FROM pr
        |       UNION ALL SELECT rf, p_partkey, ('0x' || substr(md5(val), 8, 7))::BIGINT % 16384 FROM pr),
        |j AS (SELECT pp.rf, pp.p_partkey,
        |   CASE WHEN st.bits IS NOT NULL
        |     AND (st.bits & (1::BIGINT << CAST(pp.p % 63 AS INT))) <> 0 THEN 1 ELSE 0 END AS hit
        |  FROM pp LEFT JOIN st ON pp.rf = st.rf AND pp.p // 63 = st.word)
        |SELECT rf AS l_returnflag, p_partkey, MIN(hit) = 1 AS maybe_member
        | FROM j GROUP BY 1, 2 ORDER BY l_returnflag, p_partkey""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val mBits = 16384L
        // history/batch slices on partkey parity — the bit_or merge is
        // idempotent, so overlapping or replayed slices cost nothing
        val li = Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_partkey")).distinct()
        def sketch(slice: org.apache.spark.sql.DataFrame) =
          graft.ops.Merge.bloomState(
            slice.withColumn("val", col("l_partkey").cast("string")),
            Seq("l_returnflag"),
            graft.ops.Merge.bloomPositionsPortable(col("val"), mBits, 2))
        val state = graft.ops.Merge.mergeBloomStates(Seq(
          sketch(li.filter(col("l_partkey") % 2 === 0)),
          sketch(li.filter(col("l_partkey") % 2 =!= 0))), Seq("l_returnflag"))
        val flags = Tables.lineitem(s, d).select("l_returnflag").distinct()
        val probes = Tables.part(s, d).select(col("p_partkey")).crossJoin(flags)
          .withColumn("val", col("p_partkey").cast("string"))
        graft.ops.Merge.bloomProbe(state, probes, Seq("l_returnflag"),
          graft.ops.Merge.bloomPositionsPortable(col("val"), mBits, 2))
          .select(col("l_returnflag"), col("p_partkey"), col("maybe_member"))
          .orderBy("l_returnflag", "p_partkey")
      }
    }.withBench { (s, d) =>
      // production: xxhash64 positions (no hex parsing), no oracle sort
      val mBits = 16384L
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_partkey")).distinct()
      def sketch(slice: org.apache.spark.sql.DataFrame) =
        graft.ops.Merge.bloomState(
          slice.withColumn("val", col("l_partkey").cast("string")),
          Seq("l_returnflag"),
          graft.ops.Merge.bloomPositionsFast(col("val"), mBits, 2))
      val state = graft.ops.Merge.mergeBloomStates(Seq(
        sketch(li.filter(col("l_partkey") % 2 === 0)),
        sketch(li.filter(col("l_partkey") % 2 =!= 0))), Seq("l_returnflag"))
      val flags = Tables.lineitem(s, d).select("l_returnflag").distinct()
      val probes = Tables.part(s, d).select(col("p_partkey")).crossJoin(flags)
        .withColumn("val", col("p_partkey").cast("string"))
      graft.ops.Merge.bloomProbe(state, probes, Seq("l_returnflag"),
        graft.ops.Merge.bloomPositionsFast(col("val"), mBits, 2))
        .select(col("l_returnflag"), col("p_partkey"), col("maybe_member"))
    },

    sql("u16_retractable_agg",
      "U16: state RETRACTION — honor a delete batch against a persisted algebraic state without rescanning history: counts/decimal-sums subtract (abelian), min/max repaired by rescanning ONLY the dirty keys (those whose deleted values touched a stored extreme) against the remaining data. The GDPR-erasure / late-correction primitive; oracle recomputes directly over the surviving rows",
      s"""SELECT l_returnflag, l_linestatus, COUNT(l_quantity) AS cnt,
         | ${ssum("l_quantity")} AS sum_v,
         | ${ssum("l_quantity")} / COUNT(l_quantity) AS avg_v,
         | MIN(l_quantity) AS min_v, MAX(l_quantity) AS max_v
         | FROM lineitem WHERE l_orderkey % 13 <> 0 GROUP BY 1, 2
         | ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // the state is built ONCE (at scale: yesterday's checkpoint);
        // honoring the delete touches the state rows + the dirty-key
        // sliver of the remaining data, never the archive
        val keys = Seq("l_returnflag", "l_linestatus")
        // (r19: a widen was A/B-measured 1.33× SLOWER — no exchange reuse
        // fires across the state/delete/remaining branches, so the widen
        // multiplied its repartition tax per branch — and reverted; at
        // scale the state is a persisted checkpoint, not an in-query scan)
        val li = Tables.lineitem(s, d)
        val deletes = li.filter(col("l_orderkey") % 13 === 0)
        val remaining = li.filter(col("l_orderkey") % 13 =!= 0)
        val state = graft.ops.Merge.partialStats(li, keys, "l_quantity")
        graft.ops.Merge.finalizeStats(
          graft.ops.Merge.retractStats(state, deletes, remaining, keys, "l_quantity"), keys)
          .orderBy("l_returnflag", "l_linestatus")
      }
    },

    sql("gdpr1_forget_cascade",
      "GDPR capstone: right-to-be-forgotten cascade — forget-keys from the customer table anti-join-purge their orders, and the order stats state absorbs the deletion by RETRACTION (u16) instead of a rescan; oracle recomputes over the surviving orders with NOT EXISTS",
      s"""SELECT o_orderpriority, COUNT(o_totalprice) AS cnt,
         | ${ssum("o_totalprice")} AS sum_v,
         | MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
         | FROM orders WHERE NOT EXISTS (
         |   SELECT 1 FROM customer
         |   WHERE c_custkey = o_custkey AND c_custkey % 97 = 0)
         | GROUP BY 1 ORDER BY o_orderpriority""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // cascade: the forget set is defined on CUSTOMER and propagates
        // to ORDERS via semi/anti joins (AQE broadcasts the key sliver);
        // the persisted per-priority stats state then subtracts the
        // forgotten orders' partial state — at 100 TB this is the
        // difference between honoring an erasure in minutes (state rows
        // + dirty-key sliver) and re-aggregating the archive
        val forget = Tables.customer(s, d)
          .filter(col("c_custkey") % 97 === 0).select("c_custkey")
        // (r19: a widen was A/B-measured 1.27× SLOWER — u16's rationale —
        // and reverted)
        val orders = Tables.orders(s, d)
        val deletes = orders.join(forget,
          orders("o_custkey") === forget("c_custkey"), "leftsemi")
        val remaining = orders.join(forget,
          orders("o_custkey") === forget("c_custkey"), "leftanti")
        val keys = Seq("o_orderpriority")
        val state = graft.ops.Merge.partialStats(orders, keys, "o_totalprice")
        graft.ops.Merge.finalizeStats(
          graft.ops.Merge.retractStats(state, deletes, remaining, keys, "o_totalprice"), keys)
          .drop("avg_v")
          .orderBy("o_orderpriority")
      }
    },

    sql("gdpr2_forget_sketches",
      "GDPR sketch erasure — COUNT-MIN is a LINEAR sketch, so a forgotten doc set's own sketch subtracts CELL-WISE from the persisted state (Merge.retractCmsState) and every post-forget estimate equals a sketch that never saw those docs; the oracle builds the cells from the surviving docs only. The round-9 membership-leak closure made oracle-checkable (bloom/hll need the rebuild path — spec-pinned in StreamStatsSpec/GdprSpec)",
      """WITH d3 AS (SELECT unnest([0, 1, 2]) AS d),
        | toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |   FROM documents WHERE doc_id % 7 <> 0),
        | cells AS (SELECT source, d,
        |   ('0x' || substr(md5(tok), 1 + 7*d, 7))::BIGINT % 1024 AS cell, COUNT(*) AS cnt
        |  FROM toks, d3 GROUP BY 1, 2, 3),
        | probes AS (SELECT source, tok FROM (SELECT DISTINCT source FROM documents),
        |   (SELECT unnest(['the', 'data', 'value', 'table', 'zz_absent']) AS tok)),
        | pp AS (SELECT source, tok, d,
        |   ('0x' || substr(md5(tok), 1 + 7*d, 7))::BIGINT % 1024 AS cell FROM probes, d3)
        | SELECT source, tok, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est_count
        | FROM pp LEFT JOIN cells USING (source, d, cell)
        | GROUP BY source, tok ORDER BY source, tok""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val width = 1024L; val depth = 3
        val docs = Tables.documents(s, d)
        val toks = docs.select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("tok"))
        def pos = graft.ops.Merge.bloomPositionsPortable(col("tok"), width, depth)
        // the persisted full-corpus state honors the erasure by cell
        // subtraction — work ∝ state + the forgotten slice's sketch,
        // never a corpus rescan; at 100 TB this is the only way an
        // always-on frequency monitor can forget a user on request
        val state = graft.ops.Merge.retractCmsState(
          graft.ops.Merge.cmsState(toks, Seq("source"), pos),
          graft.ops.Merge.cmsState(toks.filter(col("doc_id") % 7 === 0),
            Seq("source"), pos),
          Seq("source"))
        val probes = docs.select("source").distinct()
          .withColumn("tok", explode(array(
            Seq("the", "data", "value", "table", "zz_absent").map(lit): _*)))
        graft.ops.Merge.cmsEstimate(state, probes, Seq("source"), pos)
          .orderBy("source", "tok")
      }
    }.withBench { (s, d) =>
      // production: xxhash64-seeded positions, no hex parsing, no sort
      val width = 1024L; val depth = 3
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tok"))
      def pos = graft.ops.Merge.bloomPositionsFast(col("tok"), width, depth)
      val state = graft.ops.Merge.retractCmsState(
        graft.ops.Merge.cmsState(toks, Seq("source"), pos),
        graft.ops.Merge.cmsState(toks.filter(col("doc_id") % 7 === 0),
          Seq("source"), pos),
        Seq("source"))
      val probes = docs.select("source").distinct()
        .withColumn("tok", explode(array(
          Seq("the", "data", "value", "table", "zz_absent").map(lit): _*)))
      graft.ops.Merge.cmsEstimate(state, probes, Seq("source"), pos)
    },

    sql("gdpr3_forget_moments",
      "GDPR moment-state erasure — forget-keys on CUSTOMER cascade two hops (customer→orders→lineitem via semi-joins), then the persisted power-sum moment state subtracts the forgotten slice's own partial state EXACTLY (DECIMAL(38,0) sums are abelian — Merge.retractMomentState); retract-then-finalize is bit-identical to recomputing mean/var/skew/kurt over the survivors, which is what the oracle does with NOT EXISTS",
      """WITH b AS (SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS v
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND NOT EXISTS (
        |    SELECT 1 FROM orders, customer WHERE o_orderkey = l_orderkey
        |      AND c_custkey = o_custkey AND c_custkey % 97 = 0)),
        |st AS (SELECT l_returnflag, l_linestatus, COUNT(v) AS n,
        |  SUM(v) AS s1, SUM(v*v) AS s2, SUM(v*v*v) AS s3, SUM(v*v*v*v) AS s4
        |  FROM b GROUP BY 1, 2),
        |m AS (SELECT l_returnflag, l_linestatus, n,
        |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |  CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
        |  CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
        |  CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
        |  FROM st)
        |SELECT l_returnflag, l_linestatus, n, mu AS mean_v,
        | ROUND(r2 - mu*mu, 6) AS var_pop,
        | ROUND((r3 - 3*mu*r2 + 2*mu*mu*mu) / POWER(r2 - mu*mu, 1.5), 6) AS skew_v,
        | ROUND((r4 - 4*mu*r3 + 6*mu*mu*r2 - 3*mu*mu*mu*mu)
        |   / ((r2 - mu*mu) * (r2 - mu*mu)) - 3, 6) AS kurt_v
        | FROM m ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // the erasure request is defined on the CUSTOMER table; the key
        // sliver propagates through orders to lineitem (AQE broadcasts
        // both hops), and the state honors it by exact subtraction —
        // work ∝ delete slice + state rows, the archive is never
        // re-aggregated
        val keys = Seq("l_returnflag", "l_linestatus")
        val forget = Tables.customer(s, d)
          .filter(col("c_custkey") % 97 === 0).select("c_custkey")
        val orders = Tables.orders(s, d)
        val forgottenOrders = orders.join(forget,
          orders("o_custkey") === forget("c_custkey"), "leftsemi")
          .select("o_orderkey")
        // (r19: a widen was A/B-measured flat-to-slower — u16's rationale —
        // and reverted)
        val li = Tables.lineitem(s, d)
        val deletes = li.join(forgottenOrders,
          li("l_orderkey") === forgottenOrders("o_orderkey"), "leftsemi")
        val state = graft.ops.Merge.partialMomentState(li, keys, "l_quantity")
        val dstate = graft.ops.Merge.partialMomentState(deletes, keys, "l_quantity")
        graft.ops.Merge.finalizeMoments(
          graft.ops.Merge.retractMomentState(state, dstate, keys), keys)
          .orderBy("l_returnflag", "l_linestatus")
      }
    },

    sql("gdpr4_forget_distinct",
      "GDPR distinct-state erasure — same customer→orders→lineitem forget cascade against the exact distinct-set state: a deleted (key, partkey) pair leaves ONLY if no surviving row still carries it (Merge.retractDistinctState checks the dirty pairs against the remaining rows with a semi-join sliver — multiplicity lives in the data, not the set state); finalize == COUNT(DISTINCT) over the survivors, which is the oracle",
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS distinct_cnt
        | FROM lineitem WHERE NOT EXISTS (
        |   SELECT 1 FROM orders, customer WHERE o_orderkey = l_orderkey
        |     AND c_custkey = o_custkey AND c_custkey % 97 = 0)
        | GROUP BY 1 ORDER BY l_returnflag""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val keys = Seq("l_returnflag")
        val forget = Tables.customer(s, d)
          .filter(col("c_custkey") % 97 === 0).select("c_custkey")
        val orders = Tables.orders(s, d)
        val forgottenOrders = orders.join(forget,
          orders("o_custkey") === forget("c_custkey"), "leftsemi")
          .select("o_orderkey")
        // (r19: a widen was A/B-measured 1.42× SLOWER — u16's rationale —
        // and reverted)
        val li = Tables.lineitem(s, d)
        val deletes = li.join(forgottenOrders,
          li("l_orderkey") === forgottenOrders("o_orderkey"), "leftsemi")
        val remaining = li.join(forgottenOrders,
          li("l_orderkey") === forgottenOrders("o_orderkey"), "leftanti")
        val state = graft.ops.Merge.partialDistinctState(li, keys, "l_partkey")
        graft.ops.Merge.finalizeDistinct(
          graft.ops.Merge.retractDistinctState(state, deletes, remaining,
            keys, "l_partkey"), keys)
          .orderBy("l_returnflag")
      }
    },

    sql("u17_retractable_quantiles",
      "U17: histogram-state RETRACTION — the u10 value-histogram quantile state honors a delete batch by per-bin count subtraction (emptied bins vanish, NO rescan ever — the histogram carries the full distribution); retract-then-finalize is bit-identical to recomputing quantiles over the survivors, which is exactly what the oracle does",
      """SELECT l_returnflag, l_linestatus,
        | ROUND(quantile_cont(l_quantity, 0.25), 4) AS q25,
        | ROUND(quantile_cont(l_quantity, 0.50), 4) AS q50,
        | ROUND(quantile_cont(l_quantity, 0.75), 4) AS q75,
        | ROUND(quantile_cont(l_quantity, 0.95), 4) AS q95
        | FROM lineitem WHERE l_orderkey % 13 <> 0 GROUP BY 1, 2
        | ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val keys = Seq("l_returnflag", "l_linestatus")
        // (r19: a widen was A/B-measured 1.61× SLOWER — u16's rationale —
        // and reverted)
        val li = Tables.lineitem(s, d)
        val state = graft.ops.Merge.partialQuantileState(li, keys, "l_quantity")
        val dstate = graft.ops.Merge.partialQuantileState(
          li.filter(col("l_orderkey") % 13 === 0), keys, "l_quantity")
        val q = graft.ops.Merge.finalizeQuantiles(
          graft.ops.Merge.retractHistState(state, dstate, keys),
          keys, Seq(0.25, 0.50, 0.75, 0.95))
        q.groupBy(keys.map(col): _*)
          .agg(
            max(when(col("p") === 0.25, col("q"))).as("q25"),
            max(when(col("p") === 0.50, col("q"))).as("q50"),
            max(when(col("p") === 0.75, col("q"))).as("q75"),
            max(when(col("p") === 0.95, col("q"))).as("q95"))
          .orderBy("l_returnflag", "l_linestatus")
      }
    },

    sql("u18_scd2_build",
      "U18: SCD-2 dimension build — a customer-segment changelog (base version + deterministic upgrades for custkey%3=0) becomes a versioned interval table: valid_from / valid_to via one window over the CHANGELOG (change-sized, never corpus-sized), half-open intervals tiling time; dates surfaced as strings (§7.5)",
      """WITH chg AS (
        |  SELECT c_custkey, TIMESTAMP '1995-07-01' AS eff, c_mktsegment AS segment FROM customer
        |  UNION ALL
        |  SELECT c_custkey, CAST(DATE '1997-01-01' + CAST(c_custkey % 700 AS INT) AS TIMESTAMP), 'UPGRADED'
        |    FROM customer WHERE c_custkey % 3 = 0)
        | SELECT c_custkey, segment,
        |   strftime(eff, '%Y-%m-%d') AS valid_from_s,
        |   COALESCE(strftime(LEAD(eff) OVER (PARTITION BY c_custkey ORDER BY eff), '%Y-%m-%d'), '(current)') AS valid_to_s,
        |   LEAD(eff) OVER (PARTITION BY c_custkey ORDER BY eff) IS NULL AS is_current
        | FROM chg ORDER BY c_custkey, valid_from_s""".stripMargin.replace("\n", "")) {
      (s, d) =>
        scd2Dimension(s, d).select(col("c_custkey"), col("segment"),
            date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from_s"),
            coalesce(date_format(col("valid_to"), "yyyy-MM-dd"), lit("(current)")).as("valid_to_s"),
            col("is_current"))
    }.oracleOrder("c_custkey", "valid_from_s"),

    sql("o10_domain_mixture",
      "O10: training-mixture composer — per-source quotas (curated src0-src4 get 15 docs, crawl-tier sources 5), deterministic hash-order row_number; the doc-level mixture step before shard packaging",
      """SELECT doc_id, source, rn FROM (
        | SELECT doc_id, source,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS rn
        | FROM documents)
        | WHERE rn <= CASE WHEN CAST(SUBSTR(source, 4) AS INT) < 5 THEN 15 ELSE 5 END
        | ORDER BY source, rn, doc_id""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // quota is a per-row expression, so one window pass serves every
        // source; md5 order makes the draw reproducible across runs,
        // engines, and partitionings (the o8 discipline)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(md5(col("doc_id").cast("string")))
        val quota = when(substring(col("source"), 4, 10).cast("int") < 5, 15)
          .otherwise(5)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= quota)
          .orderBy("source", "rn", "doc_id")
      }
    }.withBench { (s, d) =>
      // production: xxhash64 draw (8-byte, Spark-native) — md5 is the
      // oracle-portable form only
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(xxhash64(col("doc_id")))
      val quota = when(substring(col("source"), 4, 10).cast("int") < 5, 15)
        .otherwise(5)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= quota)
    },

    sql("d4_feature_scaling",
      "D4: feature scaling, exact-decimal oracle form — per-row normalization state as EXACT decimals (z numerator ×n, min-max numerator) plus single-value globals (sigma, range_w, n_rows); z = z_num_xn/(n_rows*sigma), minmax = minmax_num/range_w. Round 6's per-row round(double) form hash-failed: Spark Round (BigDecimal: shortest-decimal repr, HALF_UP, no signed zero) diverges from DuckDB's binary-value round, and 60k per-row roundings make a flip certain. Decimal arithmetic is exact in both engines and decimal→double conversion is correctly rounded in both, so every per-row value here is bit-identical by construction",
      // price is 2dp money: CAST(double AS DECIMAL(12,2)) is the lossless
      // Det.dsum discipline. n·p (25,2) − Σx (24,2) and p − lo (13,2) stay
      // within decimal-exact range in both engines; the only per-row
      // doubles are casts OF exact decimals (correctly rounded, identical
      // bits, never -0.0 since decimal zero is unsigned). sigma is a
      // single global value built from bit-identical inputs via IEEE
      // ops (sub/mul/div/sqrt are correctly rounded in both engines).
      """WITH g AS (SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(24,2)) AS sum_dec,
        |  CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sumsq,
        |  COUNT(*) AS n,
        |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |       CAST(CAST(n AS DECIMAL(12,0)) * CAST(l_extendedprice AS DECIMAL(12,2)) - sum_dec AS DOUBLE) AS z_num_xn,
        |       CAST(CAST(l_extendedprice AS DECIMAL(12,2)) - CAST(lo AS DECIMAL(12,2)) AS DOUBLE) AS minmax_num,
        |       SQRT((sumsq - (CAST(sum_dec AS DOUBLE) / n) * (CAST(sum_dec AS DOUBLE) / n) * n) / (n - 1)) AS sigma,
        |       CAST(CAST(hi AS DECIMAL(12,2)) - CAST(lo AS DECIMAL(12,2)) AS DOUBLE) AS range_w,
        |       n AS n_rows
        | FROM lineitem, g
        | ORDER BY l_orderkey, l_linenumber, z_num_xn, minmax_num""".stripMargin.replace("\n", "")) {
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val li = Tables.lineitem(s, d)
        val p = col("l_extendedprice")
        val pd = p.cast(DecimalType(12, 2))
        val stats = li.agg(
          sum(pd).cast(DecimalType(24, 2)).as("sum_dec"),
          sum((p * p).cast(DecimalType(38, 4))).cast("double").as("sumsq"),
          count(lit(1)).as("n"),
          min(p).as("lo"), max(p).as("hi"))
        val mu = col("sum_dec").cast("double") / col("n")
        val loD = col("lo").cast(DecimalType(12, 2))
        li.crossJoin(broadcast(stats))
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("n").cast(DecimalType(12, 0)) * pd - col("sum_dec"))
              .cast("double").as("z_num_xn"),
            (pd - loD).cast("double").as("minmax_num"),
            sqrt((col("sumsq") - mu * mu * col("n")) / (col("n") - 1)).as("sigma"),
            (col("hi").cast(DecimalType(12, 2)) - loD).cast("double").as("range_w"),
            col("n").as("n_rows"))
          .orderBy("l_orderkey", "l_linenumber", "z_num_xn", "minmax_num")
      }
    }.withBench {
      // production keeps the user-facing plain-double z/minmax (nothing
      // rounded, nothing sorted — the pass feeds the next pipeline stage)
      (s, d) => featureScaling(s, d)
    },

    sql("d6_winsorize",
      "D6: winsorization — clip price to [p05, p95] against broadcast exact percentiles (outlier-robust feature prep; production swaps in the one-pass sketch)",
      """WITH b AS (SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
        |                 quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem)
        |SELECT COUNT(CASE WHEN l_extendedprice < lo THEN 1 END) AS n_clipped_lo,
        |       COUNT(CASE WHEN l_extendedprice > hi THEN 1 END) AS n_clipped_hi,
        |       ROUND(AVG(LEAST(GREATEST(l_extendedprice, lo), hi)), 2) AS avg_winsorized,
        |       ROUND(MIN(LEAST(GREATEST(l_extendedprice, lo), hi)), 4) AS min_winsorized,
        |       ROUND(MAX(LEAST(GREATEST(l_extendedprice, lo), hi)), 4) AS max_winsorized
        | FROM lineitem, b""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // exact percentile bounds as a 1-row broadcast (p2's oracle-mode
        // discipline); the clip is codegen'd least/greatest map-side
        val li = Tables.lineitem(s, d)
        val b = li.agg(
          expr("percentile(l_extendedprice, 0.05)").as("lo"),
          expr("percentile(l_extendedprice, 0.95)").as("hi"))
        val p = col("l_extendedprice")
        val wz = least(greatest(p, col("lo")), col("hi"))
        li.crossJoin(broadcast(b))
          .agg(
            count(when(p < col("lo"), 1)).as("n_clipped_lo"),
            count(when(p > col("hi"), 1)).as("n_clipped_hi"),
            round(avg(wz), 2).as("avg_winsorized"),
            round(min(wz), 4).as("min_winsorized"),
            round(max(wz), 4).as("max_winsorized"))
      }
    }.withBench { (s, d) =>
      // production: one-pass approx_percentile sketch bounds — no exact
      // Percentile buffering at corpus scale (P2's production rationale)
      val li = Tables.lineitem(s, d)
      val b = li.agg(
        percentile_approx(col("l_extendedprice"), lit(0.05), lit(10000)).as("lo"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000)).as("hi"))
      val p = col("l_extendedprice")
      val wz = least(greatest(p, col("lo")), col("hi"))
      li.crossJoin(broadcast(b))
        .agg(
          count(when(p < col("lo"), 1)).as("n_clipped_lo"),
          count(when(p > col("hi"), 1)).as("n_clipped_hi"),
          round(avg(wz), 2).as("avg_winsorized"),
          round(min(wz), 4).as("min_winsorized"),
          round(max(wz), 4).as("max_winsorized"))
    },

    sql("d7_mad_outliers",
      "D7: robust outlier detection — per-group median + MAD and modified-z outlier counts (0.6745·|x−med|/MAD > 3.5, Iglewicz–Hoaglin); the robust complement to d6: a single extreme value moves a mean/stddev fence arbitrarily far but cannot drag the median/MAD fence at all",
      // the threshold comparison runs on UNROUNDED doubles built through
      // the identical IEEE shape on both sides (§7.5(f) rule 2); only the
      // per-group stat columns round, and at 4dp aggregate scale
      """WITH med AS (SELECT l_returnflag AS rf, quantile_cont(l_extendedprice, 0.5) AS med
        |            FROM lineitem GROUP BY 1),
        |dev AS (SELECT m.rf, ABS(l.l_extendedprice - m.med) AS adev, m.med AS med
        |        FROM lineitem l JOIN med m ON l.l_returnflag = m.rf),
        |mad AS (SELECT rf, quantile_cont(adev, 0.5) AS mad, MAX(med) AS med FROM dev GROUP BY rf)
        |SELECT d.rf AS l_returnflag, ROUND(m.med, 4) AS median_price, ROUND(m.mad, 4) AS mad_price,
        | COUNT(CASE WHEN 0.6745 * d.adev / m.mad > 3.5 THEN 1 END) AS n_outliers,
        | COUNT(*) AS n_rows
        | FROM dev d JOIN mad m ON d.rf = m.rf
        | GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // two exact-percentile passes (median, then MAD over deviations),
        // each landing as a ≤3-row broadcast the next scan joins against —
        // the d6/p2 oracle-mode discipline, group-keyed instead of global
        val li = Tables.lineitem(s, d)
        val med = li.groupBy(col("l_returnflag").as("rf"))
          .agg(expr("percentile(l_extendedprice, 0.5)").as("med"))
        val dev = li.join(broadcast(med), col("l_returnflag") === col("rf"))
          .select(col("rf"), abs(col("l_extendedprice") - col("med")).as("adev"), col("med"))
        val mad = dev.groupBy("rf")
          .agg(expr("percentile(adev, 0.5)").as("mad"), max("med").as("med"))
        dev.drop("med").join(broadcast(mad), Seq("rf"))
          .groupBy("rf")
          .agg(
            round(max("med"), 4).as("median_price"),
            round(max("mad"), 4).as("mad_price"),
            count(when(lit(0.6745) * col("adev") / col("mad") > 3.5, 1)).as("n_outliers"),
            count(lit(1)).as("n_rows"))
          .withColumnRenamed("rf", "l_returnflag")
          .orderBy("l_returnflag")
      }
    }.withBench { (s, d) =>
      // production: both percentile passes become one-pass mergeable
      // sketches (a5's rationale — exact percentile buffers every value);
      // widened (r19): parallelizes the two sketch passes' map side
      // (A/B 1.67 → 1.61 s)
      val li = Tables.widened(s, d, "lineitem")
      val med = li.groupBy(col("l_returnflag").as("rf"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("med"))
      val dev = li.join(broadcast(med), col("l_returnflag") === col("rf"))
        .select(col("rf"), abs(col("l_extendedprice") - col("med")).as("adev"), col("med"))
      val mad = dev.groupBy("rf")
        .agg(percentile_approx(col("adev"), lit(0.5), lit(10000)).as("mad"), max("med").as("med"))
      dev.drop("med").join(broadcast(mad), Seq("rf"))
        .groupBy("rf")
        .agg(
          round(max("med"), 4).as("median_price"),
          round(max("mad"), 4).as("mad_price"),
          count(when(lit(0.6745) * col("adev") / col("mad") > 3.5, 1)).as("n_outliers"),
          count(lit(1)).as("n_rows"))
        .withColumnRenamed("rf", "l_returnflag")
    },

    sql("d5_onehot",
      "D5: one-hot encoding — categorical flag/status to 0/1 indicator columns (explicit category list, map-side, no discovery scan; the categorical-feature step)",
      """SELECT l_orderkey, l_linenumber,
        | CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS flag_a,
        | CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS flag_n,
        | CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS flag_r,
        | CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END AS status_f
        | FROM lineitem
        | ORDER BY l_orderkey, l_linenumber, flag_a, flag_n, flag_r, status_f""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // explicit category values (like a17's PIVOT) — a distinct-scan to
        // discover them would be an extra pass and a nondeterministic
        // column order; real pipelines pin the vocabulary anyway
        def ind(c: String, v: String) = when(col(c) === v, 1).otherwise(0)
        Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          ind("l_returnflag", "A").as("flag_a"),
          ind("l_returnflag", "N").as("flag_n"),
          ind("l_returnflag", "R").as("flag_r"),
          ind("l_linestatus", "F").as("status_f"))
    }.oracleOrder("l_orderkey", "l_linenumber", "flag_a", "flag_n", "flag_r", "status_f"),

    sql("o11_train_val_test",
      "O11: deterministic train/val/test split — hex-prefix of md5(doc_id) against lexicographic cut points (~90/5/5); reproducible across runs, engines, partitionings; per-split-per-source counts",
      // 'e6' = 230/256 ≈ 89.8%, 'f3' = 243/256 ≈ 94.9% — the split is a
      // pure function of the id, so docs never migrate between splits as
      // the corpus grows (the property %-of-count splits lack)
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
        |            ELSE 'test' END AS split,
        |       source, COUNT(*) AS n_docs
        | FROM documents GROUP BY 1, 2 ORDER BY split, source""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val hex = substring(md5(col("doc_id").cast("string")), 1, 2)
        Tables.documents(s, d)
          .select(
            when(hex < "e6", "train").when(hex < "f3", "val").otherwise("test").as("split"),
            col("source"))
          .groupBy("split", "source")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("split", "source")
      }
    }.withBench { (s, d) =>
      // production: same split rule on xxhash64 buckets (8-byte, no hex
      // strings); md5-hex is the oracle-portable form
      val bucket = pmod(xxhash64(col("doc_id")), lit(256L))
      Tables.documents(s, d)
        .select(
          when(bucket < 230, "train").when(bucket < 243, "val").otherwise("test").as("split"),
          col("source"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"))
    },

    sql("f11_string_funcs",
      "F11: string-function breadth — lpad/rpad/translate/reverse/repeat/ascii/left/right over part names (map-side, codegen'd)",
      """SELECT p_partkey,
        | lpad(p_name, 40, '*') AS padded,
        | rpad(p_brand, 12, '.') AS brand_pad,
        | translate(p_name, 'ae', '43') AS leeted,
        | reverse(p_name) AS reversed,
        | repeat(p_type, 2) AS doubled,
        | CAST(ascii(p_name) AS INT) AS first_code,
        | left(p_name, 5) AS head5,
        | right(p_name, 5) AS tail5
        | FROM part ORDER BY p_partkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.part(s, d).select(
          col("p_partkey"),
          lpad(col("p_name"), 40, "*").as("padded"),
          rpad(col("p_brand"), 12, ".").as("brand_pad"),
          translate(col("p_name"), "ae", "43").as("leeted"),
          reverse(col("p_name")).as("reversed"),
          repeat(col("p_type"), 2).as("doubled"),
          ascii(col("p_name")).as("first_code"),
          // SQL LEFT/RIGHT (not substring arithmetic): RIGHT's short-string
          // behavior matches DuckDB's (whole string when len < n)
          expr("left(p_name, 5)").as("head5"),
          expr("right(p_name, 5)").as("tail5"))
          .orderBy("p_partkey")
    },

    sql("a13_rollup",
      "A13: ROLLUP grouping sets (per-flag-and-status, per-flag, grand total). Scale: the rollup runs over a pre-aggregated (flag, status) sliver, not the fact — Spark's rollup-over-fact plan Expands every input row (levels+1)× BEFORE partial aggregation (the defect ds2's sf10 rung measured at 2.4×); count and decimal-sum partials re-aggregate associatively, so the sliver form is bit-identical",
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS total_lines,
         | ${ssum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
         | FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         | ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin.replace("\n", "")) {
      (s, d) =>
        a13Base(s, d)
          .rollup("l_returnflag", "l_linestatus")
          .agg(
            sum(col("n_part")).as("total_lines"),
            sum(col("rev_part")).cast("double").as("total_revenue"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    sql("a13b_cube",
      "A13: CUBE grouping sets + GROUPING_ID (all four aggregation levels, disambiguated) — over the a13 pre-aggregated sliver (CUBE Expands 4×: the worst of the family to run fact-grain)",
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         | COUNT(*) AS total_lines,
         | ${ssum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
         | FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         | ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // grouping_id distinguishes "NULL because aggregated away" from a
        // genuine NULL key — the piece ROLLUP/CUBE consumers need
        a13Base(s, d)
          .cube("l_returnflag", "l_linestatus")
          .agg(
            grouping_id().as("gid"),
            sum(col("n_part")).as("total_lines"),
            sum(col("rev_part")).cast("double").as("total_revenue"))
          .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
    },

    sql("a13c_grouping_sets",
      "A13: explicit GROUPING SETS ((flag),(status),()) — arbitrary set list, the ROLLUP/CUBE variant neither subsumes; Expand replicates only the pre-aggregated sliver",
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         | COUNT(*) AS total_lines,
         | ${ssum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
         | FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         | ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin.replace("\n", "")) {
      (s, d) =>
        a13Base(s, d)
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
            col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping_id().as("gid"),
            sum(col("n_part")).as("total_lines"),
            sum(col("rev_part")).cast("double").as("total_revenue"))
          .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
    },

    sql("a14_count_distinct",
      "A14: exact COUNT(DISTINCT) — production plan swaps in HLL approx_count_distinct",
      """SELECT COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
        | COUNT(DISTINCT l_partkey) AS distinct_parts,
        | COUNT(DISTINCT l_orderkey) AS distinct_orders
        | FROM lineitem""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d).agg(
          countDistinct(col("l_suppkey")).as("distinct_suppliers"),
          countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_orderkey")).as("distinct_orders"))
    }.withBench { (s, d) =>
      // production: one pass, mergeable HLL sketches, no expand+shuffle per
      // distinct column (exact multi-column COUNT DISTINCT expands the scan)
      Tables.lineitem(s, d).agg(
        approx_count_distinct(col("l_suppkey")).as("distinct_suppliers"),
        approx_count_distinct(col("l_partkey")).as("distinct_parts"),
        approx_count_distinct(col("l_orderkey")).as("distinct_orders"))
    },

    sql("o8_group_hash_sample",
      "O8: deterministic fixed-k per-group sample — hash-order row_number (reproducible across runs, engines, and partitionings; Bernoulli can't fix k)",
      """SELECT l_returnflag, l_orderkey, l_linenumber, rn FROM (
        | SELECT l_returnflag, l_orderkey, l_linenumber,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |   ORDER BY md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))) AS BIGINT) AS rn
        | FROM lineitem)
        | WHERE rn <= 5 ORDER BY l_returnflag, rn""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // md5 over the natural key gives a uniform, engine-portable
        // pseudo-random order; the window is partitioned by the group so
        // this is one hash shuffle + per-partition sort, like any w1-style
        // top-k. Production at 100 TB would swap md5 for xxhash64
        // (Spark-only, cheaper) — the oracle keeps md5 for portability.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
          .orderBy(md5(concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string"))))
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5)
          .orderBy("l_returnflag", "rn")
      }
    }.withBench { (s, d) =>
      // production: xxhash64 priority; TWO-LEVEL bottom-k (r19) — one
      // window per 3-value group key is the straggler class AQE cannot
      // split, so level 1 runs per (key, salt) and level 2 ranks the
      // survivor sliver (identical rows: every global winner wins its
      // salt bucket; the hash priority is tie-free)
      val W = org.apache.spark.sql.expressions.Window
      val pri = xxhash64(col("l_orderkey"), col("l_linenumber"))
      val w1 = W.partitionBy(col("l_returnflag"),
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(1L)), lit(32)))
        .orderBy(pri)
      val w2 = W.partitionBy("l_returnflag").orderBy(pri)
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
        .withColumn("rn", row_number().over(w1).cast("long"))
        .filter(col("rn") <= 5)
        .withColumn("rn", row_number().over(w2).cast("long"))
        .filter(col("rn") <= 5)
    },

    sql("o7_stratified_sample",
      "O7: deterministic STRATIFIED sampling — per-stratum hash-threshold Bernoulli (class rebalancing for training sets): a row survives iff the first 3 hex chars of md5(natural key) fall under its stratum's threshold (N: 8/4096 ≈ 0.2%, A/R: 82/4096 ≈ 2%). Engine-portable (oracle-matches, unlike sampleBy's engine RNG), reproducible across runs/partitionings, map-side with no shuffle; fraction CI pinned in SamplingSpec",
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice FROM lineitem
        | WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 3)
        |  < CASE WHEN l_returnflag = 'N' THEN '008' ELSE '052' END
        | ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin.replace("\n", "")) {
      (s, d) => {
        // the o8 md5-priority discipline applied to Bernoulli: the first 3
        // hex chars of md5(key) are uniform over 4096 values, so a string
        // comparison against a 3-hex-digit threshold IS a per-stratum
        // fraction — thresholds are exact in hex space ('008' = 8/4096,
        // '052' = 82/4096), and the draw replays identically in any engine
        val u = substring(md5(concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string"))), 1, 3)
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
          .filter(u < when(col("l_returnflag") === "N", lit("008")).otherwise(lit("052")))
          .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
      }
    }.withBench { (s, d) =>
      // production: same draw from xxhash64 (codegen'd, no hex-string
      // materialization); pmod keeps the bucket non-negative
      val bucket = pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(4096L))
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
        .filter(bucket < when(col("l_returnflag") === "N", lit(8L)).otherwise(lit(82L)))
    },

    rowsOnly("o3_seeded_sample",
      "O3: seeded Bernoulli sample — engine-specific RNG, excluded from oracle by design (SURVEY §7.4.6); invariants pinned in ScalaTest") {
      (s, d) =>
        Tables.lineitem(s, d)
          .sample(withReplacement = false, fraction = 0.01, seed = 42)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },

    sql("o3b_exact_n_sample",
      "O3: exact-n deterministic sample — hash-priority order + LIMIT (md5 of the natural key as the uniform draw, o8 discipline). Engine-portable, so it oracle-matches where ORDER BY rand(seed) cannot; exact size/determinism/subset pinned in SamplingSpec",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        | ORDER BY md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), l_orderkey, l_linenumber, l_quantity, l_extendedprice
        | LIMIT 500""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // md5(key) replaces rand(seed) as the priority: uniform, total
        // (key tie-break for the astronomically-unlikely collision), and
        // identical in every engine — which upgrades this from rows-only
        // to hash-matched. LIMIT over an order = TakeOrderedAndProject:
        // per-partition top-n then a single merge of n-sized heaps — no
        // full sort, no full shuffle, scale-safe for training-set-sized n.
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .orderBy(md5(concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string"))), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice"))
          .limit(500)
    }.withBench { (s, d) =>
      // production: xxhash64 priority — codegen'd, no hex-string sort keys
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy(xxhash64(col("l_orderkey"), col("l_linenumber")),
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .limit(500)
    },

    rowsOnly("o9_weighted_sample",
      "O3+: weight-proportional sample without replacement (Efraimidis–Spirakis A-ES): key = rand(seed)^(1/w), top-n by key — the training-mixture sampler (upweight curated sources, downweight crawl); engine RNG ⇒ no oracle (SURVEY §7.4.6); invariants in SamplingSpec") {
      (s, d) =>
        // A-ES: P(row i in top-n) is proportional to w_i without
        // replacement; top-n by key is TakeOrderedAndProject (per-partition
        // heaps + single merge, no full sort) — same envelope as o3b.
        // Zero/negative weights are excluded up front (their A-ES key is
        // degenerate), matching the algorithm's w > 0 domain.
        val weighted = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
          .filter(col("l_quantity") > 0)
        weighted
          .withColumn("__key", pow(rand(11L), lit(1.0) / col("l_quantity")))
          .orderBy(col("__key").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(500)
          .drop("__key")
    },

    rowsOnly("o12_incremental_weighted_sample",
      "O9+: MERGEABLE weight-proportional sample — A-ES race keys (−ln(u)/w) derived from xxhash64 of the row id instead of an RNG, so per-slice bottom-k states merge to exactly the full-rescan draw; maintains a quality-weighted eval set as the corpus grows without rescanning history. Engine hash ⇒ no oracle (SURVEY §7.4.6); the merge law and heavy-row survival are pinned in MergeSpec") {
      (s, d) => {
        val keys = Seq("l_returnflag")
        val li = Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"), col("l_quantity"))
          .filter(col("l_quantity") > 0) // A-ES w > 0 domain (o9 discipline)
        val pri = graft.ops.Merge.samplePriorityWeighted(
          Seq("l_orderkey", "l_linenumber"), "l_quantity")
        val history = graft.ops.Merge.partialSampleState(
          li.filter(col("l_orderkey") % 5 =!= 0), keys, pri, 100)
        val batch = graft.ops.Merge.partialSampleState(
          li.filter(col("l_orderkey") % 5 === 0), keys, pri, 100)
        graft.ops.Merge.finalizeSample(
          graft.ops.Merge.mergeSampleStates(Seq(history, batch), keys, 100), keys)
          .orderBy("l_returnflag", "rn")
      }
    },

    sql("o4_head",
      "O4: bounded preview (LIMIT over a deterministic order)",
      """SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 5""") {
      (s, d) =>
        Tables.nation(s, d).select("n_nationkey", "n_name")
          .orderBy("n_nationkey").limit(5)
    },

    sql("f7_url_month",
      "F7: URL → month-name helper as a column op (reference does this driver-side, src/main.py:100)",
      """SELECT DISTINCT l_returnflag,
        | regexp_replace(string_split('https://host/data/' || l_returnflag || '_2023-01.parquet', '/')[-1], '\.parquet$', '') AS month_file
        | FROM lineitem ORDER BY l_returnflag""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d)
          .select(col("l_returnflag"),
            regexp_replace(
              element_at(split(concat(lit("https://host/data/"), col("l_returnflag"), lit("_2023-01.parquet")), "/"), -1),
              "\\.parquet$", "").as("month_file"))
          .distinct()
          .orderBy("l_returnflag")
    },

    sql("j7_cross_join",
      "J1: explicit CROSS JOIN (cartesian of two small dims)",
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        | ORDER BY r_name, n_name""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.region(s, d).select("r_name")
          .crossJoin(Tables.nation(s, d).select("n_name"))
          .orderBy("r_name", "n_name")
    },

    sql("p7_na_handling",
      "F5: df.na surface — drop null-keyed rows, fill null measures",
      """SELECT event_id, user_id, COALESCE(value, 0.0) AS value_filled
        | FROM events WHERE user_id IS NOT NULL
        | ORDER BY event_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.events(s, d)
          .na.drop(Seq("user_id"))
          .na.fill(0.0, Seq("value"))
          .select(col("event_id"), col("user_id"), col("value").as("value_filled"))
    }.oracleOrder("event_id"),

    sql("p8_salted_agg",
      "Skew: two-phase salted aggregation — (key,salt) partial then key final; identical to the direct GROUP BY (the skewed-reduce-key escape hatch when map-side partials can't save you)",
      """SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS count
        | FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        graft.ops.Skew.saltedCount(Tables.lineitem(s, d), "l_suppkey", salts = 8)
          .orderBy("l_suppkey")
    },

    sql("o5_offset",
      "O2+: pagination — ORDER BY ... OFFSET/LIMIT",
      """SELECT o_orderkey, o_totalprice FROM orders
        | ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 5""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.orders(s, d).select("o_orderkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .offset(5).limit(10)
    },

    sql("u5_union_distinct",
      "U1: distinct UNION across two different sources",
      """SELECT l_returnflag AS flag FROM lineitem
        | UNION SELECT o_orderstatus FROM orders ORDER BY flag""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d).select(col("l_returnflag").as("flag"))
          .union(Tables.orders(s, d).select(col("o_orderstatus")))
          .distinct()
          .orderBy("flag")
    },

    sql("f10_regexp",
      "F2+: regexp extraction/matching over part type strings",
      """SELECT DISTINCT p_type, regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
        | CAST(regexp_matches(p_type, 'BRASS|STEEL') AS INT) AS is_metal
        | FROM part ORDER BY p_type""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.part(s, d).select(
          col("p_type"),
          regexp_extract(col("p_type"), "^([A-Z]+)", 1).as("type_head"),
          col("p_type").rlike("BRASS|STEEL").cast("int").as("is_metal"))
          .distinct()
          .orderBy("p_type")
    },

    sql("f9_array_json",
      "F9: array access/size + JSON struct serialization over the embeddings table",
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        | ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
        | to_json(struct_pack(vec_id := vec_id, label := label)) AS meta_json
        | FROM embeddings ORDER BY vec_id""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.embeddings(s, d)
          .select(col("vec_id"),
            size(col("embedding")).cast("long").as("dim"),
            round(element_at(col("embedding"), 1).cast("double"), 6).as("first_val"),
            to_json(struct(col("vec_id"), col("label"))).as("meta_json"))
          .orderBy("vec_id")
    },

    sql("f12_variant_json",
      "F9+: VARIANT semi-structured ingestion (Spark 4) — the events props JSON parsed ONCE into the binary VARIANT form (parse_json), a typed field extracted with variant_get, and the corpus aggregated per extracted key. The open-schema path a 100 TB ingest needs: unlike per-query string re-parsing (get_json_object), VARIANT parses at ingest and every downstream extraction reads the binary encoding codegen-side. Oracle extracts the same field with DuckDB's JSON functions",
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
        | COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        | FROM events GROUP BY k ORDER BY k""".stripMargin.replace("\n", "")) {
      (s, d) => {
        Tables.events(s, d).createOrReplaceTempView("f12_events")
        s.sql(
          """SELECT variant_get(parse_json(props), '$.k', 'int') AS k,
            | COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
            | FROM f12_events GROUP BY k ORDER BY k""".stripMargin)
      }
    },

    sql("f8_monthly_revenue",
      "F8: date/time helpers — the EP3 monthly time dimension the reference dropped",
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS order_month, COUNT(*) AS n_orders,
         | ${ssum("o_totalprice")} AS total_revenue
         | FROM orders GROUP BY 1 ORDER BY order_month""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
          .agg(
            count(lit(1)).as("n_orders"),
            Det.dsum(col("o_totalprice")).as("total_revenue"))
          .orderBy("order_month")
    },

    sql("u21_join_view_maintenance",
      "U21: incremental JOIN-view maintenance — a materialized orders×customer view folds two insert batches (one growing each side) via the bag-exact delta identity ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, three batch-sized joins instead of a full re-join; the oracle runs the full join the increments must reproduce exactly",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
        | c_name, c_acctbal, c_mktsegment
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | ORDER BY o_orderkey""".stripMargin.replace("\n", "")) {
      (s, d) =>
        // day-0 build: a0⋈b0; day-1 folds ΔA=a1 (new orders); day-2 folds
        // ΔA=a2 and ΔB=b1 (new customers) in one increment — at 100 TB
        // each fold shuffles only the batch, the archive is scanned
        // map-side once per increment and never re-joined against itself
        val a = Tables.orders(s, d).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
        val b = Tables.customer(s, d).select(
          col("c_custkey").as("o_custkey"), col("c_name"),
          col("c_acctbal"), col("c_mktsegment"))
        val Seq(a0, a1, a2) =
          (0 to 2).map(i => a.filter(col("o_orderkey") % 3 === i))
        val b0 = b.filter(col("o_custkey") % 2 === 0)
        val b1 = b.filter(col("o_custkey") % 2 =!= 0)
        val v0 = a0.join(b0, Seq("o_custkey"))
        val v1 = graft.ops.Ivm.maintainJoinView(v0, a0, a1, b0, b0.limit(0), Seq("o_custkey"))
        val v2 = graft.ops.Ivm.maintainJoinView(v1, a0.unionByName(a1), a2, b0, b1, Seq("o_custkey"))
        v2.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderpriority"),
            col("c_name"), col("c_acctbal"), col("c_mktsegment"))
    }.oracleOrder("o_orderkey"),

    sql("u22_cms_estimate",
      "U22: mergeable COUNT-MIN sketch state — point frequency estimates for ANY value from a fixed depth×width counter grid per key (state ∝ grid, not vocabulary; merge = cell addition across row-disjoint slices); estimates NEVER undercount and both engines compute identical md5-window positions so even collision-inflated values hash-match; the per-source token-frequency monitor at 100 TB",
      """WITH d3 AS (SELECT unnest([0, 1, 2]) AS d),
        | toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        | cells AS (SELECT source, d,
        |   ('0x' || substr(md5(tok), 1 + 7*d, 7))::BIGINT % 1024 AS cell, COUNT(*) AS cnt
        |  FROM toks, d3 GROUP BY 1, 2, 3),
        | probes AS (SELECT source, tok FROM (SELECT DISTINCT source FROM documents),
        |   (SELECT unnest(['the', 'data', 'value', 'table', 'zz_absent']) AS tok)),
        | pp AS (SELECT source, tok, d,
        |   ('0x' || substr(md5(tok), 1 + 7*d, 7))::BIGINT % 1024 AS cell FROM probes, d3)
        | SELECT source, tok, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est_count
        | FROM pp LEFT JOIN cells USING (source, d, cell)
        | GROUP BY source, tok ORDER BY source, tok""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val width = 1024L; val depth = 3
        val docs = Tables.documents(s, d)
        val toks = docs.select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("tok"))
        def sketch(slice: org.apache.spark.sql.DataFrame) =
          graft.ops.Merge.cmsState(slice, Seq("source"),
            graft.ops.Merge.bloomPositionsPortable(col("tok"), width, depth))
        // two row-disjoint slices folded through the merge law — the
        // daily-increment shape; at scale yesterday's state is parquet
        val state = graft.ops.Merge.mergeCmsStates(Seq(
          sketch(toks.filter(col("doc_id") % 2 === 0)),
          sketch(toks.filter(col("doc_id") % 2 =!= 0))), Seq("source"))
        val probes = docs.select("source").distinct()
          .withColumn("tok", explode(array(
            Seq("the", "data", "value", "table", "zz_absent").map(lit): _*)))
        graft.ops.Merge.cmsEstimate(state, probes, Seq("source"),
            graft.ops.Merge.bloomPositionsPortable(col("tok"), width, depth))
          .orderBy("source", "tok")
      }
    }.withBench { (s, d) =>
      // production: xxhash64-seeded positions, no hex parsing, no sort
      val width = 1024L; val depth = 3
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tok"))
      def sketch(slice: org.apache.spark.sql.DataFrame) =
        graft.ops.Merge.cmsState(slice, Seq("source"),
          graft.ops.Merge.bloomPositionsFast(col("tok"), width, depth))
      val state = graft.ops.Merge.mergeCmsStates(Seq(
        sketch(toks.filter(col("doc_id") % 2 === 0)),
        sketch(toks.filter(col("doc_id") % 2 =!= 0))), Seq("source"))
      val probes = docs.select("source").distinct()
        .withColumn("tok", explode(array(
          Seq("the", "data", "value", "table", "zz_absent").map(lit): _*)))
      graft.ops.Merge.cmsEstimate(state, probes, Seq("source"),
        graft.ops.Merge.bloomPositionsFast(col("tok"), width, depth))
    },

    sql("u23_sliding_distinct",
      "U23: SLIDING-WINDOW distinct counts from per-day states — trailing-7-day distinct users per day computed by COMPOSING the U11 per-day distinct states (each day-state contributes to its next 7 targets via a 7-way offset explode, set-union absorbs overlap) instead of rescanning 7 days of events per day; work ∝ state rows × window, the nightly-DAU/WAU pattern over persisted slices",
      """WITH e AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        |  FROM events WHERE user_id IS NOT NULL),
        |days AS (SELECT DISTINCT day FROM e)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS users_7d
        | FROM days d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
        | GROUP BY d.day ORDER BY day""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val e = graft.model.Tables.events(s, d)
          .filter(col("user_id").isNotNull)
          .select(date_trunc("day", col("ts")).cast("date").as("day"), col("user_id"))
        // per-day U11 states (at scale: yesterday's persisted snapshots)
        val st = graft.ops.Merge.partialDistinctState(e, Seq("day"), "user_id")
        val days = e.select("day").distinct()
        val contrib = st
          .select(col("day"), col("v"), explode(sequence(lit(0), lit(6))).as("off"))
          .select(date_add(col("day"), col("off")).as("day"), col("v"))
        graft.ops.Merge.finalizeDistinct(
            graft.ops.Merge.mergeDistinctStates(Seq(contrib))
              .join(days, Seq("day"), "left_semi"),
            Seq("day"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("distinct_cnt").as("users_7d"))
          .orderBy("day")
      }
    },

    sql("o15_poisson_bootstrap",
      "O15: deterministic POISSON BOOTSTRAP — 32 resample replicates of the revenue total in ONE pass with NO RNG: each (row, replicate) draws a Poisson(1) multiplicity by inverse-CDF over a 28-bit md5 uniform against hard-coded integer thresholds (floor(CDF·2²⁸) — no float compare anywhere); the spread across replicates is the standard error a data-quality dashboard wants. Multiplicities are map-side; partial aggs combine before the 32-row shuffle; production swaps md5 for xxhash64",
      s"""WITH reps AS (SELECT o_orderkey, o_totalprice, UNNEST(range(32)) AS replicate FROM orders),
         |m AS (SELECT replicate, o_totalprice,
         |  CASE WHEN u < 98751885 THEN 0 WHEN u < 197503771 THEN 1
         |       WHEN u < 246879713 THEN 2 WHEN u < 263338361 THEN 3
         |       WHEN u < 267453023 THEN 4 WHEN u < 268275955 THEN 5
         |       WHEN u < 268413111 THEN 6 ELSE 7 END AS mult
         |  FROM (SELECT *, ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '-' ||
         |    CAST(replicate AS VARCHAR)), 1, 7))::BIGINT AS u FROM reps))
         |SELECT CAST(replicate AS INT) AS replicate, CAST(SUM(mult) AS BIGINT) AS n_rows,
         |  ${ssum("o_totalprice * mult")} AS total_revenue
         | FROM m GROUP BY replicate ORDER BY replicate""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val thresholds = Seq(98751885L, 197503771L, 246879713L, 263338361L,
          267453023L, 268275955L, 268413111L)
        val reps = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"),
            explode(sequence(lit(0), lit(31))).as("replicate"))
        val u = conv(substring(md5(concat_ws("-",
          col("o_orderkey").cast("string"), col("replicate").cast("string"))),
          1, 7), 16, 10).cast("long")
        val mult = thresholds.zipWithIndex
          .foldRight(lit(7L)) { case ((t, i), els) => when(u < t, i.toLong).otherwise(els) }
        reps.withColumn("mult", mult)
          .groupBy(col("replicate").cast("int").as("replicate"))
          .agg(sum(col("mult")).as("n_rows"),
            Det.dsum(col("o_totalprice") * col("mult")).as("total_revenue"))
          .orderBy("replicate")
      }
    }.withBench { (s, d) =>
      // production draw: one xxhash64 per (row, replicate) instead of an
      // md5 hex parse — same 28-bit uniform, same threshold ladder.
      // widened: the 32× replicate explode + hash is the map-heavy stage
      // and the single-row-group scan would run it in one task (r18)
      val thresholds = Seq(98751885L, 197503771L, 246879713L, 263338361L,
        267453023L, 268275955L, 268413111L)
      val reps = Tables.widened(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          explode(sequence(lit(0), lit(31))).as("replicate"))
      val u = pmod(xxhash64(col("o_orderkey"), col("replicate")), lit(1L << 28))
      val mult = thresholds.zipWithIndex
        .foldRight(lit(7L)) { case ((t, i), els) => when(u < t, i.toLong).otherwise(els) }
      reps.withColumn("mult", mult)
        .groupBy(col("replicate").cast("int").as("replicate"))
        .agg(sum(col("mult")).as("n_rows"),
          Det.dsum(col("o_totalprice") * col("mult")).as("total_revenue"))
    },

    sql("o14_stratified_kfold",
      "O14: stratified K-FOLD assignment — round-robin over the md5-ordered docs WITHIN each stratum, so every (stratum, fold) cell is exactly balanced (sizes differ by <= 1) and the assignment is a pure function of the ids; the eval-set construction primitive. The per-stratum total order is the oracle form — at 100 TB the production variant assigns fold = xxhash64(id) % k map-side (statistical balance, no window)",
      """SELECT doc_id, lang,
        | CAST((ROW_NUMBER() OVER (PARTITION BY lang
        |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) % 5 AS INT) AS fold
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        Tables.documents(s, d).select(col("doc_id"), col("lang"))
          .withColumn("fold", ((row_number().over(W) - 1) % 5).cast("int"))
          .orderBy("doc_id")
      }
    }.withBench { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .withColumn("fold", pmod(xxhash64(col("doc_id")), lit(5)).cast("int"))
    },

    sql("o16_class_balanced_downsample",
      "O16: class-balanced downsample — every language capped at the MINORITY class count, members drawn by md5-priority (a pure function of the ids: reruns, retries, and the DuckDB oracle all draw the same rows); the classifier-training rebalance primitive. The cap is a 1-row agg joined in (AQE broadcasts it); the per-class total order is the oracle form — at 100 TB production keeps rank < cap via a per-class xxhash64 THRESHOLD estimated from class counts, no global window",
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT MIN(n) AS cap FROM c),
        |r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents)
        |SELECT doc_id, lang FROM r, m WHERE rk <= cap ORDER BY lang, doc_id"""
        .stripMargin.replace("\n", "")) {
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        val cap = docs.groupBy("lang").agg(count(lit(1)).as("n"))
          .agg(min("n").as("cap"))
        val W = org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        docs.withColumn("rk", row_number().over(W))
          .crossJoin(cap) // 1 row — AQE broadcasts
          .filter(col("rk") <= col("cap"))
          .select("doc_id", "lang")
          .orderBy("lang", "doc_id")
      }
    }.withBench { (s, d) =>
      // production: no per-class window — rank-by-hash replaced by a hash
      // THRESHOLD per class (cap/n of the 2^64 space), map-side after one
      // count agg; statistically balanced, same determinism
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      val capped = counts.crossJoin(counts.agg(min("n").as("cap")))
        .select(col("lang"),
          (col("cap").cast("double") / col("n")).as("keep_frac"))
      docs.join(capped, "lang")
        .filter(pmod(xxhash64(col("doc_id")), lit(1L << 28)).cast("double")
          < col("keep_frac") * (1L << 28).toDouble)
        .select("doc_id", "lang")
    },

    sql("d9_feature_cross_hash",
      "D9: hashing-trick feature cross — (returnflag × linestatus × ship-month) crossed into 64 hashed buckets (md5 28-bit int mod 64, the oracle-portable stand-in for the production xxhash64), with per-bucket collision audit (distinct raw crosses landing in the bucket) and exact-decimal price mass; the bounded-cardinality categorical encoder for wide crosses — map-side hash, one 64-key agg, no vocabulary build or broadcast dictionary",
      s"""WITH x AS (SELECT l_returnflag || '|' || l_linestatus || '|'
        |    || CAST(month(l_shipdate) AS VARCHAR) AS k, l_extendedprice FROM lineitem)
        |SELECT CAST(('0x' || substr(md5(k), 1, 7))::BIGINT % 64 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT k) AS BIGINT) AS n_crosses,
        |  ${graft.ops.Det.Sql.dsum("l_extendedprice")} AS price_mass
        | FROM x GROUP BY 1 ORDER BY bucket""".stripMargin.replace("\n", "")) {
      (s, d) =>
        Tables.lineitem(s, d)
          .select(concat_ws("|", col("l_returnflag"), col("l_linestatus"),
            month(col("l_shipdate")).cast("string")).as("k"),
            col("l_extendedprice"))
          .groupBy((conv(substring(md5(col("k")), 1, 7), 16, 10)
            .cast("long") % 64).as("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct("k").as("n_crosses"),
            graft.ops.Det.dsum(col("l_extendedprice")).as("price_mass"))
          .orderBy("bucket")
    }.withBench { (s, d) =>
      // production: xxhash64 (codegen'd, no hex-string detour), same shape
      Tables.lineitem(s, d)
        .select(concat_ws("|", col("l_returnflag"), col("l_linestatus"),
          month(col("l_shipdate")).cast("string")).as("k"),
          col("l_extendedprice"))
        .groupBy(pmod(xxhash64(col("k")), lit(64)).as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          approx_count_distinct("k").as("n_crosses"),
          sum("l_extendedprice").as("price_mass"))
    },

    sql("u24_decayed_counts",
      "U24: time-decayed event counts — per-type activity mass with half-life 1 day over a 30-day horizon, as-of the archive's last day. Weights are exact powers of two over integer ages (1/(1<<age)), so every term and every partial sum is EXACT in double (47 bits used, 53 available) — order-independent, hence trivially mergeable: slice states are per-(type, day) integer counts (the U9 substrate), merge is integer addition, the decayed readout is this same fold. The freshness-weighted popularity signal for mixture/temperature decisions",
      """WITH mx AS (SELECT CAST(max(ts) AS DATE) AS d1 FROM events),
        |dc AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |ag AS (SELECT event_type, date_diff('day', day, d1) AS age, n FROM dc, mx
        |  WHERE date_diff('day', day, d1) <= 30)
        |SELECT event_type,
        |  SUM(CAST(n AS DOUBLE) / CAST(1::BIGINT << age AS DOUBLE)) AS decayed_count,
        |  CAST(SUM(n) AS BIGINT) AS raw_count
        | FROM ag GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val ev = graft.model.Tables.events(s, d)
        val mx = ev.agg(max(to_date(col("ts"))).as("d1")) // 1 row — AQE broadcasts
        ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
          .crossJoin(mx)
          .withColumn("age", datediff(col("d1"), col("day")))
          .filter(col("age") <= 30)
          .groupBy("event_type")
          .agg(sum(col("n").cast("double") /
            expr("cast(shiftleft(1L, cast(age as int)) as double)"))
            .as("decayed_count"),
            sum("n").as("raw_count"))
          .orderBy("event_type")
      }
    },

    sql("o17_purged_temporal_split",
      "O17: PURGED temporal train/test split — train is everything up to 16 days before the archive end, test the final 14 days, and the 2-day EMBARGO between them is dropped outright, so overlapping-horizon features (rolling windows, decayed counts) can't leak test-period information into training rows — the purged/embargoed split from financial ML (de Prado), the difference between honest and inflated backtests. Pure timestamp predicates against one 1-row max (map-side after AQE broadcasts it); output is the per-split audit sliver",
      """WITH mx AS (SELECT max(ts) AS t1 FROM events),
        |lab AS (SELECT event_type,
        |  CASE WHEN ts > t1 - INTERVAL 14 DAY THEN 'test'
        |       WHEN ts <= t1 - INTERVAL 16 DAY THEN 'train'
        |       ELSE 'embargo' END AS split, ts FROM events, mx)
        |SELECT split, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  strftime(min(ts), '%Y-%m-%d') AS first_day,
        |  strftime(max(ts), '%Y-%m-%d') AS last_day
        | FROM lab GROUP BY 1, 2 ORDER BY split, event_type"""
        .stripMargin.replace("\n", "")) {
      (s, d) => {
        val ev = graft.model.Tables.events(s, d)
        val mx = ev.agg(max("ts").as("t1")) // 1 row — AQE broadcasts
        ev.crossJoin(mx)
          .withColumn("split",
            when(col("ts") > col("t1") - expr("INTERVAL 14 DAY"), "test")
              .when(col("ts") <= col("t1") - expr("INTERVAL 16 DAY"), "train")
              .otherwise("embargo"))
          .groupBy("split", "event_type")
          .agg(count(lit(1)).as("n"),
            date_format(min("ts"), "yyyy-MM-dd").as("first_day"),
            date_format(max("ts"), "yyyy-MM-dd").as("last_day"))
          .orderBy("split", "event_type")
      }
    },

    sql("o18_class_weights",
      "O18: inverse-frequency class weights — per-language loss weight total/(K·n_c) in integer ppm (balanced-class weighting, the train-time twin of o16's data-side rebalance: keep every row, scale its gradient instead). One class-count agg + a 1-row total joined back; exact truncating-div ppm",
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS k FROM c)
        |SELECT lang, n, CAST(tot * 1000000 // (k * n) AS BIGINT) AS weight_ppm
        | FROM c, t ORDER BY lang""".stripMargin.replace("\n", "")) {
      (s, d) => {
        val c = Tables.documents(s, d).groupBy("lang").agg(count(lit(1)).as("n"))
        val t = c.agg(sum("n").as("tot"), count(lit(1)).as("k"))
        c.crossJoin(t) // 1 row — AQE broadcasts
          .select(col("lang"), col("n"),
            expr("tot * 1000000L div (k * n)").as("weight_ppm"))
          .orderBy("lang")
      }
    }
  )
}
