package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions — the 100 TB design claims, checked against the
  * actual physical plans on the smoke corpus (not just eyeballed once):
  * broadcast joins stay broadcast, filters reach the parquet scan, top-k
  * plans as TakeOrderedAndProject, and production-mode plans carry no
  * oracle-only total sort. */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val specs = SparkEntry.specs.map(s => s.name -> s).toMap

  private def plan(df: DataFrame): String = df.queryExecution.sparkPlan.toString

  /** Set session confs for the body, restoring prior values (or unsetting
    * keys that had none) afterwards — shared by the conf-dependent
    * optimizer-behavior tests. */
  private def withConfs(confs: Map[String, String])(body: => Unit): Unit = {
    val conf = spark.conf
    val saved = confs.keys.toSeq.map(k => k -> scala.util.Try(conf.get(k)).toOption)
    try {
      confs.foreach { case (k, v) => conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("dimension joins are broadcast-hash (no fact shuffle for dims)") {
    val p = plan(specs("j5_broadcast_dim").run(spark, TestSpark.sfDir))
    assert(p.contains("BroadcastHashJoin"))
    val star = plan(specs("j1_star_agg").run(spark, TestSpark.sfDir))
    assert(star.contains("BroadcastHashJoin")) // nation/region at least
  }

  test("6-way j16 plan: every join has an equi-condition (no cartesian), dims broadcast") {
    val p = plan(specs("j16_region_volume").run(spark, TestSpark.sfDir))
    // the same-nation constraint rides the join condition — a missing key
    // would surface as CartesianProduct / BroadcastNestedLoopJoin here
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("BroadcastHashJoin")) // region/nation/supplier side
    val q3 = plan(specs("j15_shipping_priority").run(spark, TestSpark.sfDir))
    assert(!q3.contains("CartesianProduct") && !q3.contains("BroadcastNestedLoop"), q3)
  }

  test("j17 correlated scalar subquery decorrelates: ONE aggregated build side, no per-row loop") {
    val p = plan(specs("j17_below_avg_quantity").run(spark, TestSpark.sfDir))
    // decorrelation = the subquery becomes a single partkey-grouped
    // aggregate joined back; a mis-decorrelated plan shows a nested-loop
    // or cartesian node (per-row re-execution — the 100 TB disaster)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // exactly one avg aggregation pair (partial+final) over lineitem —
    // the build side — besides the final COUNT/SUM group-by
    val avgAggs = "partial_avg".r.findAllIn(p).length
    assert(avgAggs == 1, s"expected one partial_avg build, got $avgAggs:\n$p")
  }

  test("j18 exists/not-exists chain plans as LeftSemi + LeftAnti on the correlation key") {
    val p = plan(specs("j18_exclusive_returns").run(spark, TestSpark.sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not become an anti join:\n$p")
  }

  test("j19 nested correlation: both levels decorrelate — LeftSemi for IN, one summed build for the inner scalar") {
    val p = plan(specs("j19_excess_stock_suppliers").run(spark, TestSpark.sfDir))
    // two decorrelation levels: the IN-subquery must become a left-semi
    // join and the inner two-column-correlated scalar must become ONE
    // (partkey, suppkey)-grouped sum joined back — any per-row
    // re-execution surfaces as a nested-loop/cartesian node
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("LeftSemi"), s"IN did not become a semi join:\n$p")
    val sumAggs = "partial_sum".r.findAllIn(p).length
    assert(sumAggs == 1, s"expected one partial_sum build for the inner scalar, got $sumAggs:\n$p")
  }

  test("j20 correlated min over a multi-join subquery: one grouped-min build, dims broadcast, no per-part loop") {
    val p = plan(specs("j20_min_cost_supplier").run(spark, TestSpark.sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the correlated 4-table MIN subquery must become ONE partkey-grouped
    // min build (its supplier/nation/region filters applied inside), not
    // a per-part re-execution of the join. Exactly 3 partial_min builds:
    // the supply CTE's MIN(l_extendedprice) inlined once per reference
    // (2× — linear, Spark's default CTE inlining) + the decorrelated
    // MIN(ps_cost). More would mean the subquery re-executes.
    val minAggs = "partial_min".r.findAllIn(p).length
    assert(minAggs == 3, s"expected 3 partial_min builds (CTE x2 + decorrelated min), got $minAggs:\n$p")
    assert(p.contains("BroadcastHashJoin"), "nation/region dims should broadcast")
  }

  test("j21 Q22 composition: scalar subqueries stay one-row, NOT EXISTS becomes LeftAnti") {
    val p = plan(specs("j21_lapsed_high_balance").run(spark, TestSpark.sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not become an anti join:\n$p")
    // the two population scalars ride as Subquery/scalar-subquery nodes
    // (one-row broadcasts), never joined per customer row
    assert(p.contains("scalar-subquery") || p.contains("Subquery"), p)
  }

  test("j22 Q4 shape: date window pushed into the orders scan, EXISTS becomes one LeftSemi") {
    val p = plan(specs("j22_priority_returns").run(spark, TestSpark.sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
    // the date window must reach the parquet scan as a pushed filter —
    // at 100 TB this is the difference between reading six months and
    // reading the archive
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), " +
      "GreaterThanOrEqual(o_orderdate") || p.contains("GreaterThanOrEqual(o_orderdate"),
      s"o_orderdate window not pushed to the orders scan:\n$p")
  }

  test("j23 Q11 shape: HAVING's global scalar plans as one subquery, not re-aggregated per group") {
    val p = plan(specs("j23_important_stock").run(spark, TestSpark.sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the threshold rides as a one-row scalar subquery broadcast into the
    // HAVING filter — a per-group re-aggregation would surface as a join
    // against a second aggregate of lineitem
    assert(p.contains("scalar-subquery") || p.contains("Subquery"), p)
    assert(p.contains("BroadcastHashJoin"), "supplier/nation dims should broadcast")
  }

  test("j24/j25 Q7/Q8 reporting joins: dims broadcast, no cartesian, filters pushed to the scans") {
    val q7 = plan(specs("j24_crossnation_volume").run(spark, TestSpark.sfDir))
    // the dual-nation disjunction must ride the broadcast nation joins as
    // a filter, never a cartesian of the nation pair
    assert(!q7.contains("CartesianProduct") && !q7.contains("BroadcastNestedLoop"), q7)
    assert(q7.contains("BroadcastHashJoin"), "nation/supplier dims should broadcast")
    // the ship-date window reads two years of the archive, not all of it
    assert(q7.contains("GreaterThanOrEqual(l_shipdate"),
      s"l_shipdate window not pushed to the lineitem scan:\n$q7")
    val q8 = plan(specs("j25_market_share").run(spark, TestSpark.sfDir))
    assert(!q8.contains("CartesianProduct") && !q8.contains("BroadcastNestedLoop"), q8)
    assert(q8.contains("BroadcastHashJoin"), "part/supplier/nation/region dims should broadcast")
    // the PROMO filter prunes the part dim BEFORE its broadcast
    assert(q8.contains("EqualTo(p_type,PROMO)"),
      s"p_type filter not pushed to the part scan:\n$q8")
  }

  test("j26 Q13 shape: the priority predicate rides the outer join (never a post-join filter)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val qe = specs("j26_cust_order_counts").run(spark, TestSpark.sfDir).queryExecution
    val opt = qe.optimizedPlan
    val outer = opt.collect { case j: Join if j.joinType.toString == "LeftOuter" => j }
    assert(outer.nonEmpty, s"expected a LeftOuter join:\n$opt")
    val j = outer.head
    // the NOT LIKE must constrain the orders side — pushed into the right
    // subtree (legal for a right-side-only predicate under LEFT OUTER) or
    // still in the join condition. A post-join Filter would ALSO null-drop
    // the zero-order customers the histogram's zero bucket counts, so
    // every occurrence of the predicate must live at/below the join.
    val inJoin = j.right.toString.contains("URGENT") ||
      j.condition.exists(_.toString.contains("URGENT"))
    assert(inJoin, s"priority predicate not on the join's build side:\n$opt")
    val total = "URGENT".r.findAllIn(opt.toString).length
    val below = "URGENT".r.findAllIn(j.toString).length
    assert(total == below, s"priority predicate appears above the outer join:\n$opt")
  }

  test("j28 Q10 shape: filters pushed to the scans, top-20 as TakeOrderedAndProject") {
    val p = plan(specs("j28_returned_revenue").run(spark, TestSpark.sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the returnflag sliver and the half-year window must reach the
    // parquet scans — at 100 TB this reads one flag of one half-year
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"l_returnflag not pushed to the lineitem scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"o_orderdate window not pushed to the orders scan:\n$p")
    // top-20 must be a per-partition heap, never a full sort of the
    // grouped customer revenue
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject for ORDER BY ... LIMIT 20:\n$p")
  }

  test("j27 Q18 shape: HAVING-IN decorrelates to one LeftSemi over a pre-aggregated build") {
    val p = plan(specs("j27_large_orders").run(spark, TestSpark.sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("LeftSemi"), s"IN did not become a semi join:\n$p")
    // exactly two partial_sum builds: the orderkey-grouped threshold
    // aggregate (map-side combined BEFORE its shuffle — one row per order
    // crosses the wire) and the final per-order quantity re-aggregation.
    // More would mean the subquery re-executes per probe row.
    val sums = "partial_sum".r.findAllIn(p).length
    assert(sums == 2, s"expected 2 partial_sum builds (threshold + final), got $sums:\n$p")
  }

  test("j29 Q16 shape: both NOT IN legs plan as null-aware anti joins, never the nested-loop fallback") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val phys = specs("j29_clean_suppliers").run(spark, TestSpark.sfDir)
      .queryExecution.sparkPlan
    val naaj = phys.collect {
      case b: BroadcastHashJoinExec if b.isNullAwareAntiJoin => b
    }
    assert(naaj.size == 2,
      s"expected 2 null-aware anti joins (main + null-trap branch), got ${naaj.size}:\n$phys")
    val p = phys.toString
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"NOT IN fell back to a nested-loop plan:\n$p")
  }

  test("j30 Q19 shape: the equi-key is factored out of the disjunction — one hash join, slivers inferred") {
    val p = plan(specs("j30_disjunctive_revenue").run(spark, TestSpark.sfDir))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"the disjunctive ON clause degraded to a nested-loop join:\n$p")
    assert(p.contains("BroadcastHashJoin [l_partkey"),
      s"common equi-key not extracted from the OR bundles:\n$p")
    // Catalyst infers per-side slivers from the disjunction and pushes them
    // into the scans: the quantity envelope prunes the fact side, the
    // brand/size disjunction prunes the part build
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"quantity envelope not pushed to the lineitem scan:\n$p")
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      s"brand/size disjunction not pushed to the part scan:\n$p")
  }

  test("j31 Q15 shape: one lineitem scan feeds both the MAX and the detail join") {
    val p = plan(specs("j31_top_supplier").run(spark, TestSpark.sfDir))
    val scans = "lineitem\\.parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly 1 lineitem scan, got $scans:\n$p")
    // the classic scalar-subquery form re-scans the fact table (ReuseExchange
    // can't fire across the join-inferred isnotnull) — the engine's plan
    // must not carry a scalar subquery at all
    assert(!p.contains("scalar-subquery"),
      s"MAX re-executes as a scalar subquery over a second scan:\n$p")
  }

  test("a31/a32 Q1/Q6 shapes: one scan, pushed predicates, map-side-combined aggregate") {
    val q1 = plan(specs("a31_pricing_summary").run(spark, TestSpark.sfDir))
    assert("lineitem\\.parquet".r.findAllIn(q1).length == 1, s"Q1 must be ONE scan:\n$q1")
    assert(q1.contains("partial_sum"), s"Q1 aggregate not map-side combined:\n$q1")
    assert(q1.contains("LessThanOrEqual(l_shipdate"),
      s"Q1 date bound not pushed to the scan:\n$q1")
    val q6 = plan(specs("a32_forecast_revenue").run(spark, TestSpark.sfDir))
    // the whole predicate set reaches the parquet scan: date window,
    // discount band, quantity cap — at 100 TB row-group stats skip on
    // these. Plan text TRUNCATES long PushedFilters lists (the p1 gotcha),
    // so assert the untruncated list prefix plus the Filter-node echo of
    // each predicate (DataFilters mirror what reached the scan).
    assert(q6.contains(
      "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
        "IsNotNull(l_quantity), GreaterThanOrEqual(l_shipda"),
      s"Q6 scan predicates not pushed:\n$q6")
    for (f <- Seq(">= 1996-01-01 00:00:00", "< 1997-01-01 00:00:00",
      ">= 0.05)", "<= 0.07)", "< 24.0)"))
      assert(q6.contains(f), s"Q6 predicate $f missing from the scan filter:\n$q6")
    assert(q6.contains("partial_count") || q6.contains("partial_sum"),
      s"Q6 aggregate not map-side combined:\n$q6")
  }

  test("ds1-ds5 TPC-DS shapes: banded single scan, window-over-sliver-rollup, sliver-grain cumulatives, lag-window YoY, double ExistenceJoin") {
    // ds1 (Q88 class): four band tiles collapse into ONE lineitem pass —
    // a single scan with the base predicate pushed, no join, map-side
    // combined conditional aggregates
    val p1 = plan(specs("ds1_quantity_bands").run(spark, TestSpark.sfDir))
    assert("lineitem\\.parquet".r.findAllIn(p1).length == 1,
      s"ds1 must be ONE scan:\n$p1")
    assert(!p1.contains("Join"), s"ds1 must not join:\n$p1")
    assert(p1.contains("PushedFilters: [IsNotNull(l_discount), " +
      "GreaterThanOrEqual(l_discount,0.02), LessThanOrEqual(l_discount,0.08)]"),
      s"ds1 discount window not pushed:\n$p1")
    assert(p1.contains("partial_count") && p1.contains("partial_sum"),
      s"ds1 bands not map-side combined:\n$p1")

    // ds2 (Q36 class): rollup = Expand, dims broadcast, rank window over
    // the rollup output — and the Expand must sit ABOVE the per-group
    // aggregate (the sliver), never directly on the joined fact: Spark's
    // rollup-over-fact plan multiplies the fact (levels+1)× through
    // Expand before any aggregation (34.2× vs 11.4× on the sf10 rung)
    val p2 = plan(specs("ds2_rollup_rank").run(spark, TestSpark.sfDir))
    assert(p2.contains("Expand"), s"ds2 rollup lost its Expand:\n$p2")
    assert(p2.contains("BroadcastHashJoin"), s"ds2 dims not broadcast:\n$p2")
    assert(p2.contains("Window"), s"ds2 rank window missing:\n$p2")
    assert("orders\\.parquet".r.findAllIn(p2).length == 1,
      s"ds2 must scan orders once:\n$p2")
    val ei = p2.indexOf("Expand")
    val ji = p2.indexOf("BroadcastHashJoin")
    assert(ei >= 0 && ji > ei &&
      "HashAggregate".r.findAllMatchIn(p2).exists(m => m.start > ei && m.start < ji),
      s"ds2 Expand feeds on the joined fact instead of the aggregated sliver:\n$p2")

    // the whole grouping-sets family holds the same discipline: Expand
    // replicates the pre-aggregated sliver, never the fact scan — an
    // aggregate must sit between Expand and the parquet scan
    for (name <- Seq("a13_rollup", "a13b_cube", "a13c_grouping_sets")) {
      val pa = plan(specs(name).run(spark, TestSpark.sfDir))
      val e = pa.indexOf("Expand")
      val sc = pa.indexOf("lineitem.parquet")
      assert(e >= 0 && sc > e &&
        "HashAggregate".r.findAllMatchIn(pa).exists(m => m.start > e && m.start < sc),
        s"$name Expand feeds on the fact instead of the aggregated sliver:\n$pa")
    }

    // ds3 (Q51 class): the two series aggregate to day grain BEFORE the
    // full-outer alignment and the running sums — both scans carry the
    // pushed returnflag predicate, the join is full-outer, and the window
    // sits above partial+final day aggregates (sliver grain)
    val p3 = plan(specs("ds3_cumulative_returns").run(spark, TestSpark.sfDir))
    assert("lineitem\\.parquet".r.findAllIn(p3).length == 2,
      s"ds3 needs exactly the two series scans:\n$p3")
    assert(p3.contains("EqualTo(l_returnflag,R)"),
      s"ds3 returned-series flag not pushed:\n$p3")
    assert(p3.contains("FullOuter"), s"ds3 alignment must be full-outer:\n$p3")
    assert(p3.contains("Window") && p3.contains("partial_sum"),
      s"ds3 cumulatives must run over day-grain aggregates:\n$p3")

    // ds4 (Q74 class): the year-shift comparison must NOT execute as the
    // oracle's self-join (which re-scans the fact for the shifted copy —
    // the exchange can never be reused across y vs y+1 hash keys); the
    // engine reads the adjacent year via lag() — ONE scan, a custkey-
    // partitioned window on the aggregate sliver, no join node at all
    val p4 = plan(specs("ds4_yoy_spend").run(spark, TestSpark.sfDir))
    assert("orders\\.parquet".r.findAllIn(p4).length == 1,
      s"ds4 must scan orders once:\n$p4")
    assert(!p4.contains("Join"), s"ds4 must not self-join:\n$p4")
    assert(p4.contains("Window") && p4.contains("partial_sum"),
      s"ds4 needs the lag window over a map-side-combined aggregate:\n$p4")

    // ds5 (Q10/Q35 class): a DISJUNCTION of existence tests cannot become
    // LeftSemi — each EXISTS must plan as an ExistenceJoin producing a
    // boolean flag with the OR as a plain filter; per-row re-execution
    // would surface as a nested-loop/cartesian node
    val p5 = plan(specs("ds5_either_exists").run(spark, TestSpark.sfDir))
    assert(!p5.contains("CartesianProduct") && !p5.contains("BroadcastNestedLoop"),
      s"ds5 OR-of-EXISTS fell back to a nested loop:\n$p5")
    assert("ExistenceJoin".r.findAllIn(p5).length == 2,
      s"ds5 needs one ExistenceJoin per EXISTS branch:\n$p5")
    assert(p5.contains("EqualTo(l_returnflag,R)"),
      s"ds5 returned-line flag not pushed into the lineitem scan:\n$p5")
  }

  test("ds6/ds7: INTERSECT as semi-join chain (never a distinct-union), union-of-facts rollup over ONE shared sliver") {
    // ds6 (Q38/Q87 class): multi-way INTERSECT of grouped key sets must
    // plan as per-branch filtered scans feeding a LeftSemi chain with one
    // distinct aggregate on top (ReplaceIntersectWithSemiJoin) — a
    // distinct-union blowup would surface as a Union node; per-row
    // re-execution as a nested loop
    val p6 = plan(specs("ds6_repeat_buyers").run(spark, TestSpark.sfDir))
    assert("LeftSemi".r.findAllIn(p6).length == 3,
      s"ds6 needs the 2 intersect semis + the returned-line semi:\n$p6")
    assert(!p6.contains("Union"), s"ds6 INTERSECT fell back to a distinct-union:\n$p6")
    assert(!p6.contains("CartesianProduct") && !p6.contains("BroadcastNestedLoop"),
      s"ds6 planned a nested loop:\n$p6")
    assert(p6.contains("EqualTo(o_orderpriority,1-URGENT)"),
      s"ds6 urgent-branch filter not pushed into its orders scan:\n$p6")
    assert(p6.contains("EqualTo(l_returnflag,R)"),
      s"ds6 returned-line filter not pushed into the lineitem scan:\n$p6")
    assert(p6.contains("GreaterThan(o_totalprice,100000.0)"),
      s"ds6 spend filter not pushed into its orders scan:\n$p6")

    // ds7 (Q5/Q77 class): per-branch filters and the 3-column conformance
    // projection must push THROUGH the Union into both scans
    // (PushProjectionThroughUnion), and the rollup's Expand must sit
    // above the ONE keyed aggregate that reduces the unioned fact
    // streams to the (channel, yr) sliver — never on a raw fact
    val p7 = plan(specs("ds7_channel_rollup").run(spark, TestSpark.sfDir))
    assert(p7.contains("Union"), s"ds7 lost its Union:\n$p7")
    assert(p7.contains("Not(EqualTo(o_orderstatus,P))"),
      s"ds7 orders-branch filter not pushed:\n$p7")
    assert(p7.contains("GreaterThanOrEqual(l_quantity,5.0)") ||
      p7.contains("GreaterThanOrEqual(l_quantity,5)"),
      s"ds7 lineitem-branch filter not pushed:\n$p7")
    // column pruning through the Union: each scan reads only its branch's
    // 3 conformance inputs
    assert(p7.contains("ReadSchema: struct<o_orderstatus:string,o_totalprice:double,o_orderdate:timestamp_ntz>"),
      s"ds7 orders scan not pruned to its 3 branch columns:\n$p7")
    val e7 = p7.indexOf("Expand")
    val u7 = p7.indexOf("Union")
    assert(e7 >= 0 && u7 > e7 &&
      "HashAggregate".r.findAllMatchIn(p7).exists(m => m.start > e7 && m.start < u7),
      s"ds7 Expand feeds on the unioned facts instead of the shared sliver:\n$p7")

    // ds8 (Q69/Q35 class): the CONJUNCTION of existence tests — ds5's
    // counterpart — must decorrelate fully: EXISTS → LeftSemi, NOT EXISTS
    // → LeftAnti, chained; no ExistenceJoin flags, no Expand, no nested
    // loop, both probe filters pushed into their scans
    val p8 = plan(specs("ds8_urgent_no_returns").run(spark, TestSpark.sfDir))
    assert("LeftSemi".r.findAllIn(p8).length == 2,
      s"ds8 needs the EXISTS semi + the returned-line inner-probe semi:\n$p8")
    assert("LeftAnti".r.findAllIn(p8).length == 1,
      s"ds8 NOT EXISTS must be one LeftAnti:\n$p8")
    assert(!p8.contains("ExistenceJoin"),
      s"ds8 conjunction must decorrelate, never flag-join:\n$p8")
    assert(!p8.contains("CartesianProduct") && !p8.contains("BroadcastNestedLoop"),
      s"ds8 planned a nested loop:\n$p8")
    assert(p8.contains("EqualTo(o_orderpriority,1-URGENT)") &&
      p8.contains("EqualTo(l_returnflag,R)"),
      s"ds8 probe filters not pushed:\n$p8")
  }

  test("ds9: dynamic partition pruning — the fact scan reads ONLY the dim-selected month partitions") {
    // the bread-and-butter warehouse plan shape (r16 verdict ask #1): a
    // date-partitioned fact joined to a dim filtered on yr (NOT the
    // partition column — static pruning impossible) must get a
    // dynamicpruning subquery on the scan and read ≪ all partitions
    val df = specs("ds9_partitioned_fact").run(spark, TestSpark.sfDir)
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val exec = df.queryExecution.executedPlan
    val factScans = scans(exec).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("lineitem_by_month")))
    assert(factScans.nonEmpty, s"no partitioned-fact scan in the plan:\n$exec")
    // the pruning is DYNAMIC — a runtime subquery on the partition column,
    // not a hand-collected literal month list
    assert(exec.toString.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic-partition-pruning subquery on the fact scan:\n$exec")
    // and it actually pruned: the layout holds ~7 years of months, the
    // dim filter selects one year — the scan must touch ≤ 12 month
    // partitions out of strictly more
    val root = graft.queries.DsQueries.PartitionedState.ensure(spark, TestSpark.sfDir)
    val totalMonths = new java.io.File(s"$root/lineitem_by_month")
      .listFiles().count(_.getName.startsWith("ship_month="))
    val readPartitions = factScans.map(_.metrics("numPartitions").value).sum
    assert(totalMonths > 12,
      s"layout precondition: expected >12 month partitions, got $totalMonths")
    assert(readPartitions <= 12 && readPartitions > 0,
      s"DPP read $readPartitions of $totalMonths month partitions — expected ≤ 12 (one year)")
  }

  test("g6 recursive CTE: UnionLoop over a MATERIALIZED pair substrate, never re-deriving per iteration") {
    val p = plan(specs("g6_reachability").run(spark, TestSpark.sfDir))
    assert(p.contains("UnionLoop"),
      s"WITH RECURSIVE did not plan as UnionLoop:\n$p")
    // the recursion must scan the checkpointed pair RDD — an inlined view
    // would re-run the full minhash pair join every iteration
    assert(!p.contains("documents.parquet"),
      s"pair substrate inlined into the recursion (re-derived per iteration):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 should be a per-partition heap:\n$p")
  }

  test("j35 lateral ORDER BY+LIMIT decorrelates to a row_number window, never a per-group re-scan") {
    val p = plan(specs("j35_lateral_topn").run(spark, TestSpark.sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"lateral executed as a nested loop:\n$p")
    assert(p.contains("row_number()"),
      s"limited-ordered lateral did not decorrelate to a window:\n$p")
    val scans = "part\\.parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected 2 part scans (brand list + detail), got $scans:\n$p")
  }

  test("semi/anti joins plan as LeftSemi/LeftAnti, not inner+distinct") {
    assert(plan(specs("j3_semi_join").run(spark, TestSpark.sfDir)).contains("LeftSemi"))
    assert(plan(specs("j4_anti_join").run(spark, TestSpark.sfDir)).contains("LeftAnti"))
  }

  test("cleaning predicates push into the parquet scan") {
    // plan text truncates long filter lists — assert on the untruncated
    // prefix plus the data-filter echo of the range predicates
    val p = plan(specs("p1_clean_filter").production(spark, TestSpark.sfDir))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"))
    assert(p.contains("l_quantity") && p.contains("DataFilters: [isnotnull(l_quantity"))
  }

  test("scans prune columns: p5 projection reads only selected columns") {
    val p = plan(specs("p5_project_cast").production(spark, TestSpark.sfDir))
    val readSchema = p.linesIterator.mkString
    assert(readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"))
  }

  test("ORDER BY DESC LIMIT k plans as TakeOrderedAndProject (no full sort)") {
    assert(plan(specs("o2_topk").run(spark, TestSpark.sfDir)).contains("TakeOrderedAndProject"))
    assert(plan(specs("ss1_cosine_topk").run(spark, TestSpark.sfDir)).contains("TakeOrderedAndProject"))
  }

  /** The child of an analyzed plan's root global Sort, if the root is one.
    * Window queries keep per-partition (global = false) Sorts below the
    * root, so only the root decides whether a plan ends in a total sort. */
  private def underRootSort(p: LogicalPlan): Option[LogicalPlan] = p match {
    case s: Sort if s.global => Some(s.child)
    case _ => None
  }

  test("production plans drop the oracle-only total sort") {
    // every spec that declares an oracle order: production has no root
    // total sort, and run ends in one on exactly the declared keys (the
    // row-ordered compare in tools/compare_oracle.py depends on it)
    val ordered = SparkEntry.specs.filter(_.order.nonEmpty)
    assert(ordered.size >= 38, s"only ${ordered.size} specs declare an oracle order")
    // a bare col("x") is an ascending sort with Spark's default nulls-first
    def expected(c: Column): String = {
      val t = c.toString
      if (t.endsWith(" NULLS FIRST") || t.endsWith(" NULLS LAST")) t else s"$t ASC NULLS FIRST"
    }
    for (spec <- ordered) {
      val prod = spec.production(spark, TestSpark.sfDir).queryExecution.analyzed
      assert(underRootSort(prod).isEmpty,
        s"${spec.name} production plan ends in a total sort:\n$prod")
      spec.run(spark, TestSpark.sfDir).queryExecution.analyzed match {
        case s: Sort if s.global =>
          val keys = s.order.map { o =>
            s"${o.child.asInstanceOf[Attribute].name} ${o.direction.sql} ${o.nullOrdering.sql}"
          }
          assert(keys == spec.order.map(expected),
            s"${spec.name} run sorts on $keys, declared ${spec.order}")
        case other =>
          fail(s"${spec.name} declares an oracle order but run's root is not a total sort:\n$other")
      }
    }
  }

  test("registry guard: no bench variant is only the oracle plan minus its total sort") {
    // A variant equal to run's body under the root sort is a sort-drop
    // copy: declare the order with oracleOrder and delete the variant.
    // Only analyzed plans are compared (an eager localCheckpoint inside a
    // body still runs while it is built). sameResult never matches two
    // separately built checkpoints, so a copy over one is not caught here.
    for (spec <- SparkEntry.specs if spec.benchRun.isDefined) {
      underRootSort(spec.run(spark, TestSpark.sfDir).queryExecution.analyzed).foreach { body =>
        val prod = spec.production(spark, TestSpark.sfDir).queryExecution.analyzed
        assert(!body.sameResult(prod),
          s"${spec.name}: the bench variant only drops run's total sort — use oracleOrder")
      }
    }
  }

  test("production percentiles use the sketch, not exact Percentile buffering") {
    val p = plan(specs("a5_percentiles").production(spark, TestSpark.sfDir))
    assert(p.contains("approx_percentile") || p.contains("percentile_approx"))
    assert(!p.contains("percentile(l_extendedprice"))
  }

  test("production count-distinct uses HLL sketches") {
    val p = plan(specs("a14_count_distinct").production(spark, TestSpark.sfDir))
    assert(p.contains("approx_count_distinct"))
  }

  test("production grouped percentiles use per-group sketches") {
    val p = plan(specs("a18_grouped_percentiles").production(spark, TestSpark.sfDir))
    assert(p.contains("approx_percentile") || p.contains("percentile_approx"))
    assert(!p.contains("percentile(l_extendedprice"))
  }

  test("keyed aggregations run partial+final (map-side combine before the shuffle)") {
    val p = plan(specs("a1_supplier_stats").run(spark, TestSpark.sfDir))
    // partial_* functions in the lower HashAggregate = map-side combine
    // (the single-partition smoke input elides the Exchange itself)
    assert(p.split("HashAggregate").length >= 3, s"no two-level agg in:\n$p")
    assert(p.contains("partial_sum") && p.contains("partial_count"))
  }

  test("round-6 operators keep scale-safe join shapes (no cartesian/nested-loop fallbacks)") {
    // incremental dedup: every join is bucket- or key-equality — a
    // CartesianProduct would mean candidate generation went all-pairs
    val dd6 = plan(specs("dd6_incremental_neardup").run(spark, TestSpark.sfDir))
    assert(!dd6.contains("CartesianProduct"), "dd6 planned an all-pairs join")
    // snapshot diff: one full-outer SortMergeJoin on the key, never a
    // nested loop (which a non-equi or missing-key condition would force)
    val u7 = plan(specs("u7_snapshot_diff").run(spark, TestSpark.sfDir))
    assert(u7.contains("FullOuter") || u7.contains("full_outer"), s"u7 lost the full-outer: $u7")
    assert(!u7.contains("BroadcastNestedLoopJoin") && !u7.contains("CartesianProduct"))
    // stream-static enrichment: the dim joins broadcast so the stream
    // side never shuffles for the join
    val st5 = plan(specs("st5_enriched_segments").run(spark, TestSpark.sfDir))
    assert(st5.contains("BroadcastHashJoin"), s"st5 dim join not broadcast: $st5")
    // weighted/exact-n samples: top-n, not a full global sort
    assert(plan(specs("o9_weighted_sample").run(spark, TestSpark.sfDir))
      .contains("TakeOrderedAndProject"))
    assert(plan(specs("o3b_exact_n_sample").run(spark, TestSpark.sfDir))
      .contains("TakeOrderedAndProject"))
    // decontamination: the eval shingle set is the BROADCAST build side —
    // the 100 TB train side must never shuffle for the join
    val dd7 = plan(specs("dd7_decontaminate").production(spark, TestSpark.sfDir))
    assert(dd7.contains("BroadcastHashJoin"), s"dd7 eval side not broadcast: $dd7")
    assert(!dd7.contains("CartesianProduct"))
    // histogram bounds: a 1-row broadcast, not a shuffle or driver collect
    val a20 = plan(specs("a20_histogram").run(spark, TestSpark.sfDir))
    assert(a20.contains("BroadcastNestedLoopJoin") || a20.contains("BroadcastHashJoin"),
      s"a20 bounds not broadcast: $a20")
    // CDC apply: anti-join on the key (broadcast or shuffled-hash), and the
    // union reuses the target scan exactly once
    val u8 = plan(specs("u8_cdc_apply").run(spark, TestSpark.sfDir))
    assert(u8.contains("LeftAnti"), s"u8 lost the anti-join: $u8")
    assert(!u8.contains("CartesianProduct") && !u8.contains("BroadcastNestedLoopJoin"))
    // token-budget packing: the corpus-sized window must be PARTITIONED
    // (by the frozen range bucket __pid) and the offsets must come back
    // broadcast — a naive global-order window would show neither. The
    // rangepartitioning exchange itself runs inside the eager
    // localCheckpoint, so the final plan reads the frozen RDD.
    val llm3 = plan(specs("llm3_pack_shards").run(spark, TestSpark.sfDir))
    assert(llm3.contains("__pid") && llm3.contains("BroadcastHashJoin"),
      s"llm3 lost the distributed prefix-sum shape: $llm3")
  }

  test("round-9 operators keep scale-safe join shapes") {
    // PIT join: the interval predicate must RIDE ON the key equi-join
    // (hash or sort-merge with a post-condition) — a planner that only
    // saw the range predicates would fall back to a nested loop, which
    // dies at fact scale
    val j9 = plan(specs("j9_scd2_pit_join").run(spark, TestSpark.sfDir))
    assert(!j9.contains("BroadcastNestedLoopJoin") && !j9.contains("CartesianProduct"),
      s"j9 lost the equi-join shape: $j9")
    assert(j9.contains("BroadcastHashJoin") || j9.contains("SortMergeJoin") ||
      j9.contains("ShuffledHashJoin"), s"j9 has no equi join: $j9")
    // full outer: equi full-outer, never a nested loop
    val j10 = plan(specs("j10_full_outer").run(spark, TestSpark.sfDir))
    assert(j10.contains("FullOuter") || j10.contains("full_outer"), s"j10 lost full-outer: $j10")
    assert(!j10.contains("BroadcastNestedLoopJoin") && !j10.contains("CartesianProduct"))
    // retraction: state-vs-delete joins are key-equality; the dirty-key
    // rescan is a semi-join sliver — nothing all-pairs anywhere
    for (q <- Seq("u16_retractable_agg", "gdpr1_forget_cascade", "u17_retractable_quantiles")) {
      val p = plan(specs(q).run(spark, TestSpark.sfDir))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q planned an all-pairs join: $p")
    }
    // k-core + downweight sampling: every join is id- or text-keyed —
    // peeling/sizing must never degenerate to all-pairs
    for (q <- Seq("g5_kcore", "dd14_dup_downweight_sample", "t20_bigram_collocations")) {
      val p = plan(specs(q).run(spark, TestSpark.sfDir))
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian: $p")
    }
    // sessionization: ONE data-sized exchange (the user-keyed window);
    // the post-window agg only moves session-sliver rows
    val ep7 = plan(specs("ep7_sessionization").run(spark, TestSpark.sfDir))
    assert(ep7.contains("Window"), s"ep7 lost the window: $ep7")
    assert(!ep7.contains("CartesianProduct"))
    // interval-overlap: the grid turns the pure range predicate into an
    // EQUI join on (key, cell) — a nested loop here is the exact plan
    // the operator exists to avoid
    val j11 = plan(specs("j11_interval_overlap").run(spark, TestSpark.sfDir))
    assert(!j11.contains("BroadcastNestedLoopJoin") && !j11.contains("CartesianProduct"),
      s"j11 lost the grid equi-join shape: $j11")
    assert(j11.contains("BroadcastHashJoin") || j11.contains("SortMergeJoin") ||
      j11.contains("ShuffledHashJoin"), s"j11 has no equi join: $j11")
    // triangles: wedge build + closure are equi-joins on oriented edges;
    // only the corpus→pair-graph step may shuffle data-sized rows
    val g2 = plan(specs("g2_triangles").run(spark, TestSpark.sfDir))
    assert(!g2.contains("BroadcastNestedLoopJoin") && !g2.contains("CartesianProduct"),
      s"g2 planned an all-pairs join: $g2")
    // semantic prune: the pairwise step must ride the blocking-key
    // equi-join (label here, IVF cid at scale)
    val dd12 = plan(specs("dd12_semantic_prune").run(spark, TestSpark.sfDir))
    assert(!dd12.contains("CartesianProduct"), s"dd12 went all-pairs: $dd12")
  }

  test("runtime bloom-filter pruning engages for selective-dim shuffle joins") {
    // When a dim side carries a selective filter and the fact side is too
    // big to broadcast, Spark can inject a bloom filter built from the dim
    // keys into the fact scan (runtime row-level filtering) — the 100 TB
    // shuffle-join shape where most fact rows die before the exchange.
    // Thresholds are lowered so the smoke corpus qualifies.
    withConfs(Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) { // force the shuffle join
      import org.apache.spark.sql.functions._
      val li = graft.model.Tables.lineitem(spark, TestSpark.sfDir)
      val supp = graft.model.Tables.supplier(spark, TestSpark.sfDir)
        .filter(col("s_acctbal") > 9000) // selective dim predicate
      val joined = li.join(supp, li("l_suppkey") === supp("s_suppkey"))
        .groupBy("l_suppkey").agg(sum("l_quantity"))
      assert(plan(joined).toLowerCase.contains("might_contain"),
        s"no bloom runtime filter injected: ${plan(joined)}")
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // The 100 TB skew story is two-layered: explicit salting (ops/Skew,
    // SkewSpec) for aggregations and known-hot keys, and AQE's runtime
    // skew-join splitting for the rest. Pin the second layer actually
    // engages: a 200k-row hot key forced through a sort-merge join must
    // come out of adaptive execution with the skew flag set.
    withConfs(Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      import org.apache.spark.sql.functions._
      val left = spark.range(200000).select(lit(1L).as("k"), col("id").as("v"))
        .unionByName(spark.range(2, 1000).select(col("id").as("k"), col("id").as("v")))
      val right = spark.range(1, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // execute joined's OWN QueryExecution (count() would plan a separate
      // aggregate query and leave this one un-finalized)
      joined.queryExecution.executedPlan.execute().count()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed partition: $finalPlan")
    }
  }

  test("every registered query has distinct name; oracle queries keep deterministic output") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("production dedup plans carry the hot-shingle df-cap anti-join") {
    // The cap is a LeftAnti against the over-cap shingle set. Production
    // paths MATERIALIZE the capped substrate (localCheckpoint) because
    // ~4-7 consumers would otherwise re-run the cap's shuffle each — so
    // the anti-join executes inside the eager checkpoint and the final
    // plan shows the snapshot scan, not the join. Pin both halves:
    // (1) the cap construction itself plans the LeftAnti…
    val sh = graft.ops.Dedup.shingleDF(
      graft.model.Tables.documents(spark, TestSpark.sfDir))
    assert(plan(graft.ops.Dedup.capDocumentFrequency(sh, 1000)).contains("LeftAnti"))
    // (2) …and every capped bench plan reads a materialized substrate
    // (the checkpoint the cap ran inside). Cap SEMANTICS are pinned by
    // DedupSpec's stop-shingle parity test.
    for (name <- Seq("dd2_minhash_neardup", "dd3_ngram_jaccard")) {
      val p = plan(specs(name).production(spark, TestSpark.sfDir))
      assert(p.contains("Scan ExistingRDD"),
        s"$name bench plan no longer reads the materialized capped substrate:\n${p.take(2000)}")
    }
    // the oracle plan stays cap-free AND fully lazy (DuckDB must see
    // every shingle; pipelined recompute is the measured-faster shape)
    val oracleP = plan(specs("dd3_ngram_jaccard").run(spark, TestSpark.sfDir))
    assert(!oracleP.contains("LeftAnti") && !oracleP.contains("Scan ExistingRDD"))
    // the composed capstone's production plan: capped materialized
    // substrate + the pipeline's own drop-set anti-join. (These markers
    // alone can't prove maxDf reaches the dedup stage — that plumbing is
    // pinned behaviorally by DocPipelineSpec's cap-changes-the-outcome
    // test.)
    val llm1 = plan(specs("llm1_clean_corpus").production(spark, TestSpark.sfDir))
    assert(llm1.contains("Scan ExistingRDD") && llm1.contains("LeftAnti"),
      "llm1 production plan lost the df-cap substrate or the drop-set anti-join")
  }

  test("production sampling/vocab plans use the cheap hash and the sketch") {
    val o8 = plan(specs("o8_group_hash_sample").production(spark, TestSpark.sfDir))
    assert(o8.contains("xxhash64") && !o8.contains("md5"))
    val t8 = plan(specs("t8_token_freq").production(spark, TestSpark.sfDir))
    assert(t8.contains("approx_count_distinct"))
  }

  /** Non-comment source lines of every file under src/main/scala/graft,
    * as (relative-path, line) pairs — substrate for the source audits. */
  private def mainSourceLines: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val buf = scala.collection.mutable.ListBuffer.empty[(String, String)]
    files.forEachRemaining { p =>
      if (p.toString.endsWith(".scala")) {
        val rel = root.relativize(p).toString
        scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().foreach { line =>
          val t = line.trim
          if (!t.startsWith("//") && !t.startsWith("*") && !t.startsWith("/*")) buf += rel -> t
        }
      }
    }
    buf.toList
  }

  test("driver-scalar audit: the only DataFrame driver actions in src/main are the sanctioned 1-row scalars") {
    // The C3 claim (no collect funnels) as an executable allowlist. Every
    // sanctioned site is a ONE-ROW AGGREGATE scalar (never row data):
    //   ops/Cleaning.scala        IQR bounds — 1-row quantile agg .head()
    //   ops/Quality.scala         dup count + metrics row — 1-row aggs (×2)
    //   queries/DedupQueries.scala dd6 batch split point — 1-row max() agg
    //     .head (same class as the IQR/quality scalars)
    //   ops/Manifest.scala        pruned-scan surviving + known FILE lists,
    //     appendManifest known-file list (×3) — metadata scale (one string
    //     per file), the structure Spark's own FileIndex holds on the
    //     driver for every scan; planning, not row data
    //   pipeline/IncrementalIngest.scala forget's touched-file list — the
    //     same manifest-pruning planning collect (one string per file
    //     whose envelope admits a forgotten id), never row data
    //   ops/VectorIndex.scala     forget's affected/kept cid lists (×2) —
    //     ≤ K values each (the quantizer is frozen at K centroids):
    //     dim-bounded partition PLANNING, never row data
    //   ops/Expectations.scala    suite report row — the whole suite is
    //     ONE conditional-sum aggregate; .head() reads its single row
    //     (Quality.report's class; the DataFrame form is evaluateDF)
    //   tools/StreamSoak.scala    max-event-ts scalar for the watermark
    //     sentinel rows — a 1-row aggregate in the soak HARNESS (the
    //     measured streaming pipeline itself collects nothing)
    //   ops/Skew.scala            hotKeys: 1-row sampled-total scalar +
    //     ≤ maxKeys hot-key list — the statistics pre-pass that decides
    //     whether to salt; bounded by maxKeys, never row data
    //   engine/WriteGuard.scala   partition-cardinality scalar — ONE
    //     approx_count_distinct row deciding write admission (the Skew
    //     .hotKeys class: a statistics pre-pass, never row data)
    //   tools/SkewBench.scala     one shared measure() collect: the 5-row
    //     priority aggregate / ~40-row count-histogram / 3-row share
    //     summary parity gates of the skew HARNESS
    //   tools/DsNineLadder.scala  the DPP-rung HARNESS's one measurement
    //     collect (materialize the 12-row per-month aggregate so the
    //     executed plan's numPartitions metric is real) — never row data
    //   tools/AnnRecall.scala     recall HARNESS driver reads, all
    //     top-k/dim-bounded: top-10 id lists per query (×1 via topIds),
    //     rows-per-cid of the served index and of the training slice
    //     (K=8 rows each, ×2), the ≤nprobe probed-cid list (×1), and the
    //     post-refresh twin of the cid/probed reads (×2 — same K-bounded
    //     statistics re-measured after VectorIndex.refresh) —
    //     statistics about the index, never corpus rows
    // Scala-collection .head/.take on arrays/strings don't match these
    // patterns; a new DataFrame action anywhere else fails this test.
    val actionPattern = """\.collect\(\)|\.head\(\)|\.head\.|\.first\(\)|\.toLocalIterator|collectAsList|toPandas""".r
    val allowed = Map(
      "ops/Cleaning.scala" -> 1,
      "ops/Quality.scala" -> 2,
      "ops/Manifest.scala" -> 3,
      "pipeline/IncrementalIngest.scala" -> 1,
      "ops/VectorIndex.scala" -> 2,
      "ops/Expectations.scala" -> 1,
      "tools/StreamSoak.scala" -> 1,
      "ops/Skew.scala" -> 2,
      "tools/SkewBench.scala" -> 1,
      "tools/AnnRecall.scala" -> 6,
      "tools/DsNineLadder.scala" -> 1,
      "engine/WriteGuard.scala" -> 1,
      "queries/DedupQueries.scala" -> 1)
    val found = mainSourceLines
      .filter { case (_, line) => actionPattern.findFirstIn(line).isDefined }
      .groupBy(_._1).view.mapValues(_.size).toMap
    assert(found == allowed,
      s"driver-action sites changed — justify and re-allowlist:\nfound:   $found\nallowed: $allowed")
  }

  test("broadcast-hint audit: every broadcast() site is an enumerated sliver-sized frame") {
    // llm1's corpus-fraction drop-set broadcast (removed in round 7) is
    // the failure mode this guards: a broadcast() hint on anything that
    // GROWS WITH THE CORPUS caps scalability at driver memory. Every
    // allowed site below broadcasts a frame bounded by a constant or a
    // dimension, never by corpus size:
    //   ops/Similarity.scala (7)        query vector / query bucket (1 row),
    //                                   centroid model (K rows), probed cids (nprobe),
    //                                   PQ codebook + query LUT (m·k rows)
    //   ops/VectorIndex.scala (1)       probed cids (nprobe)
    //   ops/Decontam.scala (4)          eval-set shingles ×3 (eval ≪ train;
    //                                   forward report, hashed flags, evalBurn),
    //                                   contaminated-id sliver
    //   ops/Dedup.scala (2)             candidate-doc id slivers (semi-join probes)
    //   ops/RangeJoin.scala (2)         interval dimension (point + overlap
    //                                   NAIVE reference forms — spec/oracle
    //                                   scale only; grid is the data path)
    //   ops/Packing.scala (1)           per-range-partition offsets (#partitions rows)
    //   ops/Mixture.scala (2)           1-row weight total; per-source quota dim
    //   streaming/EventStreams.scala (1) user dimension (stream-static enrich)
    //   queries/JoinQueries.scala (4)   nation/region/part dims (incl. j28's nation)
    //   queries/ExtraQueries.scala (8)  1-row global-stats frames (4);
    //                                   d7's per-group median/MAD stat
    //                                   frames ×2 oracle + ×2 bench (≤3
    //                                   rows — group-keyed p2 discipline)
    //   queries/StatsQueries.scala (6)  1-row thresholds/bounds/global stats,
    //                                   a25's 9-row Benford expectation + 1-row n
    //   queries/SimilarityQueries.scala (3) query vectors (1 row)
    //   queries/TextQueries.scala (6)   vocab-capped df/freq tables, 1-row totals
    //                                   (incl. t17's 1-row doc count)
    //   queries/LlmPipelineQueries.scala (1) llm4 eval-driven contaminated-id
    //                                   sliver (eval-sized — sanctioned, unlike
    //                                   llm1's removed corpus-fraction hint)
    //   queries/DsQueries.scala (3)     ds2's customer + nation dims into the
    //                                   orders scan (classic star-dim hints);
    //                                   ds9's ~84-row month dim (the DPP
    //                                   broadcast the pruning subquery reuses)
    // A new hint (or a removed one) fails this test until re-justified here.
    val allowed = Map(
      "ops/Similarity.scala" -> 7,
      "ops/VectorIndex.scala" -> 1,
      "ops/Decontam.scala" -> 4,
      "ops/Dedup.scala" -> 2,
      "ops/RangeJoin.scala" -> 2,
      "ops/Packing.scala" -> 1,
      "ops/Mixture.scala" -> 2,
      "streaming/EventStreams.scala" -> 1,
      "queries/JoinQueries.scala" -> 4,
      "queries/ExtraQueries.scala" -> 8,
      "queries/StatsQueries.scala" -> 6,
      "queries/SimilarityQueries.scala" -> 3,
      "queries/TextQueries.scala" -> 6,
      "queries/LlmPipelineQueries.scala" -> 1,
      "queries/DsQueries.scala" -> 3)
    val found = mainSourceLines
      .filter { case (_, line) => line.contains("broadcast(") }
      .groupBy(_._1).view.mapValues(_.size).toMap
    assert(found == allowed,
      s"broadcast() sites changed — justify and re-allowlist:\nfound:   $found\nallowed: $allowed")
  }
}
