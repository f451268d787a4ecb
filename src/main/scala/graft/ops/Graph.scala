package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over pair lists — the numeric companion to
  * [[Dedup.connectedComponents]]. PageRank here ranks documents inside the
  * near-duplicate graph: a cluster's highest-rank member is its most
  * connected (most-copied) version, a better canonical-survivor choice
  * than min-id when versions differ in quality.
  *
  * Scale shape per iteration: one join of the edge list against the rank
  * vector (both id-keyed — AQE picks broadcast when ranks fit) plus one
  * hash agg; lineage is truncated per round with localCheckpoint exactly
  * like the CC loop, so 10 iterations never build a 10-deep plan. The edge
  * list is the near-dup PAIR set — orders of magnitude smaller than the
  * corpus — so the whole computation is sliver-sized.
  */
object Graph {

  /** PageRank over an undirected pair list (`id1`, `id2`), damping `beta`,
    * fixed `iters` sweeps. Rank convention: teleport mass is (1-beta) PER
    * NODE, so ranks sum to the node count (every edge endpoint has degree
    * ≥ 1 here, making the per-iteration sum exactly conserved — pinned in
    * GraphSpec). Deterministic: pure arithmetic on exact joins, no seeds.
    *
    * Lineage is truncated every `checkpointEvery` iterations rather than
    * every one: each eager checkpoint is a full job, and on a sliver-sized
    * pair graph the job overhead dominates the arithmetic — a 3-deep
    * join/agg chain between truncations is well within Catalyst's comfort
    * while cutting the fixed job count ~3×. */
  def pageRank(pairs: DataFrame, beta: Double = 0.85, iters: Int = 10,
               checkpointEvery: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(beta > 0 && beta < 1, s"beta must be in (0,1), got $beta")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    sweeps(pairs, iters, checkpointEvery, init = lit(1.0),
      contribution = col("rank") / col("deg"),
      damped = lit(1.0 - beta) + lit(beta) * coalesce(col("inflow"), lit(0.0)))
  }

  /** The loop both PageRank forms share: the symmetric edge list, the
    * degree table, and `iters` sweeps of a rank vector whose lineage is
    * truncated every `checkpointEvery`. The forms differ only in their
    * arithmetic: the `init` rank, the per-edge `contribution` (of `rank`
    * and `deg`), and the `damped` next rank (of the summed `inflow`, null
    * for a node nothing flows into).
    *
    * The rank vector CARRIES the (static) degree column (r18): the old
    * loop joined `deg` back in every iteration — one whole join per sweep
    * whose only purpose was re-attaching a value already keyed by the same
    * id. Same per-edge contribution, same grouping, identical output
    * (GraphSpec conservation + fixed-point parity pins). */
  private def sweeps(pairs: DataFrame, iters: Int, checkpointEvery: Int, init: Column,
                     contribution: Column, damped: Column): DataFrame = {
    val edges = pairs
      .select(col("id1").cast("long").as("src"), col("id2").cast("long").as("dst"))
      .unionByName(pairs.select(col("id2").cast("long").as("src"),
        col("id1").cast("long").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint()
    var ranks = deg.select(col("src").as("id"), init.as("rank"), col("deg"))
    for (i <- 1 to iters) {
      val inflow = edges
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), contribution.as("c"))
        .groupBy("id").agg(sum("c").as("inflow"))
      val next = deg.select(col("src").as("id"), col("deg"))
        .join(inflow, Seq("id"), "left")
        .select(col("id"), damped.as("rank"), col("deg"))
      ranks = if (i % checkpointEvery == 0 || i == iters) next.localCheckpoint() else next
    }
    ranks.select(col("id"), col("rank"))
  }

  /** TRIANGLE enumeration over an undirected pair list (`id1`, `id2`) —
    * the cohesion primitive behind clustering coefficients, community
    * seeds, and "mutually similar triple" audits (three documents that
    * are pairwise near-dups; three parts pairwise co-ordered).
    *
    * Scale design: the naive 3-way self-join touches every WEDGE of the
    * graph — Σ deg², hopeless under power-law degrees (one 10⁶-degree
    * hub alone contributes 10¹² wedges). This is the standard
    * degree-ordered orientation instead (Schank & Wagner '05 /
    * Suri–Vassilvitskii '11 MR-NodeIterator++): orient every edge from
    * its lower-(degree, id) endpoint to the higher, enumerate wedges
    * only from each node's OUT-neighbors (out-degree is O(√m) after
    * orientation, so wedges ≤ m^1.5 REGARDLESS of skew), and close each
    * wedge with one equi-join back against the oriented edge list.
    * Every triangle is counted exactly once — its minimum-rank vertex
    * owns it. Three narrow-key shuffles total; no driver state.
    *
    * Input may contain duplicates or either orientation (canonicalized
    * + distinct'd here); self-loops are dropped. Output: one row per
    * triangle, vertices sorted ascending (`ta` < `tb` < `tc`). */
  def triangles(pairs: DataFrame): DataFrame = trianglesFromEdges(canonicalEdges(pairs))

  /** Canonical undirected edge sliver, MATERIALIZED once (r18): every
    * graph op scans its edge list several times (degrees, orientation,
    * both wedge sides, the closing join), and without a snapshot each
    * scan re-runs the caller's pair-generation pipeline — for the g2–g4
    * co-order graph that is the corpus-scale lineitem self-join, repeated
    * up to 3×. The edge list is a sliver relative to the corpus by the
    * ops' own contract, so the snapshot is cheap at every scale. */
  private def canonicalEdges(pairs: DataFrame): DataFrame = pairs.select(
      least(col("id1").cast("long"), col("id2").cast("long")).as("a"),
      greatest(col("id1").cast("long"), col("id2").cast("long")).as("b"))
    .filter(col("a") =!= col("b"))
    .distinct()
    .localCheckpoint()

  /** [[triangles]] over an already-canonical materialized edge set. */
  private def trianglesFromEdges(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient low-rank → high-rank, rank = (deg, id) lexicographic; carry
    // the head's rank so wedge enumeration can order out-neighbors
    // without another join. Materialized: the wedge self-join reads it
    // twice and the closing join a third time — each read would re-run
    // the two degree joins (sliver-sized snapshot, same argument as
    // canonicalEdges).
    val oriented = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("db").as("ddst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("ddst")))
          .as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"), col("o.ddst").as("ddst"))
      .localCheckpoint()
    val wedges = oriented.select(col("src"), col("dst").as("v"), col("ddst").as("dv"))
      .join(oriented.select(col("src"), col("dst").as("w"), col("ddst").as("dw")), Seq("src"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    wedges
      .join(oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(
        least(col("src"), col("v"), col("w")).as("ta"),
        (col("src") + col("v") + col("w")
          - least(col("src"), col("v"), col("w"))
          - greatest(col("src"), col("v"), col("w"))).as("tb"),
        greatest(col("src"), col("v"), col("w")).as("tc"))
  }

  /** k-core: the maximal subgraph in which every node keeps degree ≥ k,
    * by iterative peeling — drop deg<k nodes, re-derive degrees, repeat
    * until the FIXED POINT (a sweep that removes nothing), bounded by
    * `iters` sweeps. Each sweep localCheckpoints the shrunken edge list
    * (truncating lineage) and reads back its count — a 1-row scalar off
    * already-materialized data, the same sanctioned class as the IQR
    * bounds; peeling typically converges in a handful of sweeps, so the
    * early exit is what keeps 15-bound runs from paying 15 sweeps. Per
    * sweep: one degree agg + two id-keyed semi-joins on the (shrinking)
    * edge sliver. Returns surviving (id, core_deg).
    *
    * The density-peeling workhorse: spam rings and boilerplate clusters
    * survive high-k cores that organic co-occurrence graphs don't. */
  def kCore(pairs: DataFrame, k: Int, iters: Int = 15): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // canonicalize defensively: duplicate or reversed pairs would inflate
    // degrees and keep nodes in the core that should peel; self-loops
    // would anchor a node at deg ≥ 1 forever (same normalization as
    // linkCandidates — a no-op when the caller already passes distinct
    // canonical edges, as g5 does)
    var edges = pairs
      .select(least(col("id1"), col("id2")).as("id1"),
              greatest(col("id1"), col("id2")).as("id2"))
      .filter(col("id1") =!= col("id2"))
      .distinct()
      .localCheckpoint()
    var prev = edges.count()
    var i = 0
    while (i < iters && prev > 0) {
      i += 1
      val keep = edges.select(col("id1").as("id"))
        .unionAll(edges.select(col("id2").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("id")
      val next = edges
        .join(keep.withColumnRenamed("id", "id1"), Seq("id1"), "left_semi")
        .join(keep.withColumnRenamed("id", "id2"), Seq("id2"), "left_semi")
        .select("id1", "id2")
        .localCheckpoint()
      val c = next.count()
      edges = next
      if (c == prev) prev = -1 // fixed point — further sweeps are no-ops
      else prev = c
    }
    edges.select(col("id1").as("id")).unionAll(edges.select(col("id2").as("id")))
      .groupBy("id").agg(count(lit(1)).as("core_deg"))
      .filter(col("core_deg") >= k)
  }

  /** Per-node triangle participation + clustering coefficient inputs:
    * (id, n_triangles, deg). Coefficient = 2·t / (deg·(deg−1)) — left
    * to the caller so the division shape is the query's choice. */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    // one canonical edge snapshot feeds BOTH the triangle enumeration and
    // the degree table (the old form re-derived the caller's pair
    // pipeline for each); the triangle set is materialized because the
    // per-node rollup scans it three times (once per vertex slot)
    val e = canonicalEdges(pairs)
    val t = trianglesFromEdges(e).localCheckpoint()
    val perNode = t.select(col("ta").as("id"))
      .unionAll(t.select(col("tb").as("id")))
      .unionAll(t.select(col("tc").as("id")))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .join(perNode, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        col("deg"))
  }

  /** Engine-portable PageRank: same iteration as [[pageRank]] but in
    * BIGINT FIXED-POINT (`one` = 1.0, default 1e-12 resolution) with
    * truncating integer division — every per-iteration value is exact
    * integer arithmetic, so any engine reproduces the result bit-for-bit
    * and the query is DuckDB-oracle-able (g1), unlike the double form
    * whose per-iteration float sums are association-dependent.
    *
    * Semantics: contribution = rank DIV deg (truncation loses < deg
    * sub-pico units of mass per node per round — a DEFINED part of the
    * fixed-point operator, identical everywhere). Rank convention matches
    * [[pageRank]]: teleport is (1-beta)·one per node.
    *
    * Overflow bound (ANSI mode fails loudly, never wraps): a node's
    * inflow < Σranks ≤ n·one, and the damping multiply scales it by
    * betaNum, so betaNum·n·one < 2⁶³ — with the defaults that allows
    * ~10⁵ nodes. The near-dup pair graphs this ranks are cluster slivers
    * (orders of magnitude below that); for larger graphs pass a coarser
    * `one` (1e9 admits ~10⁸ nodes at 1e-9 rank resolution) or use the
    * double-arithmetic [[pageRank]], which is the production path anyway.
    *
    * `betaDen` must divide `one` (exact teleport) and `betaNum/betaDen`
    * expresses beta as a ratio (85/100 = 0.85). */
  def pageRankFixedPoint(pairs: DataFrame, betaNum: Long = 85L, betaDen: Long = 100L,
                         iters: Int = 10, one: Long = 1000000000000L,
                         checkpointEvery: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(betaNum > 0 && betaNum < betaDen, s"need 0 < betaNum < betaDen, got $betaNum/$betaDen")
    require(one % betaDen == 0, s"betaDen ($betaDen) must divide one ($one) for an exact teleport")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    // exact integer arithmetic is order-independent, so the output is
    // bit-identical in any engine (g1's DuckDB oracle pins it)
    val teleport = (one / betaDen) * (betaDen - betaNum)
    sweeps(pairs, iters, checkpointEvery, init = lit(one),
      contribution = expr("rank DIV deg"),
      damped = lit(teleport) + expr(s"(coalesce(inflow, CAST(0 AS BIGINT)) * $betaNum) DIV $betaDen"))
  }

  /** Common-neighbor LINK PREDICTION over an undirected pair graph: every
    * NON-adjacent node pair sharing ≥1 neighbor, scored by shared-neighbor
    * count and neighborhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)| — the
    * "these two docs/parts/users will probably connect next" ranking
    * (recommendations, missing-edge repair in a near-dup graph).
    *
    * Plan: wedge enumeration through each shared neighbor (one
    * self-join of the adjacency list on the center) + one hash agg +
    * one anti-join against the existing edges. Work ∝ Σ_c deg(c)² —
    * bounded on real graphs by `maxDegree`, which drops hub CENTERS
    * from wedge formation (the dd9 prefix-frequency trade: work
    * bounded, recall loss confined to pairs whose ONLY shared neighbors
    * are hubs; `common` then undercounts, so capped Jaccard only ever
    * UNDER-scores — full degrees stay in the denominator).
    *
    * Jaccard is one small-integer division (correctly-rounded IEEE,
    * bit-portable — the t14 argument); everything else exact BIGINT. */
  def linkCandidates(pairs: DataFrame, maxDegree: Long = Long.MaxValue): DataFrame = {
    // materialized once — adjacency (2 scans), the anti-join and both
    // degree joins all read the same edge sliver (see canonicalEdges)
    val e = canonicalEdges(pairs)
    val adj = e.select(col("a").as("id"), col("b").as("nb"))
      .unionAll(e.select(col("b").as("id"), col("a").as("nb")))
    val deg = adj.groupBy("id").agg(count(lit(1)).as("deg"))
    val adjC =
      if (maxDegree == Long.MaxValue) adj
      else adj.join(deg.filter(col("deg") <= maxDegree).select(col("id").as("nb")),
        Seq("nb"), "left_semi")
    val cand = adjC.select(col("id").as("id1"), col("nb"))
      .join(adjC.select(col("id").as("id2"), col("nb")), Seq("nb"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("common"))
    cand
      .join(e.select(col("a").as("id1"), col("b").as("id2")), Seq("id1", "id2"), "left_anti")
      .join(deg.select(col("id").as("id1"), col("deg").as("d1")), Seq("id1"))
      .join(deg.select(col("id").as("id2"), col("deg").as("d2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("common"),
        (col("common").cast("double") /
          (col("d1") + col("d2") - col("common")).cast("double")).as("jaccard"))
  }
}
