package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table maintenance at 100 TB: apply a CDC changelog to a keyed snapshot
  * (the MERGE INTO / upsert primitive) and merge algebraic aggregate
  * states (incremental aggregation maintenance — re-aggregate only the
  * new batch, never rescan the full history).
  *
  * Complements [[Diff]] (what changed?) with the write side (apply the
  * changes). The reference rewrites whole tables per run
  * (src/main.py:88-309); these are the idempotent-incremental versions a
  * cluster-scale pipeline needs instead.
  */
object Merge {

  /** Distributed guard: any op value outside {upsert, delete} (a typo'd
    * 'update', a NULL) fails the job loudly instead of silently acting as
    * a delete — the anti-join removes every keyed row and the upsert
    * filter would then drop the malformed one. Map-side `when` check,
    * zero extra shuffles; `raise_error` carries the offending value. */
  private[ops] def validatedOp(opCol: String): org.apache.spark.sql.Column =
    when(col(opCol).isin("upsert", "delete"), col(opCol))
      .otherwise(raise_error(concat(
        lit(s"malformed CDC batch: '$opCol' must be 'upsert' or 'delete', got "),
        coalesce(col(opCol).cast("string"), lit("NULL")))))

  /** Apply a CDC changelog to a keyed snapshot. `changes` carries the
    * target's columns plus `opCol` ∈ {"upsert","delete"} (ENFORCED — see
    * [[validatedOp]]) and a
    * monotonically increasing `seqCol`; when one key appears multiple
    * times the HIGHEST seq wins (the Delta/Hudi/Iceberg MERGE contract
    * for out-of-order CDC batches).
    *
    * Scale shape: one window shuffle over the changelog (keyed by the
    * join keys — changelogs are batch-sized, ≪ target), one left-anti
    * join target⟕latest-keys (AQE broadcasts it when the batch is
    * small), and a union — the target is scanned exactly once and never
    * re-sorted. No driver-side state.
    *
    * Determinism: ties on (key, seqCol) are rejected nowhere cheap to
    * check distributedly; callers must make seq unique per key (CDC
    * sources do). The window orders by (seq DESC, op) so a pathological
    * tie resolves deterministically rather than by partition order. */
  def applyChangeLog(target: DataFrame, changes: DataFrame, keys: Seq[String],
                     opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    require(keys.nonEmpty, "applyChangeLog needs at least one key column")
    val dataCols = target.columns.toIndexedSeq
    require(dataCols.forall(changes.columns.contains),
      s"changelog must carry all target columns; missing: ${
        dataCols.filterNot(changes.columns.contains).mkString(",")}")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol))
    val latest = changes
      .withColumn(opCol, validatedOp(opCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val untouched = target.join(latest.select(keys.map(col): _*), keys, "left_anti")
    val upserts = latest.filter(col(opCol) === "upsert")
      .select(dataCols.map(col): _*)
    untouched.unionByName(upserts)
  }

  /** Out-of-order-safe CDC state merge — the streaming-ingest form of
    * [[applyChangeLog]]. The persisted state keeps `opCol` and `seqCol`
    * per key (DELETE TOMBSTONES INCLUDED), so merging a micro-batch is
    * latest-seq-wins over `state ∪ batch` regardless of arrival order: a
    * stale upsert arriving after a newer delete loses to the tombstone —
    * semantics incremental apply-and-drop cannot provide (Hudi's
    * precombine-field pattern). One window shuffle over state+batch keys.
    * [[currentSnapshot]] projects the live table out of the state. */
  def mergeChangeState(state: DataFrame, batch: DataFrame, keys: Seq[String],
                       opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol))
    state.unionByName(batch.withColumn(opCol, validatedOp(opCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The live table a CDC state represents: tombstones filtered out,
    * bookkeeping columns dropped. */
  def currentSnapshot(state: DataFrame, opCol: String = "op",
                      seqCol: String = "seq"): DataFrame =
    state.filter(col(opCol) === "upsert").drop(opCol, seqCol)

  /** Algebraic per-key aggregate state: count / exact-decimal sum / min /
    * max of `valueCol`. States over disjoint slices merge losslessly with
    * [[mergeStats]] — the substrate for incremental aggregation
    * maintenance (keep yesterday's states, aggregate only today's batch,
    * merge). Sum accumulates in DECIMAL ([[Det.dsum]] rationale) so the
    * merged result is bit-identical to a full recompute. */
  def partialStats(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(col(valueCol)).as("cnt"),
      sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("sum_dec"),
      min(col(valueCol)).as("min_v"),
      max(col(valueCol)).as("max_v"))

  /** Merge aggregate states from disjoint slices: counts and decimal sums
    * add, min/max fold. One union + one hash agg over state rows (key
    * cardinality, not data cardinality — trivially small at any scale). */
  def mergeStats(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeStats needs at least one state frame")
    states.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*).agg(
        sum(col("cnt")).as("cnt"),
        sum(col("sum_dec")).as("sum_dec"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
  }

  /** Surface a merged state as final analytics columns (exact sum and
    * exact mean as double — the [[Det]] determinism discipline). */
  def finalizeStats(state: DataFrame, keys: Seq[String]): DataFrame =
    state.select(
      keys.map(col) ++ Seq(
        col("cnt"),
        col("sum_dec").cast("double").as("sum_v"),
        (col("sum_dec").cast("double") / col("cnt")).as("avg_v"),
        col("min_v"),
        col("max_v")): _*)

  // ───── mergeable QUANTILE state (the non-algebraic gap in partialStats) ─────
  //
  // count/sum/min/max merge trivially; percentiles don't — yet "p95 doc
  // length, updated nightly" is the first dashboard a growing corpus asks
  // for. The state here is a per-key VALUE HISTOGRAM (key, v, cnt): it
  // merges losslessly (counts add), finalizes to the EXACT interpolated
  // quantile (quantile_cont / Spark `percentile` semantics), and its size
  // is key-cardinality × value-cardinality — independent of row count.
  // Exact histograms are the oracle-able path for bounded-cardinality
  // values (quantities, token counts, scores); for unbounded doubles the
  // production sketch is [[binnedQuantileState]] (fixed bin width ⇒ state
  // bounded by value range / width, finalize error ≤ one bin width —
  // pinned in MergeSpec). Both states share [[mergeQuantileStates]] /
  // [[finalizeQuantiles]].

  /** Per-key value-histogram quantile state over `valueCol` (nulls
    * excluded, matching SQL quantile aggregates). One partial+final hash
    * agg over the slice — map-side combinable, the same incremental
    * shape as [[partialStats]]. */
  def partialQuantileState(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(keys.map(col) :+ col(valueCol).cast("double").as("v"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Binned (sketch) variant for unbounded-cardinality values: v is
    * quantized to its bin midpoint, bounding state size by
    * range/`binWidth` and finalize error by `binWidth` (interpolation
    * between midpoints never leaves the bracketing bins). */
  def binnedQuantileState(df: DataFrame, keys: Seq[String], valueCol: String,
                          binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    df.filter(col(valueCol).isNotNull)
      .groupBy(keys.map(col) :+
        ((floor(col(valueCol).cast("double") / binWidth) * binWidth)
          + binWidth / 2).as("v"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge quantile states of DISJOINT row slices: histogram counts add.
    * One union + hash agg over state rows. Bit-identical to computing
    * [[partialQuantileState]] over the union of the slices (pinned in
    * MergeSpec). */
  def mergeQuantileStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeQuantileStates needs at least one state frame")
    states.reduce(_.unionByName(_))
      .groupBy(keys.map(col) :+ col("v"): _*)
      .agg(sum("cnt").as("cnt"))
  }

  /** Exact interpolated quantiles from a (merged) state — long output
    * (keys…, p, q). Semantics = SQL `quantile_cont` / Spark `percentile`:
    * continuous rank rk = p·(n−1), q = v⌊rk⌋ + (rk−⌊rk⌋)·(v⌈rk⌉ − v⌊rk⌋),
    * rounded to `scale` dp ([[Det]] cross-engine discipline).
    *
    * Scale shape: ONE window shuffle keyed by the group key over STATE
    * rows (histogram cardinality, not data cardinality), then a hash agg
    * — the cumulative-count bracket search never sorts raw data and never
    * buffers values in an agg buffer (the OOM mode of exact `percentile`
    * at 100 TB). */
  def finalizeQuantiles(state: DataFrame, keys: Seq[String], ps: Seq[Double],
                        scale: Int = 4): DataFrame = {
    require(ps.nonEmpty, "finalizeQuantiles needs at least one percentile")
    require(ps.forall(p => p >= 0 && p <= 1), s"percentiles must be in [0,1]: $ps")
    val k = keys.map(col)
    val wOrd = Window.partitionBy(k: _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(k: _*)
    // a histogram row covers zero-based ranks [prev, cum)
    val hist = state
      .select(k :+ col("v").cast("double").as("v") :+ col("cnt").cast("long").as("cnt"): _*)
      .withColumn("cum", sum("cnt").over(wOrd))
      .withColumn("n", sum("cnt").over(wAll))
      .withColumn("prev", col("cum") - col("cnt"))
    val exploded = hist
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .withColumn("rk", col("p") * (col("n") - 1).cast("double"))
      .withColumn("lo", floor(col("rk")))
      .withColumn("hi", ceil(col("rk")))
    val coversLo = col("prev") <= col("lo") && col("lo") < col("cum")
    val coversHi = col("prev") <= col("hi") && col("hi") < col("cum")
    exploded.filter(coversLo || coversHi)
      .groupBy(k :+ col("p"): _*)
      .agg(
        max(when(coversLo, col("v"))).as("v_lo"),
        max(when(coversHi, col("v"))).as("v_hi"),
        min(col("rk") - col("lo")).as("frac")) // rk, lo constant per group
      .select(k ++ Seq(col("p"),
        round(col("v_lo") + col("frac") * (col("v_hi") - col("v_lo")), scale).as("q")): _*)
  }

  // ───── mergeable DISTINCT-COUNT state ─────
  //
  // COUNT(DISTINCT x) is the other non-algebraic dashboard staple
  // (unique parts per region, unique sources per shard). The exact state
  // is the per-key distinct value SET itself — distinct-cardinality
  // sized, not row-count sized, and it merges losslessly (set union).
  // For unbounded-cardinality values the production sketch is the
  // datasketches HLL pair below: fixed ~kilobyte state per key, lossless
  // register-max merge.

  /** Exact distinct state over `valueCol` (nulls excluded, matching
    * COUNT(DISTINCT)): one distinct shuffle over the slice, state size =
    * slice's distinct (keys, v) cardinality. */
  def partialDistinctState(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select(keys.map(col) :+ col(valueCol).as("v"): _*)
      .distinct()

  /** Merge distinct states (set union). Slices need NOT be disjoint —
    * distinct absorbs overlap, unlike the counting states above. */
  def mergeDistinctStates(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "mergeDistinctStates needs at least one state frame")
    states.reduce(_.unionByName(_)).distinct()
  }

  /** Exact COUNT(DISTINCT) per key from a (merged) state. */
  def finalizeDistinct(state: DataFrame, keys: Seq[String]): DataFrame =
    state.groupBy(keys.map(col): _*).agg(count(col("v")).as("distinct_cnt"))

  /** HLL sketch state (production path for unbounded-cardinality
    * values): one binary sketch per key, size 2^lgK registers regardless
    * of slice size. Built on Spark's datasketches `hll_sketch_agg`. */
  def hllDistinctState(df: DataFrame, keys: Seq[String], valueCol: String,
                       lgK: Int = 12): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("hll"))

  /** Merge HLL states: per-register max — lossless, so a merged sketch
    * estimates identically to a sketch built over the union (pinned in
    * MergeSpec). Slices need not be disjoint. */
  def mergeHllDistinctStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeHllDistinctStates needs at least one state frame")
    states.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(hll_union_agg(col("hll")).as("hll"))
  }

  /** Distinct-count estimate per key from a (merged) HLL state. */
  def finalizeHllDistinct(state: DataFrame, keys: Seq[String]): DataFrame =
    state.select(keys.map(col) :+
      hll_sketch_estimate(col("hll")).as("distinct_est"): _*)

  // ───── mergeable MOMENT state (variance / skewness / kurtosis) ─────
  //
  // Higher moments merge through raw power sums: n, Σv, Σv², Σv³, Σv⁴.
  // For INTEGRAL-valued columns (counts, quantities, token lengths —
  // |v| ≤ 55,000 so v⁴ fits a long) the sums are carried in
  // DECIMAL(38,0), making the merged state BIT-IDENTICAL to a full
  // recompute and the state itself cross-engine exact; the derived
  // moments are then pure IEEE double arithmetic from exactly-
  // representable inputs (SURVEY §7.5(f) rule 2). Non-integral columns:
  // pre-scale to integers (cents, basis points) — the Det discipline.

  /** Per-key power-sum state of integral `valueCol` (nulls excluded).
    * One partial+final hash agg; map-side combinable. Caller contract:
    * values integral with |v| ≤ 55,000 (v⁴ must fit a long). */
  def partialMomentState(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val v = col("__v")
    df.filter(col(valueCol).isNotNull)
      .withColumn("__v", col(valueCol).cast("long"))
      .groupBy(keys.map(col): _*)
      .agg(
        count(v).as("n"),
        sum(v.cast("decimal(38,0)")).as("s1"),
        sum((v * v).cast("decimal(38,0)")).as("s2"),
        sum((v * v * v).cast("decimal(38,0)")).as("s3"),
        sum((v * v * v * v).cast("decimal(38,0)")).as("s4"))
  }

  /** Merge moment states of DISJOINT slices: all five sums add. */
  def mergeMomentStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeMomentStates needs at least one state frame")
    states.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(sum("n").as("n"), sum("s1").as("s1"), sum("s2").as("s2"),
        sum("s3").as("s3"), sum("s4").as("s4"))
  }

  /** Mean / population variance / skewness / excess kurtosis from a
    * (merged) state. Exact integer sums are cast to double (exactly
    * representable below 2^53) and combined with a FIXED operation
    * shape — the DuckDB oracle spells out the identical shape, so the
    * unrounded mean is bit-identical and the rounded moments are
    * aggregate-level (§7.5(f): a handful of O(1) values, not per-row).
    * A key whose values are all equal has no skew or kurtosis: both are
    * null there, as Spark's skewness/kurtosis builtins return. */
  def finalizeMoments(state: DataFrame, keys: Seq[String], scale: Int = 6): DataFrame = {
    val nd = col("n").cast("double")
    val mu = col("s1").cast("double") / nd
    val r2 = col("s2").cast("double") / nd
    val r3 = col("s3").cast("double") / nd
    val r4 = col("s4").cast("double") / nd
    val m2 = r2 - mu * mu
    val m3 = r3 - lit(3) * mu * r2 + lit(2) * mu * mu * mu
    val m4 = r4 - lit(4) * mu * r3 + lit(6) * mu * mu * r2 - lit(3) * mu * mu * mu * mu
    state.select(keys.map(col) ++ Seq(
      col("n"),
      mu.as("mean_v"),
      round(m2, scale).as("var_pop"),
      when(m2 =!= 0, round(m3 / pow(m2, 1.5), scale)).as("skew_v"),
      when(m2 =!= 0, round(m4 / (m2 * m2) - 3, scale)).as("kurt_v")): _*)
  }

  // ───── mergeable TOP-K (heavy-hitter) state ─────
  //
  // "Most frequent tokens per source, updated nightly" — the frequency
  // table (keys, v, cnt) IS the mergeable state (counts add, same shape
  // as the quantile histogram but over arbitrary value types), and top-k
  // is a finalize-time window over STATE rows. For vocabularies too big
  // to keep exactly, cap the per-slice state to its own top-M (M ≫ k)
  // before persisting — the standard SpaceSaving-style trade, kept
  // explicit here rather than silent.

  /** Per-key value-frequency state over `valueCol` (nulls excluded).
    * One partial+final hash agg over the slice. */
  def partialFreqState(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(keys.map(col) :+ col(valueCol).as("v"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Merge frequency states of DISJOINT row slices: counts add.
    * Bit-identical to [[partialFreqState]] over the union. */
  def mergeFreqStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeFreqStates needs at least one state frame")
    states.reduce(_.unionByName(_))
      .groupBy(keys.map(col) :+ col("v"): _*)
      .agg(sum("cnt").as("cnt"))
  }

  /** Cap a frequency state to its own per-key top-`m` rows (cnt DESC,
    * v ASC ties) — the explicit SpaceSaving-style trade for vocabularies
    * too large to persist exactly. One window over STATE rows.
    *
    * Error contract (pinned in MergeSpec): capping never OVER-counts —
    * a capped-merge count is ≤ the true count, and equals it whenever
    * the value survived the cap in every slice that saw it. Merging
    * capped slices under-counts a value by at most Σ over slices of
    * that slice's m-th-largest count θ_s, so any value with true total
    * count > Σ θ_s is guaranteed PRESENT in the merged capped state —
    * size m ≫ k so finalize-time top-k ranks from counts well above
    * that bound. */
  def capFreqState(state: DataFrame, keys: Seq[String], m: Int): DataFrame = {
    require(m > 0, s"cap m must be positive, got $m")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("cnt").desc, col("v").asc)
    state.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= m)
      .drop("__rn")
  }

  /** Top-k values per key from a (merged) state — deterministic ties
    * (cnt DESC, v ASC). One window shuffle over STATE rows. */
  def finalizeTopK(state: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("cnt").desc, col("v").asc)
    state.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .withColumn("rn", col("rn").cast("long"))
  }

  // ───── mergeable UNIFORM-SAMPLE state (bottom-k-by-hash / KMV sketch) ─────
  //
  // "Keep a fixed-k uniform sample of the growing corpus, updated per
  // batch" — the bottom-k sketch: give every row a deterministic hash
  // priority and keep the k smallest per key. The per-slice bottom-k IS
  // the mergeable state, because bottom-k(A ∪ B) = bottom-k(bottom-k(A)
  // ∪ bottom-k(B)) — so yesterday's persisted sample plus today's
  // batch-sample merge to EXACTLY the sample a full rescan would pick
  // (bit-parity pinned in MergeSpec). Slices must be row-disjoint, like
  // the counting states: a row seen twice would occupy two sample slots.
  // Priority must be injective per key — derive it from a row id via the
  // helpers ([[samplePriorityPortable]] md5 for the cross-engine oracle,
  // [[samplePriorityFast]] xxhash64 in production: 64-bit vs 128-bit
  // text, ~4× cheaper, Spark-only).

  /** Engine-portable sample priority: md5 over "-"-joined id columns
    * (same text DuckDB's md5 produces, the o8 discipline). */
  def samplePriorityPortable(idCols: Seq[String]): org.apache.spark.sql.Column =
    md5(concat_ws("-", idCols.map(c => col(c).cast("string")): _*))

  /** Production sample priority: xxhash64 over the id columns. */
  def samplePriorityFast(idCols: Seq[String]): org.apache.spark.sql.Column =
    xxhash64(idCols.map(col): _*)

  /** WEIGHTED sample priority (Efraimidis–Spirakis A-ES, keyed on the
    * row id instead of an RNG so the state stays mergeable): u is
    * derived deterministically from xxhash64 of the id columns mapped
    * into (0,1], and the priority is −ln(u)/w — the exponential-race
    * form of u^(1/w) (same order, no pow), so keeping the bottom-k by
    * this priority draws a weight-proportional sample without
    * replacement. Because the priority is a pure function of the row,
    * the bottom-k(A∪B) law holds exactly as for the uniform state —
    * yesterday's weighted sample + today's batch merge to the
    * full-rescan draw (pinned in MergeSpec). Caller contract: weights
    * strictly positive (filter w ≤ 0 rows first, the o9 discipline). */
  def samplePriorityWeighted(idCols: Seq[String],
                             weightCol: String): org.apache.spark.sql.Column = {
    // xxhash64 ∈ [Long.Min, Long.Max] → u ∈ (0,1]: shift into [0,1)
    // then take 1−x to exclude the −ln(0) pole
    val u = lit(1.0) - (xxhash64(idCols.map(col): _*).cast("double")
      / lit(2.0) / lit(Long.MaxValue.toDouble) + lit(0.5))
    -log(u) / col(weightCol).cast("double")
  }

  /** Per-key bottom-`k`-by-priority sample state over a slice. TWO-LEVEL
    * (r19): the sample keys are typically few (3 returnflags) while the
    * slice is the corpus, so a single window keyed by the group is the
    * straggler class AQE cannot split — |keys| tasks each sort their
    * whole key's rows. Level 1 windows over (key, salt) where the salt
    * is a deterministic function of the priority (pmod of its hash), so
    * the data pass runs |keys|·SALTS parallel sorts; level 2 takes the
    * true bottom-k over the |keys|·SALTS·k survivor sliver. Bottom-k of
    * per-salt bottom-k's == global bottom-k (every global winner wins
    * its own salt bucket), and the priority is an injective function of
    * the row id (md5/xxhash64 — no boundary ties), so the state is
    * bit-identical to the one-window form (MergeSpec pins it). */
  def partialSampleState(df: DataFrame, keys: Seq[String],
                         priority: org.apache.spark.sql.Column, k: Int): DataFrame = {
    require(k > 0, s"sample size k must be positive, got $k")
    val salts = 32
    val w1 = Window.partitionBy((keys.map(col) :+ col("__salt")): _*)
      .orderBy(col("__pri").asc)
    val w2 = Window.partitionBy(keys.map(col): _*).orderBy(col("__pri").asc)
    df.withColumn("__pri", priority)
      .withColumn("__salt", pmod(xxhash64(col("__pri")), lit(salts)))
      .withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= k)
      .withColumn("__rn", row_number().over(w2))
      .filter(col("__rn") <= k)
      .drop("__rn", "__salt")
  }

  /** Merge sample states of row-disjoint slices: bottom-k over the
    * union of STATE rows (k·|keys| rows per slice — never the data). */
  def mergeSampleStates(states: Seq[DataFrame], keys: Seq[String], k: Int): DataFrame = {
    require(states.nonEmpty, "mergeSampleStates needs at least one state frame")
    require(k > 0, s"sample size k must be positive, got $k")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__pri").asc)
    states.reduce(_.unionByName(_))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Surface a (merged) sample state as the sample itself, with a
    * deterministic per-key rank (priority order) and bookkeeping
    * dropped. */
  def finalizeSample(state: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__pri").asc)
    state.withColumn("rn", row_number().over(w).cast("long")).drop("__pri")
  }

  // ───── KMV SET-OPERATION estimates (distinct overlap across keys) ─────
  //
  // The U11 distinct states answer "how many distinct values per key";
  // they cannot answer "how much do two keys' value SETS overlap" —
  // the cross-source vocabulary/recrawl-overlap question — without
  // shipping the full sets. The KMV (k-minimum-values) sketch can: keep
  // the k smallest VALUE-hash priorities per key. Because the priority
  // is a pure function of the VALUE (not the row), the same element
  // sketches identically under every key, so for any two keys the
  // bottom-L of the union of their sketches is a uniform sample of the
  // union of their SETS, and the fraction of it present in both sketches
  // estimates the Jaccard overlap (Beyer et al., SIGMOD'07). Both sets
  // smaller than k ⇒ the "sketch" is the whole set and the estimate is
  // EXACT. Unlike the uniform-sample state, slices may overlap on
  // values: merge dedups by (key, priority) — re-observing an element
  // is idempotent, so the state tolerates at-least-once feeds.

  /** Per-key KMV state over a slice: bottom-`k` distinct value
    * priorities. `priority` must be a deterministic injective function
    * of the VALUE only ([[samplePriorityPortable]] over the value column
    * for the oracle form, [[samplePriorityFast]] in production). One
    * distinct + one window, both keyed — never a cross-key shuffle. */
  def kmvState(df: DataFrame, keyCol: String,
               priority: org.apache.spark.sql.Column, k: Int): DataFrame = {
    require(k > 0, s"sketch size k must be positive, got $k")
    // (r19: a two-level salted form — partialSampleState's rationale —
    // was A/B-measured 1.88× SLOWER on u19: the extra window pass over
    // the md5-string vocabulary outweighs the straggler relief here, and
    // the k-per-slice states this feeds are already sliver-sized.
    // Reverted to the single keyed window.)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__pri").asc)
    df.select(col(keyCol), priority.as("__pri")).distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Per-(key, slice) KMV states from ONE scan — the multi-slice form of
    * [[kmvState]] for feeds that arrive pre-sliced (history/batch shards,
    * per-day partitions): one distinct + one window over the composite
    * (key, slice) grouping instead of one full corpus pass PER slice.
    * Feeding the result (slice column dropped) to [[mergeKmvStates]]
    * exercises the exact same (key, priority)-dedup + re-cap merge law —
    * every global bottom-k element is inside its own slice's bottom-k,
    * so the merged state is bit-identical to [[kmvState]] over the
    * unsliced input (pinned in MergeSpec). */
  def kmvStateSliced(df: DataFrame, keyCol: String, sliceCol: String,
                     priority: org.apache.spark.sql.Column, k: Int): DataFrame = {
    require(k > 0, s"sketch size k must be positive, got $k")
    // (r19: salted two-level reverted — see kmvState)
    val w = Window.partitionBy(col(keyCol), col(sliceCol)).orderBy(col("__pri").asc)
    df.select(col(keyCol), col(sliceCol), priority.as("__pri")).distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Merge KMV states (value-overlapping slices welcome): distinct by
    * (key, priority), re-cap at k. State-sized work only. */
  def mergeKmvStates(states: Seq[DataFrame], keyCol: String, k: Int): DataFrame = {
    require(states.nonEmpty, "mergeKmvStates needs at least one state frame")
    require(k > 0, s"sketch size k must be positive, got $k")
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__pri").asc)
    states.reduce(_.unionByName(_)).distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Pairwise Jaccard estimates between every two keys of a KMV state:
    * for each unordered pair, bottom-L (L = min(k, |union|)) of the
    * union of the two sketches, `matches` = elements of that sample
    * present in BOTH, estimate = matches / L (exact small-integer IEEE
    * division — engine-portable). Output per pair: `l`, `matches`,
    * `jaccard_est`. Work is sketch-sized: |keys|² · k rows — the key
    * column is a sliver (sources, languages, shards) by contract, the
    * corpus was only ever read by [[kmvState]]. */
  def kmvPairwiseJaccard(state: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k > 0, s"sketch size k must be positive, got $k")
    val ks = state.select(col(keyCol)).distinct()
    val pairs = ks.select(col(keyCol).as("src_a"))
      .crossJoin(ks.select(col(keyCol).as("src_b")))
      .filter(col("src_a") < col("src_b"))
    val u = pairs
      .join(state, col(keyCol) === col("src_a") || col(keyCol) === col("src_b"))
      .groupBy(col("src_a"), col("src_b"), col("__pri"))
      .agg(max(when(col(keyCol) === col("src_a"), 1).otherwise(0)).as("__ina"),
        max(when(col(keyCol) === col("src_b"), 1).otherwise(0)).as("__inb"))
    val w = Window.partitionBy(col("src_a"), col("src_b")).orderBy(col("__pri").asc)
    u.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("l"),
        sum(when(col("__ina") === 1 && col("__inb") === 1, 1L).otherwise(0L)).as("matches"))
      .withColumn("jaccard_est",
        col("matches").cast("double") / col("l").cast("double"))
  }

  // ───── mergeable BLOOM membership state (approximate set membership) ─────
  //
  // "Might this id already be in the corpus?" without shipping the id
  // set: a Bloom filter held AS ROWS — (keys, word, bits), word = a
  // 63-bit lane of the m-bit array (bit 63 stays clear: engines with
  // checked BIGINT shifts — DuckDB — reject 1<<63, and the sign bit
  // buys nothing), bits = OR of the set lanes. Insert
  // = k hash positions per value; merge = bit_or per (keys, word) —
  // commutative, idempotent, at-least-once-safe like the KMV state and
  // never driver-side (unlike DataFrameStatFunctions.bloomFilter, which
  // collects the whole filter). Probing joins candidates against the
  // state on (keys, word): NO FALSE NEGATIVES ever (an inserted value
  // probes true by construction — MergeSpec pins it); false positives
  // at the textbook (1 − e^(−kn/m))^k rate, and deterministic — both
  // engines compute identical positions, so even the FPs oracle-match.
  // The 100 TB role: pre-filter a corpus-sized side before an expensive
  // semi-join/shuffle using a state-table a fraction of the id set's
  // size, maintained incrementally per batch.

  /** Engine-portable Bloom positions: `k` disjoint 7-hex-char windows of
    * md5(value), mod `mBits` (28 bits per window ⇒ mBits ≤ 2²⁸; k ≤ 4
    * windows fit md5's 32 hex chars). DuckDB mirror:
    * `('0x' || substr(md5(v), 1+7i, 7))::BIGINT % mBits`. */
  def bloomPositionsPortable(value: org.apache.spark.sql.Column,
                             mBits: Long, k: Int): Seq[org.apache.spark.sql.Column] = {
    require(k >= 1 && k <= 4, s"k must be in 1..4 (md5 hex windows), got $k")
    require(mBits > 0 && mBits <= (1L << 28), s"mBits must be in 1..2^28, got $mBits")
    (0 until k).map(i =>
      conv(substring(md5(value.cast("string")), 1 + 7 * i, 7), 16, 10)
        .cast("long") % mBits)
  }

  /** Production positions: xxhash64(value, seed=i) — 8-byte hashing, no
    * hex-string parsing; Spark-only. */
  def bloomPositionsFast(value: org.apache.spark.sql.Column,
                         mBits: Long, k: Int): Seq[org.apache.spark.sql.Column] = {
    require(k >= 1, s"k must be positive, got $k")
    require(mBits > 0, s"mBits must be positive, got $mBits")
    (0 until k).map(i => pmod(xxhash64(value, lit(i)), lit(mBits)))
  }

  /** Per-key Bloom state over a slice: one explode (k rows per value) +
    * one (keys, word)-keyed bit_or agg. State size ≤ mBits/64 rows per
    * key regardless of cardinality. */
  def bloomState(df: DataFrame, keys: Seq[String],
                 positions: Seq[org.apache.spark.sql.Column]): DataFrame = {
    require(positions.nonEmpty, "bloomState needs at least one position column")
    val pos = df.select(keys.map(col) :+
      explode(array(positions: _*)).as("__p"): _*)
    pos.groupBy(keys.map(col) :+ (col("__p") / 63).cast("long").as("word"): _*)
      .agg(expr("bit_or(shiftleft(1L, CAST(__p % 63 AS INT)))").as("bits"))
  }

  /** Merge Bloom states: bit_or per (keys, word). Idempotent and
    * commutative — replayed or overlapping slices are harmless. */
  def mergeBloomStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeBloomStates needs at least one state frame")
    states.reduce(_.unionByName(_))
      .groupBy((keys :+ "word").map(col): _*)
      .agg(expr("bit_or(bits)").as("bits"))
  }

  /** Probe candidates against a Bloom state: `probes`' columns pass
    * through (they are the row identity — duplicates collapse) plus
    * `maybe_member`. One explode + one (keys, word) equi-join against
    * the state + one group-back; never touches the insert-side data. */
  def bloomProbe(state: DataFrame, probes: DataFrame, keys: Seq[String],
                 positions: Seq[org.apache.spark.sql.Column]): DataFrame = {
    require(positions.nonEmpty, "bloomProbe needs at least one position column")
    val probeCols = probes.columns.toSeq
    val pos = probes.select(probeCols.map(col) :+
      explode(array(positions: _*)).as("__p"): _*)
      .withColumn("word", (col("__p") / 63).cast("long"))
    val hit = pos.join(state, (keys :+ "word").toSeq, "left")
      .withColumn("__hit",
        when(col("bits").isNotNull &&
          (col("bits").bitwiseAND(expr("shiftleft(1L, CAST(__p % 63 AS INT))")) =!= 0L),
          1).otherwise(0))
    hit.groupBy(probeCols.map(col): _*)
      .agg((min(col("__hit")) === 1).as("maybe_member"))
  }

  // ───── COUNT-MIN frequency sketch state ─────
  //
  // The U13 freq state answers "top-k heaviest" but its capped form
  // ([[capFreqState]]) forgets the tail entirely; a COUNT-MIN sketch
  // (Cormode & Muthukrishnan '05) answers POINT frequency queries for
  // ANY value with fixed state: a depth×width counter grid per key,
  // held AS ROWS (keys, d, cell, cnt) — only touched cells materialize,
  // so state ≤ min(depth·width, depth·|values|) rows per key. Merge =
  // cnt addition per cell (counting state: slices must be row-disjoint,
  // the U9 contract). Estimates NEVER undercount (every probed cell
  // counts at least the value's own occurrences); overcount is the
  // textbook bound — ≤ εN with ε = e/width at confidence 1 − e^(−depth)
  // — and deterministic: both engines compute identical positions, so
  // even collision-inflated estimates oracle-match. The 100 TB role:
  // per-slice token/URL/entity frequency monitoring with state the size
  // of the grid, not the vocabulary, composable across days like every
  // other mergeable state. Positions reuse the Bloom hash construction
  // ([[bloomPositionsPortable]] md5 windows / [[bloomPositionsFast]]
  // xxhash64-seeded) with width as the modulus — index i is the row.

  /** Per-key CMS state over a slice: one posexplode (depth rows per
    * value occurrence) + one (keys, d, cell) hash agg. */
  def cmsState(df: DataFrame, keys: Seq[String],
               positions: Seq[org.apache.spark.sql.Column]): DataFrame = {
    require(positions.nonEmpty, "cmsState needs at least one position column")
    df.select(keys.map(col) :+ posexplode(array(positions: _*)): _*)
      .withColumnRenamed("pos", "d").withColumnRenamed("col", "cell")
      .groupBy((keys :+ "d" :+ "cell").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge CMS states: cnt addition per (keys, d, cell). Row-disjoint
    * slices only — double-counting a replayed slice inflates estimates
    * (route at-least-once sources through the admission guard first). */
  def mergeCmsStates(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeCmsStates needs at least one state frame")
    states.reduce(_.unionByName(_))
      .groupBy((keys :+ "d" :+ "cell").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Point frequency estimates: `probes`' columns pass through plus
    * `est_count` = min over depths of the probed cells (missing cell =
    * 0). One explode + one (keys, d, cell) left join + one group-back;
    * `positions` must be built from the same probe value expression and
    * (width, depth) the state used. */
  def cmsEstimate(state: DataFrame, probes: DataFrame, keys: Seq[String],
                  positions: Seq[org.apache.spark.sql.Column]): DataFrame = {
    require(positions.nonEmpty, "cmsEstimate needs at least one position column")
    val probeCols = probes.columns.toSeq
    probes.select(probeCols.map(col) :+ posexplode(array(positions: _*)): _*)
      .withColumnRenamed("pos", "d").withColumnRenamed("col", "cell")
      .join(state, (keys :+ "d" :+ "cell").toSeq, "left")
      .groupBy(probeCols.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
  }

  // ───── RETRACTION: deletes / right-to-be-forgotten without a rescan ─────
  //
  // The merge family above only ever ADDS slices. Real pipelines also
  // subtract: GDPR erasure, late "this batch was bad" corrections,
  // retention expiry. At 100 TB the whole point is to honor a delete
  // WITHOUT re-aggregating the archive: counts and decimal sums are
  // abelian-group aggregates (retract = subtract the delete batch's
  // partial state), while min/max are only semigroup — deleting the
  // current extreme of a key cannot be undone from the state alone. The
  // contract here is the standard production trade: subtract the cheap
  // fields state-side, and RESCAN ONLY THE DIRTY KEYS (those whose
  // deleted values touch the stored extreme, plus fully-emptied keys)
  // against the remaining data via a semi-join — work ∝ data under
  // dirty keys, never the corpus. Dirty detection may over-trigger
  // (deleting one copy of a duplicated min) — that only costs rescan
  // work; it can never under-trigger, because a deleted value strictly
  // inside (min, max) leaves both extremes in place.
  //
  // Retractability map of the state family, for honest capacity
  // planning: algebraic count/sum — subtract ([[retractStats]]);
  // histogram-shaped quantile/freq/binned — subtract per bin, exactly,
  // no rescan ([[retractHistState]]); min/max — dirty-key rescan (here);
  // bottom-k samples — a delete can evict a kept row with no recorded
  // runner-up, and HLL registers are max-folded — NEITHER retracts from
  // state alone; rebuild those from the remaining rows of the affected
  // keys (sample: re-window the key sliver; HLL: re-sketch it), the
  // same sliver-rescan shape as the min/max repair.

  /** Retract `deletes`' contribution from an algebraic [[partialStats]]
    * state, arbitrating min/max for dirty keys against `remaining` (the
    * post-delete data — at scale, served by partition pruning /
    * manifest skipping, and only read for dirty keys).
    *
    * Subset contract: `deletes` must be rows previously accumulated
    * into `state` and `remaining` the complement under the same keys; a
    * retraction that drives any key's count negative trips a
    * distributed `raise_error` guard (no driver action). Keys with no
    * remaining rows disappear, matching a direct GROUP BY over the
    * remaining data — including keys whose remaining rows are all
    * null-valued (kept, with null min/max), which the dirty-key rescan
    * arbitrates row-wise. */
  def retractStats(state: DataFrame, deletes: DataFrame, remaining: DataFrame,
                   keys: Seq[String], valueCol: String): DataFrame = {
    val kcols = keys.map(col)
    val del = partialStats(deletes, keys, valueCol)
      .withColumnRenamed("cnt", "__d_cnt")
      .withColumnRenamed("sum_dec", "__d_sum")
      .withColumnRenamed("min_v", "__d_min")
      .withColumnRenamed("max_v", "__d_max")
      // row-presence marker: partialStats' cnt counts non-null values,
      // so an all-null delete slice still dirties its key (the key may
      // have lost its last rows without losing a counted value)
      .withColumn("__d_present", lit(true))

    val newCnt = col("cnt") - coalesce(col("__d_cnt"), lit(0L))
    // a key is dirty when the delete could have changed anything beyond
    // count/sum: it removed a stored extreme, or may have emptied the
    // key. Every contract violation lands here too: a negative count
    // implies a delete row existed, which sets __d_present.
    val dirty = coalesce(
      col("__d_min") <=> col("min_v") || col("__d_max") <=> col("max_v"), lit(false)) ||
      coalesce(col("__d_present"), lit(false)) && (newCnt <= 0)

    val retracted = state.join(del, keys, "left")
      .withColumn("__new_cnt", newCnt)
      .withColumn("__new_sum", when(newCnt === 0, lit(null))
        .otherwise(col("sum_dec") - coalesce(col("__d_sum"), lit(0))))
      .withColumn("__dirty", dirty)

    val clean = retracted.filter(!col("__dirty"))
      .select(kcols ++ Seq(col("__new_cnt").as("cnt"), col("__new_sum").as("sum_dec"),
        col("min_v"), col("max_v")): _*)

    // dirty keys: recompute min/max from the remaining data restricted to
    // them (semi-join sliver; AQE broadcasts the key list when small).
    // The left join against the rescan arbitrates both key survival and
    // the subset contract: no rescan group + zero count = cleanly
    // emptied key (drop); a negative count, or a positive count with no
    // remaining rows, trips the distributed guard.
    val dirtyKeys = retracted.filter(col("__dirty")).select(kcols: _*)
    val rescan = remaining.join(dirtyKeys, keys, "leftsemi")
      .groupBy(kcols: _*)
      .agg(min(col(valueCol)).as("__r_min"), max(col(valueCol)).as("__r_max"),
        lit(true).as("__r_present"))
    val violation = col("__new_cnt") < 0 ||
      (col("__r_present").isNull && col("__new_cnt") =!= 0)
    val repaired = retracted.filter(col("__dirty"))
      .join(rescan, keys, "left")
      .filter(when(violation, raise_error(concat(
          lit("retractStats: delete/remaining violate the subset contract on key ("),
          concat_ws(",", kcols: _*), lit(")"))))
        .otherwise(col("__r_present").isNotNull))
      .select(kcols ++ Seq(col("__new_cnt").as("cnt"), col("__new_sum").as("sum_dec"),
        col("__r_min").as("min_v"), col("__r_max").as("max_v")): _*)

    clean.unionByName(repaired)
  }

  /** Retract a delete slice from a value-HISTOGRAM state — the shared
    * (keys…, v, cnt) shape of [[partialQuantileState]],
    * [[binnedQuantileState]] and [[partialFreqState]]. Unlike
    * [[retractStats]], no rescan is ever needed: the histogram carries
    * the full per-key value distribution, so deletes subtract per
    * (key, v) bin and emptied bins disappear — retract-then-finalize is
    * bit-identical to a recompute over the surviving rows (quantiles,
    * top-k, anything downstream). `deleteState` must be built by the
    * SAME partial builder (and bin width) over rows previously
    * accumulated into `state`; any bin the delete over- or under-shoots
    * trips the distributed guard (full outer join sees both sides). */
  def retractHistState(state: DataFrame, deleteState: DataFrame,
                       keys: Seq[String]): DataFrame = {
    val joinCols = keys :+ "v"
    val del = deleteState.withColumnRenamed("cnt", "__d_cnt")
    val newCnt = coalesce(col("cnt"), lit(0L)) - coalesce(col("__d_cnt"), lit(0L))
    state.join(del, joinCols, "full")
      .withColumn("cnt", when(newCnt < 0, raise_error(concat(
          lit("retractHistState: delete histogram exceeds the state on ("),
          concat_ws(",", (keys.map(col) :+ col("v")): _*), lit(")"))))
        .otherwise(newCnt))
      .filter(col("cnt") =!= 0)
      .drop("__d_cnt")
  }

  /** Retract a delete slice's [[partialMomentState]] from a moment
    * state: power sums are abelian, so all five fields subtract exactly
    * — no rescan, and retract-then-finalize is bit-identical to a
    * recompute over the survivors (the DECIMAL(38,0) carry makes the
    * subtraction lossless). `deleteState` must be built by the same
    * partial builder over rows previously accumulated into `state`; a
    * key driven below zero rows, or a delete key absent from the state,
    * trips the distributed guard. Cleanly-emptied keys disappear. */
  def retractMomentState(state: DataFrame, deleteState: DataFrame,
                         keys: Seq[String]): DataFrame = {
    val del = deleteState
      .withColumnRenamed("n", "__d_n").withColumnRenamed("s1", "__d_s1")
      .withColumnRenamed("s2", "__d_s2").withColumnRenamed("s3", "__d_s3")
      .withColumnRenamed("s4", "__d_s4")
    val newN = coalesce(col("n"), lit(0L)) - coalesce(col("__d_n"), lit(0L))
    def sub(s: String, d: String) = coalesce(col(s), lit(0)) - coalesce(col(d), lit(0))
    state.join(del, keys, "full")
      .withColumn("n", when(newN < 0 || col("n").isNull, raise_error(concat(
          lit("retractMomentState: delete exceeds the state on key ("),
          concat_ws(",", keys.map(col): _*), lit(")"))))
        .otherwise(newN))
      .withColumn("s1", sub("s1", "__d_s1"))
      .withColumn("s2", sub("s2", "__d_s2"))
      .withColumn("s3", sub("s3", "__d_s3"))
      .withColumn("s4", sub("s4", "__d_s4"))
      .filter(col("n") =!= 0)
      .drop("__d_n", "__d_s1", "__d_s2", "__d_s3", "__d_s4")
  }

  /** Retract a delete slice's [[cmsState]] from a COUNT-MIN state.
    * CMS is a LINEAR sketch — each cell counts occurrences, so
    * cms(all) = cms(survivors) + cms(deletes) cell-wise — which makes it
    * the one approximate state here that honors erasure EXACTLY from
    * state alone: subtract per (keys, d, cell), drop zeroed cells, and
    * the result is bit-identical to a sketch built over the surviving
    * rows (pinned in MergeSpec). `deleteState` must use the same
    * positions/(width, depth) over previously-accumulated rows; an
    * overshot cell trips the distributed guard. Contrast [[bloomState]]
    * (bit-or — retraction impossible, rebuild from survivors) and
    * [[hllDistinctState]] (register-max — same). */
  def retractCmsState(state: DataFrame, deleteState: DataFrame,
                      keys: Seq[String]): DataFrame = {
    val joinCols = keys :+ "d" :+ "cell"
    val del = deleteState.withColumnRenamed("cnt", "__d_cnt")
    val newCnt = coalesce(col("cnt"), lit(0L)) - coalesce(col("__d_cnt"), lit(0L))
    state.join(del, joinCols, "full")
      .withColumn("cnt", when(newCnt < 0, raise_error(concat(
          lit("retractCmsState: delete sketch exceeds the state on ("),
          concat_ws(",", joinCols.map(col): _*), lit(")"))))
        .otherwise(newCnt))
      .filter(col("cnt") =!= 0)
      .drop("__d_cnt")
  }

  /** Retract deletes from an exact [[partialDistinctState]]: a deleted
    * (key, value) pair leaves the state ONLY if no surviving row still
    * carries it — multiplicity lives in the data, not the set-valued
    * state, so the dirty pairs (distinct (key, v) of the delete slice)
    * are checked against `remaining` with a semi-join and the state
    * drops exactly the unconfirmed ones. Work ∝ state + the remaining
    * rows under dirty keys (the [[retractStats]] sliver shape); the
    * corpus is never re-aggregated. Result == a state built over the
    * survivors (pinned in MergeSpec). */
  def retractDistinctState(state: DataFrame, deletes: DataFrame,
                           remaining: DataFrame, keys: Seq[String],
                           valueCol: String): DataFrame = {
    val joinCols = keys :+ "v"
    val dirty = partialDistinctState(deletes, keys, valueCol)
    val stillThere = partialDistinctState(
      remaining.join(dirty.select(keys.map(col): _*).distinct(), keys, "leftsemi"),
      keys, valueCol)
      .join(dirty, joinCols, "leftsemi")
    state.join(dirty.join(stillThere, joinCols, "left_anti"), joinCols, "left_anti")
  }

  /** Retract deletes from a bottom-k state — [[kmvState]] (priority a
    * pure function of the value) or [[partialSampleState]] (priority of
    * the row id). Bottom-k cannot retract from state alone: evicting a
    * kept row needs the runner-up the state never recorded. The repair
    * is the dirty-key sliver rebuild: every key the delete slice touches
    * is re-sketched from `remaining` (one pass over the rows under those
    * keys via semi-join — at scale, partition-pruned), untouched keys'
    * rows pass through unread. `rebuild` is the same partial builder
    * that made `state` (same priority, same k); dirty detection
    * deliberately over-triggers (a delete below the kept bottom-k still
    * rebuilds its key) — that costs sliver work, never correctness. */
  def retractBottomKState(state: DataFrame, deletes: DataFrame,
                          remaining: DataFrame, keys: Seq[String])(
                          rebuild: DataFrame => DataFrame): DataFrame = {
    val dirtyKeys = deletes.select(keys.map(col): _*).distinct()
    val untouched = state.join(dirtyKeys, keys, "left_anti")
    val rebuilt = rebuild(remaining.join(dirtyKeys, keys, "leftsemi"))
    // USING joins surface the join columns first — restore the state's
    // own column order so the snapshot schema is stable across epochs
    untouched.unionByName(rebuilt).select(state.columns.map(col).toIndexedSeq: _*)
  }
}
