package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.io.Versioned
import graft.ops.Merge

/** Streaming ingest wired to incremental AGGREGATION maintenance: a
  * foreachBatch sink that folds every arriving micro-batch into the full
  * mergeable-state family of [[Merge]] — algebraic count/sum/min/max,
  * value-histogram quantiles, distinct sets, integer power-sum moments,
  * value frequencies, and (opt-in) a bottom-k-by-hash uniform audit
  * sample — persisted epoch by epoch as parquet. The
  * "p95 doc length + unique sources + top tokens, updated nightly"
  * dashboard, maintained without ever rescanning history (the
  * aggregation sibling of [[graft.pipeline.IncrementalIngest]]'s
  * near-dup fold; reference has no streaming at all).
  *
  * State layout: `stateDir` is a [[Versioned]] table, and epoch N is
  * its version N+1 (`<stateDir>/v=N+1/<family>/`, parquet, one dir per
  * state family, written by [[Versioned.writeParts]]). Snapshots are
  * STATE-sized (key × value-cardinality for histograms, key count for
  * the rest), never data-sized, so a snapshot per epoch stays cheap at
  * any corpus scale.
  *
  * Epoch discipline: epoch N+1's snapshot
  * = merge(read-back epoch-N snapshot, batch partial), and every family
  * of it commits by ONE rename — a failed or crashed fold leaves only a
  * dot-prefixed staging dir, never a partial epoch, so the previous
  * epoch keeps serving and a replay of the batch folds from it. Merges
  * always serve from storage, and the ONLY driver scalar is the epoch
  * counter, recovered from the version listing (Hadoop FS API: local,
  * `file:`, `hdfs://` and `s3a://` state dirs alike). [[retain]] drops
  * whole old epochs. Batches must be row-disjoint (the counting-state
  * contract); the distinct state is additionally safe under value
  * overlap by construction.
  */
object StreamingStats {

  /** Column roles, fixed for the lifetime of a state directory.
    * `valueCol` feeds stats/quantile/moment states (moment contract:
    * integral values, |v| ≤ 55,000 — see [[Merge.partialMomentState]]);
    * `distinctCol` the distinct state; `freqCol` the frequency state.
    * `sampleIdCols` (optional) enables the uniform-sample family: a
    * per-key bottom-`sampleK`-by-xxhash64 audit sample maintained with
    * the same merge discipline ([[Merge.partialSampleState]] — the id
    * columns must make the priority injective per key). */
  final case class Config(stateDir: String, keys: Seq[String],
                          valueCol: String, distinctCol: String, freqCol: String,
                          sampleIdCols: Seq[String] = Nil, sampleK: Int = 64,
                          kmvK: Int = 0, bloomBits: Long = 0L, bloomHashes: Int = 2,
                          cmsWidth: Long = 0L, cmsDepth: Int = 3,
                          hllLgK: Int = 0) {
    require(kmvK == 0 || keys.size == 1,
      "the kmv family (cross-key overlap) needs exactly one key column")
  }

  /** The five always-on state families. */
  val Families: Seq[String] = Seq("stats", "quantile", "distinct", "moment", "freq")

  /** The families a given config maintains (+"sample" when id columns
    * are configured; +"kmv"/"bloom" when their sizes are set — both fold
    * the `distinctCol` values and, unlike the counting states, tolerate
    * value overlap across batches by construction; +"cms" when
    * `cmsWidth` is set — point frequency estimates over `freqCol` with
    * grid-sized state, the U22 counting sketch: row-disjoint batches
    * only, like freq/stats; +"hll" when `hllLgK` is set — the
    * production distinct path for unbounded-cardinality `distinctCol`
    * values, 2^lgK registers per key regardless of cardinality, overlap-
    * tolerant like distinct/kmv/bloom). */
  def families(cfg: Config): Seq[String] =
    Families ++
      (if (cfg.sampleIdCols.nonEmpty) Seq("sample") else Nil) ++
      (if (cfg.kmvK > 0) Seq("kmv") else Nil) ++
      (if (cfg.bloomBits > 0) Seq("bloom") else Nil) ++
      (if (cfg.cmsWidth > 0) Seq("cms") else Nil) ++
      (if (cfg.hllLgK > 0) Seq("hll") else Nil)

  private def bloomPos(cfg: Config) =
    Merge.bloomPositionsFast(col(cfg.distinctCol).cast("string"),
      cfg.bloomBits, cfg.bloomHashes)

  private def cmsPos(cfg: Config) =
    Merge.bloomPositionsFast(col(cfg.freqCol).cast("string"),
      cfg.cmsWidth, cfg.cmsDepth)

  // Epoch N is the state table's Versioned version N+1 (init commits
  // v=1 as epoch 0); every epoch<->version mapping goes through these.
  private def versionOf(epoch: Long): Long = epoch + 1
  private def epochOf(version: Long): Long = version - 1

  /** Highest committed epoch; -1 before init. */
  def latestEpoch(cfg: Config): Long =
    Versioned.latestVersion(SparkSession.active, cfg.stateDir).fold(-1L)(epochOf)

  private def snapshot(spark: SparkSession, cfg: Config, family: String, epoch: Long) =
    Versioned.readPart(spark, cfg.stateDir, family, versionOf(epoch))

  /** Commit one state snapshot per family as the next epoch; returns it.
    * repartition(1): snapshots are state-sized, one file each, and an
    * EMPTY state still writes a schema-bearing part file. */
  private def commitEpoch(spark: SparkSession, cfg: Config,
                          states: Seq[(String, DataFrame)]): Long =
    epochOf(Versioned.writeParts(spark, cfg.stateDir,
      states.map { case (family, st) => family -> st.repartition(1) }))

  /** One family's state over `df` — a batch partial, or a from-scratch
    * state over a whole corpus. */
  private def partial(df: DataFrame, cfg: Config, family: String): DataFrame = family match {
    case "stats"    => Merge.partialStats(df, cfg.keys, cfg.valueCol)
    case "quantile" => Merge.partialQuantileState(df, cfg.keys, cfg.valueCol)
    case "distinct" => Merge.partialDistinctState(df, cfg.keys, cfg.distinctCol)
    case "moment"   => Merge.partialMomentState(df, cfg.keys, cfg.valueCol)
    case "freq"     => Merge.partialFreqState(df, cfg.keys, cfg.freqCol)
    case "sample"   => Merge.partialSampleState(df, cfg.keys,
      Merge.samplePriorityFast(cfg.sampleIdCols), cfg.sampleK)
    case "kmv"      => Merge.kmvState(df, cfg.keys.head,
      Merge.samplePriorityFast(Seq(cfg.distinctCol)), cfg.kmvK)
    case "bloom"    => Merge.bloomState(df, cfg.keys, bloomPos(cfg))
    case "cms"      => Merge.cmsState(df, cfg.keys, cmsPos(cfg))
    case "hll"      => Merge.hllDistinctState(df, cfg.keys, cfg.distinctCol, cfg.hllLgK)
  }

  private def mergeFamily(cfg: Config, family: String,
                          states: Seq[DataFrame]): DataFrame = family match {
    case "stats"    => Merge.mergeStats(states, cfg.keys)
    case "quantile" => Merge.mergeQuantileStates(states, cfg.keys)
    case "distinct" => Merge.mergeDistinctStates(states)
    case "moment"   => Merge.mergeMomentStates(states, cfg.keys)
    case "freq"     => Merge.mergeFreqStates(states, cfg.keys)
    case "sample"   => Merge.mergeSampleStates(states, cfg.keys, cfg.sampleK)
    case "kmv"      => Merge.mergeKmvStates(states, cfg.keys.head, cfg.kmvK)
    case "bloom"    => Merge.mergeBloomStates(states, cfg.keys)
    case "cms"      => Merge.mergeCmsStates(states, cfg.keys)
    case "hll"      => Merge.mergeHllDistinctStates(states, cfg.keys)
  }

  /** Initialize state at epoch 0 from an (optionally empty) starting
    * archive — the snapshots land exactly as a batch job over the
    * archive would have left them. */
  def init(spark: SparkSession, cfg: Config, archive: DataFrame): Unit = {
    require(latestEpoch(cfg) < 0, s"state at ${cfg.stateDir} already initialized")
    val src = archive.localCheckpoint()
    commitEpoch(spark, cfg, families(cfg).map(f => f -> partial(src, cfg, f)))
  }

  /** The foreachBatch body — also the batch-mode loop body (StreamStatsSpec
    * pins "stream replay == calling this once per batch"). Each family:
    * merge(epoch-N read-back, batch partial) → epoch N+1 snapshot. */
  def processBatch(spark: SparkSession, cfg: Config, batch: DataFrame): Unit = {
    val epoch = latestEpoch(cfg)
    require(epoch >= 0, s"state at ${cfg.stateDir} not initialized — call init() first")
    // snapshot the micro-batch once; it feeds every family's partial
    val src = batch.localCheckpoint()
    commitEpoch(spark, cfg, families(cfg).map(f =>
      f -> mergeFamily(cfg, f, Seq(snapshot(spark, cfg, f, epoch), partial(src, cfg, f)))))
  }

  /** Attach the sink to a stream carrying the configured columns. */
  def attach(stream: DataFrame, cfg: Config): DataStreamWriter[org.apache.spark.sql.Row] =
    // StreamGuard-admitted, like every attach funnel
    StreamGuard.admit(stream).writeStream
      .foreachBatch { (batch: DataFrame, id: Long) => applyBatch(batch, cfg, id) }

  /** [[processBatch]] with crash-replay protection: counting states are
    * not idempotent, so a replayed micro-batch id is skipped via an
    * `_applied/` marker recorded after a successful fold (same contract
    * and marker-race caveat as
    * [[graft.pipeline.IncrementalIngest.applyBatch]]). */
  def applyBatch(batch: DataFrame, cfg: Config, batchId: Long): Unit =
    Replay.runOnce(batch.sparkSession, cfg.stateDir, batchId) {
      processBatch(batch.sparkSession, cfg, batch)
    }

  /** Latest snapshot of one state family, read back from storage. */
  def state(spark: SparkSession, cfg: Config, family: String): DataFrame = {
    require(families(cfg).contains(family),
      s"unknown state family '$family' (configured: ${families(cfg).mkString(",")})")
    val epoch = latestEpoch(cfg)
    require(epoch >= 0, s"state at ${cfg.stateDir} not initialized")
    snapshot(spark, cfg, family, epoch)
  }

  /** The dashboard: per-key count/sum/avg/min/max + distinct count +
    * variance/skew/kurtosis + wide quantile columns (q50, q95, …),
    * finalized from the latest snapshots. State-sized work throughout. */
  def dashboard(spark: SparkSession, cfg: Config,
                ps: Seq[Double] = Seq(0.5, 0.95)): DataFrame = {
    val k = cfg.keys
    val stats = Merge.finalizeStats(state(spark, cfg, "stats"), k)
    val dist = Merge.finalizeDistinct(state(spark, cfg, "distinct"), k)
    val mom = Merge.finalizeMoments(state(spark, cfg, "moment"), k)
      .drop("n", "mean_v") // cnt/avg_v already on the stats side
    val qLong = Merge.finalizeQuantiles(state(spark, cfg, "quantile"), k, ps)
    val qAggs = ps.map(p =>
      max(when(col("p") === p, col("q"))).as(s"q${math.round(p * 100)}"))
    val qWide = qLong.groupBy(k.map(col): _*).agg(qAggs.head, qAggs.tail: _*)
    stats.join(dist, k).join(mom, k).join(qWide, k)
  }

  /** Top-k frequent values per key from the latest frequency snapshot. */
  def topValues(spark: SparkSession, cfg: Config, k: Int): DataFrame =
    Merge.finalizeTopK(state(spark, cfg, "freq"), cfg.keys, k)

  /** The maintained per-key audit sample (priority-ranked), from the
    * latest sample snapshot — exactly the rows a bottom-k pass over
    * everything ever ingested would draw. */
  def auditSample(spark: SparkSession, cfg: Config): DataFrame =
    Merge.finalizeSample(state(spark, cfg, "sample"), cfg.keys)

  /** Cross-key distinct-overlap estimates from the latest KMV snapshot
    * (per key pair: l, matches, jaccard_est — see
    * [[Merge.kmvPairwiseJaccard]]). Sketch-sized work. */
  def overlapMatrix(spark: SparkSession, cfg: Config): DataFrame =
    Merge.kmvPairwiseJaccard(state(spark, cfg, "kmv"), cfg.keys.head, cfg.kmvK)

  /** Probe candidates against the latest Bloom snapshot: probes' columns
    * + `maybe_member`. Probes must carry the key columns and the
    * configured `distinctCol`. NO false negatives against everything
    * ever ingested (pinned in StreamStatsSpec). */
  def mightContain(spark: SparkSession, cfg: Config, probes: DataFrame): DataFrame =
    Merge.bloomProbe(state(spark, cfg, "bloom"), probes, cfg.keys, bloomPos(cfg))

  /** Point frequency estimates against the latest CMS snapshot: probes'
    * columns + `est_count` (min over depths; never undercounts the true
    * count of everything ever ingested). Probes must carry the key
    * columns and the configured `freqCol`. */
  def estimateCounts(spark: SparkSession, cfg: Config, probes: DataFrame): DataFrame =
    Merge.cmsEstimate(state(spark, cfg, "cms"), probes, cfg.keys, cmsPos(cfg))

  /** Per-key distinct-count ESTIMATES from the latest HLL snapshot —
    * the production path when `distinctCol`'s cardinality outgrows the
    * exact set state (state = 2^lgK registers per key, not one row per
    * value). */
  def estimateDistinct(spark: SparkSession, cfg: Config): DataFrame =
    Merge.finalizeHllDistinct(state(spark, cfg, "hll"), cfg.keys)

  /** Right-to-be-forgotten over EVERY state family, landing as the next
    * epoch (so time travel, [[retain]], and crash recovery see erasure
    * as one more fold). `forgotten` = the rows to erase (must be rows
    * previously folded in); `survivors` = the retained corpus — in the
    * composed ingest story, the post-forget `archive/` that
    * [[graft.pipeline.IncrementalIngest.forget]] maintains.
    *
    * Retractability policy, per family (the honest-capacity-planning
    * map of [[Merge]]'s retraction section, now EXECUTED not just
    * documented):
    *
    *  - `stats`     — abelian count/sum subtract; min/max repaired by
    *                  rescanning ONLY the dirty keys of `survivors`
    *                  ([[Merge.retractStats]]);
    *  - `quantile`/`freq` — per-bin subtraction, exact, no rescan
    *                  ([[Merge.retractHistState]]);
    *  - `moment`    — power sums subtract, exact, no rescan
    *                  ([[Merge.retractMomentState]]);
    *  - `cms`       — LINEAR sketch: cell-wise subtraction, exact from
    *                  state alone — the forgotten value's counts leave
    *                  every estimate ([[Merge.retractCmsState]]);
    *  - `distinct`  — deleted (key, v) pairs leave iff no survivor
    *                  carries them (dirty-pair sliver check,
    *                  [[Merge.retractDistinctState]]);
    *  - `sample`/`kmv` — bottom-k can't retract from state alone (no
    *                  recorded runner-up): dirty KEYS are re-sketched
    *                  from their `survivors` sliver
    *                  ([[Merge.retractBottomKState]]);
    *  - `bloom`/`hll` — IRREVERSIBLE by construction (bit-or /
    *                  register-max cannot subtract): rebuilt from the
    *                  full surviving corpus — the one family pair whose
    *                  erasure costs a corpus pass. Without this rebuild
    *                  a forgotten id keeps answering `maybe_member =
    *                  true` and its cardinality contribution persists —
    *                  a membership leak, not just staleness. Deployments
    *                  that cannot afford the pass per request should
    *                  batch erasures and rotate the epoch on a bounded
    *                  schedule (the documented staleness trade).
    *
    * Post-forget, EVERY family serves exactly as if the surviving
    * corpus had been folded from scratch (StreamStatsSpec pins each);
    * erasure of rows never folded in trips the retraction guards. */
  def forget(spark: SparkSession, cfg: Config,
             forgotten: DataFrame, survivors: DataFrame): Long = {
    val epoch = latestEpoch(cfg)
    require(epoch >= 0, s"state at ${cfg.stateDir} not initialized")
    val fg = forgotten.localCheckpoint()
    commitEpoch(spark, cfg, families(cfg).map { f =>
      lazy val cur = snapshot(spark, cfg, f, epoch)
      f -> (f match {
        case "stats"    => Merge.retractStats(cur, fg, survivors, cfg.keys, cfg.valueCol)
        case "quantile" | "freq" => Merge.retractHistState(cur, partial(fg, cfg, f), cfg.keys)
        case "moment"   => Merge.retractMomentState(cur, partial(fg, cfg, f), cfg.keys)
        case "cms"      => Merge.retractCmsState(cur, partial(fg, cfg, f), cfg.keys)
        case "distinct" =>
          Merge.retractDistinctState(cur, fg, survivors, cfg.keys, cfg.distinctCol)
        case "sample"   =>
          Merge.retractBottomKState(cur, fg, survivors, cfg.keys)(partial(_, cfg, f))
        case "kmv"      =>
          Merge.retractBottomKState(cur, fg, survivors, Seq(cfg.keys.head))(partial(_, cfg, f))
        case "bloom" | "hll" => partial(survivors, cfg, f) // irreversible: rebuilt
      })
    })
  }

  /** Epoch-snapshot GC: keep the newest `keepLast` epochs, delete the
    * rest — every family of an epoch goes with it, including families a
    * later config no longer maintains. Snapshots are state-sized but one
    * epoch lands per micro-batch: a month of minutely batches is ~43k
    * epochs without retention. Safe by construction ([[Versioned.retain]]):
    * the serving epoch is the newest and is always kept, and `_applied/`
    * replay markers guard batch ids, not epochs, and are untouched.
    * Returns the dropped epoch ids. */
  def retain(spark: SparkSession, cfg: Config, keepLast: Int): Seq[Long] = {
    require(latestEpoch(cfg) >= 0, s"state at ${cfg.stateDir} not initialized")
    Versioned.retain(spark, cfg.stateDir, keepLast).map(epochOf)
  }
}
