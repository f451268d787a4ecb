package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.io.{Sinks, Versioned}
import graft.ops.Dedup

/** Streaming ingest wired to incremental near-dup dedup: a foreachBatch
  * sink that runs every arriving micro-batch of documents through
  * [[Dedup.incrementalNearDupCapped]] against the PERSISTED LSH band
  * index, and maintains the persisted shingle-df table epoch by epoch —
  * the daily-increment shape the dedup scaladocs describe, wired end to
  * end (reference has no streaming at all; this extends the §2.10
  * north-star family).
  *
  * State layout under `stateDir` (all parquet — the artifacts
  * round-trip through storage, never live only in memory):
  *
  *   - `corpus/`     append-only (doc_id, text, epoch) — the archive
  *   - `index/`      append-only (doc_id, band, bh, epoch) — LSH band
  *                   index rows of every ingested doc
  *   - `shingle_df/` a [[Versioned]] table of full (shingle, df)
  *                   snapshots (vocabulary-sized, not corpus-sized);
  *                   epoch N is its version N+1 (`shingle_df/v=N+1/`)
  *   - `pairs/`      append-only (id1, id2, jaccard, epoch) — every
  *                   near-dup pair discovered, tagged with the epoch
  *                   whose batch surfaced it
  *
  * Epoch discipline (the [[Dedup.shingleDfTable]] contract): batch N's
  * df contribution is merged into the table FIRST, the epoch-N snapshot
  * is committed, and then BOTH the cap on the batch substrate and the
  * cap on the batch's new index rows are served from the READ-BACK
  * epoch-N snapshot — index and batch never disagree on which shingles
  * are hot, and the increment equals the equivalent batch-mode loop bit
  * for bit (pinned in StreamingSpec). The snapshot commits by rename, so
  * a failed df write leaves the epoch where it was and nothing else
  * written: a replay of the batch folds as if it never ran.
  *
  * Scale shape per micro-batch: work ∝ batch + its collisions (the
  * [[Dedup.incrementalNearDup]] guarantee — the archive is re-read only
  * for candidate docs); state growth per batch is batch-sized corpus/
  * index appends plus one vocabulary-sized df snapshot. No driver-side
  * state: the ONLY driver scalar is the epoch counter, recovered from
  * the version listing (Hadoop FS API, so `file:`/`hdfs://`/`s3a://`
  * state dirs work; restart-safe).
  */
object StreamingDedup {

  /** Tuning knobs, fixed for the lifetime of a state directory (an index
    * probed with different k/numPerm/bands/rows than it was built with
    * is garbage — same caller contract as [[Dedup.incrementalNearDup]]). */
  final case class Config(stateDir: String, maxDf: Long = Dedup.DefaultMaxDf,
                          k: Int = 3, numPerm: Int = 64,
                          bands: Int = 16, rows: Int = 4, thr: Double = 0.8)

  private def dfTable(cfg: Config) = s"${cfg.stateDir}/shingle_df"

  /** Highest committed shingle-df epoch; -1 before init. */
  def latestEpoch(cfg: Config): Long = StreamingStats.latestEpochOf(dfTable(cfg))

  /** Commit `table` as the next shingle-df epoch and read it back (every
    * cap serves from storage). repartition(1) so an EMPTY table still
    * writes a schema-bearing part file. */
  private def commitDf(spark: SparkSession, cfg: Config, table: DataFrame): DataFrame =
    Versioned.read(spark, dfTable(cfg),
      Some(Versioned.write(table.repartition(1), dfTable(cfg))))

  /** Initialize state at epoch 0 from an (optionally empty) starting
    * archive. The corpus/index/df-table triple lands on disk exactly as
    * a batch pipeline would have left it: index rows capped against the
    * archive's own df table. */
  def init(spark: SparkSession, cfg: Config, archive: DataFrame): Unit = {
    require(latestEpoch(cfg) < 0, s"state at ${cfg.stateDir} already initialized")
    // repartition(1) so an EMPTY archive still writes a schema-bearing
    // part file (zero-partition writes leave nothing to read back)
    val docs = archive.select(col("doc_id"), col("text"))
      .repartition(1).localCheckpoint()
    val dfBack = commitDf(spark, cfg, Dedup.shingleDfTable(Dedup.shingleDF(docs, k = cfg.k)))
    Sinks.parquet(
      Dedup.lshBandIndexCapped(docs, dfBack, cfg.maxDf,
        cfg.k, cfg.numPerm, cfg.bands, cfg.rows)
        .withColumn("epoch", lit(0L)).repartition(1),
      s"${cfg.stateDir}/index")
    Sinks.parquet(docs.withColumn("epoch", lit(0L)).repartition(1),
      s"${cfg.stateDir}/corpus")
  }

  /** The foreachBatch body — also the batch-mode loop body (the parity
    * StreamingSpec pins is exactly "stream replay == calling this once
    * per batch"). Steps, in self-read-hazard-free order:
    *  1. merge the batch's shingle-df contribution, write epoch N+1's
    *     snapshot, read it back (every cap below serves from storage);
    *  2. run the batch against the persisted corpus+index, append the
    *     discovered pairs;
    *  3. append the batch's index rows (capped against the SAME epoch
    *     snapshot) and the batch docs themselves. */
  def processBatch(spark: SparkSession, cfg: Config, batch: DataFrame): Unit = {
    val epoch = latestEpoch(cfg)
    require(epoch >= 0, s"state at ${cfg.stateDir} not initialized — call init() first")
    // snapshot the micro-batch once: it feeds the df merge, the dedup
    // probe, and two appends — a lazy stream batch would re-read the
    // source per consumer
    val docs = batch.select(col("doc_id"), col("text")).localCheckpoint()
    val dfBack = commitDf(spark, cfg, Dedup.mergeShingleDf(Seq(
      Versioned.read(spark, dfTable(cfg)),
      Dedup.shingleDfTable(Dedup.shingleDF(docs, k = cfg.k)))))

    val corpus = spark.read.parquet(s"${cfg.stateDir}/corpus").select("doc_id", "text")
    val index = spark.read.parquet(s"${cfg.stateDir}/index").select("doc_id", "band", "bh")
    val pairs = Dedup.incrementalNearDupCapped(docs, corpus, index, dfBack,
      cfg.maxDf, cfg.k, cfg.numPerm, cfg.bands, cfg.rows, cfg.thr)
    Sinks.parquet(pairs.withColumn("epoch", lit(epoch + 1)),
      s"${cfg.stateDir}/pairs", mode = "append")

    Sinks.parquet(
      Dedup.lshBandIndexCapped(docs, dfBack, cfg.maxDf,
        cfg.k, cfg.numPerm, cfg.bands, cfg.rows)
        .withColumn("epoch", lit(epoch + 1)),
      s"${cfg.stateDir}/index", mode = "append")
    Sinks.parquet(docs.withColumn("epoch", lit(epoch + 1)),
      s"${cfg.stateDir}/corpus", mode = "append")
  }

  /** Attach the sink to a document stream (columns doc_id, text). Start
    * with `.start()` / await as usual; each micro-batch runs
    * [[applyBatch]]. */
  def attach(stream: DataFrame, cfg: Config): DataStreamWriter[org.apache.spark.sql.Row] =
    // admission-guarded like every batch pipeline write (StreamGuard is
    // PlanGuard's ingest twin): an unbounded-state shape upstream of the
    // sink is refused BEFORE start(), not discovered at 3am
    StreamGuard.admit(stream).writeStream
      .foreachBatch { (batch: DataFrame, id: Long) => applyBatch(batch, cfg, id) }

  /** [[processBatch]] with CRASH-REPLAY protection: on recovery Spark
    * replays the last un-committed micro-batch, and an epoch-append fold
    * is not idempotent — the replay would land as a duplicate epoch.
    * Applied batch ids are recorded as `_applied/` markers after a
    * successful fold and a marked id is skipped (marker not atomic with
    * the multi-artifact fold — the standard foreachBatch trade, same as
    * [[graft.pipeline.IncrementalIngest.applyBatch]]). */
  def applyBatch(batch: DataFrame, cfg: Config, batchId: Long): Unit =
    Replay.runOnce(batch.sparkSession, cfg.stateDir, batchId) {
      processBatch(batch.sparkSession, cfg, batch)
    }

  /** Every near-dup pair discovered so far (id1, id2, jaccard, epoch). */
  def pairs(spark: SparkSession, cfg: Config): DataFrame = {
    val dir = new Path(s"${cfg.stateDir}/pairs")
    if (dir.getFileSystem(spark.sessionState.newHadoopConf()).exists(dir))
      spark.read.parquet(dir.toString)
    else spark.emptyDataFrame
  }

  /** Shingle-df snapshot GC: keep the newest `keepLast` `shingle_df/`
    * epochs, delete the rest (corpus/index/pairs are append-only DATA —
    * they never get GC'd here; only the vocab-sized per-epoch df
    * snapshots are redundant history). Same safety argument as
    * [[StreamingStats.retain]]. Returns the dropped epoch ids. */
  def retain(spark: SparkSession, cfg: Config, keepLast: Int): Seq[Long] =
    StreamingStats.retainEpochs(spark, dfTable(cfg), keepLast)
}
