package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Crash-replay protection shared by every foreachBatch state sink
  * ([[StreamingStats]]/[[graft.pipeline.IncrementalIngest]]/
  * [[graft.ops.VectorIndex]]/[[graft.ops.Scd]]):
  * on recovery Spark re-runs the last un-committed micro-batch, and an
  * epoch-append fold is not idempotent — so applied batch ids are
  * recorded as `_applied/batch=N` markers in the state root and a marked
  * id is skipped.
  *
  * Contracts and bounds:
  *  - the marker lands AFTER the fold and is not atomic with it, so a
  *    crash in between still re-applies that one batch (the standard
  *    foreachBatch idempotence trade; full exactness would need every
  *    artifact behind one transactional commit);
  *  - markers are garbage-collected [[MarkerWindow]] batches behind the
  *    current id (constant work per fold, so the marker dir stays
  *    bounded on a long-running stream). Spark only ever replays the
  *    LAST un-committed batch, so a four-digit window is already
  *    overwhelmingly conservative;
  *  - underscore-prefixed dirs are invisible to parquet readers, and
  *    every sink that keeps epochs discovers them as
  *    [[graft.io.Versioned]] `v=N` version dirs — `_applied` never
  *    aliases state. */
object Replay {

  /** Markers older than this many batches behind the current id are
    * dropped. */
  val MarkerWindow = 1000L

  /** Run `body` exactly once per (stateRoot, batchId): skipped when the
    * id's marker exists, marked after `body` succeeds. */
  def runOnce(spark: SparkSession, stateRoot: String, batchId: Long)(
      body: => Unit): Unit = {
    val marker = new Path(s"$stateRoot/_applied/batch=$batchId")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(marker)) {
      body
      fs.mkdirs(marker)
      if (batchId >= MarkerWindow) {
        val old = new Path(s"$stateRoot/_applied/batch=${batchId - MarkerWindow}")
        if (fs.exists(old)) fs.delete(old, false)
      }
    }
  }
}
