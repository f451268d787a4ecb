package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.model.Tables

/** Event-time ADMISSION GUARD for streaming ingest — the stage between an
  * at-least-once source and a non-idempotent foreachBatch fold
  * ([[StreamingStats]]/the IncrementalIngest and VectorIndex
  * attaches): WITHIN a run it deduplicates source
  * redeliveries by identity and bounds how far behind the event-time
  * frontier a row may arrive (reference has no streaming; this extends
  * the §2.10 north-star family).
  *
  * What the guard does NOT cover: crash-replay of a committed
  * micro-batch. On recovery Spark replays the last un-committed batch
  * and this guard's own dedup state rolls back with the checkpoint, so
  * the replayed rows pass it again — sink-side applied-batch-id records
  * close that window ([[graft.pipeline.IncrementalIngest.applyBatch]] /
  * [[graft.ops.VectorIndex.applyBatch]]).
  *
  * Composition (each piece does one documented Spark thing):
  *   1. [[Tables.normalizeEventTime]] — conform the event-time column to
  *      `TimestampType` whatever the producer encoding (ns-long / NTZ /
  *      LTZ); `withWatermark` rejects anything else.
  *   2. `withWatermark(tsCol, delay)` — declare the frontier.
  *   3. `dropDuplicates(idCols :+ tsCol)` — the straggler drop. With the
  *      event-time column in the subset, streaming dedup filters input
  *      rows older than the watermark. This stage runs FIRST so its late
  *      filter reads the global watermark directly rather than a
  *      propagated (possibly delay-shifted) one. Note the filter is
  *      one-batch-delayed by design (SPARK-40925): batch N drops rows
  *      older than the watermark that was in effect during batch N-1, so
  *      a row that was on time when the source admitted it is never
  *      retroactively dropped by the watermark its own batch advances.
  *      As a pure-dedup side effect it also kills byte-identical
  *      (id, ts) redeliveries.
  *   4. `dropDuplicatesWithinWatermark(idCols)` — kill redeliveries by
  *      identity inside the watermark EVEN when the redelivery carries a
  *      shifted timestamp (the at-least-once norm). This operator does
  *      not filter stragglers — that's step 3's job; its state expires
  *      `delay` after each identity's first-seen event time.
  *
  * Steps 3+4 are chained stateful operators — supported in append mode
  * (the only mode a foreachBatch ingest runs in). State for both is
  * bounded by the watermark.
  *
  * Scale shape: both dedup states are keyed hash state (id cols ± ts),
  * size ∝ distinct identities per watermark window, evicted as the
  * frontier advances — never corpus-sized. The guard runs map-side before
  * any shuffle the downstream fold performs.
  */
object Admission {

  /** Guard `stream` for ingest: normalize `tsCol`, watermark by `delay`,
    * drop redeliveries by `idCols` identity, drop stragglers older than
    * the watermark. Emits rows unchanged (append semantics). */
  def guard(stream: DataFrame, tsCol: String, delay: String,
            idCols: Seq[String]): DataFrame = {
    require(idCols.nonEmpty, "admission guard needs at least one identity column")
    Tables.normalizeEventTime(stream, tsCol)
      .withWatermark(tsCol, delay)
      .dropDuplicates(idCols :+ tsCol)
      .dropDuplicatesWithinWatermark(idCols)
  }

  /** Metric names [[guardObserved]] registers (readable from each
    * micro-batch's `StreamingQueryProgress.observedMetrics`). */
  val InMetric = "admission_in"
  val OutMetric = "admission_out"

  /** [[guard]] with OBSERVABILITY: CollectMetrics nodes before and after
    * the guard count `rows_in` / `rows_out` per micro-batch, so the
    * guard's drop rate — silently absorbed otherwise — becomes a
    * monitorable signal (`rows_in - rows_out` = redeliveries + stragglers
    * killed that batch). A production funnel dashboard alarms on a drop
    * spike (a stuck producer replaying history) and on a sustained ZERO
    * (the guard wired to the wrong id columns — nothing ever dedups).
    * `observe` is a metrics tap, not a transform: the emitted rows are
    * bit-identical to [[guard]]'s (spec-pinned), and the counts ride the
    * existing micro-batch execution — no extra pass over the stream.
    * Works on batch frames too (Spark's Observation API). */
  def guardObserved(stream: DataFrame, tsCol: String, delay: String,
                    idCols: Seq[String]): DataFrame = {
    require(idCols.nonEmpty, "admission guard needs at least one identity column")
    import org.apache.spark.sql.functions.{count, lit}
    Tables.normalizeEventTime(stream, tsCol)
      .observe(InMetric, count(lit(1)).as("rows_in"))
      .withWatermark(tsCol, delay)
      .dropDuplicates(idCols :+ tsCol)
      .dropDuplicatesWithinWatermark(idCols)
      .observe(OutMetric, count(lit(1)).as("rows_out"))
  }
}
