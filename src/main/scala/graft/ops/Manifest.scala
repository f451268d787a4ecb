package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file min/max statistics manifest + data-skipping scan — the
  * lakehouse table-format idea (Delta/Iceberg manifests) re-expressed
  * with plain parquet: after a clustered write
  * ([[graft.io.Sinks.parquetRangeClustered]] / [[Layout.zOrderWrite]]
  * make per-file ranges tight), a manifest of one stats row per file
  * lets any interval query list only the files whose [min,max] envelope
  * intersects the predicate — the scan cost becomes proportional to the
  * SELECTED slice, not the table.
  *
  * Scale shape at 100 TB:
  *  - building the manifest is ONE distributed aggregation grouped by
  *    `input_file_name()` — no driver involvement beyond the write;
  *  - the manifest itself is metadata-scale: ~800k rows for 100 TB of
  *    128 MB files, a few MB of parquet;
  *  - the pruned scan collects only the SURVIVING FILE LIST to the
  *    driver — the same driver-resident structure Spark's own
  *    InMemoryFileIndex (and every Delta/Iceberg planner) already
  *    maintains for any scan; row data never moves to the driver;
  *  - parquet footer min/max pruning still applies WITHIN each
  *    surviving file, so this composes with (not replaces) row-group
  *    skipping.
  */
object Manifest {

  /** Manifest location convention: next to the data, like the
    * shingle-df table sits next to the LSH index. */
  def manifestPath(dataPath: String): String = dataPath + ".__manifest"

  private val SwapMarkers = Seq("_SUCCESS")

  /** The persisted manifest of `dataPath`, after healing an
    * [[appendManifest]] swap that crashed between its two renames. */
  def read(spark: SparkSession, dataPath: String): DataFrame = {
    StagedSwap.recover(spark, manifestPath(dataPath), SwapMarkers)
    spark.read.parquet(manifestPath(dataPath))
  }

  /** One stats row per physical file of `path`: (file, n_rows,
    * <c>_min, <c>_max for each tracked column). Nulls are ignored by
    * min/max — an all-null file keeps null stats and is conservatively
    * NEVER pruned by [[prunedScan]] (null-safe comparisons there). */
  def buildManifest(spark: SparkSession, path: String,
                    cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "buildManifest needs at least one column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Build and persist the manifest at [[manifestPath]]. One file: the
    * manifest is metadata-scale regardless of data scale. */
  def writeManifest(spark: SparkSession, dataPath: String,
                    cols: Seq[String]): Unit =
    buildManifest(spark, dataPath, cols)
      .coalesce(1).write.mode("overwrite").parquet(manifestPath(dataPath))

  /** Incremental manifest maintenance: stat ONLY the files the persisted
    * manifest has never seen (a just-appended batch), union with the
    * still-live known rows, and rewrite — work ∝ new files, never the
    * table (the df-table/label-table discipline applied to file stats).
    * Entries for files that vanished (compaction without refresh,
    * retention deletes) are dropped in the same pass. Equals a full
    * [[writeManifest]] recompute row-for-row (pinned in ManifestSpec).
    * Swapped in through [[StagedSwap]]: the next [[read]] heals a crash. */
  def appendManifest(spark: SparkSession, dataPath: String,
                     cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "appendManifest needs at least one column")
    val old = read(spark, dataPath).localCheckpoint()
    val live = liveFiles(spark, dataPath)
    val known = old.select("file").collect().map(_.getString(0)).map(key).toSet
    val fresh = live.filterNot(f => known.contains(key(f)))
    // still-live known rows via a semi-join on the normalized path — an
    // 800k-literal isin() expression would blow up codegen at real file
    // counts; a join on the metadata-scale listing frame stays flat
    import spark.implicits._
    val liveDf = live.map(key).toDF("__live_key")
    val kept = old.withColumn("__k", udfFreeKey(old("file")))
      .join(liveDf, col("__k") === col("__live_key"), "left_semi")
      .drop("__k")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    val merged =
      if (fresh.isEmpty) kept
      else kept.unionByName(
        spark.read.parquet(fresh: _*)
          .groupBy(input_file_name().as("file"))
          .agg(count(lit(1)).as("n_rows"), aggs: _*))
    StagedSwap.swap(spark, manifestPath(dataPath), SwapMarkers)(
      merged.coalesce(1).write.parquet(_))
  }

  /** [[udfFreeKey]] of one file name. */
  private def key(s: String): String = new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** Every live `.parquet` file under `dataPath` (recursive FS listing). */
  private def liveFiles(spark: SparkSession, dataPath: String): List[String] = {
    val p = new org.apache.hadoop.fs.Path(dataPath)
    val it = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
    val buf = scala.collection.mutable.ListBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) buf += f.toString
    }
    buf.toList
  }

  /** Scheme-stripped URI path of a file column — `input_file_name()`
    * yields `file:///...` while FS listings yield `file:/...`; both
    * normalize to the bare path. Pure Catalyst (no UDF). */
  private def udfFreeKey(fileCol: org.apache.spark.sql.Column) =
    regexp_replace(fileCol, "^[a-zA-Z0-9]+:/+", "/")

  /** Rebuild an existing manifest after the underlying files changed
    * (compaction, re-clustering): the tracked columns are recovered
    * from the persisted manifest's own schema (`<c>_min` stat columns),
    * so callers that rewrite data need no column bookkeeping. No-op
    * when no manifest exists. [[graft.io.Sinks.compactParquet]] calls
    * this after its swap, when every live file is new to the manifest.
    * Rebuilt through [[appendManifest]], so a failed refresh leaves the
    * old manifest serving (stale entries cost [[prunedScan]] pruning
    * power, never rows). */
  def refreshIfPresent(spark: SparkSession, dataPath: String): Unit = {
    val mp = new org.apache.hadoop.fs.Path(manifestPath(dataPath))
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(mp)) {
      val cols = read(spark, dataPath).columns.toSeq
        .filter(_.endsWith("_min")).map(_.stripSuffix("_min"))
      appendManifest(spark, dataPath, cols)
    }
  }

  /** Closed-interval scan over `dataPath` reading ONLY files whose
    * manifest envelope intersects every `(column, lo, hi)` range; the
    * row-level predicate is re-applied (the manifest prunes, it does
    * not filter). Two conservative rules make staleness safe in BOTH
    * directions: null file stats fail no interval check (a file without
    * signal is read, never wrongly skipped), and the surviving list is
    * reconciled against the LIVE directory listing — files the manifest
    * has never seen (appended since [[writeManifest]]) are always read,
    * and manifest entries for files that no longer exist are dropped.
    * So a stale manifest can only cost pruning power, never rows.
    * Equals the full scan + filter bit-for-bit (pinned in ManifestSpec,
    * including the append-after-manifest case). */
  def prunedScan(spark: SparkSession, dataPath: String,
                 ranges: Seq[(String, Double, Double)],
                 manifest: Option[DataFrame] = None): DataFrame = {
    require(ranges.nonEmpty, "prunedScan needs at least one range")
    val m = manifest.getOrElse(read(spark, dataPath))
    val keep = ranges.foldLeft(m) { case (acc, (c, lo, hi)) =>
      // keep when the envelope intersects [lo,hi] OR stats are null
      acc.filter(
        col(s"${c}_min").isNull || col(s"${c}_max").isNull ||
          (col(s"${c}_max").cast("double") >= lo &&
            col(s"${c}_min").cast("double") <= hi))
    }
    // driver file LISTS — metadata-scale (one string per file), the
    // exact structure Spark's FileIndex holds for every scan; this is
    // planning, not a data funnel (registered in PlanSpec's audit)
    val surviving = keep.select("file").collect().map(_.getString(0)).map(key).toSet
    val known = m.select("file").collect().map(_.getString(0)).map(key).toSet
    val files = liveFiles(spark, dataPath)
      .filter(f => surviving.contains(key(f)) || !known.contains(key(f)))
    val pred = ranges
      .map { case (c, lo, hi) => col(c).cast("double").between(lo, hi) }
      .reduce(_ && _)
    if (files.isEmpty)
      // schema-preserving empty frame: the envelope excluded every file
      spark.read.parquet(dataPath).filter(lit(false))
    else spark.read.parquet(files: _*).filter(pred)
  }
}
