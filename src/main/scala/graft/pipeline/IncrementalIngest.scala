package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.{Sinks, Versioned}
import graft.ops.{Dedup, Manifest, StagedSwap}

/** The INCREMENTAL corpus-maintenance cycle, end to end — the composed
  * form of the engine's daily-increment story: a new document batch
  * arrives, and every persisted artifact updates with work proportional
  * to the BATCH, never the archive.
  *
  * The engine's one incremental near-dup store: batches fold through
  * [[ingest]], streams through [[attach]]/[[applyBatch]], erasure
  * through [[forget]].
  *
  * Persisted state under one root:
  *  - `archive/`     the documents themselves (append-only parquet) with
  *                   a [[graft.ops.Manifest]] stats manifest maintained
  *                   incrementally (`appendManifest` — stats ∝ new files);
  *  - `index/`       the LSH band index (append-only: a batch's bands
  *                   land as new files — ~16 rows/doc of metadata; each
  *                   file's rows were df-capped with the table epoch
  *                   current at its build, see the epoch note below;
  *                   [[forget]] swaps in a rewrite via [[StagedSwap]]);
  *  - `shingle_df/`  the shingle document-frequency table, epoched via
  *                   [[graft.io.Versioned]] DELTA versions: each batch
  *                   commits only the shingles it touched (rows ∝ batch
  *                   vocabulary, not corpus vocabulary — counts merge by
  *                   addition and land as upserts);
  *  - `labels/`      cluster labels, epoched via [[graft.io.Versioned]]
  *                   delta versions ([[Dedup.updateClustersDelta]] — rows
  *                   ∝ touched components + batch; time travel =
  *                   "what did dedup say last week", and
  *                   [[graft.io.Versioned.diff]] shows cluster moves).
  *
  * Both epoched artifacts checkpoint back to a full snapshot every
  * `checkpointEvery` deltas, bounding read-side chain resolution and
  * giving [[graft.io.Versioned.retain]] its GC boundary.
  *
  * Per [[ingest]] batch: shingle + sign the batch only; probe the
  * persisted index for candidates; verify exact Jaccard on the batch +
  * candidate-sliver of the archive; fold the new pairs into the label
  * table by representative contraction ([[Dedup.updateClusters]] — CC
  * runs on the contracted batch-sized graph); append the batch's bands
  * to the index and its rows to the archive; merge its df contribution
  * into the table.
  *
  * Epoch note (the [[Dedup.shingleDfTable]] contract): the batch caps
  * against the table WITH its own contribution merged (the new epoch);
  * already-persisted index files keep the cap decisions of their build
  * epoch. When no shingle crosses `maxDf` between epochs the composed
  * labels equal a joint [[Dedup.minhashNearDup]]+CC recompute over the
  * grown corpus bit-for-bit (IncrementalIngestSpec pins this); when one
  * does, the output stays self-consistent — the documented trade. */
object IncrementalIngest {

  final case class StatePaths(root: String) {
    val archive: String = s"$root/archive"
    val index: String = s"$root/index"
    val shingleDf: String = s"$root/shingle_df"
    val labels: String = s"$root/labels"
  }

  /** Bootstrap the state from an initial corpus. */
  def init(spark: SparkSession, docs: DataFrame, root: String,
           maxDf: Long = Dedup.DefaultMaxDf): StatePaths = {
    val p = StatePaths(root)
    val dfTable = Dedup.shingleDfTable(Dedup.shingleDF(docs)).localCheckpoint()
    Versioned.write(dfTable, p.shingleDf)
    Sinks.parquet(Dedup.lshBandIndexCapped(docs, dfTable, maxDf), p.index)
    val pairs = Dedup.minhashNearDup(docs, maxDf = Some(maxDf))
    Versioned.write(Dedup.connectedComponents(pairs.select("id1", "id2")), p.labels)
    Sinks.parquet(docs, p.archive)
    Manifest.writeManifest(spark, p.archive, Seq("doc_id"))
    p
  }

  /** Outcome of one increment: the new pair count and label epoch. */
  final case class IngestResult(newPairs: Long, labelVersion: Long)

  /** Fold one arriving batch into the persisted state. Caller contract:
    * batch doc_ids are disjoint from the archive's (the
    * [[Dedup.incrementalNearDup]] contract).
    *
    * The epoched artifacts commit as DELTA versions — rows written ∝
    * batch, not table — then checkpoint back to a full snapshot once the
    * chain reaches `checkpointEvery` (so reads fold at most that many
    * changelogs and retention can GC).
    *
    * Both deltas derive from frames materialized before either commits,
    * and the df delta commits first: a failed df write leaves every
    * served artifact as it was, so a replay of the batch folds as if it
    * never ran. A failure after the df commit is not covered — a replay
    * merges the batch's df contribution again. */
  def ingest(spark: SparkSession, batch: DataFrame, root: String,
             maxDf: Long = Dedup.DefaultMaxDf,
             checkpointEvery: Int = 16): IngestResult = {
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    val p = StatePaths(root)
    val archive = spark.read.parquet(p.archive)
    StagedSwap.recover(spark, p.index, IndexMarkers) // a crashed forget's index swap
    val index = spark.read.parquet(p.index)
    val dfTable = Versioned.read(spark, p.shingleDf)
    // resolve the label chain ONCE: with delta epochs this read folds up
    // to checkpointEvery changelogs, and updateClustersDelta references
    // the table three times — without materialization each reference
    // would re-execute the whole fold
    val labels = Versioned.read(spark, p.labels).localCheckpoint()
    // new epoch FIRST: the batch's own df contribution merges in, so the
    // batch caps against the table that already counts it
    val batchDf = Dedup.shingleDfTable(Dedup.shingleDF(batch))
    val merged = Dedup.mergeShingleDf(Seq(dfTable, batchDf)).localCheckpoint()
    val pairs = Dedup
      .incrementalNearDupCapped(batch, archive, index, merged, maxDf)
      .select("id1", "id2").localCheckpoint()
    // delta commits: only the rows this batch changed. Counts only grow
    // and labels only move/appear, so both changelogs are upsert-only.
    Versioned.writeDelta(
      asUpserts(merged.join(batchDf.select("shingle"), Seq("shingle"), "left_semi")),
      p.shingleDf, keys = Seq("shingle"))
    val labelVersion = Versioned.writeDelta(
      asUpserts(Dedup.updateClustersDelta(labels, pairs)),
      p.labels, keys = Seq("doc_id"))
    // append-only artifacts: batch bands + batch docs land as new files
    Sinks.parquet(Dedup.lshBandIndexCapped(batch, merged, maxDf),
      p.index, mode = "append")
    Sinks.parquet(batch, p.archive, mode = "append")
    Manifest.appendManifest(spark, p.archive, Seq("doc_id"))
    Seq(p.labels, p.shingleDf).foreach { t =>
      if (Versioned.chainLength(spark, t) >= checkpointEvery)
        Versioned.checkpoint(spark, t)
    }
    IngestResult(pairs.count(), labelVersion)
  }

  private val IndexMarkers = Seq("_SUCCESS")

  private def asUpserts(changed: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    changed.withColumn("op", lit("upsert")).withColumn("seq", lit(1L))
  }

  /** Outcome of a [[forget]]: docs actually erased, archive files
    * rewritten (vs left untouched), and survivors relabeled. */
  final case class ForgetResult(forgotten: Long, filesRewritten: Int,
                                relabeled: Long)

  /** Right-to-be-forgotten over the persisted state: erase `forgetIds`
    * (column `doc_id`) from every artifact with work proportional to
    * the FORGOTTEN SLICE, never the archive:
    *
    *  - `archive/`: only the FILES whose manifest envelope can contain
    *    a forgotten id are rewritten (write-new → verify → delete-old →
    *    move-new, see [[finishArchiveSwap]] — a crash leaves the
    *    originals or the verified rewrite, never lost rows, and the
    *    next forget completes or discards it first); every other file is
    *    untouched. [[Manifest.appendManifest]] then reconciles the stats
    *    rows (drops vanished files, stats the new ones).
    *  - `shingle_df/`: the forgotten docs' shingle contributions
    *    subtract as a DELTA version — decremented shingles upsert,
    *    zeroed shingles delete (the [[graft.ops.Merge.retractStats]]
    *    retraction discipline applied to the vocabulary table).
    *  - `labels/`: erasing a doc can split its cluster (the doc may
    *    have been the only bridge) or retire its representative, so the
    *    AFFECTED CLUSTERS' surviving members are re-paired and re-run
    *    through CC — a cluster-sliver recompute, exact because near-dup
    *    pairs never cross component boundaries. Lands as a delta:
    *    deletes for the forgotten, upserts/deletes for survivors whose
    *    label changed or vanished.
    *  - `index/`: the forgotten docs' band rows are filtered out, and
    *    the rewrite is swapped in through [[StagedSwap]] — a failed
    *    rewrite leaves the pre-forget index serving. The index is ~16
    *    rows of fixed-width metadata per doc; at archive scale this
    *    rewrite would shard by band-file with its own stats manifest —
    *    the documented next step, not a semantic change.
    *
    * Unknown ids are ignored (erasure is idempotent — re-running with
    * the same ids is a no-op), matching how erasure requests arrive in
    * practice. Parity with a from-scratch [[init]] over the surviving
    * corpus is pinned in IncrementalIngestSpec under the same
    * no-shingle-crosses-the-cap proviso as [[ingest]]. */
  def forget(spark: SparkSession, forgetIds: DataFrame, root: String,
             maxDf: Long = Dedup.DefaultMaxDf): ForgetResult = {
    import org.apache.spark.sql.functions._
    val p = StatePaths(root)
    finishArchiveSwap(spark, p) // a crashed earlier forget's archive swap
    val gone = forgetIds.select("doc_id").distinct().localCheckpoint()
    val archive = spark.read.parquet(p.archive)
    val goneDocs = archive.join(gone, Seq("doc_id"), "left_semi").localCheckpoint()
    val nGone = goneDocs.count()

    // 1. vocabulary table: subtract the forgotten docs' df contribution
    val dfTable = Versioned.read(spark, p.shingleDf)
    val goneDf = Dedup.shingleDfTable(Dedup.shingleDF(goneDocs))
      .withColumnRenamed("df", "__gone_df")
    val dfChanges = dfTable.join(goneDf, Seq("shingle"), "inner")
      .select(col("shingle"), (col("df") - col("__gone_df")).as("df"))
      .withColumn("op", when(col("df") <= 0, lit("delete")).otherwise(lit("upsert")))
      .withColumn("seq", lit(1L))
    if (!dfChanges.isEmpty)
      Versioned.writeDelta(dfChanges, p.shingleDf, keys = Seq("shingle"))
    val newDfTable = Versioned.read(spark, p.shingleDf).localCheckpoint()

    // 2. labels: cluster-sliver recompute of the affected components
    val labels = Versioned.read(spark, p.labels).localCheckpoint()
    val affected = labels.join(gone, Seq("doc_id"), "left_semi")
      .select("cluster").distinct()
    val memberLabels = labels.join(affected, Seq("cluster"), "left_semi")
      .localCheckpoint()
    val survivors = memberLabels.join(gone, Seq("doc_id"), "left_anti")
    val survivorDocs = archive.join(survivors.select("doc_id"), Seq("doc_id"), "left_semi")
    // re-pair the sliver with the POST-forget cap epoch (the same table
    // a from-scratch rebuild over the surviving corpus would cap with)
    val capped = Dedup.capWithDfTable(
      Dedup.shingleDF(survivorDocs), newDfTable, maxDf).localCheckpoint()
    val pairs = Dedup.minhashNearDupFromBands(capped,
      Dedup.lshBands(Dedup.minhashSignatures(capped, 64), 16, 4))
      .select("id1", "id2")
    val newLabels = Dedup.connectedComponents(pairs).localCheckpoint()
    val goneDeletes = labels.join(gone, Seq("doc_id"), "left_semi")
      .select("doc_id", "cluster")
      .withColumn("op", lit("delete"))
    val relabeled = survivors.alias("s")
      .join(newLabels.withColumnRenamed("cluster", "__nc"), Seq("doc_id"), "left")
      .withColumn("op", when(col("__nc").isNull, lit("delete")) // now unpaired
        .otherwise(lit("upsert")))
      .filter(col("op") === "delete" || col("__nc") =!= col("cluster"))
      .select(col("doc_id"), coalesce(col("__nc"), col("cluster")).as("cluster"), col("op"))
    val labelChanges = goneDeletes.unionByName(relabeled).withColumn("seq", lit(1L))
      .localCheckpoint()
    val nRelabeled = labelChanges.filter(col("op") === "upsert").count()
    if (!labelChanges.isEmpty)
      Versioned.writeDelta(labelChanges, p.labels, keys = Seq("doc_id"))

    // 3. index: drop the forgotten docs' band rows. The rewrite builds
    // in staging (read live, write elsewhere: no read-own-output cycle)
    // and swaps in whole; the swap first heals a crashed earlier one
    StagedSwap.swap(spark, p.index, IndexMarkers) { staging =>
      Sinks.parquet(
        spark.read.parquet(p.index).join(gone, Seq("doc_id"), "left_anti"), staging)
    }

    // 4. archive: rewrite ONLY the files whose stats envelope admits a
    // forgotten id (manifest pruning, the prunedScan planning pattern)
    val manifest = Manifest.read(spark, p.archive)
    val touched = manifest.alias("m").join(gone,
        gone("doc_id") >= col("doc_id_min") && gone("doc_id") <= col("doc_id_max"),
        "left_semi")
      .select("file").distinct()
      .collect().map(_.getString(0)) // metadata scale: one string per touched file
    val filesRewritten = touched.length
    if (filesRewritten > 0) {
      val fs = new Path(p.archive).getFileSystem(spark.sessionState.newHadoopConf())
      val tmp = forgetTmp(p)
      val touchedDf = spark.read.parquet(touched.toIndexedSeq: _*)
      val expect = touchedDf.count() - nGone
      val kept = touchedDf.join(gone, Seq("doc_id"), "left_anti")
      kept.write.parquet(tmp.toString)
      val rewritten = spark.read.parquet(tmp.toString).count()
      require(rewritten == expect,
        s"forget: rewrite has $rewritten rows, expected $expect — " +
          s"aborting with the archive intact (tmp left at $tmp)")
      val out = fs.create(new Path(tmp, ReplacesMarker), false)
      try out.write(touched.mkString("\n").getBytes("UTF-8")) finally out.close()
      finishArchiveSwap(spark, p)
    }
    ForgetResult(nGone, filesRewritten, nRelabeled)
  }

  private def forgetTmp(p: StatePaths) = new Path(p.archive + ".__forget_tmp")

  /** Lands in [[forgetTmp]] once its rewrite is verified: the archive
    * files it replaces, one per line. */
  private val ReplacesMarker = "_REPLACES"

  /** Test seam: runs between deleting the replaced files and moving the
    * rewrite in. Production value is a no-op. */
  private[pipeline] var preMoveHook: () => Unit = () => ()

  /** [[forget]]'s archive swap, and its crash recovery: a verified
    * rewrite (its [[ReplacesMarker]] landed) replaces the files it lists
    * and the manifest is reconciled; an unverified one is discarded, its
    * originals untouched. Idempotent, so the next call finishes a crash
    * anywhere in it. */
  private def finishArchiveSwap(spark: SparkSession, p: StatePaths): Unit = {
    val archive = new Path(p.archive)
    val fs = archive.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = forgetTmp(p)
    val marker = new Path(tmp, ReplacesMarker)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val replaced =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList finally in.close()
      replaced.foreach(f => fs.delete(new Path(f), false))
      preMoveHook()
      fs.listStatus(tmp).map(_.getPath).filter(_.getName.endsWith(".parquet")).foreach { f =>
        require(fs.rename(f, new Path(archive, s"forget-${f.getName}")),
          s"forget: rename $f into $archive failed")
      }
      fs.delete(tmp, true)
      Manifest.appendManifest(spark, p.archive, Seq("doc_id"))
    } else if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Streaming form of the cycle: a foreachBatch sink folding every
    * micro-batch (columns doc_id, text) into the persisted state via
    * [[applyBatch]]. Pair with [[graft.streaming.Admission.guard]]
    * upstream when the source is at-least-once — [[ingest]]'s
    * disjoint-doc_id contract is exactly what the guard's redelivery
    * kill restores (IncrementalIngestSpec pins replay == batch loop
    * through it). */
  def attach(stream: DataFrame, root: String,
             maxDf: Long = Dedup.DefaultMaxDf,
             checkpointEvery: Int = 16):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    // StreamGuard-admitted, like every attach funnel
    graft.streaming.StreamGuard.admit(stream).writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(batch, root, id, maxDf, checkpointEvery)
      }

  /** The foreachBatch body, with CRASH-REPLAY protection the in-stream
    * guard cannot provide: on recovery Spark replays the last
    * un-committed micro-batch, and the admission guard's own dedup state
    * rolls back with the checkpoint — so the replayed rows pass it
    * again. Applied batch ids are therefore recorded as `_applied/`
    * markers in the state root AFTER a successful fold, and a marked id
    * is skipped. The marker is not atomic with the multi-artifact fold,
    * so a crash BETWEEN fold and marker still re-applies (at-least-once
    * narrowed to that window — the standard foreachBatch idempotence
    * trade; full exactness would need every artifact behind one
    * transactional commit). Empty micro-batches (e.g. a guard that
    * dropped everything) are skipped rather than burning an epoch. */
  def applyBatch(batch: DataFrame, root: String, batchId: Long,
                 maxDf: Long = Dedup.DefaultMaxDf,
                 checkpointEvery: Int = 16): Unit =
    graft.streaming.Replay.runOnce(batch.sparkSession, root, batchId) {
      val docs = batch.select("doc_id", "text")
      if (!docs.isEmpty) {
        ingest(batch.sparkSession, docs, root, maxDf, checkpointEvery); ()
      }
    }
}
