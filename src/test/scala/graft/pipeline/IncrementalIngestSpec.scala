package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{FailStateCommit, TestSpark}
import graft.io.Versioned
import graft.ops.Dedup

class IncrementalIngestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("two increments over persisted state == joint recompute over the grown corpus; every artifact stays current") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sfDir)
    val cut1 = 300L
    val cut2 = 400L
    val root = Files.createTempDirectory("graft-incr").toString + "/state"

    val p = IncrementalIngest.init(spark, docs.filter(col("doc_id") < cut1), root)
    val r1 = IncrementalIngest.ingest(spark,
      docs.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), root)
    val r2 = IncrementalIngest.ingest(spark, docs.filter(col("doc_id") >= cut2), root)
    assert(r1.labelVersion == 2L && r2.labelVersion == 3L)

    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    // the composed incremental labels equal a from-scratch joint run
    val joint = labelMap(Dedup.connectedComponents(
      Dedup.minhashNearDup(docs).select("id1", "id2")))
    val served = labelMap(Versioned.read(spark, p.labels))
    assert(served == joint,
      s"incremental state drifted from joint recompute (${served.size} vs ${joint.size} labels)")

    // df table == the grown corpus's own table (counts merged exactly)
    val dfServed = Versioned.read(spark, p.shingleDf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val dfJoint = Dedup.shingleDfTable(Dedup.shingleDF(docs))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(dfServed == dfJoint)

    // archive holds everything; its manifest covers every live file
    val archive = spark.read.parquet(p.archive)
    assert(archive.count() == docs.count())
    val manifest = spark.read.parquet(graft.ops.Manifest.manifestPath(p.archive))
    assert(manifest.count() == archive.inputFiles.length)
    assert(manifest.agg(sum("n_rows")).head().getLong(0) == docs.count())

    // the index serves the NEXT batch too: probing with a known near-dup
    // of an archived doc must surface the pair (index epoch composes)
    val labelHistory = Versioned.versions(spark, p.labels)
    assert(labelHistory == Seq(1L, 2L, 3L), "label table should keep its epochs")

    // epoched artifacts are DELTA-sized: v1 full, later epochs changelogs
    for (t <- Seq(p.labels, p.shingleDf); v <- Versioned.versions(spark, t))
      assert(Versioned.isDelta(spark, t, v) == (v > 1L),
        s"$t v=$v: expected ${if (v > 1) "delta" else "full"}")
    // and the delta rows are batch-sliver-sized, not table-sized: epoch 3's
    // shingle changelog carries only the last batch's vocabulary
    val lastDelta = spark.read.parquet(s"${p.shingleDf}/v=3").count()
    val fullVocab = dfJoint.size.toLong
    assert(lastDelta < fullVocab,
      s"shingle delta ($lastDelta rows) should be smaller than the vocabulary ($fullVocab)")
  }

  test("streaming attach behind the admission guard == batch ingest loop over the guard's survivors") {
    import spark.implicits._
    // the full capstone as a stream: at-least-once file source → Admission
    // guard (normalize ts, kill redelivery, drop straggler) → foreachBatch
    // ingest maintaining every persisted artifact. The batch reference
    // runs ingest() directly over what should have survived.
    def ts(h: Int, m: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    val archive = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "z y x w v u t s r q")).toDF("doc_id", "text")
    val b1 = Seq(
      (100L, "m n o p q r s t u v", ts(8)),
      (101L, "f g h i j k l m n o", ts(10))).toDF("doc_id", "text", "ts")
    val b2 = Seq(
      (100L, "m n o p q r s t u v", ts(9, 30)), // redelivery — guard kills
      (103L, "a b c d e f g h i j", ts(10, 30))).toDF("doc_id", "text", "ts")
    val b3 = Seq(
      (102L, "too late to matter x", ts(7, 30)), // straggler — guard drops
      (104L, "completely novel words here now", ts(11))).toDF("doc_id", "text", "ts")

    val root = Files.createTempDirectory("graft-incr-stream").toString
    val ps = IncrementalIngest.init(spark, archive, s"$root/state_stream")
    val guarded = graft.streaming.Admission.guard(
      IngestFixtures.replay(spark, s"$root/src", Seq(b1, b2, b3)),
      tsCol = "ts", delay = "2 hours", idCols = Seq("doc_id"))
    val q = IncrementalIngest.attach(guarded, ps.root).start()
    try q.processAllAvailable() finally q.stop()

    val pb = IncrementalIngest.init(spark, archive, s"$root/state_batch")
    IncrementalIngest.ingest(spark, b1.drop("ts"), pb.root)
    IncrementalIngest.ingest(spark, b2.filter(col("doc_id") === 103L).drop("ts"), pb.root)
    IncrementalIngest.ingest(spark, b3.filter(col("doc_id") === 104L).drop("ts"), pb.root)

    def labels(p: IncrementalIngest.StatePaths) = Versioned.read(spark, p.labels)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def dfTab(p: IncrementalIngest.StatePaths) = Versioned.read(spark, p.shingleDf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    def docIds(p: IncrementalIngest.StatePaths) = spark.read.parquet(p.archive)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    assert(labels(ps) == labels(pb))
    assert(labels(ps) == Map(1L -> 1L, 103L -> 1L), s"labels: ${labels(ps)}")
    assert(dfTab(ps) == dfTab(pb))
    assert(docIds(ps) == Set(1L, 2L, 100L, 101L, 103L, 104L), s"archive: ${docIds(ps)}")
    assert(docIds(ps) == docIds(pb))
  }

  test("crash-replayed micro-batch ids are skipped: applyBatch is idempotent per id") {
    import spark.implicits._
    // after a crash between the sink's fold and the stream checkpoint,
    // Spark re-runs the SAME batch id with the SAME rows — and the
    // admission guard's state has rolled back, so only the sink-side
    // applied-id record prevents double-folding (shingle counts are not
    // idempotent)
    val archive = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val b1 = Seq((100L, "m n o p q r s t u v")).toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-incr-replay").toString + "/state"
    val p = IncrementalIngest.init(spark, archive, root)
    def dfTab() = Versioned.read(spark, p.shingleDf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    def archiveCount() = spark.read.parquet(p.archive).count()

    IncrementalIngest.applyBatch(b1, root, batchId = 0)
    val after1 = (dfTab(), archiveCount(), Versioned.versions(spark, p.shingleDf))
    // replay of id 0: byte-identical state, no new epoch, no double counts
    IncrementalIngest.applyBatch(b1, root, batchId = 0)
    assert((dfTab(), archiveCount(), Versioned.versions(spark, p.shingleDf)) == after1)
    // a NEW id still folds
    IncrementalIngest.applyBatch(
      Seq((101L, "z y x w v u t s r q")).toDF("doc_id", "text"), root, batchId = 1)
    assert(archiveCount() == after1._2 + 1)
  }

  test("forget erases a doc set from every artifact == from-scratch rebuild over the survivors; idempotent") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sfDir)
    val root = Files.createTempDirectory("graft-forget").toString + "/state"
    val p = IncrementalIngest.init(spark, docs.filter(col("doc_id") < 350L), root)
    IncrementalIngest.ingest(spark, docs.filter(col("doc_id") >= 350L), root)

    // forget a CLUSTER REPRESENTATIVE (min id of a multi-member cluster —
    // survivors must relabel), a clustered non-rep, and an unknown id
    val labels0 = Versioned.read(spark, p.labels)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bigCluster = labels0.groupBy(_._2).maxBy(_._2.size)
    assert(bigCluster._2.size >= 2, "fixture should have a multi-member cluster")
    val rep = bigCluster._1
    val other = labels0.find { case (id, c) => c != rep }.map(_._1)
    import spark.implicits._
    val forgetIds = (Seq(rep, 999999999L) ++ other).toDF("doc_id")

    val res = IncrementalIngest.forget(spark, forgetIds, root)
    assert(res.forgotten == (1 + other.size).toLong, s"unexpected: $res")
    assert(res.filesRewritten > 0)

    val survivors = docs.join(forgetIds, Seq("doc_id"), "left_anti").localCheckpoint()

    // archive: exactly the survivors; manifest reconciled over live files
    val archive = spark.read.parquet(p.archive)
    assert(archive.select("doc_id").collect().map(_.getLong(0)).toSet ==
      survivors.select("doc_id").collect().map(_.getLong(0)).toSet)
    val manifest = spark.read.parquet(graft.ops.Manifest.manifestPath(p.archive))
    assert(manifest.count() == archive.inputFiles.length)
    assert(manifest.agg(sum("n_rows")).head().getLong(0) == survivors.count())

    // labels == a from-scratch CC over the surviving corpus (the
    // forgotten rep's cluster relabeled to its surviving min)
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val joint = labelMap(Dedup.connectedComponents(
      Dedup.minhashNearDup(survivors).select("id1", "id2")))
    assert(labelMap(Versioned.read(spark, p.labels)) == joint)

    // df table == the surviving corpus's own table
    val dfServed = Versioned.read(spark, p.shingleDf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val dfJoint = Dedup.shingleDfTable(Dedup.shingleDF(survivors))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(dfServed == dfJoint)

    // index: no band row references a forgotten doc; survivors' rows
    // equal a from-scratch capped index build (nothing crosses the cap
    // at fixture scale — the documented proviso)
    val idx = spark.read.parquet(p.index)
    assert(idx.join(forgetIds, Seq("doc_id"), "left_semi").isEmpty)
    val idxJoint = Dedup.lshBandIndexCapped(survivors,
      Dedup.shingleDfTable(Dedup.shingleDF(survivors)), Dedup.DefaultMaxDf)
    assert(idx.collect().map(_.toSeq).toSet == idxJoint.collect().map(_.toSeq).toSet)

    // idempotent: re-forgetting the same ids is a no-op
    val again = IncrementalIngest.forget(spark, forgetIds, root)
    assert(again.forgotten == 0L && again.relabeled == 0L)
    assert(labelMap(Versioned.read(spark, p.labels)) == joint)

    // and the state still ingests: a fresh batch folds cleanly on top
    val more = Seq((900L, "completely novel words after forgetting them all"))
      .toDF("doc_id", "text")
    IncrementalIngest.ingest(spark, more, root)
    assert(spark.read.parquet(p.archive).count() == survivors.count() + 1)
  }

  test("checkpointEvery folds the delta chain back to a full snapshot; reads unchanged") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sfDir).limit(200)
      .localCheckpoint()
    val root = Files.createTempDirectory("graft-incr-ckpt").toString + "/state"
    val p = IncrementalIngest.init(spark, docs.filter(col("doc_id") % 3 === 0), root)
    // checkpointEvery=1: every ingest lands a delta, then immediately
    // rematerializes — the chain never exceeds one changelog
    IncrementalIngest.ingest(spark, docs.filter(col("doc_id") % 3 === 1), root,
      checkpointEvery = 1)
    assert(Versioned.chainLength(spark, p.labels) == 0)
    assert(Versioned.chainLength(spark, p.shingleDf) == 0)
    IncrementalIngest.ingest(spark, docs.filter(col("doc_id") % 3 === 2), root,
      checkpointEvery = 1)
    // the checkpointed state still equals the joint recompute
    val joint = Dedup.shingleDfTable(Dedup.shingleDF(docs))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val served = Versioned.read(spark, p.shingleDf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(served == joint)
    // retention can now GC behind the checkpoint without orphaning reads
    Versioned.retain(spark, p.shingleDf, keep = 1)
    assert(Versioned.read(spark, p.shingleDf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap == joint)
  }

  test("a forget that crashed between deleting the rewritten files and moving the rewrite in is finished by its re-run") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sfDir)
    val root = Files.createTempDirectory("graft-forget-crash").toString + "/state"
    val p = IncrementalIngest.init(spark, docs.filter(col("doc_id") < 350L), root)
    IncrementalIngest.ingest(spark, docs.filter(col("doc_id") >= 350L), root)
    val forgetIds = docs.filter(col("doc_id") % 17 === 3).select("doc_id").localCheckpoint()
    IncrementalIngest.preMoveHook = () => throw new IllegalStateException("crash before the move")
    try intercept[IllegalStateException](IncrementalIngest.forget(spark, forgetIds, root))
    finally IncrementalIngest.preMoveHook = () => ()
    IncrementalIngest.forget(spark, forgetIds, root)

    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text").orderBy("doc_id").collect().map(_.toSeq).toSeq
    val archive = spark.read.parquet(p.archive)
    assert(sorted(archive) == sorted(docs.join(forgetIds, Seq("doc_id"), "left_anti")))
    val manifest = spark.read.parquet(graft.ops.Manifest.manifestPath(p.archive))
    def key(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath
    assert(manifest.select("file").collect().map(r => key(r.getString(0))).toSet ==
      archive.inputFiles.map(key).toSet)
    assert(manifest.agg(sum("n_rows")).head().getLong(0) == archive.count())
  }

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private val archive3 = docs((1L, "a b c d e f g h i j"), (3L, "z y x w v u t s r q"))
  private val batch3a = docs((100L, "a b c d e f g h i j"), (102L, "m n o p q r s t u v"))
  private val batch3b = docs((200L, "a b c d e f g h i j"), (201L, "m n o p q r s t u v"))

  private def served(root: String) = IngestFixtures.served(spark, root)

  test("a failed shingle-df write leaves every served artifact; the replayed batch id folds as if it never failed") {
    val root = Files.createTempDirectory("graft-incr-fault").toString
    val clean = s"$root/clean"
    IncrementalIngest.init(spark, archive3, clean)
    IncrementalIngest.applyBatch(batch3a, clean, batchId = 0)
    IncrementalIngest.applyBatch(batch3b, clean, batchId = 1)

    val state = s"$root/state"
    IncrementalIngest.init(spark, archive3, state)
    IncrementalIngest.applyBatch(batch3a, state, batchId = 0)
    val before = served(state)
    FailStateCommit.during(spark, "shingle_df") {
      intercept[Exception](IncrementalIngest.applyBatch(batch3b, state, batchId = 1))
    }
    assert(served(state) == before)
    IncrementalIngest.applyBatch(batch3b, state, batchId = 1)
    assert(served(state) == served(clean))
  }

  test("a forget whose index rewrite fails leaves the pre-forget index serving; the next ingest runs") {
    val root = Files.createTempDirectory("graft-forget-index").toString + "/state"
    val p = IncrementalIngest.init(spark, archive3, root)
    IncrementalIngest.ingest(spark, batch3a, root)
    def index() = spark.read.parquet(p.index).collect().map(_.toSeq).toSet
    val before = index()
    FailStateCommit.during(spark, "index", "index.refresh-staging") {
      intercept[Exception](IncrementalIngest.forget(spark, docs((100L, "")), root))
    }
    assert(index() == before)
    IncrementalIngest.ingest(spark, batch3b, root)
    assert(spark.read.parquet(p.archive).count() == 6)
    assert(index().map(_.head) == Set[Any](1L, 3L, 100L, 102L, 200L, 201L))
  }
}
