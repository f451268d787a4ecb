package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.io.Versioned
import graft.model.Tables
import graft.ops.Dedup
import graft.pipeline.{IncrementalIngest, IngestFixtures}

/** §2.10 stateful streaming dedup: dropDuplicatesWithinWatermark removes
  * replayed events (same event_id redelivered inside the watermark) with
  * bounded state — the streaming counterpart of exact dedup — and the
  * [[Admission]] guard built on it accounts for every drop. The
  * streaming near-dup fold is [[graft.pipeline.IncrementalIngest]]'s
  * foreachBatch sink, driven here through real file streams. */
class StreamDedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def labels(p: IncrementalIngest.StatePaths) = Versioned.read(spark, p.labels)
    .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
  private def dfTab(p: IncrementalIngest.StatePaths) = Versioned.read(spark, p.shingleDf)
    .collect().map(r => (r.getString(0), r.getLong(1))).toMap
  private def indexedIds(p: IncrementalIngest.StatePaths) = spark.read.parquet(p.index)
    .select("doc_id").distinct().collect().map(_.getLong(0)).toSet

  test("dropDuplicatesWithinWatermark removes replayed events in a real stream") {
    val events = Tables.events(spark, TestSpark.sfDir)
      .filter(col("user_id").isNotNull).limit(200)
    val dir = Files.createTempDirectory("graft-stream-dedup").toString
    // write the batch twice → every event is delivered twice
    events.write.mode("overwrite").parquet(s"$dir/a")
    events.write.parquet(s"$dir/b")
    spark.read.parquet(s"$dir/b").write.mode("append").parquet(s"$dir/a")

    val distinctIds = events.select("event_id").distinct().count()
    val streamed = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/a")
      .withWatermark("ts", "90 days") // corpus spans ~30 days → all dups in window
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy().count()
    val q = streamed.writeStream.format("memory")
      .queryName("dedup_counts").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val total = spark.table("dedup_counts").collect()(0).getLong(0)
    assert(total == distinctIds, s"expected $distinctIds deduped events, got $total")
  }

  test("streaming ingest == batch loop: foreachBatch incremental near-dup over a replayed corpus") {
    // the archive holds an internal near-dup pair (1, 2); batch 1 brings
    // a copy of doc 1 (a cross-epoch pair), batch 2 two more copies (a
    // within-batch pair): all five land in one cluster, while 3 and 102
    // stay unpaired and carry no label
    val copy = "a b c d e f g h i j"
    val archive = docs((1L, copy), (2L, copy), (3L, "z y x w v u t s r q"))
    val batch1 = docs((100L, copy), (102L, "m n o p q r s t u v"))
    val batch2 = docs((200L, copy), (201L, copy))
    val root = Files.createTempDirectory("graft-stream-neardup").toString

    // batch-mode reference: the sink's ingest called once per batch
    val pb = IncrementalIngest.init(spark, archive, s"$root/state_batch")
    Seq(batch1, batch2).foreach(IncrementalIngest.ingest(spark, _, pb.root))

    val ps = IncrementalIngest.init(spark, archive, s"$root/state_stream")
    val q = IncrementalIngest.attach(
      IngestFixtures.replay(spark, s"$root/src", Seq(batch1, batch2)), ps.root).start()
    try q.processAllAvailable() finally q.stop()

    // replayed stream == batch loop on every artifact and version list
    assert(IngestFixtures.served(spark, ps.root) == IngestFixtures.served(spark, pb.root))
    assert(labels(ps) == Seq(1L, 2L, 100L, 200L, 201L).map(_ -> 1L).toMap,
      s"labels: ${labels(ps)}")
    // one df version per ingested batch on top of the bootstrap, and the
    // merged counts equal a from-scratch recompute over everything seen
    assert(Versioned.versions(spark, ps.shingleDf).size == 3)
    val all = archive.union(batch1).union(batch2)
    assert(dfTab(ps) == Dedup.shingleDfTable(Dedup.shingleDF(all))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap)
    // the persisted index covers every ingested doc
    assert(indexedIds(ps) == Set(1L, 2L, 3L, 100L, 102L, 200L, 201L))
  }

  test("crash-replayed micro-batch ids are skipped: applyBatch folds once per id") {
    // a crash between the sink's fold and the stream's commit record:
    // on restart Spark re-runs the same batch id with the same rows, and
    // only the sink's applied-id record keeps the fold from counting the
    // batch's shingles twice
    val root = Files.createTempDirectory("graft-sd-replay").toString
    val p = IncrementalIngest.init(spark, docs((1L, "a b c d e f g h i j")), s"$root/state")
    val src = s"$root/src"
    val stream = IngestFixtures.replay(spark, src, Seq(docs((100L, "m n o p q r s t u v"))))
    val ckpt = s"$root/ckpt"
    // runs the query to the end of its input; returns the ids of the
    // batches it ran, each with whether the sink read any source rows
    def run() = {
      val q = IncrementalIngest.attach(stream, p.root)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.map(x => (x.batchId, x.numInputRows > 0)).toSeq
    }
    assert(run().filter(_._2) == Seq((0L, true)))
    val after0 = IngestFixtures.served(spark, p.root)
    Seq("0", ".0.crc").foreach(f => assert(new java.io.File(s"$ckpt/commits/$f").delete(), f))
    val rerun = run()
    assert(rerun.exists(_._1 == 0L), s"the restarted query should re-run batch 0: $rerun")
    assert(!rerun.exists(_._2), s"the sink should skip the re-run batch unread: $rerun")
    assert(IngestFixtures.served(spark, p.root) == after0)
    // a new id still folds
    IngestFixtures.addBatch(src, 1, docs((101L, "z y x w v u t s r q")))
    assert(run().filter(_._2) == Seq((1L, true)))
    assert(spark.read.parquet(p.archive).count() == 3)
    assert(Versioned.versions(spark, p.shingleDf).size == after0._2(1).size + 1)
  }

  test("observed guard: per-batch in/out metrics account for every dropped redelivery; rows identical to the plain guard") {
    // corpus + a full byte-identical redelivery: the observed guard must
    // (a) emit exactly the plain guard's rows and (b) report
    // Σrows_in = 2N, Σrows_out = N across micro-batches — the drop
    // counter a production dashboard alarms on
    val ev = Tables.events(spark, TestSpark.sfDir).limit(500)
      .withColumn("ts", date_trunc("second", col("ts")))
    val dir = Files.createTempDirectory("graft-guard-obs").toString
    ev.write.mode("overwrite").parquet(dir)
    ev.write.mode("append").parquet(dir)
    val n = ev.count()
    def src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val ins = scala.collection.mutable.ListBuffer.empty[Long]
    val outs = scala.collection.mutable.ListBuffer.empty[Long]
    val q = Admission.guardObserved(src, tsCol = "ts", delay = "30 days",
        idCols = Seq("event_id"))
      .writeStream.format("memory").queryName("guard_obs").outputMode("append")
      .start()
    try q.processAllAvailable() finally {
      // drain observed metrics from every batch's progress BEFORE stop
      q.recentProgress.foreach { p =>
        Option(p.observedMetrics.get(Admission.InMetric))
          .foreach(r => ins += r.getLong(0))
        Option(p.observedMetrics.get(Admission.OutMetric))
          .foreach(r => outs += r.getLong(0))
      }
      q.stop()
    }
    assert(ins.sum == 2 * n, s"rows_in should count both deliveries: ${ins.sum} vs ${2 * n}")
    assert(outs.sum == n, s"rows_out should count the deduped survivors: ${outs.sum} vs $n")
    // emitted rows == the un-observed guard's rows on the same source
    val observedRows = spark.table("guard_obs").collect().toSet
    val plainQ = Admission.guard(src, "ts", "30 days", Seq("event_id"))
      .writeStream.format("memory").queryName("guard_plain").outputMode("append").start()
    try plainQ.processAllAvailable() finally plainQ.stop()
    assert(observedRows == spark.table("guard_plain").collect().toSet)
    assert(observedRows.size == n)
  }

  test("watermarked ingest guard: redelivered and too-late docs never reach the dedup state") {
    // at-least-once sources redeliver; Admission.guard upstream of the
    // foreachBatch ingest turns that into exactly-once state maintenance
    // and drops docs that arrive too far behind the stream's event-time
    // frontier. The guard only analyzes if the loaded ts is a true
    // TimestampType (Tables.normalizeEventTime runs inside it). The
    // straggler arrives one batch AFTER the frontier-setter completes:
    // Spark's late filter uses the previous batch's watermark
    // (SPARK-40925), so a frontier only rejects rows starting with the
    // batch after it was planned in.
    import spark.implicits._
    def ts(h: Int, m: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    val archive = docs((1L, "a b c d e f g h i j"), (2L, "z y x w v u t s r q"))
    // b1: two fresh docs; frontier after b1 = 10:00 - 2h = 08:00
    val b1 = Seq(
      (100L, "m n o p q r s t u v", ts(8)),
      (101L, "f g h i j k l m n o", ts(10))).toDF("doc_id", "text", "ts")
    // b2: a redelivery of 100 with a shifted ts (inside the watermark →
    // deduped by identity) and a fresh near-dup of archive doc 1
    val b2 = Seq(
      (100L, "m n o p q r s t u v", ts(9, 30)),
      (103L, "a b c d e f g h i j", ts(10, 30))).toDF("doc_id", "text", "ts")
    // b3: a straggler behind the b1-frontier (07:30 < 08:00 → dropped)
    // alongside a fresh in-time doc (kept — the drop is selective)
    val b3 = Seq(
      (102L, "too late to matter x", ts(7, 30)),
      (104L, "completely novel words here now", ts(11))).toDF("doc_id", "text", "ts")

    val root = Files.createTempDirectory("graft-stream-wmguard").toString
    val p = IncrementalIngest.init(spark, archive, s"$root/state")
    val guarded = Admission.guard(
      IngestFixtures.replay(spark, s"$root/src", Seq(b1, b2, b3)),
      tsCol = "ts", delay = "2 hours", idCols = Seq("doc_id"))
    val q = IncrementalIngest.attach(guarded, p.root).start()
    try q.processAllAvailable() finally q.stop()

    // the state holds each survivor once: no second row for 100, no 102
    val survivors = archive.union(b1.drop("ts"))
      .union(b2.filter(col("doc_id") === 103L).drop("ts"))
      .union(b3.filter(col("doc_id") === 104L).drop("ts"))
    val archived = spark.read.parquet(p.archive).select("doc_id").as[Long].collect().sorted.toSeq
    assert(archived == Seq(1L, 2L, 100L, 101L, 103L, 104L), s"archive: $archived")
    // shingle counts are the survivors' own: 100's shingles counted once,
    // none of 102's
    assert(dfTab(p) == Dedup.shingleDfTable(Dedup.shingleDF(survivors))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap)
    assert(indexedIds(p) == archived.toSet)
    assert(labels(p) == Map(1L -> 1L, 103L -> 1L), s"labels: ${labels(p)}")
  }

  test("a file: URI state dir folds, retains and serves exactly like a plain path") {
    val root = Files.createTempDirectory("graft-sd-uri").toString
    val archive = docs((1L, "a b c d e f g h i j"), (3L, "z y x w v u t s r q"))
    val batchA = docs((100L, "a b c d e f g h i j"), (102L, "m n o p q r s t u v"))
    val batchB = docs((200L, "a b c d e f g h i j"), (201L, "m n o p q r s t u v"))
    def run(dir: String) = {
      val p = IncrementalIngest.init(spark, archive, dir)
      // checkpointEvery = 1 leaves a full snapshot at each head, so
      // retain has versions below it to drop
      Seq(batchA, batchB).zipWithIndex.foreach { case (b, i) =>
        IncrementalIngest.applyBatch(b, dir, batchId = i, checkpointEvery = 1)
      }
      Seq(p.labels, p.shingleDf).foreach { t =>
        assert(Versioned.retain(spark, t, keep = 1).nonEmpty, t)
        assert(Versioned.versions(spark, t).size == 1, t)
      }
      IngestFixtures.served(spark, dir)
    }
    val plain = run(s"$root/plain")
    assert(plain._1.head.nonEmpty, "fixture should surface near-dup labels")
    assert(run(s"file:$root/uri") == plain)
  }
}
