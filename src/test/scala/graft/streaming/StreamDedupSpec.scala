package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.io.Versioned
import graft.model.Tables

/** §2.10 stateful streaming dedup: dropDuplicatesWithinWatermark removes
  * replayed events (same event_id redelivered inside the watermark) with
  * bounded state — the streaming counterpart of exact dedup. */
class StreamDedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

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
    import spark.implicits._
    // archive holds an INTERNAL near-dup pair (1,2) that must never
    // surface (archive-internal pairs are the full run's business);
    // batch 1 brings a copy of doc 1, batch 2 brings two more copies
    // (cross-epoch AND within-batch pairs)
    val archive = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),
      (3L, "z y x w v u t s r q")).toDF("doc_id", "text")
    val batch1 = Seq(
      (100L, "a b c d e f g h i j"),
      (102L, "m n o p q r s t u v")).toDF("doc_id", "text")
    val batch2 = Seq(
      (200L, "a b c d e f g h i j"),
      (201L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val expected = Set(
      (1L, 100L, 1.0, 1L), (2L, 100L, 1.0, 1L),                      // epoch 1
      (1L, 200L, 1.0, 2L), (2L, 200L, 1.0, 2L), (100L, 200L, 1.0, 2L),
      (1L, 201L, 1.0, 2L), (2L, 201L, 1.0, 2L), (100L, 201L, 1.0, 2L),
      (200L, 201L, 1.0, 2L))                                         // epoch 2
    def collectPairs(cfg: StreamingDedup.Config) =
      StreamingDedup.pairs(spark, cfg)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

    val root = java.nio.file.Files.createTempDirectory("graft-stream-neardup").toString

    // batch-mode reference: the same loop body called once per batch
    val batchCfg = StreamingDedup.Config(s"$root/state_batch")
    StreamingDedup.init(spark, batchCfg, archive)
    StreamingDedup.processBatch(spark, batchCfg, batch1)
    StreamingDedup.processBatch(spark, batchCfg, batch2)
    val batchPairs = collectPairs(batchCfg)
    assert(batchPairs == expected, s"batch loop: $batchPairs")

    // stream replay: one file per micro-batch, ordered by mtime+name
    val src = new java.io.File(s"$root/src"); src.mkdirs()
    Seq(batch1 -> "b1", batch2 -> "b2").foreach { case (df, name) =>
      val tmp = s"$root/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(if (name == "b1") 1000000L else 2000000L)
    }
    val streamCfg = StreamingDedup.Config(s"$root/state_stream")
    StreamingDedup.init(spark, streamCfg, archive)
    val q = StreamingDedup.attach(
      spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString),
      streamCfg).start()
    try q.processAllAvailable() finally q.stop()

    // replayed stream == batch loop, bit for bit including the epoch tag
    assert(collectPairs(streamCfg) == batchPairs)

    // epoch discipline: one df-table snapshot per ingested batch, and the
    // final snapshot equals a from-scratch recompute over everything seen
    // (merge-based maintenance lost nothing)
    assert(StreamingDedup.latestEpoch(streamCfg) == 2L)
    val finalTable = Versioned // epoch 2 is version 3
      .read(spark, s"${streamCfg.stateDir}/shingle_df", Some(3L))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val recomputed = graft.ops.Dedup.shingleDfTable(
      graft.ops.Dedup.shingleDF(archive.union(batch1).union(batch2)))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(finalTable == recomputed)

    // the persisted index covers every ingested doc (bands rows each)
    val indexed = spark.read.parquet(s"${streamCfg.stateDir}/index")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(indexed == Set(1L, 2L, 3L, 100L, 102L, 200L, 201L))
  }

  test("crash-replayed micro-batch ids are skipped: applyBatch folds once per id") {
    import spark.implicits._
    val archive = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val b1 = Seq((100L, "m n o p q r s t u v")).toDF("doc_id", "text")
    val cfg = StreamingDedup.Config(
      Files.createTempDirectory("graft-sd-replay").toString + "/state")
    StreamingDedup.init(spark, cfg, archive)
    StreamingDedup.applyBatch(b1, cfg, batchId = 0)
    def snap() = (StreamingDedup.latestEpoch(cfg),
      spark.read.parquet(s"${cfg.stateDir}/corpus").count())
    val after1 = snap()
    // replay of id 0 (crash between fold and stream-checkpoint commit):
    // no duplicate epoch, no duplicate corpus rows
    StreamingDedup.applyBatch(b1, cfg, batchId = 0)
    assert(snap() == after1)
    // a new id still folds
    StreamingDedup.applyBatch(
      Seq((101L, "z y x w v u t s r q")).toDF("doc_id", "text"), cfg, batchId = 1)
    assert(snap() == (after1._1 + 1, after1._2 + 1))
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
    import spark.implicits._
    // at-least-once sources redeliver; Admission.guard upstream of the
    // foreachBatch ingest turns that into exactly-once state maintenance
    // and drops docs that arrive too far behind the stream's event-time
    // frontier. This is the NTZ-regression class pinned end to end: the
    // guard only analyzes if the loaded ts is a true TimestampType
    // (Tables.normalizeEventTime runs inside it). The straggler arrives
    // one batch AFTER the frontier-setter completes: Spark's late filter
    // uses the previous batch's watermark (SPARK-40925), so a frontier
    // only rejects rows starting with the batch after it was planned in.
    def ts(h: Int, m: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    val archive = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "z y x w v u t s r q")).toDF("doc_id", "text")
    // b1: two fresh docs; frontier after b1 = 10:00 - 2h = 08:00
    val b1 = Seq(
      (100L, "m n o p q r s t u v", ts(8)),
      (101L, "f g h i j k l m n o", ts(10))).toDF("doc_id", "text", "ts")
    // b2: a redelivery of 100 with a shifted ts (inside the watermark →
    // deduped by identity) and a fresh doc whose text near-dups archive
    // doc 1 (must surface a pair)
    val b2 = Seq(
      (100L, "m n o p q r s t u v", ts(9, 30)),
      (103L, "a b c d e f g h i j", ts(10, 30))).toDF("doc_id", "text", "ts")
    // b3: a straggler behind the b1-frontier (07:30 < 08:00 → dropped)
    // alongside a fresh in-time doc (kept — proves the drop is selective)
    val b3 = Seq(
      (102L, "too late to matter x", ts(7, 30)),
      (104L, "completely novel words here now", ts(11))).toDF("doc_id", "text", "ts")

    val root = Files.createTempDirectory("graft-stream-wmguard").toString
    val src = new java.io.File(s"$root/src"); src.mkdirs()
    Seq((b1, "b1", 1000000L), (b2, "b2", 2000000L), (b3, "b3", 3000000L)).foreach {
      case (df, name, mtime) =>
        val tmp = s"$root/tmp_$name"
        df.coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(src, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(mtime)
    }

    val streamCfg = StreamingDedup.Config(s"$root/state_stream")
    StreamingDedup.init(spark, streamCfg, archive)
    val guarded = Admission.guard(
      spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString),
      tsCol = "ts", delay = "2 hours", idCols = Seq("doc_id"))
    val q = StreamingDedup.attach(guarded, streamCfg).start()
    try q.processAllAvailable() finally q.stop()

    // batch reference: the same loop over what should have survived the
    // guard — b1 intact, b2 minus the redelivery, b3 minus the straggler
    val batchCfg = StreamingDedup.Config(s"$root/state_batch")
    StreamingDedup.init(spark, batchCfg, archive)
    StreamingDedup.processBatch(spark, batchCfg, b1.drop("ts"))
    StreamingDedup.processBatch(spark, batchCfg, b2.filter(col("doc_id") === 103L).drop("ts"))
    StreamingDedup.processBatch(spark, batchCfg, b3.filter(col("doc_id") === 104L).drop("ts"))
    def pairSet(c: StreamingDedup.Config) = StreamingDedup.pairs(spark, c)
      .select("id1", "id2", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairSet(streamCfg) == pairSet(batchCfg))
    assert(pairSet(streamCfg) == Set((1L, 103L, 1.0)), s"got ${pairSet(streamCfg)}")
    // state holds exactly the guarded survivors — no 100-redelivery, no 102
    val corpus = spark.read.parquet(s"${streamCfg.stateDir}/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 2L, 100L, 101L, 103L, 104L), s"corpus: $corpus")
  }

  test("retain GCs old shingle-df snapshots; serving, data dirs, and further folds intact") {
    import spark.implicits._
    val cfg = StreamingDedup.Config(
      Files.createTempDirectory("graft-sd-retain").toString + "/state")
    StreamingDedup.init(spark, cfg, Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text"))
    StreamingDedup.processBatch(spark, cfg,
      Seq((2L, "k l m n o p q r s t")).toDF("doc_id", "text"))
    StreamingDedup.processBatch(spark, cfg,
      Seq((3L, "u v w x y z a1 b1 c1 d1")).toDF("doc_id", "text"))
    val dfBefore = Versioned
      .read(spark, s"${cfg.stateDir}/shingle_df", Some(StreamingDedup.latestEpoch(cfg) + 1))
      .collect().map(_.toSeq).toSet
    assert(StreamingDedup.retain(spark, cfg, keepLast = 1) == Seq(0L, 1L))
    assert(StreamingDedup.latestEpoch(cfg) == 2L)
    val names = Option(new java.io.File(s"${cfg.stateDir}/shingle_df").listFiles())
      .toSeq.flatten.map(_.getName).filter(_.startsWith("v=")).toSet
    assert(names == Set("v=3")) // epoch 2
    assert(spark.read.parquet(s"${cfg.stateDir}/shingle_df/v=3")
      .collect().map(_.toSeq).toSet == dfBefore)
    // append-only data dirs untouched; the sink still folds after GC
    assert(spark.read.parquet(s"${cfg.stateDir}/corpus").count() == 3)
    StreamingDedup.processBatch(spark, cfg,
      Seq((4L, "e1 f1 g1 h1 i1 j1 k1 l1 m1 n1")).toDF("doc_id", "text"))
    assert(StreamingDedup.latestEpoch(cfg) == 3L)
    intercept[IllegalArgumentException](StreamingDedup.retain(spark, cfg, 0))
  }

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private val archive3 = docs((1L, "a b c d e f g h i j"), (3L, "z y x w v u t s r q"))
  private val batch3a = docs((100L, "a b c d e f g h i j"), (102L, "m n o p q r s t u v"))
  private val batch3b = docs((200L, "a b c d e f g h i j"), (201L, "m n o p q r s t u v"))

  /** The served pairs and the append-only corpus and index. */
  private def served(cfg: StreamingDedup.Config) = Seq(
    StreamingDedup.pairs(spark, cfg),
    spark.read.parquet(s"${cfg.stateDir}/corpus"),
    spark.read.parquet(s"${cfg.stateDir}/index"))
    .map(_.collect().map(_.toSeq).toSet)

  private def latestDf(cfg: StreamingDedup.Config) =
    Versioned.read(spark, s"${cfg.stateDir}/shingle_df").collect().map(_.toSeq).toSet

  test("a failed shingle-df write leaves the serving epoch; the replayed batch id folds as if it never failed") {
    val root = Files.createTempDirectory("graft-sd-fault").toString
    val clean = StreamingDedup.Config(s"$root/clean")
    StreamingDedup.init(spark, clean, archive3)
    StreamingDedup.applyBatch(batch3a, clean, batchId = 0)
    StreamingDedup.applyBatch(batch3b, clean, batchId = 1)

    val cfg = StreamingDedup.Config(s"$root/state")
    StreamingDedup.init(spark, cfg, archive3)
    StreamingDedup.applyBatch(batch3a, cfg, batchId = 0)
    val before = served(cfg)
    FailStateCommit.during(spark) {
      intercept[Exception](StreamingDedup.applyBatch(batch3b, cfg, batchId = 1))
    }
    assert(StreamingDedup.latestEpoch(cfg) == 1L)
    assert(served(cfg) == before)
    StreamingDedup.applyBatch(batch3b, cfg, batchId = 1)
    assert(StreamingDedup.latestEpoch(cfg) == 2L)
    assert(served(cfg) == served(clean))
    assert(latestDf(cfg) == latestDf(clean))
  }

  test("a file: URI state dir folds, retains and serves exactly like a plain path") {
    val root = Files.createTempDirectory("graft-sd-uri").toString
    def run(dir: String) = {
      val cfg = StreamingDedup.Config(dir)
      StreamingDedup.init(spark, cfg, archive3)
      StreamingDedup.processBatch(spark, cfg, batch3a)
      StreamingDedup.processBatch(spark, cfg, batch3b)
      assert(StreamingDedup.latestEpoch(cfg) == 2L, dir)
      assert(StreamingDedup.retain(spark, cfg, keepLast = 1) == Seq(0L, 1L), dir)
      (cfg, served(cfg))
    }
    val (plainCfg, plain) = run(s"$root/plain")
    assert(plain.head.nonEmpty, "fixture should surface near-dup pairs")
    val (uriCfg, uri) = run(s"file:$root/uri")
    assert(uri == plain)
    assert(latestDf(uriCfg) == latestDf(plainCfg))
  }
}
