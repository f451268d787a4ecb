package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{FailStateCommit, TestSpark}
import graft.model.Tables
import graft.ops.Merge

/** Streaming ingest wired to incremental aggregation maintenance:
  * foreachBatch folds each micro-batch into every mergeable state family
  * ([[StreamingStats]], incl. the opt-in audit sample); replaying a
  * corpus as a stream must leave bit-identical state to the batch loop,
  * and the final dashboard must equal a from-scratch recompute over
  * everything seen. */
class StreamStatsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def cfg(dir: String) = StreamingStats.Config(
    dir, keys = Seq("l_returnflag"),
    valueCol = "l_quantity", distinctCol = "l_partkey", freqCol = "l_linestatus",
    sampleIdCols = Seq("l_orderkey", "l_linenumber"), sampleK = 3,
    kmvK = 16, bloomBits = 4096L, cmsWidth = 512L)

  // deterministic slice of the smallest corpus (no limit(): its row pick
  // can differ between evaluations and the test re-derives `li` per use)
  private def li = Tables.lineitem(spark, TestSpark.sfDir)
    .select("l_returnflag", "l_linestatus", "l_quantity", "l_partkey",
      "l_orderkey", "l_linenumber")
    .filter(col("l_orderkey") % 2 === 0)

  private def stateSnapshot(c: StreamingStats.Config): Map[String, Set[Seq[Any]]] =
    StreamingStats.families(c).map(f =>
      f -> StreamingStats.state(spark, c, f).collect().map(_.toSeq: Seq[Any]).toSet).toMap

  test("batch loop maintains every state family == from-scratch recompute; dashboard finalizes") {
    val root = java.nio.file.Files.createTempDirectory("graft-stream-stats").toString
    val archive = li.filter(col("l_orderkey") % 3 === 0)
    val b1 = li.filter(col("l_orderkey") % 3 === 1)
    val b2 = li.filter(col("l_orderkey") % 3 === 2)

    val c = cfg(s"$root/state")
    StreamingStats.init(spark, c, archive)
    StreamingStats.processBatch(spark, c, b1)
    StreamingStats.processBatch(spark, c, b2)
    assert(StreamingStats.latestEpoch(c) == 2L)

    // every family's final state == the partial computed over ALL data
    val all = li
    val direct: Map[String, DataFrame] = Map(
      "stats" -> Merge.partialStats(all, c.keys, c.valueCol),
      "quantile" -> Merge.partialQuantileState(all, c.keys, c.valueCol),
      "distinct" -> Merge.partialDistinctState(all, c.keys, c.distinctCol),
      "moment" -> Merge.partialMomentState(all, c.keys, c.valueCol),
      "freq" -> Merge.partialFreqState(all, c.keys, c.freqCol),
      "sample" -> Merge.partialSampleState(all, c.keys,
        Merge.samplePriorityFast(c.sampleIdCols), c.sampleK),
      "kmv" -> Merge.kmvState(all, "l_returnflag",
        Merge.samplePriorityFast(Seq("l_partkey")), c.kmvK),
      "bloom" -> Merge.bloomState(all, c.keys,
        Merge.bloomPositionsFast(col("l_partkey").cast("string"),
          c.bloomBits, c.bloomHashes)),
      "cms" -> Merge.cmsState(all, c.keys,
        Merge.bloomPositionsFast(col("l_linestatus").cast("string"),
          c.cmsWidth, c.cmsDepth)))
    val got = stateSnapshot(c)
    direct.foreach { case (family, df) =>
      assert(got(family) == df.collect().map(_.toSeq: Seq[Any]).toSet,
        s"family '$family' diverged from a from-scratch recompute")
    }

    // dashboard: one row per key, quantiles wide, moments+distinct joined
    val dash = StreamingStats.dashboard(spark, c, ps = Seq(0.5, 0.95))
    val rows = dash.collect()
    assert(rows.length == all.select("l_returnflag").distinct().count())
    val cols = dash.columns.toSet
    assert(Set("cnt", "avg_v", "distinct_cnt", "var_pop", "skew_v",
      "kurt_v", "q50", "q95").subsetOf(cols), s"dashboard columns: $cols")
    // spot-check one key against direct full-data values
    val k0 = rows.head.getString(0)
    val want = all.filter(col("l_returnflag") === k0)
      .agg(count("l_quantity").cast("long").as("cnt"),
        countDistinct("l_partkey").as("d"),
        expr("percentile(l_quantity, 0.5)").as("q50"))
      .collect()(0)
    val r0 = rows.head
    assert(r0.getLong(r0.fieldIndex("cnt")) == want.getLong(0))
    assert(r0.getLong(r0.fieldIndex("distinct_cnt")) == want.getLong(1))
    assert(math.abs(r0.getDouble(r0.fieldIndex("q50")) - want.getDouble(2)) <= 1e-4)

    // top-k reads the freq state
    val top = StreamingStats.topValues(spark, c, 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val wantTop = all.groupBy("l_returnflag", "l_linestatus").count()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
          .orderBy(col("count").desc, col("l_linestatus"))))
      .filter(col("rn") === 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(top == wantTop)

    // the audit sample serves the bottom-k draw over everything seen,
    // ranked and capped at k per key
    val samp = StreamingStats.auditSample(spark, c)
    assert(samp.columns.contains("rn"))
    assert(samp.groupBy("l_returnflag").count()
      .collect().forall(_.getLong(1) <= c.sampleK))

    // overlap matrix: one row per key pair, estimates in [0,1]
    val ov = StreamingStats.overlapMatrix(spark, c).collect()
    val nKeys = all.select("l_returnflag").distinct().count()
    assert(ov.length == nKeys * (nKeys - 1) / 2)
    assert(ov.forall(r => r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0))

    // bloom: every ingested (key, value) probes maybe_member — no false
    // negatives against everything ever folded in
    val probes = all.select("l_returnflag", "l_partkey").distinct()
    val neg = StreamingStats.mightContain(spark, c, probes)
      .filter(!col("maybe_member")).count()
    assert(neg == 0, s"$neg ingested values probed false")

    // cms: estimates over everything ever ingested never undercount
    val exactFreq = all.groupBy("l_returnflag", "l_linestatus").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val cmsProbes = all.select("l_returnflag", "l_linestatus").distinct()
    val under = StreamingStats.estimateCounts(spark, c, cmsProbes)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .filter { case (k, v, est) => est < exactFreq((k, v)) }
    assert(under.isEmpty, s"cms undercounts: $under")
  }

  test("stream replay == batch loop: bit-identical state epoch by epoch") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-stream-stats2").toString
    val archive = Seq(("A", "O", 5.0, 10L, 1L, 1), ("B", "F", 3.0, 11L, 2L, 1))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_partkey", "l_orderkey", "l_linenumber")
    val b1 = Seq(("A", "F", 7.0, 10L, 3L, 1), ("A", "O", 2.0, 12L, 4L, 1))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_partkey", "l_orderkey", "l_linenumber")
    val b2 = Seq(("B", "F", 9.0, 11L, 5L, 1), ("C", "O", 1.0, 13L, 6L, 1))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_partkey", "l_orderkey", "l_linenumber")

    val batchCfg = cfg(s"$root/state_batch")
    StreamingStats.init(spark, batchCfg, archive)
    StreamingStats.processBatch(spark, batchCfg, b1)
    StreamingStats.processBatch(spark, batchCfg, b2)

    // replay b1, b2 as a file stream, one file per micro-batch
    val src = new java.io.File(s"$root/src"); src.mkdirs()
    Seq(b1 -> "b1", b2 -> "b2").foreach { case (df, name) =>
      val tmp = s"$root/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(if (name == "b1") 1000000L else 2000000L)
    }
    val streamCfg = cfg(s"$root/state_stream")
    StreamingStats.init(spark, streamCfg, archive)
    val q = StreamingStats.attach(
      spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString),
      streamCfg).start()
    try q.processAllAvailable() finally q.stop()

    assert(StreamingStats.latestEpoch(streamCfg) == 2L)
    assert(stateSnapshot(streamCfg) == stateSnapshot(batchCfg))
  }

  test("watermarked ingest: redelivered and too-late rows are dropped before the state fold") {
    import spark.implicits._
    // the event-time guard upstream of the stats fold: at-least-once
    // redeliveries (same orderkey/linenumber identity inside the
    // watermark) are deduplicated and stragglers behind the event-time
    // frontier dropped, BEFORE any state family counts them — counting
    // states are not idempotent, so the guard is what makes replayed
    // sources safe. Exercises withWatermark on a normalizeEventTime'd
    // stream (the NTZ regression class) end to end. The straggler ships
    // one batch after the frontier-setter: Spark's late filter uses the
    // previous batch's watermark (SPARK-40925).
    def ts(h: Int, m: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    val cols = Seq("l_returnflag", "l_linestatus", "l_quantity", "l_partkey",
      "l_orderkey", "l_linenumber", "ts")
    val archive = Seq(("A", "O", 5.0, 10L, 1L, 1, ts(7)))
      .toDF(cols: _*)
    // b1: two fresh rows; frontier after b1 = 10:00 - 2h = 08:00
    val b1 = Seq(
      ("A", "F", 7.0, 10L, 3L, 1, ts(8)),
      ("B", "O", 2.0, 12L, 4L, 1, ts(10))).toDF(cols: _*)
    // b2: a redelivery of (3,1) with a shifted ts (deduped by identity)
    // and a fresh in-time row (kept)
    val b2 = Seq(
      ("A", "F", 7.0, 10L, 3L, 1, ts(9, 30)),
      ("B", "F", 4.0, 13L, 6L, 1, ts(10, 30))).toDF(cols: _*)
    // b3: a straggler behind the b1-frontier (07:30 < 08:00 → dropped)
    // plus a fresh in-time row (kept — the drop is selective)
    val b3 = Seq(
      ("C", "F", 9.0, 11L, 5L, 1, ts(7, 30)),
      ("A", "O", 3.0, 14L, 7L, 1, ts(11))).toDF(cols: _*)

    val root = java.nio.file.Files.createTempDirectory("graft-stream-statswm").toString
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

    val streamCfg = cfg(s"$root/state_stream")
    StreamingStats.init(spark, streamCfg, archive)
    val guarded = Admission.guard(
      spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString),
      tsCol = "ts", delay = "2 hours", idCols = Seq("l_orderkey", "l_linenumber"))
    val q = StreamingStats.attach(guarded, streamCfg).start()
    try q.processAllAvailable() finally q.stop()

    // final state == from-scratch partials over archive + guard survivors
    // (the redelivery and the straggler contribute NOTHING)
    val survivors = archive
      .unionByName(b1)
      .unionByName(b2.filter(col("l_orderkey") === 6L))
      .unionByName(b3.filter(col("l_orderkey") === 7L))
    val c = streamCfg
    val direct: Map[String, DataFrame] = Map(
      "stats" -> Merge.partialStats(survivors, c.keys, c.valueCol),
      "quantile" -> Merge.partialQuantileState(survivors, c.keys, c.valueCol),
      "distinct" -> Merge.partialDistinctState(survivors, c.keys, c.distinctCol),
      "moment" -> Merge.partialMomentState(survivors, c.keys, c.valueCol),
      "freq" -> Merge.partialFreqState(survivors, c.keys, c.freqCol),
      "sample" -> Merge.partialSampleState(survivors, c.keys,
        Merge.samplePriorityFast(c.sampleIdCols), c.sampleK))
    val got = stateSnapshot(c)
    direct.foreach { case (family, df) =>
      assert(got(family) == df.collect().map(_.toSeq: Seq[Any]).toSet,
        s"family '$family' counted a redelivered or late row")
    }
  }

  test("crash-replayed micro-batch ids are skipped: applyBatch folds once per id") {
    import spark.implicits._
    val cols = Seq("l_returnflag", "l_linestatus", "l_quantity", "l_partkey",
      "l_orderkey", "l_linenumber")
    val archive = Seq(("A", "O", 5.0, 10L, 1L, 1)).toDF(cols: _*)
    val b1 = Seq(("A", "F", 7.0, 10L, 3L, 1)).toDF(cols: _*)
    val c = cfg(java.nio.file.Files.createTempDirectory("graft-ss-replay").toString + "/state")
    StreamingStats.init(spark, c, archive)
    StreamingStats.applyBatch(b1, c, batchId = 0)
    val after1 = (StreamingStats.latestEpoch(c), stateSnapshot(c))
    // replay of id 0: counting states must NOT double-count
    StreamingStats.applyBatch(b1, c, batchId = 0)
    assert((StreamingStats.latestEpoch(c), stateSnapshot(c)) == after1)
    StreamingStats.applyBatch(
      Seq(("B", "O", 2.0, 12L, 4L, 1)).toDF(cols: _*), c, batchId = 1)
    assert(StreamingStats.latestEpoch(c) == after1._1 + 1)
  }

  test("retain keeps the newest epochs for every family; serving and further folds unaffected") {
    val root = java.nio.file.Files.createTempDirectory("graft-ss-retain").toString
    val c = cfg(s"$root/state")
    StreamingStats.init(spark, c, li.filter(col("l_orderkey") % 3 === 0))
    StreamingStats.processBatch(spark, c, li.filter(col("l_orderkey") % 3 === 1))
    StreamingStats.processBatch(spark, c, li.filter(col("l_orderkey") % 3 === 2))
    val before = stateSnapshot(c)
    assert(StreamingStats.retain(spark, c, keepLast = 1) == Seq(0L, 1L))
    assert(StreamingStats.latestEpoch(c) == 2L)
    assert(stateSnapshot(c) == before) // the serving snapshot never moved
    // epoch 2 is version 3: the only version left, holding every family
    val names = Option(new java.io.File(s"$root/state").listFiles())
      .toSeq.flatten.map(_.getName).filter(_.startsWith("v=")).toSet
    assert(names == Set("v=3"), s"kept: $names")
    StreamingStats.families(c).foreach { f =>
      assert(new java.io.File(s"$root/state/v=3/$f").isDirectory, s"family $f missing from v=3")
    }
    // the sink keeps folding after GC (empty batch is trivially row-disjoint)
    StreamingStats.processBatch(spark, c, li.filter(lit(false)))
    assert(StreamingStats.latestEpoch(c) == 3L)
    assert(stateSnapshot(c) == before)
    intercept[IllegalArgumentException](StreamingStats.retain(spark, c, 0))
  }

  test("init refuses double-init; processBatch refuses uninitialized state") {
    val root = java.nio.file.Files.createTempDirectory("graft-stream-stats3").toString
    val c = cfg(s"$root/state")
    intercept[IllegalArgumentException](StreamingStats.processBatch(spark, c, li))
    StreamingStats.init(spark, c, li.limit(10))
    intercept[IllegalArgumentException](StreamingStats.init(spark, c, li.limit(10)))
  }

  test("forget: every family post-forget == from-scratch fold over the survivors; sketch serving leaks nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-ss-forget").toString
    val c = cfg(s"$root/state").copy(hllLgK = 12)
    val all = li
    StreamingStats.init(spark, c, all.filter(col("l_orderkey") % 3 === 0))
    StreamingStats.processBatch(spark, c, all.filter(col("l_orderkey") % 3 === 1))
    StreamingStats.processBatch(spark, c, all.filter(col("l_orderkey") % 3 === 2))

    // erase every row of a partkey slice — crosses all key groups, so
    // the bottom-k dirty-key rebuild and the bloom/hll corpus rebuild
    // both get exercised for real
    val forgotten = all.filter(col("l_partkey") % 5 === 0)
    val survivors = all.filter(col("l_partkey") % 5 =!= 0)
    val ep = StreamingStats.forget(spark, c, forgotten, survivors)
    assert(ep == 3L && StreamingStats.latestEpoch(c) == 3L)

    // ground truth: the same config folded from scratch over survivors
    val c2 = cfg(s"$root/rebuild").copy(hllLgK = 12)
    StreamingStats.init(spark, c2, survivors)

    // bit-identical state for every deterministic family (hll sketches
    // are register-equivalent but byte-layout-sensitive to fold order —
    // compared via their estimates below)
    val got = stateSnapshot(c)
    val want = stateSnapshot(c2)
    StreamingStats.families(c).filterNot(_ == "hll").foreach { f =>
      assert(got(f) == want(f), s"family '$f' != from-scratch fold over the survivors")
    }
    def estimates(cc: StreamingStats.Config) =
      StreamingStats.estimateDistinct(spark, cc)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estimates(c) == estimates(c2), "hll estimates diverged post-forget")

    // the membership-leak closure, end to end on the serving surface:
    // bloom probes, cms estimates, and the kmv overlap matrix answer
    // exactly as states that never saw the forgotten rows
    val probes = all.select("l_returnflag", "l_partkey").distinct()
    def probeSet(cc: StreamingStats.Config) =
      StreamingStats.mightContain(spark, cc, probes)
        .collect().map(_.toSeq: Seq[Any]).toSet
    assert(probeSet(c) == probeSet(c2))
    val cmsProbes = all.select("l_returnflag", "l_linestatus").distinct()
    def cmsSet(cc: StreamingStats.Config) =
      StreamingStats.estimateCounts(spark, cc, cmsProbes)
        .collect().map(_.toSeq: Seq[Any]).toSet
    assert(cmsSet(c) == cmsSet(c2))
    def overlap(cc: StreamingStats.Config) =
      StreamingStats.overlapMatrix(spark, cc)
        .collect().map(_.toSeq: Seq[Any]).toSet
    assert(overlap(c) == overlap(c2))

    // erasure of rows never folded in fails loudly (retraction guards),
    // and the stats marker was never written — the serving epoch holds
    val bogus = all.limit(5).withColumn("l_quantity", lit(123456.0))
    intercept[Exception](StreamingStats.forget(spark, c, bogus, survivors))
    assert(StreamingStats.latestEpoch(c) == 3L)
  }

  private val tinyCols = Seq("l_returnflag", "l_linestatus", "l_quantity", "l_partkey",
    "l_orderkey", "l_linenumber")
  private def tiny(rows: (String, String, Double, Long, Long, Int)*): DataFrame = {
    import spark.implicits._
    rows.toDF(tinyCols: _*)
  }
  private val tinyArchive = tiny(("A", "O", 5.0, 10L, 1L, 1), ("B", "F", 3.0, 11L, 2L, 1))
  private val tinyB1 = tiny(("A", "F", 7.0, 10L, 3L, 1), ("A", "O", 2.0, 12L, 4L, 1))
  private val tinyB2 = tiny(("B", "F", 9.0, 11L, 5L, 1), ("C", "O", 1.0, 13L, 6L, 1))

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq: Seq[Any]).toSet

  test("a failed stats write leaves the serving epoch; the replayed batch id folds as if it never failed") {
    val root = java.nio.file.Files.createTempDirectory("graft-ss-fault").toString
    val clean = cfg(s"$root/clean")
    StreamingStats.init(spark, clean, tinyArchive)
    StreamingStats.applyBatch(tinyB1, clean, batchId = 0)
    StreamingStats.applyBatch(tinyB2, clean, batchId = 1)

    val c = cfg(s"$root/state")
    StreamingStats.init(spark, c, tinyArchive)
    StreamingStats.applyBatch(tinyB1, c, batchId = 0)
    val served = rowSet(StreamingStats.dashboard(spark, c))
    FailStateCommit.during(spark, "stats") {
      intercept[Exception](StreamingStats.applyBatch(tinyB2, c, batchId = 1))
    }
    assert(StreamingStats.latestEpoch(c) == 1L)
    assert(rowSet(StreamingStats.dashboard(spark, c)) == served)
    StreamingStats.applyBatch(tinyB2, c, batchId = 1)
    assert(StreamingStats.latestEpoch(c) == 2L)
    assert(stateSnapshot(c) == stateSnapshot(clean))
  }

  test("a file: URI state dir folds, retains and serves exactly like a plain path") {
    val root = java.nio.file.Files.createTempDirectory("graft-ss-uri").toString
    def run(dir: String) = {
      val c = cfg(dir)
      StreamingStats.init(spark, c, tinyArchive)
      StreamingStats.processBatch(spark, c, tinyB1)
      StreamingStats.processBatch(spark, c, tinyB2)
      assert(StreamingStats.latestEpoch(c) == 2L, dir)
      assert(StreamingStats.retain(spark, c, keepLast = 1) == Seq(0L, 1L), dir)
      (stateSnapshot(c), rowSet(StreamingStats.dashboard(spark, c)))
    }
    assert(run(s"file:$root/uri") == run(s"$root/plain"))
  }
}
