package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.model.Tables

/** StreamGuard semantics: the constructed unbounded-state offenders are
  * refused BEFORE start() — plan-only, no query ever runs — and every
  * registry stream shape admits. Pure analysis tests: nothing here
  * executes a streaming query. */
class StreamGuardSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("graft-streamguard-events").toString
    Tables.events(spark, TestSpark.sfDir).write.mode("overwrite").parquet(dir)
    dir
  }
  private def streamEvents = {
    val schema = Tables.events(spark, TestSpark.sfDir).schema
    spark.readStream.schema(schema).parquet(eventsDir)
  }

  test("unbounded-agg: streaming keyed aggregate without a watermark is refused; watermarked twin admits") {
    val bare = streamEvents.groupBy("event_type").count()
    val fs = StreamGuard.lint(bare)
    assert(fs.exists(f => f.rule == "unbounded-agg" && f.fatal), fs.mkString("; "))
    intercept[graft.engine.PlanGuard.PlanRejected](StreamGuard.admit(bare))
    val bounded = streamEvents
      .withColumn("ts", date_trunc("second", col("ts")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type")).count()
    assert(StreamGuard.lint(bounded).isEmpty,
      StreamGuard.lint(bounded).mkString("; "))
  }

  test("unbounded-dedup: streaming dropDuplicates without a watermark is refused; the Admission.guard shape admits") {
    val bare = streamEvents.dropDuplicates("event_id")
    assert(StreamGuard.lint(bare).exists(_.rule == "unbounded-dedup"))
    val guarded = Admission.guard(
      streamEvents.withColumn("ts", date_trunc("second", col("ts"))),
      tsCol = "ts", delay = "1 hour", idCols = Seq("event_id"))
    assert(StreamGuard.lint(guarded).isEmpty,
      StreamGuard.lint(guarded).mkString("; "))
  }

  test("unbounded-join: stream-stream join without watermarks, and watermarked-but-unbounded equi join, both refused") {
    val a = streamEvents.select(col("user_id"), col("ts").as("a_ts"))
    val b = streamEvents.select(col("user_id").as("b_user"), col("ts").as("b_ts"))
    val noWm = a.join(b, col("user_id") === col("b_user"))
    assert(StreamGuard.lint(noWm).exists(f =>
      f.rule == "unbounded-join" && f.detail.contains("watermarks")),
      StreamGuard.lint(noWm).mkString("; "))
    // watermarks alone do NOT bound a stream-stream buffer: without the
    // cross-side time-range conjunct neither side can discard rows —
    // Spark plans this happily (inner join), the guard refuses it
    val aw = streamEvents.withColumn("a_ts", date_trunc("second", col("ts")))
      .withWatermark("a_ts", "1 hour").select(col("user_id"), col("a_ts"))
    val bw = streamEvents.withColumn("b_ts", date_trunc("second", col("ts")))
      .withWatermark("b_ts", "1 hour")
      .select(col("user_id").as("b_user"), col("b_ts"))
    val equiOnly = aw.join(bw, col("user_id") === col("b_user"))
    assert(StreamGuard.lint(equiOnly).exists(f =>
      f.rule == "unbounded-join" && f.detail.contains("time bound")),
      StreamGuard.lint(equiOnly).mkString("; "))
    val bounded = aw.join(bw,
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") && col("b_ts") <= col("a_ts") + expr("INTERVAL 1 hour"))
    assert(StreamGuard.lint(bounded).isEmpty,
      StreamGuard.lint(bounded).mkString("; "))
    // Spark's OTHER documented state bound — joining on time-window
    // equality (a window's buffer expires when the watermark crosses its
    // end) — must admit too, not be a false positive of the range rule
    val awin = aw.select(col("user_id"), window(col("a_ts"), "10 minutes").as("aw"))
    val bwin = bw.select(col("b_user"), window(col("b_ts"), "10 minutes").as("bw"))
    val windowEqui = awin.join(bwin,
      col("user_id") === col("b_user") && col("aw") === col("bw"))
    assert(StreamGuard.lint(windowEqui).isEmpty,
      StreamGuard.lint(windowEqui).mkString("; "))
  }

  test("unbounded-join: a NON-time cross-side range does not count as a state bound") {
    // ADVICE r16: `a.value < b.value` is a range conjunct spanning both
    // sides, but Spark derives state eviction ONLY from ranges on
    // watermarked event-time columns — admitting this would green-light
    // exactly the unbounded-state join the rule exists to refuse
    val aw = streamEvents.withColumn("a_ts", date_trunc("second", col("ts")))
      .withWatermark("a_ts", "1 hour")
      .select(col("user_id"), col("a_ts"), col("value").as("a_v"))
    val bw = streamEvents.withColumn("b_ts", date_trunc("second", col("ts")))
      .withWatermark("b_ts", "1 hour")
      .select(col("user_id").as("b_user"), col("b_ts"), col("value").as("b_v"))
    val nonTimeRange = aw.join(bw,
      col("user_id") === col("b_user") && col("a_v") < col("b_v"))
    assert(StreamGuard.lint(nonTimeRange).exists(f =>
      f.rule == "unbounded-join" && f.detail.contains("time bound")),
      StreamGuard.lint(nonTimeRange).mkString("; "))
    // the legitimate interval form stays TimestampType on both operands
    // and still admits (regression pin for the timeTyped range check)
    val bounded = aw.join(bw,
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") && col("b_ts") <= col("a_ts") + expr("INTERVAL 1 hour"))
    assert(StreamGuard.lint(bounded).isEmpty,
      StreamGuard.lint(bounded).mkString("; "))
  }

  test("unbounded-custom-state: NoTimeout flatMapGroupsWithState refused; ProcessingTimeTimeout twin admits") {
    // r16 verdict ask #2: a custom-state stream with no machine-provable
    // expiry path is exactly as unbounded as a watermark-less aggregate
    val noTimeout = StatefulOps.runningUserStats(
      StatefulOps.asUserEvents(streamEvents)).toDF()
    val fs = StreamGuard.lint(noTimeout)
    assert(fs.exists(f => f.rule == "unbounded-custom-state" && f.fatal &&
      f.detail.contains("NoTimeout")), fs.mkString("; "))
    intercept[graft.engine.PlanGuard.PlanRejected](StreamGuard.admit(noTimeout))
    val expiring = StatefulOps.runningUserStatsExpiring(
      StatefulOps.asUserEvents(streamEvents)).toDF()
    assert(StreamGuard.lint(expiring).isEmpty,
      StreamGuard.lint(expiring).mkString("; "))
    // EventTimeTimeout WITHOUT a watermark below: timers can never fire
    import spark.implicits._
    val noWm = StatefulOps.asUserEvents(streamEvents)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[StatefulOps.UserStats, StatefulOps.UserStats](
        org.apache.spark.sql.streaming.OutputMode.Update,
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        (uid, batch, state) =>
          Iterator.single(StatefulOps.UserStats(uid, batch.size.toLong, 0L, 0.0))
      }.toDF()
    assert(StreamGuard.lint(noWm).exists(f =>
      f.rule == "unbounded-custom-state" && f.detail.contains("EventTimeTimeout")),
      StreamGuard.lint(noWm).mkString("; "))
  }

  test("unbounded-custom-state: TimeMode.None transformWithState refused; TTL'd ProcessingTime twin admits; batch twin lints empty") {
    val ev = StatefulOps.asUserEventsCents(streamEvents)
    val none = StatefulOps.runningUserStatsTws(ev).toDF()
    val fs = StreamGuard.lint(none)
    assert(fs.exists(f => f.rule == "unbounded-custom-state" && f.fatal &&
      f.detail.contains("TimeMode.None")), fs.mkString("; "))
    val ttl = StatefulOps.runningUserStatsTwsTtl(ev).toDF()
    assert(StreamGuard.lint(ttl).isEmpty, StreamGuard.lint(ttl).mkString("; "))
    // the BATCH twin (the st9 oracle form) is untouched — the rules only
    // exist for streaming state
    val batchTws = StatefulOps.runningUserStatsTws(
      StatefulOps.asUserEventsCents(Tables.events(spark, TestSpark.sfDir))).toDF()
    assert(StreamGuard.lint(batchTws).isEmpty)
  }

  test("unguarded-custom-state: a TTL-less CLOCKED raw processor is refused at attach; the GuardedStatefulProcessor twin admits") {
    // r17 verdict ask #3 — the residual the plan cannot see: a
    // ProcessingTime-mode processor whose state variables skip TTLConfig
    // used to admit (TTL is per-variable runtime config, plan-invisible).
    // The guard now requires the GuardedStatefulProcessor seam, where the
    // TTL is a constructor obligation.
    import spark.implicits._
    val ev = StatefulOps.asUserEventsCents(streamEvents)
    val rawClocked = ev.groupByKey(_.user_id)
      .transformWithState(new StatefulOps.RunningStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Update()).toDF()
    val fs = StreamGuard.lint(rawClocked)
    assert(fs.exists(f => f.rule == "unguarded-custom-state" && f.fatal &&
      f.detail.contains("GuardedStatefulProcessor")), fs.mkString("; "))
    intercept[graft.engine.PlanGuard.PlanRejected](StreamGuard.admit(rawClocked))
    // the guarded twin (RunningStatsProcessorTtl extends the base) admits
    val guarded = StatefulOps.runningUserStatsTwsTtl(ev).toDF()
    assert(StreamGuard.lint(guarded).isEmpty, StreamGuard.lint(guarded).mkString("; "))
  }

  test("GuardedStatefulProcessor: TTL is a constructor obligation; guardedHandle refuses TTLConfig.NONE") {
    import org.apache.spark.sql.streaming.TTLConfig
    // NONE (= PT0S) / zero / negative all refused at construction.
    // (Spark's own TTLConfig.apply refuses a negative Duration with a
    // SparkRuntimeException before our guard can — both are refusals, so
    // the pin accepts either exception type for that case.)
    for (bad <- Seq(TTLConfig.NONE.ttlDuration, java.time.Duration.ZERO,
        java.time.Duration.ofDays(-1))) {
      val e = intercept[Exception] {
        new StatefulOps.RunningStatsProcessorTtl(bad)
      }
      assert(e.isInstanceOf[IllegalArgumentException] ||
        e.getClass.getName.contains("SparkRuntimeException"), e.toString)
    }
    // a positive TTL constructs, and its batch emission equals the
    // TTL-less batch twin (TTL only changes idle-key retention)
    val ev = StatefulOps.asUserEventsCents(Tables.events(spark, TestSpark.sfDir))
    val base = StatefulOps.runningUserStatsTws(ev).collect().map(s => s.user_id -> s).toMap
    val ttl = StatefulOps.runningUserStatsTwsTtl(ev).collect().map(s => s.user_id -> s).toMap
    assert(ttl == base && base.nonEmpty)
    // guardedHandle's acquisition wrappers refuse a NONE per-variable TTL
    // (enforced before any delegation — no live handle needed)
    val p = new GuardedStatefulProcessor[Long, Long, Long](
        TTLConfig(java.time.Duration.ofDays(1))) {
      override def init(om: org.apache.spark.sql.streaming.OutputMode,
                        tm: org.apache.spark.sql.streaming.TimeMode): Unit = ()
      override def handleInputRows(k: Long, rows: Iterator[Long],
          tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Long] = rows
      def tryNone(): Unit = guardedHandle.getValueState[Long]("s",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    intercept[IllegalArgumentException](p.tryNone())
  }

  test("batch frames lint empty — the rules only exist for streaming state") {
    val batch = Tables.events(spark, TestSpark.sfDir).groupBy("event_type").count()
    assert(StreamGuard.lint(batch).isEmpty)
    assert(StreamGuard.admit(batch) eq batch)
  }

  test("attach funnels are guarded: an unbounded-state stream is refused AT attach(), before start()") {
    val offender = streamEvents.groupBy("event_type").count()
      .selectExpr("event_type as doc_id", "cast(count as string) as text")
    val root = Files.createTempDirectory("graft-streamguard-dd").toString
    intercept[graft.engine.PlanGuard.PlanRejected](
      graft.pipeline.IncrementalIngest.attach(offender, root))
    intercept[graft.engine.PlanGuard.PlanRejected](
      graft.ops.VectorIndex.attach(offender, root))
  }

  test("registry audit: every registry stream shape admits") {
    def ev = streamEvents.withColumn("ts", date_trunc("second", col("ts")))
    def guarded = Admission.guard(ev, "ts", "3650 days", Seq("event_id"))
    val shapes: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "tumbling" -> EventStreams.tumblingCounts(ev),
      "sliding" -> EventStreams.slidingCounts(ev),
      "ss_inner" -> EventStreams.clickPurchaseJoin(ev, ev),
      "ss_left" -> EventStreams.clickPurchaseJoinOuter(ev, ev),
      "ss_full" -> EventStreams.clickPurchaseJoinFull(ev, ev),
      "stream_static" -> EventStreams.enrichedSegmentCounts(ev,
        Tables.customer(spark, TestSpark.sfDir)
          .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))),
      "sessions" -> EventStreams.userSessions(ev),
      "session_attrib_guarded" -> EventStreams.sessionAttributionGuarded(guarded, guarded),
      "admission_observed" -> Admission.guardObserved(ev, "ts", "1 hour", Seq("event_id")),
      "custom_state_expiring" -> StatefulOps.runningUserStatsExpiring(
        StatefulOps.asUserEvents(streamEvents)).toDF(),
      "custom_state_tws_ttl" -> StatefulOps.runningUserStatsTwsTtl(
        StatefulOps.asUserEventsCents(streamEvents)).toDF())
    val bad = shapes.flatMap { case (name, df) =>
      val fs = try StreamGuard.lint(df)
      catch { case e: Throwable => Seq(graft.engine.PlanGuard.Finding(
        "lint-error", fatal = true, name, e.toString)) }
      fs.filter(_.fatal).map(name -> _)
    }
    assert(bad.isEmpty,
      bad.map { case (n, f) => s"$n: [${f.rule}] ${f.detail}" }.mkString("\n"))
  }
}
