package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Totality over the EMPTY corpus — the boundary every incremental /
  * scheduled pipeline actually hits (a quiet ingest hour, a filter that
  * drops everything, the first run ever). Each operator family must
  * return an empty, correctly-shaped frame — never throw, never hang in
  * an iteration loop, never divide by a zero total. */
class EmptyInputSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def emptyDocs: DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))

  private def emptyPairs: DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("id1", LongType), StructField("id2", LongType))))

  test("dedup family: empty corpus yields empty pairs, clusters, and index without iteration") {
    assert(Dedup.minhashNearDup(emptyDocs).count() == 0)
    assert(Dedup.exactJaccardPairs(Dedup.shingleDF(emptyDocs), 0.8).count() == 0)
    val labels = Dedup.connectedComponents(emptyPairs)
    assert(labels.count() == 0)
    assert(labels.columns.toSeq == Seq("doc_id", "cluster"))
    assert(Dedup.lshBandIndex(emptyDocs).count() == 0)
    assert(Dedup.shingleDfTable(Dedup.shingleDF(emptyDocs)).count() == 0)
  }

  test("incremental dedup: empty batch against a real index, and a real batch against an empty index") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sfDir).limit(50)
    val index = Dedup.lshBandIndex(docs)
    assert(Dedup.incrementalNearDup(emptyDocs, docs, index).count() == 0)
    val some = docs.filter(col("doc_id") < 10)
    // empty archive: only within-batch pairs can surface; must not throw
    Dedup.incrementalNearDup(some, emptyDocs, Dedup.lshBandIndex(emptyDocs)).count()
    assert(Dedup.updateClusters(Dedup.connectedComponents(emptyPairs), emptyPairs).count() == 0)
  }

  test("graph + decontam: empty pair graph and empty eval set are total") {
    assert(Graph.pageRank(emptyPairs, iters = 3).count() == 0)
    assert(Graph.pageRankFixedPoint(emptyPairs, iters = 3).count() == 0)
    assert(Graph.kCore(emptyPairs, k = 3, iters = 3).count() == 0)
    val train = graft.model.Tables.documents(spark, TestSpark.sfDir).limit(20)
    assert(Decontam.contamination(train, emptyDocs, k = 5).count() == 0)
    assert(Decontam.contamination(emptyDocs, train, k = 5).count() == 0)
  }

  test("mergeable states: empty slices merge with real slices as identities") {
    val li = graft.model.Tables.lineitem(spark, TestSpark.sfDir)
    val keys = Seq("l_returnflag")
    val empty = li.filter(lit(false))
    val full = Merge.partialStats(li, keys, "l_quantity")
    val merged = Merge.mergeStats(Seq(full, Merge.partialStats(empty, keys, "l_quantity")), keys)
    val a = Merge.finalizeStats(full, keys).orderBy(keys.head).collect().map(_.toSeq).toSeq
    val b = Merge.finalizeStats(merged, keys).orderBy(keys.head).collect().map(_.toSeq).toSeq
    assert(a == b, "empty slice must be the merge identity")
    assert(Merge.finalizeQuantiles(
      Merge.partialQuantileState(empty, keys, "l_quantity"), keys, Seq(0.5)).count() == 0)
    assert(Merge.finalizeTopK(Merge.partialFreqState(empty, keys, "l_returnflag"), keys, 3).count() == 0)
  }

  test("packing + mixture: empty corpus packs to zero shards and mixes to zero rows") {
    val emptyTok = emptyDocs.select(col("doc_id"), col("n_chars").as("n_tokens"))
    assert(Packing.packByBudget(emptyTok, "doc_id", "n_tokens", 1000L).count() == 0)
    assert(Mixture.temperatureMixture(emptyDocs, budget = 100).count() == 0)
  }

  test("retraction: empty delete batch is the identity; empty state retracts to empty") {
    val li = graft.model.Tables.lineitem(spark, TestSpark.sfDir)
    val keys = Seq("l_returnflag")
    val empty = li.filter(lit(false))
    val state = Merge.partialStats(li, keys, "l_quantity")
    val identity = Merge.finalizeStats(
      Merge.retractStats(state, empty, li, keys, "l_quantity"), keys)
      .orderBy(keys.head).collect().map(_.toSeq).toSeq
    val direct = Merge.finalizeStats(state, keys)
      .orderBy(keys.head).collect().map(_.toSeq).toSeq
    assert(identity == direct, "empty delete must be the retraction identity")
    assert(Merge.retractStats(Merge.partialStats(empty, keys, "l_quantity"),
      empty, empty, keys, "l_quantity").count() == 0)
    val hist = Merge.partialQuantileState(li, keys, "l_quantity")
    val histIdentity = Merge.retractHistState(hist,
      Merge.partialQuantileState(empty, keys, "l_quantity"), keys)
    assert(histIdentity.count() == hist.count())
  }

  test("IQR filter: an empty or all-null column has no quartiles and cleans to empty (exact and approx)") {
    val empty = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("x", DoubleType))))
    val allNull = Seq(Option.empty[Double], None, None).toDF("x")
    for ((df, what) <- Seq(empty -> "empty", allNull -> "all-null")) {
      assert(Cleaning.quartilesExact(df, "x").isEmpty, what)
      assert(Cleaning.quartilesApprox(df, "x").isEmpty, what)
      for (exact <- Seq(true, false))
        assert(Cleaning.iqrFilter(df, "x", exact = exact).count() == 0, s"$what exact=$exact")
    }
  }

  test("SCD-2 + sessionization: empty changelog, empty facts, and empty events are total") {
    val emptyChg = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("k", LongType), StructField("eff", TimestampType),
        StructField("attr", StringType))))
    val scd = Scd.buildScd2(emptyChg, Seq("k"), "eff")
    assert(scd.count() == 0)
    assert(scd.columns.toSeq == Seq("k", "attr", "valid_from", "valid_to", "is_current"))
    val emptyFacts = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("fid", LongType), StructField("k_fact", LongType),
        StructField("t", TimestampType))))
    // empty facts against a real dim; real facts against an empty dim
    val realChg = Seq((1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), "A"))
      .toDF("k", "eff", "attr")
    val realDim = Scd.buildScd2(realChg, Seq("k"), "eff")
    assert(Scd.pointInTime(emptyFacts, realDim, Seq("k_fact" -> "k"), "t").count() == 0)
    val realFacts = Seq((1L, 1L, java.sql.Timestamp.valueOf("2021-01-01 00:00:00")))
      .toDF("fid", "k_fact", "t")
    val joined = Scd.pointInTime(realFacts, scd, Seq("k_fact" -> "k"), "t")
    assert(joined.count() == 1 && joined.select("attr").head().isNullAt(0))
    // empty batch into updateScd2 passes the table through unchanged
    assert(Scd.updateScd2(realDim, emptyChg, Seq("k"), "eff")
      .collect().map(_.toSeq).toSet == realDim.collect().map(_.toSeq).toSet)
    // empty event frame sessionizes to zero sessions
    val emptyEvents = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("ts", TimestampType))))
    assert(Funnel.sessionize(emptyEvents, gapMicros = 1000L).count() == 0)
  }

  test("round-9 operators: interval overlap, triangles, as-of variants, kmv, and bloom are total on empty") {
    def emptyIv(pre: String): DataFrame =
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField(s"${pre}id", LongType), StructField(s"${pre}k", StringType),
          StructField(s"${pre}lo", DoubleType), StructField(s"${pre}hi", DoubleType))))
    val realIv = Seq((1L, "u", 0.0, 10.0)).toDF("rid", "rk", "rlo", "rhi")
    // empty left vs real right, and empty vs empty
    assert(RangeJoin.intervalOverlap(emptyIv("l"), realIv,
      "llo", "lhi", "rlo", "rhi", 4.0, keys = Seq("lk" -> "rk")).count() == 0)
    assert(RangeJoin.intervalOverlap(emptyIv("l"), emptyIv("r"),
      "llo", "lhi", "rlo", "rhi", 4.0).count() == 0)

    val emptyPairs2 = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("id1", LongType), StructField("id2", LongType))))
    assert(Graph.triangles(emptyPairs2).count() == 0)
    assert(Graph.triangleCounts(emptyPairs2).count() == 0)

    // as-of forward/nearest: empty left keeps schema; empty right keeps
    // every left row with a null match
    val emptyL = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("id", LongType), StructField("k", LongType),
        StructField("t", TimestampType))))
    val emptyR = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("k", LongType), StructField("rt", TimestampType))))
    val realL = Seq((1L, 9L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
      .toDF("id", "k", "t")
    assert(AsOf.asofForward(emptyL, emptyR, "k", "t", "rt").count() == 0)
    val fw = AsOf.asofForward(realL, emptyR, "k", "t", "rt").collect()
    assert(fw.length == 1 && fw.head.isNullAt(3))
    val nr = AsOf.asofNearest(realL, emptyR, "k", "t", "rt").collect()
    assert(nr.length == 1 && nr.head.isNullAt(3))
    val bk = AsOf.asofBackward(realL, emptyR, "k", "t", "rt",
      payloadCols = Nil).collect()
    assert(bk.length == 1 && bk.head.isNullAt(3))

    // kmv: empty slice is an identity in the merge; pairwise over an
    // empty state yields no pairs
    val emptyVals = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("src", StringType), StructField("v", LongType))))
    val realVals = Seq(("a", 1L), ("a", 2L), ("b", 2L)).toDF("src", "v")
    val pri = Merge.samplePriorityFast(Seq("v"))
    val emptyState = Merge.kmvState(emptyVals, "src", pri, 8)
    assert(emptyState.count() == 0)
    val mergedK = Merge.mergeKmvStates(
      Seq(Merge.kmvState(realVals, "src", pri, 8), emptyState), "src", 8)
    assert(mergedK.collect().map(_.toSeq).toSet ==
      Merge.kmvState(realVals, "src", pri, 8).collect().map(_.toSeq).toSet)
    assert(Merge.kmvPairwiseJaccard(emptyState, "src", 8).count() == 0)

    // bloom: empty state probes everything false; empty probe set is empty
    val bpos = Merge.bloomPositionsFast(col("val"), 256L, 2)
    val emptyB = Merge.bloomState(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("g", StringType), StructField("val", StringType)))),
      Seq("g"), bpos)
    assert(emptyB.count() == 0)
    val probes = Seq(("g1", "x")).toDF("g", "val")
    val probed = Merge.bloomProbe(emptyB, probes, Seq("g"), bpos).collect()
    assert(probed.length == 1 && !probed.head.getBoolean(2))
    assert(Merge.bloomProbe(emptyB, probes.limit(0), Seq("g"), bpos).count() == 0)
  }

  test("join-view IVM, boilerplate removal, and cms are total on empty") {
    // IVM: empty deltas are identities; an empty view folds deltas cleanly
    val facts = Seq((1L, 10L, "f1")).toDF("fk", "k", "fval")
    val dims = Seq((10L, "d10")).toDF("k", "dval")
    val v = facts.join(dims, Seq("k"))
    assert(Ivm.maintainJoinView(v.limit(0), facts.limit(0), facts,
      dims.limit(0), dims, Seq("k")).count() == 1)
    assert(Ivm.joinViewDelta(facts.limit(0), facts.limit(0),
      dims.limit(0), dims.limit(0), Seq("k")).count() == 0)
    val ch = Seq((1L, 10L, "x", "upsert", 1L)).toDF("fk", "k", "fval", "op", "seq")
    assert(Ivm.applyToJoinView(v, ch.limit(0), dims, Seq("fk"), Seq("k"))
      .collect().map(_.toSeq).toSet == v.collect().map(_.toSeq).toSet)

    // boilerplate removal: empty corpus → empty, correctly-shaped output
    val rb = TextOps.removeBoilerplate(emptyDocs, "doc_id", "text", 8, 2)
    assert(rb.count() == 0)
    assert(rb.columns.toSeq == Seq("doc_id", "n_segments", "n_dropped", "kept_text"))

    // cms: empty state estimates 0 for every probe; empty probe set empty
    val cpos = Merge.bloomPositionsFast(col("val"), 256L, 3)
    val emptyC = Merge.cmsState(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("g", StringType), StructField("val", StringType)))),
      Seq("g"), cpos)
    assert(emptyC.count() == 0)
    val cprobes = Seq(("g1", "x")).toDF("g", "val")
    val est = Merge.cmsEstimate(emptyC, cprobes, Seq("g"), cpos).collect()
    assert(est.length == 1 && est.head.getLong(2) == 0L)
    assert(Merge.cmsEstimate(emptyC, cprobes.limit(0), Seq("g"), cpos).count() == 0)
  }

  test("retraction edges: empty delete set is the identity; total forget empties the state") {
    val rows = Seq(("A", 5L, 1L), ("A", 7L, 2L), ("B", 3L, 3L))
      .toDF("k", "v", "id")
    val empty = rows.limit(0)

    // moment state: retract(state, partial(∅)) == state; retract everything → 0 rows
    val mState = Merge.partialMomentState(rows, Seq("k"), "v")
    val mKey = (df: DataFrame) => df.orderBy("k").collect().map(_.toSeq).toSeq
    assert(mKey(Merge.retractMomentState(mState,
      Merge.partialMomentState(empty, Seq("k"), "v"), Seq("k"))) == mKey(mState))
    assert(Merge.retractMomentState(mState,
      Merge.partialMomentState(rows, Seq("k"), "v"), Seq("k")).count() == 0)

    // distinct state: same identities (deletes/remaining as ROW frames)
    val dState = Merge.partialDistinctState(rows, Seq("k"), "v")
    assert(mKey(Merge.retractDistinctState(dState, empty, rows, Seq("k"), "v"))
      .toSet == mKey(dState).toSet)
    assert(Merge.retractDistinctState(dState, rows, empty, Seq("k"), "v").count() == 0)

    // bottom-k: empty delete set leaves every key untouched (no rebuild I/O
    // beyond the dirty-key probe); full delete rebuilds to empty
    val pri = Merge.samplePriorityFast(Seq("id"))
    val sState = Merge.partialSampleState(rows, Seq("k"), pri, 2)
    val rebuild = (df: DataFrame) => Merge.partialSampleState(df, Seq("k"), pri, 2)
    assert(mKey(Merge.retractBottomKState(sState, empty, rows, Seq("k"))(rebuild))
      .toSet == mKey(sState).toSet)
    assert(Merge.retractBottomKState(sState, rows, empty, Seq("k"))(rebuild).count() == 0)
  }

  test("composed session attribution: empty event stream is total and correctly shaped") {
    val emptyEvents = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))))
    val out = graft.streaming.EventStreams.sessionAttribution(emptyEvents, emptyEvents)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("user_id", "session_start", "session_end",
      "n_attributions", "n_unconverted_clicks"))
    // clicks with zero purchases anywhere: pure null-completed sessions
    val clicksOnly = Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"),
      7L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = graft.streaming.EventStreams
      .sessionAttribution(clicksOnly, clicksOnly.limit(0)).collect()
    assert(r.length == 1 && r.head.getLong(3) == 0L && r.head.getLong(4) == 1L)
  }
}
