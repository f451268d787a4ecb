package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.{Det, Skew}

/** Skew-rung measurement (VERDICT r14 ask #7; multi-rung + aggregate
  * scenarios r15 ask #8): materialize a deliberately hub-skewed variant of
  * a ladder rung — ONE hot orderkey owning ~25% of lineitem rows — and
  * measure the same fact⋈fact join+agg under four plans, instrumenting the
  * per-task SHUFFLE-READ ROW distribution of the join's reduce stage
  * (rows, not task durations: scan-stage file layout can't pollute it, and
  * rows are what the hot task's CPU actually pays):
  *
  *  - `aqe_bytes_blind`: AQE skew-join ON at thresholds sized to the rung
  *        (16 MB / 2× median). Does NOT split: detection is BYTES-based
  *        and the hot partition compresses ~35:1 (constant join key +
  *        replicated payloads → 3.38M rows report ~3 MB against a 1.56 MB
  *        median), so a 9×-rows CPU hotspot hides below the byte factor.
  *  - `aqe_tuned`: thresholds pushed under the compressed sizes so the
  *        split FIRES — and barely helps (9.0→7.8): the split partitions
  *        by map BYTE ranges, and bytes:rows varies inside the partition
  *        too. Byte-proportional splitting cannot fix row skew under
  *        non-uniform compression.
  *  - `no_mitigation`: AQE skew-join OFF — the 9×-rows tail, undisguised.
  *  - `salted_hot`: [[graft.ops.Skew.saltedJoinHot]] with hot keys
  *        detected by the ROW-frequency sample [[graft.ops.Skew.hotKeys]]
  *        — row-aware, so it bounds the row tail (measured 1.6×)
  *        regardless of how the payload compresses.
  *
  * Plus the j26-shaped DIMENSION-join pair (`dim_scenarios`): a hot
  * custkey on the right side of customer LEFT JOIN orders, where AQE may
  * not split at all (stream side of an outer join) — join-then-agg pays
  * the 5× row tail, the [[graft.queries.JoinQueries]] j2-style
  * aggregate-before-join rewrite collapses the hot key map-side (1.0×).
  *
  * Plus the p8-family TWO-PHASE AGGREGATE pair (`agg_scenarios`, r15 ask
  * #8). Decomposable aggregates never exhibit the hub tail — map-side
  * partials emit one row per (task, key), so a plain
  * `GROUP BY hot_key` count/sum arrives at the reduce bounded (and
  * Spark 4 even spreads `count(DISTINCT v)`'s dedup exchange by (key, v)
  * — verified against the physical plan). The aggregate shape that DOES
  * ship every raw row of the hub to one task is the PER-ROW ENRICHMENT
  * form, `sum() OVER (PARTITION BY key)` — "each line's share of its
  * order's revenue" — because WindowExec needs a key's whole partition
  * on one task. The p8-style two-phase rewrite computes the per-key
  * aggregate FIRST (decimal partials bound the hub map-side) and joins
  * the K-row... order-count-row sliver back with the row-aware salted
  * join: no stage ever holds the hub's raw rows on one task. Money runs
  * in exact decimal in BOTH plans, so the per-line shares are
  * bit-identical and the parity gate is exact.
  *
  * Broadcast is disabled in the fact scenarios (neither side broadcasts at
  * 100 TB). Every scenario pair is parity-gated to identical results.
  * Multi-rung: each `label=baseDir[:skewDir]` arg runs the full scenario
  * set at that rung (r15 ask: the sf5 entry shows the row-tail bound holds
  * as the hot key doubles again). Emits one JSON artifact
  * (SKEW_BENCH.json) with per-rung objects. Dev/evidence tool — not part
  * of the library surface.
  */
object SkewBench {

  /** Fraction of lineitem rows rewired to the hot orderkey. */
  private val HotShare = 4L

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: SkewBench <outJson> <label>=<baseSfDir>[:<skewDir>] ...")
    val outJson = args(0)
    val usage = "usage: SkewBench <outJson> <label>=<baseSfDir>[:<skewDir>] ..."
    val rungs: Seq[(String, String, String)] = args.drop(1).toSeq.map { spec =>
      val eq = spec.indexOf('=')
      require(eq > 0 && eq < spec.length - 1, s"bad rung spec '$spec' — $usage")
      val label = spec.substring(0, eq)
      val dirs = spec.substring(eq + 1)
      // the base:skew separator is the first ':' NOT opening a URI scheme
      // ("hdfs://", "s3a://") — a scheme colon is always followed by "//"
      val sep = dirs.indices.find(i => dirs(i) == ':' && !dirs.startsWith("://", i))
      sep match {
        case None    => (label, dirs, s"target/testdata/${label}skew")
        case Some(i) =>
          val (base, skew) = (dirs.substring(0, i), dirs.substring(i + 1))
          require(base.nonEmpty && skew.nonEmpty, s"bad rung spec '$spec' — $usage")
          (label, base, skew)
      }
    }

    val spark = graft.engine.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")

    val parts = rungs.map { case (label, base, skew) =>
      println(s"[skew] ==== rung $label base=$base skew=$skew ====")
      val (obj, ok) = runRung(spark, base, skew)
      (label, obj, ok)
    }
    val ok = parts.forall(_._3)
    val json =
      s"""{"metric":"skew_bench","hot_share":"1/$HotShare",""" +
        s""""rungs":{${parts.map(p => s""""${p._1}":${p._2}""").mkString(",")}},""" +
        s""""ok":$ok}"""
    Files.write(Paths.get(outJson), json.getBytes("UTF-8"))
    println(json)
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** One rung: materialize the skewed tables, run all scenario pairs,
    * return (json object text, ok). */
  def runRung(spark: SparkSession, baseDir: String, skewDir: String): (String, Boolean) = {

    // ---- materialize the skewed rung (idempotent) --------------------
    val liPath = s"$skewDir/lineitem.parquet"
    val ordPath = s"$skewDir/orders.parquet"
    if (!Files.exists(Paths.get(liPath))) {
      val li = Tables.lineitem(spark, baseDir)
      val hotKey = lit(1L)
      // deterministic 1-in-HotShare rewire (no rand: re-runs bit-match)
      li.withColumn("l_orderkey",
          when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey")), lit(HotShare)) === 0, hotKey)
            .otherwise(col("l_orderkey")))
        .write.mode("overwrite").parquet(liPath)
      Tables.orders(spark, baseDir).write.mode("overwrite").parquet(ordPath)
    }

    // ---- the measured join+agg ---------------------------------------
    // revenue per order priority over the skewed orderkey join: the join
    // stage carries the hot key; the aggregate output is 5 rows (parity
    // comparison is driver-trivial, the skew lives in the shuffle).
    def joined(plain: Boolean, hot: Seq[Long]): DataFrame = {
      val li = spark.read.parquet(liPath)
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_extendedprice"), col("l_discount"))
      val ord = spark.read.parquet(ordPath)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val j =
        if (plain) li.join(ord, Seq("o_orderkey"))
        else Skew.saltedJoinHot(li, ord, "o_orderkey", hot, salts = 32)
      j.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
    }

    // ---- per-task stage stats via listener ----------------------------
    // The skew instrument is the per-task SHUFFLE-READ RECORD distribution
    // of the biggest shuffle consumer (the join/agg reduce stage): key skew
    // shows as a records imbalance there, while scan stages (whose task
    // durations vary with parquet file layout, not keys) read no shuffle
    // data and so can't pollute the measurement.
    val taskStats = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        taskStats.synchronized {
          val recs = Option(e.taskMetrics)
            .map(_.shuffleReadMetrics.recordsRead).getOrElse(0L)
          taskStats += ((e.stageId, e.taskInfo.duration, recs))
        }
    }
    spark.sparkContext.addSparkListener(listener)

    /** Stats of the stage consuming the most shuffle records:
      * (stage, tasks, maxRecs, medRecs, recsRatio, maxMs, medMs). */
    def shuffleStage(): (Int, Int, Long, Long, Double, Long, Long) =
      taskStats.synchronized {
        val byStage = taskStats.groupBy(_._1)
        val (sid, ts) = byStage.maxBy(_._2.map(_._3).sum)
        val recs = ts.map(_._3).toSeq.sorted
        val durs = ts.map(_._2).toSeq.sorted
        val medR = math.max(recs(recs.size / 2), 1L)
        (sid, ts.size, recs.max, medR, recs.max.toDouble / medR,
          durs.max, math.max(durs(durs.size / 2), 1L))
      }

    def measure(name: String, df: => DataFrame): (String, Set[String], Double) = {
      taskStats.synchronized(taskStats.clear())
      val t0 = System.nanoTime()
      val rows = df.collect().map(_.toSeq.mkString("|")).toSet
      val wall = (System.nanoTime() - t0) / 1e9
      // every task-end event of the action reaches the buffer first
      graft.pipeline.PipelineMetrics.drain(spark.sparkContext)
      val (sid, n, maxR, medR, ratio, maxMs, medMs) = shuffleStage()
      val stats = s""""$name":{"wall_sec":${f"$wall%.2f"},"stage":$sid,""" +
        s""""tasks":$n,"max_task_rows":$maxR,"median_task_rows":$medR,""" +
        s""""rows_max_over_median":${f"$ratio%.2f"},""" +
        s""""max_task_ms":$maxMs,"median_task_ms":$medMs}"""
      println(s"[skew] $name wall=${f"$wall%.1f"}s stage=$sid tasks=$n " +
        s"rows max=$maxR med=$medR ratio=${f"$ratio%.1f"} (ms $maxMs/$medMs)")
      (stats, rows, ratio)
    }

    def withConfs[T](confs: Map[String, String])(body: => T): T = {
      // conf.get can RETURN null (a defined key with a null default, e.g.
      // adaptive.autoBroadcastJoinThreshold) — treat that as unset too
      val saved = confs.keys.map(k =>
        k -> scala.util.Try(spark.conf.get(k)).toOption.filter(_ != null)).toSeq
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

    def runScenario(name: String, confs: Map[String, String],
                    plain: Boolean, hot: Seq[Long]): (String, Set[String], Double) =
      withConfs(confs)(measure(name, joined(plain, hot)))

    val noBroadcast = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

    // hot keys detected, not assumed — the production pre-pass
    val hot = Skew.hotKeys(spark.read.parquet(liPath).select(col("l_orderkey")
      .as("o_orderkey")), "o_orderkey", minShare = 0.05)
    println(s"[skew] detected hot keys: ${hot.mkString(",")}")

    // TWO AQE scenarios because they demonstrate different facts.
    // aqe_bytes_blind: skew-join ON with byte thresholds sized for the
    // rung (16 MB / 2× median) does NOT split this partition — detection
    // is BYTES-based and the hot partition compresses ~35:1 (constant
    // join key + replicated values), so a 9×-rows CPU hotspot hides below
    // the byte factor. Row skew with compressible payloads is invisible
    // to AQE — the case that keeps row-aware targeted salting necessary.
    val (sAqeBlind, rAqeBlind, _) = runScenario("aqe_bytes_blind",
      noBroadcast ++ Map(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m",
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true"),
      plain = true, hot = Nil)
    // aqe_tuned: thresholds pushed under the compressed sizes (factor 1.5,
    // 2 MB threshold, 1 MB advisory) — the split FIRES but splits by map
    // BYTE ranges, and bytes:rows varies inside the partition too, so the
    // row tail barely moves (9.0→7.8 measured). Byte-proportional
    // splitting cannot fix row skew under non-uniform compression.
    val (sAqe, rAqe, _) = runScenario("aqe_tuned",
      noBroadcast ++ Map(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.5",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true"),
      plain = true, hot = Nil)
    val (sNone, rNone, ratioNone) = runScenario("no_mitigation",
      noBroadcast ++ Map("spark.sql.adaptive.skewJoin.enabled" -> "false"),
      plain = true, hot = Nil)
    val (sSalt, rSalt, ratioSalt) = runScenario("salted_hot",
      noBroadcast ++ Map("spark.sql.adaptive.skewJoin.enabled" -> "false"),
      plain = false, hot = hot)

    // ---- j26-shaped DIMENSION-join skew (hot custkey) -----------------
    // The case AQE cannot fix: in customer LEFT JOIN orders the skewed
    // side is the RIGHT side of a LeftOuter, which OptimizeSkewedJoin may
    // not split (splitting the stream side of an outer join duplicates
    // unmatched rows). The engineering answer is the j2/j26 rewrite:
    // PRE-AGGREGATE orders by custkey — map-side combine absorbs the hot
    // key before the shuffle, one row per customer crosses the wire.
    val ordHotPath = s"$skewDir/orders_hotcust.parquet"
    if (!Files.exists(Paths.get(ordHotPath))) {
      val ord = Tables.orders(spark, baseDir)
      ord.withColumn("o_custkey",
          when(pmod(xxhash64(col("o_orderkey")), lit(HotShare)) === 0, lit(1L))
            .otherwise(col("o_custkey")))
        .write.mode("overwrite").parquet(ordHotPath)
    }
    def custHistogram(preAgg: Boolean): DataFrame = {
      val cust = Tables.customer(spark, baseDir).select("c_custkey")
      val ord = spark.read.parquet(ordHotPath)
        .filter(!col("o_orderpriority").like("%URGENT%"))
        .select("o_custkey", "o_orderkey")
      val counts =
        if (preAgg)
          cust.join(ord.groupBy("o_custkey").agg(count(lit(1)).as("n")),
              col("c_custkey") === col("o_custkey"), "left")
            .select(coalesce(col("n"), lit(0L)).as("c_count"))
        else
          cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
            .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
            .select("c_count")
      counts.groupBy("c_count").agg(count(lit(1)).as("custdist"))
    }
    // both dim scenarios under no-broadcast + AQE skew ON: show that AQE
    // alone does NOT bound the outer-join right-side skew, pre-agg does
    val dimConfs = noBroadcast ++ Map("spark.sql.adaptive.skewJoin.enabled" -> "true")
    val (sJoinAgg, rJoinAgg, ratioJoinAgg) =
      withConfs(dimConfs)(measure("dim_join_then_agg", custHistogram(preAgg = false)))
    val (sPreAgg, rPreAgg, ratioPreAgg) =
      withConfs(dimConfs)(measure("dim_agg_before_join", custHistogram(preAgg = true)))

    // ---- p8-family TWO-PHASE AGGREGATE under the hub key --------------
    // Per-line share of its order's revenue. Window form: WindowExec
    // hash-partitions RAW rows by l_orderkey — the hub's ~25% of the fact
    // lands on ONE task. Two-phase form: per-order decimal totals first
    // (map-side partials bound the hub to one row per scan task), then
    // the row-aware salted join attaches them back — no stage holds the
    // hub's raw rows on one task. Exact-decimal money in both plans ⇒
    // bit-identical shares ⇒ exact parity. The output is reduced to a
    // 3-row per-flag summary (decimal share sums are order-independent).
    def shareSummary(twoPhase: Boolean, hot: Seq[Long]): DataFrame = {
      val dec = org.apache.spark.sql.types.DecimalType(18, 4)
      val li = spark.read.parquet(liPath)
        .select(col("l_orderkey"), col("l_returnflag"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(dec).as("line_rev"))
      val enriched =
        if (!twoPhase) {
          val w = org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")
          li.withColumn("order_rev", sum(col("line_rev")).over(w))
        } else {
          val totals = spark.read.parquet(liPath)
            .select(col("l_orderkey"),
              (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                .cast(dec).as("line_rev"))
            .groupBy("l_orderkey").agg(sum(col("line_rev")).as("order_rev"))
          Skew.saltedJoinHot(li, totals, "l_orderkey", hot, salts = 32)
        }
      enriched
        .withColumn("share",
          (col("line_rev") / col("order_rev")).cast(dec))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("share")).cast("string").as("share_sum"))
    }
    val aggConfs = noBroadcast ++ Map("spark.sql.adaptive.skewJoin.enabled" -> "false")
    val (sWin, rWin, ratioWin) =
      withConfs(aggConfs)(measure("agg_window_over_hub", shareSummary(twoPhase = false, Nil)))
    val (sTwo, rTwo, ratioTwo) =
      withConfs(aggConfs)(measure("agg_twophase_salted", shareSummary(twoPhase = true, hot)))

    spark.sparkContext.removeSparkListener(listener)

    val parity = rAqe == rNone && rNone == rSalt && rAqeBlind == rNone && rAqe.nonEmpty
    val dimParity = rJoinAgg == rPreAgg && rJoinAgg.nonEmpty
    val aggParity = rWin == rTwo && rWin.nonEmpty
    // the ROW-AWARE mitigations must bound the rows tail the unmitigated
    // plan exhibits. The two AQE scenarios are recorded, not gated — they
    // exist to demonstrate the byte-based detection/split gap (blind: no
    // split at realistic thresholds; tuned: fires but the byte-range
    // split barely moves the row tail), which is precisely why the
    // row-aware forms below stay necessary.
    val ok = parity && dimParity && aggParity && hot.nonEmpty &&
      ratioSalt < ratioNone / 2 &&
      ratioPreAgg < ratioJoinAgg / 2 &&
      ratioTwo < ratioWin / 2

    val obj =
      s"""{"base":"$baseDir","skew_dir":"$skewDir",""" +
        s""""hot_keys":[${hot.mkString(",")}],""" +
        s""""scenarios":{$sAqeBlind,$sAqe,$sNone,$sSalt},""" +
        s""""dim_scenarios":{$sJoinAgg,$sPreAgg},"dim_parity":$dimParity,""" +
        s""""agg_scenarios":{$sWin,$sTwo},"agg_parity":$aggParity,""" +
        s""""parity":$parity,"ok":$ok}"""
    (obj, ok)
  }
}
