package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Sinks
import graft.model.Tables
import graft.ops.{Cleaning, Det, Features, Quality}
import graft.queries.CoreQueries

/** EP1 — the reference's pipeline orchestration re-expressed
  * (reference: src/main.py:88-309): a per-directory loop ("months"). Each
  * month runs as a dependency DAG; `‖` joins branches that run at the
  * same time, `→` orders steps within a branch, and each phase waits for
  * the one above it:
  * {{{
  *   scan → schema gate                    (metadata only, no job)
  *   A: quality_metrics ‖ (clean_derive → sample_load)
  *   B: supplier_stats ‖ bucket_stats ‖ quality_csv [‖ summary_jdbc]
  *   unpersist
  * }}}
  * Phase A reads only lineitem. `clean_derive` is the IQR quartile pass
  * plus the lazy derive (D1–D3); `sample_load` builds the enriched cache
  * on its own, so that phase B's sinks all read a finished cache.
  * `quality_csv` is the one sink that needs phase A's quality report. If
  * `sample_load` fails, phase B runs its sinks one after another instead,
  * so that exactly one of them builds the cache. Each
  * branch runs on its own driver thread ([[concurrently]]); the stage
  * results keep the order listed above, whatever order the branches
  * finish in.
  *
  * Error-isolation policy is the reference's, made explicit instead of
  * bare try/except (SURVEY.md §7.4.7): a failed schema gate skips the
  * directory (src/main.py:114-116 `continue`); any other failed stage
  * records the error and the run continues (src/main.py:140-145,171-188).
  * A failed `clean_derive` leaves nothing to derive, so of the sinks only
  * `quality_csv` runs.
  *
  * Scale notes: `cache()` holds the enriched frame across the multiple
  * downstream actions exactly like the reference (C1/C2,
  * src/main.py:135-137,293-295); all sinks write distributed; the only
  * driver materializations are the one-row quality report and the two
  * quartiles.
  */
object Pipeline {

  final case class StageResult(stage: String, ok: Boolean, rows: Long, detail: String)
  final case class DirReport(dir: String, stages: Seq[StageResult]) {
    def ok: Boolean = stages.forall(_.ok)
  }

  /** The engine's trip-table analog columns (FIXTURES.md §B mapping). */
  private val requiredCols = Set("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
  private val criticalCols = Set("l_quantity", "l_extendedprice")

  /** Parquet sink + row count in ONE job: an [[Observation]] on the frame
    * counts rows as a side-product of the write itself (CollectMetrics
    * rides the write tasks). The previous shape — write, then
    * `spark.read.parquet(path).count()` for the stage report — re-scanned
    * every artifact it had just written: a full second pass per stage at
    * 100 TB, purely to produce a report number the write already knew. */
  private def parquetCounted(df: DataFrame, path: String,
                             guard: graft.engine.PlanGuard.Policy): Long = {
    // every pipeline artifact passes the batch admission guard before its
    // write is submitted: a plan carrying a non-sliver nested loop fails
    // its stage (PlanRejected → StageResult ok=false) instead of running
    // the 100 TB-fatal job. Plan-only analysis — no extra Spark job. The
    // policy is env-tunable (GRAFT_GUARD_* via Config.fromEnv).
    val admitted = graft.engine.PlanGuard.admit(df, guard)
    val obs = Observation()
    Sinks.parquet(admitted.observe(obs, count(lit(1)).as("rows")), path)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Runs the branches at once and returns their results in the declared
    * order. Each branch gets a fresh driver thread: a new thread copies
    * the caller's Spark local properties (the job group among them) when
    * it is created, while a pooled thread keeps the ones it was created
    * with, so its jobs would land in a stale group. Every branch is joined
    * before this returns or rethrows the first failure in declared order,
    * so no job a branch submitted outlives the call. */
  private[pipeline] def concurrently[T](branches: Seq[() => T]): Seq[T] = {
    val results = new Array[Either[Throwable, T]](branches.size)
    val threads = branches.zipWithIndex.map { case (branch, i) =>
      val t = new Thread(() => results(i) = try Right(branch()) catch { case e: Throwable => Left(e) })
      t.start()
      t
    }
    threads.foreach(_.join())
    results.toSeq.map(_.fold(e => throw e, identity))
  }

  def processDir(spark: SparkSession, dir: String, outDir: String,
                 jdbc: Option[graft.engine.Config.Jdbc] = None,
                 jdbcBatchSize: Int = 1000,
                 guard: graft.engine.PlanGuard.Policy = graft.engine.PlanGuard.Policy.default): DirReport = {
    val stages = scala.collection.mutable.ArrayBuffer.empty[StageResult]
    def stage(name: String)(f: => (Long, String)): StageResult =
      try { val (rows, detail) = f; StageResult(name, ok = true, rows, detail) }
      catch { case e: Exception =>
        StageResult(name, ok = false, -1, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }

    val li =
      try Tables.lineitem(spark, dir)
      catch { case e: Exception =>
        stages += StageResult("scan", ok = false, -1, e.getMessage)
        return DirReport(dir, stages.toSeq)
      }
    stages += StageResult("scan", ok = true, -1, s"schema=${li.columns.length} cols")

    // schema gate — failure skips the directory, like the reference's
    // `continue` (metadata-only check, no job)
    Quality.validateSchema(li, requiredCols, criticalCols) match {
      case Left(err) =>
        stages += StageResult("schema_gate", ok = false, -1, err)
        return DirReport(dir, stages.toSeq)
      case Right(()) =>
        stages += StageResult("schema_gate", ok = true, -1, "ok")
    }

    // phase A: the quality report ‖ (quartile pass → derive → sample_load).
    // sample_load alone builds the enriched cache (C1); phase B reads it
    // only once it is built. Queries that read a cache while another query
    // builds it each launch their own materialization job and plan from
    // cache statistics the build has not finished; with sample_load in
    // phase B, one month's supplier_stats was once written empty while its
    // stage reported success. Each branch writes its own var; the join
    // publishes them.
    var quality: Option[Quality.QualityReport] = None
    var enriched: Option[DataFrame] = None
    def overEnriched(name: String)(f: DataFrame => (Long, String)): Option[() => StageResult] =
      enriched.map(e => () => stage(name)(f(e)))
    try {
      stages ++= concurrently(Seq(
        () => Seq(stage("quality_metrics") {
          val r = Quality.report(li, Seq("l_quantity", "l_extendedprice"), CoreQueries.violationRules)
          quality = Some(r)
          (r.totalRows, f"score=${r.qualityScore}%.2f dups=${r.duplicateCount}")
        }),
        () => {
          // clean + derive (D1–D3); a failed clean leaves nothing to
          // derive, so only quality_csv runs downstream of it
          val clean = stage("clean_derive") {
            val cleaned = Cleaning.iqrFilter(
              Cleaning.applyRules(li, CoreQueries.cleanRules), "l_extendedprice", exact = false)
            enriched = Some(cleaned
              .withColumn("quantity_bucket",
                Features.bucketize(col("l_quantity"), CoreQueries.bucketSplits, CoreQueries.bucketLabels))
              .withColumn("price_per_unit",
                Features.guardedDiv(col("l_extendedprice"), col("l_quantity")))
              .withColumn("discount_pct",
                Features.guardedPct(col("l_extendedprice") * col("l_discount"), col("l_extendedprice")))
              .cache())
            ((-1L), "lazy (materialized by sample_load)")
          }
          // sample-load: the reference's 1%-sample Postgres path
          // (src/main.py:147-188) with a parquet destination
          clean +: overEnriched("sample_load") { e =>
            val sampled = e.sample(withReplacement = false, 0.01, seed = 42).limit(1000)
            (parquetCounted(sampled, s"$outDir/sample_load", guard), "1% seeded sample, 1000-row cap")
          }.map(_()).toSeq
        })).flatten

      // phase B: the other sinks at once, over the built cache; only
      // quality_csv needs phase A's report. A failed sample_load may have
      // left the cache unbuilt: the sinks then run one after another, so
      // the first reader builds it alone and the others read it built.
      val phaseB = Seq(
        overEnriched("supplier_stats") { e =>
          val agg = e.groupBy("l_suppkey").agg(
            count(lit(1)).as("total_lines"),
            Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_revenue"),
            Det.davg(col("l_quantity")).as("avg_quantity"),
            Det.davg(col("l_extendedprice")).as("avg_price"),
            Det.davg(col("l_discount")).as("avg_discount"))
          (parquetCounted(agg, s"$outDir/supplier_stats", guard), "A1 analog")
        },
        overEnriched("bucket_stats") { e =>
          val agg = e.groupBy("quantity_bucket").agg(
            count(lit(1)).as("total_lines"),
            Det.davg(col("l_extendedprice")).as("avg_price"),
            Det.davg(col("l_quantity")).as("avg_quantity"),
            Det.ravg(col("price_per_unit")).as("avg_price_per_unit"))
          (parquetCounted(agg, s"$outDir/bucket_stats", guard), "A2 analog")
        },
        Some(() => stage("quality_csv") {
          import spark.implicits._
          val q = quality.get
          // admit like every other pipeline write (trivially: a 1-row local
          // frame) so "every EP1 write passes the guard" holds literally
          val df = graft.engine.PlanGuard.admit(
            Seq((dir, q.totalRows, q.duplicateCount, q.qualityScore))
              .toDF("dir", "total_rows", "duplicate_count", "quality_score"), guard)
          Sinks.csv(df, s"$outDir/quality_report", singleFile = true)
          // parquet copy backs the Ddl.pipeline_quality catalog table
          Sinks.parquet(df, s"$outDir/pipeline_quality")
          (1L, "quality metrics CSV + parquet")
        }),
        // warehouse summary append — the reference's primary sink
        // (src/main.py:212-227 inserts per-run summary stats into the
        // daily_trip_stats Postgres table). Optional: runs only when a JDBC
        // config is supplied; failure isolates like any stage.
        jdbc.flatMap(j => overEnriched("summary_jdbc") { e =>
          val summary = graft.engine.PlanGuard.admit(e.agg(
            count(lit(1)).as("total_lines"),
            Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_revenue"),
            Det.davg(col("l_quantity")).as("avg_quantity"),
            Det.davg(col("l_extendedprice")).as("avg_price"))
            .withColumn("dir", lit(dir)), guard)
          Sinks.jdbc(summary, j.url, "PIPELINE_SUMMARY", j.user, j.password,
            batchsize = jdbcBatchSize, columnTypes = Some("dir VARCHAR(256)"))
          (1L, s"summary appended to ${j.host}:${j.port}/${j.database}")
        })).flatten
      stages ++= (if (stages.exists(s => s.stage == "sample_load" && s.ok)) concurrently(phaseB)
                  else phaseB.map(_()))
    } finally {
      enriched.foreach(_.unpersist()) // C2
    }
    DirReport(dir, stages.toSeq)
  }

  /** The EP1 per-month loop: one report per directory, failures isolated.
    * A [[PipelineMetrics]] listener captures every stage the run executes
    * (task counts / bytes / spills, attributed to its directory via a
    * per-dir job group — the reference's psutil monitor, re-expressed
    * executor-side); draining the listener bus before attaching it and
    * before the snapshot makes the rows exactly this run's stages.
    * `jdbc`/`jdbcBatchSize` (usually from [[graft.engine.Config.fromEnv]])
    * switch on the warehouse summary append per directory. */
  def runInstrumented(spark: SparkSession, dirs: Seq[String], outRoot: String,
                      jdbc: Option[graft.engine.Config.Jdbc] = None,
                      jdbcBatchSize: Int = 1000,
                      guard: graft.engine.PlanGuard.Policy = graft.engine.PlanGuard.Policy.default)
      : (Seq[DirReport], Seq[StageMetricsRow]) = {
    val listener = new PipelineMetrics
    PipelineMetrics.drain(spark.sparkContext) // earlier actions' events may still be queued
    spark.sparkContext.addSparkListener(listener)
    try {
      val reports = dirs.map { dir =>
        val name = dir.replaceAll(".*/", "")
        spark.sparkContext.setJobGroup(s"graft-pipeline-$name", s"EP1 $dir")
        try processDir(spark, dir, s"$outRoot/$name", jdbc = jdbc, jdbcBatchSize = jdbcBatchSize,
          guard = guard)
        finally spark.sparkContext.clearJobGroup()
      }
      PipelineMetrics.drain(spark.sparkContext)
      val rows = listener.snapshot
      // the monitoring artifact the reference writes as a CSV report
      // (pipeline_monitor metrics log) — KB-scale, one row per stage
      if (rows.nonEmpty)
        Sinks.csv(metricsDF(spark, rows), s"$outRoot/_stage_metrics", singleFile = true)
      (reports, rows)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Stage metrics as a DataFrame (joins naturally against [[reportDF]]
    * on the dir-derived group name). */
  def metricsDF(spark: SparkSession, rows: Seq[StageMetricsRow]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  /** Stage results as a DataFrame — the t1 smoke surface. */
  def reportDF(spark: SparkSession, reports: Seq[DirReport]): DataFrame = {
    import spark.implicits._
    reports.flatMap(r => r.stages.map(s => (r.dir, s.stage, s.ok, s.rows, s.detail)))
      .toDF("dir", "stage", "ok", "rows", "detail")
  }
}
