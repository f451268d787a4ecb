package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.io.{Ddl, FileUtils, Sinks}

/** EP1/EP2 end-to-end on the smoke corpus — replaces the reference's
  * assert-True integration test (test_integration.py) with artifact
  * assertions. */
class PipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Runs `body` with a shared-queue listener that takes ~200 ms per stage,
    * after six warm multi-stage actions whose stage events are therefore
    * still queued; `body` gets the listener's stage count. */
  private def withSlowListener[T](body: AtomicInteger => T): T = {
    def action() = spark.range(0, 2000, 1, 2).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    action()
    val stages = new AtomicInteger
    val slow = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        Thread.sleep(200)
        stages.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      for (_ <- 1 to 6) action()
      body(stages)
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  // one instrumented EP1 run shared by the artifact tests; it starts with
  // earlier actions' stage events still queued and must record none of them
  private lazy val (reports, metrics, outDir) = withSlowListener { _ =>
    val d = Files.createTempDirectory("graft-pipe").toString
    val (r, m) = Pipeline.runInstrumented(spark, Seq(TestSpark.sfDir), d)
    (r, m, d)
  }

  /** A new month directory holding the smoke corpus's lineitem, passed
    * through `f`. */
  private def monthDir(prefix: String)(f: DataFrame => DataFrame): String = {
    val d = Files.createTempDirectory(prefix).toString
    f(graft.model.Tables.lineitem(spark, TestSpark.sfDir)).write.parquet(s"$d/lineitem.parquet")
    d
  }

  test("pipeline runs every stage green and writes all artifacts") {
    assert(reports.size == 1 && reports.head.ok,
      reports.head.stages.filterNot(_.ok).mkString("; "))
    val arts = s"$outDir/sf0.001"
    for (a <- Seq("supplier_stats", "bucket_stats", "sample_load"))
      assert(spark.read.parquet(s"$arts/$a").count() > 0, s"$a empty")
    val q = spark.read.option("header", "true").csv(s"$arts/quality_report").collect()
    assert(q.length == 1 && q(0).getAs[String]("quality_score").toDouble >= 0)
  }

  test("stage results keep the declared order, not the order the branches finish in") {
    assert(reports.head.stages.map(_.stage) == Seq("scan", "schema_gate", "quality_metrics",
      "clean_derive", "sample_load", "supplier_stats", "bucket_stats", "quality_csv"))
  }

  test("stage rows come from the write job itself — no post-sink re-scan") {
    // a stage's name is the call site of its job. The old shape re-read
    // each sink with `spark.read.parquet(path).count()` in Pipeline.scala
    // for the report row count (a full second scan of each artifact at
    // scale); the pipeline launches every job from Sinks/Quality/Tables
    val sites = metrics.map(_.name)
    assert(sites.exists(_.startsWith("parquet at Sinks.scala")), sites)
    val pipelineJobs = sites.filter(_.contains(" at Pipeline.scala:"))
    assert(pipelineJobs.isEmpty, s"pipeline re-scanned its own sinks: $pipelineJobs")
    // and the observed counts agree with what actually landed on disk
    val byStage = reports.head.stages.map(s => s.stage -> s.rows).toMap
    for (a <- Seq("sample_load", "supplier_stats", "bucket_stats"))
      assert(byStage(a) == spark.read.parquet(s"$outDir/sf0.001/$a").count(),
        s"$a reported ${byStage(a)} rows but the artifact disagrees")
  }

  test("drain returns only after a slow listener has seen every stage of the finished actions") {
    withSlowListener { stages =>
      PipelineMetrics.drain(spark.sparkContext)
      val drained = stages.get
      assert(drained > 0, "no stage reached the listener before drain returned")
      Thread.sleep(1000)
      assert(stages.get == drained, s"${stages.get - drained} stage(s) arrived after drain")
    }
  }

  test("error isolation: missing table reports a failed scan, never throws") {
    val bad = Pipeline.processDir(spark, "/nonexistent/dir", "/tmp/graft-bad-out")
    assert(!bad.ok && bad.stages.exists(s => s.stage == "scan" && !s.ok))
  }

  test("multi-dir run isolates a poisoned directory; the good dir's artifacts complete") {
    import spark.implicits._
    // poisoned "month": lineitem.parquet exists but is missing the
    // required columns, so the schema gate must skip it (the reference's
    // `continue` policy, src/main.py:114-116) without touching the good dir
    val poisoned = Files.createTempDirectory("graft-poison").toString
    Seq((1L, "x")).toDF("some_key", "some_text")
      .write.mode("overwrite").parquet(s"$poisoned/lineitem.parquet")
    val out = Files.createTempDirectory("graft-multi").toString

    val (reports, _) = Pipeline.runInstrumented(spark, Seq(TestSpark.sfDir, poisoned), out)
    assert(reports.size == 2)
    val (good, bad) = (reports(0), reports(1))
    assert(good.ok, good.stages.filterNot(_.ok).mkString("; "))
    assert(!bad.ok && bad.stages.exists(s => s.stage == "schema_gate" && !s.ok))
    // the poisoned dir stopped AT the gate — no downstream stage ran
    assert(bad.stages.map(_.stage).toSet.intersect(
      Set("sample_load", "supplier_stats", "bucket_stats")).isEmpty)
    // and the good dir's artifacts are complete on disk
    for (a <- Seq("supplier_stats", "bucket_stats", "sample_load"))
      assert(spark.read.parquet(s"$out/sf0.001/$a").count() > 0, s"$a empty")
  }

  test("instrumented run captures per-stage metrics attributed to the dir's job group") {
    assert(metrics.nonEmpty, "listener captured no stages")
    assert(metrics.forall(_.group == "graft-pipeline-sf0.001"),
      s"stage outside the pipeline job group; groups=${metrics.map(_.group).distinct}")
    assert(metrics.exists(_.inputBytes > 0), "no stage read any input bytes")
    assert(metrics.forall(_.numTasks > 0))
    val df = Pipeline.metricsDF(spark, metrics)
    assert(df.columns.contains("shuffleReadBytes") && df.count() == metrics.size)
    // the monitoring artifact lands next to the data artifacts
    val csv = spark.read.option("header", "true").csv(s"$outDir/_stage_metrics")
    assert(csv.count() == metrics.size && csv.columns.contains("inputBytes"))
  }

  test("two directories: every stage lands in its own directory's job group") {
    // each directory's branches run on threads started under its group;
    // a thread reused from the first directory would carry the first
    // group into the second. Both months are fresh directories, so both
    // scans infer their schema (a table file loaded earlier would skip
    // that job and the two stage sets would differ)
    val months = Seq(monthDir("graft-month-a")(identity), monthDir("graft-month-b")(identity))
    val out = Files.createTempDirectory("graft-two").toString
    val (reports, metrics) = Pipeline.runInstrumented(spark, months, out)
    assert(reports.forall(_.ok), reports.flatMap(_.stages.filterNot(_.ok)).mkString("; "))
    val byGroup = metrics.groupBy(_.group).map { case (g, rows) => g -> rows.map(_.name).toSet }
    assert(byGroup.keySet == months.map(m => s"graft-pipeline-${m.replaceAll(".*/", "")}").toSet,
      s"groups=${byGroup.keySet}")
    // same data, same jobs: each group holds every stage of its own run,
    // its sink writes included
    assert(byGroup.values.toSet.size == 1, s"groups ran different stages: $byGroup")
    assert(byGroup.values.head.exists(_.startsWith("parquet at Sinks.scala")), byGroup)
  }

  test("a month whose rows all fail the clean rules completes, and the next month still runs") {
    // every l_discount outside [0, 0.08]: the quartile pass sees no row
    val cleanedAway = monthDir("graft-allclean")(_.withColumn("l_discount", lit(0.5)))
    val out = Files.createTempDirectory("graft-allclean-out").toString
    val (reports, _) = Pipeline.runInstrumented(spark, Seq(cleanedAway, TestSpark.sfDir), out)
    assert(reports.size == 2)
    val (empty, good) = (reports(0), reports(1))
    assert(empty.ok, empty.stages.filterNot(_.ok).mkString("; "))
    val rows = empty.stages.map(s => s.stage -> s.rows).toMap
    assert(rows("quality_metrics") > 0 && rows("supplier_stats") == 0 && rows("bucket_stats") == 0)
    assert(good.ok, good.stages.filterNot(_.ok).mkString("; "))
    for (a <- Seq("supplier_stats", "bucket_stats", "sample_load"))
      assert(spark.read.parquet(s"$out/sf0.001/$a").count() > 0, s"$a empty")
  }

  test("a failed sample_load leaves one sink to build the cache, and every other stage lands") {
    val out = Files.createTempDirectory("graft-nosample").toString
    val key = "spark.sql.sources.commitProtocolClass"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, classOf[RefuseSampleLoad].getName)
    // jobs that compute a cached RDD as their result: the enriched cache's
    // builds (a reader's stage ends above the cache instead)
    val builds = new AtomicInteger
    val cacheBuilds = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.rddInfos.headOption.exists(_.storageLevel.isValid))) builds.incrementAndGet()
    }
    PipelineMetrics.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(cacheBuilds)
    val report =
      try Pipeline.processDir(spark, TestSpark.sfDir, out)
      finally {
        before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        PipelineMetrics.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(cacheBuilds)
      }
    val byStage = report.stages.map(s => s.stage -> s).toMap
    assert(!byStage("sample_load").ok && byStage("sample_load").detail.contains("refused"),
      byStage("sample_load"))
    assert(report.stages.filterNot(_.stage == "sample_load").forall(_.ok),
      report.stages.filterNot(_.ok).mkString("; "))
    assert(builds.get == 1, s"${builds.get} jobs built the enriched cache")
    def lines(a: String) = spark.read.parquet(s"$out/$a").select("total_lines").collect().map(_.getLong(0)).sum
    assert(lines("supplier_stats") == lines("bucket_stats") && lines("bucket_stats") > 0,
      s"supplier_stats ${lines("supplier_stats")} vs bucket_stats ${lines("bucket_stats")}")
  }

  test("pipeline summary appends to the warehouse when JDBC is configured (reference primary sink)") {
    val dbDir = Files.createTempDirectory("graft-pipe-derby").toString
    val jdbc = graft.engine.Config.Jdbc("localhost", 5432, "wh", "app", "",
      urlOverride = Some(s"jdbc:derby:$dbDir/db;create=true"))
    val out = Files.createTempDirectory("graft-pipe-jdbc").toString
    val report = Pipeline.processDir(spark, TestSpark.sfDir, out, jdbc = Some(jdbc))
    assert(report.ok, report.stages.filterNot(_.ok).mkString("; "))
    assert(report.stages.exists(s => s.stage == "summary_jdbc" && s.ok))
    val back = graft.io.Sources.jdbcTable(spark, jdbc.url, "PIPELINE_SUMMARY", "app")
    assert(back.count() == 1)
    val row = back.collect()(0)
    assert(row.getAs[Long]("total_lines") > 0 && row.getAs[Double]("total_revenue") > 0)
    // a second run appends (the reference's if_exists='append' behavior)
    Pipeline.processDir(spark, TestSpark.sfDir, out, jdbc = Some(jdbc))
    assert(graft.io.Sources.jdbcTable(spark, jdbc.url, "PIPELINE_SUMMARY", "app").count() == 2)
  }

  test("reports (EP2) generate from pipeline artifacts via spark.sql") {
    val arts = s"$outDir/sf0.001"
    val reportsDir = Files.createTempDirectory("graft-reports").toString
    Reports.generate(spark, TestSpark.sfDir, arts, reportsDir)
    val summary = spark.read.option("header", "true").csv(s"$reportsDir/summary")
    assert(summary.count() == 10 && summary.columns.contains("total_revenue"))
    val analysis = spark.read.option("header", "true").csv(s"$reportsDir/analysis")
    assert(analysis.count() > 0)
    val hourly = spark.read.option("header", "true").csv(s"$reportsDir/hourly_demand")
    assert(hourly.count() == 24) // every hour of day present in the corpus
    val inv = spark.read.option("header", "true").csv(s"$reportsDir/inventory")
    assert(inv.count() > 0) // at least the parquet artifacts are inventoried
  }

  test("no report write outlives Reports.generate, even when one report fails") {
    val noArtifacts = Files.createTempDirectory("graft-noarts").toString // no supplier_stats
    val reportsDir = Files.createTempDirectory("graft-reports-fail").toString
    intercept[AnalysisException](Reports.generate(spark, TestSpark.sfDir, noArtifacts, reportsDir))
    ListenerBusDrain(spark.sparkContext) // the status store reads its own queue
    val active = spark.sparkContext.statusTracker.getActiveJobIds()
    assert(active.isEmpty, s"jobs still running after generate threw: ${active.toSeq}")
    for (r <- Seq("analysis", "hourly_demand", "inventory"))
      assert(Files.exists(Paths.get(reportsDir, r, "_SUCCESS")), s"$r was not written")
  }

  test("DDL (S6): catalog tables create over artifact locations, idempotently") {
    val results = Ddl.createAnalyticsTables(spark, s"$outDir/sf0.001")
    assert(results.forall(_.isRight), results.collect { case Left(e) => e }.mkString)
    assert(spark.catalog.tableExists("supplier_stats"))
    assert(spark.sql("SELECT * FROM supplier_stats").count() > 0)
    assert(spark.sql("SELECT * FROM pipeline_quality").count() == 1)
    assert(Ddl.createAnalyticsTables(spark, s"$outDir/sf0.001").forall(_.isRight))
    Seq("supplier_stats", "bucket_stats", "pipeline_quality")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("DDL views: vendor_summary/distance_summary mirror the reference and equal the a1/a2 oracle values") {
    // the reference declares these two views (scripts/create_tables.sql:
    // 60-78) over its processed table; here they compile onto the corpus
    // and must reproduce the oracle-verified a1/a2 aggregates exactly
    graft.model.Tables.registerAll(spark, TestSpark.sfDir)
    val results = Ddl.createSummaryViews(spark)
    assert(results.forall(_.isRight), results.collect { case Left(e) => e }.mkString)
    // idempotent, like the reference's CREATE OR REPLACE
    assert(Ddl.createSummaryViews(spark).forall(_.isRight))

    val vendor = spark.sql(
      "SELECT l_suppkey, trip_count, avg_fare, avg_tip, avg_distance FROM vendor_summary")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val a1 = graft.SparkEntry.queries("a1_supplier_stats")(spark, TestSpark.sfDir)
      .collect().map(r => r.getAs[Long]("l_suppkey") ->
        ((r.getAs[Long]("total_lines"), r.getAs[Double]("avg_price"),
          r.getAs[Double]("avg_discount"), r.getAs[Double]("avg_quantity")))).toMap
    assert(vendor == a1, s"vendor_summary diverges from a1: " +
      s"${(vendor.toSet diff a1.toSet).take(3)} vs ${(a1.toSet diff vendor.toSet).take(3)}")

    val distance = spark.sql(
      "SELECT distance_category, trip_count, avg_fare, avg_tip, avg_distance FROM distance_summary")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val a2 = graft.SparkEntry.queries("a2_bucket_stats")(spark, TestSpark.sfDir)
      .collect().map(r => r.getAs[String]("quantity_bucket") ->
        ((r.getAs[Long]("total_lines"), r.getAs[Double]("avg_price"),
          r.getAs[Double]("avg_price_per_unit"), r.getAs[Double]("avg_quantity")))).toMap
    assert(distance == a2, s"distance_summary diverges from a2: " +
      s"${(distance.toSet diff a2.toSet).take(3)} vs ${(a2.toSet diff distance.toSet).take(3)}")
  }

  test("sinks: parquet partitionBy round-trips; CSV writes header") {
    import spark.implicits._
    val df = Seq((1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5)).toDF("id", "k", "v")
    val d = Files.createTempDirectory("graft-sink").toString
    Sinks.parquet(df, s"$d/p", partitionBy = Seq("k"))
    val back = spark.read.parquet(s"$d/p")
    assert(back.count() == 3 && back.select("k").distinct().count() == 2)
    assert(FileUtils.listObjects(s"$d/p").exists(_.startsWith("k=a")))
    Sinks.csv(df, s"$d/c", singleFile = true)
    val csv = spark.read.option("header", "true").csv(s"$d/c")
    assert(csv.columns.toSeq == Seq("id", "k", "v") && csv.count() == 3)
  }

  test("file utils (S9): copy + prefix listing") {
    val d = Files.createTempDirectory("graft-fu").toString
    Files.writeString(java.nio.file.Paths.get(d, "x.txt"), "hi")
    FileUtils.copy(s"$d/x.txt", s"$d/sub/y.txt")
    assert(FileUtils.listObjects(d).toSet == Set("x.txt", "sub/y.txt"))
    assert(FileUtils.listObjects(d, "sub") == Seq("sub/y.txt"))
    assert(FileUtils.listObjects("/nonexistent-root").isEmpty)
  }
}

/** Commit protocol that refuses every write into a `sample_load` directory
  * at job setup, before the write runs a job; every other write commits
  * as usual. */
class RefuseSampleLoad(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupJob(jobContext: JobContext): Unit =
    if (path.endsWith("/sample_load")) throw new java.io.IOException(s"write refused: $path")
    else super.setupJob(jobContext)
}
