package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query registry is assembled from per-module [[QuerySpec]] lists; each
  * spec pairs the Spark implementation with its DuckDB oracle SQL (or is
  * explicitly rows-only for non-SQL-expressible operators).
  */
object SparkEntry {

  /** Full registry, one entry per implemented operator (SURVEY.md §2). */
  def specs: Seq[QuerySpec] =
    graft.queries.CoreQueries.all ++
    graft.queries.JoinQueries.all ++
    graft.queries.WindowQueries.all ++
    graft.queries.DedupQueries.all ++
    graft.queries.SimilarityQueries.all ++
    graft.queries.TextQueries.all ++
    graft.queries.ExtraQueries.all ++
    graft.queries.StatsQueries.all ++
    graft.queries.ReportQueries.all ++
    graft.queries.StreamingQueries.all ++
    graft.queries.MultimodalQueries.all ++
    graft.queries.LlmPipelineQueries.all ++
    graft.queries.DsQueries.all

  /** Flagship on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the REAL EP1 pipeline end-to-end (schema gate → quality →
    * clean → derive → sample-load → aggregates → sinks) into a temp dir
    * and returns the per-stage report (reference: src/main.py:88-309). */
  def entry(spark: SparkSession): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft-entry").toString
    // env-driven config reaches the production path here: a configured
    // JDBC block switches on the warehouse summary stage; an INVALID one
    // fails loudly (the reference's settings.py contract)
    val cfg = graft.engine.Config.fromEnv() match {
      case Right(c) => c
      case Left(err) => throw new IllegalArgumentException(s"bad GRAFT_* config: $err")
    }
    val (reports, _) = graft.pipeline.Pipeline.runInstrumented(spark, Seq("/root/testdata/sf0.001"), out,
      jdbc = cfg.jdbc, jdbcBatchSize = cfg.batchSize, guard = cfg.guard)
    // The report has one row per stage regardless of stage outcome, so a
    // bare rows>0 smoke check would pass even on total failure — gate it.
    require(reports.forall(_.ok),
      s"pipeline stage(s) failed: ${reports.filterNot(_.ok)
        .flatMap(r => r.stages.filterNot(_.ok).map(s => s"${r.dir}/${s.stage}: ${s.detail}"))
        .mkString("; ")}")
    graft.pipeline.Pipeline.reportDF(spark, reports)
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    specs.flatMap(s => s.oracle.map(s.name -> _)).toMap
}
