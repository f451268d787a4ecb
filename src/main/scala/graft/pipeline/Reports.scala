package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.{FileUtils, Sinks}
import graft.model.Tables

/** EP2 — SQL reporting (reference: src/main.py:311-424 runs two SQL
  * strings against Postgres and builds a storage-inventory report; ours
  * runs the same shapes via `spark.sql` over registered views — fully
  * self-contained, no external database).
  */
object Reports {

  /** Summary report: top aggregates from the pipeline's own output
    * (the reference's `ORDER BY id DESC LIMIT 10` summary analog). */
  def summary(spark: SparkSession, artifactsDir: String): DataFrame = {
    // view name must not collide with the Ddl-created catalog table
    // `supplier_stats` — temp views shadow catalog tables session-wide
    spark.read.parquet(s"$artifactsDir/supplier_stats")
      .createOrReplaceTempView("supplier_stats_artifact")
    spark.sql(
      """SELECT l_suppkey, total_lines, total_revenue
        |FROM supplier_stats_artifact ORDER BY total_revenue DESC, l_suppkey LIMIT 10""".stripMargin)
  }

  /** Trips-analysis analog: the reference's multi-key GROUP BY report SQL
    * (src/main.py:332-341), served by Catalyst over the raw corpus view. */
  def analysis(spark: SparkSession, dataDir: String): DataFrame = {
    // register only the queried view: registerAll loads every table (10
    // file stats per call, and a footer read the first time each file
    // version is loaded) — needless here, and at cluster scale each would
    // be a catalog/listing round-trip
    Tables.register(spark, dataDir, "lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS total_lines,
        |       ROUND(AVG(l_extendedprice), 2) AS avg_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus LIMIT 100""".stripMargin)
  }

  /** EP3: the hourly-demand analytics the reference README promises but
    * its shipped pipeline cannot run (it dropped every datetime column —
    * SURVEY.md §3 EP3, scripts/create_tables.sql:9). Served over the
    * events view with a real time dimension. */
  def hourlyDemand(spark: SparkSession, dataDir: String): DataFrame = {
    Tables.register(spark, dataDir, "events") // just the queried view — see analysis()
    spark.sql(
      """SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day, COUNT(*) AS n_events,
        |       ROUND(AVG(value), 2) AS avg_value
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY hour(ts) ORDER BY hour_of_day""".stripMargin)
  }

  /** Storage inventory (reference: src/main.py:389-415 from
    * list_objects()): one row per artifact file with its size. */
  def storageInventory(spark: SparkSession, artifactsDir: String): DataFrame = {
    import spark.implicits._
    FileUtils.listObjects(artifactsDir)
      .map(rel => (rel, FileUtils.sizeBytes(artifactsDir, rel)))
      .toDF("object", "size_bytes")
  }

  /** Full EP2 run: write all four reports as CSV under `reportsDir`.
    * The four writes are independent and run at the same time (the
    * inventory lists only `artifactsDir`, which is complete before EP2
    * starts). Every write has finished before this returns or rethrows
    * the first failure, so no report job outlives the call. */
  def generate(spark: SparkSession, dataDir: String, artifactsDir: String,
               reportsDir: String): Unit =
    Pipeline.concurrently(Seq(
      () => Sinks.csv(summary(spark, artifactsDir), s"$reportsDir/summary", singleFile = true),
      () => Sinks.csv(analysis(spark, dataDir), s"$reportsDir/analysis", singleFile = true),
      () => Sinks.csv(hourlyDemand(spark, dataDir), s"$reportsDir/hourly_demand", singleFile = true),
      () => Sinks.csv(storageInventory(spark, artifactsDir), s"$reportsDir/inventory", singleFile = true)))
}
