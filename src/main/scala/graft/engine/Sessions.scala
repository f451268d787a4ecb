package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory — the engine's canonical configuration.
  *
  * Applies what the reference *declared but forgot to apply*
  * (`spark.sql.shuffle.partitions` — reference: src/config/settings.py:27,
  * never reaches the builder in src/data_processing/spark_processor.py:29-38,
  * SURVEY.md §4.1) plus what it got right (AQE on, coalesced shuffle
  * partitions — reference: src/data_processing/spark_processor.py:32-33).
  *
  * `local[N]` is the test topology; on a real cluster the same config holds
  * except shuffle partitions scale with executor count (AQE coalescing makes
  * an over-estimate cheap).
  */
object Sessions {

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // native function registry (graft_cosine — codegen'd Expression)
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE picks each stage's EFFECTIVE partition count by coalescing
      // down from this initial granularity toward its target size, so a
      // high initial number is nearly free at small scale — while a LOW
      // one is the classic 100 TB failure: with initial == core count,
      // a 180 M-row hash aggregate hands each task ~6 M keys of state
      // and OOMs executor memory no heap can reasonably cover (measured:
      // dd3 at the sf30 ladder rung). 8× the core count keeps per-task
      // state executor-sized at the big rungs and coalesces back to
      // ~core-count partitions on the small ones. (Batch STATEFUL
      // operators are exempt from coalescing and would inherit the full
      // initial width as their state-store count — those pin their own
      // width at the seam instead: StatefulOps.rebindForBatchState.)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (shufflePartitions.toInt * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Generated-class cache (STATIC conf, default 100 entries): a
      // long-lived session serving the whole 251-query registry evicts
      // every plan's generated classes before their next execution, so
      // each bench pass pays a fresh Janino compile + JIT warm-up per
      // query (and the churn is what fills the JVM code cache — see
      // build.sbt). 5000 entries keeps every registry plan's classes
      // resident; memory cost is a few KB per class. Result-neutral,
      // scale-independent (any production driver serving a query mix
      // wants compiled-plan reuse).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // the events table carries parquet TIMESTAMP(NANOS) which Spark does
      // not support natively; read as long (ns since epoch) and convert in
      // the loader (see graft.model.Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Builder from a validated [[Config.Engine]] — the settings.py →
    * session wiring (SURVEY.md §7.1 SparkSessionFactory), with the
    * config actually APPLIED (the reference declared shuffle partitions
    * and never passed them to the builder, §4.1). */
  def fromConfig(cfg: Config.Engine): SparkSession.Builder =
    builder(cfg.master, cfg.shufflePartitions.toString).appName(cfg.appName)

  /** Local session sized from SPARK_GRAFT_CPUS (driver convention),
    * defaulting to every available core — an unset env var must not
    * silently run the bench on local[4]. Shuffle partitions match the
    * core count (not Spark's default 200, §4.1). */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
