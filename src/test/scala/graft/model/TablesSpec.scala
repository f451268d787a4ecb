package graft.model

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.Try
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.pipeline.PipelineMetrics

/** Pins the two staleness stamps in [[Tables]]. The widen cache
  * (Tables.widened) must re-derive when the dataset changes at the same
  * path — including the partitioned-DIRECTORY layout where the root's
  * getFileStatus is blind to rewrites inside partition subdirs (a dir's
  * getLen is 0 and its mtime moves only on direct-child add/remove — r13
  * advice). The schema cache (Tables.load) must skip the footer-inference
  * job on a repeat load and never serve a schema that an uncached read
  * would not infer. */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** `body`'s result and the number of Spark jobs with a stage it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.nonEmpty) jobs.incrementAndGet()
    }
    PipelineMetrics.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      val result = body
      PipelineMetrics.drain(spark.sparkContext)
      (result, jobs.get)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  /** Writes `df` as ONE parquet file at `path` (the corpus layout),
    * replacing the file there. */
  private def writeFile(df: DataFrame, path: String): Unit = {
    val tmp = Files.createTempDirectory("graft-tables-w").resolve("out").toString
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  private def sfPath(name: String) = s"${TestSpark.sfDir}/$name.parquet"

  test("a repeat load of every corpus table runs no job and infers the uncached schema") {
    for (name <- Tables.names) {
      Tables.load(spark, TestSpark.sfDir, name)
      val (schema, jobs) = jobsDuring(Tables.load(spark, TestSpark.sfDir, name).schema)
      assert(jobs == 0, s"$name: a repeat load ran $jobs job(s)")
      // StructField equality covers names, types, nullability and metadata
      assert(schema == spark.read.parquet(sfPath(name)).schema, name)
    }
  }

  test("a file rewritten at the same path with a new schema loads with the new schema") {
    val dir = Files.createTempDirectory("graft-tables-rw").toString
    writeFile(Seq((1L, "a")).toDF("id", "v"), s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "v"))
    assert(jobsDuring(Tables.load(spark, dir, "t"))._2 == 0, "the second load was not cached")
    writeFile(Seq((1L, 2.0, true)).toDF("id", "score", "flag"), s"$dir/t.parquet")
    val reloaded = Tables.load(spark, dir, "t")
    assert(reloaded.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(reloaded.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))) ==
      Seq((1L, 2.0, true)))
  }

  test("a change to a keyed parquet conf makes the next load agree with an uncached read") {
    def outcome(read: => StructType): Either[String, StructType] =
      Try(read).toEither.left.map(e => s"${e.getClass.getName}: ${e.getMessage}")
    for (key <- Tables.schemaConfs) {
      Tables.names.foreach(Tables.load(spark, TestSpark.sfDir, _)) // cache under the current value
      val before = spark.conf.get(key)
      spark.conf.set(key, (!before.toBoolean).toString)
      try for (name <- Tables.names)
        assert(outcome(Tables.load(spark, TestSpark.sfDir, name).schema) ==
          outcome(spark.read.parquet(sfPath(name)).schema), s"$key=${spark.conf.get(key)}: $name")
      finally spark.conf.set(key, before)
    }
  }

  test("a missing path raises the same PATH_NOT_FOUND error as an uncached read") {
    val expected = intercept[AnalysisException](spark.read.parquet("/nonexistent-graft/lineitem.parquet"))
    val got = intercept[AnalysisException](Tables.load(spark, "/nonexistent-graft", "lineitem"))
    assert(got.getCondition == "PATH_NOT_FOUND" && got.getMessage == expected.getMessage, got.getMessage)
  }

  test("events.ts is TimestampType on a cached load") {
    Tables.events(spark, TestSpark.sfDir)
    val (ts, jobs) = jobsDuring(Tables.events(spark, TestSpark.sfDir).schema("ts").dataType)
    assert(jobs == 0 && ts == TimestampType, s"jobs=$jobs ts=$ts")
  }

  test("directory-layout stamp: growth inside a partition subdir re-derives the widen decision") {
    val root = Files.createTempDirectory("graft-tables").toString
    val path = s"$root/docs.parquet"
    // tiny partitioned dataset: two partition subdirs, well under the
    // 64 KB widen floor -> first decision is "don't widen"
    Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "p")
      .write.partitionBy("p").parquet(path)
    val before = Tables.widened(spark, root, "docs")
    val target = spark.sparkContext.defaultParallelism
    assert(before.rdd.getNumPartitions < target,
      s"tiny table should not widen to $target partitions")
    // grow the dataset INSIDE an existing partition subdir: the root dir's
    // direct children are unchanged (p=0 and p=1 both exist), so a
    // (mtime,len)-of-root stamp would keep the stale "don't widen" entry
    spark.range(20000).select(col("id"),
      lpad(col("id").cast("string"), 32, "x").as("v"))
      .coalesce(1).write.mode("append").parquet(s"$path/p=1")
    val after = Tables.widened(spark, root, "docs")
    assert(after.rdd.getNumPartitions == target,
      s"grown table (now past the widen floor) still read with " +
        s"${after.rdd.getNumPartitions} partitions — stale widen-cache entry?")
  }
}
