package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ManifestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def grid = (for (x <- 0 until 64; y <- 0 until 64)
    yield (x.toLong * 64 + y, x, y)).toDF("id", "x", "y").repartition(8)

  private def clusteredDir(): String = {
    val dir = Files.createTempDirectory("graft-manifest").toString + "/t"
    graft.io.Sinks.parquetRangeClustered(grid, dir, Seq("x"), partitions = 16)
    Manifest.writeManifest(spark, dir, Seq("x", "y"))
    dir
  }

  test("manifest: one row per file, row counts and global min/max honest") {
    val dir = clusteredDir()
    val m = spark.read.parquet(Manifest.manifestPath(dir))
    val nFiles = spark.read.parquet(dir).inputFiles.length
    assert(m.count() == nFiles)
    assert(m.agg(sum("n_rows")).head().getLong(0) == 4096L)
    val r = m.agg(min("x_min"), max("x_max"), min("y_min"), max("y_max")).head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) == ((0, 63, 0, 63)))
  }

  test("prunedScan: reads a strict subset of files on a clustered key, result == full scan + filter") {
    val dir = clusteredDir()
    val pruned = Manifest.prunedScan(spark, dir, Seq(("x", 10.0, 13.0)))
    val full = spark.read.parquet(dir)
      .filter(col("x").cast("double").between(10.0, 13.0))
    assert(pruned.inputFiles.length < spark.read.parquet(dir).inputFiles.length,
      "clustered-key slice should skip files")
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy("id").collect().map(_.toSeq).toSeq
    assert(key(pruned) == key(full))
  }

  test("prunedScan: unclustered-column range cannot prune but stays correct; empty envelope yields empty frame with schema") {
    val dir = clusteredDir()
    // y is unclustered under the x-range layout: every file spans ~all
    // of y, so no file is skipped — correctness must not depend on the
    // layout matching the predicate
    val pruned = Manifest.prunedScan(spark, dir, Seq(("y", 5.0, 6.0)))
    assert(pruned.count() == 64L * 2)
    // an out-of-domain envelope prunes everything
    val empty = Manifest.prunedScan(spark, dir, Seq(("x", 1000.0, 2000.0)))
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id", "x", "y"))
  }

  test("compaction refreshes a persisted manifest: prunedScan stays correct over the rewritten files") {
    val dir = clusteredDir()
    val before = Manifest.prunedScan(spark, dir, Seq(("x", 10.0, 13.0)))
      .orderBy("id").collect().map(_.toSeq).toSeq
    graft.io.Sinks.compactParquet(spark, dir, targetBytes = 1L * 1024 * 1024 * 1024)
    // the stale manifest would reference deleted files; the refreshed one
    // must list only live files and return the same rows
    val after = Manifest.prunedScan(spark, dir, Seq(("x", 10.0, 13.0)))
    assert(after.orderBy("id").collect().map(_.toSeq).toSeq == before)
    val m = spark.read.parquet(Manifest.manifestPath(dir))
    assert(m.count() == spark.read.parquet(dir).inputFiles.length)
  }

  test("files appended after the manifest are ALWAYS read: staleness costs pruning power, never rows") {
    val dir = clusteredDir()
    // append rows inside the query box without refreshing the manifest
    Seq((90000L, 11, 200), (90001L, 12, 201)).toDF("id", "x", "y")
      .coalesce(1).write.mode("append").parquet(dir)
    val pruned = Manifest.prunedScan(spark, dir, Seq(("x", 10.0, 13.0)))
    val full = spark.read.parquet(dir)
      .filter(col("x").cast("double").between(10.0, 13.0))
    assert(pruned.orderBy("id").collect().map(_.toSeq).toSeq
      == full.orderBy("id").collect().map(_.toSeq).toSeq)
    assert(pruned.filter(col("id") >= 90000L).count() == 2,
      "appended (manifest-unknown) rows must surface without a refresh")
    // and the scan still prunes the files the manifest DOES know
    assert(pruned.inputFiles.length < spark.read.parquet(dir).inputFiles.length)
  }

  test("appendManifest stats only the new files and equals a full recompute") {
    val dir = clusteredDir()
    Seq((91000L, 20, 300), (91001L, 21, 301)).toDF("id", "x", "y")
      .coalesce(1).write.mode("append").parquet(dir)
    Manifest.appendManifest(spark, dir, Seq("x", "y"))
    val incr = spark.read.parquet(Manifest.manifestPath(dir))
      .collect().map(_.toSeq).toSet
    Manifest.writeManifest(spark, dir, Seq("x", "y"))
    val full = spark.read.parquet(Manifest.manifestPath(dir))
      .collect().map(_.toSeq).toSet
    assert(incr == full, "incremental manifest != full recompute")
    // and the appended rows are pruned-scannable immediately
    val hit = Manifest.prunedScan(spark, dir, Seq(("y", 300.0, 301.0)))
    assert(hit.count() == 2)
    assert(hit.inputFiles.length == 1, "fresh stats should pin the new rows to their one file")
  }

  test("prunedScan composes with Z-order: a 2-D box prunes under zOrderWrite") {
    val dir = Files.createTempDirectory("graft-manifest-z").toString + "/t"
    Layout.zOrderWrite(grid, dir, Seq("x", "y"), partitions = 16, bits = 3)
    Manifest.writeManifest(spark, dir, Seq("x", "y"))
    val box = Seq(("x", 0.0, 15.0), ("y", 0.0, 15.0))
    val pruned = Manifest.prunedScan(spark, dir, box)
    assert(pruned.inputFiles.length < spark.read.parquet(dir).inputFiles.length,
      "z-order box query should skip curve segments")
    assert(pruned.count() == 16L * 16)
  }

  test("appendManifest heals a swap that crashed between its renames: manifest == an uncrashed run") {
    val dir = clusteredDir()
    Seq((91000L, 20, 300)).toDF("id", "x", "y").coalesce(1).write.mode("append").parquet(dir)
    Manifest.appendManifest(spark, dir, Seq("x", "y"))
    val mp = Manifest.manifestPath(dir)
    val want = spark.read.parquet(mp).collect().map(_.toSeq).toSet
    // the next appendManifest's crash window: the manifest retired by the
    // first rename, its complete rewrite beside it, nothing at the path
    spark.read.parquet(mp).write.parquet(s"$mp.refresh-staging")
    assert(new java.io.File(mp).renameTo(new java.io.File(s"$mp.refresh-retired")))
    Manifest.appendManifest(spark, dir, Seq("x", "y"))
    assert(spark.read.parquet(mp).collect().map(_.toSeq).toSet == want)
    assert(!new java.io.File(s"$mp.refresh-staging").exists())
    assert(!new java.io.File(s"$mp.refresh-retired").exists())
    assert(Manifest.prunedScan(spark, dir, Seq(("y", 300.0, 300.0))).count() == 1)
  }

  test("a failed manifest refresh after compaction leaves the old manifest serving; prunedScan == full scan + filter") {
    val dir = clusteredDir()
    val mp = Manifest.manifestPath(dir)
    val old = spark.read.parquet(mp).collect().map(_.toSeq).toSet
    val name = new org.apache.hadoop.fs.Path(mp).getName
    graft.FailStateCommit.during(spark, name, s"$name.refresh-staging") {
      intercept[Exception](graft.io.Sinks.compactParquet(spark, dir, targetBytes = 1L << 30))
    }
    assert(Manifest.read(spark, dir).collect().map(_.toSeq).toSet == old)
    val pruned = Manifest.prunedScan(spark, dir, Seq(("x", 10.0, 13.0)))
    val full = spark.read.parquet(dir)
      .filter(col("x").cast("double").between(10.0, 13.0))
    assert(pruned.orderBy("id").collect().map(_.toSeq).toSeq
      == full.orderBy("id").collect().map(_.toSeq).toSeq)
  }
}
