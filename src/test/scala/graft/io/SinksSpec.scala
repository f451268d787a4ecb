package graft.io

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.model.Tables

class SinksSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles.toSeq
      .filter(f => f.getName.endsWith(".parquet") && f.isFile)

  test("jsonl sink round-trips data and schema; gzip-compressed variant reads back identically") {
    val df = Tables.nation(spark, TestSpark.sfDir)
    val plain = Files.createTempDirectory("graft-jsonl").toString
    Sinks.jsonl(df, plain)
    val back = spark.read.schema(df.schema).json(plain)
    assert(back.collect().toSet == df.collect().toSet)
    val gz = Files.createTempDirectory("graft-jsonl-gz").toString
    Sinks.jsonl(df, gz, compression = Some("gzip"))
    assert(new java.io.File(gz).listFiles.exists(_.getName.endsWith(".json.gz")))
    assert(spark.read.schema(df.schema).json(gz).collect().toSet == df.collect().toSet)
  }

  test("orc sink round-trips data; partitionBy lays out prunable directories") {
    val df = Tables.orders(spark, TestSpark.sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    val dir = Files.createTempDirectory("graft-orc").toString
    Sinks.orc(df, dir, partitionBy = Seq("o_orderstatus"))
    val back = spark.read.orc(dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    assert(back.collect().toSet == df.collect().toSet)
    assert(new java.io.File(dir).listFiles.exists(_.getName.startsWith("o_orderstatus=")))
  }

  test("parquetSized splits output near the target file size, tiny target => many files") {
    val df = Tables.lineitem(spark, TestSpark.sfDir)
    val dir = Files.createTempDirectory("graft-sized-small").toString
    // the plan estimate for sf0.001 lineitem is ~112 KB (the source file
    // size): a 16 KiB target must yield several files
    Sinks.parquetSized(df, dir, targetBytes = 16L * 1024)
    val files = parquetFiles(dir)
    assert(files.size > 1, s"expected a split, got ${files.size} file(s)")
    // read-back equality: sizing must never change the data
    val back = spark.read.parquet(dir)
    assert(back.count() == df.count())
    assert(back.columns.sorted.toSeq == df.columns.sorted.toSeq)
  }

  test("parquetSized collapses to one file when the target exceeds the data") {
    val df = Tables.nation(spark, TestSpark.sfDir)
    val dir = Files.createTempDirectory("graft-sized-big").toString
    Sinks.parquetSized(df, dir) // default 128 MiB >> 25-row dim
    assert(parquetFiles(dir).size == 1)
    assert(spark.read.parquet(dir).count() == df.count())
  }

  test("parquetSizedMaterialized sizes join-inflated plans from real data, not the estimate") {
    // fact⋈fact self-join: Catalyst's multiplicative join estimate blows up
    // while the real output stays small — the exact input class the
    // estimate-based sink documents as unsafe
    val li = Tables.lineitem(spark, TestSpark.sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val joined = li.join(li.withColumnRenamed("l_quantity", "q2"),
      Seq("l_orderkey", "l_linenumber"))
    val est = joined.queryExecution.optimizedPlan.stats.sizeInBytes
    val dir = Files.createTempDirectory("graft-sized-mat").toString
    val measured = Sinks.parquetSizedMaterialized(joined, dir, targetBytes = 4L * 1024 * 1024)
    // the estimate would have demanded many files (or slammed the clamp);
    // measurement sees the true ~100 KB and lands ONE near-target file
    assert(est / (4L * 1024 * 1024) > 1, s"join estimate unexpectedly small: $est")
    assert(BigInt(measured) < est / 10, s"measured $measured not ≪ estimate $est")
    assert(parquetFiles(dir).size == 1, s"expected 1 file, got ${parquetFiles(dir).size}")
    val back = spark.read.parquet(dir)
    assert(back.count() == joined.count())
    assert(back.columns.sorted.toSeq == joined.columns.sorted.toSeq)
  }

  test("parquetPartitionOverwrite replaces only the incoming partitions (idempotent month reload)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dyn-overwrite").toString
    val initial = Seq(("2023-01", 1L, 10.0), ("2023-01", 2L, 20.0), ("2023-02", 3L, 30.0))
      .toDF("month", "id", "v")
    Sinks.parquetPartitionOverwrite(initial, dir, Seq("month"))
    // reprocess ONLY 2023-02 with corrected data
    val reload = Seq(("2023-02", 3L, 99.0), ("2023-02", 4L, 40.0)).toDF("month", "id", "v")
    Sinks.parquetPartitionOverwrite(reload, dir, Seq("month"))
    val back = spark.read.parquet(dir)
    // january untouched, february fully replaced (old row gone, new rows in)
    assert(back.filter($"month" === "2023-01").count() == 2)
    val feb = back.filter($"month" === "2023-02").select("id", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(feb == Map(3L -> 99.0, 4L -> 40.0))
    // contrast: a static overwrite of the same frame truncates the table root
    reload.write.mode("overwrite").partitionBy("month").parquet(dir)
    assert(spark.read.parquet(dir).filter($"month" === "2023-01").count() == 0)
  }

  test("parquetRangeClustered: per-file key intervals are disjoint (min/max stats become prunable)") {
    val df = Tables.lineitem(spark, TestSpark.sfDir).select("l_orderkey", "l_quantity")
    val dir = Files.createTempDirectory("graft-range-cluster").toString
    Sinks.parquetRangeClustered(df, dir, Seq("l_orderkey"), partitions = 4)
    val files = parquetFiles(dir)
    assert(files.size > 1, "need multiple files to demonstrate disjoint ranges")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(org.apache.spark.sql.functions.min("l_orderkey"),
          org.apache.spark.sql.functions.max("l_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    // disjoint, ordered intervals: every file's min is past the previous
    // file's max — the property that lets min/max stats prune row groups
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(lo2 > hi1, s"overlap: $ranges")
      case _ => ()
    }
    assert(spark.read.parquet(dir).count() == df.count())
  }

  test("parquetSizedMaterialized splits when measured bytes exceed a tiny target") {
    val df = Tables.lineitem(spark, TestSpark.sfDir)
    val dir = Files.createTempDirectory("graft-sized-mat-split").toString
    Sinks.parquetSizedMaterialized(df, dir, targetBytes = 64L * 1024)
    assert(parquetFiles(dir).size > 1)
    assert(spark.read.parquet(dir).count() == df.count())
  }

  test("compactParquet: many tiny files -> few sized files, content identical, report honest") {
    import org.apache.spark.sql.functions.col
    val df = Tables.lineitem(spark, TestSpark.sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    df.repartition(64).write.parquet(dir) // the small-files mess
    assert(parquetFiles(dir).size == 64)
    val want = df.orderBy("l_orderkey", "l_partkey", "l_quantity")
      .collect().map(_.toSeq).toSeq
    val rep = Sinks.compactParquet(spark, dir, targetBytes = 1L * 1024 * 1024 * 1024)
    assert(rep.filesBefore == 64)
    assert(rep.filesAfter < 64 && rep.filesAfter >= 1)
    assert(parquetFiles(dir).size == rep.filesAfter)
    assert(rep.rows == want.size)
    // content survives the swap bit-for-bit, tmp dir is gone
    val back = spark.read.parquet(dir)
      .orderBy("l_orderkey", "l_partkey", "l_quantity")
      .collect().map(_.toSeq).toSeq
    assert(back == want)
    assert(!new java.io.File(dir + ".refresh-staging").exists())
    assert(!new java.io.File(dir + ".refresh-retired").exists())
    // idempotent: compacting a compacted dir keeps content and shrinks nothing
    val rep2 = Sinks.compactParquet(spark, dir, targetBytes = 1L * 1024 * 1024 * 1024)
    assert(rep2.rows == rep.rows && rep2.filesBefore == rep.filesAfter)
    assert(spark.read.parquet(dir).count() == rep.rows)
    // missing dir fails loudly
    intercept[IllegalArgumentException](
      Sinks.compactParquet(spark, dir + "_nope"))
  }

  test("compactParquet heals a swap that crashed between its renames: content == an uncrashed run") {
    val df = Tables.lineitem(spark, TestSpark.sfDir)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val base = Files.createTempDirectory("graft-compact-crash").toString
    val target = 1L * 1024 * 1024 * 1024
    val ok = s"$base/ok"
    df.repartition(16).write.parquet(ok)
    Sinks.compactParquet(spark, ok, target)
    // the crash window: the original retired by the first rename, the
    // complete rewrite beside it, nothing at the path itself
    val dir = s"$base/t"
    df.repartition(16).write.parquet(dir)
    Sinks.parquetSizedMaterialized(spark.read.parquet(dir), s"$dir.refresh-staging", target)
    assert(new java.io.File(dir).renameTo(new java.io.File(s"$dir.refresh-retired")))
    val rep = Sinks.compactParquet(spark, dir, target)
    def rows(d: String) = spark.read.parquet(d)
      .orderBy("l_orderkey", "l_partkey", "l_quantity").collect().map(_.toSeq).toSeq
    assert(rows(dir) == rows(ok))
    assert(rep.rows == df.count() && parquetFiles(dir).size == parquetFiles(ok).size)
    assert(!new java.io.File(s"$dir.refresh-staging").exists())
    assert(!new java.io.File(s"$dir.refresh-retired").exists())
  }
}
