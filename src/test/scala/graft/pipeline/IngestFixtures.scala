package graft.pipeline

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.Versioned

/** Shared fixtures of the [[IncrementalIngest]] specs: a file source
  * that replays given micro-batches, and a snapshot of the served state. */
object IngestFixtures {

  /** Lands `df` in `src` as the single parquet file `b<i>.parquet`, its
    * mtime ordered by `i`, so a reader with maxFilesPerTrigger=1 sees it
    * as the i-th micro-batch. */
  def addBatch(src: String, i: Int, df: DataFrame): Unit = {
    val tmp = s"$src.tmp_b$i"
    df.coalesce(1).write.parquet(tmp)
    val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = new File(src, s"b$i.parquet")
    dst.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dst.toPath)
    dst.setLastModified((i + 1) * 1000000L)
  }

  /** A file stream over `src` replaying `batches` one micro-batch each,
    * in order. */
  def replay(spark: SparkSession, src: String, batches: Seq[DataFrame]): DataFrame = {
    batches.zipWithIndex.foreach { case (df, i) => addBatch(src, i, df) }
    spark.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
  }

  /** The served labels, df table, archive and index, and the label and
    * df version lists. */
  def served(spark: SparkSession, root: String) = {
    val p = IncrementalIngest.StatePaths(root)
    (Seq(Versioned.read(spark, p.labels), Versioned.read(spark, p.shingleDf),
        spark.read.parquet(p.archive), spark.read.parquet(p.index))
      .map(_.collect().map(_.toSeq).toSet),
      Seq(p.labels, p.shingleDf).map(Versioned.versions(spark, _)))
  }
}
