package graft

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** Commit protocol that fails `commitJob` for any write into a path with
  * one of the [[FailStateCommit.during]] segments, after its tasks have
  * written their files — a state write that fails at its commit. */
class FailStateCommit(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    if (path.split('/').exists(FailStateCommit.refused.contains))
      throw new java.io.IOException(s"commit refused: $path")
    else super.commitJob(jobContext, taskCommits)
}

object FailStateCommit {
  private val Key = "spark.sql.sources.commitProtocolClass"

  // Spark instantiates the protocol by class name, so the segments to
  // refuse reach it through here (job commits run on the driver)
  @volatile private var refused: Set[String] = Set.empty

  /** Run `body` with the job commit of every write into a path that has
    * one of `segments` as a path segment failing. */
  def during[T](spark: SparkSession, segments: String*)(body: => T): T = {
    val before = spark.conf.getOption(Key)
    refused = segments.toSet
    spark.conf.set(Key, classOf[FailStateCommit].getName)
    try body
    finally {
      before.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
      refused = Set.empty
    }
  }
}
