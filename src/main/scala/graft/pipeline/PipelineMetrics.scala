package graft.pipeline

import java.util.concurrent.{CountDownLatch, TimeUnit, TimeoutException}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** One completed Spark stage, attributed to the pipeline directory whose
  * job group ran it. All byte counts are summed task metrics. */
final case class StageMetricsRow(
    group: String, stageId: Int, name: String, numTasks: Int,
    runTimeMs: Long, inputBytes: Long, outputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spilledBytes: Long)

/** EP1 monitoring — the engine-native replacement for the reference's
  * driver-side psutil sampler (reference: src/monitoring/
  * pipeline_monitor.py:11-17 polls process CPU/RSS once per stage). A
  * `SparkListener` sees what actually matters at cluster scale: per-STAGE
  * task counts, input/output/shuffle bytes and spills, attributed to the
  * per-directory job group — executor-side truth, not driver-process
  * vitals, and it works unchanged on a 1000-executor cluster where there
  * is no single process to poll (SURVEY.md §7.7).
  *
  * The listener bus is asynchronous; [[Pipeline.runInstrumented]] drains
  * it ([[PipelineMetrics.drain]]) before snapshotting. Accumulation is
  * driver-side and O(# stages) — a few hundred tiny rows per run.
  */
final class PipelineMetrics extends SparkListener {

  private val groups = scala.collection.concurrent.TrieMap.empty[Int, String]
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[StageMetricsRow]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(id => groups.put(id, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    done.add(StageMetricsRow(
      groups.getOrElse(si.stageId, ""),
      si.stageId,
      si.name.linesIterator.nextOption().getOrElse("").take(120),
      si.numTasks,
      tm.executorRunTime,
      tm.inputMetrics.bytesRead,
      tm.outputMetrics.bytesWritten,
      tm.shuffleReadMetrics.totalBytesRead,
      tm.shuffleWriteMetrics.bytesWritten,
      tm.memoryBytesSpilled + tm.diskBytesSpilled))
  }

  def snapshot: Seq[StageMetricsRow] = {
    import scala.jdk.CollectionConverters._
    done.iterator.asScala.toSeq.sortBy(_.stageId)
  }
}

object PipelineMetrics {

  /** Returns once every event posted before the call, including all events
    * of every finished action, has reached every listener on the shared
    * queue (where `addSparkListener` puts them). A queue delivers in posting
    * order, so it waits for the start of a zero-partition marker job, which
    * runs no task. Throws rather than return with events pending. */
  def drain(sc: SparkContext): Unit = {
    val marker = s"graft-drain-${java.util.UUID.randomUUID()}"
    val delivered = new CountDownLatch(1)
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker)) delivered.countDown()
    }
    val callerGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.addSparkListener(probe)
    try {
      sc.setLocalProperty("spark.jobGroup.id", marker)
      sc.emptyRDD[Int].count()
      if (!delivered.await(60, TimeUnit.SECONDS))
        throw new TimeoutException("listener bus did not deliver the drain marker within 60 s")
    } finally {
      sc.setLocalProperty("spark.jobGroup.id", callerGroup)
      sc.removeSparkListener(probe)
    }
  }
}
