package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Event recorder for the traced run.
  *
  * Spans are opened by the harness around each call it makes into the
  * engine; the listeners add one record per SQL execution, job, stage and
  * planned query. Everything stays in memory until [[dump]] writes it as
  * JSON lines; attribution to modules happens afterwards, outside the JVM.
  * Times are epoch microseconds (listener times carry millisecond
  * precision only).
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val records = new ConcurrentLinkedQueue[String]
  private val nextSpan = new AtomicLong(1)
  private val firstLaunch = TrieMap.empty[(Int, Int), Long]
  private val writerTasks = TrieMap.empty[(Int, Int), Long]

  /** Run `body` inside a span; nested calls on the same thread become
    * children. Jobs submitted inside carry the span id as a local
    * property, so spark-side records can be tied back to the call. */
  def span[T](spark: SparkSession, name: String, attrs: (String, Any)*)(body: => T): T = {
    val sc = spark.sparkContext
    val parent = Option(sc.getLocalProperty(SpanProperty))
    val id = nextSpan.getAndIncrement()
    sc.setLocalProperty(SpanProperty, id.toString)
    val start = nowMicros()
    try body
    finally {
      val end = nowMicros()
      sc.setLocalProperty(SpanProperty, parent.orNull)
      records.add(obj(Seq("t" -> "span", "id" -> id, "parent" -> parent.map(_.toLong).getOrElse(0L),
        "name" -> name, "start" -> start, "end" -> end) ++ attrs))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the result stage carries the job's call site: name = short form,
    // details = the user frames of the submitting stack
    val result = e.stageInfos.maxByOption(_.stageId)
    records.add(obj(Seq("t" -> "job", "id" -> e.jobId, "start" -> e.time * 1000,
      "stages" -> e.stageIds, "site" -> result.fold("")(_.name),
      "site_long" -> result.fold("")(_.details),
      "exec" -> prop("spark.sql.execution.id"), "span" -> prop(SpanProperty))))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    records.add(obj(Seq("t" -> "job_end", "id" -> e.jobId, "end" -> e.time * 1000,
      "ok" -> (e.jobResult == JobSucceeded))))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = (e.stageId, e.stageAttemptId)
    val launch = e.taskInfo.launchTime
    firstLaunch.updateWith(key) { prev => Some(prev.fold(launch)(_ min launch)) }
    val m = e.taskMetrics
    if (m != null && m.outputMetrics.bytesWritten > 0)
      writerTasks.updateWith(key) { prev => Some(prev.getOrElse(0L) + 1) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val key = (si.stageId, si.attemptNumber())
    val tm = si.taskMetrics
    val submit = si.submissionTime.getOrElse(0L)
    records.add(obj(Seq("t" -> "stage", "id" -> si.stageId, "attempt" -> si.attemptNumber(),
      "submit" -> submit * 1000, "end" -> si.completionTime.getOrElse(submit) * 1000,
      "first_launch" -> firstLaunch.remove(key).getOrElse(submit) * 1000,
      "failed" -> si.failureReason.isDefined, "tasks" -> si.numTasks,
      "run_ms" -> tm.executorRunTime, "cpu_ns" -> tm.executorCpuTime, "gc_ms" -> tm.jvmGCTime,
      "in_bytes" -> tm.inputMetrics.bytesRead, "in_rows" -> tm.inputMetrics.recordsRead,
      "out_bytes" -> tm.outputMetrics.bytesWritten, "out_rows" -> tm.outputMetrics.recordsWritten,
      "out_tasks" -> writerTasks.remove(key).getOrElse(0L),
      "shuffle_read" -> tm.shuffleReadMetrics.totalBytesRead,
      "shuffle_write" -> tm.shuffleWriteMetrics.bytesWritten,
      "spill_bytes" -> (tm.memoryBytesSpilled + tm.diskBytesSpilled))))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      records.add(obj(Seq("t" -> "exec", "id" -> s.executionId, "start" -> s.time * 1000,
        "desc" -> s.description.take(200), "site_long" -> s.details,
        "sink" -> sinkPath(s.physicalPlanDescription))))
    case s: SparkListenerSQLExecutionEnd =>
      records.add(obj(Seq("t" -> "exec_end", "id" -> s.executionId, "end" -> s.time * 1000)))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = plan(funcName, qe, ok = false)

  private def plan(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.toSeq.sortBy(_._1).map { case (k, p) =>
      k -> Seq(p.startTimeMs * 1000, p.endTimeMs * 1000) }
    records.add(obj(Seq("t" -> "plan", "func" -> funcName, "ok" -> ok, "phases" -> phases.toMap)))
  }

  /** Write every record as one JSON line. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try records.iterator.asScala.foreach(w.println) finally w.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  private val baseMicros = System.currentTimeMillis() * 1000
  private val baseNanos = System.nanoTime()
  def nowMicros(): Long = baseMicros + (System.nanoTime() - baseNanos) / 1000

  /** Output path of a file write, from the plan text of its execution. */
  // the command's own argument list starts with the output path and the
  // ifPartitionNotExists flag; scan nodes print their paths differently
  private val SinkRe =
    """InsertIntoHadoopFsRelationCommand (file:[^,\s]+)|Arguments: (file:[^,\s]+), (?:true|false),""".r
  def sinkPath(plan: String): String =
    SinkRe.findFirstMatchIn(Option(plan).getOrElse(""))
      .map(m => Option(m.group(1)).getOrElse(m.group(2))).getOrElse("")

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${json(v)}" }.mkString("{", ",", "}")

  def json(v: Any): String = v match {
    case null                 => "null"
    case s: String            => str(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number            => n.toString
    case m: Map[_, _]         => m.map { case (k, x) => s"${str(k.toString)}:${json(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(json).mkString("[", ",", "]")
    case other                => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }
}
