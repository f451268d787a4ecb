package perfbench

import org.apache.spark.SparkBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.engine.Sessions
import graft.pipeline.{Pipeline, Reports}

/** One benchmark run in one JVM: start a session, run untimed warm-up
  * iterations, run iterations in a closed loop (one client) for the given
  * number of seconds, check the outputs and write `result.json` (and, when
  * traced, `trace.jsonl`) into the output directory.
  *
  *   Harness <workload> <inputDir> <outDir> <seconds> <trace 0|1> <seed> [queries]
  *
  * Workloads call only the entry points a user calls: EP1
  * (`Pipeline.runInstrumented` + `Reports.generate`, as `RunPipeline`
  * does) and the registry's production query plans forced through the
  * `noop` sink.
  */
object Harness {

  /** What one iteration did: work units (input rows or queries), whether
    * the engine reported success, a label, and the latency of each request
    * when an iteration serves several. */
  final case class Step(units: Long, ok: Boolean, label: String, latencies: Seq[Double] = Nil)
  final case class Iter(wallS: Double, step: Step)

  trait Workload {
    /** Untimed iterations before the clock starts. JIT compilation goes
      * on well past the first iteration, so one is not enough. */
    def warmupIterations: Int = 2
    /** The first warm-up iteration; by default a normal one. */
    def warmup(span: Tracing): Step = iteration(0, span)
    def iteration(i: Int, span: Tracing): Step
    /** Untimed output checks, run once after the timed loop. */
    def checks(): Map[String, Any]
  }

  /** Spans when traced, a plain call otherwise. */
  final class Tracing(spark: SparkSession, tracer: Option[Tracer]) {
    def apply[T](name: String, attrs: (String, Any)*)(body: => T): T =
      tracer.fold(body)(_.span(spark, name, attrs: _*)(body))
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, input, out, secondsS, traceS, seedS) = args.take(6)
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val seed = seedS.toLong
    new java.io.File(out).mkdirs()

    val t0 = System.nanoTime()
    val spark = Sessions.local()
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val failedStages = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.failureReason.isDefined) failedStages.incrementAndGet()
    })

    val wl: Workload = workload match {
      case "ep1_etl"    => new Ep1(spark, input, s"$out/ep1")
      case "report_mix" => new Mix(spark, input, args(6).split(',').toSeq, seed)
      case "survey"     =>
        survey(spark, input, out, args(6).split(',').toSet); spark.stop(); return
      case other        => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val plain = new Tracing(spark, None)

    def one(i: Int, tracing: Tracing): Iter = {
      val s = System.nanoTime()
      val step = tracing("bench.iteration", "iter" -> i, "warmup" -> (i < wl.warmupIterations)) {
        if (i == 0) wl.warmup(tracing) else wl.iteration(i, tracing)
      }
      Iter((System.nanoTime() - s) / 1e9, step)
    }
    def loop(budgetS: Double, first: Int, tracing: Tracing): Seq[Iter] = {
      val start = System.nanoTime()
      Iterator.from(first).takeWhile(_ => (System.nanoTime() - start) / 1e9 < budgetS)
        .map(one(_, tracing)).toList
    }

    // A traced run records the warm-up and the second half of the window;
    // the untraced first half is the baseline for the tracing overhead.
    val tracer = if (traced) Some(new Tracer) else None
    val tracing = new Tracing(spark, tracer)
    def recording[T](body: => T): T = tracer.fold(body) { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      try body finally {
        SparkBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(t)
        spark.sparkContext.removeSparkListener(t)
      }
    }

    // set-up = session start + the untimed full-size warm-up iterations
    val warmup = recording((0 until wl.warmupIterations).map(one(_, tracing)))
    val setupS = sessionStartS + warmup.map(_.wallS).sum
    val timed = loop(if (traced) seconds / 2 else seconds, wl.warmupIterations, plain)
    val tracedIters =
      if (traced) recording(loop(seconds / 2, wl.warmupIterations + timed.size, tracing)) else Nil
    tracer.foreach(_.dump(s"$out/trace.jsonl"))

    val checks = wl.checks()
    SparkBus.drain(spark.sparkContext) // count the checks' failed stages too
    def iterJson(xs: Seq[Iter]) = xs.map(x => Map("wall_s" -> x.wallS, "units" -> x.step.units,
      "ok" -> x.step.ok, "label" -> x.step.label, "latencies" -> x.step.latencies))
    val result = Tracer.obj(Seq(
      "workload" -> workload, "seed" -> seed,
      "session_start_s" -> sessionStartS, "setup_s" -> setupS,
      "warmup" -> iterJson(warmup),
      "iterations" -> iterJson(timed), "traced_iterations" -> iterJson(tracedIters),
      "checks" -> checks, "failed_stages" -> failedStages.get(),
      "peak_rss_mb" -> peakRssMb()))
    val w = new java.io.PrintWriter(s"$out/result.json", "UTF-8")
    try w.println(result) finally w.close()
    spark.stop()
  }

  /** Run each named registry query twice through the `noop` sink, then
    * digest it twice, writing one JSON line per query: the raw material
    * for choosing the query mix and recording its expected digests
    * (record_mix.py). */
  def survey(spark: SparkSession, input: String, out: String, names: Set[String]): Unit = {
    val w = new java.io.PrintWriter(s"$out/survey.jsonl", "UTF-8")
    try graft.SparkEntry.specs.filter(s => names.contains(s.name)).foreach { spec =>
      val rec = try {
        val t = System.nanoTime()
        spec.production(spark, input).write.mode("overwrite").format("noop").save()
        val first = (System.nanoTime() - t) / 1e9
        val t2 = System.nanoTime()
        spec.production(spark, input).write.mode("overwrite").format("noop").save()
        val second = (System.nanoTime() - t2) / 1e9
        val d1 = digest(spec.production(spark, input))
        val d2 = digest(spec.production(spark, input))
        Seq("name" -> spec.name, "ok" -> true, "first_s" -> first, "second_s" -> second,
          "prepare" -> spec.prepare.isDefined, "rows" -> d1._1, "digest" -> d1._2,
          "stable" -> (d1 == d2))
      } catch { case e: Throwable =>
        Seq("name" -> spec.name, "ok" -> false, "error" -> String.valueOf(e.getMessage).take(300))
      }
      w.println(Tracer.obj(rec)); w.flush()
    } finally w.close()
  }

  /** High-water resident set of this JVM, from /proc. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  /** Order-insensitive digest of a frame: row count and the sum of a
    * per-row hash. Floating columns are hashed through a 7-significant-
    * digit rendering, so summation-order noise in the last bits does not
    * change the digest. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.6e", col(f.name).cast(DoubleType))
        case _                      => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** EP1 as `RunPipeline` runs it, one month directory per iteration. */
  final class Ep1(spark: SparkSession, input: String, out: String) extends Workload {
    private val months = new java.io.File(input).listFiles().filter(_.isDirectory)
      .map(_.getPath).sorted.toSeq
    private val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // one month is a short iteration and JIT keeps improving it for
    // several: warm up on three of the four months
    override def warmupIterations: Int = 3

    def iteration(i: Int, span: Tracing): Step = {
      val dir = months(i % months.size)
      val name = dir.replaceAll(".*/", "")
      val (reports, _) = span("pipeline.Pipeline.runInstrumented", "module" -> "pipeline.Pipeline") {
        Pipeline.runInstrumented(spark, Seq(dir), out)
      }
      reports.filterNot(_.ok).foreach { r =>
        failed ++= r.stages.filterNot(_.ok).map(s => s"$name/${s.stage}: ${s.detail}")
      }
      reports.find(_.ok).foreach { r =>
        span("pipeline.Reports.generate", "module" -> "pipeline.Reports") {
          Reports.generate(spark, r.dir, s"$out/$name", s"$out/reports/$name")
        }
      }
      val rows = reports.flatMap(_.stages).find(_.stage == "quality_metrics").map(_.rows).getOrElse(0L)
      Step(rows, reports.forall(_.ok), name)
    }

    // run.py compares the output files with DuckDB.
    def checks(): Map[String, Any] = {
      failed.distinct.foreach(f => System.err.println(s"[perfbench] failed stage $f"))
      Map("ep1_stages_ok" -> failed.isEmpty)
    }
  }

  /** Registry queries in a seeded order: one iteration is one pass over
    * the mix, each pass a new permutation, one query at a time. */
  final class Mix(spark: SparkSession, input: String, names: Seq[String], seed: Long) extends Workload {
    private val specs = {
      val byName = graft.SparkEntry.specs.map(s => s.name -> s).toMap
      names.map(n => byName.getOrElse(n, throw new IllegalArgumentException(s"no query $n")))
    }
    /** The registry module that defines a query's production plan. */
    private def module(spec: graft.QuerySpec): String =
      """graft\.(\w+)\.(\w+)""".r.findFirstMatchIn(spec.production.getClass.getName)
        .map(m => s"${m.group(1)}.${m.group(2).takeWhile(_ != '$')}").getOrElse("queries")

    def iteration(i: Int, span: Tracing): Step = {
      val order = new scala.util.Random(seed * 7919 + i).shuffle(specs.toList)
      val results = order.map { spec =>
        val t = System.nanoTime()
        val ok =
          try {
            val df = span("queries.build", "query" -> spec.name, "module" -> module(spec)) {
              spec.production(spark, input)
            }
            span("bench.noop_write", "query" -> spec.name, "module" -> module(spec)) {
              df.write.mode("overwrite").format("noop").save()
            }
            true
          } catch { case e: Exception =>
            System.err.println(s"[perfbench] ${spec.name} failed: ${e.getMessage}")
            false
          }
        (ok, (System.nanoTime() - t) / 1e9)
      }
      Step(specs.size, results.forall(_._1), s"pass$i", results.map(_._2))
    }

    /** The first warm-up pass doubles as the output check: each query
      * runs once through an order-insensitive digest (row count + summed
      * row hash) instead of the `noop` sink. run.py compares the digests
      * with the recorded ones. The later warm-up passes are plain ones. */
    private var digests = Map.empty[String, Seq[Any]]
    // each query plan warms separately, and dd5 takes several passes
    override def warmupIterations: Int = 3
    override def warmup(span: Tracing): Step = {
      val results = specs.map { spec =>
        val t = System.nanoTime()
        val ok =
          try {
            val d = span("queries.build", "query" -> spec.name, "module" -> module(spec)) {
              spec.production(spark, input)
            }
            val (rows, h) = span("bench.digest", "query" -> spec.name, "module" -> module(spec))(digest(d))
            digests += spec.name -> Seq(rows, h)
            true
          } catch { case e: Exception =>
            System.err.println(s"[perfbench] ${spec.name} failed: ${e.getMessage}")
            false
          }
        (ok, (System.nanoTime() - t) / 1e9)
      }
      Step(specs.size, results.forall(_._1), "warmup", results.map(_._2))
    }

    def checks(): Map[String, Any] = Map("mix_digests" -> digests)
  }
}
