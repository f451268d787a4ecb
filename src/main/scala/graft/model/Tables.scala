package graft.model

import scala.util.Try
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the synthetic test corpus (one parquet file per table,
  * see TESTDATA.md / FIXTURES.md §B). Schema-on-read from the parquet
  * footer, mirroring the reference's ingestion style
  * (reference: src/data_processing/spark_processor.py:44-61), but each
  * file version's footer is inferred once: a plain `spark.read.parquet`
  * starts a one-task Spark job per load just to read the footer, and
  * that job was most of the build cost of a simple registry query. The
  * schema is cached per path, keyed on the file's
  * `(modificationTime, length)` stamp and the session's parquet
  * schema-conversion settings ([[schemaConfs]]), so a rewrite or a conf
  * change re-infers and a stale schema is never served. Three reads are
  * not cached and go through plain `spark.read.parquet`: a missing path
  * (same `PATH_NOT_FOUND` error), a directory (a partitioned layout, whose
  * metadata stamp can miss a rewrite inside it), and a failed inference.
  *
  * At cluster scale each of these would be a partitioned parquet
  * directory (or catalog table); the single-file layout is a test
  * artifact. Nothing here collects to the driver.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    read(spark, path, stat(spark, path))
  }

  /** The session settings that change what a parquet footer infers to. */
  private[model] val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** path -> (file stamp and schema confs it was inferred under, schema);
    * one entry per path, so a newer version replaces the older one. */
  private val schemaCache = scala.collection.concurrent.TrieMap.empty[String, (String, StructType)]

  private def read(spark: SparkSession, path: String, st: Option[FileStatus]): DataFrame =
    st.filterNot(_.isDirectory) match {
      case Some(file) =>
        val version = (fileStamp(file) +: schemaConfs.map(spark.conf.get)).mkString("@")
        schemaCache.get(path) match {
          case Some((`version`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path) // a failed inference throws: nothing is stored
            schemaCache.put(path, (version, df.schema))
            df
        }
      case None => spark.read.parquet(path)
    }

  /** One `getFileStatus` per load; None for a missing path. */
  private def stat(spark: SparkSession, path: String): Option[FileStatus] = {
    val p = new Path(path)
    Try(p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)).toOption
  }

  /** Staleness stamp of a plain file: `modificationTime:length`. */
  private def fileStamp(file: FileStatus): String = s"${file.getModificationTime}:${file.getLen}"

  /** Size-gated scan-parallelism floor for MAP-HEAVY substrate consumers
    * (round 12) — opt-in per CALL SITE, never the loader default.
    *
    * The driver's tables are ONE parquet file with ONE row group each, so
    * a scan yields ONE task no matter how it is split (a split only
    * processes row groups whose midpoint it contains). For a stage whose
    * per-input-row work is large (u19's md5-per-shingle KMV distinct:
    * state build 4.4 s single-task vs 1.1 s widened, same JVM), a
    * ROUND-ROBIN repartition of the narrow pre-explode rows restores the
    * session's parallelism. But it is NOT free: two full-suite A/Bs at
    * sf0.1 showed flooring scans at the LOADER is a net tax — every
    * sub-second scan+agg query pays ~0.2–0.5 s of exchange/stage overhead
    * its single-task whole-stage codegen never needed (246→302 s with
    * every table floored; ~60 cheap documents queries doubled with
    * documents floored). So the floor is a per-call-site decision for
    * operators that have MEASURED a win.
    *
    * Scale honesty: gated to (64 KB, min(4 MB·parallelism, 512 MB)) — a
    * cluster-scale corpus is past the cap, so this never shuffles 100 TB
    * of text; filters and column pruning push through the repartition
    * into the scan (PlanSpec-pinned); results are partition-layout-
    * independent per the §7.5 determinism contract. */
  def widened(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val st = stat(spark, path)
    val df = read(spark, path, st)
    val target = spark.sparkContext.defaultParallelism
    // cache key carries a staleness stamp so a dataset regenerated or
    // appended at the same path in a long-lived session re-derives its
    // widen decision (r12 advice: a JVM-lifetime key kept a stale
    // repartition choice for a grown/shrunk table). For a FILE the stamp
    // is the schema cache's (modTime, length), from the load's one
    // getFileStatus. For a DIRECTORY (partitioned layout)
    // getFileStatus is useless — a dir's getLen is 0 and its mtime moves
    // only on direct-child add/remove, so a rewrite inside partition
    // subdirs would keep the stale decision (r13 advice) — the stamp is
    // the recursive content summary (total length + file count) instead,
    // paying the walk per call; acceptable because widened() is a
    // per-call-site opt-in on measured winners, and the walk is the same
    // metadata op the miss path already does. Residual limitation: a
    // byte-patch rewrite preserving total length AND file count is not
    // detected — parquet convention is replace-not-patch, so that write
    // pattern doesn't occur.
    // one metadata pass derives BOTH the stamp and the byte count (r14
    // advice: the dir branch walked getContentSummary twice per miss)
    val (stamp, bytes) = st match {
      case Some(d) if d.isDirectory =>
        Try {
          val p = new Path(path)
          val cs = p.getFileSystem(spark.sessionState.newHadoopConf()).getContentSummary(p)
          (s"dir:${cs.getLength}:${cs.getFileCount}", cs.getLength)
        }.getOrElse(("absent", Long.MaxValue))
      case Some(file) => (fileStamp(file), file.getLen)
      case None => ("absent", Long.MaxValue)
    }
    val prefix = s"$path@$target@"
    val key = prefix + stamp
    val widen = widenCache.getOrElseUpdate(key, {
      // churned stamps for the same path@target would otherwise accumulate
      // forever in a long-lived session — evict the superseded keys
      widenCache.keys.filter(k => k.startsWith(prefix) && k != key)
        .foreach(widenCache.remove)
      val ceiling = math.min(4L * 1024 * 1024 * target, 512L * 1024 * 1024)
      bytes > 64L * 1024 && bytes < ceiling
    })
    if (widen) df.repartition(target) else df
  }
  private val widenCache = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** Event-time contract: `events.ts` is always `TimestampType` after
    * loading, whatever the producer wrote. Real pipelines meet (at least)
    * three encodings across producers, and `withWatermark` accepts only
    * `TimestampType`, so the loader conforms all of them:
    *  - parquet TIMESTAMP(NANOS) → Spark reads long nanoseconds
    *    (spark.sql.legacy.parquet.nanosAsLong — see graft.engine.Sessions);
    *    truncated to micros here.
    *  - TIMESTAMP_MICROS(isAdjustedToUTC=false) → Spark reads
    *    TIMESTAMP_NTZ; cast to TimestampType. The session TZ is pinned UTC
    *    (Sessions), so the cast is instant-preserving — the wall-clock
    *    value (and every oracle hash) is unchanged.
    *  - TIMESTAMP_MICROS(isAdjustedToUTC=true) → already TimestampType;
    *    passes through. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTime(load(s, d, "events"), "ts")

  /** Conform one event-time column to `TimestampType` regardless of source
    * encoding (ns-long / NTZ / LTZ). Shared by the batch loader and the
    * streaming ingest paths so every `withWatermark(col, …)` site works on
    * any producer. No-op for columns already TimestampType. */
  def normalizeEventTime(df: DataFrame, colName: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema(colName).dataType match {
      // integral `div`, NOT `/`: Divide casts to double, whose ulp at
      // epoch-nanos magnitude (~1.7e18 > 2^53) is ~256 ns — a ±1 µs error
      // that could flip second-boundary truncation vs the nanos-exact oracle
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"`$colName` div 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view so `spark.sql(...)` serves the
    * reference's EP2/EP3 SQL reporting surface without an external DB
    * (reference: src/main.py:311-424 goes through Postgres; we stay
    * self-contained — SURVEY.md §3 EP2). */
  /** Register one table as a temp view, routed through the per-table
    * loaders so e.g. the events view gets the same ns→TimestampType
    * normalization as DataFrame-path consumers. */
  def register(spark: SparkSession, dir: String, name: String): Unit = {
    val df = name match {
      case "events" => events(spark, dir)
      case other    => load(spark, dir, other)
    }
    df.createOrReplaceTempView(name)
  }

  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(register(spark, dir, _))
}
