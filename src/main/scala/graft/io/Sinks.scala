package graft.io

import org.apache.spark.sql.DataFrame

/** First-class sinks — SURVEY.md §2.1 S2/S3/S4/S7. All writes are
  * DISTRIBUTED (executor-side `DataFrameWriter`), never a driver collect:
  * the reference funnels every result through `toPandas()` before writing
  * (src/main.py:151,197-205 — the §4.3.3 anti-pattern this replaces).
  */
object Sinks {

  /** Shared columnar-writer plumbing (mode + optional partitionBy) —
    * parquet and orc differ only in the terminal format call. Partitioned
    * writes pass [[graft.engine.WriteGuard.admit]] first (r16 ask #7): a
    * partition key whose cardinality exceeds GRAFT_GUARD_MAX_WRITE_PARTITIONS
    * is refused BEFORE any directory lands — the write-funnel twin of the
    * read-side plan guards. */
  private def columnar(df: DataFrame, partitionBy: Seq[String], mode: String,
                       path: String, knownKeyBound: Option[Long] = None)(
      finish: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] => Unit): Unit = {
    val w = graft.engine.WriteGuard.admit(df, partitionBy,
      mode = mode, target = Some(path), knownKeyBound = knownKeyBound)
      .write.mode(mode)
    finish(if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
  }

  /** S2/S7: parquet sink (any Hadoop-compatible path: local, hdfs://,
    * s3a://). `partitionBy` enables partition pruning for downstream
    * readers — the 100 TB default for date/month-keyed outputs.
    * `knownKeyBound`: caller-contracted total cardinality of the
    * partition key (e.g. an IVF layout's K cells) — lets WriteGuard admit
    * per-micro-batch appends with zero extra jobs (r17 advice). */
  def parquet(df: DataFrame, path: String,
              partitionBy: Seq[String] = Nil,
              mode: String = "overwrite",
              knownKeyBound: Option[Long] = None): Unit =
    columnar(df, partitionBy, mode, path, knownKeyBound)(_.parquet(path))

  /** Parquet sink with output-file sizing: repartitions so each written
    * file lands near `targetBytes` (in-memory plan-statistics estimate;
    * parquet compression means files come out smaller — the point is the
    * ORDER of magnitude, not the exact size). The 100 TB failure modes
    * this guards: a wide shuffle upstream leaves 10k near-empty
    * partitions → 10k tiny files that poison every downstream listing;
    * or one coalesced partition → single multi-GB file with no read
    * parallelism. Sizing comes from Catalyst's sizeInBytes — a
    * plan-time estimate, NO extra job and no driver collect.
    *
    * CAVEAT: sizeInBytes is a SCAN-accurate estimate but inflates
    * multiplicatively through joins/aggregates (a fact⋈fact join can
    * estimate petabytes). `maxFiles` clamps the blowup — for sink inputs
    * that are raw-ish scans the estimate is good; for heavily joined
    * plans either raise `maxFiles` deliberately or materialize first so
    * the estimate comes from real data. */
  def parquetSized(df: DataFrame, path: String,
                   targetBytes: Long = 128L * 1024 * 1024,
                   partitionBy: Seq[String] = Nil,
                   mode: String = "overwrite",
                   maxFiles: Int = 10000): Unit = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(maxFiles > 0, s"maxFiles must be positive, got $maxFiles")
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = (estBytes / targetBytes).min(BigInt(maxFiles)).toInt.max(1)
    // with partitionBy, shuffle BY the partition columns: a blind
    // round-robin repartition would scatter every output partition across
    // every task — parts × partitions small files, the exact disease this
    // sink exists to cure. (Within one partition value all rows then land
    // in one task/file; if single partition values exceed the target,
    // add a salt column to the partitioning — not needed for the
    // date/month-keyed outputs this serves.)
    val sized =
      if (partitionBy.isEmpty) df.repartition(parts)
      else df.repartition(parts, partitionBy.map(org.apache.spark.sql.functions.col): _*)
    parquet(sized, path, partitionBy, mode)
  }

  /** [[parquetSized]] with MEASURED sizing for arbitrary (joined/agg'd)
    * inputs: persists the frame, materializes it once, and reads the
    * actual cached byte count out of the `InMemoryRelation`'s metrics via
    * `QueryExecution.withCachedData` — the same measured statistic
    * Spark's own CBO consults for cached plans. On the join-inflated
    * plans the estimate variant documents as unsafe (a fact⋈fact join can
    * estimate petabytes and slam into `maxFiles`), this measures real
    * post-join data: SinksSpec pins a case where the estimate is ~13000×
    * off and this variant still lands near-target files.
    *
    * The measured read goes through a FRESH `QueryExecution` built after
    * the materializing action: `QueryExecution.withCachedData` and plan
    * statistics are both memoized, so re-using the frame's own (possibly
    * pre-persist) execution would silently return the estimate again —
    * even a caller's earlier `.stats` peek would freeze it.
    *
    * Cost: one persist + one extra pass (the count) + the write — the
    * honest price of exact sizing; the count also returns exact rows.
    * Cached bytes are the DESERIALIZED columnar size, so files come out
    * smaller after parquet encoding+compression — same order-of-magnitude
    * contract as [[parquetSized]], from measurement instead of guesswork. */
  def parquetSizedMaterialized(df: DataFrame, path: String,
                               targetBytes: Long = 128L * 1024 * 1024,
                               partitionBy: Seq[String] = Nil,
                               mode: String = "overwrite",
                               maxFiles: Int = 10000): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(maxFiles > 0, s"maxFiles must be positive, got $maxFiles")
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      cached.count() // materialize the cache; stats below are then measured
      val realBytes = new org.apache.spark.sql.execution.QueryExecution(
        cached.queryExecution.sparkSession,
        cached.queryExecution.logical).withCachedData.stats.sizeInBytes
      val parts = (realBytes / targetBytes).min(BigInt(maxFiles)).toInt.max(1)
      val sized =
        if (partitionBy.isEmpty) cached.repartition(parts)
        else cached.repartition(parts, partitionBy.map(org.apache.spark.sql.functions.col): _*)
      parquet(sized, path, partitionBy, mode)
      realBytes.toLong
    } finally cached.unpersist()
  }

  /** S2+: idempotent partition reload — overwrite ONLY the partitions
    * present in `df`, leaving sibling partitions untouched (per-write
    * `partitionOverwriteMode=dynamic`; the session default `static` would
    * truncate the whole table root). This is the monthly-reprocess
    * primitive the reference's per-month loop implies: re-running one
    * month must replace exactly that month's output, atomically per
    * partition, and never touch the other 119 months of a 10-year
    * 100 TB table. Rerun-safe: same input ⇒ same partitions rewritten. */
  def parquetPartitionOverwrite(df: DataFrame, path: String,
                                partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty,
      "parquetPartitionOverwrite needs partition columns — without them " +
        "dynamic mode degenerates to a full-table overwrite")
    // dynamic overwrite only ever ADDS directories to the target (replaced
    // partitions already exist) — cumulative semantics, like append
    graft.engine.WriteGuard.admit(df, partitionBy,
      mode = "dynamic-overwrite", target = Some(path))
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*)
      .parquet(path)
  }

  /** S2+: range-clustered parquet layout — `repartitionByRange` on the
    * cluster keys, then sort within each partition, then write. Each
    * output file covers a narrow, pairwise-disjoint key interval, so the
    * parquet column min/max statistics become USEFUL: a pushed range or
    * point predicate on the cluster keys skips whole row groups and files
    * instead of scanning 100 TB to filter it. This is the write-side half
    * of predicate pushdown — the scan-side half (PushedFilters) is free,
    * but only pays off if the layout concentrates key ranges. The range
    * exchange samples boundaries from the data (one extra sampling pass),
    * giving even output sizes on skewed keys, unlike hash clustering. */
  def parquetRangeClustered(df: DataFrame, path: String,
                            clusterBy: Seq[String],
                            partitions: Int,
                            mode: String = "overwrite"): Unit = {
    require(clusterBy.nonEmpty, "clusterBy columns required")
    require(partitions > 0, s"partitions must be positive, got $partitions")
    val cols = clusterBy.map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(partitions, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode(mode).parquet(path)
  }

  /** S3: CSV sink with header (quality metrics / reports).
    * `singleFile = true` mimics the reference's one-file-per-report layout
    * via coalesce(1) — fine for KB-scale reports, a deliberate funnel;
    * leave false for data-scale output. */
  def csv(df: DataFrame, path: String,
          singleFile: Boolean = false,
          mode: String = "overwrite"): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode(mode).option("header", "true").csv(path)

  /** S3+: JSON-lines sink — the interchange format LLM corpus tooling
    * speaks (one JSON document per line, splittable when compressed with
    * a block codec). `compression` forwards a codec name (gzip, zstd,
    * none); distributed writer, same contract as [[parquet]]. */
  def jsonl(df: DataFrame, path: String,
            compression: Option[String] = None,
            mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    compression.fold(w)(c => w.option("compression", c)).json(path)
  }

  /** S2+: ORC sink — the other columnar format Spark ships natively.
    * Same predicate-pushdown/column-pruning story as parquet; useful when
    * downstream consumers are ORC-native (Hive/Trino estates). */
  def orc(df: DataFrame, path: String,
          partitionBy: Seq[String] = Nil,
          mode: String = "overwrite"): Unit =
    columnar(df, partitionBy, mode, path)(_.orc(path))

  /** S4: JDBC append sink (reference: postgres_manager.py:95-152 does a
    * driver-side chunked pandas insert; this pushes batched inserts from
    * EXECUTORS — batchsize mirrors the reference's 1000-row chunks).
    * Round-trip verified against embedded Derby in JdbcSpec (write →
    * read-back → row/schema equality, incl. the drop-all-null-rows rule).
    * `columnTypes` forwards createTableColumnTypes (e.g. "name VARCHAR(64)")
    * for databases whose default string mapping is unindexable/ungroupable
    * (Derby/Postgres map StringType to CLOB/TEXT). */
  def jdbc(df: DataFrame, url: String, table: String,
           user: String, password: String,
           batchsize: Int = 1000,
           mode: String = "append",
           columnTypes: Option[String] = None): Unit = {
    // drop rows where every column is null before insert, mirroring the
    // reference's dropna(how='all') (postgres_manager.py:115)
    val w = df.na.drop("all").write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
      .option("batchsize", batchsize.toString)
      .mode(mode)
    columnTypes.fold(w)(ct => w.option("createTableColumnTypes", ct)).save()
  }

  /** Outcome of a [[compactParquet]] run. `bytesInMemory` is the measured
    * deserialized size the sizing decision used (see
    * [[parquetSizedMaterialized]]), not on-disk bytes. */
  final case class CompactionReport(filesBefore: Int, filesAfter: Int,
                                    rows: Long, bytesInMemory: Long)

  /** Small-file compaction — THE recurring 100 TB operational chore: a
    * streaming sink or over-parallel shuffle leaves a directory of
    * thousands of tiny parquet files, and every downstream job then pays
    * file-listing and task-scheduling cost proportional to file count,
    * not data size. Rewrites `path` in place as ~`targetBytes` files via
    * the measured sizing path, preserving content exactly (row count
    * re-verified before the swap; a mismatch aborts loudly with the
    * original intact).
    *
    * Swap discipline: [[graft.ops.StagedSwap]] (Hadoop FileSystem API, so
    * the same code runs on local/HDFS/S3A) — the rewrite is built under
    * `path.refresh-staging`, verified, then swapped in by two renames. A
    * crash between the renames leaves no `path`, and the next call heals
    * it before reading: the verified rewrite (its `_SUCCESS` landed) is
    * promoted, else the retired original. The verify-before-swap
    * ordering guarantees a crash can never lose rows. */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, path: String,
                     targetBytes: Long = 128L * 1024 * 1024): CompactionReport = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = Seq("_SUCCESS")
    // nothing live and nothing to promote is the missing-dir case below
    try graft.ops.StagedSwap.recover(spark, path, marker)
    catch { case _: IllegalStateException => false }
    require(fs.exists(p), s"compactParquet: $path does not exist")
    def parquetFiles(dir: Path): Int = {
      val it = fs.listFiles(dir, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val filesBefore = parquetFiles(p)
    val src = spark.read.parquet(path)
    val rows = src.count()
    val bytes = graft.ops.StagedSwap.swap(spark, path, marker) { staging =>
      val measured = parquetSizedMaterialized(src, staging, targetBytes)
      val rewritten = spark.read.parquet(staging).count()
      require(rewritten == rows,
        s"compactParquet: rewrite has $rewritten rows, source has $rows — " +
          s"aborting with the original intact (rewrite left at $staging)")
      measured
    }
    // a persisted stats manifest references the files just deleted —
    // rebuild it over the compacted layout (no-op when none exists)
    graft.ops.Manifest.refreshIfPresent(spark, path)
    CompactionReport(filesBefore, parquetFiles(p), rows, bytes)
  }
}
