package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned table snapshots with time travel — the poor-lakehouse's
  * Delta/Iceberg version history on plain parquet: each write lands a
  * complete immutable snapshot under `<table>/v=N/`, readers resolve
  * "latest" or any pinned N, and two versions diff through
  * [[graft.ops.Diff]]'s added/removed/changed classification.
  *
  * Scale + atomicity shape:
  *  - version resolution is one directory LISTING (driver metadata, the
  *    FileIndex class of work — no data moves);
  *  - writes stage to a dotted tmp dir and RENAME into `v=N` — readers
  *    can never observe a half-written version (dot-prefixed dirs are
  *    invisible to them), and a crash leaves only the tmp to sweep;
  *  - [[write]] snapshots are full copies: storage ∝ versions retained,
  *    each read stays a plain one-dir scan with zero log replay — right
  *    for label/dim slivers, prohibitive for archive-scale frames;
  *  - [[writeDelta]] is the delta mode for exactly that case: a version
  *    is a U8 CDC changelog (rows + op/seq), storage ∝ CHANGES, and
  *    reads resolve base + changelog chain through
  *    [[graft.ops.Merge.applyChangeLog]] — the Delta-Lake
  *    checkpoint+json-log shape on plain parquet. [[checkpoint]]
  *    rematerializes a full snapshot so chains stay short and
  *    [[retain]] can GC; retention never orphans a chain (it cuts only
  *    at full-snapshot boundaries).
  *
  * A delta version dir carries a `_DELTA` marker file (underscore-files
  * are invisible to parquet readers, like `_SUCCESS`) recording the
  * key/op/seq columns it was committed with; the marker is staged inside
  * the dotted tmp dir, so delta commits keep the same atomicity contract
  * as full ones. */
object Versioned {

  private val VersionRe = "^v=(\\d+)$".r
  private val DeltaMarker = "_DELTA"
  private val CommitMarker = "_COMMIT"

  /** Test seam for the commit race: runs between the exists pre-check and
    * the rename, so a spec can HOLD two committers inside the TOCTOU
    * window and prove the post-rename verification (not timing) decides
    * the winner. Production value is a no-op. */
  private[io] var preRenameHook: () => Unit = () => ()

  /** All committed versions under `tablePath`, ascending. */
  def versions(spark: SparkSession, tablePath: String): Seq[Long] = {
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap(s => VersionRe.findFirstMatchIn(s.getPath.getName).map(_.group(1).toLong))
      .sorted
  }

  def latestVersion(spark: SparkSession, tablePath: String): Option[Long] =
    versions(spark, tablePath).lastOption

  /** Commit `df` as the next FULL snapshot; returns its version number. */
  def write(df: DataFrame, tablePath: String): Long =
    commit(df.sparkSession, tablePath)(tmp => df.write.parquet(tmp.toString))

  /** Commit several named frames as ONE full version, each under
    * `v=N/<name>/` and all claimed by the one rename: readers see every
    * part of version N or none. Read a part back with [[readPart]];
    * [[read]], [[diff]] and [[writeDelta]] take single-frame tables. */
  def writeParts(spark: SparkSession, tablePath: String,
                 parts: Seq[(String, DataFrame)]): Long =
    commit(spark, tablePath) { tmp =>
      parts.foreach { case (name, df) => df.write.parquet(new Path(tmp, name).toString) }
    }

  /** The frame [[writeParts]] committed under `name` in `version`. */
  def readPart(spark: SparkSession, tablePath: String, name: String,
               version: Long): DataFrame =
    spark.read.parquet(s"$tablePath/v=$version/$name")

  /** Commit a U8 CDC changelog as the next version — the delta-sized
    * alternative to [[write]] for frames where a full copy per version is
    * prohibitive. `changes` carries the table's columns plus
    * `opCol` ∈ {"upsert","delete"} and a per-key monotone `seqCol`
    * ([[graft.ops.Merge.applyChangeLog]]'s exact contract, including
    * latest-seq-wins within the batch). Requires an existing base
    * snapshot (a delta against nothing is a full write — be explicit).
    *
    * Storage ∝ changes; read cost = base scan + one applyChangeLog fold
    * per chained delta (each: one batch-sized window shuffle + one
    * anti-join against the accumulating frame) — keep chains short with
    * [[checkpoint]]. */
  def writeDelta(changes: DataFrame, tablePath: String, keys: Seq[String],
                 opCol: String = "op", seqCol: String = "seq"): Long = {
    require(keys.nonEmpty, "writeDelta needs at least one key column")
    val spark = changes.sparkSession
    val vs = versions(spark, tablePath)
    require(vs.nonEmpty,
      s"Versioned.writeDelta: no base snapshot under $tablePath — commit a full write() first")
    // applyChangeLog preserves exactly the target's columns, so the
    // resolved schema == the nearest full snapshot's schema — validate
    // against that one dir instead of building the whole chain plan
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    val base = vs.reverse.find(x => !hasMarker(fs, new Path(tablePath, s"v=$x")))
      .getOrElse(throw new IllegalStateException(
        s"Versioned.writeDelta: no full snapshot under $tablePath — chain is orphaned"))
    val targetCols = spark.read.parquet(s"$tablePath/v=$base").columns.toIndexedSeq
    require(keys.forall(targetCols.contains),
      s"Versioned.writeDelta: keys ${keys.filterNot(targetCols.contains).mkString(",")} " +
        s"not in table columns ${targetCols.mkString(",")}")
    val missing = (targetCols :+ opCol :+ seqCol).filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"Versioned.writeDelta: changelog missing columns: ${missing.mkString(",")}")
    commit(spark, tablePath) { tmp =>
      changes.write.parquet(tmp.toString)
      writeText(fs, new Path(tmp, DeltaMarker),
        s"keys=${keys.mkString(",")}\nop=$opCol\nseq=$seqCol\n")
    }
  }

  /** Is committed `version` a delta (changelog) rather than a full
    * snapshot? Refuses a version that is not committed (a silent `false`
    * would be indistinguishable from "full snapshot" — the same loud
    * contract as [[read]]). */
  def isDelta(spark: SparkSession, tablePath: String, version: Long): Boolean = {
    require(versions(spark, tablePath).contains(version),
      s"Versioned.isDelta: version $version not present under $tablePath " +
        s"(have: ${versions(spark, tablePath).mkString(", ")})")
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    hasMarker(fs, new Path(tablePath, s"v=$version"))
  }

  private def hasMarker(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, DeltaMarker))

  private def deltaMeta(fs: org.apache.hadoop.fs.FileSystem,
                        dir: Path): (Seq[String], String, String) = {
    val in = fs.open(new Path(dir, DeltaMarker))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val kv = text.linesIterator.filter(_.contains('='))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
    (kv("keys").split(",").toIndexedSeq, kv("op"), kv("seq"))
  }

  /** Staging-dir name for an in-flight commit of `v` — the `suffix` is
    * attempt-unique so CONCURRENT committers racing the same version can
    * never share (or "stale-clean") each other's in-flight bytes. */
  private val TmpName = """\.v=(\d+)\.tmp.*""".r

  /** Delete crashed committers' staging dirs. `below` sweeps only
    * versions strictly under the current tip (those versions are taken —
    * the tmp can never win); a SAME-version tmp may belong to a LIVE
    * racing writer and is swept only by the winner after its rename
    * (post-commit, when the version is decided). */
  private def sweepStaleTmps(fs: org.apache.hadoop.fs.FileSystem,
                             tablePath: String, version: Long,
                             below: Boolean): Unit = {
    Option(fs.globStatus(new Path(tablePath, ".v=*.tmp*")))
      .getOrElse(Array.empty).foreach { st =>
        st.getPath.getName match {
          case TmpName(v) if (if (below) v.toLong < version else v.toLong == version) =>
            fs.delete(st.getPath, true)
          case _ => ()
        }
      }
    // Nested leftovers inside DECIDED (below-tip) version dirs: a racing
    // loser whose rename copied its tmp INTO the winner's v=N can crash
    // after the winner's post-commit sweep already ran but before its own
    // nested delete — that hidden v=N/.v=N.tmp-* dir would otherwise leak
    // forever, since the post-commit sweep only looks inside the NEW dest.
    // Those versions are decided, so the nested bytes can never win;
    // dot-prefixed dirs are invisible to parquet readers (storage-leak
    // cleanup only, no correctness effect).
    if (below)
      Option(fs.globStatus(new Path(tablePath, "v=*/.v=*.tmp*")))
        .getOrElse(Array.empty)
        .foreach(st => try fs.delete(st.getPath, true) catch { case _: Throwable => () })
  }

  /** Two-phase commit: `stage` writes the version's files into an
    * attempt-unique tmp dir, then the version is claimed by RENAME and the
    * claim VERIFIED by marker. Every writer ([[write]], [[writeDelta]],
    * [[writeParts]]) commits through here.
    *
    * rename alone is NOT a safe claim primitive: renaming a directory
    * onto an existing one does not reliably fail — HDFS legacy rename
    * moves src INTO dst, and RawLocalFileSystem falls back to
    * FileUtil.copy(deleteSource=true) into the existing dst, both
    * returning true. So of two committers racing the same `next`, BOTH
    * exists-check→rename sequences can "succeed" inside the TOCTOU
    * window, the loser's bytes landing as a hidden `v=N/.v=N.tmp-*`
    * nested dir — a lost update reported as success.
    *
    * The claim is therefore decided by an attempt-UUID `_COMMIT` marker
    * staged inside the tmp dir: after rename returns, the committer reads
    * `dest/_COMMIT` — only the attempt whose rename placed tmp AT dest
    * (not INTO it) sees its own UUID there. A mismatch means this attempt
    * lost; it deletes its nested dir from inside the winner's snapshot
    * and fails loudly. Underscore files are invisible to parquet readers
    * (like `_SUCCESS`), so the marker rides in the committed snapshot for
    * free. Pinned by VersionedSpec's barrier-in-the-TOCTOU-window race
    * (and by extension every IncrementalIngest artifact, which commits
    * only through here). */
  private def commit(spark: SparkSession, tablePath: String)(stage: Path => Unit): Long = {
    val next = latestVersion(spark, tablePath).fold(1L)(_ + 1)
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    sweepStaleTmps(fs, tablePath, next, below = true)
    val attempt = java.util.UUID.randomUUID().toString
    val tmp = new Path(tablePath, s".v=$next.tmp-${attempt.take(8)}")
    val dest = new Path(tablePath, s"v=$next")
    try {
      stage(tmp)
      writeText(fs, new Path(tmp, CommitMarker), attempt)
      require(!fs.exists(dest),
        s"Versioned.write: $dest already exists — concurrent writer? refusing to clobber")
      preRenameHook()
      require(fs.rename(tmp, dest), s"Versioned.write: commit rename $tmp -> $dest failed " +
        "(concurrent writer claimed the version?) — refusing to clobber")
      // rename returned true — but that is not yet a claim (see scaladoc).
      // Only the attempt whose UUID is at dest/_COMMIT owns the version.
      val committed = readText(fs, new Path(dest, CommitMarker))
      if (!committed.contains(attempt)) {
        // lost the race: our tmp was moved INTO the winner's dest as a
        // nested dir — remove our bytes from their snapshot, fail loudly
        try fs.delete(new Path(dest, tmp.getName), true) catch { case _: Throwable => () }
        throw new IllegalStateException(
          s"Versioned.write: lost commit race for $dest — a concurrent writer's " +
            s"marker ${committed.getOrElse("<missing>")} is committed, not this " +
            s"attempt's $attempt; this attempt's rows were NOT committed")
      }
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, true) catch { case _: Throwable => () }
        throw e
    }
    // the version is decided: sweep any same-version staging leftovers
    // (crashed or doomed racing losers) — both at the table level and
    // nested INSIDE the committed dir (a loser whose rename copied it in
    // but crashed before its own cleanup)
    sweepStaleTmps(fs, tablePath, next, below = false)
    Option(fs.globStatus(new Path(dest, ".v=*.tmp*"))).getOrElse(Array.empty)
      .foreach(st => try fs.delete(st.getPath, true) catch { case _: Throwable => () })
    next
  }

  private def writeText(fs: org.apache.hadoop.fs.FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, false)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def readText(fs: org.apache.hadoop.fs.FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
    }

  /** Read a pinned version, or latest when `version` is None. A full
    * snapshot is one dir scan; a delta version resolves as the nearest
    * full snapshot at-or-below it plus its changelog chain folded in
    * version order (each delta replays with the key/op/seq columns it
    * was committed with). */
  def read(spark: SparkSession, tablePath: String,
           version: Option[Long] = None): DataFrame = {
    val vs = versions(spark, tablePath)
    val v = version.orElse(vs.lastOption).getOrElse(
      throw new IllegalArgumentException(
        s"Versioned.read: no committed versions under $tablePath"))
    require(vs.contains(v),
      s"Versioned.read: version $v not present under $tablePath " +
        s"(have: ${vs.mkString(", ")})")
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    val chain = vs.filter(_ <= v)
    val base = chain.reverse.find(x => !hasMarker(fs, new Path(tablePath, s"v=$x")))
      .getOrElse(throw new IllegalStateException(
        s"Versioned.read: no full snapshot at or below v=$v under $tablePath — " +
          "delta chain is orphaned (was its base deleted outside retain()?)"))
    val baseDf = spark.read.parquet(s"$tablePath/v=$base")
    chain.filter(_ > base).foldLeft(baseDf) { (acc, dv) =>
      val dir = new Path(tablePath, s"v=$dv")
      val (keys, opCol, seqCol) = deltaMeta(fs, dir)
      graft.ops.Merge.applyChangeLog(acc, spark.read.parquet(dir.toString),
        keys, opCol, seqCol)
    }
  }

  /** Number of consecutive delta versions at the tip (0 when latest is a
    * full snapshot or the table is empty) — the "how long is the chain"
    * input to a checkpoint-every-K policy. */
  def chainLength(spark: SparkSession, tablePath: String): Int = {
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    versions(spark, tablePath).reverse
      .takeWhile(v => hasMarker(fs, new Path(tablePath, s"v=$v"))).size
  }

  /** Rematerialize the latest resolved state as a FULL snapshot, ending
    * the current delta chain — run periodically so reads stay one-scan
    * and [[retain]] has a boundary to GC behind. No-op (returns the
    * existing version) when latest is already full. */
  def checkpoint(spark: SparkSession, tablePath: String): Long = {
    val latest = latestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"Versioned.checkpoint: no committed versions under $tablePath"))
    if (!isDelta(spark, tablePath, latest)) latest
    else write(read(spark, tablePath), tablePath)
  }

  /** Retention GC: drop the oldest versions, keeping the newest `keep`.
    * Returns the versions removed. Never orphans a delta chain: the cut
    * happens at the newest FULL snapshot at-or-below the oldest kept
    * version, so a table whose tail is all deltas may retain more than
    * `keep` versions until a [[checkpoint]] lands. Refuses keep < 1 (a
    * table with no versions is not retention, it is deletion — be
    * explicit). */
  def retain(spark: SparkSession, tablePath: String, keep: Int): Seq[Long] = {
    require(keep >= 1, s"retain needs keep >= 1, got $keep")
    val vs = versions(spark, tablePath)
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    val drop = if (vs.isEmpty) Seq.empty[Long] else {
      val oldestKept = vs.takeRight(keep).head
      val cut = vs.filter(_ <= oldestKept).reverse
        .find(x => !hasMarker(fs, new Path(tablePath, s"v=$x")))
        .getOrElse(vs.head) // all-delta history: nothing safe to drop below
      vs.filter(_ < cut)
    }
    drop.foreach(v => fs.delete(new Path(tablePath, s"v=$v"), true))
    drop
  }

  /** added/removed/changed rows between two committed versions
    * ([[graft.ops.Diff.snapshotDiff]] semantics; `keys` identify rows). */
  def diff(spark: SparkSession, tablePath: String, from: Long, to: Long,
           keys: Seq[String]): DataFrame =
    graft.ops.Diff.snapshotDiff(
      read(spark, tablePath, Some(from)), read(spark, tablePath, Some(to)), keys)
}
