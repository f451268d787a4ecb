package graft.ops

import org.apache.spark.sql.SparkSession

/** Staging-build + two-rename swap + crash recovery — the shared
  * segment-refresh discipline behind [[VectorIndex.refresh]] (IVF
  * centroids+index) and [[PqIndex.refresh]] (codebooks+codes), extracted
  * in round 18 so both index families carry the SAME crash-safety
  * contract instead of two diverging copies.
  *
  * Protocol for a layout rooted at `<root>`:
  *
  *  1. the whole new layout is built under `<root>.refresh-staging`
  *     while the old one keeps serving every query untouched;
  *  2. the swap is two directory renames (live → retired, staging →
  *     live). On HDFS/POSIX filesystems these are metadata-only, so the
  *     unserveable window is microseconds and readers holding old files
  *     keep them (unlink semantics). On an object store (S3A) a
  *     "rename" is copy+delete — neither atomic nor cheap; there the
  *     swap should be a pointer/manifest flip, which this layout does
  *     not implement — the discipline targets HDFS-like stores;
  *  3. the retired tree is deleted after the swap. A CRASH between the
  *     two renames leaves no live root; [[recover]] (run automatically
  *     at the start of every [[swap]]) promotes whichever sibling is a
  *     COMPLETE layout — staging when all its `markers` (the `_SUCCESS`
  *     files of every artifact dir in the layout) landed, else retired.
  *     Leftover trees are cleared after recovery, never before, so the
  *     promote candidates survive.
  */
object StagedSwap {

  private def fsFor(spark: SparkSession, root: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  /** Heal-then-rebuild-then-swap. `build` receives the STAGING root and
    * must leave a complete layout (every `markers` file present) there;
    * everything else is the protocol above. Returns what `build` returned. */
  def swap[T](spark: SparkSession, root: String, markers: Seq[String])(
      build: String => T): T = {
    recover(spark, root, markers) // heal a crashed previous swap first
    val fs = fsFor(spark, root)
    val live = new org.apache.hadoop.fs.Path(root)
    val staging = new org.apache.hadoop.fs.Path(s"$root.refresh-staging")
    val retired = new org.apache.hadoop.fs.Path(s"$root.refresh-retired")
    fs.delete(staging, true) // stale trees from a crashed refresh BUILD
    fs.delete(retired, true)
    val built = build(staging.toString)
    require(markers.forall(m =>
      fs.exists(new org.apache.hadoop.fs.Path(staging, m))),
      s"refresh build left an incomplete layout at $staging (missing a marker of ${markers.mkString(", ")})")
    require(fs.rename(live, retired), s"refresh swap: could not retire $live")
    require(fs.rename(staging, live), s"refresh swap: could not promote $staging")
    fs.delete(retired, true)
    built
  }

  /** Crash recovery for a [[swap]] that died between its two renames: if
    * `<root>` is absent, promote whichever sibling is complete — staging
    * when every marker landed (the crash happened after the first
    * rename, one rename short of the new layout serving), else the
    * retired tree (the old layout, fully intact). Returns true when a
    * promote happened, false when live already exists (the no-crash
    * norm). Throws when nothing recoverable exists at the root. */
  def recover(spark: SparkSession, root: String, markers: Seq[String]): Boolean = {
    val fs = fsFor(spark, root)
    val live = new org.apache.hadoop.fs.Path(root)
    if (fs.exists(live)) return false
    val staging = new org.apache.hadoop.fs.Path(s"$root.refresh-staging")
    val retired = new org.apache.hadoop.fs.Path(s"$root.refresh-retired")
    def complete(dir: org.apache.hadoop.fs.Path): Boolean =
      markers.forall(m => fs.exists(new org.apache.hadoop.fs.Path(dir, m)))
    val candidate =
      if (complete(staging)) staging
      else if (complete(retired)) retired
      else throw new IllegalStateException(
        s"refresh recovery: no live layout at $root and neither " +
          s"$staging nor $retired is complete — nothing to promote")
    require(fs.rename(candidate, live),
      s"refresh recovery: could not promote $candidate to $live")
    // the OTHER sibling (if any) is now stale; clear it so the healed
    // root is exactly the pre-crash layout
    fs.delete(if (candidate == staging) retired else staging, true)
    true
  }
}
