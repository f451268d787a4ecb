package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-level cleaning: predicate chains and IQR outlier removal.
  *
  * Reference semantics (SURVEY.md §2.2 P1/P2):
  *  - chained open/closed range predicates
  *    (reference: src/data_processing/spark_processor.py:110-118)
  *  - two-pass IQR filter: quantiles → [Q1−k·IQR, Q3+k·IQR]
  *    (reference: src/data_processing/spark_processor.py:120-135)
  *
  * Catalyst collapses the predicate chain into a single filter and pushes
  * it into the parquet scan (row-group + page pruning), so the chain costs
  * one scan regardless of rule count — verify with `PushedFilters` in
  * `df.explain("formatted")`.
  */
object Cleaning {

  /** One range rule; `None` bound = unbounded on that side. */
  final case class RangeRule(
      column: String,
      lo: Option[Double] = None,
      hi: Option[Double] = None,
      loInclusive: Boolean = false,
      hiInclusive: Boolean = false) {
    def predicate: Column = {
      val c = col(column)
      val lp = lo.map(v => if (loInclusive) c >= v else c > v)
      val hp = hi.map(v => if (hiInclusive) c <= v else c < v)
      (lp.toSeq ++ hp.toSeq).reduceOption(_ && _).getOrElse(lit(true))
    }
  }

  /** P1: apply every rule (conjunction). Pure plan transform, no action. */
  def applyRules(df: DataFrame, rules: Seq[RangeRule]): DataFrame =
    rules.foldLeft(df)((d, r) => d.filter(r.predicate))

  /** Exact Q1/Q3 via sort-based `percentile` — used when results must be
    * oracle-reproducible (SURVEY.md §7.4.3). One extra pass over one column.
    * `None` when the column holds no non-null value (empty input included).
    */
  def quartilesExact(df: DataFrame, column: String): Option[(Double, Double)] = {
    val row = df.agg(
      expr(s"percentile($column, 0.25)").as("q1"),
      expr(s"percentile($column, 0.75)").as("q3")).head()
    if (row.isNullAt(0)) None else Some((row.getDouble(0), row.getDouble(1)))
  }

  /** Approximate Q1/Q3 via a single-pass quantile sketch — the 100 TB path
    * (constant memory per partition, mergeable). `None` when the column
    * holds no non-null, non-NaN value: `approxQuantile` then returns no
    * quantiles at all. */
  def quartilesApprox(df: DataFrame, column: String, accuracy: Int = 10000): Option[(Double, Double)] =
    df.stat.approxQuantile(column, Array(0.25, 0.75), 1.0 / accuracy) match {
      case Array(q1, q3) => Some((q1, q3))
      case _             => None
    }

  /** P2: two-pass IQR outlier filter. Pass 1 reduces one column to two
    * scalars (tiny driver result — not a `collect` funnel); pass 2 is a
    * pushed-down range filter. `exact=false` switches to the sketch.
    * A column with no non-null value has no quartiles and yields an empty
    * frame: `between` already drops every null row, so no row could pass. */
  def iqrFilter(df: DataFrame, column: String, k: Double = 1.5, exact: Boolean = true): DataFrame =
    (if (exact) quartilesExact(df, column) else quartilesApprox(df, column)) match {
      case Some((q1, q3)) =>
        val iqr = q3 - q1
        df.filter(col(column).between(q1 - k * iqr, q3 + k * iqr))
      case None => df.filter(lit(false))
    }
}
