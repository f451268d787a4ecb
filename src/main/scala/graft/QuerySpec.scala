package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One verifiable unit of engine capability: a Spark query over the test
  * corpus plus (when SQL-expressible) an equivalent ANSI-SQL oracle the
  * driver runs in DuckDB on the same parquet files.
  *
  * Determinism contract (SURVEY.md §7.5): every oracle-bearing query has a
  * total ORDER BY, accumulates money in exact DECIMAL (surfaced as double —
  * see [[graft.ops.Det]]), avoids raw timestamps/sampling/rand in compared
  * output, and aliases every column identically on both sides.
  */
final case class QuerySpec(
    name: String,
    doc: String,
    body: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    order: Seq[Column] = Nil,
    benchRun: Option[(SparkSession, String) => DataFrame] = None,
    prepare: Option[(SparkSession, String) => Unit] = None) {

  /** Oracle-checked plan: `body`, plus the declared [[oracleOrder]] as a
    * trailing total ORDER BY when one is declared. Run by [[graft.Verify]]
    * and compared row-by-row against the oracle. */
  def run: (SparkSession, String) => DataFrame =
    if (order.isEmpty) body else (s, d) => body(s, d).orderBy(order: _*)

  /** Production-mode plan: what a real pipeline would run at 100 TB — the
    * body without the oracle-only ORDER BY, or a [[withBench]] variant.
    * Returns the registered function itself (not a wrapper), so callers can
    * attribute it to the module that defines it. Benched by [[graft.Bench]]. */
  def production: (SparkSession, String) => DataFrame = benchRun.getOrElse(body)

  /** Declare the total ORDER BY the oracle compare needs. It is applied
    * only by [[run]]: a table-sized output written unsorted in production
    * must not pay a global sort that exists only for a deterministic
    * row-ordered compare. Group-sized outputs keep their sort in `body`
    * (it costs nothing there). */
  def oracleOrder(cols: Column*): QuerySpec = copy(order = cols)

  def oracleOrder(first: String, rest: String*): QuerySpec =
    oracleOrder((first +: rest).map(col): _*)

  /** Attach a production-mode variant that changes SEMANTICS, not just
    * ordering: sketches instead of exact percentiles, xxhash64 instead of
    * md5 draws, row-hash dedup instead of full-width distinct. A variant
    * that only drops the oracle sort is an [[oracleOrder]] instead. */
  def withBench(fn: (SparkSession, String) => DataFrame): QuerySpec =
    copy(benchRun = Some(fn))

  /** Attach an UNTIMED state-init hook: [[graft.Bench]] runs it once per
    * bench invocation before the timed passes, so a query that serves from
    * persisted state (dd6b/dd8b) is timed on the amortized increment path a
    * production deployment experiences, not on rebuilding yesterday's state.
    * [[graft.Verify]] ignores it — `run` must stay standalone-correct (the
    * state helpers build on first use and cache per sfDir). */
  def withPrepare(fn: (SparkSession, String) => Unit): QuerySpec =
    copy(prepare = Some(fn))
}

object QuerySpec {
  def sql(name: String, doc: String, oracle: String)(
      body: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, doc, body, Some(oracle))

  /** Non-SQL-expressible op: the driver records a weaker rows-only check;
    * correctness is pinned by a ScalaTest spec instead. */
  def rowsOnly(name: String, doc: String)(
      body: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, doc, body, None)
}
