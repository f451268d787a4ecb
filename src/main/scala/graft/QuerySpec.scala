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
    parity: Option[Parity] = None,
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
    * that only drops the oracle sort is an [[oracleOrder]] instead.
    *
    * Where the variant shares its prefix or suffix with `body`, both are
    * one private helper in the query's own file that takes a named switch
    * (`hashed`, `sketch`, `maxDf`, …): `body` calls it with the oracle
    * setting and `fn` with the production one, so the shared code is
    * written once and cannot drift. `fn` itself stays a lambda in that
    * file: [[production]] returns it as registered, and callers name a
    * query's module from its class.
    *
    * `parity` declares how the variant's rows relate to `run`'s; the
    * registry-wide ProductionParitySpec checks every declaration. */
  def withBench(parity: Parity)(fn: (SparkSession, String) => DataFrame): QuerySpec =
    copy(benchRun = Some(fn), parity = Some(parity))

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

/** How a [[QuerySpec.withBench]] variant's rows relate to the rows of the
  * oracle-checked `run`. The declaration is data; ProductionParitySpec
  * holds the check, at sf0.001. */
sealed trait Parity

object Parity {
  /** The rows of `run`, as a multiset (the oracle order dropped). */
  case object Exact extends Parity

  /** `run`'s columns and row count. Rows pair up on every other column,
    * which must be equal, and each of `cols` is within
    * `abs + rel·|run's value|` of `run`'s. Use only a bound an existing
    * spec already pins (HLL ≤ 2%, a binned quantile within one bin). */
  final case class Approx(cols: Seq[String], rel: Double = 0.0, abs: Double = 0.0)
      extends Parity

  /** A different draw, hash or output form: each of `cols` is a column of
    * both outputs, and the two projections onto `cols` are equal as
    * multisets (per-group counts, when `cols` are the group keys). With no
    * `cols`, that is the row count. */
  final case class Structural(cols: String*) extends Parity

  /** A different draw whose rows and counts share nothing with `run`'s:
    * only `run`'s column names must agree. */
  case object SameColumns extends Parity
}
