package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ops.Cleaning.RangeRule

class CleaningSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("RangeRule bounds are exclusive by default, inclusive on request") {
    val df = Seq(0.0, 0.5, 1.0, 5.0, 9.999, 10.0).toDF("x")
    def keep(r: RangeRule): Seq[Double] =
      df.filter(r.predicate).as[Double].collect().toSeq.sorted

    assert(keep(RangeRule("x", Some(0), Some(10))) == Seq(0.5, 1.0, 5.0, 9.999))
    assert(keep(RangeRule("x", Some(0), Some(10), loInclusive = true, hiInclusive = true)) ==
      Seq(0.0, 0.5, 1.0, 5.0, 9.999, 10.0))
    assert(keep(RangeRule("x", lo = None, hi = Some(1.0))) == Seq(0.0, 0.5))
  }

  test("RangeRule drops nulls (null comparisons are never true)") {
    val df = Seq(Some(1.0), None, Some(5.0)).toDF("x")
    assert(df.filter(RangeRule("x", Some(0), Some(10)).predicate).count() == 2)
  }

  test("applyRules output is a subset of input satisfying every rule") {
    val df = Seq((1.0, 3.0), (1.0, 99.0), (-1.0, 3.0), (4.0, 4.0)).toDF("a", "b")
    val rules = Seq(RangeRule("a", Some(0), Some(10)), RangeRule("b", Some(0), Some(10)))
    val out = Cleaning.applyRules(df, rules)
    assert(out.count() == 2)
    assert(out.filter(col("a") <= 0 || col("a") >= 10 || col("b") <= 0 || col("b") >= 10).count() == 0)
  }

  test("iqrFilter keeps exactly [Q1-1.5IQR, Q3+1.5IQR] (exact mode)") {
    // 1..100 plus outliers: Q1=25.75, Q3=75.25, IQR=49.5 → keep [-48.5, 149.5]
    val vals = (1 to 100).map(_.toDouble) ++ Seq(-1000.0, 1000.0)
    val out = Cleaning.iqrFilter(vals.toDF("x"), "x", exact = true).as[Double].collect()
    assert(out.length == 100 && out.min == 1.0 && out.max == 100.0)
  }

  test("exact and approx quartiles agree on small data") {
    val df = (1 to 1000).map(_.toDouble).toDF("x")
    val (e1, e3) = Cleaning.quartilesExact(df, "x").get
    val (a1, a3) = Cleaning.quartilesApprox(df, "x").get
    assert(math.abs(e1 - a1) <= 1.0 && math.abs(e3 - a3) <= 1.0)
  }
}
