package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide parity of every production variant with its
  * oracle-checked twin. `run` is the plan Verify compares with the DuckDB
  * oracle; a [[QuerySpec.withBench]] variant is the plan the bench times.
  * At sf0.001, each variant's rows must stand in the relation its
  * [[Parity]] declaration names to the rows of `run`, so the oracle's
  * check reaches the benchmarked code. A variant with no declaration
  * fails here. */
class ProductionParitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val d = TestSpark.sfDir
  private val variants = SparkEntry.specs.filter(_.benchRun.isDefined)

  /** A row's values in a form whose `==` and hash agree with value
    * equality: nested rows and arrays as Seqs, -0.0 as 0.0, NaN as a tag. */
  private def canon(v: Any): Any = v match {
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case x: Double if x.isNaN => "NaN"
    case x: Double if x == 0.0 => 0.0
    case x => x
  }

  private def multiset[A](xs: Seq[A]): Map[A, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  /** The entries whose counts differ between two multisets, for messages. */
  private def diff[A](run: Map[A, Int], prod: Map[A, Int]): String =
    (run.keySet ++ prod.keySet).toSeq
      .filter(k => run.getOrElse(k, 0) != prod.getOrElse(k, 0)).take(8)
      .map(k => s"  $k: run ${run.getOrElse(k, 0)}, production ${prod.getOrElse(k, 0)}")
      .mkString("\n")

  private val byValues: Ordering[Seq[Double]] =
    Ordering.Implicits.seqOrdering(Ordering.Double.TotalOrdering)

  private def rows(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
    (df.columns.toSeq, df.collect().toSeq.map(r => canon(r).asInstanceOf[Seq[Any]]))

  private def check(name: String, parity: Parity, run: DataFrame, prod: DataFrame): Unit = {
    val (rc, rr) = rows(run)
    val (pc, pr) = rows(prod)
    def sameColumns(): Unit =
      assert(rc == pc, s"$name: production columns $pc, run columns $rc")
    parity match {
      case Parity.Exact =>
        sameColumns()
        val (r, p) = (multiset(rr), multiset(pr))
        assert(r == p, s"$name: ${rr.size} run rows, ${pr.size} production rows; differing:\n${diff(r, p)}")

      case Parity.Approx(cols, rel, abs) =>
        sameColumns()
        assert(rr.size == pr.size, s"$name: ${rr.size} run rows, ${pr.size} production rows")
        val idx = cols.map(c => rc.indexOf(c))
        assert(!idx.contains(-1), s"$name: approximate columns $cols not all in $rc")
        val keyIdx = rc.indices.filterNot(idx.contains)
        def byKey(xs: Seq[Seq[Any]]): Map[Seq[Any], Seq[Seq[Option[Double]]]] =
          xs.groupBy(r => keyIdx.map(r)).view.mapValues(_.map(r => idx.map(i =>
            Option(r(i)).map(_.asInstanceOf[Number].doubleValue)))
            .sortBy(_.map(_.getOrElse(Double.NegativeInfinity)))(byValues)).toMap
        val (r, p) = (byKey(rr), byKey(pr))
        assert(r.view.mapValues(_.size).toMap == p.view.mapValues(_.size).toMap,
          s"$name: rows do not pair up on ${keyIdx.map(rc)}:\n" +
            diff(r.view.mapValues(_.size).toMap, p.view.mapValues(_.size).toMap))
        for ((k, rvs) <- r; (rv, pv) <- rvs.zip(p(k)); ((a, b), c) <- rv.zip(pv).zip(cols)) {
          (a, b) match {
            case (Some(x), Some(y)) =>
              assert(math.abs(y - x) <= abs + rel * math.abs(x),
                s"$name: $c at $k is $y in production, $x in run (bound $abs + ${rel}·|run|)")
            case _ => assert(a == b, s"$name: $c at $k is $b in production, $a in run")
          }
        }

      case Parity.Structural(cols @ _*) =>
        assert(cols.forall(rc.contains) && cols.forall(pc.contains),
          s"$name: structural columns $cols not in both run $rc and production $pc")
        val (r, p) = (multiset(rr.map(row => cols.map(c => row(rc.indexOf(c))))),
          multiset(pr.map(row => cols.map(c => row(pc.indexOf(c))))))
        assert(r == p, s"$name: projections onto $cols differ:\n${diff(r, p)}")

      case Parity.SameColumns => sameColumns()
    }
  }

  test("every production variant declares its parity") {
    val undeclared = variants.filter(_.parity.isEmpty).map(_.name)
    assert(undeclared.isEmpty, s"variants without a parity declaration: $undeclared")
    assert(variants.nonEmpty)
  }

  for (spec <- variants; parity <- spec.parity) {
    test(s"${spec.name}: production rows agree with run") {
      spec.prepare.foreach(_(spark, d))
      check(spec.name, parity, spec.run(spark, d), spec.production(spark, d))
    }
  }
}
