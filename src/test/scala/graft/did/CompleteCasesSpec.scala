package graft.did

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Preprocess.run` keeps complete cases: a row with a null id, outcome,
  * weight or covariate is dropped before any fit path sees it, so the
  * closed form, the per-cell path and a fit on the input without those
  * rows give the same numbers, and the bootstrap runs. */
class CompleteCasesSpec extends AnyFunSuite with SparkSpec {
  import TestPanels._

  private val base = staggered(spark, nUnits = 120, noise = 0.1)

  /** (id, period) of the row made null in each column. */
  private val holes = Seq("y" -> (3, 2), "wgt" -> (5, 3), "id" -> (7, 4),
    "x1" -> (9, 5))

  private def at(p: (Int, Int)) = col("id") === p._1 && col("period") === p._2

  private val withNulls: DataFrame = base.select(base.columns.map { c =>
    holes.collectFirst { case (`c`, p) => when(at(p), lit(null)).otherwise(col(c)) }
      .getOrElse(col(c)).as(c)
  }: _*)

  private def without(cols: Seq[String]): DataFrame =
    base.filter(!holes.filter(h => cols.contains(h._1)).map(h => at(h._2))
      .reduce(_ || _))

  private val wcfg = cfg.copy(weightsName = Some("wgt"), biters = 199)

  private def close(what: String, a: Array[Double], b: Array[Double],
      tol: Double): Unit = a.indices.foreach { i =>
    assert((a(i).isNaN && b(i).isNaN) ||
      math.abs(a(i) - b(i)) <= tol * math.max(1.0, math.abs(b(i))),
      s"$what($i): ${a(i)} vs ${b(i)}")
  }

  private def agree(tag: String, f: AttGtFit, g: AttGtFit, tol: Double): Unit = {
    assert(f.pp.n == g.pp.n, s"$tag: n ${f.pp.n} vs ${g.pp.n}")
    close(s"$tag att", f.att, g.att, tol)
    close(s"$tag analytic se", f.seAnalytic, g.seAnalytic, tol)
    close(s"$tag bootstrap se", f.se, g.se, tol)
  }

  test("null outcome, weight and id: closed form == per-cell path == " +
      "input without those rows") {
    val pp = Preprocess.run(withNulls, wcfg)
    // x1 is no role of an intercept-only fit: its null row stays
    assert(pp.df.count() == base.count() - 3)
    val closed = AttGt.fit(pp, "dr", bstrap = true)
    val perCell = AttGt.fit(pp, "dr", bstrap = true,
      customRc = Some(CellEstimators.DrDidRc))
    val ppDel = Preprocess.run(without(Seq("y", "wgt", "id")), wcfg)
    val deleted = AttGt.fit(ppDel, "dr", bstrap = true)
    agree("closed form vs deleted rows", closed, deleted, 1e-12)
    agree("closed form vs per-cell path", closed, perCell, 1e-8)
    Seq(closed, perCell, deleted).foreach(_.unpersist())
    pp.unpersist(); ppDel.unpersist()
  }

  test("null outcome, weight, id and covariate: a covariate fit == input " +
      "without those rows") {
    val ccfg = wcfg.copy(xfmla = Some("y ~ x1"))
    val pp = Preprocess.run(withNulls, ccfg)
    assert(pp.df.count() == base.count() - 4)
    val fit = AttGt.fit(pp, "dr", bstrap = true)
    val ppDel = Preprocess.run(without(holes.map(_._1)), ccfg)
    val deleted = AttGt.fit(ppDel, "dr", bstrap = true)
    agree("covariates vs deleted rows", fit, deleted, 1e-12)
    fit.unpersist(); deleted.unpersist(); pp.unpersist(); ppDel.unpersist()
  }
}
