package graft.did

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** Balanced-panel covariate fits against an independent numpy
  * implementation of Sant'Anna & Zhao's panel estimators
  * (scripts/gen_panel_cov_fixture.py): the committed seeded panel, fitted
  * with `allowUnbalancedPanel = false, xfmla = "y ~ x1 + x2"`, must give
  * the committed ATT and analytic SE of every cell to 1e-7, tighter than
  * the 6dp at which `q_att_gt_cov` pins the repeated-cross-section
  * fixture. */
class PanelCovFixtureSpec extends AnyFunSuite with SparkSpec {
  import TestPanels._

  private def resource(name: String): Vector[Array[String]] = {
    val in = getClass.getResourceAsStream("/" + name)
    assert(in != null, s"missing resource $name — regenerate with: " +
      "python3 scripts/gen_panel_cov_fixture.py")
    scala.io.Source.fromInputStream(in, "UTF-8").getLines().drop(1)
      .map(_.split(",")).toVector
  }

  private lazy val pp = {
    val s = spark
    import s.implicits._
    val rows = resource("panel_cov.csv").map(r =>
      Obs(r(0).toInt, r(1).toInt, r(3).toDouble, r(2).toInt,
        r(4).toDouble, r(5).toDouble, 1.0))
    Preprocess.run(rows.toDF(),
      cfg.copy(xfmla = Some("y ~ x1 + x2"), allowUnbalancedPanel = false))
  }

  private lazy val expected = resource("panel_cov_att.csv")

  for (m <- Seq("dr", "reg", "ipw")) {
    test(s"balanced panel, $m with covariates matches the numpy fixture") {
      assert(pp.panel)
      val fit = AttGt.fit(pp, estMethod = m)
      val got = fit.cells.indices.map(i =>
        (fit.cells(i).g, fit.cells(i).tn) ->
          (fit.att(i), fit.seAnalytic(i), fit.skipped(i))).toMap
      fit.unpersist()
      val want = expected.filter(_(0) == m)
      assert(want.length == got.size, s"$m: ${want.length} fixture cells")
      want.foreach { r =>
        val (att, se, skipped) = got((r(1).toDouble, r(2).toDouble))
        assert(!skipped, s"$m cell (${r(1)}, ${r(2)}) skipped")
        assert(math.abs(att - r(3).toDouble) < 1e-7,
          s"$m att (${r(1)}, ${r(2)}): $att vs ${r(3)}")
        assert(math.abs(se - r(4).toDouble) < 1e-7,
          s"$m se (${r(1)}, ${r(2)}): $se vs ${r(4)}")
      }
    }
  }
}
