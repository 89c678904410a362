package graft.did

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** The fit's sufficient statistics (`M` and the draws over z): their cap
  * on K + nG, on both sides, and the clamp of a rounding-negative
  * variance. */
class MomentsSpec extends AnyFunSuite with SparkSpec {
  import TestPanels._

  test("the cap admits GridRehearsal's finest grid and every test panel " +
      "at B = 1000") {
    // GridRehearsal K390: 10 cohorts x 39 cells each, plus 10 cohort
    // columns; didbench's panels are K = 36 with 4 cohorts
    assert(ZLayout.cap(1000) == 2063)
    assert(ZLayout.bytes(400, 1000) <= ZLayout.BudgetBytes)
    assert(new ZLayout(390, Array.tabulate(10)(_.toDouble)).overCap(1000).isEmpty)
    // the cap is the largest p within the budget
    Seq(2, 99, 1000, 250000).foreach { b =>
      val c = ZLayout.cap(b)
      assert(ZLayout.bytes(c, b) <= ZLayout.BudgetBytes, s"B = $b")
      assert(ZLayout.bytes(c + 1, b) > ZLayout.BudgetBytes, s"B = $b")
    }
  }

  // staggered's default grid: 3 cohorts x 5 cells, K + nG = 18. At
  // B = 250000 its statistics take 36,001,368 bytes (over the 32 MiB
  // budget), at B = 200000 28,801,368 (under it). Neither draws.
  private def fitAt(biters: Int): (PreprocessedPanel, AttGtFit) = {
    val pp = Preprocess.run(staggered(spark, nUnits = 60, noise = 0.1),
      cfg.copy(biters = biters))
    (pp, AttGt.fit(pp, "dr"))
  }

  test("above the cap the ATT(g,t) and analytic cell SEs still fit; " +
      "aggregations, the pre-test and the bootstrap fail naming K, nG, B, " +
      "the bytes and the cap") {
    val (pp, fit) = fitAt(250000)
    val (pp1, ref) = fitAt(1000)
    assert(fit.att.toSeq == ref.att.toSeq)
    assert(fit.seAnalytic.toSeq == ref.seAnalytic.toSeq)
    val p = Aggte.prepare(fit)
    val failures = Seq[() => Any](
      () => Aggte.simple(p, bstrap = Some(false)),
      () => Aggte.dynamic(p, bstrap = Some(false)),
      () => Aggte.group(p, bstrap = Some(true)),
      () => PreTest.wald(fit),
      () => PreTest.vcov(fit),
      () => AttGt.fit(pp, "dr", bstrap = true))
    failures.foreach { f =>
      val e = intercept[IllegalArgumentException](f())
      Seq("K = 15 cells", "nG = 3 cohorts", "K + nG = 18", "B = 250000",
        "36001368 bytes", s"${ZLayout.BudgetBytes}-byte budget",
        s"K + nG <= ${ZLayout.cap(250000)}").foreach { part =>
        assert(e.getMessage.contains(part), e.getMessage)
      }
    }
    fit.unpersist(); ref.unpersist(); pp.unpersist(); pp1.unpersist()
  }

  test("just under the cap every analytic answer is the same as at B = 1000") {
    val (pp, fit) = fitAt(200000)
    val (pp1, ref) = fitAt(1000)
    def answers(f: AttGtFit): Seq[Double] = {
      val p = Aggte.prepare(f)
      val d = Aggte.dynamic(p, bstrap = Some(false))
      val w = PreTest.wald(f)
      Seq(Aggte.simple(p, bstrap = Some(false)).overallSe, d.overallSe, w.w) ++
        d.seEgt
    }
    assert(answers(fit) == answers(ref))
    fit.unpersist(); ref.unpersist(); pp.unpersist(); pp1.unpersist()
  }

  test("a variance that rounds below zero is clamped, not square-rooted") {
    // z_u = (x_u, -r x_u) and v = (r, 1): v.z_u is zero up to the rounding
    // of -r x_u, so v'Mv is zero up to rounding, and for some r its
    // evaluation comes out below zero
    val rng = new scala.util.Random(3L)
    val xs = Array.fill(50)(rng.nextGaussian())
    val found = Iterator.continually(rng.nextDouble() + 0.5).take(1000).map { r =>
      val fold = new Moments.Fold(2)
      val at = Array(0, 1)
      xs.foreach(x => fold.add(at, Array(x, -r * x), 2))
      val m = Moments.merge(2, Seq(fold))
      val raw = r * r * m(0, 0) + 2.0 * r * 1.0 * m(0, 1) + m(1, 1)
      (m, Array(r, 1.0), raw)
    }.find(_._3 < 0)
    assert(found.nonEmpty, "no rounding-negative case among 1000 draws")
    val (m, v, raw) = found.get
    assert(math.sqrt(raw).isNaN)
    assert(m.quad(v) == 0.0)
  }
}
