package graft.did

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checks `Aggte` against a dense reference implementation: the fit's
  * influence functions are collected into an n x K matrix on the
  * driver and aggregated with the paper's formulas (R `did`'s `aggte`:
  * `get_agg_inf_func` and `wif`) on plain arrays. */
class AggteReferenceSpec extends AnyFunSuite with SparkSpec {
  import AggteReferenceSpec._
  import TestPanels._

  private def close(what: String, got: Double, want: Double): Unit =
    assert(math.abs(got - want) <= 1e-9 * math.abs(want),
      s"$what: engine $got vs dense $want")

  /** Per-element and overall ATT + analytic SE of `r` against `ref`. */
  private def check(tag: String, r: AggteResult, ref: Seq[Member],
      d: Dense): Unit = {
    val elems = ref.init
    assert(r.egt == elems.map(_.label), s"$tag labels")
    elems.indices.foreach { i =>
      close(s"$tag att(${elems(i).label})", r.attEgt(i), elems(i).att)
      close(s"$tag se(${elems(i).label})", r.seEgt(i), d.se(elems(i)))
    }
    close(s"$tag overall att", r.overallAtt, ref.last.att)
    close(s"$tag overall se", r.overallSe, d.se(ref.last))
  }

  test("analytic aggte SEs match a dense reference implementation of " +
    "the paper's formulas") {
    val regimes = Seq(
      "unweighted" -> cfg,
      "weighted, not-yet-treated" ->
        cfg.copy(weightsName = Some("wgt"), controlGroup = "notyettreated"))
    for ((name, c) <- regimes) {
      val pp = Preprocess.run(staggered(spark), c)
      val fit = AttGt.fit(pp)
      val prep = Aggte.prepare(fit)
      val d = new Dense(prep)
      check(s"$name simple", Aggte.simple(prep), d.simple, d)
      check(s"$name group", Aggte.group(prep), d.group, d)
      check(s"$name calendar", Aggte.calendar(prep), d.calendar, d)
      check(s"$name dynamic", Aggte.dynamic(prep), d.dynamic, d)
      prep.units.unpersist(); fit.unpersist(); pp.unpersist()
    }
  }

  test("config.clustervar routes aggte's bootstrap to the clustered path") {
    val panel = staggered(spark, nUnits = 200, noise = 0.1)
      .withColumn("clust", pmod(col("id"), lit(10)))
    val ccfg = cfg.copy(clustervar = Some("clust"), biters = 199)
    val pp = Preprocess.run(panel, ccfg)
    val fit = AttGt.fit(pp, bstrap = true)
    val prep = Aggte.prepare(fit)
    val d = new Dense(prep)
    val clusters = pp.df
      .select(col("rowid").cast("string").as("rowid"),
        col("clust").cast("string").as("cluster"))
      .distinct()
    import spark.implicits._
    val aggs = Seq(
      ("simple", Aggte.simple(prep), d.simple),
      ("group", Aggte.group(prep), d.group),
      ("calendar", Aggte.calendar(prep), d.calendar),
      ("dynamic", Aggte.dynamic(prep), d.dynamic))
    for ((tag, r, ref) <- aggs) {
      val got = r.seEgt :+ r.overallSe
      // ground truth: the clustered bootstrap run directly over the
      // family IF, one column per member
      val fam = (for (m <- ref.indices; u <- d.ids.indices)
        yield (d.ids(u), m, ref(m).inf(u))).toDF("rowid", "cell", "inf")
      val direct = MBoot.runClustered(fam, clusters, ref.length,
        biters = 199, alp = ccfg.alp, seed = ccfg.seed)
      got.indices.foreach { i =>
        assert((got(i).isNaN && direct.se(i).isNaN) ||
          math.abs(got(i) - direct.se(i)) <= 1e-9 * math.abs(direct.se(i)),
          s"$tag member $i: ${got(i)} vs ${direct.se(i)}")
      }
      // and it differs from the unclustered bootstrap (clustering is live)
      val unclust = MBoot.run(fam, ref.length, pp.n,
        biters = 199, alp = ccfg.alp, seed = ccfg.seed)
      assert(got.indices.exists(i =>
        !got(i).isNaN && !unclust.se(i).isNaN &&
          math.abs(got(i) - unclust.se(i)) > 1e-9 * math.abs(unclust.se(i))),
        s"$tag: clustered SEs equal the unclustered ones")
    }
    prep.units.unpersist(); fit.unpersist(); pp.unpersist()
  }
  test("a uniform band's critical value comes from the draws of the " +
      "SEs and equals a separate bootstrap of the band's members") {
    val c = cfg.copy(biters = 199)
    val pp = Preprocess.run(staggered(spark, nUnits = 200, noise = 0.1), c)
    val fit = AttGt.fit(pp)
    val prep = Aggte.prepare(fit)
    val d = new Dense(prep)
    val r = Aggte.dynamic(prep, bstrap = Some(true), cband = Some(true))
    // the band's members: every event time, not the overall member
    val band = d.dynamic.init
    import spark.implicits._
    val fam = (for (m <- band.indices; u <- d.ids.indices)
      yield (d.ids(u), m, band(m).inf(u))).toDF("rowid", "cell", "inf")
    val direct = MBoot.run(fam, band.length, pp.n, c.biters, c.alp, c.seed)
    assert(direct.critVal > Stats.normPpf(1 - c.alp / 2),
      s"band ${direct.critVal} within the pointwise one: nothing to compare")
    assert(math.abs(r.critValEgt - direct.critVal) <= 1e-12 * direct.critVal,
      s"band ${r.critValEgt} vs separate bootstrap ${direct.critVal}")
    fit.unpersist(); pp.unpersist()
  }

  /** `a` equals `b` to `tol` relative, or both are NaN. */
  private def near(a: Double, b: Double, tol: Double): Boolean =
    a == b || (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * math.abs(b)

  /** One cell of the seeded grid: the panel's regime, control group, base
    * period, anticipation, weights, estimator, fit path (covariates send
    * a fit down the per-cell path, as does the balanced panel), whether
    * the bootstrap is clustered, and whether the fit itself bootstraps
    * (its store job folds the draws; otherwise the first bootstrapped
    * request draws them). */
  private final case class Regime(name: String, c: AttGtConfig,
      est: String, base: String, fitBstrap: Boolean)

  private val gridBase = cfg.copy(biters = 99)
  private val grid = Seq(
    Regime("rc, never treated, varying base, dr, closed form", gridBase,
      "dr", "varying", fitBstrap = true),
    Regime("rc, not yet treated, weights, reg, closed form, clustered",
      gridBase.copy(controlGroup = "notyettreated", weightsName = Some("wgt"),
        clustervar = Some("clust")), "reg", "varying", fitBstrap = true),
    Regime("rc, universal base, anticipation 1, ipw, closed form",
      gridBase.copy(anticipation = 1), "ipw", "universal", fitBstrap = false),
    Regime("rc, not yet treated, universal base, weights, dr, per cell",
      gridBase.copy(controlGroup = "notyettreated", weightsName = Some("wgt"),
        xfmla = Some("y ~ x1")), "dr", "universal", fitBstrap = false),
    Regime("panel, never treated, varying base, dr, clustered",
      gridBase.copy(allowUnbalancedPanel = false, clustervar = Some("clust")),
      "dr", "varying", fitBstrap = false),
    Regime("panel, not yet treated, universal base, anticipation 1, " +
      "weights, ipw", gridBase.copy(allowUnbalancedPanel = false,
        controlGroup = "notyettreated", anticipation = 1,
        weightsName = Some("wgt")), "ipw", "universal", fitBstrap = true),
    Regime("panel, never treated, covariate, reg", gridBase.copy(
      allowUnbalancedPanel = false, xfmla = Some("y ~ x1")), "reg", "varying",
      fitBstrap = true),
    Regime("rc, never treated, covariates, ipw, per cell, clustered",
      gridBase.copy(xfmla = Some("y ~ x1 + x2"), clustervar = Some("clust")),
      "ipw", "varying", fitBstrap = false))

  private lazy val gridPanel = staggered(spark, nUnits = 120, noise = 0.1,
    seed = 5L).withColumn("clust", pmod(col("id"), lit(9)))

  for ((r, i) <- grid.zipWithIndex) {
    test(s"grid $i (${r.name}): analytic SEs, including the wif-heavy " +
        "calendar and dynamic overall members, and the Wald statistic " +
        "match the dense reference at 1e-9; bootstrap SEs and band " +
        "critical values match a bootstrap of the dense family IF at 1e-12") {
      val pp = Preprocess.run(gridPanel, r.c)
      val fit = AttGt.fit(pp, r.est, r.base, bstrap = r.fitBstrap)
      val prep = Aggte.prepare(fit)
      val d = new Dense(prep)
      val no = Some(false); val yes = Some(true)
      // analytic: every point estimate and SE; a member whose IF is
      // identically zero (a universal base period's event time) has a
      // NaN SE
      val analytic = Seq(("simple", Aggte.simple(prep, bstrap = no), d.simple),
        ("group", Aggte.group(prep, bstrap = no), d.group),
        ("calendar", Aggte.calendar(prep, bstrap = no), d.calendar),
        ("dynamic", Aggte.dynamic(prep, bstrap = no), d.dynamic))
      for ((tag, got, ref) <- analytic) {
        val atts = got.attEgt :+ got.overallAtt
        val ses = got.seEgt :+ got.overallSe
        ref.indices.foreach { m =>
          assert(near(atts(m), ref(m).att, 1e-9), s"$tag att[$m]")
          val want = d.se(ref(m))
          if (want <= Stats.DegenerateTol)
            assert(ses(m).isNaN, s"$tag se[$m]: ${ses(m)} for a zero IF")
          else assert(near(ses(m), want, 1e-9), s"$tag se[$m]: ${ses(m)} vs $want")
        }
      }
      // under a universal base the base period's event time holds only
      // zero cells: its member's IF is identically zero
      if (r.base == "universal")
        assert(d.dynamic.exists(_.inf.forall(_ == 0.0)), "no zero-IF member")
      val w = PreTest.wald(fit)
      assert(near(w.w, d.wald, 1e-9), s"wald ${w.w} vs dense ${d.wald}")

      // bootstrapped: SEs of every member, and each band's critical value
      // over its element members, against MBoot over the dense family IF
      import spark.implicits._
      val clusters = r.c.clustervar.map(cv => pp.df
        .select(col("rowid").cast("string").as("rowid"),
          col(cv).cast("string").as("cluster")).distinct())
      def direct(ref: Seq[Member]): MBootResult = {
        val fam = (for (m <- ref.indices; u <- d.ids.indices)
          yield (d.ids(u), m, ref(m).inf(u))).toDF("rowid", "cell", "inf")
        clusters.fold(MBoot.run(fam, ref.length, pp.n, r.c.biters, r.c.alp,
          r.c.seed))(cl => MBoot.runClustered(fam, cl, ref.length, r.c.biters,
          r.c.alp, r.c.seed))
      }
      val z = Stats.normPpf(1 - r.c.alp / 2)
      val boot = Seq(("simple", Aggte.simple(prep, bstrap = yes), d.simple),
        ("group", Aggte.group(prep, bstrap = yes, cband = yes), d.group),
        ("calendar", Aggte.calendar(prep, bstrap = yes, cband = yes),
          d.calendar),
        ("dynamic", Aggte.dynamic(prep, bstrap = yes, cband = yes), d.dynamic))
      for ((tag, got, ref) <- boot) {
        val want = direct(ref)
        val ses = got.seEgt :+ got.overallSe
        ref.indices.foreach { m =>
          assert(near(ses(m), want.se(m), 1e-12),
            s"$tag bootstrap se[$m]: ${ses(m)} vs ${want.se(m)}")
        }
        if (tag != "simple") {
          val band = Aggte.clampCritVal(direct(ref.init).critVal, z)
          assert(near(got.critValEgt, band, 1e-12),
            s"$tag band ${got.critValEgt} vs $band")
        }
      }
      fit.unpersist(); pp.unpersist()
    }
  }
}

object AggteReferenceSpec {

  /** One aggregated member: label (cohort, period or event time; NaN
    * for an overall member), point estimate and per-unit IF. */
  final case class Member(label: Double, att: Double,
      inf: Array[Double])

  /** The dense arrays of one prepared fit, and the four aggregations
    * computed from them. Each aggregation lists its members in
    * `AggteResult.egt` order with the overall member last. */
  final class Dense(prep: Aggte.Prep) {
    private val fit = prep.fit
    private val unitRows = prep.units.collect()
    val ids: Array[String] = unitRows.map(_.get(0).toString)
    private val w = unitRows.map(_.getDouble(1))
    private val gU = unitRows.map(_.getDouble(2))
    private val nU = ids.length
    val n: Double = fit.pp.n.toDouble
    require(nU == fit.pp.n, s"$nU units collected, fit has ${fit.pp.n}")

    // kept cells in Prep position order
    private val nK = prep.cellIds.length
    private val g = prep.cellIds.map(i => fit.cells(i).g)
    private val t = prep.cellIds.map(i => fit.cells(i).tn)
    private val att = prep.cellIds.map(i => fit.att(i))
    private val psi: Array[Array[Double]] = {
      val unitPos = ids.zipWithIndex.toMap
      val cellPos = prep.cellIds.zipWithIndex.toMap
      val m = Array.ofDim[Double](nU, nK)
      fit.ifTable.collect().foreach { r =>
        cellPos.get(r.getInt(1)).foreach { k =>
          m(unitPos(r.get(0).toString))(k) += r.getDouble(2)
        }
      }
      m
    }

    private def pg(cohort: Double): Double =
      (0 until nU).filter(u => gU(u) == cohort).map(u => w(u)).sum / n

    /** R `did`'s weight influence function for a weighted mean of
      * `atts` over groups `gs` with probabilities `pgs` (`wif`). */
    private def wif(gs: Seq[Double], pgs: Seq[Double], atts: Seq[Double])
        : Array[Double] = {
      val s = pgs.sum
      Array.tabulate(nU) { u =>
        val dev = gs.indices.map(j =>
          (if (gU(u) == gs(j)) w(u) else 0.0) - pgs(j))
        val if2 = dev.sum / (s * s)
        gs.indices.map(j => (dev(j) / s - if2 * pgs(j)) * atts(j)).sum
      }
    }

    private def cellPart(keepers: Seq[Int], wts: Seq[Double]): Array[Double] =
      Array.tabulate(nU)(u =>
        keepers.indices.map(j => wts(j) * psi(u)(keepers(j))).sum)

    private def plus(a: Array[Double], b: Array[Double]): Array[Double] =
      a.indices.map(u => a(u) + b(u)).toArray

    private def meanOf(label: Double, ms: Seq[Member]): Member =
      Member(label, ms.map(_.att).sum / ms.length,
        Array.tabulate(nU)(u => ms.map(_.inf(u)).sum / ms.length))

    /** pg-weighted mean of the keepers' ATTs; IF = cell part + wif. */
    private def pgMean(label: Double, keepers: Seq[Int]): Member = {
      val pgs = keepers.map(k => pg(g(k)))
      val s = pgs.sum
      Member(label,
        keepers.indices.map(j => pgs(j) * att(keepers(j))).sum / s,
        plus(cellPart(keepers, pgs.map(_ / s)),
          wif(keepers.map(g), pgs, keepers.map(att))))
    }

    private val post = (0 until nK).filter(k => g(k) <= t(k))

    def simple: Seq[Member] = Seq(pgMean(Double.NaN, post))

    def group: Seq[Member] = {
      val cohorts = g.distinct.sorted.toSeq
      val perG = cohorts.map { c =>
        val ks = post.filter(k => g(k) == c)
        val pgs = ks.map(k => pg(g(k)))
        Member(c, ks.map(att).sum / ks.length,
          cellPart(ks, pgs.map(_ / pgs.sum)))
      }
      val pgg = cohorts.map(pg)
      val s = pgg.sum
      val overall = Member(Double.NaN,
        perG.indices.map(i => perG(i).att * pgg(i)).sum / s,
        plus(Array.tabulate(nU)(u =>
          perG.indices.map(i => perG(i).inf(u) * pgg(i) / s).sum),
          wif(cohorts, pgg, perG.map(_.att))))
      perG :+ overall
    }

    def calendar: Seq[Member] = {
      val perT = t.distinct.sorted.toSeq.filter(_ >= g.min)
        .map(tt => pgMean(tt, post.filter(k => t(k) == tt)))
      perT :+ meanOf(Double.NaN, perT)
    }

    def dynamic: Seq[Member] = {
      val perE = (0 until nK).map(k => t(k) - g(k)).distinct.sorted
        .map(e => pgMean(e, (0 until nK).filter(k => t(k) - g(k) == e)))
      perE :+ meanOf(Double.NaN, perE.filter(_.label >= 0))
    }

    def se(m: Member): Double = math.sqrt(m.inf.map(v => v * v).sum) / n

    /** The Wald pre-test statistic from the dense covariance of the
      * pre-treatment cells, degenerate cells dropped. */
    def wald: Double = {
      val pre = (0 until nK).filter { k =>
        val c = fit.cells(prep.cellIds(k))
        !c.zeroCell && !fit.skipped(c.idx) && c.tn < c.g
      }
      val v = breeze.linalg.DenseMatrix.tabulate(pre.length, pre.length) {
        (i, j) => (0 until nU).map(u => psi(u)(pre(i)) * psi(u)(pre(j))).sum /
          (n * n)
      }
      val keep = pre.indices.filter(i => v(i, i) > Stats.DegenerateTol)
      val a = breeze.linalg.DenseVector(keep.map(i => att(pre(i))).toArray)
      a dot (breeze.linalg.inv(v(keep, keep).toDenseMatrix) * a)
    }
  }
}
