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
  }
}
