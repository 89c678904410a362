package graft.did

import breeze.linalg.{DenseMatrix, DenseVector, inv, *, sum => bsum}

/** One collected (g,t) cell, repeated-cross-section layout: one entry per
  * observation row of the cell sample. `d` is the treated-cohort
  * indicator, `post` the post-period indicator (`csdids/ATTgt.py:391-398`).
  */
final case class RcCell(
    y: Array[Double],
    post: Array[Double],
    d: Array[Double],
    w: Array[Double],
    cov: DenseMatrix[Double]) {
  def n: Int = y.length
}

/** One collected (g,t) cell, balanced-panel layout: one entry per unit
  * with pre/post outcomes (`panel2cs2` intended semantics). */
final case class PanelCell(
    yPost: Array[Double],
    yPre: Array[Double],
    d: Array[Double],
    w: Array[Double],
    cov: DenseMatrix[Double]) {
  def n: Int = yPost.length
}

/** Extension point mirroring the reference's callable `est_method`
  * (`csdids/ATTgt.py:362-363,424-425`): any `(cell) => (att, IF)` works.
  * The fit runs it inside the Spark task that holds the cell, so an
  * implementation must serialize. */
trait RcCellEstimator extends Serializable {
  def estimate(cell: RcCell): (Double, Array[Double])
}
trait PanelCellEstimator extends Serializable {
  def estimate(cell: PanelCell): (Double, Array[Double])
}

/** Sant'Anna & Zhao (2020) doubly-robust / outcome-regression 2x2 DiD
  * estimators with analytic influence functions — the surface the
  * reference imports from the external `drdid` package
  * (`csdids/ATTgt.py:19`, `Pipfile:12`). Implemented from the published
  * formulas (J. Econometrics 219(1)); Breeze on one cell's arrays,
  * inside the Spark task that holds the cell (`AttGt.fitPerCell`). The
  * intercept-only repeated-cross-section fit never builds cells at all
  * (`AttGt.fitRcDistributed`).
  */
object CellEstimators {

  /** IRLS stops when the just-APPLIED Newton step is below this. Newton
    * is quadratically convergent here, so the step criterion overshoots:
    * 1e-10 lands gamma at machine precision. The tight stop is what lets
    * `q_att_gt_cov`'s analytic SE be pinned at 6dp against the
    * INDEPENDENT numpy fixture (scripts/gen_attgt_cov_fixture.py):
    * high-leverage odds weights amplify residual gamma error ~1e-14 into
    * ~5e-5 absolute SE wiggle at 1e-7, which straddled the 6dp round on
    * 3 of 54 fixture cells. */
  private[did] val IrlsTol = 1e-10

  /** Cap on Newton steps of [[logisticIrls]]. */
  private[did] val IrlsMaxIter = 50

  /** Weighted OLS via normal equations; returns coefficients. */
  private[did] def wls(
      x: DenseMatrix[Double], y: DenseVector[Double], w: DenseVector[Double])
      : DenseVector[Double] = {
    val xw = x(::, *) *:* w
    val xtx = x.t * xw
    val xty = xw.t * y
    xtx \ xty
  }

  /** Unpenalized weighted logistic MLE via IRLS (Newton-Raphson), the
    * estimator behind `glm(D ~ -1 + X, binomial, weights)`. Matches an
    * unregularized fit to ~1e-10 (SURVEY.md §7.6: ml's LBFGS-regularized
    * LogisticRegression is NOT a substitute). Stops after
    * [[IrlsMaxIter]] Newton steps. */
  private[did] def logisticIrls(
      x: DenseMatrix[Double], d: DenseVector[Double], w: DenseVector[Double],
      tol: Double = IrlsTol): DenseVector[Double] = {
    val p = x.cols
    var beta = DenseVector.zeros[Double](p)
    var iter = 0
    var converged = false
    while (iter < IrlsMaxIter && !converged) {
      val eta = x * beta
      val mu = eta.map(e => 1.0 / (1.0 + math.exp(-e)))
      val wIrls = w *:* mu *:* (mu.map(m => 1.0 - m))
      // guard against exactly-separated cells
      val wSafe = wIrls.map(v => math.max(v, 1e-12))
      val z = w *:* (d - mu)
      val xw = x(::, *) *:* wSafe
      val h = x.t * xw
      val grad = x.t * z
      val step = h \ grad
      beta = beta + step
      converged = breeze.linalg.max(step.map(math.abs)) < tol
      iter += 1
    }
    beta
  }

  private def meanOf(v: DenseVector[Double]): Double = bsum(v) / v.length

  /** Influence rows of a weighted OLS fit restricted to `ind` (0/1):
    * `(w*ind*(y - xb)) X (X'WX/n)^-1` — used for the estimation-effect
    * corrections in the DR influence functions. */
  private def olsLinRep(
      x: DenseMatrix[Double], y: DenseVector[Double], w: DenseVector[Double],
      ind: DenseVector[Double], beta: DenseVector[Double]): DenseMatrix[Double] = {
    val n = y.length
    val wi = w *:* ind
    val xw = x(::, *) *:* wi
    val xtxInv = inv(x.t * xw /:/ n.toDouble)
    val resid = (y - x * beta) *:* wi
    val scoreRows = x(::, *) *:* resid
    scoreRows * xtxInv
  }

  /** Locally efficient doubly-robust DiD, repeated cross sections
    * (`drdid.drdid_rc` call at `csdids/ATTgt.py:429`). Returns
    * (att, per-row influence function). */
  object DrDidRc extends RcCellEstimator {
    def estimate(cell: RcCell): (Double, Array[Double]) = {
      val n = cell.n
      val x = cell.cov
      val y = DenseVector(cell.y)
      val d = DenseVector(cell.d)
      val post = DenseVector(cell.post)
      val w0 = DenseVector(cell.w)
      val iw = w0 /:/ meanOf(w0)
      val one = DenseVector.ones[Double](n)

      // propensity score
      val gamma = logisticIrls(x, d, iw)
      val ps = (x * gamma).map(e => math.min(1.0 / (1.0 + math.exp(-e)), 1 - 1e-16))

      // outcome regressions on the four subsamples
      def subIdx(dv: Double, pv: Double): DenseVector[Double] =
        DenseVector.tabulate(n)(i =>
          if (cell.d(i) == dv && cell.post(i) == pv) 1.0 else 0.0)
      val iC0 = subIdx(0, 0); val iC1 = subIdx(0, 1)
      val iT0 = subIdx(1, 0); val iT1 = subIdx(1, 1)
      def fit(ind: DenseVector[Double]): DenseVector[Double] =
        wls(x, y, iw *:* ind)
      val bC0 = fit(iC0); val bC1 = fit(iC1)
      val bT0 = fit(iT0); val bT1 = fit(iT1)
      val outC0 = x * bC0; val outC1 = x * bC1
      val outT0 = x * bT0; val outT1 = x * bT1
      val outC = (post *:* outC1) + ((one - post) *:* outC0)

      // weights
      val wTreatPre = iw *:* d *:* (one - post)
      val wTreatPost = iw *:* d *:* post
      val psOdds = ps /:/ (one - ps)
      val wContPre = iw *:* psOdds *:* (one - d) *:* (one - post)
      val wContPost = iw *:* psOdds *:* (one - d) *:* post
      val wD = iw *:* d
      val wDt1 = iw *:* d *:* post
      val wDt0 = iw *:* d *:* (one - post)

      def eta(wv: DenseVector[Double], v: DenseVector[Double]) =
        (wv *:* v) /:/ meanOf(wv)
      val etaTreatPre = eta(wTreatPre, y - outC)
      val etaTreatPost = eta(wTreatPost, y - outC)
      val etaContPre = eta(wContPre, y - outC)
      val etaContPost = eta(wContPost, y - outC)
      val etaDPost = eta(wD, outT1 - outC1)
      val etaDt1Post = eta(wDt1, outT1 - outC1)
      val etaDPre = eta(wD, outT0 - outC0)
      val etaDt0Pre = eta(wDt0, outT0 - outC0)

      val attTreatPre = meanOf(etaTreatPre); val attTreatPost = meanOf(etaTreatPost)
      val attContPre = meanOf(etaContPre); val attContPost = meanOf(etaContPost)
      val attDPost = meanOf(etaDPost); val attDt1Post = meanOf(etaDt1Post)
      val attDPre = meanOf(etaDPre); val attDt0Pre = meanOf(etaDt0Pre)

      val att = (attTreatPost - attTreatPre) - (attContPost - attContPre) +
        (attDPost - attDt1Post) - (attDPre - attDt0Pre)

      // --- influence function ---
      // asymptotic linear representations of the nuisance estimates
      val repC0 = olsLinRep(x, y, iw, iC0, bC0)
      val repC1 = olsLinRep(x, y, iw, iC1, bC1)
      val repT0 = olsLinRep(x, y, iw, iT0, bT0)
      val repT1 = olsLinRep(x, y, iw, iT1, bT1)
      val psScoreRows = x(::, *) *:* (iw *:* (d - ps))
      val psHessW = iw *:* ps *:* (one - ps)
      val psHessInv = inv(x.t * (x(::, *) *:* psHessW) /:/ n.toDouble)
      val repPs = psScoreRows * psHessInv

      def colMeansW(wv: DenseVector[Double], extra: DenseVector[Double])
          : DenseVector[Double] = {
        val m = x(::, *) *:* (wv *:* extra)
        bsum(m(::, *)).t /:/ n.toDouble
      }

      // treated component
      val infTreatPost = etaTreatPost - (wTreatPost *:* (attTreatPost / meanOf(wTreatPost)))
      val infTreatPre = etaTreatPre - (wTreatPre *:* (attTreatPre / meanOf(wTreatPre)))
      val m1Post = colMeansW(wTreatPost, post) *:* (-1.0 / meanOf(wTreatPost))
      val m1Pre = colMeansW(wTreatPre, one - post) *:* (-1.0 / meanOf(wTreatPre))
      val infTreatOr = (repC1 * m1Post) + (repC0 * m1Pre)
      val infTreat = infTreatPost - infTreatPre + infTreatOr

      // control component
      val infContPost = etaContPost - (wContPost *:* (attContPost / meanOf(wContPost)))
      val infContPre = etaContPre - (wContPre *:* (attContPre / meanOf(wContPre)))
      val m2Post = colMeansW(wContPost, y - outC - attContPost) /:/ meanOf(wContPost)
      val m2Pre = colMeansW(wContPre, y - outC - attContPre) /:/ meanOf(wContPre)
      val infContPs = repPs * (m2Post - m2Pre)
      val m3Post = colMeansW(wContPost, post) *:* (-1.0 / meanOf(wContPost))
      val m3Pre = colMeansW(wContPre, one - post) *:* (-1.0 / meanOf(wContPre))
      val infContOr = (repC1 * m3Post) + (repC0 * m3Pre)
      val infCont = infContPost - infContPre + infContPs + infContOr

      // locally-efficient extra terms
      val infEff =
        (etaDPost - (wD *:* (attDPost / meanOf(wD)))) -
        (etaDt1Post - (wDt1 *:* (attDt1Post / meanOf(wDt1)))) -
        ((etaDPre - (wD *:* (attDPre / meanOf(wD)))) -
         (etaDt0Pre - (wDt0 *:* (attDt0Pre / meanOf(wDt0)))))
      val momPost = colMeansW((wD /:/ meanOf(wD)) - (wDt1 /:/ meanOf(wDt1)), one)
      val momPre = colMeansW((wD /:/ meanOf(wD)) - (wDt0 /:/ meanOf(wDt0)), one)
      val infOr = ((repT1 - repC1) * momPost) - ((repT0 - repC0) * momPre)

      val inf = infTreat - infCont + infEff + infOr
      (att, inf.toArray)
    }
  }

  /** Outcome-regression-only DiD, repeated cross sections
    * (`reg_did.reg_did_rc` call at `csdids/ATTgt.py:427`). */
  object RegDidRc extends RcCellEstimator {
    def estimate(cell: RcCell): (Double, Array[Double]) = {
      val n = cell.n
      val x = cell.cov
      val y = DenseVector(cell.y)
      val d = DenseVector(cell.d)
      val post = DenseVector(cell.post)
      val iw = DenseVector(cell.w) /:/ meanOf(DenseVector(cell.w))
      val one = DenseVector.ones[Double](n)

      val iC0 = DenseVector.tabulate(n)(i =>
        if (cell.d(i) == 0 && cell.post(i) == 0) 1.0 else 0.0)
      val iC1 = DenseVector.tabulate(n)(i =>
        if (cell.d(i) == 0 && cell.post(i) == 1) 1.0 else 0.0)
      val bC0 = wls(x, y, iw *:* iC0)
      val bC1 = wls(x, y, iw *:* iC1)
      val outPre = x * bC0
      val outPost = x * bC1

      val wTreatPre = iw *:* d *:* (one - post)
      val wTreatPost = iw *:* d *:* post
      val wCont = iw *:* d

      val regAttTreatPre = wTreatPre *:* y
      val regAttTreatPost = wTreatPost *:* y
      val regAttCont = wCont *:* (outPost - outPre)

      val etaTreatPre = meanOf(regAttTreatPre) / meanOf(wTreatPre)
      val etaTreatPost = meanOf(regAttTreatPost) / meanOf(wTreatPost)
      val etaCont = meanOf(regAttCont) / meanOf(wCont)
      val att = (etaTreatPost - etaTreatPre) - etaCont

      val repC0 = olsLinRep(x, y, iw, iC0, bC0)
      val repC1 = olsLinRep(x, y, iw, iC1, bC1)

      val infTreatPre = (regAttTreatPre - (wTreatPre *:* etaTreatPre)) /:/ meanOf(wTreatPre)
      val infTreatPost = (regAttTreatPost - (wTreatPost *:* etaTreatPost)) /:/ meanOf(wTreatPost)
      val infCont1 = (regAttCont - (wCont *:* etaCont)) /:/ meanOf(wCont)
      def colMeansW(wv: DenseVector[Double]): DenseVector[Double] = {
        val m = x(::, *) *:* wv
        bsum(m(::, *)).t /:/ n.toDouble
      }
      val m1 = colMeansW(wCont *:* post) /:/ meanOf(wCont)
      val m2 = colMeansW(wCont *:* (one - post)) /:/ meanOf(wCont)
      val infCont2 = (repC1 * m1) - (repC0 * m2)
      val inf = (infTreatPost - infTreatPre) - (infCont1 + infCont2)
      (att, inf.toArray)
    }
  }

  /** Hajek (standardized) IPW DiD, repeated cross sections — EXTENSION:
    * the reference prints an `'ipw'` banner but never wires the method
    * (`csdids/utils_aggte.py:184-187`, SURVEY.md §7.5e). Abadie-style
    * propensity weighting of the four (D, post) buckets; the influence
    * function carries the propensity estimation effect via the identity
    * `d(w_cont)/d(gamma) = w_cont * X` (odds weights are exp(X gamma)),
    * so `d eta_C / d gamma = E[w_C X (y - eta_C)] / E[w_C]` — which
    * vanishes for intercept-only X (the distributed closed form in AttGt
    * is exact there). */
  object IpwDidRc extends RcCellEstimator {
    def estimate(cell: RcCell): (Double, Array[Double]) = {
      val n = cell.n
      val x = cell.cov
      val y = DenseVector(cell.y)
      val d = DenseVector(cell.d)
      val post = DenseVector(cell.post)
      val iw = DenseVector(cell.w) /:/ meanOf(DenseVector(cell.w))
      val one = DenseVector.ones[Double](n)

      val gamma = logisticIrls(x, d, iw)
      val ps = (x * gamma).map(e =>
        math.min(1.0 / (1.0 + math.exp(-e)), 1 - 1e-16))
      val psOdds = ps /:/ (one - ps)

      val wTreatPre = iw *:* d *:* (one - post)
      val wTreatPost = iw *:* d *:* post
      val wContPre = iw *:* psOdds *:* (one - d) *:* (one - post)
      val wContPost = iw *:* psOdds *:* (one - d) *:* post

      def etaOf(wv: DenseVector[Double]): Double =
        meanOf(wv *:* y) / meanOf(wv)
      val etaTPre = etaOf(wTreatPre); val etaTPost = etaOf(wTreatPost)
      val etaCPre = etaOf(wContPre); val etaCPost = etaOf(wContPost)
      val att = (etaTPost - etaTPre) - (etaCPost - etaCPre)

      val psScoreRows = x(::, *) *:* (iw *:* (d - ps))
      val psHessInv = inv(
        x.t * (x(::, *) *:* (iw *:* ps *:* (one - ps))) /:/ n.toDouble)
      val repPs = psScoreRows * psHessInv

      def colMeansW(wv: DenseVector[Double]): DenseVector[Double] = {
        val m = x(::, *) *:* wv
        bsum(m(::, *)).t /:/ n.toDouble
      }
      def infOf(wv: DenseVector[Double], etaV: Double,
          psCorrected: Boolean): DenseVector[Double] = {
        val base = (wv *:* (y - etaV)) /:/ meanOf(wv)
        if (!psCorrected) base
        else base + (repPs * (colMeansW(wv *:* (y - etaV)) /:/ meanOf(wv)))
      }
      val inf =
        infOf(wTreatPost, etaTPost, psCorrected = false) -
        infOf(wTreatPre, etaTPre, psCorrected = false) -
        (infOf(wContPost, etaCPost, psCorrected = true) -
         infOf(wContPre, etaCPre, psCorrected = true))
      (att, inf.toArray)
    }
  }

  /** Hajek IPW DiD, balanced panel — EXTENSION, see [[IpwDidRc]]. */
  object IpwDidPanel extends PanelCellEstimator {
    def estimate(cell: PanelCell): (Double, Array[Double]) = {
      val n = cell.n
      val x = cell.cov
      val d = DenseVector(cell.d)
      val dy = DenseVector(cell.yPost) - DenseVector(cell.yPre)
      val iw = DenseVector(cell.w) /:/ meanOf(DenseVector(cell.w))
      val one = DenseVector.ones[Double](n)

      val gamma = logisticIrls(x, d, iw)
      val ps = (x * gamma).map(e =>
        math.min(1.0 / (1.0 + math.exp(-e)), 1 - 1e-16))
      val wTreat = iw *:* d
      val wCont = iw *:* (ps /:/ (one - ps)) *:* (one - d)

      val etaT = meanOf(wTreat *:* dy) / meanOf(wTreat)
      val etaC = meanOf(wCont *:* dy) / meanOf(wCont)
      val att = etaT - etaC

      val psScoreRows = x(::, *) *:* (iw *:* (d - ps))
      val psHessInv = inv(
        x.t * (x(::, *) *:* (iw *:* ps *:* (one - ps))) /:/ n.toDouble)
      val repPs = psScoreRows * psHessInv
      def colMeansW(wv: DenseVector[Double]): DenseVector[Double] = {
        val m = x(::, *) *:* wv
        bsum(m(::, *)).t /:/ n.toDouble
      }
      val infT = (wTreat *:* (dy - etaT)) /:/ meanOf(wTreat)
      val infC = ((wCont *:* (dy - etaC)) /:/ meanOf(wCont)) +
        (repPs * (colMeansW(wCont *:* (dy - etaC)) /:/ meanOf(wCont)))
      (att, (infT - infC).toArray)
    }
  }

  /** Doubly-robust DiD, balanced panel (`drdid.drdid_panel`, the
    * reference's intended-but-broken panel path — SURVEY.md §7.5a). */
  object DrDidPanel extends PanelCellEstimator {
    def estimate(cell: PanelCell): (Double, Array[Double]) = {
      val n = cell.n
      val x = cell.cov
      val d = DenseVector(cell.d)
      val dy = DenseVector(cell.yPost) - DenseVector(cell.yPre)
      val iw = DenseVector(cell.w) /:/ meanOf(DenseVector(cell.w))
      val one = DenseVector.ones[Double](n)

      val gamma = logisticIrls(x, d, iw)
      val ps = (x * gamma).map(e => math.min(1.0 / (1.0 + math.exp(-e)), 1 - 1e-16))
      val iCont = one - d
      val bDelta = wls(x, dy, iw *:* iCont)
      val outDelta = x * bDelta

      val wTreat = iw *:* d
      val wCont = iw *:* (ps /:/ (one - ps)) *:* iCont

      val drTreat = wTreat *:* (dy - outDelta)
      val drCont = wCont *:* (dy - outDelta)
      val etaTreat = meanOf(drTreat) / meanOf(wTreat)
      val etaCont = meanOf(drCont) / meanOf(wCont)
      val att = etaTreat - etaCont

      val repWols = olsLinRep(x, dy, iw, iCont, bDelta)
      val psScoreRows = x(::, *) *:* (iw *:* (d - ps))
      val psHessInv = inv(x.t * (x(::, *) *:* (iw *:* ps *:* (one - ps))) /:/ n.toDouble)
      val repPs = psScoreRows * psHessInv

      def colMeansW(wv: DenseVector[Double]): DenseVector[Double] = {
        val m = x(::, *) *:* wv
        bsum(m(::, *)).t /:/ n.toDouble
      }
      val infTreat1 = drTreat - (wTreat *:* etaTreat)
      val m1 = colMeansW(wTreat)
      val infTreat = (infTreat1 - (repWols * m1)) /:/ meanOf(wTreat)

      val infCont1 = drCont - (wCont *:* etaCont)
      val m2 = colMeansW(wCont *:* (dy - outDelta - etaCont))
      val m3 = colMeansW(wCont)
      val infCont = (infCont1 + (repPs * m2) - (repWols * m3)) /:/ meanOf(wCont)

      (att, (infTreat - infCont).toArray)
    }
  }

  /** Outcome-regression DiD, balanced panel (`reg_did.reg_did_panel`). */
  object RegDidPanel extends PanelCellEstimator {
    def estimate(cell: PanelCell): (Double, Array[Double]) = {
      val n = cell.n
      val x = cell.cov
      val d = DenseVector(cell.d)
      val dy = DenseVector(cell.yPost) - DenseVector(cell.yPre)
      val iw = DenseVector(cell.w) /:/ meanOf(DenseVector(cell.w))
      val one = DenseVector.ones[Double](n)

      val iCont = one - d
      val bDelta = wls(x, dy, iw *:* iCont)
      val outDelta = x * bDelta

      val wTreat = iw *:* d
      val wCont = iw *:* d
      val regTreat = wTreat *:* dy
      val regCont = wCont *:* outDelta
      val etaTreat = meanOf(regTreat) / meanOf(wTreat)
      val etaCont = meanOf(regCont) / meanOf(wCont)
      val att = etaTreat - etaCont

      val repWols = olsLinRep(x, dy, iw, iCont, bDelta)
      def colMeansW(wv: DenseVector[Double]): DenseVector[Double] = {
        val m = x(::, *) *:* wv
        bsum(m(::, *)).t /:/ n.toDouble
      }
      val infTreat = (regTreat - (wTreat *:* etaTreat)) /:/ meanOf(wTreat)
      val infCont1 = regCont - (wCont *:* etaCont)
      val infCont2 = repWols * colMeansW(wCont)
      val infCont = (infCont1 + infCont2) /:/ meanOf(wCont)
      (att, (infTreat - infCont).toArray)
    }
  }
}
