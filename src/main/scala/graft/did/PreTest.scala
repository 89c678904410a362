package graft.did

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField,
  StructType}
import breeze.linalg.{inv, DenseMatrix, DenseVector}
import org.apache.commons.math3.distribution.ChiSquaredDistribution

/** Pre-trend diagnostics over a fitted ATT(g,t) surface — EXTENSION
  * beyond the reference (which stops at per-cell SEs,
  * `/root/reference/csdids/ATTgt.py:461-476`): the standard
  * event-study credibility check that all pre-treatment ATT(g,t) are
  * jointly zero, via a Wald statistic over the influence-function
  * covariance (the same construction R's `did` package exposes as its
  * `pre_test`).
  */
object PreTest {

  /** Covariance matrix of the ATT(g,t) estimates,
    * `Cov(att_a, att_b) = sum_i inf_ia * inf_ib / n^2`: the cell block of
    * the fit's `M` ([[Moments]]), which the job that materialized the
    * store folded. Runs no Spark job; the frame is a driver-built local
    * table. Columns: `c1`, `c2` (cell indices, c1 <= c2), `cov`; a pair
    * that no unit shares has no row. */
  def vcov(f: AttGtFit): DataFrame = {
    val n = f.pp.n.toDouble
    val m = f.store.moments
    val k = f.cells.length
    val rows = for {
      i <- 0 until k; j <- i until k if m.shares(i, j)
    } yield Row(i, j, m(i, j) / (n * n))
    f.store.engine.createDataFrame(
      java.util.Arrays.asList(rows: _*), VcovSchema)
  }

  private val VcovSchema = StructType(Seq(StructField("c1", IntegerType),
    StructField("c2", IntegerType), StructField("cov", DoubleType)))

  /** @param w    Wald statistic `att_pre' V_pre^-1 att_pre`
    * @param pval upper-tail chi-square(df) probability of `w`
    * @param df   retained pre-treatment cells (degenerate dims dropped)
    * @param cells the retained cells, aligned with `att`
    */
  final case class WaldResult(w: Double, pval: Double, df: Int,
      cells: Vector[CellDef], att: Vector[Double])

  /** Wald test of H0: ATT(g,t) = 0 for every pre-treatment cell
    * (t < g). `W = att_pre' Var(att_pre)^-1 att_pre ~ chi2(K_pre)`
    * under H0; a small p-value flags differential pre-trends that
    * invalidate the parallel-trends assumption.
    *
    * Runs no Spark job: `Var(att_pre)` is the pre cells' block of the
    * fit's `M` over `n^2`, and the K_pre x K_pre solve is driver-side
    * breeze — K_pre is the cell count, never data-sized; the statistics'
    * cap ([[ZLayout.overCap]]) bounds it. Degenerate dimensions (variance
    * below [[Stats.DegenerateTol]]) are dropped before inverting,
    * mirroring the reference's bootstrap degenerate-dim drop
    * (`/root/reference/csdids/mboot.py:121`).
    */
  def wald(f: AttGtFit): WaldResult = {
    val pre = f.cells
      .filter(c => !c.zeroCell && !f.skipped(c.idx) && c.tn < c.g)
    require(pre.nonEmpty, "no pre-treatment cells to test")
    val m = f.store.moments
    val idx = pre.map(_.idx)
    val k = idx.length
    val n = f.pp.n.toDouble
    val v = DenseMatrix.tabulate(k, k)((i, j) => m(idx(i), idx(j)) / (n * n))
    val keep = (0 until k).filter(i => v(i, i) > Stats.DegenerateTol)
    require(keep.nonEmpty, "all pre-treatment cells degenerate")
    val vk = v(keep, keep).toDenseMatrix
    val attv = DenseVector(keep.map(i => f.att(idx(i))).toArray)
    val w = attv dot (inv(vk) * attv)
    val df = keep.length
    val pval = 1.0 - new ChiSquaredDistribution(df.toDouble)
      .cumulativeProbability(w)
    WaldResult(w, pval, df,
      keep.map(i => pre(i)).toVector, keep.map(i => f.att(idx(i))).toVector)
  }
}
