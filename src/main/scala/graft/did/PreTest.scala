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

  /** Covariance matrix of the ATT(g,t) estimates, computed distributed
    * off the unit-major influence store:
    * `Cov(att_a, att_b) = sum_i inf_ia * inf_ib / n^2`.
    *
    * Scale shape: one Spark job with no shuffle ([[crossProducts]]) — each
    * unit adds the products of its <= K influence values (K = #cells,
    * tiny) into a per-partition K x K triangle, and the driver adds the
    * triangles. Nothing proportional to the unit count leaves a task.
    * Columns: `c1`, `c2` (cell indices, c1 <= c2), `cov`; a pair that no
    * unit shares has no row. */
  def vcov(f: AttGtFit): DataFrame = {
    val n = f.pp.n.toDouble
    val cells = f.cells.indices.toArray
    requireCap(cells.length, "cells: the covariance")
    val (tri, shared) = crossProducts(f, cells, "PreTest.vcov/fold")
    val k = cells.length
    val rows = for {
      i <- 0 until k; j <- i until k
      at = triangle(k, i, j) if shared.get(at)
    } yield Row(i, j, tri(at) / (n * n))
    f.store.engine.createDataFrame(
      java.util.Arrays.asList(rows: _*), VcovSchema)
  }

  private val VcovSchema = StructType(Seq(StructField("c1", IntegerType),
    StructField("c2", IntegerType), StructField("cov", DoubleType)))

  /** Position of (i, j), i <= j, in a row-major upper triangle of k x k. */
  private def triangle(k: Int, i: Int, j: Int): Int =
    i * k - i * (i - 1) / 2 + (j - i)

  /** One pass over `f`'s store: for the cells `cells` (ascending ids),
    * the upper triangle of `sum_u inf_ua * inf_ub` in [[triangle]]
    * order, and which of its pairs some unit shares. Partitions are added
    * in order. */
  private def crossProducts(f: AttGtFit, cells: Array[Int], label: String)
      : (Array[Double], java.util.BitSet) = {
    val k = cells.length
    val pos = Array.fill(f.cells.length)(-1)
    cells.indices.foreach(i => pos(cells(i)) = i)
    val size = triangle(k, k - 1, k - 1) + 1
    val store = f.store
    val parts = Phase(store.units.sparkContext, label) {
      store.readable.mapPartitions { units =>
        val tri = new Array[Double](size)
        val shared = new java.util.BitSet(size)
        val at = new Array[Int](k)
        val vs = new Array[Double](k)
        units.foreach { u =>
          // the unit's values at the chosen cells, in cell order
          var cnt = 0
          var e = 0
          while (e < u.cells.length) {
            val i = pos(u.cells(e))
            if (i >= 0) { at(cnt) = i; vs(cnt) = u.infs(e); cnt += 1 }
            e += 1
          }
          var a = 0
          while (a < cnt) {
            var b = a
            while (b < cnt) {
              val t = triangle(k, at(a), at(b))
              tri(t) += vs(a) * vs(b); shared.set(t)
              b += 1
            }
            a += 1
          }
        }
        Iterator.single((tri, shared))
      }.collect()
    }
    val tri = Array.tabulate(size)(t => parts.foldLeft(0.0)(_ + _._1(t)))
    val shared = new java.util.BitSet(size)
    parts.foreach(p => shared.or(p._2))
    (tri, shared)
  }

  /** @param w    Wald statistic `att_pre' V_pre^-1 att_pre`
    * @param pval upper-tail chi-square(df) probability of `w`
    * @param df   retained pre-treatment cells (degenerate dims dropped)
    * @param cells the retained cells, aligned with `att`
    */
  final case class WaldResult(w: Double, pval: Double, df: Int,
      cells: Vector[CellDef], att: Vector[Double])

  /** Fail-fast bound on the driver-side pre-cell system (SURVEY §7.4:
    * "if |tlist|·|glist| explodes, fail fast"): the Wald path holds a
    * dense K_pre² covariance and pays a K_pre³ solve ON THE DRIVER.
    * 5000 pre-cells = 200 MB dense + ~10¹¹ flops — past that the right
    * fix is a coarser grid, not a bigger driver. The GridRehearsal
    * exponents (≤0.10 in K at 10.8× growth) cover the sane regime;
    * this guard covers the insane one. */
  private val MaxPreCells = 5000

  /** Fails past [[MaxPreCells]]: each task of the pass, and the driver,
    * holds a dense triangle over the cells. */
  private def requireCap(k: Int, what: String): Unit =
    require(k <= MaxPreCells,
      s"$k $what is a dense K x K triangle held per task and on the " +
        s"driver (cap $MaxPreCells). Coarsen the time grain or test a " +
        "cohort subset.")

  /** Wald test of H0: ATT(g,t) = 0 for every pre-treatment cell
    * (t < g). `W = att_pre' Var(att_pre)^-1 att_pre ~ chi2(K_pre)`
    * under H0; a small p-value flags differential pre-trends that
    * invalidate the parallel-trends assumption.
    *
    * The only distributed work is one pass of [[crossProducts]] over the
    * pre cells; the K_pre x K_pre solve is driver-side breeze — K_pre is
    * the cell count, never data-sized. Degenerate dimensions (variance
    * below [[Stats.DegenerateTol]]) are dropped before inverting,
    * mirroring the reference's bootstrap degenerate-dim drop
    * (`/root/reference/csdids/mboot.py:121`).
    */
  def wald(f: AttGtFit): WaldResult = {
    val pre = f.cells
      .filter(c => !c.zeroCell && !f.skipped(c.idx) && c.tn < c.g)
    require(pre.nonEmpty, "no pre-treatment cells to test")
    requireCap(pre.length, "pre-treatment cells: the Wald pre-test")
    val idx = pre.map(_.idx)
    val k = idx.length
    val n = f.pp.n.toDouble
    val (tri, _) = crossProducts(f, idx.toArray, "PreTest.wald/fold")
    val v = DenseMatrix.zeros[Double](k, k)
    for (i <- 0 until k; j <- i until k) {
      val c = tri(triangle(k, i, j)) / (n * n)
      v(i, j) = c
      v(j, i) = c
    }
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
