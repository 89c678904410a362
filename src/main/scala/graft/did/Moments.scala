package graft.did

import java.util.BitSet

/** The coordinates of the per-unit vector every aggregated influence
  * function of a fit is linear in:
  * `z_u = [inf_1..K(u), wbar(u)·1{gbar(u)=g} for each cohort g]`.
  * Coordinate c < K is cell c; coordinate K + i carries the unit's `wbar`
  * when its cohort is `cohorts(i)`. An aggregated member with cell weights
  * and cohort coefficients (`get_agg_inf_func` with the `wif` term,
  * `csdids/utils_aggte.py:7-50`) is `IF_m(u) = v_m·z_u`, so `M = Σ z z'`
  * gives its analytic SE and the signed sums of z its bootstrap draws. */
private[did] final class ZLayout(val k: Int, val cohorts: Array[Double])
    extends Serializable {

  val p: Int = k + cohorts.length

  private val cohortCol: Map[Double, Int] =
    cohorts.indices.map(i => cohorts(i) -> (k + i)).toMap

  /** The coordinate that carries cohort `g`'s weight. */
  def column(g: Double): Int = cohortCol(g)

  /** Writes `u`'s coordinates, ascending, and their values into `at` and
    * `vs` (each at least `p` long); returns how many. */
  def coords(u: UnitIF, at: Array[Int], vs: Array[Double]): Int = {
    val n = u.cells.length
    System.arraycopy(u.cells, 0, at, 0, n)
    System.arraycopy(u.infs, 0, vs, 0, n)
    if (u.wbar.isNaN || u.gbar.isNaN) n
    else cohortCol.get(u.gbar) match {
      case Some(c) => at(n) = c; vs(n) = u.wbar; n + 1
      case None => n
    }
  }

  /** Why statistics over this layout at B = `biters` do not fit
    * [[ZLayout.BudgetBytes]], if they do not. */
  def overCap(biters: Int): Option[String] = {
    val bytes = ZLayout.bytes(p, biters)
    Option.when(bytes > ZLayout.BudgetBytes)(
      s"K = $k cells and nG = ${cohorts.length} cohorts give K + nG = $p " +
        s"coordinates; at B = $biters their statistics (the M triangle and " +
        s"a B x (K + nG) draws buffer) take $bytes bytes per task, over " +
        s"the ${ZLayout.BudgetBytes}-byte budget: the cap at this B is " +
        s"K + nG <= ${ZLayout.cap(biters)}. Aggregations, the pre-test and " +
        "the bootstrap need them; coarsen the time grain, test a cohort " +
        "subset or lower biters.")
  }
}

private[did] object ZLayout {

  /** Bytes the statistics of one fit may take in a task, and on the
    * driver: the upper triangle of M over the K + nG coordinates and one
    * B x (K + nG) buffer of bootstrap draws. */
  val BudgetBytes: Long = 32L << 20

  def bytes(p: Int, biters: Int): Long =
    8L * (p.toLong * (p + 1) / 2 + p.toLong * biters)

  /** The cap on K + nG at B = `biters`: the largest p whose statistics
    * fit [[BudgetBytes]]. It is 2063 at B = 1000, where GridRehearsal's
    * finest grid (K = 390, nG = 10) takes 3.8 MB. */
  def cap(biters: Int): Int = {
    val b = biters.toDouble + 0.5
    var p = math.max(0, (math.sqrt(b * b + BudgetBytes / 4.0) - b).toInt)
    while (p > 0 && bytes(p, biters) > BudgetBytes) p -= 1
    while (bytes(p + 1, biters) <= BudgetBytes) p += 1
    p
  }
}

/** `M = Σ_u z_u z_u'` over a [[ZLayout]]'s p coordinates: its upper
  * triangle, row-major, and which of its pairs some unit shares. */
private[did] final class Moments(val p: Int, tri: Array[Double],
    shared: BitSet) {

  def apply(i: Int, j: Int): Double =
    tri(Moments.at(p, math.min(i, j), math.max(i, j)))

  def shares(i: Int, j: Int): Boolean =
    shared.get(Moments.at(p, math.min(i, j), math.max(i, j)))

  /** `v'Mv`, clamped at 0: `Σ_u (v·z_u)^2` cannot be negative, but the
    * quadratic form of its rounded sums can come out a few ulps below 0
    * where the influence function cancels (a degenerate member). */
  def quad(v: Array[Double]): Double = {
    val nz = v.indices.filter(v(_) != 0.0).toArray
    var s = 0.0
    var a = 0
    while (a < nz.length) {
      val i = nz(a)
      s += v(i) * v(i) * tri(Moments.at(p, i, i))
      var b = a + 1
      while (b < nz.length) {
        val j = nz(b)
        s += 2.0 * v(i) * v(j) * tri(Moments.at(p, i, j))
        b += 1
      }
      a += 1
    }
    math.max(0.0, s)
  }
}

private[did] object Moments {

  /** Position of (i, j), i <= j, in a row-major upper triangle of p x p. */
  def at(p: Int, i: Int, j: Int): Int = i * p - i * (i - 1) / 2 + (j - i)

  /** One partition's triangle and shared pairs, units added in order. */
  final class Fold(p: Int) extends Serializable {
    val tri = new Array[Double](p * (p + 1) / 2)
    val shared = new BitSet(tri.length)

    /** Adds the unit whose ascending coordinates and values are the first
      * `cnt` of `at` and `vs`. */
    def add(at: Array[Int], vs: Array[Double], cnt: Int): Unit = {
      var a = 0
      while (a < cnt) {
        var b = a
        while (b < cnt) {
          val t = Moments.at(p, at(a), at(b))
          tri(t) += vs(a) * vs(b); shared.set(t)
          b += 1
        }
        a += 1
      }
    }
  }

  /** The partitions' folds added in order. */
  def merge(p: Int, parts: Seq[Fold]): Moments = {
    val tri = new Array[Double](p * (p + 1) / 2)
    val shared = new BitSet(tri.length)
    parts.foreach { f =>
      var t = 0
      while (t < tri.length) { tri(t) += f.tri(t); t += 1 }
      shared.or(f.shared)
    }
    new Moments(p, tri, shared)
  }
}
