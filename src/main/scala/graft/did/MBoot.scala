package graft.did

import java.security.MessageDigest

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

final case class MBootResult(
    bres: Array[Array[Double]], // biters x K
    se: Array[Double],          // per-dim; NaN on degenerate dims
    critVal: Double) {

  /** Bootstrap covariance matrix over ALL K dims (`np.cov(bres,
    * rowvar=False)` with ddof=1, `csdids/mboot.py:125`) — a
    * returned-but-unused diagnostic in the reference, exposed here
    * lazily so callers that ignore it pay nothing. Degenerate dims
    * simply carry (near-)zero rows/columns. */
  lazy val cov: Array[Array[Double]] = {
    val b = bres.length
    require(b >= 2,
      s"bootstrap covariance needs biters >= 2 (ddof=1), got $b")
    val k = bres(0).length
    val mean = Array.tabulate(k)(j => bres.iterator.map(_(j)).sum / b)
    val v = Array.ofDim[Double](k, k)
    var i = 0
    while (i < b) {
      val row = bres(i)
      var p = 0
      while (p < k) {
        val dp = row(p) - mean(p)
        var q = p
        while (q < k) { v(p)(q) += dp * (row(q) - mean(q)); q += 1 }
        p += 1
      }
      i += 1
    }
    var p = 0
    while (p < k) {
      var q = p
      while (q < k) {
        val c = v(p)(q) / (b - 1)
        v(p)(q) = c; v(q)(p) = c
        q += 1
      }
      p += 1
    }
    v
  }
}

/** Linear members of the per-unit influence: member m of unit u is
  * `IF_m(u) = sum_c wt(c, m) * inf(u, c) + wbar(u) * coef_m(gbar(u))`
  * (`get_agg_inf_func` with the `wif` term, `csdids/utils_aggte.py:7-50`).
  * The bootstrap of a fit's cells is the identity family; each
  * aggregation builds its weights and cohort coefficients on the driver,
  * and they ride to the tasks in the closure. */
private[did] final class Members private (
    val m: Int,
    cellM: Array[Array[Int]],    // cell id -> members it enters (or null)
    cellW: Array[Array[Double]], // cell id -> their weights
    cohorts: Map[Double, (Array[Int], Array[Double])]) extends Serializable {

  /** Writes unit `u`'s non-zero members into `v` and lists them in `nz`;
    * returns how many. `v` and `seen` must come in cleared, and the
    * caller clears the listed entries after use. */
  def values(u: UnitIF, v: Array[Double], seen: Array[Boolean],
      nz: Array[Int]): Int = {
    var cnt = 0
    var i = 0
    while (i < u.cells.length) {
      val c = u.cells(i)
      if (c < cellM.length && cellM(c) != null) {
        val ms = cellM(c); val ws = cellW(c)
        var j = 0
        while (j < ms.length) {
          val mm = ms(j)
          if (!seen(mm)) { seen(mm) = true; nz(cnt) = mm; cnt += 1 }
          v(mm) += ws(j) * u.infs(i)
          j += 1
        }
      }
      i += 1
    }
    if (!u.wbar.isNaN && !u.gbar.isNaN) cohorts.get(u.gbar).foreach {
      case (ms, cs) =>
        var j = 0
        while (j < ms.length) {
          val mm = ms(j)
          if (!seen(mm)) { seen(mm) = true; nz(cnt) = mm; cnt += 1 }
          v(mm) += u.wbar * cs(j)
          j += 1
        }
    }
    cnt
  }
}

private[did] object Members {

  /** Member c is cell c: the fit's own bootstrap. */
  def identity(k: Int): Members =
    new Members(k, Array.tabulate(k)(Array(_)), Array.fill(k)(Array(1.0)),
      Map.empty)

  /** `m` members from (cell id, member, weight) and (member, cohort,
    * coefficient) triples. */
  def apply(m: Int, cellWts: Seq[(Int, Int, Double)],
      wifCoefs: Seq[(Int, Double, Double)]): Members = {
    val k = if (cellWts.isEmpty) 0 else cellWts.map(_._1).max + 1
    val byCell = cellWts.groupBy(_._1)
    val cohorts = wifCoefs.groupBy(_._2).map { case (g, cs) =>
      g -> ((cs.map(_._1).toArray, cs.map(_._3).toArray))
    }
    new Members(m,
      Array.tabulate(k)(c => byCell.get(c).map(_.map(_._2).toArray).orNull),
      Array.tabulate(k)(c => byCell.get(c).map(_.map(_._3).toArray).orNull),
      cohorts)
  }
}

/** Rademacher multiplier bootstrap with sup-t simultaneous critical value
  * (`csdids/mboot.py:63-143`).
  *
  * Draw `b` multiplies every influence value of key `k` (the unit's
  * rowid string, or its cluster id when clustered) by one sign, -1 iff
  * the top bit of
  * `splitmix64((key64(k) XOR splitmix64(seed)) + (b+1)·Gamma)` is set,
  * where `key64(k)` is the first 8 bytes, big-endian, of `md5(utf8(k))`.
  * The sign is a pure function of (seed, k, b): a unit draws the same
  * signs whatever other units the store holds and however it is
  * partitioned, and DuckDB replays it in SQL (the `q_mboot_*` oracles
  * in `SparkEntry`).
  *
  * One execution, one Spark job, over the fit's unit-major store
  * ([[IFStore]]): each unit draws its B signs once from the key stored
  * with it, maps itself to its members' values ([[Members]]), and adds
  * them signed into one B x M buffer per partition; the driver adds the
  * buffers in partition order, so a rerun over the same store is
  * bit-identical. A long-form table given to [[run]] is first regrouped
  * by rowid into the same unit rows, inside the same job.
  *
  * Quantiles are exact type-1 (`inverted_cdf`) per `mboot.py:128-137`;
  * Spark's percentile_approx is NOT acceptable here (SURVEY.md §7.6).
  */
object MBoot {

  private val Gamma = 0x9E3779B97F4A7C15L

  /** splitmix64 of `z0`: the mixer of `GridRehearsal` and
    * `didbench.Panels`. */
  private def splitmix64(z0: Long): Long = {
    var z = z0 + Gamma
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Draw `b`'s sign bit (1 = sign -1) for a key whose `key64` has been
    * XORed with `splitmix64(seed)`. */
  @inline private def signBit(keyMix: Long, b: Int): Long =
    splitmix64(keyMix + (b + 1L) * Gamma) >>> 63

  /** Draws `0 until biters` sign bits of `keyMix` into `words`. */
  private def fillSigns(words: Array[Long], keyMix: Long, biters: Int): Unit = {
    java.util.Arrays.fill(words, 0L)
    var b = 0
    while (b < biters) {
      words(b >>> 6) |= signBit(keyMix, b) << (b & 63); b += 1
    }
  }

  /** How a pass resamples: B draws of `seed`, by unit, or by cluster with
    * each unit's values divided by its cluster's unit count. */
  private[did] final case class Boot(biters: Int, seed: Long,
      clusterSizes: Option[Map[String, Long]])

  /** What one pass of a family over the units returns: each member's sum
    * of squared values, and with a bootstrap the B x M mean draws, taken
    * over `n` units or clusters. */
  private[did] final case class Pass(sumSq: Array[Double],
      draws: Array[Array[Double]], n: Long)

  /** One Spark job over `units`: every member's sum of squared values
    * and, with `boot`, its B signed sums, each partition folded into one
    * buffer (`buf(m * biters + b)`) and the buffers added in partition
    * order; the draws are divided by `n`. */
  private[did] def pass(units: RDD[UnitIF], members: Members,
      boot: Option[Boot], n: Long, label: String): Pass = {
    val m = members.m
    val biters = boot.fold(0)(_.biters)
    val seedMix = boot.fold(0L)(b => splitmix64(b.seed))
    val clusterSizes = boot.flatMap(_.clusterSizes).map(_.map { case (c, s) =>
      c -> s.toDouble })
    val parts = Phase(units.sparkContext, label) {
      units.mapPartitions { us =>
        val ss = new Array[Double](m)
        val buf = new Array[Double](m * biters)
        val v = new Array[Double](m)
        val seen = new Array[Boolean](m)
        val nz = new Array[Int](m)
        val words = new Array[Long]((biters + 63) >>> 6)
        val byCluster = new java.util.HashMap[String, Array[Long]]()
        val md5 = MessageDigest.getInstance("MD5")
        us.foreach { u =>
          val cnt = members.values(u, v, seen, nz)
          if (cnt > 0) {
            var i = 0
            while (i < cnt) { val j = nz(i); ss(j) += v(j) * v(j); i += 1 }
            if (biters > 0) {
              // signs keyed by the unit, or shared by its cluster
              val (bits, size) = clusterSizes match {
                case None =>
                  fillSigns(words, u.key ^ seedMix, biters)
                  (words, 1.0)
                case Some(sizes) =>
                  var cb = byCluster.get(u.cluster)
                  if (cb == null) {
                    cb = new Array[Long](words.length)
                    fillSigns(cb, IFStore.key64(u.cluster, md5) ^ seedMix, biters)
                    byCluster.put(u.cluster, cb)
                  }
                  (cb, sizes(u.cluster))
              }
              i = 0
              while (i < cnt) {
                val j = nz(i)
                // s * x without a branch: a set bit flips x's sign bit
                val x = java.lang.Double.doubleToRawLongBits(v(j) / size)
                val base = j * biters
                var b = 0
                while (b < biters) {
                  buf(base + b) += java.lang.Double.longBitsToDouble(
                    x ^ (((bits(b >>> 6) >>> (b & 63)) & 1L) << 63))
                  b += 1
                }
                i += 1
              }
            }
            i = 0
            while (i < cnt) { val j = nz(i); v(j) = 0.0; seen(j) = false; i += 1 }
          }
        }
        Iterator.single((ss, buf))
      }.collect()
    }
    val sumSq = Array.tabulate(m)(j => parts.foldLeft(0.0)(_ + _._1(j)))
    val draws = Array.tabulate(biters, m) { (b, j) =>
      parts.foldLeft(0.0)((acc, p) => acc + p._2(j * biters + b)) / n
    }
    Pass(sumSq, draws, n)
  }

  /** A pass over a fit's store, bootstrapped (when `bootstrap`) the way
    * its config asks: by cluster when the fit is clustered, else by unit.
    * The fit and every aggregation resample through here, so they
    * resample the same way. A unit whose cluster id varies cannot be
    * cluster-bootstrapped (`csdids/mboot.py:99-104`) and fails the
    * bootstrap. */
  private[did] def passOver(pp: PreprocessedPanel, store: IFStore,
      members: Members, bootstrap: Boolean, label: String): Pass = {
    val cfg = pp.config
    val boot =
      if (!bootstrap) None
      else if (!store.clustered) Some(Boot(cfg.biters, cfg.seed, None))
      else {
        require(store.stats.varyingClusters == 0,
          s"Can't handle time-varying cluster variables: " +
            s"'${cfg.clustervar.getOrElse("")}' varies within unit")
        Some(Boot(cfg.biters, cfg.seed, Some(store.stats.clusterSizes)))
      }
    if (bootstrap) require(cfg.biters >= 2,
      s"mboot needs biters >= 2 (SE and ddof=1 covariance), got ${cfg.biters}")
    val n = if (bootstrap && store.clustered) store.stats.clusterSizes.size.toLong
      else pp.n
    pass(store.readable, members, boot, n, label)
  }

  /** Bootstrap of a long-form influence table (rowid, cell, inf): its
    * rows are regrouped by rowid into unit rows within the one job. */
  def run(ifTable: DataFrame, k: Int, n: Long, biters: Int, alp: Double,
      seed: Long): MBootResult = {
    // fail at the configuration site, not lazily at first .cov access
    require(biters >= 2,
      s"mboot needs biters >= 2 (SE and ddof=1 covariance), got $biters")
    val table = org.apache.spark.sql.graftbridge.SessionScope.onEngine(ifTable)
    val units = IFStore.assemble(IFStore.entryFragments(table), k, None,
      Map.empty, Some(table.sparkSession.sparkContext.defaultParallelism))
    val p = pass(units, Members.identity(k), Some(Boot(biters, seed, None)), n,
      "MBoot.run/signedSums")
    finish(p.draws, k, n, alp)
  }

  /** `sqrt(n)` scale, degenerate-dim drop, IQR-based SE and sup-t critical
    * value (`csdids/mboot.py:106-141`). */
  private[did] def finish(outMat: Array[Array[Double]], k: Int, n: Long,
      alp: Double): MBootResult = {
    val biters = outMat.length
    val sqrtN = math.sqrt(n.toDouble)
    val bres = outMat.map(_.map(_ * sqrtN))

    val ndg = Array.tabulate(k) { j =>
      val colv = bres.map(_(j))
      val s = colv.sum
      !s.isNaN && colv.map(v => v * v).sum > Stats.DegenerateTol
    }
    val keep = (0 until k).filter(ndg)

    val z75 = Stats.normPpf(0.75)
    val z25 = Stats.normPpf(0.25)
    val bSigma = keep.map { j =>
      val colv = bres.map(_(j))
      (Stats.quantileType1(colv, 0.75) - Stats.quantileType1(colv, 0.25)) /
        (z75 - z25)
    }.toArray

    val bT = bres.map { row =>
      keep.indices.map(i => math.abs(row(keep(i)) / bSigma(i)))
        .foldLeft(0.0)(math.max)
    }.filter(v => !v.isNaN && !v.isInfinite)
    val critVal =
      if (bT.isEmpty || keep.isEmpty) Double.NaN
      else Stats.quantileType1(bT, 1 - alp)

    val se = Array.fill(k)(Double.NaN)
    keep.indices.foreach(i => se(keep(i)) = bSigma(i) / sqrtN)
    MBootResult(bres, se, critVal)
  }

  /** Cluster bootstrap, intended semantics (the reference's own cluster
    * path is pandas-on-Spark and raises — SURVEY.md §2.8): cluster-mean
    * influence (rowid := cluster id, signs keyed by it), then bootstrap
    * over clusters. `clusters` maps rowid -> cluster id (string columns
    * `rowid`, `cluster`); built distributed by the caller. */
  def runClustered(ifTable: DataFrame, clusters: DataFrame, k: Int,
      biters: Int, alp: Double, seed: Long): MBootResult = {
    val clustered = ifTable.join(clusters, "rowid")
      .groupBy("cluster", "cell").agg(sum("inf").as("inf"))
    val nClusters = clusters.select("cluster").distinct().count()
    val sized = clustered
      .join(clusters.groupBy("cluster").agg(count(lit(1)).as("csize")),
        "cluster")
      .select(col("cluster").as("rowid"), col("cell"),
        (col("inf") / col("csize")).as("inf"))
    run(sized, k, nClusters, biters, alp, seed)
  }
}
