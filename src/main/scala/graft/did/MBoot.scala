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
  * A fit's draws are those of its per-unit vector z ([[ZLayout]]): each
  * unit draws its B signs once from the key stored with it and adds its
  * coordinates signed into one B x (K + nG) buffer per partition
  * ([[DrawsFold]]), and the driver adds the buffers in partition order,
  * so a rerun over the same store is bit-identical. The fit's store job
  * folds them ([[IFStore]]); the fit's own bootstrap takes the K cell
  * columns, and an aggregated member m is `v_m·D_b` on the driver. A
  * long-form table given to [[run]] is regrouped by rowid into the same
  * unit rows and drawn over its cells, in one job.
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

  /** How draws resample: B draws of `seed`, by unit, or by cluster with
    * each unit's values divided by its cluster's unit count. */
  private[did] final case class Boot(biters: Int, seed: Long,
      clusterSizes: Option[Map[String, Long]])

  private[did] def requireBiters(biters: Int): Unit =
    require(biters >= 2,
      s"mboot needs biters >= 2 (SE and ddof=1 covariance), got $biters")

  /** The B x P mean signed sums `D` of a [[ZLayout]]'s coordinates,
    * `D(b)(j) = Σ_u s_b(u) z_uj / n` over `n` units or clusters. */
  private[did] final case class Draws(d: Array[Array[Double]], n: Long) {

    /** Draw b of each member of `v` (members x P): `v_m·D_b`. */
    def of(v: Array[Array[Double]]): Array[Array[Double]] = {
      val nz = v.map(vm => vm.indices.filter(vm(_) != 0.0).toArray)
      d.map { db =>
        Array.tabulate(v.length) { m =>
          val vm = v(m); val js = nz(m)
          var s = 0.0
          var i = 0
          while (i < js.length) { s += vm(js(i)) * db(js(i)); i += 1 }
          s
        }
      }
    }
  }

  /** One partition's signed sums of p coordinates, `buf(j * biters + b)`:
    * each unit draws its B signs once, from the key stored with it or
    * shared by its cluster, and adds its values signed. The fit's store
    * job and [[pass]] fold through here. */
  private[did] final class DrawsFold(p: Int, boot: Boot) {
    private val biters = boot.biters
    private val seedMix = splitmix64(boot.seed)
    val buf = new Array[Double](p * biters)
    private val words = new Array[Long]((biters + 63) >>> 6)
    private val byCluster = new java.util.HashMap[String, Array[Long]]()
    private lazy val md5 = MessageDigest.getInstance("MD5")

    /** Adds unit `u`, whose coordinates and values are the first `cnt` of
      * `at` and `vs`. */
    def add(u: UnitIF, at: Array[Int], vs: Array[Double], cnt: Int): Unit =
      if (cnt > 0) {
        val (bits, size) = boot.clusterSizes match {
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
            (cb, sizes(u.cluster).toDouble)
        }
        var i = 0
        while (i < cnt) {
          // s * x without a branch: a set bit flips x's sign bit
          val x = java.lang.Double.doubleToRawLongBits(vs(i) / size)
          val base = at(i) * biters
          var b = 0
          while (b < biters) {
            buf(base + b) += java.lang.Double.longBitsToDouble(
              x ^ (((bits(b >>> 6) >>> (b & 63)) & 1L) << 63))
            b += 1
          }
          i += 1
        }
      }
  }

  /** The partitions' [[DrawsFold]] buffers added in order, divided by
    * `n`. */
  private[did] def merge(parts: Seq[Array[Double]], p: Int, biters: Int,
      n: Long): Draws =
    Draws(Array.tabulate(biters, p) { (b, j) =>
      parts.foldLeft(0.0)((acc, buf) => acc + buf(j * biters + b)) / n
    }, n)

  /** One Spark job over `units`: the draws of `layout`'s coordinates,
    * each partition folded into one buffer. */
  private[did] def pass(units: RDD[UnitIF], layout: ZLayout, boot: Boot,
      n: Long, label: String): Draws = {
    val p = layout.p
    val parts = Phase(units.sparkContext, label) {
      units.mapPartitions { us =>
        val fold = new DrawsFold(p, boot)
        val at = new Array[Int](p)
        val vs = new Array[Double](p)
        us.foreach(u => fold.add(u, at, vs, layout.coords(u, at, vs)))
        Iterator.single(fold.buf)
      }.collect()
    }
    merge(parts.toSeq, p, boot.biters, n)
  }

  /** The draws of a fit's store, resampled the way its config asks: by
    * cluster when the fit is clustered, else by unit. The fit's store job
    * folds them when the fit bootstraps by unit; otherwise one pass
    * (`MBoot/draws`) makes them the first time they are asked for, and
    * the store keeps them. The fit's own bootstrap and every aggregation
    * read these same draws. A unit whose cluster id varies cannot be
    * cluster-bootstrapped (`csdids/mboot.py:99-104`) and fails the
    * bootstrap. */
  private[did] def drawsOf(pp: PreprocessedPanel, store: IFStore): Draws = {
    store.moments // the statistics' cap holds for the draws too
    store.draws {
      val cfg = pp.config
      requireBiters(cfg.biters)
      val (sizes, n) =
        if (!store.clustered) (None, pp.n)
        else {
          require(store.stats.varyingClusters == 0,
            s"Can't handle time-varying cluster variables: " +
              s"'${cfg.clustervar.getOrElse("")}' varies within unit")
          (Some(store.stats.clusterSizes), store.stats.clusterSizes.size.toLong)
        }
      pass(IFStore.readable(store.units), store.layout, Boot(cfg.biters, cfg.seed, sizes), n,
        "MBoot/draws")
    }
  }

  /** Bootstrap of a long-form influence table (rowid, cell, inf): its
    * rows are regrouped by rowid into unit rows within the one job. */
  def run(ifTable: DataFrame, k: Int, n: Long, biters: Int, alp: Double,
      seed: Long): MBootResult = {
    // fail at the configuration site, not lazily at first .cov access
    requireBiters(biters)
    val table = org.apache.spark.sql.graftbridge.SessionScope.onEngine(ifTable)
    val units = IFStore.assemble(IFStore.entryFragments(table), k, None,
      Map.empty, Some(table.sparkSession.sparkContext.defaultParallelism))
    val d = pass(units, new ZLayout(k, Array.empty), Boot(biters, seed, None),
      n, "MBoot.run/signedSums")
    finish(d.d, k, n, alp)
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
