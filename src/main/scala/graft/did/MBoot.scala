package graft.did

import java.nio.ByteBuffer
import java.security.MessageDigest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

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
  * The influence matrix lives as the sparse long-form `ifTable`
  * (rowid, cell, inf). Draw `b` multiplies every row of key `k` (the
  * rowid string, or the cluster id when clustered) by one sign, -1 iff
  * the top bit of
  * `splitmix64((key64(k) XOR splitmix64(seed)) + (b+1)·Gamma)` is set,
  * where `key64(k)` is the first 8 bytes, big-endian, of `md5(utf8(k))`.
  * The sign is a pure function of (seed, k, b): a unit draws the same
  * signs whatever other units the table holds and however it is
  * partitioned, and DuckDB replays it in SQL (the `q_mboot_*` oracles
  * in `SparkEntry`).
  *
  * One execution, one Spark job: the table is coalesced (no shuffle) to
  * at most the default parallelism, each partition folds its rows into
  * one B x K buffer of signed sums (caching each key's B sign bits, ~250
  * bytes per distinct key of a partition at B = 1000), and the driver
  * adds the buffers in partition order, so a rerun over the same table
  * is bit-identical.
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

  def run(ifTable: DataFrame, k: Int, n: Long, biters: Int, alp: Double,
      seed: Long): MBootResult = {
    // fail at the configuration site, not lazily at first .cov access
    require(biters >= 2,
      s"mboot needs biters >= 2 (SE and ddof=1 covariance), got $biters")
    val seedMix = splitmix64(seed)
    val parts = ifTable
      .select(col("rowid").cast("string"), col("cell"), col("inf"))
      .queryExecution.toRdd
      .coalesce(ifTable.sparkSession.sparkContext.defaultParallelism)
      .mapPartitions(rows =>
        Iterator.single(signedSums(rows, k, biters, seedMix)))
      .collect()
    // finish() takes the per-draw means
    val outMat = Array.tabulate(biters, k) { (b, c) =>
      parts.foldLeft(0.0)((acc, buf) => acc + buf(c * biters + b)) / n
    }
    finish(outMat, k, n, alp)
  }

  /** One partition's B x K signed sums, cell-major
    * (`buf(cell * biters + b) = sum of s_b(rowid) * inf`). */
  private def signedSums(rows: Iterator[InternalRow], k: Int, biters: Int,
      seedMix: Long): Array[Double] = {
    val buf = new Array[Double](k * biters)
    val words = (biters + 63) >>> 6
    val bitsOf = new java.util.HashMap[UTF8String, Array[Long]]()
    val md5 = MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      // the row's bytes are reused by the next row: a cached key is a copy
      val key = r.getUTF8String(0)
      var bits = bitsOf.get(key)
      if (bits == null) {
        val d = md5.digest(key.getBytes)
        val keyMix = ByteBuffer.wrap(d).getLong ^ seedMix
        bits = new Array[Long](words)
        var b = 0
        while (b < biters) {
          bits(b >>> 6) |= signBit(keyMix, b) << (b & 63); b += 1
        }
        bitsOf.put(key.copy(), bits)
      }
      // s * inf without a branch: a set bit flips inf's sign bit
      val inf = java.lang.Double.doubleToRawLongBits(r.getDouble(2))
      val base = r.getInt(1) * biters
      var b = 0
      while (b < biters) {
        buf(base + b) += java.lang.Double.longBitsToDouble(
          inf ^ (((bits(b >>> 6) >>> (b & 63)) & 1L) << 63))
        b += 1
      }
    }
    buf
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

  /** The panel's rowid -> cluster map (string columns `rowid`,
    * `cluster`), or None when the bootstrap is by unit: `clustervar`
    * unset, or equal to `idname` (the reference drops idname from
    * clustervars, csdids/mboot.py:88-90). A unit mapping to more than
    * one cluster value cannot be cluster-bootstrapped
    * (csdids/mboot.py:99-104) and is rejected. */
  private[did] def clusterMap(pp: PreprocessedPanel): Option[DataFrame] = {
    val cfg = pp.config
    cfg.clustervar.filter(_ != cfg.idname).map { cv =>
      val cl = pp.df
        .select(col("rowid").cast("string").as("rowid"),
          col(cv).cast("string").as("cluster"))
        .distinct()
      val timeVarying = cl.groupBy("rowid")
        .agg(count(lit(1)).as("nclust"))
        .filter(col("nclust") > 1).limit(1).count()
      require(timeVarying == 0,
        s"Can't handle time-varying cluster variables: '$cv' varies " +
          "within unit")
      cl
    }
  }

  /** Bootstrap an influence table of `pp`'s units the way its config
    * asks: by cluster ([[runClustered]]) when [[clusterMap]] has one,
    * else by unit. Both the fit and every aggregation go through here,
    * so they resample the same way. */
  private[did] def runFor(pp: PreprocessedPanel, ifTable: DataFrame,
      k: Int): MBootResult = {
    val cfg = pp.config
    clusterMap(pp) match {
      case Some(cl) =>
        runClustered(ifTable, cl, k, cfg.biters, cfg.alp, cfg.seed)
      case None => run(ifTable, k, pp.n, cfg.biters, cfg.alp, cfg.seed)
    }
  }
}
