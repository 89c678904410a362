package graft.did

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.commons.math3.random.MersenneTwister
import scala.util.hashing.MurmurHash3

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
  * (rowid, cell, inf). Two executions produce the same `bres`:
  *
  *  - driver path (n*K small): collect the sparse triplets and loop like
  *    the reference (seeded, deterministic);
  *  - distributed path: one `Aggregator` pass computes, per cell, the
  *    vector of B sign-weighted sums. Signs are a pure function
  *    `murmur3(rowid, b, seed)` so every cell sees the SAME draw for a
  *    given unit regardless of partitioning — the property the
  *    reference gets from materializing Ub per iteration.
  *
  * Quantiles are exact type-1 (`inverted_cdf`) per `mboot.py:128-137`;
  * Spark's percentile_approx is NOT acceptable here (SURVEY.md §7.6).
  */
object MBoot {

  /** Deterministic Rademacher sign for (unit, draw). */
  @inline def sign(rowidHash: Int, b: Int, seed: Long): Double = {
    val h = MurmurHash3.mix(MurmurHash3.mix(seed.toInt, rowidHash), b)
    val f = MurmurHash3.finalizeHash(h, 2)
    if ((f & 1) == 0) 1.0 else -1.0
  }

  def run(ifTable: DataFrame, k: Int, n: Long, biters: Int, alp: Double,
      seed: Long, maxDriverEntries: Long = 20L * 1000 * 1000): MBootResult = {
    // fail at the configuration site, not lazily at first .cov access
    require(biters >= 2,
      s"mboot needs biters >= 2 (SE and ddof=1 covariance), got $biters")
    val nnz = ifTable.count()
    val outMat: Array[Array[Double]] =
      if (nnz <= maxDriverEntries) driverBoot(ifTable, k, n, biters, seed)
      else distributedBoot(ifTable, k, n, biters, seed)
    finish(outMat, k, n, alp)
  }

  /** Driver loop over collected sparse triplets — mirrors
    * `multiplier_bootstrap` (`csdids/mboot.py:17-31`) with a seeded
    * MersenneTwister instead of global numpy state. */
  private def driverBoot(ifTable: DataFrame, k: Int, n: Long, biters: Int,
      seed: Long): Array[Array[Double]] = {
    val triplets = ifTable.collect().map { r =>
      (r.get(0).toString, r.getInt(1), r.getDouble(2))
    }
    val units = triplets.map(_._1).distinct.sorted
    val unitIdx = units.zipWithIndex.toMap
    // resolve to primitive index arrays ONCE — the B x nnz inner loop
    // must not do per-entry hash lookups
    val nnz = triplets.length
    val uIx = new Array[Int](nnz)
    val cIx = new Array[Int](nnz)
    val infs = new Array[Double](nnz)
    var t = 0
    while (t < nnz) {
      uIx(t) = unitIdx(triplets(t)._1)
      cIx(t) = triplets(t)._2
      infs(t) = triplets(t)._3
      t += 1
    }
    // the MT draw stream is sequential BY CONTRACT (b-major over
    // units — the fixture replays it draw for draw), but the
    // contraction is embarrassingly parallel over b: pre-draw every
    // sign into a bitset (one bit per (b, unit): ~19 MB at 150k units
    // x 1000 draws where a double matrix would be 1.2 GB), then fan
    // the B x nnz inner loop across cores. Per-draw accumulation
    // order (t ascending) is unchanged, so results are BIT-IDENTICAL
    // to the sequential loop — r14: the warm bootstrap pass at 10x
    // was serialized on one core (7.5 s) while 31 sat idle.
    val rng = new MersenneTwister(seed)
    val nU = units.length
    val signs = new java.util.BitSet(biters * nU)
    var b = 0
    var idx = 0
    while (b < biters) {
      var i = 0
      while (i < nU) {
        if (rng.nextBoolean()) signs.set(idx)
        i += 1; idx += 1
      }
      b += 1
    }
    val out = Array.ofDim[Double](biters, k)
    java.util.stream.IntStream.range(0, biters).parallel().forEach { bb =>
      val base = bb * nU
      val acc = new Array[Double](k)
      var tt = 0
      while (tt < nnz) {
        val s = if (signs.get(base + uIx(tt))) 1.0 else -1.0
        acc(cIx(tt)) += infs(tt) * s
        tt += 1
      }
      var j = 0
      while (j < k) { out(bb)(j) = acc(j) / n; j += 1 }
    }
    out
  }

  private final case class BootBuf(sums: Array[Double])

  /** Distributed path: per cell, accumulate B sign-weighted sums in one
    * shuffle-light pass (K groups, each carrying a length-B buffer). */
  private def distributedBoot(ifTable: DataFrame, k: Int, n: Long,
      biters: Int, seed: Long): Array[Array[Double]] = {
    val spark = ifTable.sparkSession
    import spark.implicits._

    val agg = new Aggregator[(Int, Int, Double), Array[Double], Array[Double]] {
      def zero: Array[Double] = new Array[Double](biters)
      def reduce(buf: Array[Double], in: (Int, Int, Double)): Array[Double] = {
        val ridHash = in._1
        val inf = in._3
        var b = 0
        while (b < biters) { buf(b) += inf * sign(ridHash, b, seed); b += 1 }
        buf
      }
      def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }
      def finish(buf: Array[Double]): Array[Double] = buf
      def bufferEncoder: Encoder[Array[Double]] =
        implicitly[Encoder[Array[Double]]]
      def outputEncoder: Encoder[Array[Double]] =
        implicitly[Encoder[Array[Double]]]
    }

    val rows = ifTable
      .select(hash(col("rowid")).as("rh"), col("cell"), col("inf"))
      .as[(Int, Int, Double)]
      .groupByKey(_._2)
      .agg(agg.toColumn)
      .collect()

    val out = Array.ofDim[Double](biters, k)
    rows.foreach { case (cell, sums) =>
      var b = 0
      while (b < biters) { out(b)(cell) = sums(b) / n; b += 1 }
    }
    out
  }

  /** Engine-replayable (md5-keyed) Rademacher sign for (unit, draw):
    * +1 iff the top bit of md5("rowid#draw#salt") is 0 (first hex char
    * in 0..7) — derivable by any SQL engine with an md5(), unlike the
    * production murmur3 [[sign]]. Pure column function: the same draw
    * for a unit on every partition, no RNG state. */
  def md5Sign(rowid: Column, draw: Column, salt: String = ""): Column =
    when(conv(substring(md5(concat(rowid.cast("string"), lit("#"),
      draw.cast("string"), lit("#"), lit(salt))), 1, 1), 16, 10) < 8,
      1.0).otherwise(-1.0)

  /** md5-flavor draw matrix (cell, draw, bres): one distributed
    * explode + groupBy pass, bres = sum(inf * sign) / sqrt(n) — exactly
    * the scaled per-draw statistic [[finish]] consumes (`bres` rows of
    * `csdids/mboot.py:106`). This is the DuckDB-oracle twin of
    * [[distributedBoot]]: same sparse-IF contraction, signs replayable
    * in SQL so the bootstrap numbers themselves get hash-checked. */
  def drawMatrixMd5(ifTable: DataFrame, n: Long, biters: Int,
      salt: String = ""): DataFrame =
    ifTable
      .select(col("rowid"), col("cell"), col("inf"),
        explode(sequence(lit(0), lit(biters - 1))).as("draw"))
      .groupBy("cell", "draw")
      .agg((sum(col("inf") * md5Sign(col("rowid"), col("draw"), salt))
        / math.sqrt(n.toDouble)).as("bres"))

  /** Full bootstrap over md5 draws, through the SAME [[finish]] as
    * production (sqrt(n) scale, degenerate drop, type-1 IQR SE, sup-t
    * critical value). */
  def runMd5(ifTable: DataFrame, k: Int, n: Long, biters: Int, alp: Double,
      salt: String = ""): MBootResult =
    finishFromMd5Draws(drawMatrixMd5(ifTable, n, biters, salt), k, n,
      biters, alp)

  /** [[runMd5]] split at the draw matrix, so a caller serving BOTH the
    * draw-matrix query and the SE query can build (and persist) the
    * explode+groupBy pass once and feed it to each. */
  def finishFromMd5Draws(draws: DataFrame, k: Int, n: Long, biters: Int,
      alp: Double): MBootResult = {
    require(biters >= 2,
      s"mboot needs biters >= 2 (SE and ddof=1 covariance), got $biters")
    val sqrtN = math.sqrt(n.toDouble)
    val out = Array.ofDim[Double](biters, k)
    draws.collect().foreach { r =>
      // finish() expects the un-scaled per-draw mean (sum / n)
      out(r.getInt(1))(r.getInt(0)) = r.getDouble(2) / sqrtN
    }
    finish(out, k, n, alp)
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

  /** Cluster-mean influence table (rowid := cluster id) plus the
    * cluster count — the shared front half of both clustered flavors. */
  private def clusterSized(ifTable: DataFrame, clusters: DataFrame)
      : (DataFrame, Long) = {
    val clustered = ifTable.join(clusters, "rowid")
      .groupBy("cluster", "cell").agg(sum("inf").as("inf"))
    val nClusters = clusters.select("cluster").distinct().count()
    val sized = clustered
      .join(clusters.groupBy("cluster").agg(count(lit(1)).as("csize")),
        "cluster")
      .select(col("cluster").as("rowid"), col("cell"),
        (col("inf") / col("csize")).as("inf"))
    (sized, nClusters)
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

  /** Cluster bootstrap, intended semantics (the reference's own cluster
    * path is pandas-on-Spark and raises — SURVEY.md §2.8): cluster-mean
    * influence, then bootstrap over clusters. `clusterOf` maps rowid ->
    * cluster id; built distributed by the caller. */
  def runClustered(ifTable: DataFrame, clusters: DataFrame, k: Int,
      biters: Int, alp: Double, seed: Long): MBootResult = {
    val (sized, nClusters) = clusterSized(ifTable, clusters)
    run(sized, k, nClusters, biters, alp, seed)
  }

  /** Clustered bootstrap over md5 draws (signs keyed by the CLUSTER id)
    * — the oracle-checkable twin of [[runClustered]], same
    * cluster-mean sizing, same [[finish]]. */
  def runClusteredMd5(ifTable: DataFrame, clusters: DataFrame, k: Int,
      biters: Int, alp: Double, salt: String = ""): MBootResult = {
    val (sized, nClusters) = clusterSized(ifTable, clusters)
    runMd5(sized, k, nClusters, biters, alp, salt)
  }
}
