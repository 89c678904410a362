package graft.did

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

class MBootSpec extends AnyFunSuite with SparkSpec {
  import TestPanels._

  private lazy val fit = {
    val pp = Preprocess.run(staggered(spark, nUnits = 200, noise = 0.1), cfg)
    AttGt.fit(pp, estMethod = "dr", bstrap = true)
  }

  test("bootstrap SEs are near the analytic influence-function SEs") {
    fit.cells.indices.filterNot(fit.skipped).foreach { i =>
      val a = fit.seAnalytic(i); val b = fit.se(i)
      assert(b > 0, s"cell $i se=$b")
      assert(math.abs(a - b) / a < 0.5, s"cell $i: analytic $a vs boot $b")
    }
  }

  test("sup-t critical value exceeds the pointwise normal quantile") {
    assert(fit.critVal > Stats.normPpf(0.975))
    assert(fit.critVal < 7.0) // reference warns above 7 (csdids/ATTgt.py:767)
  }

  test("same seed is deterministic; different seed perturbs") {
    val r1 = MBoot.run(fit.ifTable, fit.cells.length, fit.pp.n, 199, 0.05, 1L)
    val r2 = MBoot.run(fit.ifTable, fit.cells.length, fit.pp.n, 199, 0.05, 1L)
    val r3 = MBoot.run(fit.ifTable, fit.cells.length, fit.pp.n, 199, 0.05, 2L)
    assert(r1.critVal == r2.critVal)
    assert(r1.se.toSeq == r2.se.toSeq)
    assert(r1.critVal != r3.critVal || r1.se.toSeq != r3.se.toSeq)
  }

  test("bootstrap covariance matches np.cov(bres, rowvar=False) by hand") {
    // bres = [[1,2],[3,4],[5,9]]: means (3,5); ddof=1 =>
    // var0 = 4, cov01 = 7, var1 = 13
    val r = MBootResult(Array(Array(1.0, 2.0), Array(3.0, 4.0),
      Array(5.0, 9.0)), Array(0.0, 0.0), 0.0)
    assert(r.cov(0)(0) == 4.0)
    assert(r.cov(0)(1) == 7.0 && r.cov(1)(0) == 7.0)
    assert(r.cov(1)(1) == 13.0)
    // diagonal of the real bootstrap covariance ~ bSigma-free variance:
    // positive and finite on non-degenerate dims
    val real = MBoot.run(fit.ifTable, fit.cells.length, fit.pp.n, 199, 0.05, 1L)
    real.se.indices.foreach { i =>
      if (!real.se(i).isNaN)
        assert(real.cov(i)(i) > 0 && java.lang.Double.isFinite(real.cov(i)(i)))
    }
  }

  test("cov refuses biters < 2 instead of dividing by zero") {
    val r = MBootResult(Array(Array(1.0, 2.0)), Array(0.0, 0.0), 0.0)
    val ex = intercept[IllegalArgumentException](r.cov)
    assert(ex.getMessage.contains("biters"))
  }

  /** Same draws up to summation order: every bres entry within 1e-12 of
    * the largest magnitude in its draw column (an entry that cancels to
    * near 0 still carries the rounding of its column's terms); se and
    * critVal within 1e-12 relative. */
  private def assertAgree(a: MBootResult, b: MBootResult, tag: String): Unit = {
    def close(x: Double, y: Double, scale: Double) =
      x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-12 * scale
    assert(a.bres.length == b.bres.length, tag)
    a.se.indices.foreach { j =>
      val scale = a.bres.map(r => math.abs(r(j))).max
      a.bres.indices.foreach { d =>
        assert(close(a.bres(d)(j), b.bres(d)(j), scale),
          s"$tag: bres($d)($j) ${a.bres(d)(j)} vs ${b.bres(d)(j)}")
      }
      assert(close(a.se(j), b.se(j), math.abs(a.se(j))),
        s"$tag: se($j) ${a.se(j)} vs ${b.se(j)}")
    }
    assert(close(a.critVal, b.critVal, math.abs(a.critVal)),
      s"$tag: critVal ${a.critVal} vs ${b.critVal}")
  }

  test("1, 7 and 64 partitions give the same bres, se and critVal") {
    val runs = Seq(1, 7, 64).map { p =>
      p -> MBoot.run(fit.ifTable.repartition(p), fit.cells.length, fit.pp.n,
        199, 0.05, 3L)
    }
    runs.tail.foreach { case (p, r) =>
      assertAgree(runs.head._2, r, s"1 vs $p partitions")
    }
  }

  test("the draws the fit's store job folds equal MBoot.run over its long " +
      "form, at shuffle widths 1, 7, 64 and 200") {
    val df = staggered(spark, nUnits = 200, noise = 0.1)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    for (width <- Seq(1, 7, 64, 200)) {
      spark.conf.set(key, width.toString)
      try {
        val pp = Preprocess.run(df, cfg)
        val f = AttGt.fit(pp, estMethod = "dr", bstrap = true)
        val r = MBoot.run(f.ifTable, f.cells.length, pp.n, cfg.biters, cfg.alp,
          cfg.seed)
        assertAgree(MBootResult(r.bres, f.se, f.critVal), r, s"width $width")
        f.unpersist(); pp.unpersist()
      } finally spark.conf.set(key, saved)
    }
  }

  test("an independent replay of signs and contraction agrees at 1e-12") {
    val (biters, seed, k, n) = (199, 3L, fit.cells.length, fit.pp.n)
    val gamma = 0x9E3779B97F4A7C15L
    def splitmix64(x: Long): Long = {
      val z1 = x + gamma
      val z2 = (z1 ^ (z1 >>> 30)) * 0xBF58476D1CE4E5B9L
      val z3 = (z2 ^ (z2 >>> 27)) * 0x94D049BB133111EBL
      z3 ^ (z3 >>> 31)
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def key64(k: String): Long =
      md.digest(k.getBytes("UTF-8")).take(8)
        .foldLeft(0L)((acc, byte) => (acc << 8) | (byte & 0xffL))
    // dense units x cells IF matrix from the collected triplets
    val triplets = fit.ifTable.collect()
      .map(r => (r.get(0).toString, r.getInt(1), r.getDouble(2)))
    val units = triplets.map(_._1).distinct
    val row = units.zipWithIndex.toMap
    val dense = Array.ofDim[Double](units.length, k)
    triplets.foreach { case (u, c, v) => dense(row(u))(c) += v }
    val out = Array.ofDim[Double](biters, k)
    for (u <- units.indices; b <- 0 until biters) {
      val z = splitmix64((key64(units(u)) ^ splitmix64(seed)) +
        (b + 1).toLong * gamma)
      val s = if (z < 0) -1.0 else 1.0
      (0 until k).foreach(c => out(b)(c) += s * dense(u)(c))
    }
    val replay = MBoot.finish(out.map(_.map(_ / n)), k, n, 0.05)
    val engine = MBoot.run(fit.ifTable, k, n, biters, 0.05, seed)
    assertAgree(replay, engine, "replay vs engine")
  }

  test("a unit with an all-zero IF leaves bres bit-identical") {
    import spark.implicits._
    // one partition, so both runs add the original rows in one order
    val base = fit.ifTable.coalesce(1)
    val zeroUnit = fit.cells.indices.map(c => ("extra-unit", c, 0.0))
      .toDF("rowid", "cell", "inf")
    val k = fit.cells.length
    val without = MBoot.run(base, k, fit.pp.n, 199, 0.05, 3L)
    val withZero = MBoot.run(base.union(zeroUnit), k, fit.pp.n, 199, 0.05, 3L)
    def bits(r: MBootResult) =
      r.bres.toSeq.map(_.toSeq.map(java.lang.Double.doubleToLongBits))
    assert(bits(without) == bits(withZero))
  }
}
