package graft.did

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

class AttGtSpec extends AnyFunSuite with SparkSpec {
  import TestPanels._

  test("2x2 unconditional DR equals hand-computed difference-in-means") {
    val pp = Preprocess.run(twoByTwo(spark), cfg)
    val fit = AttGt.fit(pp, estMethod = "dr")
    assert(fit.cells.length == 1)
    assert(math.abs(fit.att(0) - 2.0) < 1e-12)
    assert(fit.post(0) == 1)
    assert(fit.seAnalytic(0) > 0 && java.lang.Double.isFinite(fit.seAnalytic(0)))
    fit.unpersist(); pp.unpersist()
  }

  test("distributed closed form agrees with collected DrDidRc/RegDidRc") {
    val pp = Preprocess.run(staggered(spark, nUnits = 120), cfg)
    for (m <- Seq("dr", "reg")) {
      val est = if (m == "dr") CellEstimators.DrDidRc else CellEstimators.RegDidRc
      val dist = AttGt.fit(pp, estMethod = m)
      val coll = AttGt.fit(pp, estMethod = m, customRc = Some(est))
      dist.att.indices.foreach { i =>
        assert(math.abs(dist.att(i) - coll.att(i)) < 1e-8,
          s"$m att cell $i: ${dist.att(i)} vs ${coll.att(i)}")
        assert(math.abs(dist.seAnalytic(i) - coll.seAnalytic(i)) < 1e-8,
          s"$m se cell $i: ${dist.seAnalytic(i)} vs ${coll.seAnalytic(i)}")
      }
      dist.unpersist(); coll.unpersist()
    }
    pp.unpersist()
  }

  test("fit never mutates the caller's session conf; concurrent fits agree") {
    // the AQE toggle runs on an internal session clone — the caller's
    // conf must read `true` at every instant, including mid-fit
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[String]
    @volatile var watching = true
    val watcher = new Thread(() => {
      while (watching) {
        observed.add(spark.conf.get("spark.sql.adaptive.enabled"))
        Thread.sleep(5)
      }
    })
    watcher.start()
    val seq = {
      val pp = Preprocess.run(staggered(spark, nUnits = 120), cfg)
      val f = AttGt.fit(pp, estMethod = "dr")
      val a = f.att.toVector
      f.unpersist(); pp.unpersist(); a
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val futs = (1 to 2).map { _ =>
      Future {
        val pp = Preprocess.run(staggered(spark, nUnits = 120), cfg)
        val f = AttGt.fit(pp, estMethod = "dr")
        val a = f.att.toVector
        f.unpersist(); pp.unpersist(); a
      }
    }
    val concurrent = Await.result(Future.sequence(futs), 5.minutes)
    watching = false
    watcher.join()
    assert(observed.stream().allMatch(_ == "true"),
      "caller session conf was mutated during fit: " +
        observed.toArray.distinct.mkString(","))
    concurrent.foreach { a =>
      assert(a.size == seq.size)
      a.indices.foreach(i => assert(math.abs(a(i) - seq(i)) < 1e-12))
    }
  }

  test("the engine session follows the caller's shuffle width at each fit") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      val pp = Preprocess.run(staggered(spark, nUnits = 120), cfg)
      val widths = Seq(3, 5).map { w =>
        spark.conf.set(key, w.toString)
        val f = AttGt.fit(pp, estMethod = "dr")
        val got = f.ifTable.rdd.getNumPartitions
        f.unpersist()
        got
      }
      pp.unpersist()
      assert(widths == Seq(3, 5), s"IF table widths $widths")
    } finally spark.conf.set(key, saved)
  }

  test("DGP truth recovery: post cells match tau, pre cells are placebo") {
    val pp = Preprocess.run(
      staggered(spark, nUnits = 400, noise = 0.05), cfg)
    val fit = AttGt.fit(pp, estMethod = "dr")
    fit.cells.indices.foreach { i =>
      val c = fit.cells(i)
      val truth = if (c.g <= c.tn) c.tn - c.g + 1.0 else 0.0
      assert(math.abs(fit.att(i) - truth) < 0.05,
        s"cell (g=${c.g}, t=${c.tn}): ${fit.att(i)} vs $truth")
    }
    fit.unpersist(); pp.unpersist()
  }

  test("covariate DR path recovers truth with noise covariates") {
    val pp = Preprocess.run(staggered(spark, nUnits = 300, noise = 0.05),
      cfg.copy(xfmla = Some("y ~ x1 + x2")))
    val fit = AttGt.fit(pp, estMethod = "dr")
    fit.cells.indices.foreach { i =>
      val c = fit.cells(i)
      val truth = if (c.g <= c.tn) c.tn - c.g + 1.0 else 0.0
      assert(math.abs(fit.att(i) - truth) < 0.08,
        s"cell (g=${c.g}, t=${c.tn}): ${fit.att(i)} vs $truth")
    }
    fit.unpersist(); pp.unpersist()
  }

  test("universal base period emits ATT=0 rows at the base period") {
    val pp = Preprocess.run(staggered(spark, nUnits = 120), cfg)
    val fit = AttGt.fit(pp, basePeriod = "universal")
    val zeros = fit.cells.filter(_.zeroCell)
    assert(zeros.nonEmpty)
    zeros.foreach(c => assert(fit.att(c.idx) == 0.0))
    // varying-base surface has nG * (nT-1) cells; universal nG * nT
    assert(fit.cells.length == pp.nG * pp.nT)
    fit.unpersist(); pp.unpersist()
  }

  test("notyettreated control group matches nevertreated truth on DGP") {
    val pp = Preprocess.run(staggered(spark, nUnits = 400, noise = 0.05),
      cfg.copy(controlGroup = "notyettreated"))
    val fit = AttGt.fit(pp, estMethod = "dr")
    fit.cells.indices.foreach { i =>
      val c = fit.cells(i)
      val truth = if (c.g <= c.tn) c.tn - c.g + 1.0 else 0.0
      assert(math.abs(fit.att(i) - truth) < 0.05,
        s"cell (g=${c.g}, t=${c.tn}): ${fit.att(i)} vs $truth")
    }
    fit.unpersist(); pp.unpersist()
  }

  test("weights: constant rescaling of weights leaves ATT unchanged") {
    import org.apache.spark.sql.functions._
    val base = staggered(spark, nUnits = 150)
    val pp1 = Preprocess.run(base, cfg.copy(weightsName = Some("wgt")))
    val pp2 = Preprocess.run(base.withColumn("wgt", col("wgt") * 7.5),
      cfg.copy(weightsName = Some("wgt")))
    val f1 = AttGt.fit(pp1); val f2 = AttGt.fit(pp2)
    f1.att.indices.foreach(i =>
      assert(math.abs(f1.att(i) - f2.att(i)) < 1e-9))
    f1.unpersist(); f2.unpersist(); pp1.unpersist(); pp2.unpersist()
  }

  test("balanced-panel path (allowUnbalancedPanel=false) recovers truth") {
    val pp = Preprocess.run(staggered(spark, nUnits = 300, noise = 0.05),
      cfg.copy(allowUnbalancedPanel = false))
    assert(pp.panel)
    val fit = AttGt.fit(pp, estMethod = "dr")
    fit.cells.indices.foreach { i =>
      val c = fit.cells(i)
      val truth = if (c.g <= c.tn) c.tn - c.g + 1.0 else 0.0
      assert(math.abs(fit.att(i) - truth) < 0.05,
        s"cell (g=${c.g}, t=${c.tn}): ${fit.att(i)} vs $truth")
    }
    fit.unpersist(); pp.unpersist()
  }
}
