package graft.did

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs per public engine call over a fixed panel. Job counts
  * repeat exactly between runs, so a pass added later fails here
  * instead of hiding in a noisy timing. */
class JobBudgetSpec extends AnyFunSuite with SparkSpec {
  import TestPanels._

  private val Key = "graft.jobBudget"

  /** Jobs submitted while `f` runs on this thread (and on the threads it
    * hands its local properties to), with `f`'s result. A marker job
    * submitted after `f` reaches the listener after every job start of
    * `f`, so waiting for it drains the count. */
  private def jobsAnd[T](f: => T): (Int, T) = {
    val sc = spark.sparkContext
    val span = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Key)).foreach { v =>
          if (v == span) jobs.incrementAndGet()
          else if (v == s"$span/end") drained.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Key, span)
      val out = f
      sc.setLocalProperty(Key, s"$span/end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (jobs.get, out)
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
  }

  private def jobsOf(f: => Any): Int = jobsAnd(f)._1

  /** Descriptions of the jobs `f` submits, in order (drained like
    * [[jobsAnd]]). */
  private def descriptionsOf(f: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val span = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val v = p.getProperty(Key)
          if (v == span) seen.add(String.valueOf(p.getProperty(Desc)))
          else if (v == s"$span/end") drained.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Key, span)
      f
      sc.setLocalProperty(Key, s"$span/end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      seen.toArray(Array.empty[String]).toSeq
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
  }

  private val Desc = "spark.job.description"

  /** Asserts every call's count at once, so a failure shows them all. */
  private def assertBudget(got: Seq[(String, Int)],
      budget: Map[String, Int]): Unit = {
    val table = got.map { case (c, n) => f"  $c%-28s $n%3d (budget ${budget(c)})" }
    assert(got.forall { case (c, n) => budget(c) == n },
      table.mkString("job counts per call:\n", "\n", ""))
  }

  test("MBoot.run is one Spark job") {
    val pp = Preprocess.run(staggered(spark, nUnits = 200, noise = 0.1), cfg)
    val fit = AttGt.fit(pp, estMethod = "dr")
    val n = jobsOf(MBoot.run(fit.ifTable, fit.cells.length, pp.n, 199, 0.05, 1L))
    assert(n == 1, s"MBoot.run ran $n jobs")
    fit.unpersist(); pp.unpersist()
  }

  test("every public call of an intercept-only analysis holds its job budget") {
    val df = staggered(spark, nUnits = 200, noise = 0.1)
    val (nPre, pp) = jobsAnd(Preprocess.run(df, cfg))
    val (nFit, fit0) = jobsAnd(AttGt.fit(pp, estMethod = "dr"))
    val no = Some(false); val yes = Some(true)
    // a fit made without bstrap draws at its first bootstrapped request,
    // once
    val p0 = Aggte.prepare(fit0)
    val nLazy = jobsOf(Aggte.simple(p0, bstrap = yes))
    val nDrawn = jobsOf(Aggte.dynamic(p0, bstrap = yes, cband = yes))
    fit0.unpersist()
    val (nFitB, fit) = jobsAnd(AttGt.fit(pp, estMethod = "dr", bstrap = true))
    val (nPrep, p) = jobsAnd(Aggte.prepare(fit))
    val got = Seq(
      "Preprocess.run" -> nPre,
      "AttGt.fit" -> nFit,
      "first Aggte(bstrap) of it" -> nLazy,
      "second Aggte(bstrap) of it" -> nDrawn,
      "AttGt.fit(bstrap)" -> nFitB,
      "Aggte.prepare" -> nPrep,
      "Aggte.simple" -> jobsOf(Aggte.simple(p, bstrap = no)),
      "Aggte.group" -> jobsOf(Aggte.group(p, bstrap = no)),
      "Aggte.calendar" -> jobsOf(Aggte.calendar(p, bstrap = no)),
      "Aggte.dynamic" -> jobsOf(Aggte.dynamic(p, bstrap = no)),
      "Aggte.simple(bstrap)" -> jobsOf(Aggte.simple(p, bstrap = yes)),
      "Aggte.group(bstrap)" -> jobsOf(Aggte.group(p, bstrap = yes)),
      "Aggte.calendar(bstrap)" -> jobsOf(Aggte.calendar(p, bstrap = yes)),
      "Aggte.dynamic(bstrap)" -> jobsOf(Aggte.dynamic(p, bstrap = yes)),
      "Aggte.dynamic(bstrap, cband)" ->
        jobsOf(Aggte.dynamic(p, bstrap = yes, cband = yes)),
      "PreTest.wald" -> jobsOf(PreTest.wald(fit)))
    fit.unpersist(); pp.unpersist()
    assertBudget(got, Map(
      "Preprocess.run" -> 3,
      "AttGt.fit" -> 2,
      "first Aggte(bstrap) of it" -> 1,
      "second Aggte(bstrap) of it" -> 0,
      "AttGt.fit(bstrap)" -> 2,
      "Aggte.prepare" -> 0,
      "Aggte.simple" -> 0,
      "Aggte.group" -> 0,
      "Aggte.calendar" -> 0,
      "Aggte.dynamic" -> 0,
      "Aggte.simple(bstrap)" -> 0,
      "Aggte.group(bstrap)" -> 0,
      "Aggte.calendar(bstrap)" -> 0,
      "Aggte.dynamic(bstrap)" -> 0,
      "Aggte.dynamic(bstrap, cband)" -> 0,
      "PreTest.wald" -> 0))
  }

  test("a clustered bootstrapped analysis holds its job budget") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val df = staggered(spark, nUnits = 200, noise = 0.1)
      .withColumn("clust", pmod(col("id"), lit(10)))
    val pp = Preprocess.run(df, cfg.copy(clustervar = Some("clust"), biters = 99))
    val (nFit, fit) = jobsAnd(AttGt.fit(pp, estMethod = "dr", bstrap = true))
    val p = Aggte.prepare(fit)
    val got = Seq(
      "AttGt.fit(bstrap, clustered)" -> nFit,
      "Aggte.simple(bstrap, clustered)" ->
        jobsOf(Aggte.simple(p, bstrap = Some(true))))
    fit.unpersist(); pp.unpersist()
    assertBudget(got, Map(
      "AttGt.fit(bstrap, clustered)" -> 3,
      "Aggte.simple(bstrap, clustered)" -> 0))
  }

  private def fitJobs(c: AttGtConfig,
      custom: Option[RcCellEstimator] = None): Int = {
    val pp = Preprocess.run(staggered(spark, nUnits = 200, noise = 0.1), c)
    val (n, fit) = jobsAnd(AttGt.fit(pp, estMethod = "dr", customRc = custom))
    fit.unpersist(); pp.unpersist()
    n
  }

  private val covCfg = cfg.copy(xfmla = Some("y ~ x1 + x2"))

  // The covariate repeated-cross-section fit runs the per-cell path: one
  // job, which estimates the cells and materializes the store.
  test("a covariate repeated-cross-section fit (per-cell path) holds its " +
      "job budget") {
    assertBudget(Seq("AttGt.fit(dr, x1 + x2)" -> fitJobs(covCfg)),
      Map("AttGt.fit(dr, x1 + x2)" -> 1))
  }

  test("per-cell fits (balanced-panel covariates, a custom estimator) " +
      "hold their job budgets") {
    assertBudget(Seq(
      "AttGt.fit(panel dr, x1 + x2)" ->
        fitJobs(covCfg.copy(allowUnbalancedPanel = false)),
      "AttGt.fit(customRc)" -> fitJobs(cfg, Some(CellEstimators.RegDidRc))),
      Map("AttGt.fit(panel dr, x1 + x2)" -> 1, "AttGt.fit(customRc)" -> 1))
  }

  test("every engine job carries its phase label, and the caller's " +
      "description is restored") {
    val sc = spark.sparkContext
    sc.setLocalProperty(Desc, "caller's own")
    try {
      val labels = descriptionsOf {
        val pp = Preprocess.run(staggered(spark, nUnits = 120, noise = 0.1), cfg)
        val fit = AttGt.fit(pp, estMethod = "dr")
        val p = Aggte.prepare(fit)
        Aggte.dynamic(p, bstrap = Some(false))
        Aggte.dynamic(p, bstrap = Some(true))
        PreTest.wald(fit)
        fit.unpersist(); pp.unpersist()
      }
      // the analytic request and the pre-test run no job; the first
      // bootstrapped request of a fit made without bstrap draws once
      assert(labels == Seq("Preprocess.run/counts",
        "Preprocess.run/firstPeriods", "Preprocess.run/materialize",
        "AttGt.fit/groupSums", "AttGt.fit/store", "MBoot/draws"),
        labels.mkString(", "))
      assert(sc.getLocalProperty(Desc) == "caller's own")
    } finally sc.setLocalProperty(Desc, null)
  }
}
