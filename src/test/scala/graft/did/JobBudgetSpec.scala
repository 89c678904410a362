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
    * hands its local properties to). A marker job submitted after `f`
    * reaches the listener after every job start of `f`, so waiting for
    * it drains the count. */
  private def jobsOf(f: => Any): Int = {
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
      f
      sc.setLocalProperty(Key, s"$span/end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("MBoot.run is one Spark job") {
    val pp = Preprocess.run(staggered(spark, nUnits = 200, noise = 0.1), cfg)
    val fit = AttGt.fit(pp, estMethod = "dr")
    val n = jobsOf(MBoot.run(fit.ifTable, fit.cells.length, pp.n, 199, 0.05, 1L))
    assert(n == 1, s"MBoot.run ran $n jobs")
    fit.unpersist(); pp.unpersist()
  }
}
