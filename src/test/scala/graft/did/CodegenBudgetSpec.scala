package graft.did

import graft.SparkSpec
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark caches generated classes per (classloader, code), and its cache
  * holds `spark.sql.codegen.cache.maxEntries` (default 100) of them. A
  * repeated analysis on one caller session reuses its compiled code only
  * if every call plans on the same sessions as before and one analysis
  * generates few enough classes to stay cached. Runs on the default
  * cache size: the engine cannot rely on a larger one, which is a static
  * conf the caller owns. */
class CodegenBudgetSpec extends AnyFunSuite with SparkSpec {
  import TestPanels._

  /** Classes one full analysis may compile on a cold engine session. */
  private val FirstBudget = 60

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One bootstrapped analysis; returns its fit's IF table session and
    * the classes each call compiled. */
  private def analysis(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.SparkSession, Seq[(String, Long)]) = {
    val counts = Seq.newBuilder[(String, Long)]
    def call[T](name: String)(f: => T): T = {
      val c0 = compiles
      val r = f
      counts += name -> (compiles - c0)
      r
    }
    val pp = call("Preprocess.run")(Preprocess.run(df, cfg))
    val fit = call("AttGt.fit")(AttGt.fit(pp, estMethod = "dr", bstrap = true))
    val p = call("Aggte.prepare")(Aggte.prepare(fit))
    val bs = Some(true)
    call("Aggte.simple")(Aggte.simple(p, bstrap = bs))
    call("Aggte.group")(Aggte.group(p, bstrap = bs))
    call("Aggte.calendar")(Aggte.calendar(p, bstrap = bs))
    call("Aggte.dynamic")(Aggte.dynamic(p, bstrap = bs))
    val session = fit.ifTable.sparkSession
    p.units.unpersist(); fit.unpersist(); pp.unpersist()
    (session, counts.result())
  }

  test("a repeated analysis compiles no new code; the first fits the budget") {
    val df = staggered(spark, nUnits = 200, noise = 0.1)
    val (s1, first) = analysis(df)
    val (s2, second) = analysis(df)
    def show(cs: Seq[(String, Long)]) = cs.map { case (c, n) => s"$c $n" }
      .mkString(s"total ${cs.map(_._2).sum}: ", ", ", "")
    val report = s"first analysis ${show(first)}; second ${show(second)}"
    info(report)
    assert(s1 eq s2,
      s"two fits on one caller session ran on different engine sessions; $report")
    assert(first.map(_._2).sum <= FirstBudget, report)
    assert(second.map(_._2).sum == 0, report)
  }
}
