package graft.did

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A result must not depend on how it was executed. One seeded panel is
  * analysed in full — fit, bootstrap, every aggregation, a bootstrapped
  * event study with a uniform band and the Wald pre-test — on both fit paths
  * (closed form, per-cell), each bootstrapped by unit and by cluster, and
  * every number is compared with a baseline run under: shuffle widths 1,
  * 7, 64 and Spark's default 200; the input in 1 partition or spread over
  * 16; and the unit id as a string instead of a number. */
class StoreInvarianceSpec extends AnyFunSuite with SparkSpec {
  import TestPanels._

  private val panel = staggered(spark, nUnits = 100, noise = 0.1, seed = 11L)
    .withColumn("clust", pmod(col("id"), lit(8)))

  /** Every number of one analysis, labelled. */
  private def numbers(df: DataFrame, c: AttGtConfig): Seq[(String, Double)] = {
    val pp = Preprocess.run(df, c)
    val fit = AttGt.fit(pp, "dr", bstrap = true)
    val p = Aggte.prepare(fit)
    def agg(tag: String, r: AggteResult): Seq[(String, Double)] =
      (Seq(r.overallAtt, r.overallSe, r.critValEgt) ++ r.attEgt ++ r.seEgt)
        .zipWithIndex.map { case (v, i) => s"$tag[$i]" -> v }
    val no = Some(false)
    val w = PreTest.wald(fit)
    // the fit's bootstrap draws its cells; the banded dynamic request
    // draws aggregated members (cells and weight influence) for its SEs
    // and its critical value
    val out =
      fit.att.zipWithIndex.map { case (v, i) => s"att[$i]" -> v } ++
        fit.seAnalytic.zipWithIndex.map { case (v, i) => s"seA[$i]" -> v } ++
        fit.se.zipWithIndex.map { case (v, i) => s"seB[$i]" -> v } ++
        Seq("critVal" -> fit.critVal) ++
        agg("simple", Aggte.simple(p, bstrap = no)) ++
        agg("group", Aggte.group(p, bstrap = no)) ++
        agg("calendar", Aggte.calendar(p, bstrap = no)) ++
        agg("dynamic", Aggte.dynamic(p, bstrap = no)) ++
        agg("dynamic(bstrap, cband)", Aggte.dynamic(p, bstrap = Some(true),
          cband = Some(true))) ++
        Seq("wald" -> w.w, "wald.p" -> w.pval)
    fit.unpersist(); pp.unpersist()
    out.toSeq
  }

  private def withShuffle[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, saved)
  }

  private val variants: Seq[(String, AttGtConfig => Seq[(String, Double)])] =
    Seq(1, 7, 64, 200).map(n => s"$n shuffle partitions" ->
      ((c: AttGtConfig) => withShuffle(n)(numbers(panel, c)))) ++ Seq(
      "input in 1 partition" -> ((c: AttGtConfig) => numbers(panel.coalesce(1), c)),
      "input over 16 partitions" ->
        ((c: AttGtConfig) => numbers(panel.repartition(16), c)),
      "string unit id" -> ((c: AttGtConfig) =>
        numbers(panel.withColumn("id", col("id").cast("string")), c)))

  private val base = cfg.copy(biters = 99)
  private val regimes = Seq(
    "closed form" -> base,
    "per-cell path" -> base.copy(xfmla = Some("y ~ x1")))

  for ((path, c0) <- regimes; clustered <- Seq(false, true)) {
    val c = if (clustered) c0.copy(clustervar = Some("clust")) else c0
    val how = if (clustered) "by cluster" else "by unit"
    test(s"$path, bootstrapped $how: every number agrees at 1e-12 under " +
        "any partitioning and unit id type") {
      val ref = numbers(panel, c)
      for ((variant, run) <- variants) {
        val got = run(c)
        assert(got.map(_._1) == ref.map(_._1), variant)
        got.zip(ref).foreach { case ((k, a), (_, b)) =>
          assert(a == b || (a.isNaN && b.isNaN) ||
            math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b)),
            s"$variant: $k $a vs $b")
        }
      }
    }
  }
}
