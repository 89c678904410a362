package graft.did

import org.apache.spark.sql.SparkSession

/** Frozen end-to-end fixture: one seeded DGP run through the full
  * engine surface (ATT(g,t) with bootstrap, all four aggte types, and a
  * covariate run through the per-cell path), serialized as
  * labeled CSV lines at 10 significant digits.
  *
  * The reference repo cannot provide this pin — its committed notebook
  * outputs (`/root/reference/usage.ipynb` cell 2) depend on an
  * UNCOMMITTED input csv (`csdids/test_predid.py:22-26`, local `D:\`
  * path) — so the engine freezes its own seeded output instead:
  * `GoldenFixtureSpec` replays this computation and diffs against the
  * committed `src/test/resources/golden_attgt.txt` at 1e-9, guarding
  * every future refactor bit-for-bit up to aggregation-order jitter.
  *
  * Regenerate (only when semantics INTENTIONALLY change) with:
  * {{{ sbt "Test/runMain graft.did.GoldenFixture" }}}
  */
object GoldenFixture {

  val resourceName = "golden_attgt.txt"

  private def fmt(d: Double): String = f"$d%.10e"

  def lines(spark: SparkSession): Seq[String] = {
    val out = Seq.newBuilder[String]
    val data = TestPanels.staggered(spark)

    // run 1: intercept-only dr with multiplier bootstrap (seed 42,
    // biters 499) + every aggte type
    val pp1 = Preprocess.run(data, TestPanels.cfg.copy(biters = 499))
    val f1 = AttGt.fit(pp1, bstrap = true)
    f1.cells.indices.foreach { i =>
      val c = f1.cells(i)
      out += Seq("attgt_dr", c.g, c.tn, fmt(f1.att(i)),
        fmt(f1.seAnalytic(i)), fmt(f1.se(i)), f1.skipped(i)).mkString(",")
    }
    out += s"critval_dr,${fmt(f1.critVal)}"
    val prep = Aggte.prepare(f1)
    def emit(tag: String, r: AggteResult): Unit = {
      out += Seq(s"aggte_${tag}_overall", fmt(r.overallAtt),
        fmt(r.overallSe), fmt(r.critValEgt)).mkString(",")
      r.egt.indices.foreach { j =>
        out += Seq(s"aggte_$tag", r.egt(j), fmt(r.attEgt(j)),
          fmt(r.seEgt(j))).mkString(",")
      }
    }
    emit("simple", Aggte.simple(prep))
    emit("group", Aggte.group(prep))
    emit("calendar", Aggte.calendar(prep))
    emit("dynamic", Aggte.dynamic(prep))
    f1.unpersist(); pp1.unpersist()

    // run 2: covariate doubly-robust via the per-cell path
    val pp2 = Preprocess.run(data,
      TestPanels.cfg.copy(xfmla = Some("y ~ x1 + x2")))
    val f2 = AttGt.fit(pp2)
    f2.cells.indices.foreach { i =>
      val c = f2.cells(i)
      out += Seq("attgt_cov", c.g, c.tn, fmt(f2.att(i)),
        fmt(f2.seAnalytic(i)), f2.skipped(i)).mkString(",")
    }
    f2.unpersist(); pp2.unpersist()
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("golden-fixture")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val path = java.nio.file.Paths.get(
      "src/test/resources", resourceName)
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      (lines(spark).mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[golden] wrote $path")
    spark.stop()
  }
}
