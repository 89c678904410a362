package didbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.did._
import graft.sources.PanelSource

/** DiD engine benchmark: one closed-loop caller drives the `graft.did`
  * public API on a seeded panel and prints the metrics as JSON.
  *
  * Usage (the JVM side of `didbench/run.py`):
  * `didbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <run dir> [--trace-file <path>]`
  *
  * --trace 0 prints the end-to-end metrics; --trace 1 runs every op twice,
  * untraced and traced, and prints the per-layer metrics of the traced
  * calls plus the traced/untraced ratio of the op median.
  */
object Main {

  /** Outcome of one op: the values every op must reproduce, each under
    * the key of the input that determines it, and the failed truth
    * checks. */
  final case class Outcome(values: Seq[(String, Array[Double])],
      failures: Seq[String])

  /** The calls an op makes, each wrapped in a span when traced. */
  final class Calls(tracer: Option[Tracer]) {
    def apply[T](name: String)(f: => T): T = tracer match {
      case Some(t) => t.span(name)(f)
      case None => f
    }
    def traced: Boolean = tracer.nonEmpty
  }

  /** One workload: how its panel is built, what set-up leaves behind for
    * the timed ops, and one op. */
  trait Workload {
    def spec: Panels.Spec
    type State
    /** Set-up after the panel is written: warm-up op(s) included. */
    def setUp(df: DataFrame, runner: Runner): State
    def op(i: Long, st: State, calls: Calls): Outcome
    def release(st: State): Unit
  }

  /** Spans the traced run reports; a layer a workload never calls
    * reports 0. */
  val Layers: Seq[String] = Seq("Preprocess.run", "AttGt.fit", "MBoot.run",
    "Aggte.prepare", "Aggte.simple", "Aggte.group", "Aggte.calendar",
    "Aggte.dynamic", "Aggte.dynamic_cband", "PreTest.wald")

  val TruthSe = 5.0
  val RelTol = 1e-9
  val AbsTol = 1e-12
  val WaldMinP = 1e-6

  /** Intercept-only, doubly robust, B = 1000 (the config defaults). */
  val Config: AttGtConfig =
    AttGtConfig(yname = "y", tname = "t", idname = "id", gname = "g")

  // ---- truth checks --------------------------------------------------

  private def within(what: String, est: Double, se: Double,
      truth: Double): Option[String] =
    if (!(se > 0) || !(math.abs(est - truth) <= TruthSe * se))
      Some(f"$what: estimate $est%.5f se $se%.5f truth $truth%.1f")
    else None

  /** Overall ATT within 5 SE of the effect; per-element estimates within
    * 5 SE of their truth (event time e < 0 has truth 0). */
  def checkAggte(r: AggteResult): Seq[String] = {
    val elems = r.egt.indices.flatMap { i =>
      val truth = if (r.typec == "dynamic" && r.egt(i) < 0) 0.0 else Panels.Effect
      within(s"${r.typec}[${r.egt(i)}]", r.attEgt(i), r.seEgt(i), truth)
    }
    within(s"${r.typec}.overall", r.overallAtt, r.overallSe,
      Panels.Effect).toSeq ++ elems
  }

  def aggteValues(r: AggteResult): Array[Double] =
    (Seq(r.overallAtt, r.overallSe, r.critValEgt) ++ r.egt ++ r.attEgt ++
      r.seEgt).toArray

  def fitValues(f: AttGtFit): Array[Double] =
    f.att ++ f.se ++ f.seAnalytic :+ f.critVal

  /** Element-wise relative difference above RelTol (AbsTol below which
    * two values count as equal zeros). */
  def mismatch(ref: Array[Double], got: Array[Double]): Option[String] =
    if (ref.length != got.length)
      Some(s"output length ${got.length} != first op ${ref.length}")
    else ref.indices.find { i =>
      val (a, b) = (ref(i), got(i))
      !(a.isNaN && b.isNaN) &&
        !(math.abs(a - b) <= math.max(AbsTol, RelTol * math.max(a.abs, b.abs)))
    }.map(i => s"value $i: ${got(i)} != first op ${ref(i)}")

  // ---- workloads -------------------------------------------------------

  /** Full bootstrapped analysis of the panel: Preprocess -> AttGt ->
    * Aggte.prepare -> simple, group, calendar, dynamic. A traced fit runs
    * as `AttGt.fit(bstrap=false)` + `MBoot.run` with the fit's arguments,
    * which is the same work split in two spans; the first-op comparison
    * proves the results identical. */
  final class Analysis(val spec: Panels.Spec) extends Workload {
    type State = DataFrame

    /** Two warm-up ops: after one, the next op of the JVM is still
      * 15-30% slower than the ones after it. */
    def setUp(df: DataFrame, runner: Runner): DataFrame = {
      runner.reference(analyse(df, new Calls(None), Some(runner)))
      runner.reference(analyse(df, new Calls(None), None))
      df
    }

    def op(i: Long, df: DataFrame, calls: Calls): Outcome =
      analyse(df, calls, None)

    def release(df: DataFrame): Unit = ()

    private def analyse(df: DataFrame, c: Calls,
        setUp: Option[Runner]): Outcome = {
      val pp = c("Preprocess.run")(Preprocess.run(df, Config))
      val fit =
        if (c.traced) {
          val f0 = c("AttGt.fit")(AttGt.fit(pp, "dr", bstrap = false))
          val b = c("MBoot.run")(MBoot.run(f0.ifTable, f0.cells.length,
            pp.n, Config.biters, Config.alp, Config.seed))
          f0.copy(se = b.se, critVal = b.critVal, bstrap = true)
        } else c("AttGt.fit")(AttGt.fit(pp, "dr", bstrap = true))
      setUp.foreach(_.ifRows = fit.ifTable.count())
      val p = c("Aggte.prepare")(Aggte.prepare(fit))
      val bs = Some(true)
      val results = Seq(
        c("Aggte.simple")(Aggte.simple(p, bstrap = bs)),
        c("Aggte.group")(Aggte.group(p, bstrap = bs)),
        c("Aggte.calendar")(Aggte.calendar(p, bstrap = bs)),
        c("Aggte.dynamic")(Aggte.dynamic(p, bstrap = bs)))
      p.units.unpersist()
      fit.unpersist()
      pp.unpersist()
      Outcome(Seq("fit_large" -> (fitValues(fit) ++
        results.flatMap(aggteValues))), results.flatMap(checkAggte))
    }
  }

  /** Read side: one persisted bootstrapped fit, one request per op. */
  final class Serve(val spec: Panels.Spec, seed: Long) extends Workload {
    type State = Aggte.Prep

    sealed trait Req { def key: String }
    case object Simple extends Req { val key = "simple" }
    case object Group extends Req { val key = "group" }
    case object Calendar extends Req { val key = "calendar" }
    final case class Dyn(minE: Int, maxE: Int) extends Req {
      val key = "dynamic"
    }
    case object Wald extends Req { val key = "wald" }
    case object DynCband extends Req { val key = "dynamic_cband" }

    /** Every block of 20 requests holds the fixed mix exactly: 3 simple,
      * 3 group, 3 calendar, 4 dynamic over a seeded window inside
      * [-8, 8] and 3 Wald pre-tests, all analytic, and 4 bootstrapped
      * dynamic with a uniform band (15/15/15/20/15/20%). The seed sets
      * only the order within each block and the windows, so runs of
      * different seeds time the same mix. */
    private val block: Vector[Req] =
      Vector.fill(3)(Simple) ++ Vector.fill(3)(Group) ++
        Vector.fill(3)(Calendar) ++ Vector.fill(4)(Dyn(0, 0)) ++
        Vector.fill(3)(Wald) ++ Vector.fill(4)(DynCband)

    /** Request `i` of the seeded sequence. */
    private def request(i: Long): Req = {
      val order = block.toArray
      val rng = new Panels.Rng(Panels.mix(Panels.mix(seed) ^ (i / order.length)))
      for (j <- order.length - 1 to 1 by -1) { // Fisher-Yates
        val k = rng.below(j + 1)
        val x = order(j); order(j) = order(k); order(k) = x
      }
      order((i % order.length).toInt) match {
        case Dyn(_, _) =>
          val w = new Panels.Rng(Panels.mix(Panels.mix(~seed) ^ i))
          Dyn(-w.below(9), w.below(9))
        case r => r
      }
    }

    def setUp(df: DataFrame, runner: Runner): Aggte.Prep = {
      val pp = Preprocess.run(df, Config)
      val fit = AttGt.fit(pp, "dr", bstrap = true)
      runner.ifRows = fit.ifTable.count()
      val p = Aggte.prepare(fit)
      // full window: the per-event-time reference of every dynamic request
      runner.reference(serve(Dyn(-8, 8), p, new Calls(None)))
      (0 until block.length).foreach(i =>
        runner.reference(serve(request(i), p, new Calls(None))))
      p
    }

    /** Timed requests follow the warm-up block in the sequence. */
    def op(i: Long, p: Aggte.Prep, calls: Calls): Outcome =
      serve(request(block.length + i), p, calls)

    def release(p: Aggte.Prep): Unit = {
      p.units.unpersist()
      p.fit.unpersist()
      p.fit.pp.unpersist()
    }

    private def serve(r: Req, p: Aggte.Prep, c: Calls): Outcome = {
      val no = Some(false)
      def agg(res: AggteResult) =
        Outcome(Seq(r.key -> aggteValues(res)), checkAggte(res))
      r match {
        case Simple => agg(c("Aggte.simple")(Aggte.simple(p, bstrap = no)))
        case Group => agg(c("Aggte.group")(Aggte.group(p, bstrap = no)))
        case Calendar =>
          agg(c("Aggte.calendar")(Aggte.calendar(p, bstrap = no)))
        case Dyn(lo, hi) =>
          // (ATT, SE) of event time e do not depend on the window, so each
          // is compared with e of the full-window request in set-up; the
          // window's overall ATT is held to the truth check only
          val res = c("Aggte.dynamic")(Aggte.dynamic(p,
            minE = lo, maxE = hi, bstrap = no))
          Outcome(res.egt.indices.map(i => s"dynamic[e=${res.egt(i)}]" ->
            Array(res.attEgt(i), res.seEgt(i), res.critValEgt)),
            checkAggte(res))
        case DynCband => agg(c("Aggte.dynamic_cband")(Aggte.dynamic(p,
          bstrap = Some(true), cband = Some(true))))
        case Wald =>
          val w = c("PreTest.wald")(PreTest.wald(p.fit))
          Outcome(Seq(r.key -> (Array(w.w, w.pval, w.df.toDouble) ++ w.att)),
            if (w.pval >= WaldMinP) Nil
            else Seq(f"wald: pre-trend p-value ${w.pval}%.3g < $WaldMinP"))
      }
    }
  }

  /** Sizes are shrunk from the paper-scale job so that set-up plus a
    * 16 s timed phase fit in under a minute on 4 cores; the grid (10
    * periods, 4 cohorts, 40% never treated) and the request mix are
    * fixed. */
  def workload(name: String, seed: Long): Workload = name match {
    case "fit_large" => new Analysis(Panels.Spec(4000, 10, 4, 0.4))
    case "aggte_serve" => new Serve(Panels.Spec(4000, 10, 4, 0.4), seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (fit_large | aggte_serve)")
  }

  // ---- runner ----------------------------------------------------------

  /** First-op references and the failure count of a run. */
  final class Runner {
    val refs = mutable.HashMap.empty[String, Array[Double]]
    var ifRows = -1L
    var failed = 0L
    var attempted = 0L

    /** Records each value set of `o` against the run's first op on the
      * same input and returns whether all passed; failures are counted,
      * never retried. */
    def check(o: Outcome): Boolean = {
      val problems = o.failures ++ o.values.flatMap { case (k, vs) =>
        mismatch(refs.getOrElseUpdate(k, vs), vs).map(m => s"$k $m")
      }
      problems.take(3).foreach(p => System.err.println(s"[didbench] FAIL $p"))
      problems.isEmpty
    }

    /** Checks a warm-up op of the set-up; a failure there leaves no
      * trustworthy reference, so it ends the run without a result. */
    def reference(o: Outcome): Unit =
      if (!check(o)) throw new IllegalStateException(
        "a warm-up op failed its checks")

    /** Runs one timed op; returns its wall time in seconds. */
    def timedOp(f: => Outcome): Double = {
      attempted += 1
      val t0 = System.nanoTime()
      val out = try Some(f) catch {
        case NonFatal(e) =>
          System.err.println(s"[didbench] FAIL op threw: $e")
          None
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (!out.exists(check)) failed += 1
      dt
    }
  }

  /** Old-generation heap used right after each GC, maximum while active. */
  final class OldGenPeak extends NotificationListener {
    @volatile var active = false
    @volatile var peakBytes = 0L
    private def isOld(pool: String) =
      pool.contains("Old") || pool.contains("Tenured")
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (active && n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach {
          case (pool, u) if isOld(pool) =>
            synchronized { peakBytes = math.max(peakBytes, u.getUsed) }
          case _ =>
        }
      }
    /** Collects, then starts tracking from the post-GC old-gen usage. */
    def start(): Unit = {
      System.gc()
      peakBytes = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => isOld(p.getName)).flatMap(p => Option(p.getCollectionUsage))
        .map(_.getUsed).sum
      active = true
    }
  }

  // ---- statistics and output -------------------------------------------

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }

  private def loadAvg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq
      finally src.close()
    } catch {
      case NonFatal(_) =>
        Seq(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
    }

  /** (steal, total) CPU ticks since boot, from the first line of
    * /proc/stat; None where it does not exist. */
  private def cpuTicks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val t = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      Some((if (t.length > 7) t(7) else 0L, t.take(8).sum))
    } catch { case NonFatal(_) => None }

  // ---- main --------------------------------------------------------------

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, traceFile: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"),
      kv.getOrElse("--trace-file", s"${need("--work")}/trace.json"))
  }

  /** Exits non-zero on any error: a live SparkContext would otherwise
    * keep the JVM running after `main` throws. */
  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        sys.exit(1)
    }

  def run(a: Args): Unit = {
    val wl = workload(a.workload, a.seed)
    val nproc = Runtime.getRuntime.availableProcessors
    val loadStart = loadAvg()

    // Set-up is one span, session start -> first timed op: starting the
    // session, generating the panel and writing it once, and the warm-up.
    val s0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("didbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (a.trace) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None

    val session = since(s0)
    val runner = new Runner
    val panelPath = s"${a.work}/panel.parquet"
    val w0 = System.nanoTime()
    PanelSource.writeParquet(
      Panels.generate(spark, wl.spec, a.seed, nproc), panelPath)
    val write = since(w0)
    val u0 = System.nanoTime()
    val st = wl.setUp(PanelSource.readParquet(spark, panelPath), runner)
    val warmup = since(u0)
    val setup = since(s0)

    // Timed phase: a closed loop of one caller.
    val heap = new OldGenPeak
    heap.start()
    val ticks0 = cpuTicks()
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val plain = new Calls(None)
    val spanned = new Calls(tracer)
    val t0 = System.nanoTime()
    var i = 0L
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < a.seconds) {
      tracer match {
        case None => untraced += runner.timedOp(wl.op(i, st, plain))
        case Some(_) =>
          // same request, both ways, alternating which goes first
          if (i % 2 == 0) {
            untraced += runner.timedOp(wl.op(i, st, plain))
            traced += runner.timedOp(wl.op(i, st, spanned))
          } else {
            traced += runner.timedOp(wl.op(i, st, spanned))
            untraced += runner.timedOp(wl.op(i, st, plain))
          }
      }
      i += 1
    }
    val wall = elapsed
    heap.active = false
    val loadEnd = loadAvg()
    // share of CPU time the hypervisor gave to other guests while timing
    val steal = for ((st0, tt0) <- ticks0; (st1, tt1) <- cpuTicks() if tt1 > tt0)
      yield (st1 - st0).toDouble / (tt1 - tt0)
    val fingerprint =
      Panels.fingerprint(PanelSource.readParquet(spark, panelPath))
    wl.release(st)
    val sparkVersion = spark.version
    spark.stop() // drains the listener bus before spans are read

    val context = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "nproc" -> nproc,
      "load_start" -> loadStart, "load_end" -> loadEnd,
      "cpu_steal_share" -> steal,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> sparkVersion,
      "units" -> wl.spec.units, "periods" -> wl.spec.periods,
      "cohorts" -> wl.spec.cohorts, "rows" -> wl.spec.rows,
      "row_fingerprint" -> fingerprint, "if_rows" -> runner.ifRows,
      "setup_s" -> setup, "session_s" -> session,
      "write_panel_s" -> write, "warmup_s" -> warmup,
      "ops" -> untraced.length,
      "op_s" -> untraced.map(x => math.rint(x * 1e4) / 1e4),
      "error_rate" -> runner.failed.toDouble / runner.attempted)
    println(json(Map("context" -> context)))

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setup, "s"),
        ("op_s.p50", quantile(untraced.toSeq, 0.5), "s"),
        ("op_s.p90", quantile(untraced.toSeq, 0.9), "s"),
        ("ops_per_s", untraced.length / wall, "1/s"))
      case Some(t) =>
        val spans = t.metrics
        writeTrace(a, context, spans)
        val perLayer = for {
          layer <- Layers
          (m, unit) <- Tracer.Metrics
        } yield {
          val xs = spans.filter(_._1 == layer).map(_._2(m))
          (s"$layer.$m", if (xs.isEmpty) 0.0 else quantile(xs, 0.5), unit)
        }
        perLayer ++ Seq(
          ("AttGt.fit.if_rows", runner.ifRows.toDouble, "count"),
          ("heap_peak_mb", heap.peakBytes / 1e6, "MB"),
          ("trace_overhead", quantile(traced.toSeq, 0.5) /
            quantile(untraced.toSeq, 0.5), "ratio"))
    }
    println(json(Map(
      "correct" -> (runner.failed == 0),
      "attempted" -> runner.attempted,
      "failed" -> runner.failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)))
  }

  /** Writes every span of the traced run, with the run context, to
    * `--trace-file`. */
  private def writeTrace(a: Args, context: Map[String, Any],
      spans: Seq[(String, Map[String, Double])]): Unit = {
    val out = new java.io.File(a.traceFile)
    out.getAbsoluteFile.getParentFile.mkdirs()
    val body = json(Map("context" -> context,
      "spans" -> spans.map { case (n, m) => Map("name" -> n) ++ m }))
    java.nio.file.Files.write(out.toPath, body.getBytes("UTF-8"))
    System.err.println(s"[didbench] wrote ${spans.length} spans to $out")
  }
}
