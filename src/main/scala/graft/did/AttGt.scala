package graft.did

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import breeze.linalg.DenseMatrix

/** One (g,t) cell definition, resolved at the driver from tlist/glist
  * (`csdids/ATTgt.py:287-331`). `n2val` feeds the not-yet-treated control
  * predicate `C = n1 | (n2 & n3)` (`:316-325`); `zeroCell` marks the
  * universal-base-period row that is emitted as ATT=0 without estimation.
  */
final case class CellDef(
    idx: Int, g: Double, tn: Double, tpre: Double,
    postTreat: Int, n2val: Double, zeroCell: Boolean)

/** Fitted ATT(g,t) surface plus the distributed influence-function store.
  *
  * `store` holds the influence function unit-major, one persisted row per
  * unit with its cells and values ([[IFStore]]): the sparse equivalent of
  * the reference's dense n x K driver matrix (`csdids/ATTgt.py:273,476`),
  * which no driver could hold at scale. The job that materializes it
  * also folds the fit's sufficient statistics, from which every
  * aggregation and the pre-test are answered on the driver.
  * `ifTable` is the long-form view of the same rows, one (rowid, cell,
  * inf) row per unit and cell.
  */
final case class AttGtFit(
    pp: PreprocessedPanel,
    cells: Vector[CellDef],
    att: Array[Double],
    post: Array[Int],
    skipped: Array[Boolean],
    store: IFStore,
    seAnalytic: Array[Double],
    se: Array[Double],
    critVal: Double,
    estMethod: String,
    bstrap: Boolean) {

  /** Columns: rowid STRING, cell INT, inf DOUBLE. */
  lazy val ifTable: DataFrame = store.longForm

  /** Result surface as a typed Dataset-backed DataFrame, correct
    * lower/upper orientation (reference swaps them, SURVEY.md §7.5b). */
  def resultDF: DataFrame = {
    val spark = pp.df.sparkSession
    import spark.implicits._
    cells.indices.map { i =>
      val lo = att(i) - critVal * se(i)
      val hi = att(i) + critVal * se(i)
      AttGtCell(cells(i).g, cells(i).tn, att(i), post(i), se(i), critVal,
        lo, hi, sig = !hi.isNaN && !lo.isNaN && (hi < 0 || lo > 0),
        skipped = skipped(i))
    }.toDF()
  }

  def unpersist(): Unit = store.unpersist()
}

/** Driver-orchestrated in the reference (one growing logical plan and >=3
  * Spark jobs per (g,t) cell — SURVEY.md §3.2); here the whole surface is
  * computed in a constant number of Spark jobs, on one of two paths
  * chosen from the input alone:
  *
  *  - closed form: a built-in estimator in the repeated-cross-section
  *    regime with an intercept-only formula. Per-(cohort, period) sums in
  *    one pass, the 2x2 arithmetic on the driver, and the per-row
  *    influence function from per-cell constants held in the task
  *    closure ([[fitRcDistributed]]);
  *  - per cell: every other fit (covariates in either regime, the
  *    balanced panel, custom estimators). The rows are shuffled once by
  *    cell and each cell is estimated inside its task with
  *    [[CellEstimators]] or the caller's estimator, the way R `did` and
  *    the reference estimate one 2x2 per cell (`csdids/ATTgt.py:391-432`),
  *    without collecting a cell's rows out of Spark ([[fitPerCell]]).
  *
  * Both paths end in the same job: the rows' influence entries and the
  * units' weights, cohorts and clusters are shuffled by rowid and folded
  * into one row per unit, the persisted [[IFStore]], whose job also folds
  * the fit's sufficient statistics and, bootstrapped by unit, its draws.
  */
object AttGt {

  def fit(
      pp: PreprocessedPanel,
      estMethod: String = "dr",
      basePeriod: String = "varying",
      bstrap: Boolean = false,
      customRc: Option[RcCellEstimator] = None,
      customPanel: Option[PanelCellEstimator] = None): AttGtFit = {
    require(basePeriod == "varying" || basePeriod == "universal",
      s"basePeriod must be varying|universal: $basePeriod")
    require(Set("dr", "reg", "ipw").contains(estMethod) ||
      customRc.nonEmpty || customPanel.nonEmpty,
      s"estMethod must be dr|reg|ipw or provide customRc/customPanel: $estMethod")
    // A custom estimator must match the regime — silently falling back to
    // the built-in (and labeling its output as the user's estimator)
    // would be worse than an error.
    require(!pp.panel || customRc.isEmpty,
      "customRc is a repeated-cross-section estimator but this fit runs " +
        "in the balanced-panel regime; pass customPanel instead or set " +
        "allowUnbalancedPanel=true")
    require(pp.panel || customPanel.isEmpty,
      "customPanel is a balanced-panel estimator but this fit runs in " +
        "the repeated-cross-section regime; pass customRc instead or set " +
        "allowUnbalancedPanel=false")

    // Every internal pass here reduces to K = #cells rows or shuffles
    // once by cell and once by unit:
    // AQE has nothing to re-plan but adds a planning round and extra jobs
    // to each of them. So the fit plans on the caller session's engine
    // session (AQE off, the caller's conf otherwise), never touching the
    // caller's conf. The engine session is made once per caller session
    // and reused, so a repeated fit finds its generated code cached
    // (SessionScope).
    val ppScoped = pp.copy(
      df = org.apache.spark.sql.graftbridge.SessionScope.onEngine(pp.df))
    fitInner(ppScoped, estMethod, basePeriod, bstrap, customRc, customPanel)
  }

  private def fitInner(
      pp: PreprocessedPanel,
      estMethod: String,
      basePeriod: String,
      bstrap: Boolean,
      customRc: Option[RcCellEstimator],
      customPanel: Option[PanelCellEstimator]): AttGtFit = {
    val cells = buildCells(pp, basePeriod)
    val k = cells.length
    // the per-unit vector of the fit's statistics; a bootstrap needs them
    // within their cap, the ATT(g,t) and their analytic SEs do not
    val layout = new ZLayout(k, pp.glist.toArray)
    if (bstrap) {
      MBoot.requireBiters(pp.config.biters)
      layout.overCap(pp.config.biters).foreach(e =>
        throw new IllegalArgumentException(e))
    }
    // both paths end with the store persisted and materialized, and the
    // per-cell sums of squared influence values in hand: the closed form
    // folds them from the store's units, the per-cell path sums each
    // cell in its task, in an order no partitioning changes
    val (att, post, skipped, store, sumSq) =
      if (!pp.panel && pp.config.interceptOnly && customRc.isEmpty) {
        val (a, p, s, st) = fitRcDistributed(pp, cells, estMethod, layout,
          bstrap)
        (a, p, s, st, st.stats.sumSq)
      } else fitPerCell(pp, cells, estMethod, customRc, customPanel, layout,
        bstrap)

    // Analytic per-cell SE: sqrt(mean(IF^2)/n) over all n units (absent
    // units contribute IF=0)
    val seA = sumSq.map(ss => math.sqrt(ss) / pp.n)

    val (se, crit) =
      if (bstrap) {
        // the cells are z's first K coordinates
        val d = MBoot.drawsOf(pp, store)
        val r = MBoot.finish(d.d.map(_.take(k)), k, d.n, pp.config.alp)
        (r.se, r.critVal)
      } else (Array.fill(k)(0.0), 0.0)

    AttGtFit(pp, cells, att, post, skipped, store, seA, se, crit,
      estMethod, bstrap)
  }

  /** The store of `pp`'s fragments: a clustered fit carries each unit's
    * cluster id (`clustervar` unset or equal to `idname` bootstraps by
    * unit, as the reference drops idname from clustervars,
    * `csdids/mboot.py:88-90`), and a balanced panel takes each unit's
    * weight and cohort from its first-period row. The store's job folds
    * the draws of a fit bootstrapped by unit; a clustered one needs the
    * cluster sizes that job produces, and draws in one more pass. */
  private def buildStore(pp: PreprocessedPanel, layout: ZLayout,
      entries: Option[DataFrame], lookup: IFStore.Lookup,
      bstrap: Boolean): IFStore = {
    val cfg = pp.config
    val cv = cfg.clustervar.filter(_ != cfg.idname)
    val rows = IFStore.rowFragments(pp.df, cv.fold(lit(null))(col))
    IFStore.build(entries.fold(rows)(e => rows.union(IFStore.entryFragments(e))),
      layout, if (pp.panel) Some(pp.tlist.head) else None, lookup, cv.nonEmpty,
      layout.overCap(cfg.biters),
      Option.when(bstrap && cv.isEmpty)(MBoot.Boot(cfg.biters, cfg.seed, None)),
      pp.n)
  }

  /** (g,t) grid with the varying/universal base-period logic of
    * `csdids/ATTgt.py:294-331`. */
  private[did] def buildCells(
      pp: PreprocessedPanel, basePeriod: String): Vector[CellDef] = {
    val tlist = pp.tlist
    val anticipation = pp.config.anticipation.toDouble
    val (tlistLen, tfac) =
      if (basePeriod != "universal") (tlist.length - 1, 1) else (tlist.length, 0)
    val out = Vector.newBuilder[CellDef]
    var idx = 0
    for (g <- pp.glist; tI <- 0 until tlistLen) {
      val tn = tlist(tI + tfac)
      var pret = tI
      // NB: the reference adjusts the base only for `g < tn`
      // (`csdids/ATTgt.py:299`); the R `did` original adjusts for every
      // post period (`t >= g`). The two differ only for the g == tn cell
      // under anticipation > 0 — we follow the R intended semantics
      // (SURVEY.md §7.5), identical to the reference at anticipation = 0.
      if (basePeriod == "universal" || g <= tn) {
        val candidates = tlist.indices.filter(s => tlist(s) + anticipation < g)
        if (candidates.isEmpty)
          throw new IllegalArgumentException(
            s"There are no pre-treatment periods for the group first treated at $g")
        pret = candidates.last
      }
      val postTreat = if (g <= tn) 1 else 0
      // Universal base: the base period itself gets an ATT=0 row
      // (intended semantics of `csdids/ATTgt.py:305-307`).
      val zero = basePeriod == "universal" && tlist(pret) == tn
      val n2val = tlist(math.max(tI, pret) + tfac) + anticipation
      out += CellDef(idx, g, tn, tlist(pret), postTreat, n2val, zero)
      idx += 1
    }
    out.result()
  }

  /** Distributed intercept-only path: per-cell sufficient statistics, then
    * closed-form ATT and per-row influence function. With intercept-only
    * covariates the Sant'Anna-Zhao DR estimator collapses to the weighted
    * 2x2 difference-in-means and its influence function to
    * `sign * w * (y - mu_dt) * ncell / sw_dt` per (D,post) bucket; all
    * propensity/outcome-regression estimation-effect corrections vanish.
    *
    * A cell's four (D, post) buckets are unions of (cohort, period)
    * groups of rows, so the statistics come from one pass of per-group
    * sums ([[groupSums]]). The store's job then shuffles the rows by
    * rowid and maps each to its cells' entries through a driver-built
    * (cohort, period) -> cells lookup held in the task closure.
    */
  private def fitRcDistributed(
      pp: PreprocessedPanel, cells: Vector[CellDef], estMethod: String,
      layout: ZLayout, bstrap: Boolean)
      : (Array[Double], Array[Int], Array[Boolean], IFStore) = {
    val groups = Phase(pp.df.sparkSession.sparkContext, "AttGt.fit/groupSums") {
      groupSums(pp.df)
    }
    val cohorts = groups.keys.map(_._1).toVector.distinct.sorted
    val nyt = pp.config.controlGroup == "notyettreated"
    // the control cohorts of a cell: never treated, plus (not-yet-treated
    // control group) the cohorts first treated after n2val, like longForm
    def controls(c: CellDef): Vector[Double] = cohorts.filter(gc =>
      gc == 0.0 || (nyt && gc > c.n2val && gc != c.g))
    // a cell's buckets: (cohorts, period) for (1,1), (1,0), (0,1), (0,0)
    def buckets(c: CellDef): Seq[(Seq[Double], Double)] = {
      val ctl = controls(c)
      Seq((Seq(c.g), c.tn), (Seq(c.g), c.tpre), (ctl, c.tn), (ctl, c.tpre))
    }
    // (count, sum w1, sum w1 * yy) of one bucket, cohorts in sorted order
    def bucketSums(gs: Seq[Double], t: Double): Array[Double] =
      gs.flatMap(g => groups.get((g, t)))
        .foldLeft(Array(0.0, 0.0, 0.0))((a, b) =>
          Array(a(0) + b(0), a(1) + b(1), a(2) + b(2)))

    val att = Array.fill(cells.length)(0.0)
    val post = Array.fill(cells.length)(0)
    val skipped = Array.fill(cells.length)(false)
    // per-cell IF constants: (mu11, mu10, mu01, mu00, k11, k10, k01, k00)
    // where IF contribution of a row in bucket dt = k_dt * w * (y - mu_dt)
    val consts = Array.fill(cells.length)(
      (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))

    cells.filterNot(_.zeroCell).foreach { c =>
      val i = c.idx
      val Seq(b11, b10, b01, b00) = buckets(c).map((bucketSums _).tupled)
      if (Seq(b11, b10, b01, b00).exists(_(0) == 0.0)) {
        // degenerate-cell skip, ATT=0/post=0 like add_att_data()
        // (`csdids/ATTgt.py:400-422`); also a cell with no rows at all
        skipped(i) = true
      } else {
        val ncell = b11(0) + b10(0) + b01(0) + b00(0)
        val w11 = b11(1); val w10 = b10(1); val w01 = b01(1); val w00 = b00(1)
        val mu11 = b11(2) / w11; val mu10 = b10(2) / w10
        val mu01 = b01(2) / w01; val mu00 = b00(2) / w00
        att(i) = (mu11 - mu01) - (mu10 - mu00)
        post(i) = c.postTreat
        if (estMethod == "dr" || estMethod == "ipw") {
          // intercept-only dr and ipw share this closed form: the
          // propensity is constant, all estimation-effect terms vanish
          consts(i) = (mu11, mu10, mu01, mu00,
            ncell / w11, -ncell / w10, -ncell / w01, ncell / w00)
        } else { // reg: same treated terms; control terms scaled by the
          // treated post/pre shares rho1/rho0 (see RegDidRc intercept form)
          val rho1 = w11 / (w11 + w10)
          val rho0 = w10 / (w11 + w10)
          consts(i) = (mu11, mu10, mu01, mu00,
            ncell / w11, -ncell / w10, -rho1 * ncell / w01, rho0 * ncell / w00)
        }
      }
    }

    // (cohort, period) -> (cell, k, mu) of every live cell whose
    // buckets hold the group
    val lookup: IFStore.Lookup =
      cells.filterNot(c => c.zeroCell || skipped(c.idx)).flatMap { c =>
        val k = consts(c.idx)
        val kmu = Seq((k._5, k._1), (k._6, k._2), (k._7, k._3), (k._8, k._4))
        buckets(c).zip(kmu).flatMap { case ((gs, t), (kd, mu)) =>
          gs.map(g => ((g, t), (c.idx, kd, mu)))
        }
      }.groupMap(_._1)(_._2).map { case (gt, es) =>
        gt -> ((es.map(_._1).toArray, es.map(_._2).toArray, es.map(_._3).toArray))
      }

    // The store SUMS entries per (unit, cell): in the default
    // unbalanced-panel-as-RC regime rowid := unit id, so a unit's pre-
    // and post-period rows in the same cell make one unit-level IF entry
    // (n = #units; sum(inf^2) SEs depend on it).
    (att, post, skipped, buildStore(pp, layout, None, lookup, bstrap))
  }

  /** Row count, sum of `w1` and sum of `w1 * yy` per (cohort `gg`,
    * period `tt`) group of `df`, in one Spark job that folds each
    * partition into a driver-side map (no shuffle and no generated
    * aggregation code). Partitions are added in partition order, so a
    * rerun is bit-identical. Rows with a null cohort or period belong to
    * no cell and are left out; `Preprocess` keeps no row with a null
    * weight or outcome. */
  private def groupSums(df: DataFrame): Map[(Double, Double), Array[Double]] = {
    val parts = df.select("tt", "yy", "gg", "rowid", "w1").queryExecution.toRdd
      .mapPartitions { rows =>
        val m = scala.collection.mutable.LinkedHashMap
          .empty[(Double, Double), Array[Double]]
        rows.foreach { r =>
          if (!r.isNullAt(2) && !r.isNullAt(0)) {
            require(!r.isNullAt(1) && !r.isNullAt(4), NullRole)
            val a = m.getOrElseUpdate((r.getDouble(2), r.getDouble(0)),
              new Array[Double](3))
            a(0) += 1
            a(1) += r.getDouble(4)
            a(2) += r.getDouble(4) * r.getDouble(1)
          }
        }
        Iterator.single(m.toMap)
      }.collect()
    parts.foldLeft(Map.empty[(Double, Double), Array[Double]]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (key, v)) =>
        a.updated(key, a.get(key).fold(v)(u => Array.tabulate(3)(j => u(j) + v(j))))
      }
    }
  }

  /** Why a row with a null role value fails a fit: `Preprocess.run`
    * keeps complete cases only, so such a row never reaches a cell of a
    * preprocessed panel. */
  private[did] val NullRole =
    "a row with a null rowid, outcome, weight or covariate reached a cell; " +
      "Preprocess.run keeps complete cases only"

  /** Largest working set one cell's estimation may hold, in doubles: the
    * cell's own arrays, rows x (p + 4) (outcome, period, treatment,
    * weight and p covariates). The estimators' temporaries are a small
    * multiple of it, all in the memory of the one task that estimates
    * the cell. 2^25 doubles is 256 MiB: ~5.6M rows per cell at p = 2. */
  private[did] val MaxCellDoubles: Long = 1L << 25

  /** Fails the fit when a cell reaching `rows` rows with `p` covariates
    * would hold more than `maxDoubles` doubles. [[CellRows]] checks it as
    * it gathers each row, so an oversized cell fails before it is held. */
  private[did] def checkCellSize(c: CellDef, rows: Long, p: Int,
      maxDoubles: Long = MaxCellDoubles): Unit = {
    val doubles = rows * (p + 4)
    def mib(d: Long) = f"${d * 8 / 1048576.0}%.1f MiB"
    require(doubles <= maxDoubles,
      s"cell (g=${c.g}, t=${c.tn}) reaches $rows rows with p=$p covariates: " +
        s"$doubles doubles (${mib(doubles)}), over the per-cell cap of " +
        s"$maxDoubles (${mib(maxDoubles)}; each cell is estimated in the " +
        "memory of one task)")
  }

  /** Per-cell path: every fit but the intercept-only closed form.
    *
    * A row belongs to the cells whose post or base period it sits in and
    * whose treated cohort or control set holds its cohort: never treated,
    * plus (not-yet-treated control group) the cohorts first treated after
    * the cell's `n2val`. That is the R `did` cell sample. The reference's
    * rc filter `GmC & post | tPret` (`csdids/ATTgt.py:388`) parses as
    * `(GmC & post) | tPret` under Python precedence, letting EVERY
    * base-period row (any cohort) into the control-pre bucket — an
    * operator-precedence bug contradicting its own panel branch
    * (`:336-339`, `dis_idx = G_m|C`). We implement the intended semantics
    * (SURVEY.md §7.5).
    *
    * The rows are shuffled once by cell and sorted by (rowid, period), and
    * each task estimates its cells in turn ([[CellRows]]). It emits the
    * cell's IF entries, and adds the cell's ATT, skip flag and sum of
    * squared IF to an accumulator, read once the one job that
    * materializes the store has run: the entries take one more shuffle,
    * by rowid, to their units. A
    * cell's rows reach its task in the same order however the input and
    * the shuffle are partitioned, so its numbers are bit-identical across
    * partitionings. */
  private def fitPerCell(
      pp: PreprocessedPanel, cells: Vector[CellDef], estMethod: String,
      customRc: Option[RcCellEstimator],
      customPanel: Option[PanelCellEstimator],
      layout: ZLayout, bstrap: Boolean)
      : (Array[Double], Array[Int], Array[Boolean], IFStore,
         Array[Double]) = {
    val spark = pp.df.sparkSession
    val covs = pp.config.covariates
    val nyt = pp.config.controlGroup == "notyettreated"
    val byPeriod: Map[Double, Seq[CellDef]] = cells.filterNot(_.zeroCell)
      .flatMap(c => Seq(c.tn -> c, c.tpre -> c)).groupMap(_._1)(_._2)
    // null period or cohort: null cells, exploded to no row
    val cellsOf = udf((tt: Double, gg: Double) =>
      byPeriod.getOrElse(tt, Nil).collect {
        case c if gg == c.g || gg == 0.0 || (nyt && gg > c.n2val) => c.idx
      })
    val sorted = pp.df
      .select((Seq(explode(cellsOf(col("tt"), col("gg"))).as("cell"),
        col("rowid").cast("string").as("rowid"), col("tt"), col("gg"),
        col("yy"), col("w1")) ++ covs.map(c => col(c).cast("double"))): _*)
      .repartition(col("cell"))
      .sortWithinPartitions("cell", "rowid", "tt")

    val n = pp.n
    val estimate: CellRows => (CellOut, Iterator[Row]) =
      if (pp.panel) {
        val est = customPanel.getOrElse(estMethod match {
          case "reg" => CellEstimators.RegDidPanel
          case "ipw" => CellEstimators.IpwDidPanel
          case _ => CellEstimators.DrDidPanel
        })
        _.panel(est, n)
      } else {
        val est = customRc.getOrElse(estMethod match {
          case "reg" => CellEstimators.RegDidRc
          case "ipw" => CellEstimators.IpwDidRc
          case _ => CellEstimators.DrDidRc
        })
        _.rc(est)
      }
    val defs = cells.toArray
    val p = covs.length
    val outs = spark.sparkContext.collectionAccumulator[CellOut]("AttGt cells")
    val ifRows = sorted.queryExecution.toRdd.mapPartitions { rows =>
      val it = rows.buffered
      Iterator.continually(()).takeWhile(_ => it.hasNext).flatMap { _ =>
        val cell = new CellRows(defs(it.head.getInt(0)), p)
        while (it.hasNext && it.head.getInt(0) == cell.c.idx) cell.add(it.next())
        val (o, inf) = estimate(cell)
        outs.add(o)
        inf
      }
    }
    val store = buildStore(pp, layout,
      Some(spark.createDataFrame(ifRows, IFStore.LongSchema)), Map.empty,
      bstrap)

    // a cell no row reached is skipped like a degenerate one; a re-run
    // task reports its cells again with the same numbers
    val att = Array.fill(cells.length)(0.0)
    val post = Array.fill(cells.length)(0)
    val skipped = cells.map(!_.zeroCell).toArray
    val sumSq = Array.fill(cells.length)(0.0)
    outs.value.forEach { o =>
      att(o.cell) = o.att
      skipped(o.cell) = o.skipped
      if (!o.skipped) post(o.cell) = defs(o.cell).postTreat
      sumSq(o.cell) = o.sumSq
    }
    (att, post, skipped, store, sumSq)
  }
}

/** What the per-cell path reports of one cell besides its IF rows. */
private[did] final case class CellOut(
    cell: Int, att: Double, skipped: Boolean, sumSq: Double)

/** One cell's rows in its task, in (rowid, period) order, as
  * [[AttGt.fitPerCell]] projects them: cell, rowid, tt, gg, yy, w1, then
  * the `p` covariates. A row with a null rowid, outcome, weight or
  * covariate fails the fit ([[AttGt.NullRole]]); in the balanced panel, a
  * unit that lacks the post or the base period is left out. */
private final class CellRows(val c: CellDef, p: Int,
    maxDoubles: Long = AttGt.MaxCellDoubles) {
  private val ids = ArrayBuffer.empty[String]
  private val tt = new ArrayBuilder.ofDouble
  private val gg = new ArrayBuilder.ofDouble
  private val yy = new ArrayBuilder.ofDouble
  private val ww = new ArrayBuilder.ofDouble
  private val xs = new ArrayBuilder.ofDouble // row-major, p per row

  def add(r: InternalRow): Unit = {
    require(!(r.isNullAt(1) || (4 until 6 + p).exists(r.isNullAt)),
      AttGt.NullRole)
    AttGt.checkCellSize(c, ids.length + 1L, p, maxDoubles)
    ids += r.getUTF8String(1).toString
    tt += r.getDouble(2); gg += r.getDouble(3)
    yy += r.getDouble(4); ww += r.getDouble(5)
    var j = 0
    while (j < p) { xs += r.getDouble(6 + j); j += 1 }
  }

  /** Start index of each run of equal rowids, and the end. */
  private def unitStarts: Array[Int] =
    (ids.indices.filter(i => i == 0 || ids(i) != ids(i - 1)) :+ ids.length)
      .toArray

  /** Repeated cross section: the estimator on the cell's rows; the IF
    * of a unit's rows (rowid := unit id puts a unit's pre- and
    * post-period rows in one cell) summed into one entry. */
  def rc(est: RcCellEstimator): (CellOut, Iterator[Row]) = {
    val n = ids.length
    val t = tt.result(); val g = gg.result(); val x = xs.result()
    val post = t.map(v => if (v == c.tn) 1.0 else 0.0)
    val d = g.map(v => if (v == c.g) 1.0 else 0.0)
    val buckets = (0 until n).map(i => (d(i), post(i))).toSet
    if (buckets.size < 4) return (CellOut(c.idx, 0.0, true, 0.0), Iterator.empty)
    val (att, inf) = est.estimate(RcCell(yy.result(), post, d, ww.result(),
      DenseMatrix.tabulate(n, p)((i, j) => x(i * p + j))))
    require(inf.length == n,
      s"estimator returned ${inf.length} influence values for $n rows")
    val starts = unitStarts
    val unitInf = starts.indices.init.map(u =>
      (starts(u) until starts(u + 1)).foldLeft(0.0)((s, i) => s + inf(i)))
    (CellOut(c.idx, att, false, unitInf.foldLeft(0.0)((s, v) => s + v * v)),
      starts.indices.init.iterator.map(u =>
        Row(ids(starts(u)), c.idx, unitInf(u))))
  }

  /** Balanced panel: each unit's outcomes at the post and the base
    * period (their max, like a SQL pivot), its cohort, weight and
    * covariates from its earliest row; the IF rescaled by n/n1
    * (`csdids/ATTgt.py:374-376`) for the `n` units of the panel. */
  def panel(est: PanelCellEstimator, n: Long): (CellOut, Iterator[Row]) = {
    val t = tt.result(); val y = yy.result()
    def at(from: Int, to: Int, period: Double): Option[Double] =
      (from until to).filter(t(_) == period).map(y).maxOption
    val starts = unitStarts
    val units = starts.indices.init.flatMap { u =>
      val (a, b) = (starts(u), starts(u + 1))
      for (y1 <- at(a, b, c.tn); y0 <- at(a, b, c.tpre)) yield (a, y1, y0)
    }
    val first = units.map(_._1).toArray
    val g = gg.result(); val w = ww.result(); val x = xs.result()
    val d = first.map(i => if (g(i) == c.g) 1.0 else 0.0)
    if (!d.contains(1.0) || !d.contains(0.0))
      return (CellOut(c.idx, 0.0, true, 0.0), Iterator.empty)
    val n1 = first.length
    val (att, inf) = est.estimate(PanelCell(units.map(_._2).toArray,
      units.map(_._3).toArray, d, first.map(w),
      DenseMatrix.tabulate(n1, p)((k, j) => x(first(k) * p + j))))
    require(inf.length == n1,
      s"estimator returned ${inf.length} influence values for $n1 units")
    val scaled = inf.map(_ * (n.toDouble / n1))
    (CellOut(c.idx, att, false, scaled.foldLeft(0.0)((s, v) => s + v * v)),
      first.indices.iterator.map(k => Row(ids(first(k)), c.idx, scaled(k))))
  }
}
