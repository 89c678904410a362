package graft.did

import org.apache.spark.sql.{Column, DataFrame, Row}
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
  * `ifTable` is the long-form sparse equivalent of the reference's dense
  * n x K driver matrix (`csdids/ATTgt.py:273,476`): one row per
  * (unit, cell) with a non-zero influence value. At 100 TB the dense
  * matrix is impossible; the long form keeps every downstream consumer
  * (SE, bootstrap, aggregation) a distributed aggregation.
  */
final case class AttGtFit(
    pp: PreprocessedPanel,
    cells: Vector[CellDef],
    att: Array[Double],
    post: Array[Int],
    skipped: Array[Boolean],
    ifTable: DataFrame, // columns: rowid, cell INT, inf DOUBLE
    seAnalytic: Array[Double],
    se: Array[Double],
    critVal: Double,
    estMethod: String,
    bstrap: Boolean) {

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

  def unpersist(): Unit = { ifTable.unpersist(); () }
}

/** Driver-orchestrated in the reference (one growing logical plan and >=3
  * Spark jobs per (g,t) cell — SURVEY.md §3.2); here the whole surface is
  * computed in a constant number of passes:
  *
  *   1. broadcast the tiny (g,t) grid against the persisted panel and
  *      aggregate per-cell sufficient statistics (one shuffle of K rows);
  *   2. finish the 2x2 arithmetic on the driver (K cells, closed form for
  *      the intercept-only doubly-robust/outcome-regression estimators);
  *   3. one more pass computes the per-row influence function from
  *      broadcast per-cell constants.
  *
  * Covariate (`xfmla`) and custom-estimator runs collect per-cell arrays
  * and run the Breeze estimators — parity with the reference's own
  * collect-based execution (`csdids/ATTgt.py:391-432`); guarded by
  * `maxDriverCellRows` so the scale path stays the closed form.
  */
object AttGt {

  def fit(
      pp: PreprocessedPanel,
      estMethod: String = "dr",
      basePeriod: String = "varying",
      bstrap: Boolean = false,
      customRc: Option[RcCellEstimator] = None,
      customPanel: Option[PanelCellEstimator] = None,
      maxDriverCellRows: Long = 10L * 1000 * 1000): AttGtFit = {
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

    // Every internal pass here reduces to K = #cells rows or joins a
    // broadcast of a tiny driver-built table: AQE has nothing to re-plan
    // but adds a planning round and extra jobs to each of them. So the
    // fit plans on the caller session's engine session (AQE off, the
    // caller's conf otherwise), never touching the caller's conf. The
    // engine session is made once per caller session and reused, so a
    // repeated fit finds its generated code cached (SessionScope).
    val ppScoped = pp.copy(
      df = org.apache.spark.sql.graftbridge.SessionScope.onEngine(pp.df))
    fitInner(ppScoped, estMethod, basePeriod, bstrap, customRc, customPanel,
      maxDriverCellRows)
  }

  private def fitInner(
      pp: PreprocessedPanel,
      estMethod: String,
      basePeriod: String,
      bstrap: Boolean,
      customRc: Option[RcCellEstimator],
      customPanel: Option[PanelCellEstimator],
      maxDriverCellRows: Long): AttGtFit = {
    val cells = buildCells(pp, basePeriod)
    // the two distributed paths fold the SE aggregation into their
    // IF-materializing action and return the per-cell sum of squares
    val fitres: (Array[Double], Array[Int], Array[Boolean], DataFrame,
        Option[Array[Double]]) =
      if (pp.panel && customPanel.isEmpty &&
          DistributedPanel.supports(estMethod, pp.config.covariates.length))
        DistributedPanel.fit(pp, cells, estMethod, panelWide(pp, cells))
      else if (pp.panel) {
        val r = fitPanelCollect(pp, cells, estMethod, customPanel,
          maxDriverCellRows)
        (r._1, r._2, r._3, r._4, None)
      } else if (pp.config.interceptOnly && customRc.isEmpty) {
        val r = fitRcDistributed(pp, cells, estMethod)
        (r._1, r._2, r._3, r._4, None)
      } else if (customRc.isEmpty &&
          DistributedRc.supports(estMethod, pp.config.covariates.length))
        // covariate scale path: Gram/moment aggregations + broadcast
        // constants, nothing O(rows) at the driver (DistributedRc)
        DistributedRc.fit(pp, cells, estMethod, longForm(pp, cells))
      else {
        val r = fitRcCollect(pp, cells, estMethod, customRc,
          maxDriverCellRows)
        (r._1, r._2, r._3, r._4, None)
      }
    val (att, post, skipped, ifTable, seSSPre) = fitres

    // DistributedPanel and DistributedRc persist their IF table before
    // dropping the input it is computed from; the other paths leave it
    // to here
    Preprocess.persistOnce(ifTable)

    // Analytic per-cell SE: sqrt(mean(IF^2)/n) over all n units (absent
    // units contribute IF=0, so one aggregation over the sparse table) —
    // precomputed by the distributed paths, one aggregation otherwise.
    val n = pp.n
    val seA = Array.fill(cells.length)(0.0)
    seSSPre match {
      case Some(ss) =>
        ss.indices.foreach(i => seA(i) = math.sqrt(ss(i)) / n)
      case None =>
        cellSumSq(ifTable, cells.length).zipWithIndex.foreach {
          case (ss, i) => seA(i) = math.sqrt(ss) / n
        }
    }

    val (se, crit) =
      if (bstrap) {
        val b = MBoot.runFor(pp, ifTable, cells.length)
        (b.se, b.critVal)
      } else (Array.fill(cells.length)(0.0), 0.0)

    AttGtFit(pp, cells, att, post, skipped, ifTable, seA, se, crit,
      estMethod, bstrap)
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

  /** Long-form (row x eligible cell) frame. Cell membership is
    * `(G_m|C) & (post | tPret)`: both periods restricted to the treated
    * cohort or the control set. The reference's rc filter
    * `GmC & post | tPret` (`csdids/ATTgt.py:388`) parses as
    * `(GmC & post) | tPret` under Python precedence, letting EVERY
    * base-period row (any cohort) into the control-pre bucket — an
    * operator-precedence bug contradicting its own panel branch
    * (`:336-339`, `dis_idx = G_m|C`) and the R `did` original. We
    * implement the intended semantics (SURVEY.md §7.5). */
  private def longForm(pp: PreprocessedPanel, cells: Vector[CellDef])
      : DataFrame = {
    val spark = pp.df.sparkSession
    import spark.implicits._
    val grid = cells.filterNot(_.zeroCell)
      .map(c => (c.idx, c.g, c.tn, c.tpre, c.n2val))
      .toDF("cell", "cg", "ctn", "ctpre", "cn2")
    val nyt = pp.config.controlGroup == "notyettreated"
    val cCond: Column =
      if (nyt) (col("gg") === 0.0) ||
        ((col("gg") > col("cn2")) && (col("gg") =!= col("cg")))
      else col("gg") === 0.0
    val eligible =
      ((col("tt") === col("ctn")) || (col("tt") === col("ctpre"))) &&
        ((col("gg") === col("cg")) || cCond)
    pp.df.join(broadcast(grid), eligible)
      .withColumn("d", (col("gg") === col("cg")).cast("int"))
      .withColumn("pst", (col("tt") === col("ctn")).cast("int"))
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
    * sums ([[groupSums]]), and the IF pass joins each row's group to its
    * cells' constants: one broadcast equi-join of a driver-built table.
    */
  private def fitRcDistributed(
      pp: PreprocessedPanel, cells: Vector[CellDef], estMethod: String)
      : (Array[Double], Array[Int], Array[Boolean], DataFrame) = {
    val spark = pp.df.sparkSession
    import spark.implicits._
    val groups = groupSums(pp.df)
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

    // (cohort, period, cell, k, mu) for every group of every live cell
    val groupConsts = cells.filterNot(c => c.zeroCell || skipped(c.idx))
      .flatMap { c =>
        val k = consts(c.idx)
        val kmu = Seq((k._5, k._1), (k._6, k._2), (k._7, k._3), (k._8, k._4))
        buckets(c).zip(kmu).flatMap { case ((gs, t), (kd, mu)) =>
          gs.map(g => (g, t, c.idx, kd, mu))
        }
      }

    // The groupBy is REAL aggregation, not dedup: in the default
    // unbalanced-panel-as-RC regime rowid := unit id, so a unit's pre-
    // and post-period rows in the same cell must SUM into one unit-level
    // IF entry (n = #units; sum(inf^2) SEs depend on it).
    val ifRows =
      if (groupConsts.isEmpty)
        Seq.empty[(String, Int, Double)].toDF("rowid", "cell", "inf")
      else pp.df
        .join(broadcast(groupConsts.toDF("gg", "tt", "cell", "k", "mu")),
          Seq("gg", "tt"))
        .groupBy(col("rowid").cast("string").as("rowid"), col("cell"))
        .agg(sum(col("w1") * (col("k") * (col("yy") - col("mu")))).as("inf"))

    (att, post, skipped, ifRows)
  }

  /** Row count, sum of `w1` and sum of `w1 * yy` per (cohort `gg`,
    * period `tt`) group of `df`, in one Spark job that folds each
    * partition into a driver-side map (no shuffle and no generated
    * aggregation code). Partitions are added in partition order, so a
    * rerun is bit-identical. Rows with a null cohort or period belong to
    * no cell and are left out; null weights and outcomes drop out of the
    * sums they enter, as in a SQL `sum`. */
  private def groupSums(df: DataFrame): Map[(Double, Double), Array[Double]] = {
    val parts = df.select("tt", "yy", "gg", "rowid", "w1").queryExecution.toRdd
      .mapPartitions { rows =>
        val m = scala.collection.mutable.LinkedHashMap
          .empty[(Double, Double), Array[Double]]
        rows.foreach { r =>
          if (!r.isNullAt(2) && !r.isNullAt(0)) {
            val a = m.getOrElseUpdate((r.getDouble(2), r.getDouble(0)),
              new Array[Double](3))
            a(0) += 1
            if (!r.isNullAt(4)) {
              a(1) += r.getDouble(4)
              if (!r.isNullAt(1)) a(2) += r.getDouble(4) * r.getDouble(1)
            }
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

  /** Per-cell sum of squared influence values of `ifTable`, in one Spark
    * job folded into driver arrays, partitions added in order. */
  private[did] def cellSumSq(ifTable: DataFrame, k: Int): Array[Double] = {
    // all three columns, as MBoot reads them: one scan of the cache to
    // generate code for
    val parts = ifTable.select("rowid", "cell", "inf").queryExecution.toRdd
      .mapPartitions { rows =>
        val ss = new Array[Double](k)
        rows.foreach { r =>
          if (!r.isNullAt(2)) ss(r.getInt(1)) += r.getDouble(2) * r.getDouble(2)
        }
        Iterator.single(ss)
      }.collect()
    Array.tabulate(k)(i => parts.foldLeft(0.0)(_ + _(i)))
  }

  /** Collect-based rc path for covariate / custom-estimator runs — parity
    * with the reference's own per-cell collection (`csdids/ATTgt.py:391-432`)
    * but batched into ONE Spark pass for all cells. */
  /** Pre-collect guard for the driver parity paths: counts the frame
    * BEFORE materializing it and fails with the ESTIMATED DRIVER BYTES,
    * not just a row count — 10M rows of wide covariates can be multiple
    * GiB of boxed Rows. The byte budget is what `maxRows` rows of the
    * default 8-column frame would occupy, so narrow frames are row-capped
    * and wide frames byte-capped by the same knob. Costs one extra
    * count() job — acceptable on a parity path that is about to collect
    * the same frame anyway. */
  private def guardedCollect(df: DataFrame, maxRows: Long, path: String)
      : Array[org.apache.spark.sql.Row] = {
    // persist so the guard's count() and the collect() share one
    // computation of the long-form plan instead of running it twice
    val pinned = df.persist(org.apache.spark.storage.StorageLevel
      .MEMORY_AND_DISK)
    try guardedCollectPinned(pinned, maxRows, path)
    finally pinned.unpersist()
  }

  private def guardedCollectPinned(df: DataFrame, maxRows: Long,
      path: String): Array[org.apache.spark.sql.Row] = {
    val nCols = df.schema.length
    val nRows = df.count()
    // ~48 B Row overhead + ~24 B per boxed field (header + pointer)
    val estBytes = nRows * (48L + 24L * nCols)
    val maxBytes = maxRows * (48L + 24L * 8)
    require(nRows <= maxRows && estBytes <= maxBytes,
      f"$path path collects per-cell arrays to the driver: $nRows rows x " +
        f"$nCols cols ~= ${estBytes / 1048576.0}%.0f MiB (cap " +
        f"${maxBytes / 1048576.0}%.0f MiB / $maxRows rows). Use " +
        "intercept-only xfmla (or p <= 16 with a built-in est_method) for " +
        "the distributed path, or raise maxDriverCellRows")
    df.collect()
  }

  private def fitRcCollect(
      pp: PreprocessedPanel, cells: Vector[CellDef], estMethod: String,
      customRc: Option[RcCellEstimator], maxRows: Long)
      : (Array[Double], Array[Int], Array[Boolean], DataFrame) = {
    val spark = pp.df.sparkSession
    import spark.implicits._
    val covNames = pp.config.covariates
    val lf = longForm(pp, cells)
      .select(Seq(col("cell"), col("rowid").cast("string").as("rid"),
        col("w1"), col("yy"), col("d"), col("pst")) ++
        covNames.map(col): _*)

    val collected = guardedCollect(lf, maxRows, "covariate")

    val byCell = collected.groupBy(_.getInt(0))
    val est: RcCellEstimator = customRc.getOrElse(estMethod match {
      case "reg" => CellEstimators.RegDidRc
      case "ipw" => CellEstimators.IpwDidRc
      case _ => CellEstimators.DrDidRc
    })

    val att = Array.fill(cells.length)(0.0)
    val post = Array.fill(cells.length)(0)
    val skipped = Array.fill(cells.length)(false)
    val ifBuf = Vector.newBuilder[(String, Int, Double)]

    cells.foreach { c =>
      if (!c.zeroCell) {
        byCell.get(c.idx) match {
          case None => skipped(c.idx) = true
          case Some(rows) =>
            val nC = rows.length
            val d = rows.map(_.getInt(4).toDouble)
            val pst = rows.map(_.getInt(5).toDouble)
            def empty(dv: Double, pv: Double) =
              !rows.indices.exists(i => d(i) == dv && pst(i) == pv)
            if (empty(1, 1) || empty(1, 0) || empty(0, 1) || empty(0, 0)) {
              skipped(c.idx) = true
            } else {
              val cov = DenseMatrix.tabulate(nC, covNames.length)((i, j) =>
                rows(i).getAs[Number](6 + j).doubleValue())
              val cell = RcCell(rows.map(_.getDouble(3)), pst, d,
                rows.map(_.getDouble(2)), cov)
              val (a, inf) = est.estimate(cell)
              att(c.idx) = a
              post(c.idx) = c.postTreat
              rows.indices.foreach { i =>
                ifBuf += ((rows(i).getString(1), c.idx, inf(i)))
              }
            }
        }
      }
    }
    val ifRows = ifBuf.result().toDF("rowid", "cell", "inf")
      .groupBy("rowid", "cell").agg(sum("inf").as("inf"))
    (att, post, skipped, ifRows)
  }

  /** Balanced-panel path (only reachable with
    * `allowUnbalancedPanel=false`): real `panel2cs2` pre/post pivot per
    * cell (the reference's is broken — SURVEY.md §7.5a), then the panel
    * estimators with the reference's n/n1 influence rescale
    * (`csdids/ATTgt.py:374-376`). */
  /** Wide per-(cell, unit) frame: one pass builds pre/post outcomes for
    * every cell via conditional aggregation — the scalable pivot
    * (SURVEY.md §2.3). Columns: cell, rid, y1, y0, gg, w1, cg, covs. */
  private def panelWide(pp: PreprocessedPanel, cells: Vector[CellDef])
      : DataFrame = {
    val spark = pp.df.sparkSession
    import spark.implicits._
    val covNames = pp.config.covariates
    val nyt = pp.config.controlGroup == "notyettreated"
    val grid = cells.filterNot(_.zeroCell)
      .map(c => (c.idx, c.g, c.tn, c.tpre, c.n2val))
      .toDF("cell", "cg", "ctn", "ctpre", "cn2")
    val cCond: Column =
      if (nyt) (col("gg") === 0.0) ||
        ((col("gg") > col("cn2")) && (col("gg") =!= col("cg")))
      else col("gg") === 0.0
    pp.df.join(broadcast(grid),
        (col("tt") === col("ctn")) || (col("tt") === col("ctpre")))
      .filter((col("gg") === col("cg")) || cCond)
      .groupBy(col("cell"), col("rowid").cast("string").as("rid"))
      .agg(
        max(when(col("tt") === col("ctn"), col("yy"))).as("y1"),
        (Seq(
          max(when(col("tt") === col("ctpre"), col("yy"))).as("y0"),
          first("gg").as("gg"), first("w1").as("w1"),
          first("cg").as("cg")) ++
          covNames.map(c => first(col(c)).as(c))): _*)
      .na.drop(Seq("y1", "y0"))
  }

  private def fitPanelCollect(
      pp: PreprocessedPanel, cells: Vector[CellDef], estMethod: String,
      customPanel: Option[PanelCellEstimator], maxRows: Long)
      : (Array[Double], Array[Int], Array[Boolean], DataFrame) = {
    val spark = pp.df.sparkSession
    import spark.implicits._
    val covNames = pp.config.covariates
    val n = pp.n

    val wide = panelWide(pp, cells)
    val collected = guardedCollect(wide, maxRows, "panel")
    val byCell = collected.groupBy(_.getInt(0))

    val est: PanelCellEstimator = customPanel.getOrElse(estMethod match {
      case "reg" => CellEstimators.RegDidPanel
      case "ipw" => CellEstimators.IpwDidPanel
      case _ => CellEstimators.DrDidPanel
    })

    val att = Array.fill(cells.length)(0.0)
    val post = Array.fill(cells.length)(0)
    val skipped = Array.fill(cells.length)(false)
    val ifBuf = Vector.newBuilder[(String, Int, Double)]

    cells.foreach { c =>
      if (!c.zeroCell) {
        byCell.get(c.idx) match {
          case None => skipped(c.idx) = true
          case Some(rows) =>
            val d = rows.map(r => if (r.getDouble(4) == c.g) 1.0 else 0.0)
            if (!d.contains(1.0) || !d.contains(0.0)) {
              skipped(c.idx) = true
            } else {
              val n1 = rows.length
              val cov = DenseMatrix.tabulate(n1, covNames.length)((i, j) =>
                rows(i).getAs[Number](7 + j).doubleValue())
              val cell = PanelCell(rows.map(_.getDouble(2)),
                rows.map(_.getDouble(3)), d, rows.map(_.getDouble(5)), cov)
              val (a, inf) = est.estimate(cell)
              att(c.idx) = a
              post(c.idx) = c.postTreat
              val scale = n.toDouble / n1
              rows.indices.foreach { i =>
                ifBuf += ((rows(i).getString(1), c.idx, inf(i) * scale))
              }
            }
        }
      }
    }
    val ifRows = ifBuf.result().toDF("rowid", "cell", "inf")
    (att, post, skipped, ifRows)
  }
}
