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

    // Every internal query here aggregates to K = #cells rows, and the
    // only join is a broadcast of the tiny grid — AQE has nothing to
    // re-plan but adds a planning round + extra jobs to each of the
    // ~(IRLS iters + 5) passes. Scoped off on an INTERNAL session clone
    // (own SQLConf, shared context + cache), so the caller's session conf
    // is never touched and concurrent fits/queries cannot interleave.
    val scoped = org.apache.spark.sql.graftbridge.SessionScope
      .cloned(pp.df.sparkSession)
    scoped.conf.set("spark.sql.adaptive.enabled", "false")
    val ppScoped = pp.copy(df = org.apache.spark.sql.graftbridge.SessionScope
      .rebind(pp.df, scoped))
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
        ifTable.groupBy("cell").agg(sum(col("inf") * col("inf")).as("ss"))
          .collect().foreach { r =>
            seA(r.getInt(0)) = math.sqrt(r.getDouble(1)) / n
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
    */
  private def fitRcDistributed(
      pp: PreprocessedPanel, cells: Vector[CellDef], estMethod: String)
      : (Array[Double], Array[Int], Array[Boolean], DataFrame) = {
    val spark = pp.df.sparkSession
    import spark.implicits._
    val lf = longForm(pp, cells)

    // the stat pass reduces to K = #cells rows — a handful of reduce
    // partitions is right at any scale. Restored on every exit: early
    // on success (the rowid-level IF aggregation below needs data-sized
    // partitioning), by the finally on exceptions.
    val shuffleNarrow = new ShuffleNarrow(spark, 4)
    try {

    def bucket(dv: Int, pv: Int): Column =
      (col("d") === dv) && (col("pst") === pv)
    def wsum(dv: Int, pv: Int): Column =
      sum(when(bucket(dv, pv), col("w1")).otherwise(0.0))
    def wysum(dv: Int, pv: Int): Column =
      sum(when(bucket(dv, pv), col("w1") * col("yy")).otherwise(0.0))
    def cnt(dv: Int, pv: Int): Column =
      sum(when(bucket(dv, pv), 1L).otherwise(0L))

    val statRows = lf.groupBy("cell").agg(
      count(lit(1)).as("ncell"),
      wsum(1, 1).as("w11"), wysum(1, 1).as("wy11"), cnt(1, 1).as("c11"),
      wsum(1, 0).as("w10"), wysum(1, 0).as("wy10"), cnt(1, 0).as("c10"),
      wsum(0, 1).as("w01"), wysum(0, 1).as("wy01"), cnt(0, 1).as("c01"),
      wsum(0, 0).as("w00"), wysum(0, 0).as("wy00"), cnt(0, 0).as("c00")
    ).collect()

    val att = Array.fill(cells.length)(0.0)
    val post = Array.fill(cells.length)(0)
    val skipped = Array.fill(cells.length)(false)
    // per-cell IF constants: (mu11, mu10, mu01, mu00, k11, k10, k01, k00)
    // where IF contribution of a row in bucket dt = k_dt * w * (y - mu_dt)
    val consts = Array.fill(cells.length)(
      (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    val seen = Array.fill(cells.length)(false)

    statRows.foreach { r =>
      val i = r.getInt(0)
      seen(i) = true
      val ncell = r.getLong(1).toDouble
      val w11 = r.getDouble(2); val wy11 = r.getDouble(3); val c11 = r.getLong(4)
      val w10 = r.getDouble(5); val wy10 = r.getDouble(6); val c10 = r.getLong(7)
      val w01 = r.getDouble(8); val wy01 = r.getDouble(9); val c01 = r.getLong(10)
      val w00 = r.getDouble(11); val wy00 = r.getDouble(12); val c00 = r.getLong(13)
      if (c11 == 0 || c10 == 0 || c01 == 0 || c00 == 0) {
        // degenerate-cell skip, ATT=0/post=0 like add_att_data()
        // (`csdids/ATTgt.py:400-422`)
        skipped(i) = true
      } else {
        val mu11 = wy11 / w11; val mu10 = wy10 / w10
        val mu01 = wy01 / w01; val mu00 = wy00 / w00
        att(i) = (mu11 - mu01) - (mu10 - mu00)
        post(i) = cells(i).postTreat
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
    // cells absent from statRows entirely (no eligible rows at all)
    cells.foreach { c =>
      if (!c.zeroCell && !seen(c.idx)) skipped(c.idx) = true
    }

    val liveCells = cells.filterNot(c => c.zeroCell || skipped(c.idx))
      .map(_.idx)
    val constMap: Seq[(String, Int => Any)] = Seq(
      "m11" -> (i => consts(i)._1), "m10" -> (i => consts(i)._2),
      "m01" -> (i => consts(i)._3), "m00" -> (i => consts(i)._4),
      "k11" -> (i => consts(i)._5), "k10" -> (i => consts(i)._6),
      "k01" -> (i => consts(i)._7), "k00" -> (i => consts(i)._8))

    shuffleNarrow.restore()

    // The groupBy is REAL aggregation, not dedup: in the default
    // unbalanced-panel-as-RC regime rowid := unit id, so a unit's pre-
    // and post-period rows in the same cell must SUM into one unit-level
    // IF entry (n = #units; sum(inf^2) SEs depend on it).
    val ifRows =
      if (liveCells.isEmpty)
        Seq.empty[(String, Int, Double)].toDF("rowid", "cell", "inf")
      else CellConsts.withConsts(lf, liveCells, constMap)
        .withColumn("inf",
          col("w1") * (
            when(bucket(1, 1), col("k11") * (col("yy") - col("m11")))
              .when(bucket(1, 0), col("k10") * (col("yy") - col("m10")))
              .when(bucket(0, 1), col("k01") * (col("yy") - col("m01")))
              .otherwise(col("k00") * (col("yy") - col("m00")))))
        .groupBy(col("rowid").cast("string").as("rowid"), col("cell"))
        .agg(sum("inf").as("inf"))
        .select("rowid", "cell", "inf")

    (att, post, skipped, ifRows)
    } finally shuffleNarrow.restore() // no-op unless an exception skipped it
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
