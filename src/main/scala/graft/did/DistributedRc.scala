package graft.did

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import breeze.linalg.{inv, DenseMatrix, DenseVector}

/** Fully distributed covariate estimation for the repeated-cross-section
  * regime: the 100 TB path for `xfmla` runs.
  *
  * The collect path (`AttGt.fitRcCollect`) ships every cell row to the
  * driver — fine for parity, impossible at scale. Here NOTHING of size
  * O(rows) ever reaches the driver:
  *
  *  - per-cell logistic propensity by IRLS where each Newton step is ONE
  *    `groupBy(cell)` pass computing the p x p Hessian and p-gradient as
  *    sum-of-product columns (all cells step together; p = #covariates
  *    is small, so p(p+1)/2 + p agg columns are cheap). The FIRST step
  *    needs no gamma (mu = 1/2) and folds into pass 0;
  *  - the four (D, post) outcome regressions from pass-0 Gram blocks,
  *    solved driver-side (p x p normal equations per cell, no extra
  *    scan — the iw scaling cancels in the solve);
  *  - eta numerators/denominators and every estimation-effect moment
  *    vector in one more pass (M-vectors expand linearly so no
  *    eta-dependency cycle);
  *  - the per-row influence function as a closed-form column expression
  *    over the covariates and broadcast per-cell constant vectors
  *    (asymptotic linear representations contract to row-dot-constant
  *    products), aggregated straight into the sparse IF table.
  *
  * Total cost: ~(IRLS iters + 3) scans of the cell-expanded frame, each
  * shuffling only K x p^2 numbers. Formulas mirror
  * [[CellEstimators.DrDidRc]] / [[CellEstimators.RegDidRc]] /
  * [[CellEstimators.IpwDidRc]] exactly (equality asserted in
  * DistributedRcSpec to 1e-8).
  */
private[did] object DistributedRc {

  private val MaxP = 16

  def supports(estMethod: String, p: Int): Boolean =
    Set("dr", "reg", "ipw").contains(estMethod) && p <= MaxP

  /** IRLS stops when the just-APPLIED Newton step is below this. Newton
    * is quadratically convergent here, so the step criterion overshoots:
    * 1e-10 lands gamma at machine precision (the final pass's steps
    * measure 1e-16..1e-18). It costs one scan versus the earlier 1e-7,
    * but the tight stop is what lets `q_att_gt_cov`'s analytic SE be
    * pinned at 6dp against the INDEPENDENT numpy fixture
    * (scripts/gen_attgt_cov_fixture.py): high-leverage odds weights
    * amplify residual gamma error ~1e-14 into ~5e-5 absolute SE wiggle
    * at 1e-7, which straddled the 6dp round on 3 of 54 fixture cells.
    * Must match [[CellEstimators.logisticIrls]]'s default so the
    * distributed and collect paths run identical iterates. */
  private[did] val IrlsTol = 1e-10

  /** Cap on Newton steps, shared by all three IRLS loops (this one,
    * [[DistributedPanel]]'s and [[CellEstimators.logisticIrls]]) so the
    * paths stop at the same iterate on cells that do not converge. */
  private[did] val IrlsMaxIter = 50

  def fit(pp: PreprocessedPanel, cells: Vector[CellDef], estMethod: String,
      lf0: DataFrame)
      : (Array[Double], Array[Int], Array[Boolean], DataFrame,
         Option[Array[Double]]) = {
    val spark = pp.df.sparkSession
    import spark.implicits._
    val covs = pp.config.covariates
    val p = covs.length
    val nCells = cells.length

    // Every stat pass below reduces to K = #cells rows; map-side partial
    // aggregation does the real work, so a handful of reduce partitions
    // is right at ANY input scale — 32 mostly-empty reducers just add
    // task-launch latency per pass (AQE would coalesce them, but it's
    // off here for its per-job planning cost). The session is the fit's
    // internal clone (single-threaded by construction), so the toggle
    // can't leak: restored before the rowid-level IF aggregation, which
    // DOES need data-sized partitioning.
    // Restored on every exit: early on success (the trailing shuffle
    // needs data-sized partitioning), by the finally on exceptions.
    val shuffleNarrow = new ShuffleNarrow(spark, 4)
    try {

    // Every pass below (bucket counts, each IRLS Newton step, the WLS
    // Grams, the moment pass, the final IF pass) scans this frame; without
    // the persist each scan re-executes the broadcast grid join and
    // projection from pp.df — ~(iters + 4) redundant executions.
    val lf = lf0.select(Seq(col("cell"),
      col("rowid").cast("string").as("rowid"), col("w1"), col("yy"),
      col("d").cast("double").as("dd"),
      col("pst").cast("double").as("pp")) ++ covs.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

    def xj(j: Int): Column = col(covs(j))

    // ---- pass 0: counts, bucket counts, mean weight, AND the four
    // (D,post)-bucket Gram/moment blocks. The WLS normal equations are
    // gamma-independent, and so is the FIRST IRLS Newton step (gamma=0
    // => mu=1/2 makes Hessian/gradient pure bucket moments), so both
    // fold into this single pass — two fewer scans of lf. Raw w1-weighted
    // sums suffice: the iw = w1/mw scaling is applied driver-side.
    val subsP0 = Seq(("T1", 1, 1), ("T0", 1, 0), ("C1", 0, 1), ("C0", 0, 0))
    def ind(dv: Int, pv: Int): Column =
      when(col("dd") === dv && col("pp") === pv, col("w1")).otherwise(0.0)
    val bucketAggs = Seq(
      count(lit(1)).as("ncell"), sum(col("w1")).as("sw")) ++
      (for (dv <- 1 to 0 by -1; pv <- 1 to 0 by -1)
        yield sum(when(col("dd") === dv && col("pp") === pv, 1L)
          .otherwise(0L)).as(s"c$dv$pv")) ++
      subsP0.flatMap { case (nm, dv, pv) =>
        (for (j <- 0 until p; k <- j until p)
          yield sum(ind(dv, pv) * xj(j) * xj(k)).as(s"gx_${nm}_${j}_$k")) ++
        (0 until p).map(j =>
          sum(ind(dv, pv) * xj(j) * col("yy")).as(s"gy_${nm}_$j")) ++
        (0 until p).map(j =>
          sum(ind(dv, pv) * xj(j)).as(s"gv_${nm}_$j"))
      }
    val p0 =
      lf.groupBy("cell").agg(bucketAggs.head, bucketAggs.tail: _*)
        .collect().map(r => r.getInt(0) -> r).toMap
    def p0d(i: Int, name: String): Double =
      p0(i).getDouble(p0(i).fieldIndex(name))
    def p0Gram(i: Int, nm: String): DenseMatrix[Double] = {
      val m = DenseMatrix.zeros[Double](p, p)
      for (j <- 0 until p; k <- j until p) {
        val v = p0d(i, s"gx_${nm}_${j}_$k"); m(j, k) = v; m(k, j) = v
      }
      m
    }
    def p0Vec(i: Int, prefix: String, nm: String): DenseVector[Double] =
      DenseVector.tabulate(p)(j => p0d(i, s"${prefix}_${nm}_$j"))

    val att = Array.fill(nCells)(0.0)
    val post = Array.fill(nCells)(0)
    val skipped = Array.fill(nCells)(false)
    val nC = Array.fill(nCells)(0L)
    val meanW = Array.fill(nCells)(1.0)
    val live = cells.filterNot(_.zeroCell).map(_.idx).filter { i =>
      p0.get(i) match {
        case None => skipped(i) = true; false
        case Some(r) =>
          nC(i) = r.getLong(1)
          meanW(i) = r.getDouble(2) / r.getLong(1)
          val degenerate = (3 to 6).exists(k => r.getLong(k) == 0L)
          if (degenerate) skipped(i) = true
          !degenerate
      }
    }

    if (live.isEmpty) {
      lf.unpersist()
      shuffleNarrow.restore()
      val empty = Seq.empty[(String, Int, Double)]
        .toDF("rowid", "cell", "inf")
      return (att, post, skipped, empty, Some(Array.fill(nCells)(0.0)))
    }

    // per-cell constants join as a broadcast LocalRelation (CellConsts:
    // no collect job per pass, one hash probe per row); `iw` is the
    // mean-normalized weight

    def dotArr(arr: Column): Column =
      (0 until p).map(j => xj(j) * element_at(arr, j + 1)).reduce(_ + _)

    // ---- IRLS for the propensity (dr, ipw only) -----------------------
    val gamma = Array.fill(nCells)(DenseVector.zeros[Double](p))
    var psHessInv: Map[Int, DenseMatrix[Double]] = Map.empty
    if (estMethod != "reg") {
      var iter = 1 // the first Newton step was folded into pass 0
      var lastHess: Map[Int, DenseMatrix[Double]] = Map.empty
      var pending: Seq[Int] = live
      // First Newton step from pass-0 moments: at gamma=0, mu=1/2, so
      // H = (1/4) sum_buckets Gram / mw and grad_j =
      // (sum_{treated} gv_j - (1/2) sum_all gv_j) / mw.
      locally {
        val hb = Map.newBuilder[Int, DenseMatrix[Double]]
        val still = Seq.newBuilder[Int]
        live.foreach { i =>
          val mw = meanW(i)
          val h = (subsP0.map { case (nm, _, _) => p0Gram(i, nm) }
            .reduce(_ + _)) *:* (0.25 / mw)
          for (j <- 0 until p)
            h(j, j) = math.max(h(j, j), 1e-12)
          val gvAll = subsP0.map { case (nm, _, _) => p0Vec(i, "gv", nm) }
            .reduce(_ + _)
          val gvTreat = p0Vec(i, "gv", "T1") + p0Vec(i, "gv", "T0")
          val g = (gvTreat - (gvAll *:* 0.5)) /:/ mw
          val step = h \ g
          gamma(i) = step
          hb += i -> h
          if (breeze.linalg.max(step.map(math.abs)) > IrlsTol) still += i
        }
        lastHess = hb.result()
        pending = still.result()
      }
      // remaining Newton passes scan only the straggler cells' rows
      while (iter < IrlsMaxIter && pending.nonEmpty) {
        val iw = col("w1") / col("mw")
        val mu = lit(1.0) / (lit(1.0) + exp(-dotArr(col("gam"))))
        val s = iw * mu * (lit(1.0) - mu)
        val z = iw * (col("dd") - mu)
        val aggs =
          (for (j <- 0 until p; k <- j until p)
            yield sum(s * xj(j) * xj(k)).as(s"h_${j}_$k")) ++
          (0 until p).map(j => sum(z * xj(j)).as(s"g_$j"))
        val rows =
          CellConsts.withConsts(lf, pending, Seq(
              "mw" -> (i => meanW(i)),
              "gam" -> (i => gamma(i).toArray.toSeq)))
            .groupBy("cell").agg(aggs.head, aggs.tail: _*)
            .collect().map(r => r.getInt(0) -> r).toMap
        val hessB = Map.newBuilder[Int, DenseMatrix[Double]]
        val still = Seq.newBuilder[Int]
        pending.foreach { i =>
          val r = rows(i)
          val h = DenseMatrix.zeros[Double](p, p)
          var idx = 1
          for (j <- 0 until p; k <- j until p) {
            val v = math.max(r.getDouble(idx), if (j == k) 1e-12 else r.getDouble(idx))
            h(j, k) = v; h(k, j) = v; idx += 1
          }
          val g = DenseVector.tabulate(p)(j => r.getDouble(idx + j))
          val step = h \ g
          gamma(i) = gamma(i) + step
          hessB += i -> h
          if (breeze.linalg.max(step.map(math.abs)) > IrlsTol) still += i
        }
        lastHess = lastHess ++ hessB.result()
        pending = still.result()
        iter += 1
      }
      psHessInv = lastHess.map { case (i, h) =>
        i -> inv(h /:/ nC(i).toDouble)
      }
    }

    // ---- WLS fits for the four (D,post) subsamples, from pass-0 Grams
    // (no extra scan; the iw = w1/mw scaling cancels in the solve and
    // is applied explicitly for the inverse's nC normalization)
    val subs = subsP0
    val beta = Array.fill(nCells)(Map.empty[String, DenseVector[Double]])
    val xtxInvSub =
      Array.fill(nCells)(Map.empty[String, DenseMatrix[Double]])
    live.foreach { i =>
      val mw = meanW(i)
      val bm = Map.newBuilder[String, DenseVector[Double]]
      val xm = Map.newBuilder[String, DenseMatrix[Double]]
      subs.foreach { case (nm, _, _) =>
        val xtx = p0Gram(i, nm) *:* (1.0 / mw)
        val xty = p0Vec(i, "gy", nm) /:/ mw
        bm += nm -> (xtx \ xty)
        xm += nm -> inv(xtx /:/ nC(i).toDouble)
      }
      beta(i) = bm.result(); xtxInvSub(i) = xm.result()
    }

    // ---- shared row-level building blocks -----------------------------
    def constants(extra: Seq[(String, Int => Any)])
        : Seq[(String, Int => Any)] =
      Seq[(String, Int => Any)](
        "mw" -> (i => meanW(i)),
        "gam" -> (i => gamma(i).toArray.toSeq),
        "bT1" -> (i => beta(i)("T1").toArray.toSeq),
        "bT0" -> (i => beta(i)("T0").toArray.toSeq),
        "bC1" -> (i => beta(i)("C1").toArray.toSeq),
        "bC0" -> (i => beta(i)("C0").toArray.toSeq)) ++ extra

    val iw = col("w1") / col("mw")
    val one = lit(1.0)
    def ps: Column = {
      val raw = one / (one + exp(-dotArr(col("gam"))))
      least(raw, lit(1 - 1e-16))
    }
    def outOf(b: String): Column = dotArr(col(b))
    def outC: Column = col("pp") * outOf("bC1") + (one - col("pp")) * outOf("bC0")

    def wTreatPre: Column = iw * col("dd") * (one - col("pp"))
    def wTreatPost: Column = iw * col("dd") * col("pp")
    def psOdds: Column = ps / (one - ps)
    def wContPre: Column = iw * psOdds * (one - col("dd")) * (one - col("pp"))
    def wContPost: Column = iw * psOdds * (one - col("dd")) * col("pp")
    def wD: Column = iw * col("dd")

    // ---- one pass: eta numerators/denominators + moment vectors -------
    final case class Moment(name: String, c: Column)
    val moments: Seq[Moment] = estMethod match {
      case "dr" =>
        val resid = col("yy") - outC
        Seq(
          Moment("wTp", wTreatPre), Moment("wTq", wTreatPost),
          Moment("wCp", wContPre), Moment("wCq", wContPost),
          Moment("wD", wD), Moment("wDt1", wTreatPost), Moment("wDt0", wTreatPre),
          Moment("eTp", wTreatPre * resid), Moment("eTq", wTreatPost * resid),
          Moment("eCp", wContPre * resid), Moment("eCq", wContPost * resid),
          Moment("eDq", wD * (outOf("bT1") - outOf("bC1"))),
          Moment("eDt1q", wTreatPost * (outOf("bT1") - outOf("bC1"))),
          Moment("eDp", wD * (outOf("bT0") - outOf("bC0"))),
          Moment("eDt0p", wTreatPre * (outOf("bT0") - outOf("bC0")))) ++
        (0 until p).flatMap(j => Seq(
          Moment(s"m1q_$j", wTreatPost * col("pp") * xj(j)),
          Moment(s"m1p_$j", wTreatPre * (one - col("pp")) * xj(j)),
          Moment(s"m2qa_$j", wContPost * resid * xj(j)),
          Moment(s"m2qb_$j", wContPost * xj(j)),
          Moment(s"m2pa_$j", wContPre * resid * xj(j)),
          Moment(s"m2pb_$j", wContPre * xj(j)),
          Moment(s"momD_$j", wD * xj(j)),
          Moment(s"momDt1_$j", wTreatPost * xj(j)),
          Moment(s"momDt0_$j", wTreatPre * xj(j))))
      case "ipw" =>
        Seq(
          Moment("wTp", wTreatPre), Moment("wTq", wTreatPost),
          Moment("wCp", wContPre), Moment("wCq", wContPost),
          Moment("yTp", wTreatPre * col("yy")), Moment("yTq", wTreatPost * col("yy")),
          Moment("yCp", wContPre * col("yy")), Moment("yCq", wContPost * col("yy"))) ++
        (0 until p).flatMap(j => Seq(
          Moment(s"mCqa_$j", wContPost * col("yy") * xj(j)),
          Moment(s"mCqb_$j", wContPost * xj(j)),
          Moment(s"mCpa_$j", wContPre * col("yy") * xj(j)),
          Moment(s"mCpb_$j", wContPre * xj(j))))
      case _ => // reg
        Seq(
          Moment("wTp", wTreatPre), Moment("wTq", wTreatPost),
          Moment("wD", wD),
          Moment("yTp", wTreatPre * col("yy")), Moment("yTq", wTreatPost * col("yy")),
          Moment("eC", wD * (outOf("bC1") - outOf("bC0")))) ++
        (0 until p).flatMap(j => Seq(
          Moment(s"m1_$j", wD * col("pp") * xj(j)),
          Moment(s"m2_$j", wD * (one - col("pp")) * xj(j))))
    }
    val momRows = {
      val aggs = moments.map(m => sum(m.c).as(m.name))
      CellConsts.withConsts(lf, live, constants(Nil)).groupBy("cell")
        .agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getInt(0) -> r).toMap
    }
    val momIdx = moments.map(_.name).zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    def mom(i: Int, name: String): Double =
      momRows(i).getDouble(momIdx(name)) / nC(i)
    def momVec(i: Int, prefix: String): DenseVector[Double] =
      DenseVector.tabulate(p)(j => mom(i, s"${prefix}_$j"))

    // ---- per-cell ATT + IF constant vectors ---------------------------
    // The IF is: base bucket terms + sum over nuisances of
    // rowScore * (x . u) with u a per-cell p-vector — assembled below.
    final case class IfConsts(
        etaTp: Double, etaTq: Double, etaCp: Double, etaCq: Double,
        etaDq: Double, etaDt1q: Double, etaDp: Double, etaDt0p: Double,
        mwTp: Double, mwTq: Double, mwCp: Double, mwCq: Double,
        mwD: Double, etaC: Double,
        uPs: Seq[Double], uT1: Seq[Double], uT0: Seq[Double],
        uC1: Seq[Double], uC0: Seq[Double])
    val consts = Array.fill(nCells)(
      IfConsts(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 0,
        Seq.fill(p)(0.0), Seq.fill(p)(0.0), Seq.fill(p)(0.0),
        Seq.fill(p)(0.0), Seq.fill(p)(0.0)))

    live.foreach { i =>
      val zero = DenseVector.zeros[Double](p)
      estMethod match {
        case "dr" =>
          val mwTp = mom(i, "wTp"); val mwTq = mom(i, "wTq")
          val mwCp = mom(i, "wCp"); val mwCq = mom(i, "wCq")
          val mwD = mom(i, "wD"); val mwDt1 = mom(i, "wDt1"); val mwDt0 = mom(i, "wDt0")
          val etaTp = mom(i, "eTp") / mwTp; val etaTq = mom(i, "eTq") / mwTq
          val etaCp = mom(i, "eCp") / mwCp; val etaCq = mom(i, "eCq") / mwCq
          val etaDq = mom(i, "eDq") / mwD; val etaDt1q = mom(i, "eDt1q") / mwDt1
          val etaDp = mom(i, "eDp") / mwD; val etaDt0p = mom(i, "eDt0p") / mwDt0
          att(i) = (etaTq - etaTp) - (etaCq - etaCp) +
            (etaDq - etaDt1q) - (etaDp - etaDt0p)
          post(i) = cells(i).postTreat

          // nuisance contraction vectors
          val m1q = momVec(i, "m1q") *:* (-1.0 / mwTq)
          val m1p = momVec(i, "m1p") *:* (-1.0 / mwTp)
          val m2 = (momVec(i, "m2qa") - (momVec(i, "m2qb") *:* etaCq)) /:/ mwCq -
            ((momVec(i, "m2pa") - (momVec(i, "m2pb") *:* etaCp)) /:/ mwCp)
          val m3q = momVec(i, "m2qb") *:* (-1.0 / mwCq)
          val m3p = momVec(i, "m2pb") *:* (-1.0 / mwCp)
          val momQ = (momVec(i, "momD") /:/ mwD) - (momVec(i, "momDt1") /:/ mwDt1)
          val momP = (momVec(i, "momD") /:/ mwD) - (momVec(i, "momDt0") /:/ mwDt0)
          // uX collects every coefficient multiplying repX's row score
          val uPs = psHessInv(i) * (m2 *:* -1.0) // -(repPs . m2) enters -infCont
          val uC1 = xtxInvSub(i)("C1") * (m1q - m3q - momQ)
          val uC0 = xtxInvSub(i)("C0") * (m1p - m3p + momP)
          val uT1 = xtxInvSub(i)("T1") * momQ
          val uT0 = xtxInvSub(i)("T0") * (momP *:* -1.0)
          consts(i) = IfConsts(etaTp, etaTq, etaCp, etaCq,
            etaDq, etaDt1q, etaDp, etaDt0p,
            mwTp, mwTq, mwCp, mwCq, mwD, 0.0,
            uPs.toArray.toSeq, uT1.toArray.toSeq, uT0.toArray.toSeq,
            uC1.toArray.toSeq, uC0.toArray.toSeq)
          // (mwDt1/mwDt0 reuse mwTq/mwTp slots in the IF expression)

        case "ipw" =>
          val mwTp = mom(i, "wTp"); val mwTq = mom(i, "wTq")
          val mwCp = mom(i, "wCp"); val mwCq = mom(i, "wCq")
          val etaTp = mom(i, "yTp") / mwTp; val etaTq = mom(i, "yTq") / mwTq
          val etaCp = mom(i, "yCp") / mwCp; val etaCq = mom(i, "yCq") / mwCq
          att(i) = (etaTq - etaTp) - (etaCq - etaCp)
          post(i) = cells(i).postTreat
          val mq = (momVec(i, "mCqa") - (momVec(i, "mCqb") *:* etaCq)) /:/ mwCq
          val mp = (momVec(i, "mCpa") - (momVec(i, "mCpb") *:* etaCp)) /:/ mwCp
          val uPs = psHessInv(i) * ((mq - mp) *:* -1.0)
          consts(i) = IfConsts(etaTp, etaTq, etaCp, etaCq, 0, 0, 0, 0,
            mwTp, mwTq, mwCp, mwCq, 1.0, 0.0,
            uPs.toArray.toSeq, Seq.fill(p)(0.0), Seq.fill(p)(0.0),
            Seq.fill(p)(0.0), Seq.fill(p)(0.0))

        case _ => // reg
          val mwTp = mom(i, "wTp"); val mwTq = mom(i, "wTq")
          val mwD = mom(i, "wD")
          val etaTp = mom(i, "yTp") / mwTp; val etaTq = mom(i, "yTq") / mwTq
          val etaC = mom(i, "eC") / mwD
          att(i) = (etaTq - etaTp) - etaC
          post(i) = cells(i).postTreat
          val m1 = momVec(i, "m1") /:/ mwD
          val m2 = momVec(i, "m2") /:/ mwD
          val uC1 = xtxInvSub(i)("C1") * (m1 *:* -1.0)
          val uC0 = xtxInvSub(i)("C0") * m2
          consts(i) = IfConsts(etaTp, etaTq, 0, 0, 0, 0, 0, 0,
            mwTp, mwTq, 1, 1, mwD, etaC,
            Seq.fill(p)(0.0), Seq.fill(p)(0.0), Seq.fill(p)(0.0),
            uC1.toArray.toSeq, uC0.toArray.toSeq)
      }
    }

    // recompute mwDt1/mwDt0 holders for dr
    val mwDt1 = Array.tabulate(nCells)(i =>
      if (live.contains(i) && estMethod == "dr") mom(i, "wDt1") else 1.0)
    val mwDt0 = Array.tabulate(nCells)(i =>
      if (live.contains(i) && estMethod == "dr") mom(i, "wDt0") else 1.0)

    // ---- final pass: per-row IF -> sparse table -----------------------
    val c = consts
    val extra: Seq[(String, Int => Any)] = Seq(
      "etaTp" -> (i => c(i).etaTp), "etaTq" -> (i => c(i).etaTq),
      "etaCp" -> (i => c(i).etaCp), "etaCq" -> (i => c(i).etaCq),
      "etaDq" -> (i => c(i).etaDq), "etaDt1q" -> (i => c(i).etaDt1q),
      "etaDp" -> (i => c(i).etaDp), "etaDt0p" -> (i => c(i).etaDt0p),
      "mwTp" -> (i => c(i).mwTp), "mwTq" -> (i => c(i).mwTq),
      "mwCp" -> (i => c(i).mwCp), "mwCq" -> (i => c(i).mwCq),
      "mwD" -> (i => c(i).mwD), "etaC" -> (i => c(i).etaC),
      "mwDt1" -> (i => mwDt1(i)), "mwDt0" -> (i => mwDt0(i)),
      "uPs" -> (i => c(i).uPs), "uT1" -> (i => c(i).uT1),
      "uT0" -> (i => c(i).uT0), "uC1" -> (i => c(i).uC1),
      "uC0" -> (i => c(i).uC0))
    val cdf = constants(extra)

    def sub(dv: Int, pv: Int): Column =
      when(col("dd") === dv && col("pp") === pv, 1.0).otherwise(0.0)
    val resid = col("yy") - outC

    val infCol: Column = estMethod match {
      case "dr" =>
        val infTreat =
          (wTreatPost * (resid - col("etaTq"))) / col("mwTq") -
          (wTreatPre * (resid - col("etaTp"))) / col("mwTp")
        val infCont =
          (wContPost * (resid - col("etaCq"))) / col("mwCq") -
          (wContPre * (resid - col("etaCp"))) / col("mwCp")
        val infEff =
          (wD * (outOf("bT1") - outOf("bC1") - col("etaDq"))) / col("mwD") -
          (wTreatPost * (outOf("bT1") - outOf("bC1") - col("etaDt1q"))) / col("mwDt1") -
          ((wD * (outOf("bT0") - outOf("bC0") - col("etaDp"))) / col("mwD") -
           (wTreatPre * (outOf("bT0") - outOf("bC0") - col("etaDt0p"))) / col("mwDt0"))
        val scorePs = iw * (col("dd") - ps)
        val nuis =
          scorePs * dotArr(col("uPs")) +
          (iw * sub(0, 1) * (col("yy") - outOf("bC1"))) * dotArr(col("uC1")) +
          (iw * sub(0, 0) * (col("yy") - outOf("bC0"))) * dotArr(col("uC0")) +
          (iw * sub(1, 1) * (col("yy") - outOf("bT1"))) * dotArr(col("uT1")) +
          (iw * sub(1, 0) * (col("yy") - outOf("bT0"))) * dotArr(col("uT0"))
        infTreat - infCont + infEff + nuis
      case "ipw" =>
        val base =
          (wTreatPost * (col("yy") - col("etaTq"))) / col("mwTq") -
          (wTreatPre * (col("yy") - col("etaTp"))) / col("mwTp") -
          ((wContPost * (col("yy") - col("etaCq"))) / col("mwCq") -
           (wContPre * (col("yy") - col("etaCp"))) / col("mwCp"))
        val scorePs = iw * (col("dd") - ps)
        base + scorePs * dotArr(col("uPs"))
      case _ => // reg
        val infTreat =
          (wTreatPost * (col("yy") - col("etaTq"))) / col("mwTq") -
          (wTreatPre * (col("yy") - col("etaTp"))) / col("mwTp")
        val infCont =
          (wD * (outOf("bC1") - outOf("bC0") - col("etaC"))) / col("mwD")
        val nuis =
          (iw * sub(0, 1) * (col("yy") - outOf("bC1"))) * dotArr(col("uC1")) +
          (iw * sub(0, 0) * (col("yy") - outOf("bC0"))) * dotArr(col("uC0"))
        infTreat - infCont + nuis
    }

    // Materialize the IF table off the cached `lf` before dropping it —
    // the caller's persist of ifTable is lazy, so unpersisting first
    // would force one more uncached grid-join execution. The
    // materializing action doubles as the analytic-SE aggregation
    // (sum of squared IFs per cell), so the caller pays no extra pass.
    // rowid-level shuffle ahead: back to data-sized partitioning (also
    // inherited by the bootstrap's downstream scans of ifRows)
    shuffleNarrow.restore()

    // The groupBy is REAL aggregation, not dedup: in the default
    // unbalanced-panel-as-RC regime rowid := unit id, so a unit's pre-
    // and post-period rows in the same cell must SUM into one
    // unit-level IF entry (sum(inf^2) SEs depend on it).
    val ifRows = CellConsts.withConsts(lf, live, cdf)
      .select(col("rowid"), col("cell"), infCol.as("inf"))
      .groupBy("rowid", "cell").agg(sum("inf").as("inf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seSS = Array.fill(nCells)(0.0)
    ifRows.groupBy("cell").agg(sum(col("inf") * col("inf")).as("ss"))
      .collect().foreach(r => seSS(r.getInt(0)) = r.getDouble(1))
    lf.unpersist()

    (att, post, skipped, ifRows, Some(seSS))
    } finally shuffleNarrow.restore() // no-op unless an exception skipped it
  }
}
