package graft.did

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import breeze.linalg.{inv, DenseMatrix, DenseVector}

/** Distributed covariate estimation for the balanced-panel regime —
  * companion to [[DistributedRc]] (see its scaladoc for the design).
  * Operates on the wide per-(cell, unit) frame (y1/y0 pivot) built in
  * AttGt: pass 0 carries the counts PLUS every gamma-independent block
  * (control Δy regression Grams and the first IRLS Newton step at
  * gamma=0), then one Gram pass per remaining Newton step, one moment
  * pass, and the per-row influence function as a closed-form column
  * expression. The
  * reference's n/n1 influence rescale is folded into the final
  * expression. Parity with [[CellEstimators.DrDidPanel]] /
  * [[CellEstimators.RegDidPanel]] / [[CellEstimators.IpwDidPanel]] is
  * asserted in DistributedRcSpec. */
private[did] object DistributedPanel {

  def supports(estMethod: String, p: Int): Boolean =
    DistributedRc.supports(estMethod, p)

  /** `wide` columns: cell, rid, y1, y0, gg, w1, cg, <covariates>. */
  def fit(pp: PreprocessedPanel, cells: Vector[CellDef], estMethod: String,
      wide: DataFrame)
      : (Array[Double], Array[Int], Array[Boolean], DataFrame,
         Option[Array[Double]]) = {
    val spark = pp.df.sparkSession
    import spark.implicits._
    val covs = pp.config.covariates
    val p = covs.length
    val nCells = cells.length
    val nTotal = pp.n

    // Persisted for the same reason as DistributedRc's lf: every IRLS
    // step plus the Gram/moment/IF passes scan this frame, and `wide`
    // carries a grid join + pivot aggregation in its lineage.
    val lf = wide.select(Seq(col("cell"), col("rid").as("rowid"),
      (col("y1") - col("y0")).as("dy"),
      when(col("gg") === col("cg"), 1.0).otherwise(0.0).as("dd"),
      col("w1")) ++ covs.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

    def xj(j: Int): Column = col(covs(j))

    // ---- pass 0: counts, treated/control presence, mean weight, AND
    // the gamma-independent Gram/moment blocks (control Δy regression +
    // first IRLS Newton step at gamma=0) — see DistributedRc's pass 0.
    val wT = col("w1") * col("dd")
    val wC = col("w1") * (lit(1.0) - col("dd"))
    val p0Aggs = Seq(
      count(lit(1)).as("n1"), sum("w1").as("sw"),
      sum(col("dd")).as("nT"),
      sum(lit(1.0) - col("dd")).as("nc")) ++
      (for (j <- 0 until p; k <- j until p)
        yield sum(wT * xj(j) * xj(k)).as(s"gxT_${j}_$k")) ++
      (for (j <- 0 until p; k <- j until p)
        yield sum(wC * xj(j) * xj(k)).as(s"gxC_${j}_$k")) ++
      (0 until p).map(j => sum(wC * xj(j) * col("dy")).as(s"gyC_$j")) ++
      (0 until p).map(j => sum(wT * xj(j)).as(s"gvT_$j")) ++
      (0 until p).map(j => sum(wC * xj(j)).as(s"gvC_$j"))
    val p0 = lf.groupBy("cell").agg(p0Aggs.head, p0Aggs.tail: _*)
      .collect().map(r => r.getInt(0) -> r).toMap
    // Every remaining pass reduces to K = #cells rows; a handful of
    // reduce partitions is right at any scale (map-side partial aggs do
    // the work; AQE would coalesce, but it's off here). Set only AFTER
    // pass 0 — ITS action also materializes `lf`, whose lineage carries
    // the rowid-level pivot shuffle that needs data-sized partitioning.
    // Restored on every exit: early on success (the trailing shuffle
    // needs data-sized partitioning), by the finally on exceptions.
    val shuffleNarrow = new ShuffleNarrow(spark, 4)
    try {
    def p0d(i: Int, name: String): Double =
      p0(i).getDouble(p0(i).fieldIndex(name))
    def p0Gram(i: Int, prefix: String): DenseMatrix[Double] = {
      val m = DenseMatrix.zeros[Double](p, p)
      for (j <- 0 until p; k <- j until p) {
        val v = p0d(i, s"${prefix}_${j}_$k"); m(j, k) = v; m(k, j) = v
      }
      m
    }
    def p0Vec(i: Int, prefix: String): DenseVector[Double] =
      DenseVector.tabulate(p)(j => p0d(i, s"${prefix}_$j"))

    val att = Array.fill(nCells)(0.0)
    val post = Array.fill(nCells)(0)
    val skipped = Array.fill(nCells)(false)
    val n1 = Array.fill(nCells)(0L)
    val meanW = Array.fill(nCells)(1.0)
    val live = cells.filterNot(_.zeroCell).map(_.idx).filter { i =>
      p0.get(i) match {
        case None => skipped(i) = true; false
        case Some(r) =>
          n1(i) = r.getLong(1)
          meanW(i) = r.getDouble(2) / r.getLong(1)
          val bad = r.getDouble(3) == 0.0 || r.getDouble(4) == 0.0
          if (bad) skipped(i) = true
          !bad
      }
    }
    if (live.isEmpty) {
      lf.unpersist()
      shuffleNarrow.restore()
      return (att, post, skipped,
        Seq.empty[(String, Int, Double)].toDF("rowid", "cell", "inf"),
        Some(Array.fill(nCells)(0.0)))
    }

    // per-cell constants join as a broadcast LocalRelation (CellConsts:
    // no collect job per pass, one hash probe per row)
    def dotArr(arr: Column): Column =
      (0 until p).map(j => xj(j) * element_at(arr, j + 1)).reduce(_ + _)

    // ---- IRLS propensity (dr, ipw) ------------------------------------
    val gamma = Array.fill(nCells)(DenseVector.zeros[Double](p))
    var psHessInv: Map[Int, DenseMatrix[Double]] = Map.empty
    if (estMethod != "reg") {
      var iter = 1 // first Newton step folded into pass 0 (gamma=0)
      var lastHess: Map[Int, DenseMatrix[Double]] = Map.empty
      var pending: Seq[Int] = live
      locally {
        val hb = Map.newBuilder[Int, DenseMatrix[Double]]
        val still = Seq.newBuilder[Int]
        live.foreach { i =>
          val mw = meanW(i)
          val h = (p0Gram(i, "gxT") + p0Gram(i, "gxC")) *:* (0.25 / mw)
          for (j <- 0 until p) h(j, j) = math.max(h(j, j), 1e-12)
          val g = (p0Vec(i, "gvT") - ((p0Vec(i, "gvT") + p0Vec(i, "gvC"))
            *:* 0.5)) /:/ mw
          val step = h \ g
          gamma(i) = step
          hb += i -> h
          if (breeze.linalg.max(step.map(math.abs)) > DistributedRc.IrlsTol) still += i
        }
        lastHess = hb.result()
        pending = still.result()
      }
      while (iter < DistributedRc.IrlsMaxIter && pending.nonEmpty) {
        val iw = col("w1") / col("mw")
        val mu = lit(1.0) / (lit(1.0) + exp(-dotArr(col("gam"))))
        val s = iw * mu * (lit(1.0) - mu)
        val z = iw * (col("dd") - mu)
        val aggs =
          (for (j <- 0 until p; k <- j until p)
            yield sum(s * xj(j) * xj(k)).as(s"h_${j}_$k")) ++
          (0 until p).map(j => sum(z * xj(j)).as(s"g_$j"))
        val rows = CellConsts.withConsts(lf, pending, Seq(
            "mw" -> (i => meanW(i)),
            "gam" -> (i => gamma(i).toArray.toSeq)))
          .groupBy("cell").agg(aggs.head, aggs.tail: _*)
          .collect().map(r => r.getInt(0) -> r).toMap
        val hb = Map.newBuilder[Int, DenseMatrix[Double]]
        val still = Seq.newBuilder[Int]
        pending.foreach { i =>
          val r = rows(i)
          val h = DenseMatrix.zeros[Double](p, p)
          var idx = 1
          for (j <- 0 until p; k <- j until p) {
            val v = if (j == k) math.max(r.getDouble(idx), 1e-12)
              else r.getDouble(idx)
            h(j, k) = v; h(k, j) = v; idx += 1
          }
          val g = DenseVector.tabulate(p)(j => r.getDouble(idx + j))
          val step = h \ g
          gamma(i) = gamma(i) + step
          hb += i -> h
          if (breeze.linalg.max(step.map(math.abs)) > DistributedRc.IrlsTol) still += i
        }
        lastHess = lastHess ++ hb.result()
        pending = still.result()
        iter += 1
      }
      psHessInv = lastHess.map { case (i, h) => i -> inv(h /:/ n1(i).toDouble) }
    }

    // ---- control Δy regression, from pass-0 Grams (no extra scan;
    // the iw = w1/mw scaling cancels in the solve)
    val bDelta = Array.fill(nCells)(DenseVector.zeros[Double](p))
    val xtxInvC = Array.fill(nCells)(DenseMatrix.zeros[Double](p, p))
    live.foreach { i =>
      val mw = meanW(i)
      val xtx = p0Gram(i, "gxC") *:* (1.0 / mw)
      val xty = p0Vec(i, "gyC") /:/ mw
      bDelta(i) = xtx \ xty
      xtxInvC(i) = inv(xtx /:/ n1(i).toDouble)
    }

    // ---- moment pass ---------------------------------------------------
    val momConsts: Seq[(String, Int => Any)] = Seq(
      "mw" -> (i => meanW(i)),
      "gam" -> (i => gamma(i).toArray.toSeq),
      "bDel" -> (i => bDelta(i).toArray.toSeq))
    val iw = col("w1") / col("mw")
    val one = lit(1.0)
    def ps: Column =
      least(one / (one + exp(-dotArr(col("gam")))), lit(1 - 1e-16))
    def outDelta: Column = dotArr(col("bDel"))
    def wTreat: Column = iw * col("dd")
    def wCont: Column = estMethod match {
      case "reg" => iw * col("dd")
      case _ => iw * (ps / (one - ps)) * (one - col("dd"))
    }
    def contTarget: Column = estMethod match {
      case "reg" => outDelta
      case "ipw" => col("dy")
      case _ => col("dy") - outDelta
    }
    def treatTarget: Column = estMethod match {
      case "dr" => col("dy") - outDelta
      case _ => col("dy")
    }
    val momAggs = Seq(
      sum(wTreat).as("mwT"), sum(wCont).as("mwC"),
      sum(wTreat * treatTarget).as("numT"),
      sum(wCont * contTarget).as("numC")) ++
      (0 until p).flatMap(j => Seq(
        sum(wTreat * xj(j)).as(s"mT_$j"),
        sum(wCont * xj(j)).as(s"mC_$j"),
        sum(wCont * contTarget * xj(j)).as(s"mCt_$j")))
    val momRows = CellConsts.withConsts(lf, live, momConsts)
      .groupBy("cell").agg(momAggs.head, momAggs.tail: _*)
      .collect().map(r => r.getInt(0) -> r).toMap

    final case class K(etaT: Double, etaC: Double, mwT: Double, mwC: Double,
        uWols: Seq[Double], uPs: Seq[Double])
    val z = Seq.fill(p)(0.0)
    val kk = Array.fill(nCells)(K(0, 0, 1, 1, z, z))
    live.foreach { i =>
      val r = momRows(i)
      val nc = n1(i).toDouble
      def d(ix: Int): Double = r.getDouble(ix) / nc
      val mwT = d(1); val mwC = d(2)
      val etaT = d(3) / mwT; val etaC = d(4) / mwC
      att(i) = etaT - etaC
      post(i) = cells(i).postTreat
      def vec(off: Int): DenseVector[Double] =
        DenseVector.tabulate(p)(j => r.getDouble(5 + 3 * j + off) / nc)
      val mT = vec(0); val mC = vec(1); val mCt = vec(2)
      estMethod match {
        case "dr" =>
          val uWols = xtxInvC(i) * ((mT *:* (-1.0 / mwT)) + (mC *:* (1.0 / mwC)))
          val m2 = mCt - (mC *:* etaC)
          val uPs = psHessInv(i) * (m2 *:* (-1.0 / mwC))
          kk(i) = K(etaT, etaC, mwT, mwC,
            uWols.toArray.toSeq, uPs.toArray.toSeq)
        case "ipw" =>
          val m = mCt - (mC *:* etaC)
          val uPs = psHessInv(i) * (m *:* (-1.0 / mwC))
          kk(i) = K(etaT, etaC, mwT, mwC, z, uPs.toArray.toSeq)
        case _ => // reg: repWols coeff = -colMeansW(wCont)/mwC
          val uWols = xtxInvC(i) * (mC *:* (-1.0 / mwC))
          kk(i) = K(etaT, etaC, mwT, mwC, uWols.toArray.toSeq, z)
      }
    }

    // ---- final pass: per-row IF (with the n/n1 rescale) ----------------
    val ifConsts: Seq[(String, Int => Any)] = momConsts ++ Seq[
        (String, Int => Any)](
      "etaT" -> (i => kk(i).etaT), "etaC" -> (i => kk(i).etaC),
      "mwT" -> (i => kk(i).mwT), "mwC" -> (i => kk(i).mwC),
      "uWols" -> (i => kk(i).uWols), "uPs" -> (i => kk(i).uPs),
      "scale" -> (i => nTotal.toDouble / n1(i)))

    val wolsScore = iw * (one - col("dd")) * (col("dy") - outDelta)
    val psScore = iw * (col("dd") - ps)
    val infBase =
      (wTreat * (treatTarget - col("etaT"))) / col("mwT") -
      (wCont * (contTarget - col("etaC"))) / col("mwC")
    val infNuis = estMethod match {
      case "dr" => wolsScore * dotArr(col("uWols")) + psScore * dotArr(col("uPs"))
      case "ipw" => psScore * dotArr(col("uPs"))
      case _ => wolsScore * dotArr(col("uWols"))
    }
    // Materialize off the cached lf before dropping it (see DistributedRc);
    // the materializing action doubles as the analytic-SE aggregation.
    // (rowid, cell) is UNIQUE here — panelWide already pivoted to one
    // row per (unit, cell) — so the IF table is a pure projection; a
    // groupBy(rowid, cell) would be an identity aggregation costing a
    // full O(rows) shuffle.
    val ifRows = CellConsts.withConsts(lf, live, ifConsts)
      .select(col("rowid"), col("cell"),
        ((infBase + infNuis) * col("scale")).as("inf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seSS = Array.fill(nCells)(0.0)
    ifRows.groupBy("cell").agg(sum(col("inf") * col("inf")).as("ss"))
      .collect().foreach(r => seSS(r.getInt(0)) = r.getDouble(1))
    lf.unpersist()
    shuffleNarrow.restore()

    (att, post, skipped, ifRows, Some(seSS))
    } finally shuffleNarrow.restore() // no-op unless an exception skipped it
  }
}
