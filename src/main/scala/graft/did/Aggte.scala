package graft.did

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregation of the ATT(g,t) surface (`compute_aggte`,
  * `csdids/ATTgt.py:519-878`): `simple`, `group` (cohort), `calendar`,
  * plus `dynamic` (event study) — accepted-but-unimplemented in the
  * reference (SURVEY.md §2.9), implemented here as a flagged extension
  * with the R `did` package semantics.
  *
  * All influence-function algebra runs distributed on the sparse
  * long-form IF table; only K-sized vectors ever reach the driver. The
  * weight-estimation influence (`wif`, `csdids/utils_aggte.py:7-36`)
  * reduces to a per-unit closed form
  * `wbar * (attW(gbar)/S - c2 * cnt(gbar))` over small broadcast
  * cohort->coefficient maps, so it is one `when`-chain column, not a
  * matrix product.
  *
  * Intended-semantics notes (SURVEY.md §7.5): the reference's overall
  * `group` wif indexes cohorts through the first nG cells
  * (`csdids/ATTgt.py:745-749`) — we use glist, the R `did` semantics.
  * Group per-cohort point estimates are UNWEIGHTED means of ATT(g,t) but
  * their IFs are pg-weighted, exactly as in the reference (`:694,701`).
  */
object Aggte {

  final case class Prep(
      fit: AttGtFit,
      units: DataFrame,      // rowid (string), wbar, gbar — persisted small
      group: Array[Double],  // recoded per-cell cohort index
      t: Array[Double],      // recoded per-cell period index
      glist: Array[Double],  // recoded cohorts
      tlistR: Array[Double], // recoded periods present in cells
      origGlist: Array[Double],
      pgByCohort: Map[Double, Double], // original cohort -> pg
      pg: Array[Double],     // per-cell pg
      origCohortOfCell: Array[Double],
      n: Long,
      cellIds: Array[Int],   // position -> ifTable cell id (na_rm shifts)
      attCell: Array[Double],
      naRm: Boolean) {
    def att(k: Int): Double = attCell(k)
  }

  /** `naRm` drops cells whose ATT estimate is NaN before aggregating
    * (`csdids/ATTgt.py:565-590`); without it any NaN raises, like the
    * reference. Skipped-degenerate cells carry att=0 (reference
    * `add_att_data()` default) and are NOT pruned. */
  def prepare(fit: AttGtFit, naRm: Boolean = false): Prep = {
    val pp = fit.pp
    // Per-unit weights and cohort (`csdids/ATTgt.py:591-601`).
    val units0 =
      if (pp.panel)
        pp.df.filter(col("tt") === pp.tlist.head)
          .select(col("rowid").cast("string").as("rowid"),
            col("w1").as("wbar"), col("gg").as("gbar"))
      else
        pp.df.groupBy(col("rowid").cast("string").as("rowid"))
          .agg(avg("w1").as("wbar"), avg("gg").as("gbar"))
    val units = units0.persist()

    // na_rm pruning (`csdids/ATTgt.py:565-590`) or NaN rejection.
    val keep = fit.cells.indices.filter(i => !fit.att(i).isNaN).toArray
    if (!naRm && keep.length != fit.cells.length)
      throw new IllegalArgumentException(
        "Missing values at att_gt found. If you want to remove these, set naRm = true.")

    // orig2t recode (`csdids/ATTgt.py:604-629`).
    val origCohort = keep.map(i => fit.cells(i).g)
    val origT = keep.map(i => fit.cells(i).tn)
    val attCell = keep.map(fit.att)
    val gtlist = (pp.tlist ++ pp.glist).distinct.sorted
    val orig2t = gtlist.zipWithIndex.map { case (v, i) => v -> i.toDouble }.toMap
    val group = origCohort.map(orig2t)
    val t = origT.map(orig2t)
    val keptCohorts = origCohort.distinct.sorted.toSeq
    val glist = pp.glist.filter(keptCohorts.contains).map(orig2t).toArray
    val tlistR = t.distinct.sorted

    // pg: cohort probability weights pg[g] = mean(wbar * 1{gbar==g})
    // (`csdids/ATTgt.py:637-646`) — one groupBy pass. One generated agg
    // column per cohort would be the same single pass but blows up
    // codegen at many cohorts (10k cohorts = 10k expressions).
    val n = pp.n
    val sums = units.groupBy("gbar").agg(sum("wbar").as("sw")).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val pgByCohort =
      pp.glist.map(g => g -> sums.getOrElse(g, 0.0) / n).toMap
    val pg = origCohort.map(pgByCohort)
    val origGlist = pp.glist.filter(keptCohorts.contains).toArray

    Prep(fit, units, group, t, glist, tlistR, origGlist,
      pgByCohort, pg, origCohort, n, keep, attCell, naRm)
  }

  /** wif coefficients for one aggregation over `keepers`
    * (`get_weight_influence_aggregate`, `csdids/utils_aggte.py:7-36`):
    * the per-unit weight-estimation influence reduces to
    * `wbar * coef(gbar)` with `coef(g) = attW(g)/s - c2 * cnt(g)` —
    * a tiny cohort->coefficient map, not a matrix product. */
  private def wifCoefFor(p: Prep, keepers: Seq[Int]): Map[Double, Double] = {
    val s = keepers.map(p.pg).sum
    val byG = keepers.groupBy(k => p.origCohortOfCell(k))
    val c2 = keepers.map(k => p.att(k) * p.pg(k)).sum / (s * s)
    byG.map { case (g, ks) =>
      g -> (ks.map(k => p.att(k)).sum / s - c2 * ks.size)
    }
  }

  /** Family of aggregated per-unit influence functions, ONE pass for all
    * members (`get_agg_inf_func`, `utils_aggte.py:38-50`, batched):
    * member m has `IF_m(unit) = sum_cells wt*inf + wbar*coef_m(gbar)`.
    * Returns long-form (rowid, midx, v); units touched only by the wif
    * term still appear (union-aggregate, no outer join needed). */
  private def familyIF(p: Prep,
      cellWts: Seq[(Int, Int, Double)],      // (cell, midx, wt)
      wifCoefs: Seq[(Int, Double, Double)])  // (midx, cohort g, coef)
      : DataFrame = {
    val spark = p.fit.ifTable.sparkSession
    import spark.implicits._
    // positions -> ifTable cell ids (differ after na_rm pruning)
    val wdf = cellWts.map { case (k, m, w) => (p.cellIds(k), m, w) }
      .toDF("cell", "midx", "wt")
    // ONE shuffle keyed (rowid, midx): the raw weighted-IF rows union
    // the wif rows BEFORE the aggregation — a pre-aggregated base would
    // shuffle the same data twice on the same keys.
    val base = p.fit.ifTable.join(broadcast(wdf), "cell")
      .select(col("rowid"), col("midx"), (col("inf") * col("wt")).as("v"))
    val rows =
      if (wifCoefs.isEmpty) base
      else {
        val cdf = wifCoefs.toDF("midx", "cg", "coef")
        val wifRows = p.units.join(broadcast(cdf), col("gbar") === col("cg"))
          .select(col("rowid"), col("midx"),
            (col("wbar") * col("coef")).as("v"))
        base.union(wifRows)
      }
    rows.groupBy("rowid", "midx").agg(sum("v").as("v"))
      .select("rowid", "midx", "v")
  }

  /** Per-member SEs from a familyIF frame (`get_se`,
    * `utils_aggte.py:53-66`): analytic `sqrt(sum IF^2)/n` in one
    * aggregation, or one COMBINED seeded multiplier bootstrap (per-member
    * IQR SEs are column-independent, so one run over all members is
    * statistically identical to the reference's per-column calls),
    * clustered like the fit's own bootstrap. */
  private def familySe(p: Prep, fam: DataFrame, nMembers: Int,
      bs: Boolean): Array[Double] = {
    val out = Array.fill(nMembers)(Double.NaN)
    if (bs) {
      val r = MBoot.runFor(p.fit.pp, asCells(fam), nMembers)
      r.se.copyToArray(out)
    } else {
      fam.groupBy("midx").agg(sum(col("v") * col("v")).as("ss")).collect()
        .foreach(r => out(r.getInt(0)) = math.sqrt(r.getDouble(1)) / p.n)
    }
    out.map(se => if (se <= Stats.DegenerateTol) Double.NaN else se)
  }

  /** A familyIF frame in MBoot's (rowid, cell, inf) layout. */
  private def asCells(fam: DataFrame): DataFrame =
    fam.select(col("rowid"), col("midx").as("cell"), col("v").as("inf"))

  /** Sup-t critical value over members 0..k-1 of `fam`, bootstrapped
    * like [[familySe]], with the reference's clamps. */
  private def cbandCritVal(p: Prep, fam: DataFrame, k: Int): Double = {
    val c = MBoot.runFor(p.fit.pp, asCells(fam.filter(col("midx") < k)), k)
      .critVal
    clampCritVal(c, Stats.normPpf(1 - p.fit.pp.config.alp / 2))
  }

  def simple(p: Prep, maxE: Double = Double.PositiveInfinity,
      bstrap: Option[Boolean] = None): AggteResult = {
    val bs = bstrap.getOrElse(p.fit.bstrap)
    val keepers = p.group.indices
      .filter(i => p.group(i) <= p.t(i) && p.t(i) <= p.group(i) + maxE)
    val s = keepers.map(p.pg).sum
    val att = keepers.map(k => p.att(k) * p.pg(k)).sum / s
    val fam = familyIF(p,
      keepers.map(k => (k, 0, p.pg(k) / s)),
      wifCoefFor(p, keepers).toSeq.map { case (g, c) => (0, g, c) })
    val se = familySe(p, fam, 1, bs)(0)
    AggteResult("simple", att, se, Nil, Nil, Nil,
      Stats.normPpf(1 - p.fit.pp.config.alp / 2), p.fit.pp.config.alp)
  }

  /** Sup-t critical-value clamps, reference parity
    * (`csdids/ATTgt.py:727-740`): NaN/inf -> pointwise, below-pointwise ->
    * pointwise, and >= 7 kept but flagged as unreliable. */
  private[did] def clampCritVal(c: Double, z: Double): Double =
    if (c.isNaN || c.isInfinite) {
      System.err.println(
        "[graft.did] Simultaneous critical value is NA (std errors may be " +
          "NA); reporting pointwise confidence intervals.")
      z
    } else if (c < z) {
      System.err.println(
        "[graft.did] Simultaneous conf. band is smaller than the pointwise " +
          "one; reporting pointwise confidence intervals.")
      z
    } else {
      if (c >= 7)
        System.err.println(
          "[graft.did] Simultaneous critical value is arguably 'too large' " +
            "to be reliable. This usually happens when the number of " +
            "observations per group is small and/or there is not much " +
            "variation in outcomes.")
      c
    }

  def group(p: Prep, maxE: Double = Double.PositiveInfinity,
      bstrap: Option[Boolean] = None, cband: Option[Boolean] = None)
      : AggteResult = {
    val cfg = p.fit.pp.config
    val bs = bstrap.getOrElse(p.fit.bstrap)
    val cb = cband.getOrElse(p.fit.pp.cband)
    val nG = p.origGlist.length

    // per-cohort members 0..nG-1 (`selective_inf_func_g`,
    // `csdids/ATTgt.py:698-715`): pg-weighted cell IFs, no wif
    val perG = p.origGlist.indices.map { gi =>
      val g = p.glist(gi)
      val which = p.group.indices.filter(i =>
        p.group(i) == g && p.t(i) >= g && p.t(i) <= p.group(i) + maxE)
      (gi, which, which.map(p.pg).sum)
    }
    val attEgt = perG.map { case (_, which, _) =>
      which.map(p.att).sum / which.size
    }.toArray

    // overall member nG: pgg-weighted mean of cohort IFs + cohort-level
    // wif (`csdids/ATTgt.py:717-760` intended semantics, SURVEY.md §7.5)
    val pgg = p.origGlist.map(p.pgByCohort)
    val sAll = pgg.sum
    val overallAtt =
      p.origGlist.indices.map(i => attEgt(i) * pgg(i)).sum / sAll
    val c2 = p.origGlist.indices.map(i => attEgt(i) * pgg(i)).sum /
      (sAll * sAll)
    val overallWts = perG.flatMap { case (gi, which, s) =>
      which.map(k => (k, nG, p.pg(k) / s * pgg(gi) / sAll))
    }
    val overallWif = p.origGlist.indices.map(gi =>
      (nG, p.origGlist(gi), attEgt(gi) / sAll - c2))

    val cellWts = perG.flatMap { case (gi, which, s) =>
      which.map(k => (k, gi, p.pg(k) / s))
    } ++ overallWts
    val fam = familyIF(p, cellWts, overallWif).persist()
    val ses = familySe(p, fam, nG + 1, bs)
    val seEgt = ses.take(nG)
    val se = ses(nG)

    val critEgt =
      if (cb) cbandCritVal(p, fam, nG) else Stats.normPpf(1 - cfg.alp / 2)
    fam.unpersist()
    AggteResult("group", overallAtt, se, p.origGlist.toSeq, attEgt.toSeq,
      seEgt.toSeq, critEgt, cfg.alp)
  }

  def calendar(p: Prep, bstrap: Option[Boolean] = None,
      cband: Option[Boolean] = None): AggteResult = {
    val cfg = p.fit.pp.config
    val bs = bstrap.getOrElse(p.fit.bstrap)
    val cb = cband.getOrElse(p.fit.pp.cband)

    val minG = p.group.min
    val calT = p.tlistR.filter(_ >= minG)
    val gtlist = (p.fit.pp.tlist ++ p.fit.pp.glist).distinct.sorted
    def t2orig(r: Double): Double = gtlist(r.toInt)
    val nT = calT.length

    val perT = calT.map { t1 =>
      val which = p.t.indices.filter(i => p.t(i) == t1 && p.group(i) <= p.t(i))
      val s = which.map(p.pg).sum
      val att = which.map(k => p.att(k) * p.pg(k)).sum / s
      (t1, which, s, att)
    }

    // per-period members 0..nT-1 with wif (`csdids/ATTgt.py:798-812`);
    // overall member nT = unweighted mean over periods (`:814-818`)
    val cellWts = perT.zipWithIndex.flatMap { case ((_, which, s, _), ti) =>
      which.map(k => (k, ti, p.pg(k) / s))
    } ++ perT.zipWithIndex.flatMap { case ((_, which, s, _), _) =>
      which.map(k => (k, nT, p.pg(k) / s / nT))
    }
    val perTWif = perT.zipWithIndex.map { case ((_, which, _, _), ti) =>
      ti -> wifCoefFor(p, which)
    }
    val wifCoefs = perTWif.flatMap { case (ti, m) =>
      m.toSeq.map { case (g, c) => (ti, g, c) }
    } ++ perTWif.flatMap(_._2.toSeq)
      .groupBy(_._1)
      .map { case (g, cs) => (nT, g, cs.map(_._2).sum / nT) }

    val fam = familyIF(p, cellWts, wifCoefs).persist()
    val ses = familySe(p, fam, nT + 1, bs)
    val seEgt = ses.take(nT)
    val se = ses(nT)

    val critEgt =
      if (cb) cbandCritVal(p, fam, nT) else Stats.normPpf(1 - cfg.alp / 2)
    fam.unpersist()

    val overallAtt = perT.map(_._4).sum / nT
    AggteResult("calendar", overallAtt, se, perT.map(t => t2orig(t._1)),
      perT.map(_._4), seEgt.toSeq, critEgt, cfg.alp)
  }

  /** Event-study aggregation — EXTENSION: validated-but-unimplemented in
    * the reference (`csdids/ATTgt.py:559-560`, SURVEY.md §2.9). R `did`
    * semantics: per event time e = t - g, pg-weighted mean of ATT(g,t);
    * overall = unweighted mean over e >= 0.
    *
    * `balanceE` (R `did`'s balance_e): restrict to cohorts observed for
    * at least `balanceE` post-treatment periods and clip the event
    * window to e <= balanceE — the post-treatment composition is then
    * constant across event times, so the dynamic profile is not
    * confounded by cohorts entering/leaving the sample.
    * `cband` draws the sup-t simultaneous band over event times with
    * the reference's crit-val clamps. */
  def dynamic(p: Prep, minE: Double = Double.NegativeInfinity,
      maxE: Double = Double.PositiveInfinity,
      balanceE: Option[Double] = None,
      bstrap: Option[Boolean] = None,
      cband: Option[Boolean] = None): AggteResult = {
    val cfg = p.fit.pp.config
    val bs = bstrap.getOrElse(p.fit.bstrap)
    val cb = cband.getOrElse(p.fit.pp.cband)

    // balanced-composition restriction: cohorts whose last observed
    // event time reaches balanceE, window clipped to [minE', balanceE]
    val (keepIdx, effMaxE) = balanceE match {
      case None => (p.t.indices.toIndexedSeq, maxE)
      case Some(be) =>
        val lastE = p.t.indices.groupBy(i => p.group(i))
          .map { case (g, is) => g -> is.map(i => p.t(i) - p.group(i)).max }
        val keep = p.t.indices.filter(i => lastE(p.group(i)) >= be)
        (keep.toIndexedSeq, math.min(maxE, be))
    }

    val eAll = keepIdx.map(i => p.t(i) - p.group(i))
    val eseq = eAll.distinct.sorted.filter(e => e >= minE && e <= effMaxE)
    val nE = eseq.length
    require(nE > 0, "no event times left after minE/maxE/balanceE")
    val perE = eseq.map { e =>
      val which = keepIdx.filter(i => p.t(i) - p.group(i) == e)
      val s = which.map(p.pg).sum
      val att = which.map(k => p.att(k) * p.pg(k)).sum / s
      (e, which, s, att)
    }
    val post = perE.filter(_._1 >= 0)
    val overallAtt = post.map(_._4).sum / post.length
    // overall member nE: mean over post event times of their per-e IFs,
    // each carrying its own wif (R `did`; like calendar's overall)
    val wOverall = post.flatMap { case (_, which, s, _) =>
      which.map(k => k -> p.pg(k) / s / post.length)
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }

    val cellWts = perE.zipWithIndex.flatMap { case ((_, which, s, _), ei) =>
      which.map(k => (k, ei, p.pg(k) / s))
    } ++ wOverall.toSeq.map { case (k, w) => (k, nE, w) }
    val perEWif = perE.map { case (_, which, _, _) => wifCoefFor(p, which) }
    val wifCoefs = perEWif.zipWithIndex.flatMap { case (m, ei) =>
      m.toSeq.map { case (g, c) => (ei, g, c) }
    } ++ perE.indices.filter(ei => perE(ei)._1 >= 0)
      .flatMap(ei => perEWif(ei).toSeq)
      .groupBy(_._1)
      .map { case (g, cs) => (nE, g, cs.map(_._2).sum / post.length) }

    val fam = familyIF(p, cellWts, wifCoefs).persist()
    val ses = familySe(p, fam, nE + 1, bs)
    val critEgt =
      if (cb) cbandCritVal(p, fam, nE) else Stats.normPpf(1 - cfg.alp / 2)
    fam.unpersist()
    AggteResult("dynamic", overallAtt, ses(nE), perE.map(_._1),
      perE.map(_._4), ses.take(nE).toSeq, critEgt, cfg.alp)
  }
}
