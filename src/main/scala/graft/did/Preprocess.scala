package graft.did

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Preprocessed panel with driver-side metadata.
  *
  * `df` is persisted and carries canonical columns:
  * `rowid, tt (time), yy (outcome), gg (cohort), w, w1` plus the covariate
  * columns named as in the input. `panel=false` means the repeated
  * cross-section code path (the reference's default regime after the
  * unbalanced-panel downgrade, `csdids/ATTgt.py:162-166`).
  */
final case class PreprocessedPanel(
    df: DataFrame,
    tlist: Vector[Double],
    glist: Vector[Double],
    n: Long,
    nG: Int,
    nT: Int,
    panel: Boolean,
    trueRepCrossSection: Boolean,
    cband: Boolean,
    config: AttGtConfig) {
  def unpersist(): Unit = { df.unpersist(); () }
}

/** Replicates `_preprocess_did` (`csdids/ATTgt.py:57-231`) with the
  * reference's ~13 separate actions batched into a handful of aggregate
  * passes and the result persisted once (SURVEY.md §4).
  *
  * Intended-semantics divergences (SURVEY.md §7.5): `_w` is always kept
  * (the reference drops it when `weights_name` is set — column-list bug);
  * tlist/glist are recomputed after the never-treated recode; warnings go
  * to stderr, errors are real exceptions.
  */
object Preprocess {

  /** `df` persisted MEMORY_AND_DISK, unless its plan is already cached,
    * by the path that built it or by an identical computation a caller
    * still holds: persisting again is a no-op that Spark warns about. */
  private[did] def persistOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    else df

  def run(data: DataFrame, cfg: AttGtConfig): PreprocessedPanel =
    // Runs directly on the caller's session, mutating NO conf — so no
    // session scoping is needed (AttGt.fit clones because it genuinely
    // toggles confs mid-fit). AQE is deliberately left at the caller's
    // setting: unlike the fit's K-row internal passes, preprocess
    // actions execute the CALLER's input plan, which often carries real
    // shuffles (e.g. a groupBy-built panel view), and AQE's post-shuffle
    // coalescing measurably helps there — forcing it off cost ~35% per
    // action at sf0.1 (BENCH_NOTES r4). Thread-safe by virtue of
    // touching nothing session-global.
    runInner(data, cfg)

  private def runInner(data: DataFrame, cfg: AttGtConfig): PreprocessedPanel = {
    val spark = data.sparkSession
    import cfg._
    // NOTE: no shuffle-partition toggle here, deliberately — the
    // caller's input plan may carry shuffles (e.g. a window-built panel
    // view), and the FIRST action below materializes the projected
    // cache, which would pin that lineage at the reduced partition
    // count and serialize every downstream pass over pp.df.

    // Project role columns; synthesize _w / _intercept (ATTgt.py:74-98).
    // Persist the projected frame IMMEDIATELY: every subsequent action
    // (counts, distinct lists, max(t), cohort sizes) otherwise recomputes
    // the caller's input plan from scratch — the reference's #1 cost
    // (SURVEY.md §4 "caching: none").
    val covs = cfg.covariates.filter(_ != Formula.InterceptCol)
    val roleCols =
      (Seq(idname, tname, yname, gname) ++ clustervar.toSeq ++ covs).distinct
    val projected = persistOnce(data
      .withColumn("w", weightsName.map(col).getOrElse(lit(1.0)).cast("double"))
      .select((roleCols.map(col) :+ col("w")): _*))
    // ONE action: total rows + all-null rows (the `na.drop('all')`
    // diagnostic, ATTgt.py:98-102) + the time/cohort cardinality guard —
    // also materializes the cache.
    val allNull = (roleCols.map(c => col(c).isNull) :+ col("w").isNull)
      .reduce(_ && _)
    val cntRow = projected.agg(count(lit(1)),
      count(when(allNull, 1)),
      approx_count_distinct(col(tname).cast("double")),
      approx_count_distinct(col(gname).cast("double"))).first()
    val nPre = cntRow.getLong(0)
    val nDropped = cntRow.getLong(1)
    // Cardinality guard BEFORE any collect_set: collecting a
    // continuous-valued time/cohort column would OOM the driver, and the
    // staggered-DiD grid is only meaningful for small |tlist|x|glist|.
    val MaxPeriods = 10000L
    require(cntRow.getLong(2) <= MaxPeriods && cntRow.getLong(3) <= MaxPeriods,
      s"'$tname'/'$gname' look continuous (~${cntRow.getLong(2)}/" +
        s"${cntRow.getLong(3)} distinct values); ATT(g,t) needs ordinal " +
        "periods and cohorts")
    if (nDropped != 0)
      System.err.println(
        s"[graft.did] Dropped $nDropped rows from original data due to missing data")

    var df = projected
      .na.drop("all")
      .withColumn(Formula.InterceptCol, lit(1.0))

    // Canonical numeric roles.
    df = df
      .withColumn("tt", col(tname).cast("double"))
      .withColumn("yy", col(yname).cast("double"))
      .withColumn("gg", col(gname).cast("double"))

    // ONE pass for the distinct lists AND the per-cohort stats: the
    // group keys ARE the cohort list, the union of the per-cohort
    // period sets IS tlist (each set bounded by the cardinality guard
    // above), and the counts feed the first-period drop (ATTgt.py:
    // 135-156), the unit count n (:188), and the small-group warning
    // (:199-216). The reference runs ~5 separate actions for these; the
    // r3 engine ran 2 (lists + stats); this is 1 scan. The grand totals
    // derive driver-side — gg is a function of the unit, so per-cohort
    // distinct-unit counts partition the unit set. (rollup(gg) would
    // fold the totals in-engine, but Spark's ambiguous-self-join check
    // misfires on rollup's Expand whenever the input lineage contains
    // ANY join.)
    def cohortScan(d: DataFrame)
        : (Vector[Double], Map[Double, (Long, Long)]) = {
      // null-cohort rows STAY in the scan: their periods belong in
      // tlist (the reference's tlist_glist is distinct() over all
      // rows), so a period appearing only on missing-cohort rows must
      // still shift maxT and the never-treated recode. groupBy keeps
      // the null gg as its own group; only the per-cohort stats map
      // skips it below.
      val rows = d
        .filter(col("tt").isNotNull)
        .groupBy("gg")
        .agg(count(lit(1)).as("cnt"),
          count_distinct(col(idname)).as("uids"),
          collect_set("tt").as("tts"))
        .collect()
      val t = rows.iterator.flatMap(_.getSeq[Double](3))
        .toVector.distinct.sorted
      (t, rows.filter(!_.isNullAt(0)).map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2))).toMap)
    }
    // never-treated recode (ATTgt.py:111-118) applied to scan results:
    // cohorts past maxT merge into 0.0 — their unit sets are disjoint
    // (gg is unit-level), so counts add
    def recoded(per: Map[Double, (Long, Long)], mt: Double)
        : Map[Double, (Long, Long)] =
      per.groupMapReduce { case (g, _) => if (g > mt) 0.0 else g }(_._2) {
        case ((c1, u1), (c2, u2)) => (c1 + c2, u1 + u2)
      }

    var (tlist, perRaw) = cohortScan(df)
    val maxT = tlist.last
    df = df.withColumn("gg", when(col("gg") > maxT, 0.0).otherwise(col("gg")))
    var perCohort = recoded(perRaw, maxT)
    var glistAll = perCohort.keys.toVector.sorted

    // No never-treated units (ATTgt.py:120-128).
    if (!glistAll.contains(0.0)) {
      if (controlGroup == "nevertreated")
        throw new IllegalArgumentException(
          "There is no available never-treated group; set controlGroup='notyettreated'")
      val cut = glistAll.max - anticipation
      df = df.filter(col("tt") < cut)
      val scan = cohortScan(df)
      tlist = scan._1
      perCohort = recoded(scan._2, maxT) // no-op remap: gg already recoded
      // tlist_glist(_filter=True): drop cohorts >= max cohort
      // (utils.py:41-43) from the GRID list; the stats keep every
      // cohort, as the post-branch stats pass always did
      glistAll = perCohort.keys.toVector.filter(_ < perCohort.keys.max)
        .sorted
    }

    var fp = tlist.head
    var glist = glistAll.filter(g => g > 0 && g > fp + anticipation)
    def totRows: Long = perCohort.values.iterator.map(_._1).sum
    def totUnits: Long = perCohort.values.iterator.map(_._2).sum

    // Drop units already treated in the first period (ATTgt.py:135-156).
    val nFirstPeriod = perCohort.collect {
      case (g, (cnt, uids)) if g != 0.0 && g <= fp =>
        if (panel && !allowUnbalancedPanel) cnt else uids
    }.sum
    if (nFirstPeriod > 0) {
      System.err.println(
        s"[graft.did] Dropped $nFirstPeriod units that were already treated in the first period.")
      val keep = glist :+ 0.0
      df = df.filter(col("gg").isin(keep: _*))
      val scan = cohortScan(df)
      tlist = scan._1
      fp = tlist.head
      perCohort = recoded(scan._2, maxT)
      glist = perCohort.keys.toVector.sorted
        .filter(g => g > 0 && g > fp + anticipation)
    }

    // Regime selection (ATTgt.py:158-188). Default flags downgrade
    // panel+unbalanced to the cross-section path with rowid := id.
    var effPanel = panel
    var trueRcs = !panel
    if (panel && allowUnbalancedPanel) { effPanel = false; trueRcs = false }

    if (trueRcs) {
      // Fresh sample each period: synthesize a stable row id. A bare
      // monotonically_increasing_id is non-deterministic across
      // recomputation (SURVEY.md §2.2) — persist immediately to pin it.
      df = persistOnce(df.withColumn("rowid", monotonically_increasing_id()))
    } else {
      df = df.withColumn("rowid", col(idname))
    }

    df = persistOnce(df.withColumn("w1", col("w")))

    // Unit count n (ATTgt.py:188): the default regimes read the single
    // cohort-scan's totals; only the NON-default balanced-panel regime
    // pays one extra count action (rows at the first period), which
    // doubles as the final-cache materializer there.
    val n =
      if (effPanel) df.filter(col("tt") === fp).count()
      else if (trueRcs) totRows // every row is its own unit
      else totUnits

    if (glist.isEmpty)
      throw new IllegalArgumentException(
        s"No valid groups. '$gname' should be the period a unit is first treated (0 if never).")

    var effCband = cband
    if (tlist.length == 2) effCband = false

    val nCov = cfg.covariates.length
    val reqSize = nCov + 5
    val small = perCohort.collect {
      case (g, (cnt, _)) if cnt.toDouble / tlist.length < reqSize => g
    }.toSeq.sorted
    if (small.nonEmpty) {
      System.err.println(
        s"[graft.did] Small groups in data; check cohorts: ${small.mkString(",")}")
      if (small.contains(0.0) && controlGroup == "nevertreated")
        throw new IllegalArgumentException(
          "Never-treated group is too small, try controlGroup='notyettreated'.")
    }

    // Materialize the final cache in one pass BEFORE dropping the
    // intermediate projection it derives from (recomputing from source
    // would redo the caller's input plan), and to pin rowid in the
    // trueRcs regime (monotonically_increasing_id must never recompute).
    df.count()
    projected.unpersist()

    PreprocessedPanel(df, tlist, glist, n, glist.length, tlist.length,
      effPanel, trueRcs, effCband, cfg)
  }
}
