package graft.did

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
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
  * reference's ~13 separate actions batched into three Spark jobs and
  * the result persisted once (SURVEY.md §4).
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

  /** Largest number of distinct periods, of distinct cohorts, and of
    * distinct (cohort, period) pairs a panel may hold. */
  private val MaxPeriods = 10000
  private val MaxPairs = 1000000

  /** Runs on the caller's session and sets no conf on it. AQE stays at
    * the caller's setting: the first pass executes the CALLER's input
    * plan, which often carries real shuffles (e.g. a groupBy-built panel
    * view), and AQE's post-shuffle coalescing measurably helps there —
    * forcing it off cost ~35% per action at sf0.1 (BENCH_NOTES r4).
    *
    * Three Spark jobs, folded into driver-side maps instead of SQL
    * aggregates, so a run generates little code: one pass counts rows per
    * (cohort, period), one shuffle finds each unit's first period within
    * its cohort, and one pass materializes the result. Every later step —
    * the never-treated recode, the period cut when no unit is never
    * treated, the first-period drop, the unit count n — is arithmetic on
    * those two maps. */
  def run(data: DataFrame, cfg: AttGtConfig): PreprocessedPanel = {
    import cfg._

    // Project role columns; synthesize _w / _intercept (ATTgt.py:74-98).
    // Persist the projected frame IMMEDIATELY: both passes below
    // otherwise recompute the caller's input plan from scratch — the
    // reference's #1 cost (SURVEY.md §4 "caching: none").
    val covs = cfg.covariates.filter(_ != Formula.InterceptCol)
    val roleCols =
      (Seq(idname, tname, yname, gname) ++ clustervar.toSeq ++ covs).distinct
    val projected = persistOnce(data
      .withColumn("w", weightsName.map(col).getOrElse(lit(1.0)).cast("double"))
      .select((roleCols.map(col) :+ col("w")): _*))
    val tCol = col(tname).cast("double")
    val gCol = col(gname).cast("double")

    // Pass 1 (also materializes the projection): all-null rows (the
    // `na.drop('all')` diagnostic, ATTgt.py:98-102), incomplete rows, and
    // rows per (cohort, period) — a null cohort is its own group, because
    // the reference's tlist is distinct() over all rows. A continuous-
    // valued period or cohort column would flood the driver, and the
    // staggered-DiD grid is only meaningful for small |tlist| x |glist|,
    // so a partition stops collecting past the caps and the run fails.
    //
    // Complete cases (R `did`'s pre_process_did): a row with a null id
    // (except in the true repeated cross section, which synthesizes
    // rowid), outcome, weight, cluster or covariate is dropped, so every
    // fit path and the influence store see the same rows. Null periods
    // and cohorts stay: null-cohort rows shape tlist, and no cell takes
    // either.
    val allNull = (roleCols.map(c => col(c).isNull) :+ col("w").isNull)
      .reduce(_ && _)
    val required = (if (panel) Seq(idname) else Nil) ++
      (Seq(yname) ++ clustervar.toSeq ++ covs :+ "w")
    val incomplete = required.distinct.map(c => col(c).isNull).reduce(_ || _)
    // both passes read this one projection: one scan plan to generate
    val roles = projected.select(gCol, tCol, allNull, incomplete, col(idname))
      .queryExecution.toRdd
    val counted = Phase(data.sparkSession.sparkContext, "Preprocess.run/counts") {
      roles.mapPartitions { rows =>
        val m = mutable.LinkedHashMap.empty[(Option[Double], Double), Long]
        val ts = mutable.HashSet.empty[Double]
        val gs = mutable.HashSet.empty[Option[Double]]
        var dropped = 0L
        var partial = 0L
        var over = false
        rows.foreach { r =>
          if (r.getBoolean(2)) dropped += 1
          else if (r.getBoolean(3)) partial += 1
          else if (!over && !r.isNullAt(1)) {
            val key = (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
              r.getDouble(1))
            m(key) = m.getOrElse(key, 0L) + 1
            ts += key._2; gs += key._1
            over = ts.size > MaxPeriods || gs.size > MaxPeriods ||
              m.size > MaxPairs
          }
        }
        Iterator.single((dropped, partial, over, m.toMap))
      }.collect()
    }
    val nDropped = counted.map(_._1).sum
    val nIncomplete = counted.map(_._2).sum
    val raw = counted.foldLeft(Map.empty[(Option[Double], Double), Long]) {
      case (acc, (_, _, _, m)) => addAll(acc, m)
    }
    require(!counted.exists(_._3) &&
        raw.keys.map(_._2).toSet.size <= MaxPeriods &&
        raw.keys.map(_._1).toSet.size <= MaxPeriods && raw.size <= MaxPairs,
      s"'$tname'/'$gname' look continuous (over $MaxPeriods distinct " +
        s"periods or cohorts, or $MaxPairs (cohort, period) pairs); " +
        "ATT(g,t) needs ordinal periods and cohorts")
    if (nDropped != 0)
      System.err.println(
        s"[graft.did] Dropped $nDropped rows from original data due to missing data")
    if (nIncomplete != 0)
      System.err.println(
        s"[graft.did] Dropped $nIncomplete rows with a missing id, outcome, " +
          "weight, cluster or covariate")

    // Pass 2: units per (cohort, first period of the unit), so the unit
    // count of every cohort follows the period cut below exactly (a unit
    // survives `tt < cut` iff its first period does).
    val idType = projected.schema(idname).dataType
    val firstRaw = Phase(data.sparkSession.sparkContext,
        "Preprocess.run/firstPeriods") {
      roles
        .filter(r => !r.getBoolean(2) && !r.getBoolean(3) && !r.isNullAt(0) &&
          !r.isNullAt(1) && !r.isNullAt(4))
        .map(r => ((r.getDouble(0), InternalRow.copyValue(r.get(4, idType))),
          r.getDouble(1)))
        .reduceByKey(math.min(_, _))
        .mapPartitions { units =>
          val m = mutable.LinkedHashMap.empty[(Double, Double), Long]
          units.foreach { case ((g, _), t) => m((g, t)) = m.getOrElse((g, t), 0L) + 1 }
          Iterator.single(m.toMap)
        }.collect().foldLeft(Map.empty[(Double, Double), Long])(addAll)
    }

    // never-treated recode (ATTgt.py:111-118): cohorts past maxT merge
    // into 0.0 — their unit sets are disjoint (gg is unit-level), so
    // counts add
    val maxT = raw.keys.map(_._2).max
    def recode(g: Double): Double = if (g > maxT) 0.0 else g
    var rows = raw.foldLeft(Map.empty[(Option[Double], Double), Long]) {
      case (acc, ((g, t), c)) => addAll(acc, Map((g.map(recode), t) -> c))
    }
    var firsts = firstRaw.foldLeft(Map.empty[(Double, Double), Long]) {
      case (acc, ((g, t), c)) => addAll(acc, Map((recode(g), t) -> c))
    }
    def tlist: Vector[Double] = rows.keys.map(_._2).toVector.distinct.sorted
    // per cohort: (rows, units); null-cohort rows only shape tlist
    def perCohort: Map[Double, (Long, Long)] = {
      val r = rows.toSeq.collect { case ((Some(g), _), c) => (g, c) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      val u = firsts.toSeq.map { case ((g, _), c) => (g, c) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      r.map { case (g, c) => g -> (c, u.getOrElse(g, 0L)) }
    }

    var df = projected
      .filter(!incomplete)
      .withColumn(Formula.InterceptCol, lit(1.0))
      .withColumn("tt", tCol)
      .withColumn("yy", col(yname).cast("double"))
      .withColumn("gg", gCol)
    df = df.withColumn("gg", when(col("gg") > maxT, 0.0).otherwise(col("gg")))
    var glistAll = perCohort.keys.toVector.sorted

    // No never-treated units (ATTgt.py:120-128).
    if (!glistAll.contains(0.0)) {
      if (controlGroup == "nevertreated")
        throw new IllegalArgumentException(
          "There is no available never-treated group; set controlGroup='notyettreated'")
      val cut = glistAll.max - anticipation
      df = df.filter(col("tt") < cut)
      rows = rows.filter(_._1._2 < cut)
      firsts = firsts.filter(_._1._2 < cut)
      // tlist_glist(_filter=True): drop cohorts >= max cohort
      // (utils.py:41-43) from the GRID list; the stats keep every cohort
      val cohorts = perCohort.keys
      glistAll = cohorts.toVector.filter(_ < cohorts.max).sorted
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
      rows = rows.filter(_._1._1.exists(keep.contains))
      firsts = firsts.filter(k => keep.contains(k._1._1))
      fp = tlist.head
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

    // Unit count n (ATTgt.py:188): rows at the first period in the
    // balanced-panel regime, every row in the repeated cross-section
    // (each row is its own unit), distinct units otherwise.
    val n =
      if (effPanel) rows.collect { case ((_, t), c) if t == fp => c }.sum
      else if (trueRcs) totRows
      else totUnits

    if (glist.isEmpty)
      throw new IllegalArgumentException(
        s"No valid groups. '$gname' should be the period a unit is first treated (0 if never).")

    var effCband = cband
    if (tlist.length == 2) effCband = false

    val nCov = cfg.covariates.length
    val reqSize = nCov + 5
    val nT = tlist.length
    val small = perCohort.collect {
      case (g, (cnt, _)) if cnt.toDouble / nT < reqSize => g
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
    Phase(data.sparkSession.sparkContext, "Preprocess.run/materialize") {
      df.queryExecution.toRdd.count()
    }
    projected.unpersist()

    PreprocessedPanel(df, tlist, glist, n, glist.length, nT,
      effPanel, trueRcs, effCband, cfg)
  }

  /** `a` with every count of `b` added, in `b`'s order. */
  private def addAll[K](a: Map[K, Long], b: Map[K, Long]): Map[K, Long] =
    b.foldLeft(a) { case (acc, (k, c)) => acc.updated(k, acc.getOrElse(k, 0L) + c) }
}
