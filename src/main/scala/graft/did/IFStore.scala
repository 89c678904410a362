package graft.did

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** One unit of the influence store: its rowid, the bootstrap key
  * `key64(rowid)`, its weight `wbar` and cohort `gbar`, its cluster id
  * (null unless the fit is clustered), and its cells with their influence
  * values as parallel arrays in cell order.
  *
  * `wbar` and `gbar` are R `did`'s per-unit weight and cohort
  * (`csdids/ATTgt.py:591-601`): the means over the unit's rows in the
  * repeated cross section, the values of its first-period row in the
  * balanced panel. NaN stands for a missing value: `gbar` when every row
  * of the unit has a null cohort, `wbar` for a balanced-panel unit with no
  * first-period row. `clusterVaries` marks a unit whose rows carry more
  * than one cluster id. */
private[did] final class UnitIF(
    val rowid: String,
    val key: Long,
    val wbar: Double,
    val gbar: Double,
    val cluster: String,
    val clusterVaries: Boolean,
    val cells: Array[Int],
    val infs: Array[Double]) extends Serializable

/** What the job that materializes a store folds from its units, the
  * partitions added in order: per-cell sums of squared influence values,
  * per-cohort sums of `wbar`, and (clustered fits) units per cluster and
  * the count of units whose cluster id varies. */
private[did] final case class StoreStats(
    sumSq: Array[Double],
    cohortW: Map[Double, Double],
    clusterSizes: Map[String, Long],
    varyingClusters: Long)

/** The influence function of a fit, stored unit-major: one persisted row
  * per unit ([[UnitIF]]), the sparse equivalent of the reference's dense
  * n x K matrix (`csdids/ATTgt.py:273,476`).
  *
  * The job that materializes the store also folds the fit's sufficient
  * statistics over the per-unit vector z ([[ZLayout]]): `M = Σ z z'`
  * ([[Moments]]) and, when the fit bootstraps by unit, the draws `D`
  * ([[MBoot.Draws]]). Every aggregation and the pre-test are then driver
  * algebra on them, with no Spark job; draws the store job did not fold
  * take one pass the first time they are asked for ([[MBoot.drawsOf]]),
  * and the store keeps them. Past the statistics' cap
  * ([[ZLayout.overCap]]) the store holds no M, and what needs it fails.
  * The long-form table and the units frame the public API exposes are
  * lazy views over the same rows, on the engine session the store was
  * built on. */
final class IFStore private[did] (
    private[did] val units: RDD[UnitIF],
    private[did] val engine: SparkSession,
    val k: Int,
    val clustered: Boolean,
    private[did] val stats: StoreStats,
    private[did] val layout: ZLayout,
    folded: Either[String, Moments],
    private var drawn: Option[MBoot.Draws]) {

  /** `M` over the layout's coordinates; fails past the cap. */
  private[did] def moments: Moments =
    folded.fold(e => throw new IllegalArgumentException(e), identity)

  /** The store's draws: those its job folded, else `pass`'s, made once. */
  private[did] def draws(pass: => MBoot.Draws): MBoot.Draws = synchronized {
    drawn.getOrElse { val d = pass; drawn = Some(d); d }
  }

  /** The long form: one (rowid STRING, cell INT, inf DOUBLE) row per unit
    * and cell of the unit. */
  def longForm: DataFrame =
    engine.createDataFrame(units.mapPartitions(_.flatMap(u =>
      u.cells.indices.iterator.map(i => Row(u.rowid, u.cells(i), u.infs(i))))),
      IFStore.LongSchema)

  /** Per-unit weight and cohort: (rowid STRING, wbar DOUBLE, gbar DOUBLE),
    * every unit that has a weight. */
  def unitsView: DataFrame =
    engine.createDataFrame(units.mapPartitions(_.collect {
      case u if !u.wbar.isNaN =>
        Row(u.rowid, u.wbar, if (u.gbar.isNaN) null else u.gbar)
    }), IFStore.UnitsSchema)

  def unpersist(): Unit = { units.unpersist(blocking = false); () }
}

object IFStore {

  val LongSchema: StructType = StructType(Seq(StructField("rowid", StringType),
    StructField("cell", IntegerType), StructField("inf", DoubleType)))

  val UnitsSchema: StructType = StructType(Seq(StructField("rowid", StringType),
    StructField("wbar", DoubleType), StructField("gbar", DoubleType)))

  /** The closed form's cell constants per (cohort, period) group: the
    * live cells a row of the group enters, with each cell's `k` and `mu`;
    * the row's influence entry in the cell is `w * (k * (y - mu))`. */
  private[did] type Lookup =
    Map[(Double, Double), (Array[Int], Array[Double], Array[Double])]

  /** First 8 bytes, big-endian, of `md5(utf8(s))`: MBoot's key. */
  private[did] def key64(s: String, md5: MessageDigest): Long =
    ByteBuffer.wrap(md5.digest(s.getBytes(UTF_8))).getLong

  /** The fragment columns every store and regrouping reads, in order:
    * `rowid` STRING, `tt`, `w`, `g`, `y` DOUBLE, `cluster` STRING,
    * `cell` INT, `inf` DOUBLE. A fragment with a weight is a row of the
    * panel: it gives its unit's weight, cohort and cluster, and, through
    * a [[Lookup]], its closed-form influence entries. One without is a
    * (cell, inf) influence entry. */
  private[did] def fragment(rowid: Column, tt: Column, w: Column, g: Column,
      y: Column, cluster: Column, cell: Column, inf: Column): Seq[Column] =
    Seq(rowid.cast("string").as("rowid"), tt.cast("double").as("tt"),
      w.cast("double").as("w"), g.cast("double").as("g"),
      y.cast("double").as("y"), cluster.cast("string").as("cluster"),
      cell.cast("int").as("cell"), inf.cast("double").as("inf"))

  /** A panel's rows (canonical `Preprocess` columns) as fragments. */
  private[did] def rowFragments(df: DataFrame, cluster: Column): DataFrame = {
    val none = lit(null)
    df.select(fragment(col("rowid"), col("tt"), col("w1"), col("gg"),
      col("yy"), cluster, none, none): _*)
  }

  /** Long-form influence rows (rowid, cell, inf) as entry fragments. */
  private[did] def entryFragments(longForm: DataFrame): DataFrame = {
    val none = lit(null)
    longForm.select(fragment(col("rowid"), none, none, none, none, none,
      col("cell"), col("inf")): _*)
  }

  /** The units of `frags`: hash-partitioned by rowid (into `parts`
    * partitions, or the session's shuffle width) and sorted by (rowid,
    * period), so each unit's fragments arrive together and in the same
    * order however the input is partitioned; each unit's run is folded
    * into one [[UnitIF]]. `panelBase` is the first period of a balanced
    * panel, whose row gives the unit's weight and cohort; `lookup` holds
    * the closed form's cell constants, in the task closure. */
  private[did] def assemble(frags: DataFrame, k: Int,
      panelBase: Option[Double], lookup: Lookup,
      parts: Option[Int]): RDD[UnitIF] = {
    val byUnit = parts.fold(frags.repartition(col("rowid")))(
      frags.repartition(_, col("rowid")))
    byUnit.sortWithinPartitions("rowid", "tt").queryExecution.toRdd
      .mapPartitions(rows => new Assembler(k, panelBase, lookup).units(rows))
  }

  /** `units` coalesced (no shuffle) to at most the default parallelism: a
    * job over them needs no more tasks than cores, and the driver collects
    * at most one buffer per core whatever the shuffle width. Partitions
    * are folded and added in order, so a rerun is bit-identical. */
  private[did] def readable(units: RDD[UnitIF]): RDD[UnitIF] = {
    val cores = units.sparkContext.defaultParallelism
    if (units.getNumPartitions > cores) units.coalesce(cores) else units
  }

  /** Builds the store of `frags` over `layout`'s cells, persisted and
    * materialized by one Spark job over its [[readable]] view that also
    * folds its [[StoreStats]], `M` unless `overCap` says why not, and with
    * `boot` the draws over `n` units. */
  private[did] def build(frags: DataFrame, layout: ZLayout,
      panelBase: Option[Double], lookup: Lookup, clustered: Boolean,
      overCap: Option[String], boot: Option[MBoot.Boot], n: Long): IFStore = {
    val k = layout.k
    val units = assemble(frags, k, panelBase, lookup, None)
      .setName("AttGt influence store").persist(StorageLevel.MEMORY_AND_DISK)
    val foldM = overCap.isEmpty
    val parts = Phase(units.sparkContext, "AttGt.fit/store") {
      readable(units).mapPartitions(us =>
        Iterator.single(foldPartition(us, layout, foldM, boot))).collect()
    }
    val stats = parts.map(_._1).foldLeft(
      StoreStats(new Array[Double](k), Map.empty, Map.empty, 0L)) { (a, b) =>
      StoreStats(Array.tabulate(k)(i => a.sumSq(i) + b.sumSq(i)),
        b.cohortW.foldLeft(a.cohortW) { case (m, (g, w)) =>
          m.updated(g, m.getOrElse(g, 0.0) + w) },
        b.clusterSizes.foldLeft(a.clusterSizes) { case (m, (c, s)) =>
          m.updated(c, m.getOrElse(c, 0L) + s) },
        a.varyingClusters + b.varyingClusters)
    }
    val moments = overCap.toLeft(Moments.merge(layout.p, parts.flatMap(_._2).toSeq))
    val draws = boot.map(b =>
      MBoot.merge(parts.flatMap(_._3).toSeq, layout.p, b.biters, n))
    new IFStore(units, frags.sparkSession, k, clustered, stats, layout,
      moments, draws)
  }

  /** One partition's [[StoreStats]], `M` fold and draws buffer, units
    * added in order. */
  private def foldPartition(units: Iterator[UnitIF], layout: ZLayout,
      foldM: Boolean, boot: Option[MBoot.Boot])
      : (StoreStats, Option[Moments.Fold], Option[Array[Double]]) = {
    val k = layout.k
    val ss = new Array[Double](k)
    val cohortW = mutable.LinkedHashMap.empty[Double, Double]
    val sizes = mutable.LinkedHashMap.empty[String, Long]
    var varying = 0L
    val m = Option.when(foldM)(new Moments.Fold(layout.p))
    val d = boot.map(new MBoot.DrawsFold(layout.p, _))
    val at = new Array[Int](layout.p)
    val vs = new Array[Double](layout.p)
    units.foreach { u =>
      var i = 0
      while (i < u.cells.length) {
        ss(u.cells(i)) += u.infs(i) * u.infs(i); i += 1
      }
      if (!u.wbar.isNaN && !u.gbar.isNaN)
        cohortW(u.gbar) = cohortW.getOrElse(u.gbar, 0.0) + u.wbar
      if (u.cluster != null) sizes(u.cluster) = sizes.getOrElse(u.cluster, 0L) + 1
      if (u.clusterVaries) varying += 1
      if (foldM || d.nonEmpty) {
        val cnt = layout.coords(u, at, vs)
        m.foreach(_.add(at, vs, cnt))
        d.foreach(_.add(u, at, vs, cnt))
      }
    }
    (StoreStats(ss, cohortW.toMap, sizes.toMap, varying), m, d.map(_.buf))
  }

  /** Folds each run of equal rowids of a partition's sorted fragments
    * into one unit. A unit's entries for one cell are summed in arrival
    * order, which the sort fixes. */
  private final class Assembler(k: Int, panelBase: Option[Double],
      lookup: Lookup) {
    private val md5 = MessageDigest.getInstance("MD5")
    private val acc = new Array[Double](k)
    private val touched = new Array[Boolean](k)
    private val order = new mutable.ArrayBuilder.ofInt

    def units(rows: Iterator[InternalRow]): Iterator[UnitIF] = {
      val it = rows.buffered
      Iterator.continually(()).takeWhile(_ => it.hasNext).map(_ => next(it))
    }

    private def add(c: Int, v: Double): Unit = {
      if (!touched(c)) { touched(c) = true; order += c }
      acc(c) += v
    }

    private def next(it: BufferedIterator[InternalRow]): UnitIF = {
      // the row's bytes are reused by the next row: the id is a copy
      val id = it.head.getUTF8String(0).clone()
      var wSum = 0.0; var wCnt = 0
      var gSum = 0.0; var gCnt = 0
      var baseW = Double.NaN; var baseG = Double.NaN
      var cluster: String = null
      var varies = false
      while (it.hasNext && it.head.getUTF8String(0) == id) {
        val r = it.next()
        if (!r.isNullAt(2)) {
          val w = r.getDouble(2)
          val g = if (r.isNullAt(3)) Double.NaN else r.getDouble(3)
          wSum += w; wCnt += 1
          if (!g.isNaN) { gSum += g; gCnt += 1 }
          val t = if (r.isNullAt(1)) Double.NaN else r.getDouble(1)
          if (panelBase.contains(t)) { baseW = w; baseG = g }
          if (!r.isNullAt(5)) {
            val c = r.getUTF8String(5).toString
            if (cluster == null) cluster = c else if (c != cluster) varies = true
          }
          // a null period or cohort is in no cell
          if (lookup.nonEmpty && !t.isNaN && !g.isNaN) lookup.get((g, t)).foreach {
            case (cs, ks, mus) =>
              require(!r.isNullAt(4), AttGt.NullRole)
              val y = r.getDouble(4)
              var i = 0
              while (i < cs.length) { add(cs(i), w * (ks(i) * (y - mus(i)))); i += 1 }
          }
        }
        if (!r.isNullAt(6)) add(r.getInt(6), r.getDouble(7))
      }
      val cells = order.result()
      order.clear()
      java.util.Arrays.sort(cells)
      val infs = cells.map { c =>
        val v = acc(c); acc(c) = 0.0; touched(c) = false; v
      }
      val (wbar, gbar) = panelBase match {
        case Some(_) => (baseW, baseG)
        case None => (if (wCnt > 0) wSum / wCnt else Double.NaN,
          if (gCnt > 0) gSum / gCnt else Double.NaN)
      }
      val rowid = id.toString
      new UnitIF(rowid, key64(rowid, md5), wbar, gbar, cluster, varies,
        cells, infs)
    }
  }
}
