package graft.did

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import breeze.linalg.DenseMatrix
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** The per-cell path (each cell estimated inside its Spark task) against
  * a reference: a loop over collected cells, with the cell
  * samples built by Spark joins and a SQL pivot independent of the
  * path's own. Same ATT and analytic SE, cell by cell; and, because a
  * cell's rows are sorted inside it, bit-identical numbers under shuffle
  * partitions 1, 7 and 64 and with the input, rows scrambled, coalesced
  * to 1 partition. */
class DistributedRcSpec extends AnyFunSuite with SparkSpec {
  import TestPanels._

  private val cov2 = cfg.copy(xfmla = Some("y ~ x1 + x2"))

  private def rcEst(m: String): RcCellEstimator = m match {
    case "dr" => CellEstimators.DrDidRc
    case "reg" => CellEstimators.RegDidRc
    case _ => CellEstimators.IpwDidRc
  }

  private def panelEst(m: String): PanelCellEstimator = m match {
    case "dr" => CellEstimators.DrDidPanel
    case "reg" => CellEstimators.RegDidPanel
    case _ => CellEstimators.IpwDidPanel
  }

  /** Rows of `pp.df` in each live cell's sample, with d (treated cohort)
    * and pst (post period) flags: a broadcast join of the cell grid. */
  private def longForm(pp: PreprocessedPanel, cells: Vector[CellDef])
      : DataFrame = {
    val s = spark
    import s.implicits._
    val grid = cells.filterNot(_.zeroCell)
      .map(c => (c.idx, c.g, c.tn, c.tpre, c.n2val))
      .toDF("cell", "cg", "ctn", "ctpre", "cn2")
    val cCond: Column =
      if (pp.config.controlGroup == "notyettreated") (col("gg") === 0.0) ||
        ((col("gg") > col("cn2")) && (col("gg") =!= col("cg")))
      else col("gg") === 0.0
    pp.df.join(broadcast(grid),
        ((col("tt") === col("ctn")) || (col("tt") === col("ctpre"))) &&
          ((col("gg") === col("cg")) || cCond))
      .withColumn("d", (col("gg") === col("cg")).cast("int"))
      .withColumn("pst", (col("tt") === col("ctn")).cast("int"))
  }

  /** (att, analytic SE, skipped) per cell of estimator `m` from the
    * collected cells. */
  private def reference(pp: PreprocessedPanel, m: String)
      : (Array[Double], Array[Double], Array[Boolean]) = {
    val cells = AttGt.buildCells(pp, "varying")
    val covs = pp.config.covariates
    val p = covs.length
    val att = Array.fill(cells.length)(0.0)
    val se = Array.fill(cells.length)(0.0)
    val skipped = Array.fill(cells.length)(false)
    val lf = longForm(pp, cells)
    def setSe(i: Int, unitInf: Iterable[Double]): Unit =
      se(i) = math.sqrt(unitInf.foldLeft(0.0)((s, v) => s + v * v)) / pp.n
    if (!pp.panel) {
      val byCell = lf.select(Seq(col("cell"), col("rowid").cast("string"),
          col("tt"), col("yy"), col("d"), col("pst"), col("w1")) ++
          covs.map(col): _*)
        .collect().groupBy(_.getInt(0))
      cells.foreach { c =>
        byCell.get(c.idx).map(_.sortBy(r => (r.getString(1), r.getDouble(2))))
          match {
          case None => skipped(c.idx) = true
          case Some(rows) =>
            val d = rows.map(_.getInt(4).toDouble)
            val pst = rows.map(_.getInt(5).toDouble)
            if (Seq((1, 1), (1, 0), (0, 1), (0, 0)).exists { case (dv, pv) =>
                !rows.indices.exists(i => d(i) == dv && pst(i) == pv) })
              skipped(c.idx) = true
            else {
              val (a, inf) = rcEst(m).estimate(RcCell(rows.map(_.getDouble(3)),
                pst, d, rows.map(_.getDouble(6)),
                DenseMatrix.tabulate(rows.length, p)((i, j) =>
                  rows(i).getAs[Number](7 + j).doubleValue())))
              att(c.idx) = a
              // a unit's rows in the cell sum into one IF entry
              setSe(c.idx, rows.indices.groupMapReduce(i => rows(i).getString(1))(
                inf(_))(_ + _).values)
            }
        }
      }
    } else {
      // conditional-aggregation pivot: one row per (cell, unit)
      val wide = lf.groupBy(col("cell"), col("rowid").cast("string").as("rid"))
        .agg(max(when(col("tt") === col("ctn"), col("yy"))).as("y1"),
          (Seq(max(when(col("tt") === col("ctpre"), col("yy"))).as("y0"),
            first("d").as("d"), first("w1").as("w1")) ++
            covs.map(c => first(col(c)).as(c))): _*)
        .na.drop(Seq("y1", "y0"))
      val byCell = wide.collect().groupBy(_.getInt(0))
      cells.foreach { c =>
        byCell.get(c.idx).map(_.sortBy(_.getString(1))) match {
          case None => skipped(c.idx) = true
          case Some(rows) =>
            val d = rows.map(_.getInt(4).toDouble)
            if (!d.contains(1.0) || !d.contains(0.0)) skipped(c.idx) = true
            else {
              val (a, inf) = panelEst(m).estimate(PanelCell(
                rows.map(_.getDouble(2)), rows.map(_.getDouble(3)), d,
                rows.map(_.getDouble(5)),
                DenseMatrix.tabulate(rows.length, p)((i, j) =>
                  rows(i).getAs[Number](6 + j).doubleValue())))
              att(c.idx) = a
              setSe(c.idx, inf.map(_ * pp.n.toDouble / rows.length))
            }
        }
      }
    }
    (att, se, skipped)
  }

  /** `pp`'s fit against the reference to 1e-8, then bit-identical under
    * shuffle partitions 1, 7 and 64 and on `data` coalesced to one
    * partition in a scrambled row order. */
  private def check(data: DataFrame, config: AttGtConfig, m: String): Unit = {
    val pp = Preprocess.run(data, config)
    def fitted(p: PreprocessedPanel) = {
      val f = AttGt.fit(p, estMethod = m)
      f.unpersist()
      (f.att.toVector, f.seAnalytic.toVector, f.skipped.toVector)
    }
    val (att, se, skipped) = fitted(pp)
    val (rAtt, rSe, rSkipped) = reference(pp, m)
    assert(skipped == rSkipped.toVector, "skipped cells differ")
    att.indices.filterNot(skipped).foreach { i =>
      assert(math.abs(att(i) - rAtt(i)) < 1e-8,
        s"$m att cell $i: ${att(i)} vs ${rAtt(i)}")
      assert(math.abs(se(i) - rSe(i)) < 1e-8,
        s"$m se cell $i: ${se(i)} vs ${rSe(i)}")
    }
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val widths = try Seq(1, 7, 64).map { w =>
      spark.conf.set(key, w.toString)
      s"shuffle partitions $w" -> fitted(pp)
    } finally spark.conf.set(key, saved)
    pp.unpersist()
    val pp1 = Preprocess.run(
      data.orderBy(hash(col("id"), col("period"))).coalesce(1), config)
    val one = "scrambled input in 1 partition" -> fitted(pp1)
    pp1.unpersist()
    (widths :+ one).foreach { case (how, got) =>
      assert(got == ((att, se, skipped)), s"$m under $how")
    }
  }

  private lazy val data = staggered(spark, nUnits = 200, noise = 0.1)

  for (m <- Seq("dr", "reg", "ipw")) {
    test(s"$m with covariates: distributed == collected to 1e-8") {
      check(data, cov2, m)
    }
  }

  for (m <- Seq("dr", "reg", "ipw")) {
    test(s"balanced panel, $m with covariates: distributed == collected") {
      check(data, cov2.copy(allowUnbalancedPanel = false), m)
    }
  }

  test("weighted run: distributed == collected with sampling weights") {
    check(data, cfg.copy(xfmla = Some("y ~ x1"), weightsName = Some("wgt")),
      "dr")
  }

  test("balanced-panel IF table is a projection: unique (rowid, cell)") {
    // one IF row per unit per cell; a duplicate would silently break
    // sum(inf^2) analytic SEs. (In the RC regime rowid := unit id, and a
    // unit's pre+post rows in a cell are summed into one entry.)
    val ppP = Preprocess.run(staggered(spark, nUnits = 150, noise = 0.1),
      cov2.copy(allowUnbalancedPanel = false))
    val fit = AttGt.fit(ppP)
    val dups = fit.ifTable.groupBy("rowid", "cell")
      .count().filter(col("count") > 1)
      .count()
    assert(dups == 0L, s"$dups duplicate (rowid, cell) IF entries")
    fit.unpersist(); ppP.unpersist()
  }

  test("driver-collect guard trips BEFORE collect with a byte estimate") {
    // The guard once ran on the driver before a cell was collected there;
    // cells are now estimated in their tasks, and the guard trips as a
    // cell's rows are gathered, at the row that would take its working
    // set over the cap, so an oversized cell is never held in full.
    val c = CellDef(0, 3.0, 4.0, 2.0, 1, 4.0, zeroCell = false)
    val p = 2
    val cap = 10L * (p + 4)
    val cell = new CellRows(c, p, cap)
    def row(i: Int) = InternalRow(c.idx, UTF8String.fromString(s"u$i"),
      4.0, 3.0, 1.0, 1.0, 0.5, -0.5)
    (0 until 10).foreach(i => cell.add(row(i)))
    // a null role value never reaches a cell (Preprocess keeps complete
    // cases): such a row fails loudly and takes no room
    val nul = intercept[IllegalArgumentException](cell.add(InternalRow(c.idx,
      UTF8String.fromString("u10"), 4.0, 3.0, null, 1.0, 0.5, -0.5)))
    assert(nul.getMessage.contains("complete cases"), nul.getMessage)
    val ex = intercept[IllegalArgumentException](cell.add(row(11)))
    Seq("g=3.0", "t=4.0", "11 rows", "66 doubles", "MiB", s"cap of $cap")
      .foreach(s => assert(ex.getMessage.contains(s), ex.getMessage))
  }

  test("a cell over the working-set cap fails with its (g, t), rows, p and the cap") {
    val c = CellDef(0, 3.0, 4.0, 2.0, 1, 4.0, zeroCell = false)
    val p = 2
    val limit = AttGt.MaxCellDoubles / (p + 4)
    AttGt.checkCellSize(c, limit, p)
    val ex = intercept[IllegalArgumentException] {
      AttGt.checkCellSize(c, limit + 1, p)
    }
    Seq("g=3.0", "t=4.0", s"${limit + 1} rows", s"p=$p",
        AttGt.MaxCellDoubles.toString)
      .foreach(s => assert(ex.getMessage.contains(s), ex.getMessage))
  }
}
