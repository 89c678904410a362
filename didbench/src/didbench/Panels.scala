package didbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}
import org.apache.spark.sql.types._

/** Seeded staggered-adoption panel with a known ATT(g,t).
  *
  * Every value of a unit's rows is a function of (seed, unit) alone
  * (splitmix64 keyed by both, as in `graft.GridRehearsal.panelGrid` plus
  * the seed), so the panel does not depend on how units are split into
  * partitions. Transcendental functions go through `StrictMath` so the
  * same seed gives the same bits on any JVM.
  *
  * Periods are T0 .. T0+periods-1; cohorts (first treated period) are
  * spaced `step` apart from T0+2, so every cohort has >= 2 pre periods.
  * A unit is never treated with probability `neverShare`, else it joins
  * a cohort drawn uniformly, and
  *
  *   y(t) = u + 0.3 (t - T0) + Effect * 1{g > 0, t >= g} + 0.5 eps.
  *
  * Treatment does not depend on the unit level u and every unit shares
  * the trend, so parallel trends hold unconditionally and
  * ATT(g,t) = Effect for t >= g and 0 before.
  */
object Panels {

  val T0 = 2000
  val Effect = 2.0

  final case class Spec(units: Long, periods: Int, cohorts: Int,
      neverShare: Double) {
    require(periods >= cohorts + 3, s"need periods >= cohorts + 3: $this")
    val step: Int = math.max(1, (periods - 3) / cohorts)
    def cohortPeriods: Seq[Int] = (0 until cohorts).map(T0 + 2 + step * _)
    def rows: Long = units * periods
  }

  private[didbench] def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private[didbench] final class Rng(key: Long) {
    private var s = key
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    def nextDouble(): Double = (nextLong() >>> 11) / (1L << 53).toDouble
    def below(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    def nextGaussian(): Double = {
      val u1 = math.max(nextDouble(), 1e-300)
      StrictMath.sqrt(-2.0 * StrictMath.log(u1)) *
        StrictMath.cos(2.0 * math.Pi * nextDouble())
    }
  }

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("t", IntegerType, nullable = false),
    StructField("g", IntegerType, nullable = false),
    StructField("y", DoubleType, nullable = false)))

  def generate(spark: SparkSession, spec: Spec, seed: Long,
      partitions: Int): DataFrame = {
    val seedKey = mix(seed)
    val cohorts = spec.cohortPeriods.toArray
    val rows = spark.range(0, spec.units, 1, partitions).rdd.mapPartitions {
      it =>
        it.flatMap { uBoxed =>
          val u: Long = uBoxed
          val rng = new Rng(mix(seedKey ^ u))
          val level = 2.0 * rng.nextGaussian()
          val treated = rng.nextDouble() >= spec.neverShare
          val cohortDraw = (rng.nextDouble() * cohorts.length).toInt
          val g = if (treated) cohorts(cohortDraw) else 0
          (0 until spec.periods).map { dt =>
            val t = T0 + dt
            val y = level + 0.3 * dt + (if (g > 0 && t >= g) Effect else 0.0) +
              0.5 * rng.nextGaussian()
            Row(u, t, g, y)
          }
        }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Order-independent fingerprint of a panel's rows: the exact sum of
    * a 64-bit hash of every row, so it does not depend on partitioning
    * or file layout. */
  def fingerprint(df: DataFrame): String =
    df.agg(sum(xxhash64(schema.fieldNames.map(col): _*)
      .cast("decimal(38,0)"))).first().get(0).toString
}
