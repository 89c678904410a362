package graft.did

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType,
  StructField, StructType}

/** Per-cell constant columns via a broadcast of a LOCAL relation.
  *
  * The K-cell fit phases repeatedly need tiny per-cell constant vectors
  * (mean weights, gamma, betas, IF contraction vectors) next to every
  * row. The constants travel as a broadcast hash join of a LocalRelation
  * (`createDataFrame(java.util.List)`), probed once per row.
  *
  * Each such broadcast costs one Spark job: on Spark 4.1 the broadcast
  * exchange collects even a LocalRelation through a 1-stage job over a
  * `ParallelCollectionRDD` (one task per default-parallelism slice,
  * 12-50 ms on 4 cores), so every pass that joins constants pays that
  * job before its own.
  *
  * Plan-embedded `typedlit(Map(cell -> v))` lookups would avoid the join
  * but get INLINED into every reference site by project collapse — the
  * wide IF expression references each constant many times, and the
  * duplicated O(K) probes doubled every pass (measured).
  */
private[did] object CellConsts {

  /** `df` restricted to `live` cells, with one constant column per
    * entry of `colsMap` (Double or Seq[Double] valued). */
  def withConsts(df: DataFrame, live: Seq[Int],
      colsMap: Seq[(String, Int => Any)]): DataFrame = {
    val schema = StructType(StructField("cell", IntegerType) +:
      colsMap.map { case (nm, fn) =>
        val dt = fn(live.head) match {
          case _: Double => DoubleType
          case _: Seq[_] => ArrayType(DoubleType)
          case o => throw new IllegalStateException(o.getClass.toString)
        }
        StructField(nm, dt)
      })
    val rows = live.map(i => Row.fromSeq(i +: colsMap.map(_._2(i))))
    val cdf = df.sparkSession.createDataFrame(rows.asJava, schema)
    df.join(broadcast(cdf), "cell")
  }
}
