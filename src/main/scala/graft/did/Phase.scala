package graft.did

import org.apache.spark.SparkContext

/** Spark job descriptions per engine phase: `name` labels every job `f`
  * submits from this thread (the Spark UI and listeners see it as
  * `spark.job.description`), and the caller's description is restored
  * afterwards. */
private[did] object Phase {
  private val Key = "spark.job.description"

  def apply[T](sc: SparkContext, name: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    try f finally sc.setLocalProperty(Key, prev)
  }
}
