package didbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span collector for the traced run.
  *
  * The caller wraps each public engine call in `span(name)`, which tags
  * the calling thread with a span id through `setLocalProperty`. Spark
  * copies local properties onto every job the thread submits — also
  * through the cloned session inside `AttGt.fit` and the broadcast
  * threads of SQL execution — so the listener attributes each job, its
  * stages and their tasks to the span. Everything stays in memory until
  * `metrics` is read after the listener bus has drained (`spark.stop()`).
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private final class Span(val name: String, val startMs: Long) {
    var endMs: Long = 0L
    var wallS: Double = 0.0
    var jobs = 0
    var tasks = 0
    var taskRunMs = 0L
    var shuffleBytes = 0L
    var resultBytes = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageSpan = mutable.HashMap.empty[Int, Span]

  /** Runs `f` as one span named `name` (`<Layer>.<fn>`). */
  def span[T](name: String)(f: => T): T = {
    val s = new Span(name, System.currentTimeMillis())
    val id = synchronized { spans += s; spans.length - 1 }
    sc.setLocalProperty(Property, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      s.wallS = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Property, null)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
    id.foreach { i =>
      synchronized {
        val s = spans(i.toInt)
        s.jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        s.taskRunMs += m.executorRunTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.resultBytes += m.resultSize
      }
    }
  }

  /** Per-span metrics, in span order: (name, metric -> value). */
  def metrics: Seq[(String, Map[String, Double])] = synchronized {
    spans.toSeq.map { s =>
      val busyMs = unionWithin(s.taskIntervals.toSeq, s.startMs, s.endMs)
      s.name -> Map(
        "s" -> s.wallS,
        "driver_s" -> math.max(0.0, s.wallS - busyMs / 1e3),
        "task_s" -> s.taskRunMs / 1e3,
        "jobs" -> s.jobs.toDouble,
        "tasks" -> s.tasks.toDouble,
        "shuffle_mb" -> s.shuffleBytes / 1e6,
        "result_mb" -> s.resultBytes / 1e6)
    }
  }
}

object Tracer {
  val Property = "didbench.span"
  val Metrics: Seq[(String, String)] = Seq("s" -> "s", "driver_s" -> "s",
    "task_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "shuffle_mb" -> "MB", "result_mb" -> "MB")

  /** Length in ms of the union of `intervals`, clipped to [lo, hi]. */
  def unionWithin(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curEnd = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > curEnd) {
          total += b - math.max(a, curEnd)
          curEnd = b
        }
      }
    total
  }
}
