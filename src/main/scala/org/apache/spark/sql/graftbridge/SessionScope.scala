package org.apache.spark.sql.graftbridge

import java.util.WeakHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic

/** Minimal bridge to the `private[sql]` Spark APIs behind the engine
  * session: the DiD engine plans its internal K-row passes with AQE off,
  * which only adds a planning round and extra jobs to each of them, but
  * must never set a conf on the caller's session (a race for any
  * concurrent query on it).
  *
  * So each caller session gets ONE engine session: a clone (own SQLConf,
  * shared SparkContext and cache manager) with AQE off, made once and
  * reused by every fit on that caller. Reuse is what lets repeated
  * analyses skip code generation: Spark keys its generated-class cache by
  * (classloader, code), and every session clone brings its own
  * classloader, so a fresh clone per fit would compile every plan again.
  * Nothing sets a conf on an engine session after it is made, so
  * concurrent fits can share it. It follows the caller's conf: when the
  * caller's settings (other than AQE) differ from those the engine
  * session was cloned with, the next fit gets a fresh clone.
  *
  * Placed under `org.apache.spark.sql` solely because `cloneSession` and
  * `Dataset.ofRows` are `private[sql]`; both are stable internals used
  * the same way by Spark's own ML pipelines (`Dataset.ofRows`) and
  * structured-streaming engine (`cloneSession` per micro-batch run).
  */
object SessionScope {

  private val Aqe = "spark.sql.adaptive.enabled"

  /** Caller session -> (its conf when cloned, engine session). */
  private val engines =
    new WeakHashMap[SparkSession, (Map[String, String], classic.SparkSession)]()

  /** `df` on the engine session of its session: the memoized AQE-off
    * clone, renewed when the caller's conf has changed since it was
    * made; a frame already on an engine session stays there. The same analyzed plan, so persisted data keeps being served
    * from the shared cache manager (lookup is by canonicalized plan,
    * session-independent). */
  def onEngine(df: DataFrame): DataFrame = {
    val caller = df.sparkSession
    val conf = caller.conf.getAll - Aqe
    val engine = engines.synchronized {
      Option(engines.get(caller)) match {
        case Some((c, e)) if c == conf => e
        // already on an engine session (a frame of the engine's own)
        case _ if engines.values.stream.anyMatch(_._2 eq caller) =>
          caller.asInstanceOf[classic.SparkSession]
        case _ =>
          val e = caller.asInstanceOf[classic.SparkSession].cloneSession()
          e.conf.set(Aqe, "false")
          engines.put(caller, (conf, e))
          e
      }
    }
    classic.Dataset.ofRows(engine,
      df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed)
  }

  /** The session's UUID — unique per session instance and NEVER reused,
    * unlike `System.identityHashCode`, which a later session can be
    * assigned after the original is GC'd (a session-keyed cache would
    * then serve frames bound to a stopped context). */
  def uuid(s: SparkSession): String =
    s.asInstanceOf[classic.SparkSession].sessionUUID
}
