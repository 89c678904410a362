package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Differentially-private aggregate release.
  *
  * The Laplace mechanism over group counts, with the noise draw
  * DERANDOMIZED the same way as the engine's JL projection
  * (EmbedAlgebra.randomProject): the uniform comes from the md5 of
  * `salt || groupKey`, so the release is
  * a pure function of (salt, data) — reproducible across runs AND
  * bit-replayable by the SQL oracle.
  *
  * PRIVACY CONTRACT — the eps-DP guarantee holds only against an
  * adversary who does not know `salt`: with the salt public (the
  * test default "dp"), anyone can recompute the noise and recover the
  * exact counts, i.e. there is NO privacy. A production release must
  * draw `salt` from a secret high-entropy key (the keyed-PRF noise
  * deployment used by practical DP systems) or swap the md5 uniform
  * for `rand()` (non-reproducible); the inverse-CDF transform and
  * sensitivity math are identical either way.
  *
  * u = (first 12 md5 hex digits + 0.5) / 2^48 — exact in a double
  * (power-of-two denominator), strictly inside (0,1) so the log never
  * sees 0. noise = -(sens/eps) * sign(u-1/2) * ln(1 - 2|u-1/2|), the
  * standard Laplace inverse CDF.
  *
  * Scale: one hash aggregate (count per group), then a map-only
  * projection over the K-row group frame. The corpus shuffles once. */
object Privacy {

  /** eps-DP noisy counts per `groupCol` (count sensitivity 1). Output
    * keeps the exact count alongside the release so tests can pin the
    * noise; a production release projects `noisy_count` only. */
  def dpCounts(df: DataFrame, groupCol: String, eps: Double = 1.0,
      salt: String = "dp"): DataFrame = {
    require(eps > 0, s"bad eps: $eps")
    // NULL group key: concat_ws silently SKIPS nulls, which would give
    // the NULL group noise derived from md5(salt||"|") while a SQL
    // replay ('salt|' || key) yields NULL — a broken bit-replay
    // contract. Coalesce to a sentinel so the NULL group gets a
    // well-defined, replayable draw (a literal "__NULL__" group would
    // collide with it — acceptable for a count release, documented).
    val key = coalesce(col(groupCol).cast("string"), lit("__NULL__"))
    val h = substring(md5(concat_ws("|", lit(salt), key)), 1, 12)
    val u = (conv(h, 16, 10).cast("double") + 0.5) / lit(281474976710656.0)
    val centered = u - 0.5
    val noise = (lit(-1.0 / eps) * signum(centered) *
      log(lit(1.0) - lit(2.0) * abs(centered)))
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"))
      .withColumn("noisy_count",
        round(col("n") + noise, 6))
  }

  /** k-anonymity audit over a quasi-identifier column set: the size of
    * every equivalence class (rows sharing all quasi-identifier
    * values) plus an `at_risk` flag for classes under `k` — the
    * standard re-identification risk check run BEFORE releasing a
    * dataset (a class of size 1 is a unique individual; under k, a
    * linkage attack narrows to few candidates). Complements
    * [[dpCounts]]: DP protects released AGGREGATES, k-anonymity audits
    * released ROWS.
    *
    * NULL quasi-identifier values form their own class (they are a
    * linkable value like any other — dropping them would hide exactly
    * the sparse classes the audit exists to find).
    *
    * Scale: ONE hash aggregate on the quasi-identifier key — the same
    * shuffle a groupBy-count costs; nothing driver-side. Suppression /
    * generalization policy is the caller's (join this frame back on
    * the quasi-identifiers and filter `at_risk`). */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long = 10L)
      : DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(k >= 2, s"bad k: $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumn("at_risk", col("class_size") < k)
  }

  /** Distinct l-diversity per quasi-identifier class ([[kAnonymity]]'s
    * stronger sibling): a k-anonymous class is still re-identifiable
    * when everyone in it shares the sensitive value — l-diversity
    * additionally requires at least `l` DISTINCT sensitive values per
    * class. One hash aggregate (count + exact distinct on the class
    * key); all-integral output. */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Long = 3L): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(l >= 2, s"bad l: $l")
    df.filter(col(sensitiveCol).isNotNull)
      .groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("at_risk", col("n_sensitive") < l)
  }

}
