package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** LARGEST-GROUP GUARD: the one skew check in front of every operator
  * that joins a frame to itself on a shared key. Such a join is
  * quadratic in the size of the largest group, so one hub key can make
  * it explode; the guard refuses the query before the join runs.
  *
  * The caller hands in a CENSUS frame (one row per key) and the
  * `value` column that bounds the group, usually a per-key count. The
  * check is one aggregate, `coalesce(max(value), 0)`, read as one row;
  * an empty census reads 0 and passes. `cap <= 0` skips the check (no
  * job runs). A group past the cap refuses with one template,
  *
  *   `<site>: <what(worst)> (> <cap>) — <remedy>`
  *
  * so every refusal names the operator, the worst group, the cap and
  * what to do about it. `remedy` is required and must not be blank.
  */
private[graft] object Guard {
  def apply(census: DataFrame, value: Column, cap: Long, site: String,
      what: Long => String, remedy: String): Unit = {
    require(remedy.trim.nonEmpty, s"$site: a skew guard needs a remedy")
    if (cap > 0) {
      val worst = census.agg(coalesce(max(value).cast("long"), lit(0L)))
        .first().getLong(0)
      require(worst <= cap, s"$site: ${what(worst)} (> $cap) — $remedy")
    }
  }
}
