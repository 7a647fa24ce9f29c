package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.store.FileStats

/** The size decision every local-vs-distributed and exact-vs-approximate
  * route shares: how many rows does this frame have, and what is the
  * cheapest way to find out? Small distributed queries are bound by
  * per-job fixed cost, so a route asks only what decides it. A route
  * whose large leg needs the count holds [[rows]] in a `lazy val` and
  * passes it to [[fits]], so the leg reuses it.
  */
object Route {

  /** Exact rows in `df`: `hint`, else its parquet footers
    * ([[FileStats.planRowUpperBound]], no job), else one `count()` job.
    */
  def rows(df: DataFrame, hint: Option[Long] = None): Long =
    hint.orElse(FileStats.planRowUpperBound(df)).getOrElse(df.count())

  /** The one cap rule: small iff `rows <= cap`. A cap of `Long.MaxValue`
    * is small and a negative cap large without evaluating `rows`.
    */
  def fits(cap: Long)(rows: => Long): Boolean =
    cap == Long.MaxValue || (cap >= 0 && rows <= cap)

  /** [[fits]] without the exact count: the footers, else one bounded
    * `limit(cap+1).count()` probe. A probe that reaches its limit is
    * over the cap, also where the Int clamp cut the limit below cap+1.
    */
  def fitsProbed(df: DataFrame, cap: Long): Boolean =
    fits(cap)(FileStats.planRowUpperBound(df).getOrElse {
      val n = df.limit(probeLimit(cap)).count()
      if (n < probeLimit(cap)) n else Long.MaxValue
    })

  /** Every row of `df` if it [[fits]] `cap`, else None: one bounded
    * `limit(cap+1).collect()` probe is the fetch.
    */
  def collectAtMost(df: DataFrame, cap: Long): Option[Array[Row]] =
    if (cap == Long.MaxValue) Some(df.collect())
    else if (cap < 0) None
    else Some(df.limit(probeLimit(cap)).collect()).filter(_.length < probeLimit(cap))

  /** The first `n` rows of `df` (all of them when it has fewer). */
  def prefix(df: DataFrame, n: Long): DataFrame = df.limit(clamp(n))

  /** Rows a bounded probe for `cap` asks for: cap+1, clamped. */
  private[graft] def probeLimit(cap: Long): Int = clamp(cap + 1)

  private def clamp(n: Long): Int = math.min(n, Int.MaxValue.toLong).toInt
}
