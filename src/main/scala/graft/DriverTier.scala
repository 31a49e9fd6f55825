package graft

import org.apache.spark.sql.{DataFrame, Row}

/** The driver tier: "are there at most `max` rows? Then hand them to
  * the driver; otherwise run distributed." Paths (`reachableFrom`,
  * `closure`) and `Dedup.nearDupClusters` choose their plan from this
  * one measured probe; the reference answers the same shapes with
  * in-memory traversals, and Pregelix (VLDB 2014) picks an iterative
  * graph job's physical plan from sizes measured at runtime the same
  * way.
  */
object DriverTier {

  /** Rows the first probe step may bring back. A set that goes
    * distributed never moves more than this (+1) to the driver.
    */
  val FirstStep = 65536

  /** `Some(rows)` when `df` has at most `max` rows (exactly `max`
    * fits), else `None`; `max <= 0` is always `None`. A budget up to
    * [[FirstStep]] is one `limit(max+1).collect()` job. A larger one
    * collects at most `FirstStep+1` rows first; only if that overflows
    * does a `limit(max+1).count()` decide, and only a set that fits is
    * then collected. Budgets are capped at `Int.MaxValue - 1` (the
    * `limit` argument type).
    */
  def collectIfAtMost(df: DataFrame, max: Long): Option[Array[Row]] = {
    if (max <= 0) return None
    val cap = math.min(max, Int.MaxValue - 1L).toInt
    def fitting(limit: Int): Option[Array[Row]] =
      Some(df.limit(limit + 1).collect()).filter(_.length <= limit)
    if (cap <= FirstStep) fitting(cap)
    else fitting(FirstStep).orElse {
      if (df.limit(cap + 1).count() > cap) None else fitting(cap)
    }
  }
}
