package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The fused probe-and-collect that routes Hits, Nmf and Lloyd between
  * their driver-local twin and their distributed loop.
  */
object LocalRoute {

  /** `Some(all rows of df)` when `df` has at most `budget` rows, else
    * `None`. One bounded job: `limit(budget+1)` caps the driver
    * footprint by construction — if the limit did not truncate, these
    * are ALL the rows (in `df`'s own order: an `orderBy` runs inside the
    * job) and the local route proceeds; one extra row means the input is
    * over budget and the sample is discarded. The +1 is clamped, so
    * `Int.MaxValue` always routes local; a negative budget routes
    * distributed without running a job.
    */
  def collectWithin(df: DataFrame, budget: Int): Option[Array[Row]] =
    if (budget < 0) None
    else {
      val cap = if (budget == Int.MaxValue) budget else budget + 1
      // collect-bound: probe-guarded: limit(budget+1) bounds the collect; every caller keeps its distributed loop as the fallback
      val rows = df.limit(cap).collect()
      if (rows.length <= budget) Some(rows) else None
    }
}
