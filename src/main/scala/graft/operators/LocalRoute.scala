package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The fused probe-and-collect that routes Hits, Nmf and Lloyd between
  * their driver-local twin and their distributed loop.
  */
object LocalRoute {

  /** `Some(all rows of df)` when `df` has at most `budget` rows, else
    * `None`. One bounded collect: `limit(budget+1)` caps the driver
    * footprint by construction — if the limit did not truncate, these
    * are ALL the rows (in `df`'s own order: an `orderBy` runs inside the
    * collect as a TakeOrdered) and the local route proceeds; one extra
    * row means the input is over budget and the sample is discarded.
    * Unordered, the collect is Spark's incremental `executeTake`, not
    * one job: a job over the first partition, then jobs over up to 4×
    * as many partitions while fewer than budget+1 rows have arrived
    * (two jobs for 4 partitions of 10 rows; one when the first
    * partition fills the cap). When the optimizer knows `df` has at
    * most budget+1 rows the limit is dropped and the collect is one
    * plain job. LocalRouteSpec counts these. Callers pass their private
    * budget constants, all in [0, Int.MaxValue).
    */
  def collectWithin(df: DataFrame, budget: Int): Option[Array[Row]] = {
    // collect-bound: probe-guarded: limit(budget+1) bounds the collect; every caller keeps its distributed loop as the fallback
    val rows = df.limit(budget + 1).collect()
    if (rows.length <= budget) Some(rows) else None
  }
}
