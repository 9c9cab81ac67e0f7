package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}

/** The fused probe-and-collect that routes a product- or model-sized
  * input to a driver-local route and a larger one to the distributed
  * route: Hits, Nmf and Lloyd, EP1's summary
  * (`Pipelines.lsaSummaryLocal`) and EP2's (`TextRank.summarize`).
  */
object LocalRoute {

  /** `Some(all rows of df)` when `df` has at most `budget` rows, else
    * `None`. One bounded collect: `limit(budget+1)` caps the driver
    * footprint by construction — if the limit did not truncate, these
    * are ALL the rows (in `df`'s own order: an `orderBy` runs inside the
    * collect as a TakeOrdered) and the local route proceeds; one extra
    * row means the input is over budget and the sample is discarded.
    * The limit runs as one job whatever the partition count: the plan
    * is executed, not collected ([[collectRowsWithin]]), so Spark's
    * CollectLimit takes budget+1 rows per partition and moves them
    * through one single-partition exchange instead of its incremental
    * `executeTake` (a job over one partition, then jobs over up to 4× as
    * many). Input stages the plan
    * itself shuffles still run first. LocalRouteSpec counts these.
    * Callers pass their private budget constants, all in
    * [0, Int.MaxValue).
    */
  def collectWithin(df: DataFrame, budget: Int): Option[Array[Row]] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    collectRowsWithin(df, budget).map(_.map(r => toRow(r).asInstanceOf[Row]))
  }

  /** [[collectWithin]] without the conversion to `Row`: Spark's own rows,
    * copied, for a caller that reads a few fields of many rows (EP1).
    * The job is one `runJob` over the executed plan's partitions. Its
    * task function, [[copyRows]], is defined here, so the closure cleaner
    * parses this small class, not `RDD` or `SparkContext`, whose own
    * `map` and `collect` closures it would parse.
    */
  def collectRowsWithin(df: DataFrame, budget: Int): Option[Array[InternalRow]] = {
    val rdd = df.limit(budget + 1).queryExecution.executedPlan.execute()
    val parts = new Array[Array[InternalRow]](rdd.partitions.length)
    // collect-bound: probe-guarded: limit(budget+1) bounds the collect; every caller keeps its distributed loop as the fallback
    rdd.sparkContext.runJob(rdd, copyRows, parts.indices,
      (i: Int, rows: Array[InternalRow]) => parts(i) = rows)
    val rows = parts.flatten
    if (rows.length <= budget) Some(rows) else None
  }

  private val copyRows: (TaskContext, Iterator[InternalRow]) => Array[InternalRow] =
    (_, it) => it.map(_.copy()).toArray
}
