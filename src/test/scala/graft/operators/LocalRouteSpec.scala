package graft.operators

import graft.SparkSpec
import org.apache.spark.JobCount

/** Pins [[LocalRoute.collectWithin]], the probe-and-collect behind the
  * Hits, Nmf, Lloyd, EP1 and EP2 routes, and [[LocalRoute.collectRowsWithin]],
  * its form without the `Row` conversion: the budget boundary, the row
  * order it hands to the local twins, and the jobs one call runs.
  */
class LocalRouteSpec extends SparkSpec {
  import spark.implicits._

  test("budget rows come back whole, in the order of df; one more row " +
      "routes distributed") {
    // ids 7..0 over 4 partitions
    val sorted = (7L to 0L by -1L).toDF("id").repartition(4).orderBy("id")
    val rows = LocalRoute.collectWithin(sorted, 8)
    assert(rows.map(_.map(_.getLong(0)).toSeq) == Some(0L until 8L))
    assert(LocalRoute.collectWithin(sorted, 7).isEmpty)
    assert(LocalRoute.collectWithin(sorted.limit(0), 0).map(_.length) == Some(0))
    assert(LocalRoute.collectWithin(sorted, 0).isEmpty)
  }

  test("an unordered input is collected in one job at any partition count") {
    // inputs of a size the optimizer cannot see, so the limit stays in
    // the plan: Spark's own collect of a limit scans one partition, then
    // up to 4x as many per job (4 jobs for 32 partitions of 10 rows)
    for (parts <- Seq(4, 32)) {
      val n = 10 * parts
      val df = spark.sparkContext.parallelize(0L until n.toLong, parts).toDF("id")
      def jobs(budget: Int) = JobCount(spark.sparkContext)(
        LocalRoute.collectWithin(df, budget).map(_.map(_.getLong(0)).toSeq.sorted))
      assert(jobs(n) == ((Some(0L until n.toLong), 1)), s"$parts partitions")
      assert(jobs(n - 1) == ((None, 1)), s"$parts partitions")
      assert(jobs(5) == ((None, 1)), s"$parts partitions")
    }
    // the unconverted rows take the same single job
    val df = spark.sparkContext.parallelize(0L until 320L, 32).toDF("id")
    val (rows, jobs) = JobCount(spark.sparkContext)(LocalRoute.collectRowsWithin(df, 320))
    assert(jobs == 1 && rows.map(_.map(_.getLong(0)).toSeq.sorted) == Some(0L until 320L))
    // when the optimizer knows the row count is within the cap, the
    // limit is dropped and the collect is one plain job
    assert(JobCount(spark.sparkContext)(LocalRoute.collectWithin(
      spark.range(0, 40, 1, 4).toDF("id"), 40).map(_.length)) == ((Some(40), 1)))
  }

  test("Spark's own rows are collectWithin's rows, in the same order, on multi-partition input") {
    val sorted = spark.sparkContext.parallelize((0L until 500L).map(i => (i % 7, i)), 5)
      .toDF("g", "id").orderBy($"g", $"id".desc)
    val rows = LocalRoute.collectRowsWithin(sorted, 500).get
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == LocalRoute.collectWithin(sorted, 500).get.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(rows == (0L until 500L).map(i => (i % 7, i)).sortBy { case (g, id) => (g, -id) })
    assert(LocalRoute.collectRowsWithin(sorted, 499).isEmpty)
  }
}
