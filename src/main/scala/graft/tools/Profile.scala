package graft.tools

import org.apache.spark.sql.DataFrame

/** Dev-only cold/warm timer for registered queries; run with
  *   sbt "runMain graft.tools.Profile <sfDir> [query ...]"
  * Several query names may be given: each runs cold, warm and warm again
  * in this one JVM (matching Bench's one-session-many-queries shape).
  */
object Profile {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("d04_minhash_neardup")
    val unknown = names.filterNot(graft.SparkEntry.allQueries.contains)
    require(unknown.isEmpty, s"not a registered query: ${unknown.mkString(", ")}")
    val spark = graft.LocalSession("graft-profile", 16)
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    for (q <- names; pass <- Seq("cold", "warm", "warm2"))
      time(s"$q-$pass")(noop(graft.SparkEntry.allQueries(q)(spark, sfDir)))
    spark.stop()
  }
}
