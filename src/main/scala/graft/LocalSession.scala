package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession that Verify, Stress and the dev tools start
  * from: the graft SQL extensions, `local[cpus]` with one shuffle
  * partition per core, UTC session time, no UI and WARN logging. `cpus`
  * is `SPARK_GRAFT_CPUS`, else the caller's default; `extra` holds only
  * the settings where a caller differs (e.g. FAIR scheduling). Bench and
  * the specs build their own sessions.
  */
object LocalSession {
  def apply(appName: String, defaultCpus: Int,
      extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val builder = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
