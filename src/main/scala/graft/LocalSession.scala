package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session of the command-line tools ([[Verify]],
  * [[Tools]]): `local[n]` with `n` shuffle partitions, UTC, no UI.
  * `n` is `SPARK_GRAFT_CPUS` when set, otherwise the JVM's available
  * processors. [[Main]] runs under spark-submit and builds its own.
  */
object LocalSession {
  def apply(appName: String): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
