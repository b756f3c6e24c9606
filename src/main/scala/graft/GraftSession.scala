package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session shape: every entry point, harness and the test
  * suite builds its session from this builder, so plans, timings and
  * oracle results from different tools describe the same engine. It sets
  * the engine's SQL surface and optimizer rules (`GraftExtensions`, enabled
  * the way a cluster deployment would), `local[cpus]` with one shuffle
  * partition per core, AQE, UTC and no UI. `cpus` is `SPARK_GRAFT_CPUS`,
  * else the host's core count. A caller that needs a different setting
  * chains `.config` onto the returned builder.
  */
object GraftSession {
  /** The shape's settings, by Spark config key. */
  def settings: Map[String, String] = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    Map(
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
  }

  def builder(): SparkSession.Builder = SparkSession.builder().config(settings)
}
