package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session contract. Every entry point builds its
  * session here, so each one installs [[GraftExtensions]] (the as-of join
  * strategy and the native expressions registered queries resolve by SQL
  * name), reads in UTC, runs `local[cpus]` with one shuffle partition per
  * core, and keeps the UI off. `SPARK_GRAFT_CPUS` (default 4) is read here
  * and nowhere else. */
object GraftSession {

  /** The configured builder, for a caller that adds a deployment setting
    * (a warehouse dir, a conf overlay) before [[start]]. */
  def builder(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** The started session, logging at WARN. */
  def start(b: SparkSession.Builder = builder()): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
