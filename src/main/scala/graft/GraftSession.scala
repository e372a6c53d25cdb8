package graft

import org.apache.spark.sql.SparkSession

/** The local session the engine's entry points run on. */
object GraftSession {

  /** `local[cpus]` with as many shuffle partitions, the UTC session
    * zone, the UI off, AQE on, the nanosecond-timestamp read conf of
    * [[graft.sources.Tables]] and the engine's SQL functions
    * ([[graft.plans.GraftExtensions]], which changes no DataFrame plan).
    * Callers add their own settings and call `getOrCreate()`. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config(graft.sources.Tables.nanosConf._1, graft.sources.Tables.nanosConf._2)
      .withExtensions(new graft.plans.GraftExtensions)
}
