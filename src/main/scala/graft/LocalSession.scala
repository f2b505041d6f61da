package graft

import org.apache.spark.sql.SparkSession

/** The engine's local session: `local[cores]` with as many shuffle
  * partitions, the graft SQL extensions, v2 bucketing, UTC, the
  * [[Tables]] timestamp keys and no UI. Callers set their own log
  * level. */
object LocalSession {
  def apply(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(Tables.NanosKey, "true")
      .config(Tables.NtzKey, "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
