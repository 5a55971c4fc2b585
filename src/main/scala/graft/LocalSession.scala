package graft

import org.apache.spark.sql.SparkSession

/** The one builder for the library's own local sessions (Bench, Verify,
  * PlanDump and the test suites): `local[cpus]` with `cpus` shuffle
  * partitions, UTC session time zone, the UI off, and
  * [[GraftExtensions]] installed. The extensions must be present at
  * session BUILD — their parser and analyzer rules (deletion-vector
  * reads, SQL DML over graft tables) cannot be added to a live session.
  * `extraConf` pairs are applied last. `getOrCreate`, so a second call
  * in one JVM returns the running session. Log levels stay with the
  * caller. */
object LocalSession {
  def apply(cpus: String, extraConf: (String, String)*): SparkSession =
    extraConf.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()
}
