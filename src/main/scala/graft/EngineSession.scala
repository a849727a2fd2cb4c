package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session builder of the graft mains (`Main`, `Bench`,
  * `Verify`), so their settings cannot drift apart.
  *
  *  - An already active session (a host application's, or the test suite's
  *    shared one) is returned unchanged: runtime confs set on it here would
  *    leak into every later user of that session.
  *  - A new session always runs in UTC, reads parquet TIMESTAMP(NANOS) as
  *    longs (see `Tables.load`) and logs at `GRAFT_LOG_LEVEL` (default WARN).
  *    The jar's `log4j2.properties` applies that level from the first log
  *    line; `setLogLevel` re-applies it over a deployment's own log4j
  *    configuration once the context is up.
  *  - Without a master (`--master` / `-Dspark.master`, as spark-submit
  *    sets) it runs `local[SPARK_GRAFT_CPUS]` (default min(32, cores)) with
  *    as many shuffle partitions and the UI off.
  */
object EngineSession {
  def getOrCreate(appName: String, env: Map[String, String] = sys.env): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).getOrElse {
      val builder = SparkSession.builder()
        .appName(appName)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      if (!sys.props.contains("spark.master")) {
        val cpus = env.getOrElse("SPARK_GRAFT_CPUS",
          math.min(32, Runtime.getRuntime.availableProcessors).toString)
        builder.master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.ui.enabled", "false")
      }
      val spark = builder.getOrCreate()
      spark.sparkContext.setLogLevel(env.getOrElse("GRAFT_LOG_LEVEL", "WARN"))
      spark
    }
}
