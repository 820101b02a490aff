package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of every graft main: `local[cores]` with one
  * shuffle partition per core, the UTC session zone (event-time queries
  * cast TIMESTAMP_NTZ through it, so an unpinned zone makes results
  * host-dependent), the graft SQL extensions, hashing of map columns
  * (the checksum over `q_map_fns`' output needs it) and no UI. Callers
  * add only their own settings before `getOrCreate()`.
  */
object LocalSession {
  /** `cores` defaults to `SPARK_GRAFT_CPUS`, else 4: the core count Bench
    * and Verify run on. */
  def builder(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .config("spark.ui.enabled", "false")
}
