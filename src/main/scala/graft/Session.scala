package graft

import org.apache.spark.sql.SparkSession

/** graft's one local-session policy: `local[n]` with one shuffle partition
  * per core, UTC session time, no UI. Every main builds its session from
  * [[builder]] and adds only its own job-specific confs on top (Smoke
  * excepted: it mimics the driver's plain, unconfigured session).
  */
object Session {

  /** cores to run on: `SPARK_GRAFT_CPUS`, else the host's (at most 32) */
  def cpus(fallback: => Int = math.min(32, Runtime.getRuntime.availableProcessors)): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", fallback.toString)

  def builder(cpus: String = Session.cpus()): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
