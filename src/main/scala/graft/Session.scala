package graft

import org.apache.spark.sql.SparkSession

/** The one engine configuration every main and test session starts from:
  * `local[cores]` with one shuffle partition per core, UTC session time,
  * no UI, and AQE at Spark's default (on). Callers add only the confs
  * that are theirs on the returned builder. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the host's core count. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
