package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a local session: `local[cpus]`, one
  * shuffle partition per core, UTC session time zone, UI off, WARN
  * logging. Nothing else is installed; `PlanBridge` adds its strategy
  * on first use. `cpus` defaults to `SPARK_GRAFT_CPUS`, else every
  * core of the host.
  */
object GraftSession {
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` on a fresh local session and stops it, also on failure. */
  def run[A](cpus: Int = defaultCpus)(body: SparkSession => A): A = {
    val spark = local(cpus)
    try body(spark) finally spark.stop()
  }
}
