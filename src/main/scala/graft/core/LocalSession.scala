package graft.core

import org.apache.spark.sql.SparkSession

/** The local-mode session builder every graft main (and the test
  * suite) starts from: `local[N]` with N = `SPARK_GRAFT_CPUS` (default
  * 4), N shuffle partitions, UTC session time zone, UI off. A caller
  * adds only what differs.
  */
object LocalSession {
  /** `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
