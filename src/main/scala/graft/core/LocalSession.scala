package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The local-mode session builder every graft main (and the test
  * suite) starts from: `local[N]` with N = `SPARK_GRAFT_CPUS` (default
  * 4), N shuffle partitions, UTC session time zone, UI off. A caller
  * adds only what differs.
  */
object LocalSession {
  /** `SPARK_GRAFT_CPUS`, default 4. */
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  private val derivedSessions =
    new ConcurrentHashMap[(SparkSession, List[(String, String)]), SparkSession]()

  /** The session derived from `base` with `overrides` set, built once
    * per (base, overrides) and reused by every later call. It shares
    * `base`'s SparkContext and has its own SQLConf and temp views, so
    * work that needs a different SQL conf runs there and `base`'s conf
    * is never touched: a runtime `conf.set`/restore on a shared session
    * races every query planned on it meanwhile. `newSession` inherits
    * only builder-level configs, so the session-critical confs (time
    * zone, shuffle partitions, ANSI) are copied from `base`'s runtime
    * values when the session is built.
    */
  def derived(base: SparkSession, overrides: (String, String)*): SparkSession =
    derivedSessions.computeIfAbsent((base, overrides.toList), _ => {
      val s = base.newSession()
      Seq("spark.sql.session.timeZone", "spark.sql.shuffle.partitions",
        "spark.sql.ansi.enabled").foreach(k => s.conf.set(k, base.conf.get(k)))
      overrides.foreach { case (k, v) => s.conf.set(k, v) }
      s
    })
}
