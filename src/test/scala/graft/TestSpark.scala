package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark startup is ~5s). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.LocalSession.builder().appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started from this thread while `body` runs. Jobs are
    * told apart by job group (other suites share the context); a
    * sentinel job started afterwards flushes the listener queue, since
    * a listener sees job starts in order.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-end"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsDuring", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "jobsDuring sentinel", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(sentinel), "sentinel job never reached the listener")
    } finally sc.removeSparkListener(listener)
    seen.asScala.count(_ == group)
  }
}
