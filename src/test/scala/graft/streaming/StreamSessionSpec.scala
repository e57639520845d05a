package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** A stateful stream runs with its own state-partition count without
  * touching the caller's session conf: while the stream runs, the
  * caller's `spark.sql.shuffle.partitions` keeps its value, and the
  * stream's state still uses 4 partitions.
  *
  * Stream events reach a `StreamingQueryListener` only through the
  * session that started the query, so the spec listens on the shared
  * SparkContext, which hears every session's stream events.
  */
class StreamSessionSpec extends AnyFunSuite {
  import TestSpark._

  private val Key = "spark.sql.shuffle.partitions"

  test("a stateful stream leaves the caller's shuffle partitions alone") {
    val caller = spark.newSession()
    caller.conf.set(Key, "7")
    val started = new ConcurrentLinkedQueue[UUID]()
    val ended = new ConcurrentLinkedQueue[UUID]()
    val callerConf = new ConcurrentLinkedQueue[String]()
    val stateParts = new ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: QueryStartedEvent if Option(s.name).exists(_.startsWith("graft_vwap_")) =>
          callerConf.add(caller.conf.get(Key))
          started.add(s.id)
        case p: QueryProgressEvent if started.contains(p.progress.id) =>
          p.progress.stateOperators.foreach(o => stateParts.add(o.numShufflePartitions))
        case t: QueryTerminatedEvent => ended.add(t.id)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      assert(Streams.streamRunningVwap(caller, sf).count() > 0)
      // the bus delivers in order: a query's termination follows its progress
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((started.isEmpty || !started.asScala.forall(ended.contains)) &&
        System.nanoTime() < deadline) Thread.sleep(10)
    } finally sc.removeSparkListener(listener)

    assert(!started.isEmpty, "the stream's start never reached the listener")
    assert(callerConf.asScala.toSet === Set("7"),
      "the caller's shuffle partitions changed while the stream ran")
    assert(!stateParts.isEmpty, "no state operator progress was reported")
    assert(stateParts.asScala.toSet === Set(4L))
    assert(caller.conf.get(Key) === "7")
  }
}
