package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `root` is the id of the
  * request the span belongs to; a root span has `parent == 0`.
  */
final case class Span(id: Long, parent: Long, root: Long, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder plus the Spark, SQL and streaming listeners
  * the traced run registers from outside the program. Nothing is
  * written until [[Report]] serialises it at the end of the run.
  *
  * When `enabled` is false every method is a plain pass-through: the
  * untraced run records no span, sets no job group and registers none
  * of these listeners.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Runs `body` inside a span; jobs it starts carry the span id as
    * their job group, so the listener can attribute them.
    */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val outer = stack.get()
      val (parent, root) = outer.headOption match {
        case Some((p, r)) => (p, r)
        case None => (0L, id)
      }
      stack.set((id, root) :: outer)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(id.toString, s"$layer:$name", interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, "", interruptOnCancel = false)
        spans.synchronized { spans += Span(id, parent, root, layer, name, t0, t1) }
      }
    }

  /** Records an already-measured interval (the open loop's queue and
    * service times, observed from outside the serve thread).
    */
  def record(layer: String, name: String, parent: Long, root: Long,
      startNs: Long, endNs: Long): Long = {
    val id = nextId.incrementAndGet()
    if (enabled) spans.synchronized {
      spans += Span(id, parent, if (root == 0L) id else root, layer, name, startNs, endNs)
    }
    id
  }

  /** Wall-clock milliseconds, as listener events carry them, on the
    * span clock (`System.nanoTime`).
    */
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNs(ms: Long): Long = ms * 1000000L - clockOffsetNs

  val jobs = new JobLog
  /** Per SQL execution: planning phase -> (start, end) in wall-clock ms. */
  val sql = mutable.ArrayBuffer.empty[Map[String, (Long, Long)]]
  val progress = mutable.ArrayBuffer.empty[Map[String, Double]]

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      sql.synchronized { sql += ph }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val m = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap +
        ("numInputRows" -> p.numInputRows.toDouble) +
        ("startMs" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
      progress.synchronized { progress += m }
    }
  }

  def start(): Unit = if (enabled) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for queued listener events, then detaches the listeners. */
  def stop(): Unit = if (enabled) {
    org.apache.spark.graftperf.Bus.drain(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }
}

/** Per-job record built from scheduler events. */
final case class JobRec(id: Int, group: String, callSite: String,
    sqlExec: Boolean, startMs: Long, var endMs: Long = -1L,
    stages: Seq[Int] = Nil)

final case class TaskAgg(var tasks: Long = 0, var runMs: Double = 0,
    var gcMs: Double = 0, var inputBytes: Long = 0, var shuffleRead: Long = 0,
    var shuffleWrite: Long = 0, var spill: Long = 0, var failed: Long = 0,
    var firstLaunch: Long = Long.MaxValue, var submitted: Long = -1L)

/** Scheduler listener: jobs with their group and call site, stage
  * submission times, and task metrics summed per stage.
  */
final class JobLog extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.HashMap.empty[Int, TaskAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val site = prop("callSite.short").getOrElse(
      e.stageInfos.headOption.map(_.name).getOrElse(""))
    jobs(e.jobId) = JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      site, prop("spark.sql.execution.id").isDefined, e.time,
      stages = e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageInfo.stageId, TaskAgg())
    a.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, TaskAgg())
    a.tasks += 1
    a.firstLaunch = math.min(a.firstLaunch, e.taskInfo.launchTime)
    if (e.taskInfo.failed) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** A schema-inference job: the parquet footer read Spark launches
    * outside any SQL execution when a DataFrame is first resolved.
    */
  def isInfer(j: JobRec): Boolean = !j.sqlExec && j.callSite.startsWith("parquet at")
}
