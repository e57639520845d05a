package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its seed and time budget,
  * the sf0.1 tables, a scratch directory and the tracer.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val dataDir: String, val workDir: String, val tracer: Tracer) {
  val cpus: Int = spark.sparkContext.defaultParallelism

  /** An empty directory under the run's scratch directory. */
  def fresh(name: String): String = {
    val p = Paths.get(workDir, name)
    graft.core.TempDirs.delete(p.toString)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Jobs the scheduler has started so far, counted by the one-line
    * listener [[Main]] registers for traced and untraced runs alike.
    */
  def jobsStarted(): Long = {
    org.apache.spark.graftperf.Bus.drain(spark.sparkContext)
    Main.jobCounter.get()
  }

  /** Per-command service percentiles, queueing and generator lag for a
    * serve-loop workload.
    */
  def serveLayers(res: Result, kinds: Seq[String], replies: Seq[Reply],
      due: Seq[Long], sent: Seq[Long], jobs: Long): Unit = {
    kinds.distinct.sorted.foreach { k =>
      val svc = kinds.indices.filter(kinds(_) == k).map(replies(_).serviceMs).filterNot(_.isNaN)
      res.layer(s"Cli.$k.service_ms_p50") = (Stats.median(svc), "ms")
      res.layer(s"Cli.$k.service_ms_p99") = (Stats.tail(svc)._2, "ms")
    }
    val queue = replies.indices.map(j => math.max(0L, replies(j).startNs - due(j)) / 1e6)
    res.layer("Cli.queue_ms_p99") = (Stats.tail(queue)._2, "ms")
    res.layer("Cli.gen_lag_ms") = (Stats.tail(due.indices.map(j => (sent(j) - due(j)) / 1e6))._2, "ms")
    res.layer("Cli.spark_jobs_per_cmd") = (jobs.toDouble / replies.length, "jobs")
  }
}

/** Entry point of the benchmark JVM:
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --data <sf0.1 dir> --work <scratch dir> --out <result.json>
  *                [--spans <spans.json>]
  * }}}
  * Writes one JSON record to `--out`; `run.py` turns it into the
  * printed report. With `--trace 1` the workload runs twice in this
  * JVM, untraced and traced, each for half the seconds, so the record
  * carries the tracing overhead on every end-to-end metric.
  */
object Main {
  val jobCounter = new java.util.concurrent.atomic.AtomicLong(0)
  /** Executor run time of every finished task, in ms. */
  val taskMs = new java.util.concurrent.atomic.AtomicLong(0)

  val workloads: Map[String, Ctx => Result] = Map(
    "serve_ticks" -> ServeTicks.run,
    "analytics" -> Analytics.run,
    "ingest_scan" -> IngestScan.run,
    "retrieval" -> Retrieval.run)

  def session(workDir: String): SparkSession = {
    // the program's own session settings (graft.Bench / graft.Cli):
    // one local executor per core and as many shuffle partitions
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opt.get("dump-oracle").foreach { f =>
      // the panel's oracle SQL, for perfbench/gen_oracle.py
      val sql = Analytics.Panel.map { case (q, _) => q -> graft.SparkEntry.oracleSql(q) }.toMap
      Files.write(Paths.get(f), Json(sql).getBytes("UTF-8"))
      return
    }
    val name = opt("workload")
    val body = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val workDir = opt("work")
    Files.createDirectories(Paths.get(workDir))
    val t0 = System.nanoTime()
    val spark = session(workDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    // job and task-time counters, so untraced runs can report jobs per
    // command and each analytics query's cost profile
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobCounter.incrementAndGet()
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) taskMs.addAndGet(e.taskMetrics.executorRunTime)
    })
    val traced = opt("trace") == "1"
    // a traced run splits its time between the untraced and the traced
    // pass, so it lasts about as long as an untraced run
    val seconds = opt("seconds").toDouble / (if (traced) 2 else 1)
    def once(trace: Boolean, work: Ctx => Result = body,
        secs: Double = seconds): (Result, Tracer, Double) = {
      val tr = new Tracer(spark, trace)
      val ctx = new Ctx(spark, opt("seed").toLong, secs, opt("data"), s"$workDir/$name", tr)
      tr.start()
      val w0 = System.nanoTime()
      val r = try work(ctx) finally tr.stop()
      (r, tr, (System.nanoTime() - w0) / 1e9)
    }
    // the pass that runs first meets a colder JIT and page cache, so
    // the order alternates with the seed's parity: an overhead averaged
    // over seeds of both parities carries no order bias
    val untracedFirst = opt("seed").toLong % 2 == 0
    val plainFirst = if (traced && untracedFirst) Some(once(false)) else None
    val (res, tr, wallS) = once(traced)
    val plain = if (traced && !untracedFirst) Some(once(false)) else plainFirst
    if (traced) Report.layers(spark, res, tr, wallS)
    val phases = if (traced && name == "serve_ticks") {
      // the pipeline layers: a retrieval phase through its own serve
      // loop, traced apart so its jobs stay out of serve_ticks' figures
      val (r, rtr, rWallS) = once(true, Retrieval.run, secs = 4.0)
      Report.layers(spark, r, rtr, rWallS)
      Report.mergePhase(res, r, "retrieval")
      Seq(name -> tr, "retrieval" -> rtr)
    } else Seq(name -> tr)
    // the spans, kept in memory until now, written once
    opt.get("spans").filter(_ => traced).foreach { f =>
      Files.write(Paths.get(f), Report.spans(phases).getBytes("UTF-8"))
    }
    if (traced) res.detail("untraced_pass_first") = untracedFirst
    val record = Report.record(res, plain.map(_._1), sessionS)
    Files.write(Paths.get(opt("out")), record.getBytes("UTF-8"))
    spark.stop()
  }
}
