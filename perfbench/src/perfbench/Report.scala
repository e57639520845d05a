package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Turns a traced run's spans and listener records into the per-layer
  * metrics, and serialises the whole record.
  */
object Report {
  val CliCommands = Seq("query", "last", "count", "insert", "ann", "search", "hybrid")

  /** Every per-layer metric with its unit; a layer the workload does
    * not touch reports 0.
    */
  val LayerUnits: Seq[(String, String)] = Seq(
    "SparkEntry.build_ms" -> "ms/query", "SparkEntry.build_jobs" -> "jobs/query",
    "core.infer_jobs" -> "jobs/req", "core.infer_ms" -> "ms/req",
    "spark.analysis_ms" -> "ms/req", "spark.optimization_ms" -> "ms/req",
    "spark.planning_ms" -> "ms/req", "spark.exec_ms" -> "ms/req",
    "spark.jobs" -> "jobs/req", "spark.stages" -> "stages/req", "spark.tasks" -> "tasks/req",
    "spark.task_ms" -> "ms/req", "spark.sched_wait_ms" -> "ms/req", "spark.core_util" -> "ratio",
    "spark.gc_ms" -> "ms/req", "spark.input_bytes" -> "bytes/req",
    "spark.shuffle_read_bytes" -> "bytes/req", "spark.shuffle_write_bytes" -> "bytes/req",
    "spark.spill_bytes" -> "bytes/req", "spark.failed_tasks" -> "count",
    "operators.MarketOps.exec_ms" -> "ms/query", "operators.Relational.exec_ms" -> "ms/query",
    "pipeline.TextOps.exec_ms" -> "ms/query",
    "tsdb.ingest_ms" -> "ms", "tsdb.ingest_jobs" -> "jobs", "tsdb.append_ms" -> "ms",
    "tsdb.compact_ms" -> "ms", "tsdb.compact_bytes_rewritten" -> "bytes",
    "tsdb.stored_bytes" -> "bytes", "tsdb.stats_fast_ms" -> "ms", "tsdb.scan_local_ms" -> "ms",
    "tsdb.local_fallbacks" -> "count", "tsdb.files_per_symbol" -> "count",
    "tsdb.query_range_ms" -> "ms", "tsdb.query_last_ms" -> "ms") ++
    CliCommands.flatMap(c => Seq(s"Cli.$c.service_ms_p50" -> "ms", s"Cli.$c.service_ms_p99" -> "ms")) ++
    Seq("Cli.queue_ms_p99" -> "ms", "Cli.first_touch_ms_p50" -> "ms",
      "Cli.spark_jobs_per_cmd" -> "jobs", "Cli.gen_lag_ms" -> "ms",
      "pipeline.prewarm_ms" -> "ms", "pipeline.ann_topk_ms" -> "ms",
      "pipeline.bm25_topk_ms" -> "ms", "pipeline.rrf_ms" -> "ms",
      "pipeline.spark_jobs_per_cmd" -> "jobs",
      "streaming.trigger_ms" -> "ms", "streaming.addBatch_ms" -> "ms",
      "streaming.getBatch_ms" -> "ms", "streaming.queryPlanning_ms" -> "ms",
      "streaming.walCommit_ms" -> "ms", "streaming.batches" -> "count",
      "trace.requests" -> "count", "trace.accounted_share" -> "ratio") ++
    E2e.map(m => s"trace.overhead.$m" -> E2eUnits(m))

  lazy val E2e: Seq[String] = Seq("setup_s", "p50_ms", "work_per_s")
  lazy val E2eUnits: Map[String, String] =
    Map("setup_s" -> "s", "p50_ms" -> "ms", "work_per_s" -> "1/s")

  /** Span layers that time work in their own right: the serve loop's
    * own `(N ms)` figure, a query's lambda and the benchmark's data
    * generation. The other spans wrap calls that run Spark; what runs
    * inside them counts only as far as the listeners saw it.
    */
  val MeasuredLayers = Set("Cli.service", "tsdb.append", "SparkEntry.build", "bench.generate")

  /** Work observed independently of the request wrappers, as disjoint
    * sorted intervals on the span clock: [[MeasuredLayers]] spans, the
    * scheduler's job intervals, Catalyst's planning phases and the
    * streaming triggers.
    */
  def measured(tr: Tracer, spans: Seq[Span]): Array[(Long, Long)] = {
    val ivs = spans.filter(s => MeasuredLayers(s.layer)).map(s => (s.startNs, s.endNs)) ++
      tr.jobs.jobs.values.filter(_.endMs >= 0).map(j => (tr.msToNs(j.startMs), tr.msToNs(j.endMs))) ++
      tr.sql.flatMap(_.values).map(p => (tr.msToNs(p._1), tr.msToNs(p._2))) ++
      tr.progress.filter(_.contains("triggerExecution")).map { p =>
        val s = p("startMs").toLong
        (tr.msToNs(s), tr.msToNs(s + p("triggerExecution").toLong))
      }
    union(ivs)
  }

  /** The union of intervals, as disjoint intervals sorted by start. */
  def union(ivs: Seq[(Long, Long)]): Array[(Long, Long)] = {
    val merged = mutable.ArrayBuffer.empty[(Long, Long)]
    ivs.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (a, b) =>
      if (merged.nonEmpty && a <= merged.last._2) {
        merged(merged.length - 1) = (merged.last._1, math.max(merged.last._2, b))
      } else merged += ((a, b))
    }
    merged.toArray
  }

  /** Nanoseconds of [lo, hi) that the disjoint sorted intervals cover;
    * `ends` holds their end points.
    */
  def overlapNs(ivs: Array[(Long, Long)], ends: Array[Long], lo: Long, hi: Long): Long = {
    var i = java.util.Arrays.binarySearch(ends, lo)
    if (i < 0) i = -i - 1
    var sum = 0L
    while (i < ivs.length && ivs(i)._1 < hi) {
      sum += math.max(0L, math.min(hi, ivs(i)._2) - math.max(lo, ivs(i)._1))
      i += 1
    }
    sum
  }

  def layers(spark: SparkSession, res: Result, tr: Tracer, wallS: Double): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    val spans = tr.spans.toVector
    val roots = spans.filter(_.parent == 0L)
    val nReq = math.max(1, roots.length).toDouble
    val jl = tr.jobs
    val jobs = jl.jobs.values.toVector
    val stages = jobs.flatMap(_.stages).flatMap(jl.stages.get)
    def jobMs(j: JobRec) = if (j.endMs >= 0) (j.endMs - j.startMs).toDouble else 0.0
    def put(k: String, v: Double) = if (!res.layer.contains(k)) res.layer(k) = (v, "")

    val byLayer = spans.groupBy(_.layer)
    val builds = byLayer.getOrElse("SparkEntry.build", Vector.empty)
    val buildIds = builds.map(_.id.toString).toSet
    val nBuild = math.max(1, builds.length).toDouble
    put("SparkEntry.build_ms", builds.map(_.ms).sum / nBuild)
    put("SparkEntry.build_jobs", jobs.count(j => buildIds(j.group)) / nBuild)
    val infer = jobs.filter(jl.isInfer)
    put("core.infer_jobs", infer.length / nReq)
    put("core.infer_ms", infer.map(jobMs).sum / nReq)
    Seq("analysis", "optimization", "planning").foreach { ph =>
      put(s"spark.${ph}_ms", tr.sql.flatMap(_.get(ph)).map(p => (p._2 - p._1).toDouble).sum / nReq)
    }
    // union of job intervals: wall time with at least one job running
    val execMs = union(jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)))
      .map(p => p._2 - p._1).sum
    val taskMs = stages.map(_.runMs).sum
    put("spark.exec_ms", execMs / nReq)
    put("spark.jobs", jobs.length / nReq)
    put("spark.stages", stages.length / nReq)
    put("spark.tasks", stages.map(_.tasks).sum / nReq)
    put("spark.task_ms", taskMs / nReq)
    put("spark.sched_wait_ms", stages.filter(s => s.submitted > 0 && s.firstLaunch != Long.MaxValue)
      .map(s => math.max(0L, s.firstLaunch - s.submitted).toDouble).sum / nReq)
    put("spark.core_util", taskMs / (wallS * 1000.0 * cpus))
    put("spark.gc_ms", stages.map(_.gcMs).sum / nReq)
    put("spark.input_bytes", stages.map(_.inputBytes).sum / nReq)
    put("spark.shuffle_read_bytes", stages.map(_.shuffleRead).sum / nReq)
    put("spark.shuffle_write_bytes", stages.map(_.shuffleWrite).sum / nReq)
    put("spark.spill_bytes", stages.map(_.spill).sum / nReq)
    put("spark.failed_tasks", stages.map(_.failed).sum.toDouble)
    Seq("operators.MarketOps", "operators.Relational", "pipeline.TextOps").foreach { m =>
      val s = byLayer.getOrElse(m, Vector.empty)
      put(s"$m.exec_ms", if (s.isEmpty) 0.0 else s.map(_.ms).sum / s.length)
    }
    val prog = tr.progress.toVector
    Seq("trigger" -> "triggerExecution", "addBatch" -> "addBatch", "getBatch" -> "getBatch",
      "queryPlanning" -> "queryPlanning", "walCommit" -> "walCommit").foreach { case (k, key) =>
      put(s"streaming.${k}_ms", prog.map(_.getOrElse(key, 0.0)).sum)
    }
    put("streaming.batches", prog.count(_.getOrElse("numInputRows", 0.0) > 0).toDouble)

    // self time: a span's duration minus what its children cover
    val kids = spans.groupBy(_.parent)
    val self = mutable.LinkedHashMap.empty[String, Double]
    spans.foreach { s =>
      val covered = kids.getOrElse(s.id, Vector.empty).map(_.ms).sum
      self(s.layer) = self.getOrElse(s.layer, 0.0) + math.max(0.0, s.ms - covered)
    }
    // the share of request wall that independently observed work covers
    val work = measured(tr, spans)
    val ends = work.map(_._2)
    val wall = roots.map(_.ms).sum
    val accounted = roots.map(r => overlapNs(work, ends, r.startNs, r.endNs)).sum / 1e6
    put("trace.requests", roots.length.toDouble)
    put("trace.accounted_share", if (wall > 0) accounted / wall else 0.0)
    res.detail("trace_unaccounted_ms") = wall - accounted
    res.detail("trace_wall_ms") = wall
    res.detail("trace_self_ms") = self.toSeq.sortBy(-_._2).map { case (k, v) => k -> v }.toMap
    res.detail("trace_spans") = spans.length
    res.detail("trace_jobs_by_callsite") = jobs.groupBy(_.callSite)
      .map { case (k, v) => k -> v.length }.toSeq.sortBy(-_._2).take(25).toMap
    LayerUnits.foreach { case (k, _) => put(k, 0.0) }
    // a layer with no samples in this run (say, no insert fell due)
    // reports 0 rather than a missing value
    res.layer.foreach { case (k, (v, u)) => if (v.isNaN) res.layer(k) = (0.0, u) }
  }

  /** Folds a traced side phase into `res`: its pipeline and retrieval
    * command layers, its named metrics (prefixed) and its answers. The
    * accounted share becomes the lower of the two phases'.
    */
  def mergePhase(res: Result, phase: Result, prefix: String): Unit = {
    val share = "trace.accounted_share"
    res.layer(share) = (math.min(res.layer(share)._1, phase.layer(share)._1), res.layer(share)._2)
    phase.layer.foreach { case (k, v) =>
      if (k.startsWith("pipeline.") || Seq("ann", "search", "hybrid").exists(c => k.startsWith(s"Cli.$c.")))
        res.layer(k) = v
    }
    phase.named.foreach { case (k, v) => res.named(s"$prefix.$k") = v }
    res.attempted += phase.attempted
    res.failed += phase.failed
    res.failures ++= phase.failures
    res.detail(prefix) = phase.detail
  }

  /** Every span of each traced phase: id, parent, request (root) id,
    * layer, name, start and duration in microseconds from the phase's
    * first span.
    */
  def spans(phases: Seq[(String, Tracer)]): String = Json(phases.map { case (phase, tr) =>
    val ss = tr.spans.toVector.sortBy(_.startNs)
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    phase -> ss.map(s => Seq(s.id, s.parent, s.root, s.layer, s.name,
      (s.startNs - t0) / 1000L, (s.endNs - s.startNs) / 1000L))
  }.toMap)

  def record(res: Result, plain: Option[Result], sessionS: Double): String = {
    val units = LayerUnits.toMap
    plain.foreach { p =>
      E2e.foreach { m =>
        res.layer(s"trace.overhead.$m") = (res.e2e(m)._1 - p.e2e(m)._1, E2eUnits(m))
      }
    }
    Json(mutable.LinkedHashMap[String, Any](
      "workload" -> res.workload,
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "failures" -> res.failures.toSeq,
      "session_s" -> sessionS,
      "e2e" -> res.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "named" -> res.named.map { case (k, (v, u, n)) =>
        k -> Map("value" -> v, "unit" -> u, "note" -> n) },
      "layer" -> res.layer.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> units.getOrElse(k, u)) },
      "untraced_e2e" -> plain.map(_.e2e.map { case (k, (v, _)) => k -> v }).getOrElse(Map.empty),
      "detail" -> res.detail))
  }
}
