package perfbench

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** `analytics`: a closed loop, one client, over a fixed panel of
  * `SparkEntry` read queries on the sf0.1 tables, each evaluated
  * through the `noop` sink. The panel mixes the four kinds of cost the
  * suite has: cheap reads where fixed per-query cost dominates,
  * job-heavy queries, execution-heavy joins and build-heavy queries
  * whose lambda runs jobs before returning. Each run measures every
  * query's kind ([[Kinds]]) and records it with the per-query times.
  * Every pass runs the whole panel in a seeded order.
  */
object Analytics {
  /** Panel query -> the module whose code builds its plan. Cheap
    * reads, market operators, two relational joins (q5 star join with
    * 13 jobs), a text operator and a build-heavy query whose lambda
    * trains k-means.
    */
  val Panel: Seq[(String, String)] = Seq(
    "q_point_lookup" -> "core.Tables", "q_range_scan_view" -> "core.Tables",
    "q_last_n" -> "core.Tables", "q_count_by_symbol" -> "core.Tables",
    "q_vwap_daily" -> "operators.MarketOps", "q_ohlc_daily" -> "operators.MarketOps",
    "q_asof_join" -> "operators.MarketOps", "q3_join" -> "operators.Relational",
    "q5_star_join" -> "operators.Relational",
    "q_df_stopwords" -> "pipeline.TextOps", "q_kmeans_embed" -> "pipeline.KMeansOps")
  /** The sf0.1 tables the panel reads. */
  val SourceTables = Seq("events", "lineitem", "orders", "customer", "supplier", "nation",
    "region", "documents", "embeddings")

  /** The kinds of per-query cost, each a test on a query's profile.
    * The panel must hold at least one of each. At sf0.1 no query keeps
    * even one of the cores busy on average, so execution-heavy means
    * task time at least half the wall time, and cheap means task time
    * at most 40% of it: driver-side fixed cost takes the rest.
    */
  val Kinds: Seq[(String, Profile => Boolean)] = Seq(
    "build-heavy (lambda >= 300 ms)" -> (_.buildMs >= 300),
    "job-heavy (>= 10 jobs)" -> (_.jobs >= 10),
    "execution-heavy (task time >= wall / 2)" -> (p => p.taskMs >= p.wallMs / 2),
    "cheap (task time <= 0.4 wall)" -> (p => p.taskMs <= p.wallMs * 0.4))

  /** One query's cost profile, medians over the timed samples: lambda
    * time, wall time, jobs and task time per execution. `buildJobs`
    * (jobs the lambda starts) comes from the untimed answer pass.
    */
  final case class Profile(buildMs: Double, wallMs: Double, jobs: Double, buildJobs: Long,
      taskMs: Double)
  val Setups = 5
  /** Every query's median comes from at least this many samples. */
  val MinPasses = 3

  private def evalFull(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx): Result = {
    val res = new Result("analytics")
    val spark = ctx.spark
    val tr = ctx.tracer
    val rng = new java.util.Random(ctx.seed)
    val fns = Panel.map { case (q, _) => q -> SparkEntry.queries(q) }.toMap

    // set-up = resolve the panel's tables (listing and schema
    // inference); repeated, median reported
    val setups = (1 to Setups).map { _ =>
      val t0 = System.nanoTime()
      SourceTables.foreach(t => graft.core.Tables.table(spark, ctx.dataDir, t).schema)
      (System.nanoTime() - t0) / 1e9
    }

    // untimed: each answer once to parquet, compared with the DuckDB
    // oracle by run.py (this pass also warms every plan), counting the
    // jobs each query's lambda starts
    val checkDir = ctx.fresh("check")
    val buildJobs = Panel.map { case (q, _) =>
      val j0 = ctx.jobsStarted()
      var j1 = j0
      try {
        val df = fns(q)(spark, ctx.dataDir)
        j1 = ctx.jobsStarted()
        df.write.parquet(s"$checkDir/$q")
      } catch { case e: Exception => System.err.println(s"[perfbench] $q: ${e.getMessage}") }
      q -> (j1 - j0)
    }.toMap
    res.detail("check_dir") = checkDir

    val samples = Panel.map(_._1).map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val builds = Panel.map(_._1).map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val jobs = Panel.map(_._1).map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val tasks = Panel.map(_._1).map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    var drainNs = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var passes = 0
    while (passes < MinPasses || System.nanoTime() < deadline) {
      val order = scala.util.Random.javaRandomToRandom(rng).shuffle(Panel)
      order.foreach { case (q, module) =>
        val j0 = Main.jobCounter.get(); val k0 = Main.taskMs.get()
        val a = System.nanoTime()
        var b = a
        val ok = try {
          tr.span("bench.query", q) {
            val df = tr.span("SparkEntry.build", q)(fns(q)(spark, ctx.dataDir))
            b = System.nanoTime()
            tr.span(module, q)(evalFull(df))
          }
          true
        } catch { case e: Exception => res.check(Some(s"$q: ${e.getMessage}")); false }
        val c = System.nanoTime()
        // after the sample: wait for the query's listener events, so its
        // job and task-time counts are complete (untimed, and left out
        // of the loop's wall time)
        ctx.jobsStarted()
        drainNs += System.nanoTime() - c
        if (ok) {
          res.check(None)
          samples(q) += (c - a) / 1e6
          builds(q) += (b - a) / 1e6
          jobs(q) += (Main.jobCounter.get() - j0).toDouble
          tasks(q) += (Main.taskMs.get() - k0).toDouble
        }
      }
      passes += 1
    }
    val wallS = (System.nanoTime() - t0 - drainNs) / 1e9
    if (tr.enabled) {
      // the streaming layer: one Streams.streamIngest pass over the
      // events, checked against their per-symbol counts
      val got = graft.streaming.Streams.streamIngest(spark, ctx.dataDir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = graft.core.Tables.events(spark, ctx.dataDir).groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      res.checkEq("streamIngest counts", got, want)
    }
    val med = Panel.map { case (q, _) => q -> Stats.median(samples(q).toSeq) }
    val all = samples.values.flatten.toSeq
    val (tp, tv) = Stats.tail(all)
    val geo = Stats.geomean(med.map(_._2))
    val panelS = med.map(_._2).sum / 1e3

    res.e2e("setup_s") = (Stats.median(setups), "s")
    res.e2e("p50_ms") = (geo, "ms")
    res.e2e("work_per_s") = (all.length / wallS, "1/s")
    res.metric("setup_s", Stats.median(setups), "s", s"median of $Setups set-ups")
    res.metric("query_geomean_ms", geo, "ms",
      s"geometric mean of ${med.length} per-query medians, $passes samples each")
    res.metric("panel_s", panelS, "s", s"sum of ${med.length} per-query medians")
    res.detail("passes") = passes
    res.detail("setup_runs_s") = setups
    res.detail("panel") = Panel.map(_._1)
    res.detail("tail") = Map("pct" -> tp, "ms" -> tv)
    res.detail("per_query_ms") = med.toMap
    val profiles = med.map { case (q, ms) =>
      q -> Profile(Stats.median(builds(q).toSeq), ms, Stats.median(jobs(q).toSeq),
        buildJobs(q), Stats.median(tasks(q).toSeq))
    }.toMap
    res.detail("per_query_profile") = profiles.map { case (q, p) => q -> Map(
      "build_ms" -> p.buildMs, "wall_ms" -> p.wallMs, "jobs" -> p.jobs,
      "build_jobs" -> p.buildJobs, "task_ms" -> p.taskMs) }
    res.detail("kinds") = Kinds.map { case (k, test) =>
      k -> Panel.map(_._1).filter(q => test(profiles(q))) }.toMap
    res
  }
}
