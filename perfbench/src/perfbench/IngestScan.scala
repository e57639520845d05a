package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.tsdb.TickStore

/** `ingest_scan`: a closed loop modelled on the reference `benchmark`
  * command. Seeded multi-partition tick batches go into a
  * daily-partitioned store through `TickStore.ingest`; between batches
  * the loop runs narrow `queryRange(...).collect()` reads, wide
  * `queryRange(...).count()` scans, `queryLast` and `count` on the
  * Spark path. One `compact()` runs half way through and one
  * `Streams.streamIngest` pass at the end. Each batch spans three days
  * and starts one day after the previous one, so every day partition
  * collects files from three batches before compaction.
  */
object IngestScan {
  val Symbols = 16
  val BatchTicks = 100000
  /** The set-up batch: smaller, so three set-ups stay cheap. */
  val FirstTicks = 20000
  val DayUs = 86400L * 1000000L
  val StepUs = 3 * DayUs / BatchTicks
  val BaseUs = 1704067200L * 1000000L
  val Narrow = 6
  val Setups = 3

  final case class Batch(sym: Array[Int], cents: Array[Int], vol: Array[Int], b: Int) {
    def n: Int = sym.length
    def us(i: Int): Long = BaseUs + b * DayUs + i * StepUs + b
  }

  private val schema = StructType(Seq(StructField("symbol", StringType),
    StructField("ts", TimestampType), StructField("price", DoubleType),
    StructField("volume", LongType)))
  private def sym(k: Int) = f"T$k%02d"
  private def tsOf(us: Long) = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
  private def usOf(t: java.sql.Timestamp) =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  def batch(rng: java.util.Random, b: Int, n: Int = BatchTicks): Batch =
    Batch(Array.fill(n)(rng.nextInt(Symbols)), Array.fill(n)(1000 + rng.nextInt(49000)),
      Array.fill(n)(1 + rng.nextInt(10000)), b)

  def frame(ctx: Ctx, x: Batch): DataFrame = {
    val rows = Array.tabulate(x.n)(i =>
      Row(sym(x.sym(i)), tsOf(x.us(i)), x.cents(i) / 100.0, x.vol(i).toLong))
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows.toSeq, ctx.cpus), schema)
  }

  /** One read and what it returned, checked after the loop against the
    * batches ingested before it ran.
    */
  final case class Read(kind: String, sym: Int, lo: Long, hi: Long, batches: Int,
      ms: Double, got: Vector[(Long, Long, Long)], n: Long)

  def run(ctx: Ctx): Result = {
    val res = new Result("ingest_scan")
    val spark = ctx.spark
    val tr = ctx.tracer
    val rng = new java.util.Random(ctx.seed)
    val batches = mutable.ArrayBuffer(batch(rng, 0, FirstTicks))

    // set-up = a fresh daily-partitioned store holding the first batch;
    // repeated, median reported
    var dir: String = null
    val setups = (1 to Setups).map { i =>
      if (dir != null) graft.core.TempDirs.delete(dir)
      dir = ctx.fresh(s"store_$i")
      val t0 = System.nanoTime()
      new TickStore(spark, dir, dailyPartitions = true).ingest(frame(ctx, batches(0)))
      (System.nanoTime() - t0) / 1e9
    }
    val store = new TickStore(spark, dir, dailyPartitions = true)

    val ingestMs = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Read]
    var compactMs = 0.0
    var rewritten = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    def timed[T](f: => T): (T, Double) = {
      val a = System.nanoTime(); val r = f; (r, (System.nanoTime() - a) / 1e6)
    }
    def covered = (BaseUs, batches.last.us(batches.last.n - 1))
    while (System.nanoTime() < deadline || batches.length < 3) {
      tr.span("bench.iteration", s"batch ${batches.length}") {
        val x = tr.span("bench.generate", "batch")(batch(rng, batches.length))
        val df = tr.span("bench.generate", "frame")(frame(ctx, x))
        val (_, ms) = timed(tr.span("tsdb.ingest", "batch")(store.ingest(df)))
        batches += x
        ingestMs += ms
        val (lo0, hi0) = covered
        (0 until Narrow).foreach { _ =>
          val k = rng.nextInt(Symbols)
          val lo = lo0 + (rng.nextDouble() * (hi0 - lo0 - 3600L * 1000000L)).toLong
          val hi = lo + 3600L * 1000000L
          val (rows, ms) = timed(tr.span("tsdb.query_range", "narrow")(
            store.queryRange(sym(k), tsOf(lo), tsOf(hi)).collect()))
          reads += Read("narrow", k, lo, hi, batches.length, ms,
            rows.map(r => (usOf(r.getTimestamp(1)), math.round(r.getDouble(2) * 100), r.getLong(3)))
              .toVector, rows.length)
        }
        val k = rng.nextInt(Symbols)
        val (n, wideMs) = timed(tr.span("tsdb.query_range", "wide")(
          store.queryRange(sym(k), tsOf(lo0), tsOf(hi0)).count()))
        reads += Read("wide", k, lo0, hi0, batches.length, wideMs, Vector.empty, n)
        val k2 = rng.nextInt(Symbols)
        val (last, lastMs) = timed(tr.span("tsdb.query_last", "last")(
          store.queryLast(sym(k2), 10).collect()))
        reads += Read("last", k2, 0L, 0L, batches.length, lastMs,
          last.map(r => (usOf(r.getTimestamp(1)), math.round(r.getDouble(2) * 100), r.getLong(3)))
            .toVector, last.length)
        val k3 = rng.nextInt(Symbols)
        val (c, countMs) = timed(tr.span("tsdb.count", "count")(store.count(sym(k3))))
        reads += Read("count", k3, 0L, 0L, batches.length, countMs, Vector.empty, c)
        if (compactMs == 0.0 && System.nanoTime() - t0 > (ctx.seconds * 0.5e9).toLong) {
          rewritten = store.stats().filter(_._2 > 1).map(_._3).sum
          compactMs = timed(tr.span("tsdb.compact", "compact")(store.compact()))._2
        }
      }
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val (streamed, streamMs) = timed(tr.span("streaming.ingest", "streamIngest") {
      graft.streaming.Streams.streamIngest(spark, ctx.dataDir).collect()
    })
    val stats = store.stats()
    val storedBytes = stats.map(_._3).sum

    // untimed: every read against the batches it could see
    val bySym = Array.fill(Symbols)(mutable.ArrayBuffer.empty[(Long, Long, Long)])
    var seen = 0
    reads.sortBy(_.batches).foreach { r =>
      while (seen < r.batches) {
        val x = batches(seen)
        (0 until x.n).foreach(i =>
          bySym(x.sym(i)) += ((x.us(i), x.cents(i).toLong, x.vol(i).toLong)))
        (0 until Symbols).foreach(k => bySym(k).sortInPlaceBy(_._1))
        seen += 1
      }
      val t = bySym(r.sym)
      def lb(us: Long) = {
        var lo = 0; var hi = t.length
        while (lo < hi) { val m = (lo + hi) >>> 1; if (t(m)._1 < us) lo = m + 1 else hi = m }
        lo
      }
      r.kind match {
        case "narrow" => res.checkEq(s"queryRange ${sym(r.sym)} ${r.lo}..${r.hi}", r.got,
          t.slice(lb(r.lo), lb(r.hi + 1)).toVector)
        case "wide" => res.checkEq(s"queryRange count ${sym(r.sym)}", r.n,
          (lb(r.hi + 1) - lb(r.lo)).toLong)
        case "last" => res.checkEq(s"queryLast ${sym(r.sym)}", r.got, t.takeRight(10).reverse.toVector)
        case "count" => res.checkEq(s"count ${sym(r.sym)}", r.n, t.length.toLong)
      }
    }
    val ticks = batches.map(_.n.toLong).sum
    res.checkEq("stored ticks", store.countAll(), ticks)
    val events = graft.core.Tables.events(spark, ctx.dataDir).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    res.checkEq("streamIngest counts", streamed.map(r => r.getString(0) -> r.getLong(1)).toMap, events)
    val streamRows = events.values.sum

    val narrow = reads.filter(_.kind == "narrow").map(_.ms).toSeq
    val wide = reads.filter(_.kind == "wide")
    val (np, nTail) = Stats.tail(narrow)
    val ingestRate = (ticks - FirstTicks) / (ingestMs.sum / 1e3)
    res.e2e("setup_s") = (Stats.median(setups), "s")
    res.e2e("p50_ms") = (Stats.median(narrow), "ms")
    res.e2e("work_per_s") = (ingestRate, "1/s")
    res.metric("setup_s", Stats.median(setups), "s", s"median of $Setups set-ups")
    res.metric("ingest_ticks_per_s", ingestRate, "ticks/s",
      s"${ingestMs.length} batches of $BatchTicks ticks")
    res.metric("scan_ticks_per_s", wide.map(_.n).sum / (wide.map(_.ms).sum / 1e3), "ticks/s",
      s"${wide.length} wide queryRange counts")
    res.metric("scan_query_p50_ms", Stats.median(narrow), "ms",
      s"n=${narrow.length} narrow queryRange collects; p$np $nTail ms")
    res.metric("stream_rows_per_s", streamRows / (streamMs / 1e3), "rows/s",
      s"one streamIngest pass of $streamRows rows")
    res.metric("bytes_per_tick", storedBytes.toDouble / ticks, "bytes", s"$ticks ticks stored")
    res.detail("batches") = batches.length
    res.detail("setup_runs_s") = setups
    res.detail("loop_s") = loopS
    res.detail("partitions") = stats.length
    res.detail("files") = stats.map(_._2).sum
    if (tr.enabled) {
      ctx.jobsStarted() // drains the listener bus
      res.layer("tsdb.ingest_ms") = (Stats.median(ingestMs.toSeq), "ms")
      val ingestSpans = tr.spans.filter(_.layer == "tsdb.ingest").map(_.id.toString).toSet
      res.layer("tsdb.ingest_jobs") = (tr.jobs.jobs.values.count(j => ingestSpans(j.group)).toDouble /
        ingestMs.length, "jobs")
      res.layer("tsdb.compact_ms") = (compactMs, "ms")
      res.layer("tsdb.compact_bytes_rewritten") = (rewritten.toDouble, "bytes")
      res.layer("tsdb.stored_bytes") = (storedBytes.toDouble, "bytes")
      res.layer("tsdb.files_per_symbol") = (stats.map(_._2).sum.toDouble / Symbols, "count")
      res.layer("tsdb.query_range_ms") = (Stats.median(narrow), "ms")
      res.layer("tsdb.query_last_ms") = (Stats.median(reads.filter(_.kind == "last").map(_.ms).toSeq), "ms")
    }
    graft.core.TempDirs.delete(dir)
    res
  }
}
