package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming ingest and windowed aggregation — the Spark
  * analog of the reference's background writer thread + live queries
  * (/root/reference/timeseries_db.hpp:87-100: write queue drained by
  * `writer_loop` while readers run concurrently).
  *
  * Batch parquet drives the stream here (one file = one micro-batch);
  * in production the same plans run over Kafka/files unchanged. The
  * memory sink + `processAllAvailable` makes the smoke path
  * synchronous and deterministic.
  *
  * Window flushing: append-mode windowed aggregates only emit a window
  * once the watermark passes its end, so a finite stream would hold
  * back its tail windows forever. [[sentinelInput]] appends one
  * heartbeat/punctuation tick far enough past the real max event time
  * to advance the watermark past every real window — the standard
  * stream-termination pattern — making the streamed result equal the
  * batch aggregation exactly (and therefore DuckDB-oracle-checkable).
  */
object Streams {
  private val counter = new AtomicInteger(0)

  /** State partitions for the local streaming smoke paths (key
    * cardinalities here are 5 symbols / 150 users, so each extra
    * partition is a state-store instance of pure fixed overhead; on a
    * cluster size this O(executor cores) like any shuffle).
    * Env-overridable for benchmarking the trade-off.
    */
  private val statePartitions: Int =
    sys.env.getOrElse("SPARK_GRAFT_STATE_PARTITIONS", "4").toInt

  /** Heartbeat symbol; filtered out of every result. */
  val SentinelSymbol = "~sentinel~"

  /** Run a streaming query with `n` state partitions (baked in at
    * query start): stateful operators create one state-store instance
    * per shuffle partition per store, so a 5-symbol/150-user local
    * stream paying 32×4 store instances is pure fixed overhead. On a
    * cluster, size this like any shuffle — O(executor cores) — via the
    * same conf. The session value is restored afterwards.
    */
  private def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  final case class VwapIn(symbol: String, price: Double, volume: Long)
  /** VWAP state keeps price·volume in exact integer cents (prices are
    * 2-dp), so the final quotient is bit-identical to the oracle's
    * DECIMAL-sum formulation regardless of arrival order.
    */
  final case class VwapState(n: Long, pvCents: Long, v: Long)
  final case class VwapOut(symbol: String, n_ticks: Long, running_vwap: Double)

  /** Ticks streamed from the parquet files in `dir` matching `glob`,
    * read with the batch schema of `dir/events.parquet`
    * ([[graft.core.Tables.eventsRaw]]: footer-derived, ts TIMESTAMP_NTZ).
    */
  private def tickStreamFrom(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.readStream
      .schema(graft.core.Tables.eventsRaw(spark, dir).schema)
      .option("pathGlobFilter", glob)
      .parquet(dir)
      .select(col("event_id"), col("event_type").as("symbol"),
        // identity on the µs value under the pinned UTC session zone
        col("ts").cast("timestamp").as("ts"),
        col("value").as("price"), col("user_id").as("volume"))

  private def tickStream(spark: SparkSession, dir: String): DataFrame =
    tickStreamFrom(spark, dir, "events.parquet")

  /** Stage the events file plus one sentinel tick 2 hours past the
    * real max event time into a stream-input directory (2 h clears
    * every window size used here against the 10-minute watermark).
    * Cached per source dir — every streaming query over the same data
    * shares one staged copy and one max-ts scan.
    */
  private val sentinelCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def sentinelInput(spark: SparkSession, dir: String): String =
    sentinelCache.computeIfAbsent(dir, _ => {
      val maxTs = graft.core.Tables.eventsRaw(spark, dir)
        .agg(max(col("ts"))).head().getAs[java.time.LocalDateTime](0)
      val base = Paths.get(graft.core.TempDirs.scoped("graft_stream_in_"))
      val in = Files.createDirectory(base.resolve("in"))
      Files.copy(Paths.get(dir, "events.parquet"), in.resolve("events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      import spark.implicits._
      val sentTs = maxTs.plusHours(2)
      val tmpOut = base.resolve("sent").toString
      Seq((-1L, sentTs, 0L, SentinelSymbol, 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmpOut)
      val listing = Files.list(Paths.get(tmpOut))
      val part =
        try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
        finally listing.close()
      Files.move(part, in.resolve("zz_sentinel.parquet"))
      // staged copies live for the process; sweep them on shutdown
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(base)))
      in.toString
    })

  private def deleteTree(root: java.nio.file.Path): Unit =
    try {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    } catch { case _: Exception => () }

  /** Streaming ingest → parquet sink with checkpoint (exactly-once),
    * then scan the sink back. Mirrors reference append path running in
    * the background while queries read committed data. The sink
    * round-trip is value-preserving, so the oracle is the batch count.
    */
  def streamIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.core.TempDirs.scoped("graft_stream_ingest_")
    val q = tickStream(spark, dir).writeStream
      .format("parquet")
      .option("path", s"$base/data")
      .option("checkpointLocation", s"$base/chk")
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(s"$base/data")
      .groupBy(col("symbol")).agg(count(lit(1)).as("n_ticks"))
      .orderBy("symbol")
  }

  /** Continuous aggregate: stream ticks into an incrementally
    * maintained 1-hour bar rollup persisted as parquet (checkpointed,
    * exactly-once) — the TSDB "downsampled materialized view" pattern.
    * Readers query the small rollup instead of re-scanning raw ticks;
    * at 100 TB the rollup is ~4 orders of magnitude smaller.
    */
  def materializedBars(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.core.TempDirs.scoped("graft_matbars_")
    // sentinel past max: watermark (10 min behind) passes every real
    // hourly window end, flushing the full rollup
    val inDir = sentinelInput(spark, dir)
    val bars = tickStreamFrom(spark, inDir, "*.parquet")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        min(col("price")).as("low"), max(col("price")).as("high"),
        sum(col("volume")).as("volume"))
      .select(col("window.start").as("bar_start"), col("symbol"),
        col("n_ticks"), col("low"), col("high"), col("volume"))
    withStatePartitions(spark, statePartitions) {
      val q = bars.writeStream.outputMode("append")
        .format("parquet")
        .option("path", s"$base/bars")
        .option("checkpointLocation", s"$base/chk")
        .partitionBy("symbol")
        .start()
      q.processAllAvailable()
      q.stop()
    }
    // query the rollup store, not the raw ticks
    spark.read.parquet(s"$base/bars")
      .filter(col("symbol") =!= SentinelSymbol)
      .select(unix_micros(col("bar_start")).as("bar_start_us"), col("symbol"),
        col("n_ticks"), col("low"), col("high"), col("volume"))
      .orderBy("symbol", "bar_start_us")
  }

  /** Per-symbol running state maintained with flatMapGroupsWithState —
    * the custom-state analog of the reference's per-symbol in-memory
    * store fed by its writer thread. Emits one running (count, vwap)
    * snapshot per symbol per micro-batch; state is O(symbols). The
    * final snapshot per symbol covers every tick, so it equals the
    * batch VWAP (exact integer-cent state; see [[VwapState]]).
    */
  def streamRunningVwap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._

    val name = s"graft_vwap_${counter.incrementAndGet()}"
    val ticks = tickStream(spark, dir)
      .select(col("symbol"), col("price"), col("volume")).as[VwapIn]
    val updated = ticks.groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sym: String, rows: Iterator[VwapIn], state: GroupState[VwapState]) =>
          var s = state.getOption.getOrElse(VwapState(0L, 0L, 0L))
          rows.foreach { r =>
            s = VwapState(s.n + 1,
              s.pvCents + Math.round(r.price * 100.0) * r.volume, s.v + r.volume)
          }
          state.update(s)
          Iterator.single(VwapOut(sym, s.n,
            if (s.v == 0) 0.0 else (s.pvCents.toDouble / 100.0) / s.v.toDouble))
      }
    withStatePartitions(spark, statePartitions) {
      val q = updated.toDF().writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
    }
    // final snapshot per symbol = totals over all micro-batches
    spark.table(name).groupBy(col("symbol"))
      .agg(max(col("n_ticks")).as("n_ticks"),
        round(max_by(col("running_vwap"), col("n_ticks")), 6).as("running_vwap"))
      .orderBy("symbol")
  }

  /** Native stream-stream range join: for each error event, count the
    * same user's clicks in the preceding 5 minutes — Spark's
    * watermarked stream-stream join with a time-interval condition
    * (both sides buffer only the watermark-bounded range; state evicts
    * as the watermark advances, so state is O(rate × window), not
    * O(history)). The streamed join is INNER — outer null-emission is
    * watermark-lagged by design — and the zero-count lefts are
    * recovered at read-back with a batch left join against the key
    * universe, so the result equals the batch range join and shares
    * its oracle.
    */
  def streamRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val name = s"graft_stream_rj_${counter.incrementAndGet()}"
    def side(sym: String, prefix: String) =
      tickStream(spark, dir)
        .withWatermark("ts", "10 minutes")
        .filter(col("symbol") === sym)
        .select(col("event_id").as(s"${prefix}_event_id"),
          col("volume").as(s"${prefix}_user_id"), col("ts").as(s"${prefix}_ts"))
    withStatePartitions(spark, statePartitions) {
      val joined = side("error", "l").join(side("click", "r"),
        col("l_user_id") === col("r_user_id") &&
          col("r_ts") >= col("l_ts") - expr("interval 5 minutes") &&
          col("r_ts") < col("l_ts"))
      val q = joined.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
    }
    val counts = spark.table(name)
      .groupBy(col("l_event_id").as("event_id"))
      .agg(count(lit(1)).as("n_matched"))
    graft.core.Tables.ticks(spark, dir).filter(col("symbol") === "error")
      .select(col("event_id"))
      .join(counts, Seq("event_id"), "left")
      .select(col("event_id"), coalesce(col("n_matched"), lit(0L)).as("n_prior"))
      .orderBy("event_id")
  }

  /** Streaming sessionization with the native `session_window` (gap-
    * merged event-time windows + watermark): same session boundaries as
    * the batch operator, flushed by the sentinel, so it shares the
    * batch oracle.
    */
  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    val name = s"graft_stream_sess_${counter.incrementAndGet()}"
    val inDir = sentinelInput(spark, dir)
    val src = tickStreamFrom(spark, inDir, "*.parquet")
      .withWatermark("ts", "10 minutes")
    withStatePartitions(spark, statePartitions) {
      val sessions = src
        .groupBy(col("symbol"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_ticks"))
        .select(col("symbol"),
          unix_micros(col("session_window.start")).as("sess_start_us"),
          col("n_ticks"))
      val q = sessions.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
    }
    spark.table(name)
      .filter(col("symbol") =!= SentinelSymbol)
      .orderBy("symbol", "sess_start_us")
  }

  /** Stream-static enrich: the tick stream joined to a static
    * dimension table (customer market segment by user id) — Spark
    * plans the static side as an ordinary broadcast per micro-batch,
    * no state at all. The oracle is the equivalent batch join.
    */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val name = s"graft_stream_enrich_${counter.incrementAndGet()}"
    val dim = graft.core.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = tickStream(spark, dir)
      .join(broadcast(dim), col("volume") === col("c_custkey"), "left")
      .select(col("event_id"), col("symbol"),
        coalesce(col("c_mktsegment"), lit("NONE")).as("mktsegment"))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name).orderBy("event_id")
  }

  /** Streaming deduplication with BOUNDED state: first-seen
    * (user, symbol) pairs survive within the watermark horizon
    * (`dropDuplicatesWithinWatermark` — keys older than the watermark
    * delay are evicted, so state is O(keys-per-horizon), not
    * O(all-keys-ever); the unbounded `dropDuplicates` variant grows
    * state forever at 100 TB). A key recurring AFTER its state evicted
    * re-emits, so the sink side collapses re-emissions with one
    * DISTINCT at read-back — the same merge-on-read compaction
    * [[streamLatest]] uses — making the survivor set equal batch
    * DISTINCT, which is the oracle.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val name = s"graft_stream_dedup_${counter.incrementAndGet()}"
    withStatePartitions(spark, statePartitions) {
      val deduped = tickStream(spark, dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("volume", "symbol")
        .select(col("volume").as("user_id"), col("symbol"))
      val q = deduped.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
    }
    spark.table(name).distinct().orderBy("user_id", "symbol")
  }

  /** Continuous latest-value store via `foreachBatch`: each micro-batch
    * appends its per-symbol argmax to a delta directory (merge-on-read
    * upsert — the "current tick" table every market-data consumer
    * keeps); the read side compacts deltas with one argmax. Equals the
    * batch per-symbol last tick, which is the oracle.
    */
  def streamLatest(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.core.TempDirs.scoped("graft_stream_latest_")
    // deterministic argmax under (symbol, ts) ties: the zero-padded
    // (epoch_us, event_id) tie key (MarketOps.tieKey pattern) keys the
    // per-batch pick AND travels with the delta so compaction re-picks
    // by the globally-unique key, not the tie-prone timestamp alone
    val key = concat(
      lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 20, "0"))
    val q = tickStream(spark, dir).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.groupBy(col("symbol"))
          .agg(unix_micros(max(col("ts"))).as("last_ts_us"),
            max(key).as("last_key"),
            max_by(col("price"), key).as("last_price"))
          .write.mode("append").parquet(s"$base/delta")
      }
      .option("checkpointLocation", s"$base/chk")
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.parquet(s"$base/delta")
      .groupBy(col("symbol"))
      .agg(max(col("last_ts_us")).as("last_ts_us"),
        max_by(col("last_price"), col("last_key")).as("last_price"))
      .orderBy("symbol")
  }

  /** Streaming top-k per symbol via mergeable per-batch top-k: each
    * micro-batch appends ONLY its own k best rows per symbol
    * (`foreachBatch` + window rank — k rows per symbol per batch, not
    * the batch itself), and the read side ranks the accumulated
    * candidates once. Top-k is a mergeable summary — the global top-k
    * is always contained in the union of per-batch top-ks — so the
    * streamed result EQUALS the batch `row_number() <= k` query and
    * shares its oracle shape. State outside the store is zero;
    * the delta directory grows k·symbols rows per batch.
    */
  def streamTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = graft.core.TempDirs.scoped("graft_stream_topk_")
    val rankW = Window.partitionBy("symbol")
      .orderBy(col("price").desc, col("event_id"))
    val q = tickStream(spark, dir).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.withColumn("rn", row_number().over(rankW))
          .filter(col("rn") <= k)
          .select(col("symbol"), col("event_id"), col("price"))
          .write.mode("append").parquet(s"$base/delta")
      }
      .option("checkpointLocation", s"$base/chk")
      .start()
    q.processAllAvailable()
    q.stop()
    // a retried micro-batch appends its per-batch top-k twice; the
    // read-side dedup on the natural key makes the sink-side append
    // idempotent (duplicates of the best row must not occupy two ranks)
    spark.read.parquet(s"$base/delta")
      .dropDuplicates("symbol", "event_id")
      .withColumn("rn", row_number().over(rankW).cast("long"))
      .filter(col("rn") <= k)
      .select(col("symbol"), col("rn"), col("event_id"), col("price"))
      .orderBy("symbol", "rn")
  }

  final case class AsofIn(side: Int, event_id: Long, user_id: Long,
      ts_us: Long, price: Double)
  final case class QuoteState(ts_us: Long, price: Double)
  final case class AsofOut(event_id: Long, user_id: Long, ts_us: Long,
      price: Double, quote_ts_us: Long, quote_price: Double)

  /** Stream-stream as-of join: trades (purchase) matched to the latest
    * quote (click) per user with quote.ts <= trade.ts — the streaming
    * form of [[graft.operators.MarketOps.asofJoin]].
    *
    * Both sides arrive as one keyed stream; per key a single
    * [[QuoteState]] (the latest quote) is carried across micro-batches
    * — O(keys) state, like the reference's per-symbol in-memory tail.
    * Rows inside a batch are sorted by (ts, side, event_id) with
    * quotes first at equal ts, so the match is inclusive and FULLY
    * deterministic under intra-batch disorder — at equal quote ts the
    * highest event_id wins. (If a corpus had duplicate-(user, ts)
    * quotes with different prices, DuckDB's ASOF JOIN picks an
    * arbitrary one; its oracle would then need the same rule via a
    * max_by(price, (ts, event_id)) pre-dedup. This corpus has unique
    * event timestamps per user, so the shared oracle is exact.
    * Cross-batch disorder needs watermark-depth buffering; a
    * file-per-batch source replays in time order, so the streamed
    * result equals the batch as-of join and shares its DuckDB
    * `ASOF JOIN` oracle.)
    */
  def streamAsOf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._

    val name = s"graft_stream_asof_${counter.incrementAndGet()}"
    val src = tickStream(spark, dir)
      .filter(col("symbol").isin("purchase", "click"))
      .select(
        when(col("symbol") === "click", 0).otherwise(1).as("side"),
        col("event_id"), col("volume").as("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("price"))
      .as[AsofIn]
    val joined = src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[AsofIn], state: GroupState[QuoteState]) =>
          val sorted = rows.toArray.sortBy(r => (r.ts_us, r.side, r.event_id))
          var q = state.getOption.getOrElse(QuoteState(-1L, -1.0))
          val out = Array.newBuilder[AsofOut]
          sorted.foreach { r =>
            if (r.side == 0) { if (r.ts_us >= q.ts_us) q = QuoteState(r.ts_us, r.price) }
            else out += AsofOut(r.event_id, uid, r.ts_us, r.price, q.ts_us, q.price)
          }
          state.update(q)
          out.result().iterator
      }
    withStatePartitions(spark, statePartitions) {
      val q = joined.toDF().writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
    }
    spark.table(name).orderBy("event_id")
  }

  /** Streaming 1-minute OHLC-style bars with a 10-minute watermark:
    * late ticks inside the watermark still land in their bar; bars
    * finalize (append mode) once the watermark passes. A sentinel
    * heartbeat past the stream end flushes the tail bars, so the
    * result equals the batch per-minute aggregation.
    */
  def streamBars(spark: SparkSession, dir: String): DataFrame = {
    val name = s"graft_bars_${counter.incrementAndGet()}"
    // sentinel past max: watermark (10 min behind) passes every real
    // 1-minute window end
    val inDir = sentinelInput(spark, dir)
    val bars = tickStreamFrom(spark, inDir, "*.parquet")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        min(col("price")).as("low"), max(col("price")).as("high"),
        sum(col("volume")).as("volume"))
    withStatePartitions(spark, statePartitions) {
      val q = bars.writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      q.processAllAvailable()
      q.stop()
    }
    spark.table(name)
      .filter(col("symbol") =!= SentinelSymbol)
      .select(unix_micros(col("window.start")).as("bar_start_us"), col("symbol"),
        col("n_ticks"), col("low"), col("high"), col("volume"))
      .orderBy("symbol", "bar_start_us")
  }

  /** NEW r14: STREAMING near-dup candidate flags — documents arriving
    * on a stream are MinHash-banded in-flight (the same single-pass
    * codegen'd signature expression the batch path uses) and joined
    * against the STATIC corpus band table, so a re-crawled or
    * duplicated page is flagged the moment it lands — the streaming
    * sibling of [[graft.pipeline.Dedup.clustersAppend]]'s batch
    * refresh, and the freshness half of the dedup-pipeline story.
    *
    * The stream replays the corpus as a re-crawl under shifted doc ids
    * (+1,000,000), so every streamed doc must flag at least its own
    * original — which makes the result exactly reproducible by the
    * batch band self-join the oracle runs. The in-stream pipeline is
    * fully STATELESS (band explode + a stream-static inner join —
    * state stays zero no matter how long the stream runs); candidate
    * counts aggregate at read-back (the streamDedup merge-on-read
    * posture). At 100 TB the static band table is the persisted
    * `clusters` artifact's band index — bucketed or broadcast by the
    * deployment, and a production remover would cap per-bucket
    * candidates exactly like the batch [[graft.pipeline.Dedup]] path.
    */
  def streamDedupFlags(spark: SparkSession, dir: String): DataFrame = {
    val name = s"graft_stream_dedupflags_${counter.incrementAndGet()}"
    graft.functions.GraftFunctions.register(spark)
    val corpusBands = graft.pipeline.Dedup
      .bandedSigs(graft.core.Tables.documents(spark, dir))
      .select(col("doc_id").as("corpus_doc"), col("band_id"), col("band_hash"))
    val streamed = spark.readStream
      .schema(graft.core.Tables.documents(spark, dir).schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val pairs = graft.pipeline.Dedup.bandedSigs(streamed)
      .select(col("doc_id").as("new_doc_id"), col("band_id"), col("band_hash"))
      .join(corpusBands, Seq("band_id", "band_hash"))
      .select(col("new_doc_id"), col("corpus_doc"))
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
      .groupBy(col("new_doc_id"))
      .agg(countDistinct(col("corpus_doc")).as("n_candidates"))
      .orderBy("new_doc_id")
  }
}
