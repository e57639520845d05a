package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ServeCache
import graft.core.LocalParquet.localFirst
import graft.tsdb.TickStore

/** Command-line parity with the reference `tsdb_cli`
  * (/root/reference/cli.cpp:10-16):
  *
  * {{{
  * runMain graft.Cli insert <symbol> <epoch_sec> <price> <volume>
  * runMain graft.Cli query <symbol> <start_sec> <end_sec>
  * runMain graft.Cli last <symbol> <count>
  * runMain graft.Cli benchmark <symbol> <tick_count>
  * runMain graft.Cli import <symbol> <csv_file>
  * }}}
  *
  * Data directory: `GRAFT_DATA_DIR` (default `tsdb_data`, matching
  * /root/reference/cli.cpp:50). Timestamps are epoch seconds like the
  * reference CLI.
  */
object Cli {
  def help(): Unit = println(
    """Usage:
      |  graft.Cli insert <symbol> <timestamp> <price> <volume>
      |  graft.Cli query <symbol> <start_timestamp> <end_timestamp>
      |  graft.Cli last <symbol> <count>
      |  graft.Cli benchmark <symbol> <tick_count>
      |  graft.Cli import <symbol> <csv_file>
      |  graft.Cli stats                 # per-partition file/byte report
      |  graft.Cli compact [max_files]   # merge fragmented partitions
      |  graft.Cli expire <cutoff_date>  # drop days before cutoff (daily layout)
      |  graft.Cli drop <symbol>         # remove a delisted symbol
      |  graft.Cli serve                 # interactive loop, warm session""".stripMargin)

  private def ts(epochSec: Long) = new java.sql.Timestamp(epochSec * 1000L)

  /** One tick as every `query`/`last` reply prints it. */
  private def tickLine(sec: Long, price: Double, volume: Long): String =
    f"Timestamp: $sec Price: $price%.2f Volume: $volume"

  /** A Spark-path [[TickStore]] row (symbol, ts, price, volume). */
  private def tickLine(r: Row): String =
    tickLine(r.getTimestamp(1).getTime / 1000, r.getDouble(2), r.getLong(3))

  /** Testable entry point; returns an exit code. */
  def run(spark: SparkSession, dataDir: String, args: Array[String]): Int = {
    if (args.isEmpty) { help(); return 1 }
    val store = new TickStore(spark, dataDir)
    args(0) match {
      case "insert" if args.length == 5 =>
        store.append(args(1), ts(args(2).toLong), args(3).toDouble, args(4).toLong)
        println(s"Inserted tick for ${args(1)}")
        0
      case "query" if args.length == 4 =>
        val rows = store.queryRange(args(1), ts(args(2).toLong), ts(args(3).toLong)).collect()
        println(s"Found ${rows.length} results:")
        rows.foreach(r => println(tickLine(r)))
        0
      case "last" if args.length == 3 =>
        val rows = store.queryLast(args(1), args(2).toInt).collect()
        println(s"Last ${rows.length} ticks for ${args(1)}:")
        rows.foreach(r => println(tickLine(r)))
        0
      case "benchmark" if args.length == 3 =>
        val n = args(2).toInt
        val base = 1700000000L
        import spark.implicits._
        val ticks = spark.range(n).select(
          lit(args(1)).as("symbol"),
          timestamp_seconds(lit(base) + col("id")).as("ts"),
          (lit(100.0) + pmod(col("id") * 7919L, lit(10000L)) / 100.0).as("price"),
          (pmod(col("id") * 104729L, lit(9900L)) + 100L).as("volume"))
        val t0 = System.nanoTime()
        store.ingest(ticks)
        val insertMs = (System.nanoTime() - t0) / 1e6
        println(f"Inserted $n ticks in ${insertMs}%.0fms (${n * 1000.0 / insertMs}%.0f ticks/second)")
        val t1 = System.nanoTime()
        val got = store.queryRange(args(1), ts(base), ts(base + n)).count()
        val queryMs = (System.nanoTime() - t1) / 1e6
        println(f"Retrieved $got ticks in ${queryMs}%.0fms (${got * 1000.0 / queryMs}%.0f ticks/second)")
        0
      case "import" if args.length == 3 =>
        store.importCsv(args(2), args(1))
        println(s"Imported ${store.count(args(1))} ticks from ${args(2)} for symbol ${args(1)}")
        0
      case "stats" if args.length == 1 =>
        val st = store.stats()
        st.foreach { case (p, n, b) =>
          println(f"$p%-32s $n%5d file(s) $b%12d bytes")
        }
        println(s"${st.size} partition(s), ${st.map(_._2).sum} file(s), " +
          s"${st.map(_._3.toDouble).sum.toLong} bytes total")
        0
      case "compact" if args.length <= 2 =>
        // maintenance trio: the operational commands a long-lived
        // store needs beyond the reference's read/write surface
        val maxFiles = if (args.length == 2) args(1).toInt else 1
        val n = store.compact(maxFiles)
        println(s"Compacted $n fragmented partition(s)")
        0
      case "expire" if args.length == 2 =>
        val daily = new TickStore(spark, dataDir, dailyPartitions = true)
        val n = daily.expire(java.time.LocalDate.parse(args(1)))
        println(s"Expired $n partition(s) before ${args(1)}")
        0
      case "drop" if args.length == 2 =>
        if (store.dropSymbol(args(1))) { println(s"Dropped ${args(1)}"); 0 }
        else { println(s"No such symbol: ${args(1)}"); 1 }
      case "serve" =>
        serve(spark, dataDir, Console.in, Console.out)
        0
      case _ =>
        help()
        1
    }
  }

  /** Per-symbol serving cache: ts-sorted parallel arrays — the exact
    * analog of the reference's warm in-memory B+ tree
    * (/root/reference/bplus_tree.hpp:76-95), populated by ONE pruned
    * Spark scan per symbol and then answering range reads with a
    * driver-side binary search. r11: BOUNDED — the cache holds only
    * the symbol's trailing `windowDays` of ticks (`fromSec` marks the
    * window start; `total` is the symbol's full tick count, cached so
    * `count` stays warm); reads that reach past the window fall
    * through to a partition/row-group-pruned Spark scan.
    */
  private final case class SymCache(fromSec: Long, total: Long,
      ts: Array[Long], price: Array[Double], volume: Array[Long]) {
    /** First index with ts >= key (lower bound). */
    def lowerBound(key: Long): Int = {
      var lo = 0; var hi = ts.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ts(mid) < key) lo = mid + 1 else hi = mid
      }
      lo
    }
    /** The cache holds the symbol's ENTIRE history (window covered
      * everything) — any range/last read can be served warm.
      */
    def complete: Boolean = total == ts.length.toLong
  }

  /** Interactive serving loop — the mitigation for Spark's per-process
    * startup cost on point reads. The reference answers `query_range`
    * in-process from a warm B+ tree; one `graft.Cli` invocation per
    * command instead pays full JVM + session startup every time
    * (ironically mirroring the reference's ~370 process-per-insert/s).
    * `serve` keeps ONE session alive and a lazily-loaded per-symbol
    * read-through cache (the serving-layer pattern every Spark-backed
    * market-data system uses: Spark for scans/analytics, a warm keyed
    * store for interactive point reads). First touch of a symbol pays
    * one partition-pruned Spark scan; every later query/last/count on
    * it is a driver-side binary search — sub-millisecond, matching the
    * reference's in-process latency class.
    *
    * r11 — the cache is BOUNDED on both axes (a hot symbol's
    * multi-year tape does not fit a driver at 100 TB):
    *  - TIME: only the trailing `windowDays` days (relative to the
    *    symbol's newest tick) load per symbol (default 365).
    *    Range/last reads that reach past the cached window fall
    *    through to a pruned Spark scan (cold but correct); `count`
    *    serves from a full count cached at warm time.
    *  - SYMBOLS: at most `maxSymbols` symbols stay cached (default
    *    64), LRU-evicted by the shared [[graft.core.ServeCache]] — the
    *    warm set follows the query mix; an evicted symbol pays one
    *    re-warm scan on next touch, and an `insert` invalidates its
    *    symbol.
    *
    * Protocol (one command per line, results + `(N ms)` timing):
    * {{{
    *   query <symbol> <start_sec> <end_sec>
    *   last <symbol> <count>
    *   count <symbol>
    *   insert <symbol> <epoch_sec> <price> <volume>   # refreshes cache
    *   exit
    * }}}
    */
  def serve(spark: SparkSession, dataDir: String,
      in: java.io.BufferedReader, out: java.io.PrintStream,
      windowDays: Int = 365,
      maxSymbols: Int = 64,
      embDir: Option[String] = sys.env.get("GRAFT_EMB_DIR")): Unit = {
    val store = new TickStore(spark, dataDir)
    // r15: warm ANN serving (`ann <vec_id> <k>`) — lazily initialized
    // so tick-only sessions never touch the embeddings table; the
    // first ann query pays the (digest-cached) IVFPQ artifact load +
    // probed-cell warm, later ones are driver-side lookups
    lazy val annServe: Option[graft.pipeline.AnnServe] =
      embDir.map(d => graft.pipeline.AnnServe.forTable(
        graft.core.Tables.embeddings(spark, d)))
    // r16: warm BM25 serving (`search <term> [term...]`) — the lexical
    // twin of `ann`: first query pays the (digest-cached) postings
    // build + probed-bucket warm, later ones are driver-side scoring
    lazy val bm25Serve: Option[graft.pipeline.Bm25Serve] =
      embDir.map(d => graft.pipeline.Bm25Serve.forTable(
        graft.core.Tables.documents(spark, d)))
    // r20 (the r19 verdict's #3, guide §4.5): when a retrieval dir is
    // configured, both tiers build their artifacts and start their
    // driver-side readers at serve start (the reader start runs no
    // Spark job), so the first interactive query pays only its own
    // probed cells'/terms' IO. Tick-only sessions (no embDir) still
    // never touch the retrieval tables.
    embDir.foreach { _ =>
      try {
        annServe.foreach(_.prewarm())
        bm25Serve.foreach(_.prewarm())
      } catch { case e: Exception =>
        // diagnostics go to stderr: `out` carries only protocol lines
        System.err.println(s"[graft] prewarm: ${e.getMessage}")
      }
    }
    // the tick store keeps no versions: this loop's own `insert`
    // invalidates its symbol instead
    val cache = new ServeCache[String, SymCache](maxSymbols, _ => 0L)
    def load(sym: String): SymCache = {
      // the cached window: the trailing `windowDays` from the newest
      // tick's second, ending at the UNTRUNCATED newest tick — a
      // whole-second end would silently drop the newest fractional
      // second while `total` counts it (r12 ADVICE)
      def fromSec(maxUs: Long) = Math.floorDiv(maxUs, 1000000L) - windowDays.toLong * 86400L
      // both paths yield (epoch µs, price, volume) sorted by ts (a
      // stable sort: files/groups may interleave)
      def cached(total: Long, maxUs: Long, us: Array[Long], pr: Array[Double],
          vo: Array[Long]) = {
        val order = us.indices.toArray.sortBy(us)
        SymCache(fromSec(maxUs), total, order.map(i => Math.floorDiv(us(i), 1000000L)),
          order.map(pr), order.map(vo))
      }
      val empty = SymCache(0L, 0L, Array.empty, Array.empty, Array.empty)
      // r13 cold path, DRIVER-SIDE and job-free: the symbol's files are
      // listed once and opened once; (count, max ts) come from their
      // footers (the per-symbol stats sidecar, maintained by every
      // ingest/compact commit by construction), then the window ticks
      // from the same readers' overlapping row groups (the reference's
      // mmap'd-column-files analog). A pre-r13 INT96 store declines and
      // loads from Spark: the fused stats aggregation, then a pruned
      // scan.
      localFirst("serve symbol load")(store.readLocal(sym) { r =>
        r.stats.flatMap {
          case (_, None) => Some(empty)
          case (total, Some(maxUs)) =>
            r.scan(fromSec(maxUs) * 1000000L, maxUs).map {
              case (us, pr, vo) => cached(total, maxUs, us, pr, vo)
            }
        }
      }) {
        val (total, maxTs) = store.symbolStats(sym)
        if (total == 0L) empty
        else {
          val maxUs = Math.floorDiv(maxTs.get.getTime, 1000L) * 1000000L +
            maxTs.get.getNanos / 1000L
          // null price/volume coalesce to 0 so this fallback and the
          // fast path agree on degenerate rows (r13 ADVICE:
          // getDouble/getLong NPE'd here where the local scan
          // zero-filled)
          val rows = store.scanRange(sym,
            new java.sql.Timestamp(fromSec(maxUs) * 1000L), maxTs.get)
            .select(unix_micros(col("ts")),
              coalesce(col("price"), lit(0.0)),
              coalesce(col("volume"), lit(0L)))
            .collect()
          cached(total, maxUs, rows.map(_.getLong(0)), rows.map(_.getDouble(1)),
            rows.map(_.getLong(2)))
        }
      }
    }
    def warm(sym: String): SymCache = cache.getOrLoadOne(sym)(load(sym))
    def printTicks(c: SymCache, idx: Iterable[Int]): Unit =
      idx.foreach(i => out.println(tickLine(c.ts(i), c.price(i), c.volume(i))))
    out.println("graft serve — warm session ready (exit to quit)")
    var done = false
    while (!done) {
      val line = in.readLine()
      if (line == null) done = true
      else {
        val t0 = System.nanoTime()
        val a = line.trim.split("\\s+")
        // true when the command was answered: only answers carry the
        // `(N ms)` timing line (blank lines, exit, help and errors don't)
        try if (a(0) match {
          case "" => false
          case "exit" | "quit" => done = true; false
          case "query" if a.length == 4 =>
            val c = warm(a(1))
            val startSec = a(2).toLong
            if (c.complete || startSec >= c.fromSec) {
              val from = c.lowerBound(startSec)
              val until = c.lowerBound(a(3).toLong + 1) // inclusive end
              out.println(s"Found ${until - from} results:")
              printTicks(c, from until until)
            } else {
              // range reaches past the cached window — pruned cold scan
              val rows = store.queryRange(a(1), ts(startSec),
                ts(a(3).toLong)).collect()
              out.println(s"Found ${rows.length} results:")
              rows.foreach(r => out.println(tickLine(r)))
            }
            true
          case "last" if a.length == 3 =>
            val c = warm(a(1))
            val n0 = a(2).toInt
            if (c.complete || n0 <= c.ts.length) {
              val n = math.min(n0, c.ts.length)
              out.println(s"Last $n ticks for ${a(1)}:")
              // newest first, matching the one-shot `last` command
              printTicks(c, (c.ts.length - 1) to (c.ts.length - n) by -1)
            } else {
              // deeper than the cached window — pruned cold scan
              val rows = store.queryLast(a(1), n0).collect()
              out.println(s"Last ${rows.length} ticks for ${a(1)}:")
              rows.foreach(r => out.println(tickLine(r)))
            }
            true
          case "count" if a.length == 2 =>
            out.println(s"Count: ${warm(a(1)).total}")
            true
          case "insert" if a.length == 5 =>
            store.append(a(1), ts(a(2).toLong), a(3).toDouble, a(4).toLong)
            cache.invalidate(a(1)) // read-through refresh on next touch
            out.println(s"Inserted tick for ${a(1)}")
            true
          case "ann" if a.length == 3 =>
            annServe match {
              case Some(srv) =>
                val res = srv.topKById(a(1).toLong, a(2).toInt)
                out.println(s"Top ${res.length} neighbors for vec ${a(1)}:")
                res.foreach { case (id, cs) =>
                  out.println(f"Vec: $id Cosine: $cs%.4f")
                }
              case None =>
                out.println("ann: no embeddings dir (set GRAFT_EMB_DIR)")
            }
            true
          case "search" if a.length >= 2 =>
            bm25Serve match {
              case Some(srv) =>
                // r17: `search -all <terms…>` = conjunctive (AND) mode
                val conj = a(1) == "-all"
                val terms = a.drop(if (conj) 2 else 1).toSeq
                if (terms.isEmpty) out.println("search: no terms")
                else {
                  val res = srv.topK(terms, 10, conjunctive = conj)
                  val mode = if (conj) "ALL of" else "ANY of"
                  out.println(
                    s"Top ${res.length} docs for $mode '${terms.mkString(" ")}':")
                  res.foreach { case (doc, dl, score) =>
                    out.println(f"Doc: $doc Len: $dl BM25: $score%.6f")
                  }
                }
              case None =>
                out.println("search: no corpus dir (set GRAFT_EMB_DIR)")
            }
            true
          case "hybrid" if a.length >= 3 =>
            // r17: warm hybrid retrieval — RRF fusion of the two warm
            // serve tiers (ANN by vector id + BM25 by terms), fused
            // driver-side: zero Spark jobs once both tiers are warm
            (annServe, bm25Serve) match {
              case (Some(ann), Some(bm)) =>
                val vecId = a(1).toLong
                val terms = a.drop(2).toSeq
                val bmIds = bm.topK(terms, 20).map(_._1)
                val annIds = ann.topKById(vecId, 20).map(_._1)
                val fused = graft.pipeline.Similarity.rrfFuse(
                  Seq(bmIds, annIds), 10)
                out.println(
                  s"Top ${fused.length} hybrid hits for vec $vecId + " +
                    s"'${terms.mkString(" ")}':")
                fused.foreach { case (id, s) =>
                  out.println(f"Doc: $id RRF: $s%.6f")
                }
              case _ =>
                out.println("hybrid: no corpus dir (set GRAFT_EMB_DIR)")
            }
            true
          case _ =>
            out.println(
              "commands: query|last|count|insert|ann|search|hybrid|exit")
            false
        }) out.println(f"(${(System.nanoTime() - t0) / 1e6}%.2f ms)")
        catch {
          case e: Exception => out.println(s"error: ${e.getMessage}")
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val builder = graft.core.LocalSession.builder()
    sys.env.get("SPARK_MASTER").foreach(builder.master)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = try run(spark, sys.env.getOrElse("GRAFT_DATA_DIR", "tsdb_data"), args)
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
