package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tsdb.TickStore

/** Drives the CLI parity layer end-to-end against a temp store. */
class CliSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val dir = Files.createTempDirectory("cli_spec_").toString

  test("insert then query round-trips through the CLI") {
    assert(Cli.run(spark, dir, Array("insert", "AAPL", "1625097600", "148.56", "1000000")) === 0)
    assert(Cli.run(spark, dir, Array("insert", "AAPL", "1625097700", "149.10", "500")) === 0)
    assert(Cli.run(spark, dir, Array("query", "AAPL", "1625097600", "1625184000")) === 0)
    val store = new graft.tsdb.TickStore(spark, dir)
    assert(store.count("AAPL") === 2)
  }

  test("last returns newest first") {
    assert(Cli.run(spark, dir, Array("last", "AAPL", "1")) === 0)
    val top = new graft.tsdb.TickStore(spark, dir).queryLast("AAPL", 1).head()
    assert(top.getDouble(2) === 149.10)
  }

  test("benchmark ingests and scans the requested tick count") {
    val bdir = Files.createTempDirectory("cli_bench_").toString
    assert(Cli.run(spark, bdir, Array("benchmark", "MSFT", "1000")) === 0)
    assert(new graft.tsdb.TickStore(spark, bdir).count("MSFT") === 1000)
  }

  test("unknown command prints help and fails") {
    assert(Cli.run(spark, dir, Array("nope")) === 1)
  }

  test("maintenance commands: compact, expire, drop") {
    val mdir = Files.createTempDirectory("cli_maint_").toString
    // two commits for one symbol → fragmented; compact merges them
    assert(Cli.run(spark, mdir, Array("insert", "AAA", "1700006400", "10.00", "1")) === 0)
    assert(Cli.run(spark, mdir, Array("insert", "AAA", "1700006401", "11.00", "2")) === 0)
    // stats sees the fragmentation compact is about to fix
    val pre = new graft.tsdb.TickStore(spark, mdir).stats()
    assert(pre.map(_._1) === Seq("symbol=AAA") && pre.head._2 === 2)
    assert(pre.head._3 > 0L)
    assert(Cli.run(spark, mdir, Array("stats")) === 0)
    assert(Cli.run(spark, mdir, Array("compact")) === 0)
    assert(new graft.tsdb.TickStore(spark, mdir).stats().head._2 === 1)
    val files = new java.io.File(s"$mdir/symbol=AAA").listFiles
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(files === 1)
    assert(new graft.tsdb.TickStore(spark, mdir).count("AAA") === 2)
    // drop removes the symbol; second drop reports failure
    assert(Cli.run(spark, mdir, Array("drop", "AAA")) === 0)
    assert(Cli.run(spark, mdir, Array("drop", "AAA")) === 1)
    // expire on a daily-layout store
    val edir = Files.createTempDirectory("cli_expire_").toString
    val daily = new graft.tsdb.TickStore(spark, edir, dailyPartitions = true)
    import org.apache.spark.sql.functions._
    daily.ingest(spark.range(2).select(lit("BBB").as("symbol"),
      timestamp_seconds(lit(1700006400L) + col("id") * 86400L).as("ts"),
      lit(5.0).as("price"), lit(1L).as("volume")))
    assert(Cli.run(spark, edir, Array("expire", "2023-11-16")) === 0)
    assert(daily.countAll() === 1)
    graft.core.TempDirs.delete(mdir)
    graft.core.TempDirs.delete(edir)
  }

  test("serve answers repeated queries on a warm cached session") {
    val sdir = Files.createTempDirectory("cli_serve_").toString
    assert(Cli.run(spark, sdir, Array("benchmark", "NVDA", "5000")) === 0)
    val cmds =
      """query NVDA 1700000000 1700000050
        |query NVDA 1700000100 1700000150
        |last NVDA 3
        |count NVDA
        |exit
        |""".stripMargin
    val bout = new java.io.ByteArrayOutputStream()
    val t0 = System.nanoTime()
    Cli.serve(spark, sdir,
      new java.io.BufferedReader(new java.io.StringReader(cmds)),
      new java.io.PrintStream(bout, true))
    val totalSec = (System.nanoTime() - t0) / 1e9
    val outStr = bout.toString
    assert(outStr.contains("Found 51 results:"))
    assert(outStr.contains("Last 3 ticks for NVDA:"))
    assert(outStr.contains("Count: 5000"))
    // warm repeated reads: the 2nd query must be much faster than the
    // 1st (per-symbol cache hit); parse the "(N ms)" timings. Assert the
    // RELATIVE property (warm ≪ cold) with an absolute escape hatch so a
    // loaded machine's GC pause can't flake the suite.
    val times = "\\(([\\d.]+) ms\\)".r.findAllMatchIn(outStr)
      .map(_.group(1).toDouble).toVector
    assert(times.length === 4, s"timings in: $outStr")
    assert(times(1) < times(0) &&
      times(1) < math.max(times(0) / 5.0, 250.0),
      s"warm query took ${times(1)} ms vs cold ${times(0)} ms (total $totalSec s)")
  }

  /** `n` ticks of `sym`, 7 seconds apart from `fromSec`. */
  private def ticks(sym: String, fromSec: Long, n: Int,
      session: SparkSession = spark): DataFrame =
    session.range(n).select(lit(sym).as("symbol"),
      timestamp_seconds(lit(fromSec) + col("id") * 7L).as("ts"),
      (lit(100.0) + col("id")).as("price"), col("id").as("volume"))

  /** Serve `cmds` on `dir`, then exit: (lines on `out`, text on stderr). */
  private def serveLines(dir: String, cmds: Seq[String],
      embDir: Option[String] = None): (Seq[String], String) = {
    val bout = new java.io.ByteArrayOutputStream()
    val berr = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(berr, true))
    try Cli.serve(spark, dir,
      new java.io.BufferedReader(new java.io.StringReader((cmds :+ "exit").mkString("\n"))),
      new java.io.PrintStream(bout, true), embDir = embDir)
    finally System.setErr(err)
    (bout.toString.linesIterator.toSeq, berr.toString)
  }

  // the banner, up to its em dash (out uses the platform charset)
  private val banner = "graft serve "
  private val timing = "\\([\\d.]+ ms\\)"

  /** What serve must print for `count`/`last`/`query`, taken from the
    * Spark-path reads (`symbolStats`, `queryLast`, `queryRange`).
    */
  private def sparkAnswer(store: TickStore, cmd: String): Seq[String] = {
    def line(r: Row) = f"Timestamp: ${r.getTimestamp(1).getTime / 1000} " +
      f"Price: ${r.getDouble(2)}%.2f Volume: ${r.getLong(3)}"
    def ts(sec: String) = new java.sql.Timestamp(sec.toLong * 1000L)
    cmd.split(" ") match {
      case Array("count", sym) => Seq(s"Count: ${store.symbolStats(sym)._1}")
      case Array("last", sym, n) =>
        val rows = store.queryLast(sym, n.toInt).collect()
        s"Last ${rows.length} ticks for $sym:" +: rows.map(line).toSeq
      case Array("query", sym, a, b) =>
        val rows = store.queryRange(sym, ts(a), ts(b)).collect()
        s"Found ${rows.length} results:" +: rows.map(line).toSeq
    }
  }

  /** Serve answers every command in `cmds` exactly as the Spark path
    * does, with no fallback failure logged.
    */
  private def assertServeMatchesSpark(dir: String, cmds: Seq[String]): Unit = {
    val store = new TickStore(spark, dir)
    val (lines, err) = serveLines(dir, cmds)
    assert(lines.head.startsWith(banner))
    val got = lines.tail.filterNot(_.matches(timing))
    assert(got === cmds.flatMap(sparkAnswer(store, _)))
    assert(!err.contains("driver-side read failed"), err)
  }

  test("serve's one-open symbol load equals the Spark path on a multi-file, out-of-order symbol") {
    val sdir = Files.createTempDirectory("cli_load_").toString
    val store = new TickStore(spark, sdir)
    store.ingest(ticks("MF", 1700001000L, 40))
    store.ingest(ticks("MF", 1700000000L, 30)) // older ticks, later commit
    // the newest tick has a fractional second: the window must end at it
    store.ingest(spark.range(1).select(lit("MF").as("symbol"),
      timestamp_micros(lit(1700001300500000L)).as("ts"), lit(7.5).as("price"),
      lit(9L).as("volume")))
    assert(store.stats().head._2 === 3)
    assert(store.symbolStatsFast("MF").map(_._1) === Some(71L))
    assertServeMatchesSpark(sdir, Seq("count MF", "last MF 5", "last MF 500",
      "query MF 1700000000 1700002000", "query MF 1700000100 1700001100",
      "count NONE", "last NONE 3"))
    graft.core.TempDirs.delete(sdir)
  }

  test("serve answers symbols the partitioned writer escapes as the Spark path does") {
    val sdir = Files.createTempDirectory("cli_escaped_").toString
    val store = new TickStore(spark, sdir)
    val syms = Seq("EUR/USD", "A=B", "BTC:USD", "X%1", "0700")
    store.ingest(syms.map(ticks(_, 1700000000L, 10)).reduce(_ union _))
    store.ingest(syms.map(ticks(_, 1700000003L, 5)).reduce(_ union _)) // second file each
    syms.foreach(s => assert(store.count(s) === 15L, s))
    assertServeMatchesSpark(sdir, syms.flatMap(s => Seq(s"count $s", s"last $s 4",
      s"query $s 1700000010 1700000040")))
    graft.core.TempDirs.delete(sdir)
  }

  test("an INT96 store declines the local read and serve answers from Spark") {
    val sdir = Files.createTempDirectory("cli_int96_").toString
    val w = spark.newSession()
    w.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    ticks("OLD", 1700000000L, 50, w).repartition(col("symbol")).sortWithinPartitions("ts")
      .write.mode("append").partitionBy("symbol").parquet(sdir)
    val store = new TickStore(spark, sdir)
    assert(store.symbolStatsFast("OLD") === None)
    assert(store.scanRangeLocal("OLD", 0L, Long.MaxValue) === None)
    assertServeMatchesSpark(sdir, Seq("count OLD", "last OLD 4",
      "query OLD 1700000010 1700000020"))
    graft.core.TempDirs.delete(sdir)
  }

  test("an all-null-ts row group declines the footer stats instead of anchoring at epoch 0") {
    val sdir = Files.createTempDirectory("cli_nullts_").toString
    val store = new TickStore(spark, sdir)
    store.ingest(ticks("NUL", 1700000000L, 20))
    store.ingest(spark.range(5).select(lit("NUL").as("symbol"),
      lit(null).cast("timestamp").as("ts"), lit(1.0).as("price"), col("id").as("volume")))
    assert(store.symbolStatsFast("NUL") === None)
    val newest = new java.sql.Timestamp((1700000000L + 19 * 7) * 1000L)
    assert(store.symbolStats("NUL") === ((25L, Some(newest))))
    assertServeMatchesSpark(sdir, Seq("count NUL", "last NUL 3",
      "query NUL 1700000000 1700000070"))
    graft.core.TempDirs.delete(sdir)
  }

  test("a failed prewarm goes to stderr; out carries only the banner and protocol lines") {
    val sdir = Files.createTempDirectory("cli_prewarm_").toString
    new TickStore(spark, sdir).ingest(ticks("PW", 1700000000L, 3))
    // holds no embeddings/documents tables, so prewarm throws
    val emb = Files.createTempDirectory("cli_noemb_").toString
    val (lines, err) = serveLines(sdir, Seq("count PW"), embDir = Some(emb))
    assert(lines.length === 3, lines)
    assert(lines(0).startsWith(banner))
    assert(lines(1) === "Count: 3")
    assert(lines(2).matches(timing))
    assert(err.contains("[graft] prewarm:"), err)
    graft.core.TempDirs.delete(sdir)
    graft.core.TempDirs.delete(emb)
  }
}
