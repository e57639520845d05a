package graft.tsdb

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The TickStore's directory layout has one owner: symbols whose
  * names Spark's partitioned writer escapes read, compact and drop
  * like any other, and a per-symbol read lists only its own directory.
  */
class TickStoreLayoutSpec extends AnyFunSuite {
  import TestSpark._

  /** Symbols the writer escapes (`/`, `=`, `:`, `%`) and an all-digit
    * one that schema inference would type as int.
    */
  private val escaped = Seq("EUR/USD", "A=B", "BTC:USD", "X%1", "0700")

  /** `n` ticks of `sym`, 7 hours apart from `fromSec`: 10 of them span
    * three days.
    */
  private def ticks(sym: String, fromSec: Long, n: Int): DataFrame =
    spark.range(n).select(lit(sym).as("symbol"),
      timestamp_seconds(lit(fromSec) + col("id") * 7L * 3600L).as("ts"),
      (lit(100.0) + col("id")).as("price"), col("id").as("volume"))

  private def us(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def digest(store: TickStore): Seq[(String, Long, Double, Long)] =
    store.all().collect().map(r => (r.getString(0), us(r.getTimestamp(1)),
      r.getDouble(2), r.getLong(3))).toSeq.sorted

  private val lo = new java.sql.Timestamp(1700000000L * 1000L)
  private val hi = new java.sql.Timestamp(1700400000L * 1000L)

  test("escaped symbols read, compact and drop on both layouts") {
    for (daily <- Seq(false, true)) {
      val dir = Files.createTempDirectory(s"ts_escaped_${daily}_").toString
      val store = new TickStore(spark, dir, dailyPartitions = daily)
      store.ingest(escaped.map(ticks(_, 1700000000L, 10)).reduce(_ union _))
      // a second commit into the same partitions fragments them
      store.ingest(escaped.map(ticks(_, 1700001800L, 5)).reduce(_ union _))
      assert(store.all().select("symbol").distinct().collect().map(_.getString(0)).toSet ===
        escaped.toSet, s"daily=$daily")
      for (sym <- escaped) {
        val ctx = s"$sym daily=$daily"
        assert(store.count(sym) === 15L, ctx)
        val range = store.queryRange(sym, lo, hi).collect()
        assert(range.length === 15, ctx)
        assert(range.forall(_.getString(0) == sym), ctx)
        val newest = range.last.getTimestamp(1)
        assert(store.queryLast(sym, 3).collect().map(_.getTimestamp(1)).head === newest, ctx)
        assert(store.symbolStats(sym) === ((15L, Some(newest))), ctx)
        // the driver-side reads the serve loop takes see the same ticks
        assert(store.symbolStatsFast(sym) === Some((15L, Some(newest))), ctx)
        val local = store.scanRangeLocal(sym, us(lo), us(hi))
        assert(local.map(_._1.sorted.toSeq) === Some(range.map(r => us(r.getTimestamp(1))).toSeq),
          ctx)
      }
      val before = digest(store)
      val fragmented = store.stats().count(_._2 > 1)
      assert(fragmented >= escaped.size, s"daily=$daily: ${store.stats()}")
      assert(store.compact() === fragmented, s"daily=$daily")
      assert(store.stats().forall(_._2 == 1), s"daily=$daily: ${store.stats()}")
      assert(digest(store) === before, s"daily=$daily")
      assert(store.compact() === 0, s"daily=$daily")
      for ((sym, i) <- escaped.zipWithIndex) {
        assert(store.dropSymbol(sym), s"$sym daily=$daily")
        assert(!store.dropSymbol(sym), s"$sym daily=$daily")
        assert(store.count(sym) === 0L, s"$sym daily=$daily")
        assert(store.symbolStatsFast(sym) === Some((0L, None)), s"$sym daily=$daily")
        assert(store.countAll() === 15L * (escaped.size - i - 1), s"$sym daily=$daily")
      }
      graft.core.TempDirs.delete(dir)
    }
  }

  test("a daily store's null-ts day directory stays in the symbol's local read") {
    val dir = Files.createTempDirectory("ts_nullday_").toString
    val store = new TickStore(spark, dir, dailyPartitions = true)
    store.ingest(ticks("N/T", 1700000000L, 10))
    store.ingest(spark.range(2).select(lit("N/T").as("symbol"),
      lit(null).cast("timestamp").as("ts"), lit(1.0).as("price"), col("id").as("volume")))
    assert(store.count("N/T") === 12L)
    // the null-ts rows carry no ts statistics: the footer read declines
    // instead of answering 10
    assert(store.symbolStatsFast("N/T") === None)
    graft.core.TempDirs.delete(dir)
  }

  test("building a one-symbol read on a 40-symbol store starts no Spark job") {
    for (daily <- Seq(false, true)) {
      val dir = Files.createTempDirectory(s"ts_nolist_${daily}_").toString
      val store = new TickStore(spark, dir, dailyPartitions = daily)
      store.ingest((0 until 40).map(i => ticks(f"S$i%03d", 1700000000L, 4)).reduce(_ union _))
      // positive control: the whole-store read lists 40 directories,
      // past Spark's parallel partition discovery threshold (32)
      assert(jobsDuring(store.all()) >= 1, s"daily=$daily")
      var frames = Seq.empty[DataFrame]
      val jobs = jobsDuring {
        frames = Seq(store.queryRange("S007", lo, hi), store.queryLast("S007", 2),
          store.queryRange("NONE", lo, hi), store.queryLast("NONE", 2))
      }
      assert(jobs === 0, s"daily=$daily: $jobs job(s) while building one-symbol reads")
      assert(frames.map(_.count()) === Seq(4L, 2L, 0L, 0L), s"daily=$daily")
      graft.core.TempDirs.delete(dir)
    }
  }

  test("partition directory names are built and parsed only in TickStore's layout") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 40)
    val owner = root.resolve("graft/tsdb/TickStore.scala")
    val names = Seq("symbol=", "ts_date=")
    val offenders = files.filter(f => f != owner &&
      names.exists(Files.readString(f).contains))
    assert(offenders.isEmpty, offenders.mkString("; "))
    val lines = Files.readAllLines(owner).asScala.toIndexedSeq
    val decl = lines.indexWhere(_.contains("private object layout {"))
    assert(decl >= 0, "TickStore has no layout object")
    // the object's span, from the first line of its scaladoc
    val start = lines.lastIndexWhere(!_.trim.startsWith("*"), decl - 1)
    val end = lines.indexWhere(_ == "  }", decl)
    val outside = lines.zipWithIndex.filter { case (l, i) =>
      (i < start || i > end) && names.exists(l.contains)
    }
    assert(outside.isEmpty, outside.map { case (l, i) => s"${i + 1}: $l" }.mkString("\n"))
    // the data-file filter lives in LocalParquet.dataFiles alone
    assert(!lines.exists(_.contains("startsWith(\"_\")")))
  }
}
