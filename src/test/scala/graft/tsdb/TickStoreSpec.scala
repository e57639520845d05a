package graft.tsdb

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Tables

/** Reference-parity behavior of the TickStore: append_batch →
  * query_range/query_last/count (/root/reference/timeseries_db.hpp:32-59).
  */
class TickStoreSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val store: TickStore = {
    val s = new TickStore(spark, Files.createTempDirectory("ts_spec_").toString)
    s.ingest(Tables.ticks(spark, sf))
    s
  }

  test("ingest preserves every tick (column sync invariant)") {
    assert(store.countAll() === Tables.ticks(spark, sf).count())
  }

  test("count per symbol matches source") {
    val want = Tables.ticks(spark, sf).filter(col("symbol") === "click").count()
    assert(store.count("click") === want)
  }

  test("queryRange is inclusive and time-bounded") {
    val lo = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val got = store.queryRange("click", lo, hi)
    val n = got.count()
    assert(n > 0)
    val bounds = got.agg(min("ts").as("lo"), max("ts").as("hi")).head()
    assert(!bounds.getTimestamp(0).before(lo))
    assert(!bounds.getTimestamp(1).after(hi))
    // matches a straight filter over the source view
    val want = Tables.ticks(spark, sf)
      .filter(col("symbol") === "click" && col("ts") >= lit(lo) && col("ts") <= lit(hi))
      .count()
    assert(n === want)
  }

  test("queryLast returns n newest ticks, newest first") {
    val got = store.queryLast("view", 10).collect()
    assert(got.length === 10)
    val ts = got.map(_.getAs[java.sql.Timestamp]("ts"))
    assert(ts.sliding(2).forall { case Array(a, b) => !a.before(b) })
    val newest = Tables.ticks(spark, sf).filter(col("symbol") === "view")
      .agg(max("ts")).head().getTimestamp(0)
    assert(ts.head === newest)
  }

  test("daily layout partitions by symbol and date; range query prunes and matches") {
    val p = Files.createTempDirectory("ts_daily_").toString
    val daily = new TickStore(spark, p, dailyPartitions = true)
    daily.ingest(Tables.ticks(spark, sf))
    // physical layout: symbol=<s>/ts_date=<d>/ directories
    val clickDir = new java.io.File(s"$p/symbol=click")
    assert(clickDir.isDirectory)
    assert(clickDir.listFiles().exists(_.getName.startsWith("ts_date=2024-01-")))
    val lo = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val want = Tables.ticks(spark, sf)
      .filter(col("symbol") === "click" && col("ts") >= lit(lo) && col("ts") <= lit(hi))
      .count()
    assert(daily.queryRange("click", lo, hi).count() === want)
    // the plan prunes date partitions: scanned partitions filter shows ts_date
    val plan = daily.queryRange("click", lo, hi).queryExecution.executedPlan.toString
    assert(plan.contains("ts_date"))
  }

  test("ingest rejects frames missing required columns") {
    val p = Files.createTempDirectory("ts_badcols_").toString
    val s2 = new TickStore(spark, p)
    val bad = Tables.ticks(spark, sf).drop("volume")
    val e = intercept[IllegalArgumentException](s2.ingest(bad))
    assert(e.getMessage.contains("volume"))
  }

  test("compact merges append-accumulated files and preserves data") {
    val p = Files.createTempDirectory("ts_compact_").toString
    val s2 = new TickStore(spark, p)
    val src = Tables.ticks(spark, sf).filter(col("symbol") === "click")
    (1 to 3).foreach(_ => s2.ingest(src)) // 3 appends → ≥3 files
    val dir = new java.io.File(s"$p/symbol=click")
    val before = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(before >= 3)
    val total = s2.countAll()
    s2.compact()
    val after = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(after < before)
    assert(s2.countAll() === total)
    // still time-sorted within the compacted file
    val ts = s2.queryLast("click", 5).collect().map(_.getTimestamp(1))
    assert(ts.sliding(2).forall { case Array(a, b) => !a.before(b) })
  }

  test("r13: footer stats match the aggregation scan on both layouts") {
    for (daily <- Seq(false, true)) {
      val p = Files.createTempDirectory(s"ts_fstats_${daily}_").toString
      val s2 = new TickStore(spark, p, dailyPartitions = daily)
      s2.ingest(Tables.ticks(spark, sf))
      s2.ingest(Tables.ticks(spark, sf).limit(100)) // second file
      val fast = s2.symbolStatsFast("click")
      assert(fast.isDefined, "micros-written store must expose ts stats")
      val slow = s2.symbolStats("click")
      assert(fast.get._1 === slow._1)
      assert(fast.get._2.get === slow._2.get)
      assert(s2.symbolStatsFast("NOPE") === Some((0L, None)))
      graft.core.TempDirs.delete(p)
    }
  }

  test("r13: scanRangeLocal equals the Spark range scan (values + order)") {
    val lo = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    def us(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val local = store.scanRangeLocal("click", us(lo), us(hi))
    assert(local.isDefined)
    val (tsA, prA, voA) = local.get
    val idx = tsA.indices.toArray.sortBy(tsA)
    val want = store.queryRange("click", lo, hi)
      .select(unix_micros(col("ts")), col("price"), col("volume"))
      .collect()
    assert(tsA.length === want.length)
    // same multiset, and after the driver sort the same ts sequence
    assert(idx.map(tsA).toSeq === want.map(_.getLong(0)).toSeq)
    assert(idx.map(prA).sorted.toSeq ===
      want.map(_.getDouble(1)).sorted.toSeq)
    assert(idx.map(voA).sorted.toSeq ===
      want.map(_.getLong(2)).sorted.toSeq)
  }

  test("csv import round-trips (reference cli.cpp import path)") {
    val base = Files.createTempDirectory("ts_csv_").toString
    Tables.ticks(spark, sf).filter(col("symbol") === "error").limit(50)
      .select(unix_timestamp(col("ts")).as("timestamp"), col("price"), col("volume"))
      .write.option("header", "true").csv(s"$base/in")
    val s2 = new TickStore(spark, s"$base/store")
    s2.importCsv(s"$base/in", "ERR")
    assert(s2.count("ERR") === 50)
  }

  test("numeric symbols round-trip append -> read -> compact -> count on both layouts") {
    for (daily <- Seq(false, true)) {
      val p = Files.createTempDirectory(s"ts_numsym_${daily}_").toString
      val s2 = new TickStore(spark, p, dailyPartitions = daily)
      val t0 = java.sql.Timestamp.valueOf("2024-03-01 09:30:00")
      val t1 = java.sql.Timestamp.valueOf("2024-03-01 15:00:00") // same day: 2 files per partition
      for (sym <- Seq("0700", "600519"); (t, i) <- Seq(t0, t1).zipWithIndex)
        s2.append(sym, t, 100.0 + i, 10L + i)
      assert(s2.all().schema("symbol").dataType === org.apache.spark.sql.types.StringType)
      assert(s2.all().select("symbol").distinct().collect().map(_.getString(0)).toSet ===
        Set("0700", "600519"), s"daily=$daily")
      assert(s2.count("0700") === 2)
      assert(s2.queryRange("0700", t0, t1).count() === 2)
      assert(s2.queryLast("600519", 1).head().getTimestamp(1) === t1)
      assert(s2.compact() > 0)
      val symDirs = new java.io.File(p).list().filter(_.startsWith("symbol=")).toSet
      assert(symDirs === Set("symbol=0700", "symbol=600519"), s"daily=$daily")
      assert(s2.count("0700") === 2, s"daily=$daily")
      assert(s2.count("600519") === 2, s"daily=$daily")
      assert(s2.countAll() === 4)
      graft.core.TempDirs.delete(p)
    }
  }

  test("an empty store directory reads as 0 ticks on both layouts") {
    for (daily <- Seq(false, true)) {
      val p = Files.createTempDirectory(s"ts_empty_${daily}_").toString
      val s2 = new TickStore(spark, p, dailyPartitions = daily)
      assert(s2.countAll() === 0L)
      assert(s2.count("click") === 0L)
      assert(s2.queryLast("click", 5).collect().isEmpty)
      assert(s2.all().columns.toSeq === TickStore.cols)
      graft.core.TempDirs.delete(p)
    }
  }
}
