package graft.core

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The [[Tables]] schema contract: schemas come from driver-side
  * footers, equal Spark's own inference, start no Spark job, follow a
  * rewritten file, and honour each session's conf.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private val dirs = Seq(sf, sf.replace("sf0.001", "sf0.01"))

  private def tableNames(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted

  private def tempDir(prefix: String): Path = Files.createTempDirectory(prefix)

  test("every sf0.001 and sf0.01 table resolves to Spark's inferred schema") {
    for (dir <- dirs; name <- tableNames(dir)) {
      val got = Tables.table(spark, dir, name).schema
      val want = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(got === want, s"$dir/$name")
    }
    assert(tableNames(dirs.head).size === 10)
  }

  test("resolving every table's schema starts no Spark job") {
    // positive control: the listener does catch an inference job
    assert(jobsDuring(spark.read.parquet(s"${dirs.head}/nation.parquet").schema) >= 1)
    for (dir <- dirs) {
      val n = jobsDuring(tableNames(dir).foreach(t => Tables.table(spark, dir, t).schema))
      assert(n === 0, s"$dir: $n job(s) while resolving table schemas")
    }
  }

  test("a table file rewritten in place is re-resolved on the next call") {
    val staging = tempDir("tables_spec_stage_")
    val dir = tempDir("tables_spec_tbl_")
    def publish(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val out = staging.resolve(tag).toString
      df.coalesce(1).write.parquet(out)
      val part = Files.list(staging.resolve(tag)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, dir.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    import spark.implicits._
    publish(Seq((1L, "a")).toDF("id", "name"), "v1")
    assert(Tables.table(spark, dir.toString, "t").schema.fieldNames.toSeq === Seq("id", "name"))
    publish(Seq((2.5, 7, true)).toDF("price", "qty", "flag"), "v2")
    val t = Tables.table(spark, dir.toString, "t")
    assert(t.schema === spark.read.parquet(dir.resolve("t.parquet").toString).schema)
    assert(t.schema.fieldNames.toSeq === Seq("price", "qty", "flag"))
    assert(t.collect().map(r => (r.getDouble(0), r.getInt(1), r.getBoolean(2))).toSeq ===
      Seq((2.5, 7, true)))
  }

  test("each session's conf applies to a footer another session cached") {
    val dir = dirs.head
    assert(Tables.eventsRaw(spark, dir).schema("ts").dataType === TimestampNTZType)
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val got = Tables.eventsRaw(legacy, dir).schema
    assert(got("ts").dataType === TimestampType)
    assert(got === legacy.read.parquet(s"$dir/events.parquet").schema)
    // and the first session still sees its own answer
    assert(Tables.eventsRaw(spark, dir).schema("ts").dataType === TimestampNTZType)
  }

  test("multi-file and hive-partitioned directories match Spark's inference, job-free") {
    val root = tempDir("tables_spec_dirs_")
    val multi = root.resolve("multi").toString
    Tables.orders(spark, dirs.head).repartition(3).write.parquet(multi)
    val hive = root.resolve("hive").toString
    Tables.ticks(spark, dirs.head).withColumn("day", to_date(col("ts")))
      .filter(col("day") < lit("2024-01-04"))
      .write.partitionBy("symbol", "day").parquet(hive)
    for (p <- Seq(multi, hive)) {
      var got: org.apache.spark.sql.types.StructType = null
      assert(jobsDuring { got = Tables.read(spark, p).schema } === 0, p)
      assert(got === spark.read.parquet(p).schema, p)
      assert(Tables.read(spark, p).count() === spark.read.parquet(p).count(), p)
    }
    assert(Tables.read(spark, hive).schema.fieldNames.takeRight(2).toSeq === Seq("symbol", "day"))
  }

  test("a missing table path or an empty directory fails like Spark's inference") {
    val missing = tempDir("tables_spec_missing_").resolve("nope").toString
    val want = intercept[Exception](spark.read.parquet(s"$missing/x.parquet"))
    val got = intercept[Exception](Tables.table(spark, missing, "x"))
    assert(got.getClass === want.getClass)
    val empty = tempDir("tables_spec_empty_").toString
    val wantEmpty = intercept[Exception](spark.read.parquet(empty))
    val gotEmpty = intercept[Exception](Tables.read(spark, empty))
    assert(gotEmpty.getClass === wantEmpty.getClass)
    assert(gotEmpty.getMessage === wantEmpty.getMessage)
  }
}
