package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Tables

/** Index and serve reads start no Spark job of their own: every
  * parquet table they open takes its schema from a driver-side footer
  * ([[Tables.read]]), so only a query's own action schedules work, and
  * serve start initializes the driver-side readers without touching
  * Spark.
  */
class ReadJobsSpec extends AnyFunSuite {
  import TestSpark._

  test("building Bm25Index.topK starts one job: the df slice collect") {
    val idx = Bm25Index.forTable(Tables.documents(spark, sf))
    assert(jobsDuring(idx.topK(graft.SparkEntry.Bm25Terms, 10)) === 1)
  }

  test("IndexFiles.open and frame after a delete start no job under 32 partitions") {
    val dir = Files.createTempDirectory("read_jobs_")
    val root = dir.resolve("data").toString
    spark.range(64).select(col("id").as("vec_id"), (col("id") % 4).as("part"))
      .write.partitionBy("part").parquet(root)
    var files: IndexFiles = null
    assert(jobsDuring { files = IndexFiles.open(spark, root, "vec_id") } === 0)
    val (n, _, deleted) = files.delete(spark.range(0, 64, 5).select(col("id").as("vec_id")))
      .getOrElse(fail("nothing deleted"))
    assert(n === 13L)
    assert(jobsDuring(deleted.frame) === 0)
    assert(deleted.frame.count() === 51L)
    graft.core.TempDirs.delete(dir.toString) // data and its tombstone sidecar
  }

  test("prewarm on built serve tiers starts no job") {
    val ann = AnnServe.forTable(Tables.embeddings(spark, sf))
    val bm = Bm25Serve.forTable(Tables.documents(spark, sf))
    assert(jobsDuring { ann.prewarm(); bm.prewarm() } === 0)
  }
}
