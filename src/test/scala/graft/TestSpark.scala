package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark startup is ~5s). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.LocalSession.builder().appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
