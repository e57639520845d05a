package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Dump formatted physical plans for plan audits (pushdown, broadcast,
  * codegen spans). Usage: runMain graft.tools.Explain <sfDir> <outFile>
  * [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outFile = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val builder = graft.core.LocalSession.builder()
    // SPARK_GRAFT_NO_BROADCAST=1 → audit the large-scale plan shape
    // (SMJ/shuffle instead of broadcasts that only exist at tiny SF)
    if (sys.env.get("SPARK_GRAFT_NO_BROADCAST").contains("1"))
      builder.config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        sb.append(s"\n========== $name ==========\n")
        try {
          val df = fn(spark, sfDir)
          // SPARK_GRAFT_EXECUTE=1 → run the query first so the dumped
          // plan is AQE's FINAL plan (runtime broadcasts, exchange
          // reuse, skew splits), not the static initial plan
          // collect (not count): count() wraps the plan in its own
          // aggregate query, leaving this queryExecution un-executed
          if (sys.env.get("SPARK_GRAFT_EXECUTE").contains("1")) df.collect()
          sb.append(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
      }
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
