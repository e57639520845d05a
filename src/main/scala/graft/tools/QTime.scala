package graft.tools

/** Time individual SparkEntry queries by name (dev loop for bench
  * regressions): `runMain graft.tools.QTime q_dedup_clusters ...`.
  * Each query runs twice; both timings print (cold + warm).
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = graft.core.LocalSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
    sys.env.get("SPARK_GRAFT_STATE_PROVIDER").foreach(p =>
      builder.config("spark.sql.streaming.stateStore.providerClass", p))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
      (1 to 2).foreach { round =>
        val t0 = System.nanoTime()
        // noop sink, matching Bench: full evaluation of every output
        // column (count() lets Catalyst prune computed columns)
        SparkEntry_queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"QTIME $name%-24s run$round ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }

  private def SparkEntry_queries = graft.SparkEntry.queries
}
