package graft.tools

/** Codec A/B probe for the TickStore ingest path: same 2M-tick
  * generator stream, one ingest per parquet codec, ticks/sec printed
  * per run. Usage: runMain graft.tools.IngestProbe [nTicks]
  */
object IngestProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000000L
    val cpus = graft.core.LocalSession.cpus
    val spark = graft.core.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val synth = spark.read.format("tickgen")
      .option("rows", n).option("partitions", cpus.toInt).load()
      .select("symbol", "ts", "price", "volume")
    synth.count() // warm the source + JIT

    Seq("lz4", "uncompressed", "zstd").foreach { codec =>
      (1 to 2).foreach { round =>
        val dir = graft.core.TempDirs.scoped(s"probe_$codec")
        val t0 = System.nanoTime()
        new graft.tsdb.TickStore(spark, dir, dailyPartitions = true, codec = codec)
          .ingest(synth)
        val sec = (System.nanoTime() - t0) / 1e9
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        val bytes =
          try walk.filter(p => p.toString.endsWith(".parquet"))
            .mapToLong(p => java.nio.file.Files.size(p)).sum()
          finally walk.close()
        println(f"$codec%-12s round $round: ${(n / sec).toLong}%9d ticks/s  ${bytes / 1048576.0}%6.1f MiB")
      }
    }
    spark.stop()
  }
}
