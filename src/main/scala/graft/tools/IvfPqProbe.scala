package graft.tools

import org.apache.spark.sql.DataFrame

/** Dev-loop sweep for the r15 residual IVFPQ layout: recall@10 on the
  * RecallSpec/Bench query panel across (nlist, nprobe, cb, shortlist),
  * with the scanned corpus fraction each config pays.
  * `SPARK_GRAFT_SF_DIR=... runMain graft.tools.IvfPqProbe`
  */
object IvfPqProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = graft.core.Tables.embeddings(spark, sfDir).cache()
    val n = emb.count()
    val qids = Seq(0L, 7L, 42L, 99L, 250L)
    def ids(df: DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val truths = qids.map(q =>
      q -> ids(graft.pipeline.Similarity.bruteForceTopK(emb, q, 10))).toMap
    def recallOf(ann: Long => DataFrame): Double = {
      val rs = qids.map(q => ids(ann(q)).intersect(truths(q)).size / 10.0)
      rs.sum / rs.size
    }
    val dfltNlist = graft.pipeline.IvfPqIndex.defaultNlist(n)
    val dfltNprobe = graft.pipeline.IvfPqIndex.defaultNprobe(dfltNlist)
    println(s"corpus n=$n at $sfDir; policy nlist=$dfltNlist nprobe=$dfltNprobe")
    val nlists = Seq(16, dfltNlist).distinct
    for {
      nlist <- nlists
      cb <- Seq(16, 32)
      nprobe <- Seq(math.max(4, nlist / 4), graft.pipeline.IvfPqIndex.defaultNprobe(nlist),
        math.max(4, nlist / 2)).distinct
      short <- Seq(200, 400)
    } {
      val t0 = System.nanoTime()
      val r = recallOf(q => graft.pipeline.Similarity.ivfPqTopK(
        emb, q, 10, nlist = nlist, nprobe = nprobe, cb = cb, shortlist = short))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"ivfpq nlist=$nlist%-3d nprobe=$nprobe%-3d cb=$cb%-3d short=$short%-4d " +
        f"recall@10=$r%.2f scan=${100.0 * nprobe / nlist}%.0f%% ${sec}%.1f s")
    }
    spark.stop()
  }
}
