package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-loop probe for ANN retrieval quality: recall@10 of the LSH and
  * IVF paths vs the exact brute-force ranking, on the RecallSpec/Bench
  * query panel, plus candidate-set sizes (what the recall costs).
  * `SPARK_GRAFT_SF_DIR=... runMain graft.tools.RecallProbe`
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
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
    println(s"corpus n=$n at $sfDir")
    // args: "tables[:h2Tables],..." e.g. "10:0,10:4,10:10"
    for (spec <- args.headOption.map(_.split(",").toSeq)
           .getOrElse(Seq("1", "2", "4", "6"))) {
      val parts = spec.split(":")
      val tables = parts(0).toInt
      val h2 = if (parts.length > 1) parts(1).toInt else 0
      val t0 = System.nanoTime()
      val r = recallOf(q => graft.pipeline.Similarity.lshTopK(
        emb, q, 10, 64, multiProbe = true, tables = tables, h2Tables = h2))
      val sec = (System.nanoTime() - t0) / 1e9
      // candidate count for query 0 (drop the final top-k limit)
      val cands = graft.pipeline.Similarity.lshTopK(
        emb, 0L, n.toInt, 64, multiProbe = true, tables = tables,
        h2Tables = h2).count()
      println(f"lsh tables=$tables%-2d h2=$h2%-2d recall@10=$r%.2f cand=${cands}%-6d (${100.0 * cands / n}%.1f%% of corpus) ${sec}%.1f s")
    }
    val rIvf = recallOf(q => graft.pipeline.Similarity.ivfTopK(emb, q, 10, nprobe = 8))
    println(f"ivf nprobe=8 recall@10=$rIvf%.2f")
    for (short <- Seq(200, 400, 600)) {
      val t0 = System.nanoTime()
      val r = recallOf(q =>
        graft.pipeline.Similarity.pqTopK(emb, q, 10, shortlist = short))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"pq shortlist=$short%-4d recall@10=$r%.2f (${100.0 * short / n}%.1f%% of corpus) ${sec}%.1f s")
    }
    spark.stop()
  }
}
