package graft.tools
import org.apache.spark.sql.DataFrame

/** Dev-loop probe for the IVF recall/nprobe curve alone (RecallProbe
  * covers the whole ANN shelf but pays the LSH/PQ sweeps every run).
  * `SPARK_GRAFT_SF_DIR=... runMain graft.tools.IvfProbe`
  */
object IvfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.core.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = graft.core.Tables.embeddings(spark, sfDir).cache()
    val qids = Seq(0L, 7L, 42L, 99L, 250L)
    def ids(df: DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val truths = qids.map(q =>
      q -> ids(graft.pipeline.Similarity.bruteForceTopK(emb, q, 10))).toMap
    for (np <- Seq(2, 4, 6, 8)) {
      val rs = qids.map(q => ids(graft.pipeline.Similarity.ivfTopK(emb, q, 10, nprobe = np)).intersect(truths(q)).size / 10.0)
      println(f"ivf nprobe=$np recall@10=${rs.sum / rs.size}%.2f")
    }
    for (np <- Seq(4, 8); sl <- Seq(200, 400)) {
      val rs = qids.map(q => ids(graft.pipeline.Similarity.ivfPqTopK(
        emb, q, 10, nprobe = np, shortlist = sl)).intersect(truths(q)).size / 10.0)
      println(f"ivfpq nprobe=$np shortlist=$sl recall@10=${rs.sum / rs.size}%.2f")
    }
    spark.stop()
  }
}
