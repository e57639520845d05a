package graft.pipeline

import org.apache.spark.sql.functions._

/** Dev-loop probe for the IVFPQ composite drift gauge: what the gauge
  * reads for in-distribution, negated (isotropic mirror — genuinely
  * NOT a drift) and collapsed-direction (the realistic degenerate-
  * embedder failure) append batches against a panel-corpus index.
  * Lives in graft.pipeline for access to the gauge internals.
  * `runMain graft.pipeline.DriftProbe`
  */
object DriftProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val corpus = emb.filter(col("vec_id") < 280)
    val idx = IvfPqIndex.forTable(corpus, 16, 8, 16)
    val neg = corpus.filter(col("vec_id") >= 100 && col("vec_id") < 220)
      .select((col("vec_id") + 9200L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val inDist = emb.filter(col("vec_id") >= 280 && col("vec_id") < 400)
    val ones = corpus.filter(col("vec_id") >= 100 && col("vec_id") < 220)
      .select(col("vec_id"),
        transform(col("embedding"), x => x * lit(0.0f) + lit(1.0f))
          .as("embedding"))
    println(f"gauge neg=${idx.driftGauge(neg)}%.3f " +
      f"inDist=${idx.driftGauge(inDist)}%.3f ones=${idx.driftGauge(ones)}%.3f")
    spark.stop()
  }
}
