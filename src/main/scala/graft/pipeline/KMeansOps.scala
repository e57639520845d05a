package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.quant6

/** Transparent Lloyd k-means over the embedding table — the semantic-
  * clustering pass a training-data pipeline runs for topic balancing /
  * coverage audits (cluster-then-sample curation). Unlike
  * [[IvfIndex]] (whose ML-fitted centroids are opaque inputs the
  * oracle merely re-consumes), every step here is ENGINE-NEUTRAL and
  * re-derivable from the data alone, so an independent engine
  * reproduces the full iteration bit-for-bit:
  *
  *  - init: centroids = the embeddings of `vec_id` 0..k−1 (deterministic,
  *    content-free);
  *  - assign: argmin of squared-L2 distance ROUND(…,6), ties to the
  *    lower cluster id (the IvfIndex assignment rule);
  *  - update: each centroid component is the 6-dp-quantized mean of
  *    6-dp-quantized member components — the sums are exact decimals,
  *    so the new centroids are exact 6-dp values on both engines (the
  *    §4 quantization discipline applied to Lloyd's step). A cluster
  *    that loses all members drops out (no empty-cluster re-seed),
  *    identically on both engines.
  *
  * Scale posture: per iteration ONE scan of the embedding table
  * (assignment is a codegen'd expression over k inlined centroids — a
  * broadcast-free map), one (cluster, component) partial-agg shuffle of
  * k·dim counter rows, and a k·dim-row driver collect (the standard
  * k-means driver-held-model pattern; k·dim ≈ 256 doubles here). Text
  * and embeddings never shuffle.
  */
object KMeansOps {

  /** Squared L2 distance to a constant centroid, folded in index order
    * (mirrors DuckDB's list_sum over the same term order), rounded to
    * 6 digits — the IvfIndex assignment rule.
    */
  private def sqDist(ve: Column, c: Array[Double]): Column =
    round(aggregate(
      zip_with(ve, typedLit(c.toSeq), (v, w) => (v - w) * (v - w)),
      lit(0.0), (acc, x) => acc + x), 6)

  private def ve: Column = transform(col("embedding"), _.cast("double"))

  /** `iters` Lloyd rounds from the deterministic `vec_id < k` init —
    * the driver-held model (k·dim doubles collected per round).
    */
  private[pipeline] def fitCentroids(emb: DataFrame, k: Int, iters: Int)
      : Seq[(Int, Array[Double])] = {
    var cents: Seq[(Int, Array[Double])] = emb.filter(col("vec_id") < k)
      .orderBy("vec_id").select(col("vec_id"), ve.as("v")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray)).toSeq
    for (_ <- 1 to iters) {
      val comps = assignTo(emb, cents)
        .select(col("cluster"), posexplode(ve).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(quant6(col("v") * 1000000.0)).as("s"),
          count(lit(1)).as("n"))
        .select(col("cluster"), col("pos"),
          quant6(col("s").cast("double") / col("n").cast("double")
            * 1000000.0).cast("double").as("m"))
      cents = comps.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (c, rows) => (c, rows.sortBy(_._2).map(_._3).toArray) }
    }
    cents
  }

  /** Rounded-argmin assignment (ties to the lower cluster id — the
    * IvfIndex rule) against driver-held centroids.
    */
  private def assignTo(emb: DataFrame,
      cents: Seq[(Int, Array[Double])]): DataFrame = {
    val cell = array_min(array(cents.map { case (i, c) =>
      struct(sqDist(ve, c).as("d"), lit(i).as("c"))
    }: _*)).getField("c")
    emb.select(col("vec_id"), col("embedding"), cell.as("cluster"))
  }

  /** Assignment carrying the (rounded) distance to the OWN centroid —
    * the argmin struct read twice. Shared with [[Similarity.semDedup]]
    * (whose keeper rule ranks members by centroid distance).
    */
  private[pipeline] def assignWithDist(emb: DataFrame,
      cents: Seq[(Int, Array[Double])]): DataFrame = {
    val best = array_min(array(cents.map { case (i, c) =>
      struct(sqDist(ve, c).as("d"), lit(i).as("c"))
    }: _*))
    emb.select(col("vec_id"), col("embedding"),
      best.getField("c").as("cluster"), best.getField("d").as("dc"))
  }

  /** `iters` Lloyd rounds from the deterministic init, then the final
    * cluster census: (cluster, n_vectors, exemplar = min vec_id).
    */
  def kmeansCensus(emb: DataFrame, k: Int = 4, iters: Int = 2): DataFrame =
    assignTo(emb, fitCentroids(emb, k, iters)).groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("exemplar"))
      .select(col("cluster").cast("long").as("cluster"), col("n_vectors"),
        col("exemplar"))
      .orderBy("cluster")

  /** NEW r13: centroid-based silhouette census — the cluster-quality
    * read a curation owner takes after [[kmeansCensus]]: per vector,
    * a = distance to its (final) assigned centroid, b = distance to
    * the nearest OTHER centroid, s = (b − a) / max(a, b) ∈ [0, 1]
    * (the simplified / centroid silhouette — O(n·k), never the
    * classic O(n²) pairwise form). Distances are the same ROUND(…,6)
    * rounded-argmin values as the assignment itself (one array_sort
    * by (d, cluster) yields assigned AND runner-up in a single pass —
    * ties to the lower id, the IvfIndex rule, and a tie at the top
    * gives s = 0); s flows through the §4 quantize discipline (quant6
    * terms → exact decimal sum → one mirrored mean division,
    * re-quantized). Scale: one embedding scan, k·dim literal
    * centroids, a k-row counter shuffle.
    */
  def silhouetteCensus(emb: DataFrame, k: Int = 4, iters: Int = 2): DataFrame = {
    require(k >= 2, "silhouette needs at least two clusters")
    val cents = fitCentroids(emb, k, iters)
    val dists = array_sort(array(cents.map { case (i, c) =>
      struct(sqDist(ve, c).as("d"), lit(i).as("c"))
    }: _*))
    emb.select(col("vec_id"), dists.as("ds"))
      .select(col("vec_id"),
        element_at(col("ds"), 1).getField("c").as("cluster"),
        element_at(col("ds"), 1).getField("d").as("a"),
        // try_: a Lloyd round can drop an emptied cluster; a
        // one-cluster corpus then has no runner-up (s defined 0)
        try_element_at(col("ds"), lit(2)).getField("d").as("b"))
      .select(col("cluster"),
        when(col("b").isNull, lit(0.0))
          .when(greatest(col("a"), col("b")) > 0,
            (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)).as("s"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(quant6(col("s") * 1000000.0)).as("ssum"))
      .select(col("cluster").cast("long").as("cluster"), col("n_vectors"),
        quant6(col("ssum").cast("double") / col("n_vectors").cast("double")
          * 1000000.0).cast("double").as("mean_sil"))
      .orderBy("cluster")
  }
}
