package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.LocalParquet

/** The stored rows a mutable index answers from: its data directory
  * and the tombstone sidecar of ids deleted from it (None = nothing
  * deleted). [[IvfPqIndex]] and [[Bm25Index]] each hold ONE volatile
  * `IndexFiles` and replace it whole on delete and compact, so a reader
  * that takes it once never pairs a compacted data directory with the
  * mask of the old one, or the old directory with no mask (which
  * would serve deleted rows).
  */
private[pipeline] final case class IndexFiles(data: String, tombstones: Option[String]) {

  /** The logical table: stored rows minus tombstoned `idCol` values.
    * The anti-join is absent until the first delete, and filters and
    * partition pruning push through its left side.
    */
  def frame(spark: SparkSession, idCol: String): DataFrame = {
    val p = spark.read.parquet(data)
    tombstones.fold(p)(t => p.join(spark.read.parquet(t), Seq(idCol), "left_anti"))
  }

  /** Tombstoned `idCol` values, read driver-side. */
  def deadIds(conf: Configuration, idCol: String): Set[Long] =
    tombstones.fold(Set.empty[Long]) { t =>
      val b = Set.newBuilder[Long]
      LocalParquet.dataFiles(new Path(t), conf)
        .foreach(f => LocalParquet.readGroups(f.getPath, conf, None)(g =>
          b += g.getLong(idCol, 0)))
      b.result()
    }
}
