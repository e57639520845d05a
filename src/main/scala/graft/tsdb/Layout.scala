package graft.tsdb

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Z-ordered data layout: multi-dimensional clustering for scans that
  * filter on more than the primary time axis.
  *
  * The reference indexes time only (one B+ tree per symbol,
  * /root/reference/bplus_tree.hpp), so a "user 42 in this hour" query
  * scans the whole symbol range. Writing files range-partitioned and
  * sorted by the Morton code of (user, time) clusters both dimensions
  * at once: parquet row-group min/max stats on BOTH columns become
  * tight, so either predicate — or their conjunction — prunes row
  * groups. At 100 TB this is how secondary-dimension queries avoid
  * full-partition scans without maintaining any index structure.
  */
object Layout {
  /** Write `df` clustered by the Morton code of (`dimA`, `dimB`)
    * (both must be non-negative longs that fit 32 bits, e.g. an id and
    * coarse time). `repartitionByRange` on the z-value gives
    * non-overlapping z-ranges per file; the within-partition sort
    * tightens per-row-group stats.
    */
  def writeZOrdered(df: DataFrame, path: String, dimA: String, dimB: String,
      partitions: Int = 32): Unit = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("_z", expr(s"graft_zorder($dimA, $dimB)"))
      .repartitionByRange(partitions, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }
}
