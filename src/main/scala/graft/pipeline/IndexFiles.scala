package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{LocalParquet, Tables}

/** One committed state of a mutable index's stored rows: its data
  * directory, the tombstone sidecar of `idCol` values deleted from it
  * (None = nothing deleted), the per-partition version stamps (an
  * IVFPQ cell or a BM25 bucket; absent = 0) and the generation that
  * names fresh paths.
  *
  * [[IvfPqIndex]], [[Bm25Index]] and [[Bm25PosIndex]] each hold ONE
  * volatile state built on an `IndexFiles`. Writers serialize on the
  * index lock, build the next value and assign it once; a reader takes
  * the state once per call. The data directory's file listing is
  * pinned when the value is built (`stored`), so files an append writes
  * in place are invisible to readers of the previous state, and a
  * reader never pairs a compacted directory with the old mask, or rows
  * from one mutation with the model of another.
  */
private[pipeline] final case class IndexFiles(
    root: String,
    idCol: String,
    data: String,
    tombstones: Option[String],
    versions: Map[Int, Long],
    gen: Long,
    stored: DataFrame) {

  private def spark: SparkSession = stored.sparkSession

  /** Last generation that changed partition `part`'s rows (0 = build). */
  def version(part: Int): Long = versions.getOrElse(part, 0L)

  /** A path no earlier state used, for the artifact this mutation
    * writes (`tag` tells artifacts of one mutation apart).
    */
  def fresh(tag: String): String = s"$root-$tag-v${gen + 1}"

  /** The logical table: stored rows minus tombstoned ids. The
    * anti-join is absent until the first delete, and filters and
    * partition pruning push through its left side.
    */
  lazy val frame: DataFrame =
    tombstones.fold(stored)(t => stored.join(Tables.read(spark, t), Seq(idCol), "left_anti"))

  /** Data files of the pinned listing under partition directory `part`
    * (e.g. `cell=3`), for the driver-side readers.
    */
  def partFiles(part: String): Seq[Path] = byPart.getOrElse(part, Seq.empty)

  private lazy val byPart: Map[String, Seq[Path]] =
    stored.inputFiles.toSeq.map(f => new Path(new java.net.URI(f)))
      .groupBy(_.getParent.getName)

  /** Tombstoned ids, read driver-side. */
  def deadIds(conf: Configuration): Set[Long] =
    tombstones.fold(Set.empty[Long]) { t =>
      val b = Set.newBuilder[Long]
      LocalParquet.dataFiles(new Path(t), conf)
        .foreach(f => LocalParquet.readGroups(f.getPath, conf, None)(g =>
          b += g.getLong(idCol, 0)))
      b.result()
    }

  /** Tombstone `ids` (an `idCol` column). Ids already tombstoned are
    * ignored. None when nothing is newly deleted; else the number of
    * newly deleted ids, their stored rows (lazy; ids absent from the
    * data directory have none) and these files with the widened
    * sidecar, to be [[committed]] by the caller with the partitions
    * those rows touch.
    */
  def delete(ids: DataFrame): Option[(Long, DataFrame, IndexFiles)] = {
    val incoming = ids.select(col(idCol).cast("long").as(idCol)).distinct()
    val newIds = tombstones.fold(incoming)(t =>
      incoming.join(Tables.read(spark, t), Seq(idCol), "left_anti"))
      .localCheckpoint() // three consumers: count, rows join, sidecar write
    val n = newIds.count()
    if (n == 0L) None
    else {
      val path = fresh("tombstones")
      tombstones.fold(newIds)(t => Tables.read(spark, t).unionByName(newIds))
        .write.parquet(path)
      Some((n, stored.join(newIds, Seq(idCol)), copy(tombstones = Some(path))))
    }
  }

  /** The next generation, stamping the `touched` partitions. */
  def committed(touched: Iterable[Int]): IndexFiles = {
    val g = gen + 1
    copy(gen = g, versions = versions ++ touched.map(_ -> g))
  }

  /** After rows were appended into the data directory in place: a
    * fresh listing, `touched` stamped.
    */
  def appended(touched: Iterable[Int]): IndexFiles =
    committed(touched).copy(stored = Tables.read(spark, data))

  /** After the live rows were rewritten into `dir`: the sidecar
    * retires in the same value and no version advances (the logical
    * rows are unchanged, so warm serve caches stay valid).
    */
  def compacted(dir: String): IndexFiles =
    committed(Nil).copy(data = dir, tombstones = None, stored = Tables.read(spark, dir))
}

private[pipeline] object IndexFiles {
  /** The build-time state of the index stored at `root`. */
  def open(spark: SparkSession, root: String, idCol: String): IndexFiles =
    IndexFiles(root, idCol, root, None, Map.empty, 0L, Tables.read(spark, root))
}
