package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Driver-side parquet reads for the warm serve tiers — the
  * [[graft.tsdb.TickStore.scanRangeLocal]] posture generalized: a cold
  * serve query needs a few thousand rows from a partition-pruned
  * artifact, and a Spark job pays ~100–150 ms of scheduling, codegen
  * and collect machinery for bytes a direct parquet-mr read returns in
  * single-digit ms. Row-group statistics and dictionary pages still
  * prune via parquet's own filter2 stack (`FilterCompat`), so a
  * term/id-filtered read skips non-matching row groups exactly like
  * the pushed-down Spark scan would.
  *
  * Callers of the row readers must treat any exception as "fall back
  * to the Spark path" — these helpers throw rather than guess on
  * unexpected layouts. The footer helpers ([[fileMetaData]],
  * [[schemaFile]]) back [[Tables]]' job-free schema resolution.
  */
object LocalParquet {

  // small shared pool for fanning reader opens across files/partitions:
  // parquet-mr pays ~10-15 ms of footer/filesystem/codec setup PER
  // OPEN, serial opens dominate a multi-cell cold load. Daemon threads
  // (never block JVM exit); bounded so a serve burst cannot fork-bomb.
  private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(
    8,
    (r: Runnable) => {
      val t = new Thread(r, "graft-local-parquet")
      t.setDaemon(true)
      t
    })

  /** Map `f` over `xs` on the shared pool; the first failure rethrows
    * its cause (callers treat any exception as "fall back to Spark").
    */
  def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.size <= 1) return xs.map(f)
    val futs = xs.map(x => pool.submit(
      new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
    futs.map { fut =>
      try fut.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    }
  }

  /** Data files directly under `dir` (no recursion): parquet part
    * files only, meta/hidden files skipped. A plain-file root returns
    * itself (single-file tables); empty or missing dir → empty list.
    */
  def dataFiles(dir: Path, conf: Configuration): Seq[FileStatus] = {
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Seq.empty
    else {
      val st = fs.getFileStatus(dir)
      if (st.isFile) Seq(st)
      else fs.listStatus(dir).toSeq.filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    }
  }

  private final case class CachedFooter(len: Long, mtime: Long, meta: FileMetaData)

  // one entry per qualified file path; a changed length or mtime
  // replaces it. Holds footer METADATA only (schema + key/value
  // metadata, row groups skipped), never data.
  private val footers =
    new java.util.concurrent.ConcurrentHashMap[String, CachedFooter]()

  /** Footer metadata of `file`: its parquet schema and key/value
    * metadata, with row-group metadata skipped. Served from a cache
    * keyed by (qualified path, length, modification time), so a file
    * rewritten in place is re-read on the next call.
    */
  def fileMetaData(file: FileStatus, conf: Configuration): FileMetaData = {
    val key = file.getPath.toString
    val hit = footers.get(key)
    if (hit != null && hit.len == file.getLen &&
        hit.mtime == file.getModificationTime) hit.meta
    else {
      val opts = HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), opts)
      val meta =
        try reader.getFooter.getFileMetaData
        finally reader.close()
      footers.put(key, CachedFooter(file.getLen, file.getModificationTime, meta))
      meta
    }
  }

  /** The file whose footer Spark's non-merging parquet schema
    * inference reads for `root`: the root itself when it is a file;
    * for a directory, over every leaf file Spark would list (recursive,
    * hidden names skipped) sorted by path, the first `_common_metadata`,
    * else the first `_metadata`, else the first data file. None when
    * `root` is missing or holds no such file.
    */
  def schemaFile(root: Path, conf: Configuration): Option[FileStatus] = {
    val fs = root.getFileSystem(conf)
    val st =
      try fs.getFileStatus(root)
      catch { case _: java.io.FileNotFoundException => return None }
    if (st.isFile) Some(st)
    else {
      val leaves = leafFiles(fs, root).sortBy(_.getPath.toString)
      val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      summaries.iterator.flatMap(n => leaves.find(_.getPath.getName == n)).nextOption()
        .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
    }
  }

  // Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName):
  // skip `_x` (unless a `k=v` partition dir) and `.x` names and
  // in-flight `._COPYING_` files, but keep the parquet summary files
  private def listed(name: String): Boolean =
    name.startsWith("_common_metadata") || name.startsWith("_metadata") ||
      !((name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_"))

  private def leafFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter(f => listed(f.getPath.getName)).flatMap { f =>
      if (f.isDirectory) leafFiles(fs, f.getPath) else Seq(f)
    }

  /** Root paths of a DataFrame that is a PLAIN parquet scan (no
    * projection, filter or join above the relation) — the only shape a
    * local read may stand in for. Anything else → None.
    */
  def plainParquetRoots(df: org.apache.spark.sql.DataFrame): Option[Seq[Path]] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if fs.fileFormat.isInstanceOf[
                org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
            Some(fs.location.rootPaths)
          case _ => None
        }
      case _ => None
    }

  /** Stream every (filtered) record of `file` through `f`. */
  def readGroups(file: Path, conf: Configuration,
      filter: Option[FilterPredicate])(f: Group => Unit): Unit = {
    val b = ParquetReader.builder(new GroupReadSupport(), file).withConf(conf)
    val reader = filter.fold(b)(p => b.withFilter(FilterCompat.get(p))).build()
    try {
      var g = reader.read()
      while (g != null) {
        f(g)
        g = reader.read()
      }
    } finally reader.close()
  }

  /** Elements of a Spark-written `array<int>` column (3-level list
    * encoding); a NULL array reads as empty.
    */
  def intArray(g: Group, field: String): Array[Int] = {
    if (g.getFieldRepetitionCount(field) == 0) return Array.empty
    val w = g.getGroup(field, 0)
    val n = w.getFieldRepetitionCount(0)
    val out = new Array[Int](n)
    var i = 0
    while (i < n) { out(i) = w.getGroup(0, i).getInteger(0, 0); i += 1 }
    out
  }

  /** Elements of a Spark-written `array<float>` column. */
  def floatArray(g: Group, field: String): Array[Float] = {
    if (g.getFieldRepetitionCount(field) == 0) return Array.empty
    val w = g.getGroup(field, 0)
    val n = w.getFieldRepetitionCount(0)
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = w.getGroup(0, i).getFloat(0, 0); i += 1 }
    out
  }
}
